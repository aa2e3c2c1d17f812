package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.queries.Scratch

/** S8: the streaming file source over a landing directory — new files are
  * discovered and flow through the same windowed transform as batch.
  */
class FileStreamSpec extends SparkSpec {

  test("readJsonStream ingests landed JSON files incrementally") {
    Scratch.withTempDir("evstream") { tmp =>
      val dir = tmp.toString
      def land(name: String, lines: Seq[String]): Unit =
        Files.write(Paths.get(dir, name),
          String.join("\n", lines: _*).getBytes("UTF-8"))

      land("batch0.json", Seq(
        """{"event_id":1,"user_id":1,"event_type":"click","ts":"2024-01-01T00:05:00Z","value":1.0,"props":"{}"}""",
        """{"event_id":2,"user_id":2,"event_type":"view","ts":"2024-01-01T00:10:00Z","value":2.0,"props":"{}"}"""))

      val stream = EventStreams.readJsonStream(spark, dir, maxFilesPerTrigger = 1)
      val q = EventStreams.windowedCounts(stream)
        .writeStream.format("memory").queryName("filestream_t")
        .outputMode("complete").start()
      q.processAllAvailable()

      // a second file lands while the query runs → picked up incrementally
      land("batch1.json", Seq(
        """{"event_id":3,"user_id":1,"event_type":"click","ts":"2024-01-01T00:20:00Z","value":3.0,"props":"{}"}"""))
      q.processAllAvailable()
      q.stop()

      val out = spark.table("filestream_t").collect()
        .map(r => (r.getString(1), r.getLong(2))).toMap
      out shouldBe Map("click" -> 2L, "view" -> 1L)
    }
  }
}
