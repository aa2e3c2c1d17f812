package graft.ops

import graft.SparkSpec
import graft.ext.Warc
import graft.ext.Warc.WarcRecord
import graft.queries.Scratch

/** File-based WARC ingestion: real `.warc` / `.warc.gz` shards on disk
  * read back through `binaryFile` + the per-partition parser, and the
  * WET conversion-record view. (The in-memory codec contracts live in
  * `WarcSpec`; the oracle-hash proof in q236–q238.)
  */
class WarcCorpusSpec extends SparkSpec {

  private def conv(id: Int, text: String): WarcRecord =
    WarcRecord(Seq(
      "WARC-Type" -> "conversion",
      "WARC-Record-ID" -> s"<urn:graft:$id>",
      "WARC-Target-URI" -> s"http://graft.test/$id",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "Content-Type" -> "text/plain"), text.getBytes("UTF-8"))

  private val infoRec = WarcRecord(Seq(
    "WARC-Type" -> "warcinfo",
    "WARC-Date" -> "2026-01-01T00:00:00Z"),
    "software: graft\r\n".getBytes("US-ASCII"))

  private def shard(ids: Range): Seq[WarcRecord] =
    infoRec +: ids.map(i => conv(i, s"document $i body text")).toSeq

  test("readWarc: multi-shard .warc.gz directory round-trips") {
    Scratch.withTempDir("warc-corpus") { dir =>
      java.nio.file.Files.write(dir.resolve("shard-0.warc.gz"),
        Warc.writeWarcGz(shard(0 until 7)))
      java.nio.file.Files.write(dir.resolve("shard-1.warc.gz"),
        Warc.writeWarcGz(shard(7 until 12)))
      val rows = WarcCorpus.readWarc(spark, s"$dir/*.warc.gz", gz = true)
      rows.count() shouldBe 14 // 12 conversion + 2 warcinfo
      val wet = WarcCorpus.wetDocuments(rows).collect()
      wet.length shouldBe 12
      wet.map(_.getString(0)).sorted shouldBe
        (0 until 12).map(i => s"http://graft.test/$i").sorted
      wet.find(_.getString(0).endsWith("/3")).get.getString(2) shouldBe
        "document 3 body text"
    }
  }

  test("readWarc: uncompressed shards and rec_idx ordering") {
    Scratch.withTempDir("warc-plain") { dir =>
      java.nio.file.Files.write(dir.resolve("s.warc"),
        Warc.writeWarc(shard(0 until 3)))
      val rows = WarcCorpus.readWarc(spark, s"$dir/*.warc", gz = false).collect()
      rows.length shouldBe 4
      rows.sortBy(_.rec_idx).map(_.headers("warc-type")) shouldBe
        Seq("warcinfo", "conversion", "conversion", "conversion")
    }
  }

  test("readWarc: a corrupt shard fails the job loudly, never silently drops") {
    Scratch.withTempDir("warc-bad") { dir =>
      val good = Warc.writeWarcGz(shard(0 until 2))
      java.nio.file.Files.write(dir.resolve("bad.warc.gz"), good.dropRight(4))
      an[org.apache.spark.SparkException] should be thrownBy
        WarcCorpus.readWarc(spark, s"$dir/*.warc.gz", gz = true).count()
    }
  }
  test("writeWet -> readWarc round-trips the corpus across shards") {
    import spark.implicits._
    val docs = (0L until 37L).map(i =>
      (s"http://graft.test/$i", "", s"doc $i body with several words"))
      .toDF("url", "date", "text")
    Scratch.withTempDir("wet-out") { dir =>
      WarcCorpus.writeWet(docs, s"$dir/wet", shards = 4)
      val files = new java.io.File(s"$dir/wet").listFiles()
        .filter(_.getName.endsWith(".warc.gz"))
      files.length shouldBe 4
      val back = WarcCorpus.wetDocuments(
        WarcCorpus.readWarc(spark, s"$dir/wet/*.warc.gz", gz = true))
      back.count() shouldBe 37L
      val got = back.collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      got("http://graft.test/5") shouldBe "doc 5 body with several words"
      // warcinfo per shard is bookkeeping, not corpus
      WarcCorpus.readWarc(spark, s"$dir/wet/*.warc.gz", gz = true)
        .count() shouldBe 41L // 37 conversion + 4 warcinfo
    }
  }

  test("writeWet commit protocol: manifest written, incomplete dirs refused") {
    import spark.implicits._
    val docs = (0L until 9L).map(i =>
      (s"http://graft.test/$i", "", s"doc $i")).toDF("url", "date", "text")
    Scratch.withTempDir("wet-commit") { dir =>
      val out = s"$dir/wet"
      WarcCorpus.writeWet(docs, out, shards = 2)
      // Job commit: _SUCCESS lists every shard, no temp files remain.
      val names = new java.io.File(out).listFiles().map(_.getName).toSet
      names should contain(WarcCorpus.SuccessMarker)
      names.count(_.startsWith("_tmp-part-")) shouldBe 0
      val listed = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, WarcCorpus.SuccessMarker)), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSet
      listed shouldBe Set("part-00000.warc.gz", "part-00001.warc.gz")
      // A leftover temp shard (interrupted write) is refused loudly.
      val tmp = java.nio.file.Paths.get(out, "_tmp-part-00001-42.warc.gz")
      java.nio.file.Files.write(tmp, Array[Byte](1, 2, 3))
      an[IllegalArgumentException] should be thrownBy
        WarcCorpus.readWarc(spark, s"$out/*.warc.gz", gz = true).count()
      java.nio.file.Files.delete(tmp)
      // A manifest-listed shard gone missing is refused loudly.
      java.nio.file.Files.delete(java.nio.file.Paths.get(out, "part-00001.warc.gz"))
      an[IllegalArgumentException] should be thrownBy
        WarcCorpus.readWarc(spark, s"$out/*.warc.gz", gz = true).count()
    }
  }
}
