package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Scratch
import EventStreams.{MergeState, mergeBatch, readState}

/** The shared crash contract of every persisted streaming state
  * ([[EventStreams.mergeBatch]]): empty batches never write or advance
  * the replay marker, and a table stranded at `<path>.old` by a crash
  * mid-swap is restored before anything reads it.
  */
class MergeBatchSpec extends SparkSpec {
  import spark.implicits._

  /** One frame carrying every column any state reads. */
  private def rows(ids: Range): DataFrame =
    ids.map { i =>
      (i.toLong, s"g${i % 2}", s"u${i % 7}", (i % 5).toDouble, i % 3 == 0,
        Array.tabulate(3)(j => ((i * (j + 1)) % 11 - 5).toFloat))
    }.toDF("doc_id", "grp", "text", "value", "y", "embedding")

  private val states: Seq[(String, MergeState)] = Seq(
    "Hll" -> MergeState.Hll("text"),
    "BottomK" -> MergeState.BottomK("grp", "text", 4),
    "RankSketch" -> MergeState.RankSketch("grp", "value", 4),
    "Manifest" -> MergeState.Manifest("doc_id", "text", 3),
    "Cms" -> MergeState.Cms("grp", "text", 2, 16),
    "Stats" -> MergeState.Stats("grp", "value"),
    "Confusion" -> MergeState.Confusion("grp", "y", "value", Seq(1.0, 3.0)),
    "DriftCounts" -> MergeState.DriftCounts("grp", "value", Seq(1L, 3L)),
    "Covariance" -> MergeState.Covariance("embedding", "doc_id"),
    "Frontier" -> MergeState.Frontier("text",
      graft.ext.Bloom.Params(mBits = 1L << 10, k = 3)))

  /** The stored table's rows, binary cells compared by content. */
  private def snapshot(path: String): Seq[String] =
    spark.read.parquet(path).collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }.mkString("|")).sorted

  states.foreach { case (name, state) =>
    test(s"empty batch: $name is skipped, table row-for-row unchanged") {
      Scratch.withTempDir("empty_") { tmp =>
        val path = tmp.toString + "/t"
        mergeBatch(state, rows(0 until 40), path, 0L) shouldBe true
        val before = snapshot(path)
        mergeBatch(state, rows(0 until 0), path, 1L) shouldBe false
        snapshot(path) shouldBe before
        // the marker did not advance: a non-empty batch under the same id
        // still merges
        mergeBatch(state, rows(40 until 60), path, 1L) shouldBe true
      }
    }
  }

  private val stats = MergeState.Stats("grp", "value")
  private def cold(ids: Range): DataFrame = stats.summarize(rows(ids))

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    a.exceptAll(b).count() shouldBe 0L
    b.exceptAll(a).count() shouldBe 0L
  }

  /** The crash window of `Upsert.writeAtomic`: the table moved aside to
    * `<path>.old`, the new one not yet in place.
    */
  private def strand(path: String): Unit = {
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    assert(!new java.io.File(path).exists())
  }

  test("crash recovery: mergeBatch restores a table stranded at .old and merges into it") {
    Scratch.withTempDir("recover_") { tmp =>
      val path = tmp.toString + "/t"
      mergeBatch(stats, rows(0 until 30), path, 0L) shouldBe true
      mergeBatch(stats, rows(30 until 50), path, 1L) shouldBe true
      strand(path)
      mergeBatch(stats, rows(50 until 80), path, 2L) shouldBe true
      new java.io.File(path + ".old").exists() shouldBe false
      // no accumulated state lost: the table is the cold build of all
      // three batches, and the restored marker still refuses a replay
      sameRows(readState(spark, path), cold(0 until 80))
      mergeBatch(stats, rows(50 until 80), path, 2L) shouldBe false
      sameRows(readState(spark, path), cold(0 until 80))
    }
  }

  test("crash recovery: readState alone restores a table stranded at .old") {
    Scratch.withTempDir("recover_") { tmp =>
      val path = tmp.toString + "/t"
      mergeBatch(stats, rows(0 until 30), path, 0L) shouldBe true
      mergeBatch(stats, rows(30 until 50), path, 1L) shouldBe true
      strand(path)
      sameRows(readState(spark, path), cold(0 until 50))
      new java.io.File(path).exists() shouldBe true
      new java.io.File(path + ".old").exists() shouldBe false
      readState(spark, path).columns should not contain "batch_id"
    }
  }
}
