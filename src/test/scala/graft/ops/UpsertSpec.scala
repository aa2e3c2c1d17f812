package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Scratch

/** S4/J1 — ON CONFLICT DO UPDATE semantics (update_ways_metadata.py:50-54)
  * as a join-based upsert.
  */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
  ).toDF("k", "name", "v")

  test("update wins on conflict; inserts appear; untouched rows survive") {
    val updates = Seq((2L, 99.0), (4L, 40.0)).toDF("k", "v")
    val out = Upsert.upsert(base, updates, "k").orderBy("k").collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L, 4L)
    out.map(_.getDouble(2)).toSeq shouldBe Seq(10.0, 99.0, 30.0, 40.0)
    // non-updated column carried from base; null for pure inserts
    out(1).getString(1) shouldBe "b"
    assert(out(3).isNullAt(1))
  }

  test("new columns from updates are appended (per-pass metric columns)") {
    val updates = Seq((1L, 0.5), (2L, 0.7)).toDF("k", "greenery")
    val out = Upsert.upsert(base, updates, "k")
    out.columns.toSeq shouldBe Seq("k", "name", "v", "greenery")
    val m = out.orderBy("k").collect()
    m(0).getDouble(3) shouldBe 0.5
    assert(m(2).isNullAt(3))
  }

  test("idempotence: applying the same update twice equals once") {
    val updates = Seq((2L, 99.0), (4L, 40.0)).toDF("k", "v")
    val once = Upsert.upsert(base, updates, "k")
    val twice = Upsert.upsert(once, updates, "k")
    once.orderBy("k").collect().toSeq shouldBe twice.orderBy("k").collect().toSeq
  }

  test("upsert on 100 generated keys preserves key-set union exactly") {
    val b = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("v"))
    val u = spark.range(50, 150).select(col("id").as("k"), lit(-1L).as("v"))
    val out = Upsert.upsert(b, u, "k")
    out.count() shouldBe 150
    out.filter(col("k") >= 50 && col("v") =!= -1L).count() shouldBe 0
    out.filter(col("k") < 50 && col("v") =!= col("k") * 2).count() shouldBe 0
  }

  test("writeAtomic: target readable and replaced atomically") {
    Scratch.withTempDir("upsert") { tmp =>
      val dir = tmp.toString
      val path = s"$dir/t"
      Upsert.writeAtomic(base, path)
      spark.read.parquet(path).count() shouldBe 3
      Upsert.writeAtomic(base.filter($"k" =!= 1L), path)
      spark.read.parquet(path).count() shouldBe 2
      assert(!new java.io.File(path + ".staging").exists())
    }
  }

  test("recover: crash between the two renames restores the table from .old") {
    Scratch.withTempDir("upsert2") { tmp =>
      val dir = tmp.toString
      val path = s"$dir/t"
      Upsert.writeAtomic(base, path)
      // Simulate a writer that crashed AFTER moving the live table aside but
      // BEFORE installing the staging dir: the only copy is <path>.old.
      assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
      assert(Upsert.recover(spark, path))
      spark.read.parquet(path).count() shouldBe 3 // state not lost
      assert(!new java.io.File(path + ".old").exists())
      assert(!Upsert.recover(spark, path)) // idempotent no-op when healthy
    }
  }

  test("writeAtomic after a crashed swap keeps .old's data visible, not lost") {
    Scratch.withTempDir("upsert3") { tmp =>
      val dir = tmp.toString
      val path = s"$dir/t"
      Upsert.writeAtomic(base, path)
      assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
      // Next writeAtomic restores .old first (never deletes the sole copy),
      // then swaps the new table in over it.
      Upsert.writeAtomic(base.filter($"k" =!= 1L), path)
      spark.read.parquet(path).count() shouldBe 2
      assert(!new java.io.File(path + ".old").exists())
      assert(!new java.io.File(path + ".staging").exists())
    }
  }

  test("writeAtomic: .old debris alongside a live target is cleared") {
    Scratch.withTempDir("upsert4") { tmp =>
      val dir = tmp.toString
      val path = s"$dir/t"
      Upsert.writeAtomic(base, path)
      // Debris from a crash after a COMPLETED swap: target exists, .old too.
      val stale = new java.io.File(path + ".old")
      stale.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path + ".old", "junk"), "stale")
      Upsert.writeAtomic(base.filter($"k" =!= 1L), path)
      spark.read.parquet(path).count() shouldBe 2
      assert(!stale.exists())
      assert(!new java.io.File(path + ".staging").exists())
    }
  }
}
