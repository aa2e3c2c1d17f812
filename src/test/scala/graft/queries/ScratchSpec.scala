package graft.queries

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** The register's temp-dir and collect-to-local helpers. */
class ScratchSpec extends SparkSpec {

  private def populate(dir: Path): Unit = {
    Files.createDirectories(dir.resolve("a/b"))
    Files.write(dir.resolve("a/b/part-0"), "x".getBytes("UTF-8"))
  }

  test("withTempDir deletes the whole tree after a body that throws") {
    var seen: Path = null
    val e = intercept[IllegalStateException] {
      Scratch.withTempDir("graft_scratch_") { dir =>
        seen = dir
        populate(dir)
        throw new IllegalStateException("write failed")
      }
    }
    e.getMessage shouldBe "write failed"
    assert(seen != null)
    Files.exists(seen) shouldBe false
  }

  test("withTempDir deletes the tree and returns the body's value") {
    var seen: Path = null
    val n = Scratch.withTempDir("graft_scratch_") { dir =>
      seen = dir
      populate(dir)
      Files.walk(dir).count()
    }
    n shouldBe 4L // dir, a, a/b, a/b/part-0
    Files.exists(seen) shouldBe false
  }

  test("collectLocal: one partition, same rows, observer sees them first") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").repartition(3)
    var observed = Seq.empty[Long]
    val local = Scratch.collectLocal(df, rows => observed = rows.map(_.getLong(0)))
    observed.sorted shouldBe Seq(1L, 2L, 3L)
    local.rdd.getNumPartitions shouldBe 1
    local.schema shouldBe df.schema
    local.collect().map(_.getLong(0)).toSeq shouldBe observed
  }
}
