package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TestSpark}
import graft.queries.Scratch

/** Partitioned storage layout (SURVEY §4): hive-style partition columns
  * must prune at the scan — at 100 TB a predicate on the partition key
  * reads 1/N of the files, and that has to be visible in the plan, not
  * assumed.
  */
class StorageLayoutSpec extends SparkSpec {

  test("partitionBy layout prunes partitions for a key predicate") {
    Scratch.withTempDir("layout") { tmp =>
      val dir = tmp.toString
      Tables.lineitem(spark, TestSpark.Sf0001)
        .write.partitionBy("l_returnflag").parquet(s"$dir/li")
      val read = spark.read.parquet(s"$dir/li").filter(col("l_returnflag") === "R")
      val scan = read.queryExecution.executedPlan.toString
      scan should include("PartitionFilters")
      scan should include("l_returnflag")
      // counts agree with the unpartitioned source
      val want = Tables.lineitem(spark, TestSpark.Sf0001)
        .filter(col("l_returnflag") === "R").count()
      read.count() shouldBe want
      // only the matching partition directory is listed in the scan's files
      val dirs = new java.io.File(s"$dir/li").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("l_returnflag="))
      dirs.length should be > 1 // layout actually partitioned
    }
  }

  test("zValue matches a bit-by-bit reference interleave (property)") {
    val rnd = new scala.util.Random(3)
    val pts = (0 until 200).map(_ =>
      (rnd.nextInt(Int.MaxValue).toLong, rnd.nextInt(Int.MaxValue).toLong))
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 32)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z
    }
    import spark.implicits._
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), StorageLayout.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) => got((x, y)) shouldBe ref(x, y) }
  }

  test("zValueSql twin agrees with the column form") {
    import spark.implicits._
    // The SQL text is DuckDB-dialect but uses only operators Spark parses
    // identically (|, &, <<, CAST) — evaluate it via expr() as a cheap
    // cross-check that both formulations are the same function.
    val df = Seq((5L, 9L), (0L, 0L), (123456L, 654321L)).toDF("x", "y")
    val both = df.select(
      StorageLayout.zValue(col("x"), col("y")).as("a"),
      expr(StorageLayout.zValueSql("x", "y")).as("b"))
      .collect()
    both.foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  test("zorderWrite yields tighter per-file x/y bounds than arrival order") {
    val li = Tables.lineitem(spark, TestSpark.Sf0001)
      .select(col("l_partkey"), col("l_suppkey"))
    def totalArea(dir: String): Double =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val st = spark.read.parquet(f.getAbsolutePath)
            .agg(min("l_partkey"), max("l_partkey"),
              min("l_suppkey"), max("l_suppkey")).head()
          (st.getLong(1) - st.getLong(0) + 1).toDouble *
            (st.getLong(3) - st.getLong(2) + 1).toDouble
        }.sum
    Scratch.withTempDir("zorder") { tmp =>
      val base = tmp.toString
      li.repartition(8).write.parquet(s"$base/plain")
      StorageLayout.zorderWrite(li, "l_partkey", "l_suppkey", s"$base/z", 8)
      val plainArea = totalArea(s"$base/plain")
      val zArea = totalArea(s"$base/z")
      // Row-order files each span ~the whole key plane; z-clustered files
      // cover disjoint-ish quadrants. Demand at least a 2× win (observed
      // far larger) so the assertion survives sampling noise.
      zArea should be < plainArea / 2.0
      // and the clustered write still round-trips every row
      spark.read.parquet(s"$base/z").count() shouldBe li.count()
    }
  }

  test("rendezvousShard: balanced-ish, and resharding moves only winners") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    val out = ids.select(col("id"),
      StorageLayout.rendezvousShard(col("id"), 8).as("s8"),
      StorageLayout.rendezvousShard(col("id"), 9).as("s9"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // every shard id in range and populated
    out.map(_._1).toSet shouldBe (0L until 8L).toSet
    out.map(_._2).toSet shouldBe (0L until 9L).toSet
    // minimal movement: expected 1/9 ≈ 222 of 2000; allow 2× slack
    val moved = out.count { case (a, b) => a != b }
    moved should be > 0
    moved should be < 445
    // the rendezvous property: a row that moves moves TO the new shard
    out.filter { case (a, b) => a != b }.foreach { case (_, b) =>
      b shouldBe 8L
    }
    an[IllegalArgumentException] should be thrownBy
      StorageLayout.rendezvousShard(col("id"), 0)
  }

  test("repartition by write key bounds file count per partition") {
    Scratch.withTempDir("layout2") { tmp =>
      val dir = tmp.toString
      Tables.lineitem(spark, TestSpark.Sf0001)
        .repartition(col("l_returnflag"))
        .write.partitionBy("l_returnflag").parquet(s"$dir/li")
      // one task per key → one file per partition dir (plus markers)
      val parts = new java.io.File(s"$dir/li").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("l_returnflag="))
      parts.foreach { p =>
        p.listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
      }
    }
  }

  test("hilbertValue: exhaustive unit-step adjacency at order 3; codegen ≡ reference") {
    import spark.implicits._
    val cells = (for (x <- 0 until 8; y <- 0 until 8) yield (x.toLong, y.toLong))
      .toDF("x", "y")
      .withColumn("h", StorageLayout.hilbertValue(col("x"), col("y"), order = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // bijection onto 0..63
    cells.map(_._3).sorted.toSeq shouldBe (0L until 64L)
    // THE Hilbert property: consecutive indices are Manhattan-adjacent —
    // the guarantee Z-order lacks (its power-of-two boundary jumps)
    val byH = cells.sortBy(_._3)
    byH.sliding(2).foreach { case Array((x1, y1, _), (x2, y2, _)) =>
      (math.abs(x1 - x2) + math.abs(y1 - y2)) shouldBe 1L
    }
    // the DataFrame path above ran generated code; pin it against an
    // independent driver-side reference of the public d2xy walk
    def ref(x0: Long, y0: Long, order: Int): Long = {
      var x = x0; var y = y0; var d = 0L; var s = 1L << (order - 1)
      while (s > 0) {
        val rx = if ((x & s) != 0) 1L else 0L
        val ry = if ((y & s) != 0) 1L else 0L
        d += s * s * ((3L * rx) ^ ry)
        if (ry == 0L) {
          if (rx == 1L) { x = s - 1L - x; y = s - 1L - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    cells.foreach { case (x, y, h) => h shouldBe ref(x, y, 3) }
    // and z-order really does take a long jump where Hilbert does not
    val z = (for (x <- 0 until 8; y <- 0 until 8) yield (x, y))
      .toDF("x", "y")
      .withColumn("z", StorageLayout.zValue(col("x"), col("y")))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._3)
    val maxZStep = z.sliding(2).map { case Array((x1, y1, _), (x2, y2, _)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }.max
    maxZStep should be > 1
  }
}
