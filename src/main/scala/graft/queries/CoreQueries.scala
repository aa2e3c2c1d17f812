package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, MapType, StringType}

import graft.Tables
import graft.geo.Mercator
import graft.ops.{RangeJoin, Upsert}

/** Core oracle query set — SURVEY.md §2.12 Q1–Q17 + Q24, re-expressed over
  * the synthetic star schema. Each query exercises one [R]/[D] semantic from
  * the reference (file:line cites inline) plus the general surface.
  *
  * Determinism rules used throughout (so the DuckDB twin hash-matches):
  *   - double aggregates whose summation order varies are cast through
  *     DECIMAL (exact) or rounded to 6 dp on BOTH sides;
  *   - every ranking has a total-order tiebreak;
  *   - timestamps leave the result as DATE or epoch-µs BIGINT (driver-side
  *     timestamp canonicalization is unspecified).
  */
object CoreQueries {

  private def sumDecimal(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Q1 (A1): grouped exact median — `np.median` per way,
    * update_ways_metadata.py:27-29. Spark `percentile` interpolates at even
    * counts exactly like np.median / DuckDB `median`.
    */
  val q01 = OracleQuery(
    "q01_median_per_group",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(percentile(col("l_extendedprice"), lit(0.5)).as("med_price")),
    Some("""SELECT l_orderkey, median(l_extendedprice) AS med_price
            FROM lineitem GROUP BY l_orderkey"""),
  )

  /** Q2 (A2/A3/J5): normalize by global max — the reference's two-pass
    * `v /= max_observed` (update_ways_metadata.py:30-33) as a broadcast join
    * of the 1-row global aggregate (no driver-side state).
    */
  val q02 = OracleQuery(
    "q02_global_max_normalize",
    (s, d) => {
      val med = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(percentile(col("l_extendedprice"), lit(0.5)).as("med"))
      val mx = med.agg(max(col("med")).as("mx"))
      med.crossJoin(broadcast(mx))
        .select(col("l_orderkey"), (col("med") / col("mx")).as("norm_price"))
    },
    Some("""WITH m AS (SELECT l_orderkey, median(l_extendedprice) AS med
                       FROM lineitem GROUP BY l_orderkey)
            SELECT l_orderkey, med / (SELECT max(med) FROM m) AS norm_price
            FROM m"""),
  )

  /** Q3 (S4/J1): join-based upsert — ON CONFLICT DO UPDATE semantics
    * (update_ways_metadata.py:50-54) with both updated and inserted keys.
    */
  val q03 = OracleQuery(
    "q03_upsert",
    (s, d) => {
      val base = Tables.supplier(s, d)
      val updates = base
        .filter(col("s_suppkey") % 3 === 0)
        .select(
          (col("s_suppkey") +
            when(col("s_suppkey") % 5 === 0, 100000L).otherwise(0L)).as("s_suppkey"),
          (col("s_acctbal") + lit(100.0)).as("s_acctbal"))
      Upsert.upsert(base, updates, "s_suppkey")
    },
    Some("""WITH u AS (
              SELECT s_suppkey + CASE WHEN s_suppkey % 5 = 0 THEN 100000 ELSE 0 END AS s_suppkey,
                     s_acctbal + 100.0 AS s_acctbal
              FROM supplier WHERE s_suppkey % 3 = 0)
            SELECT COALESCE(u.s_suppkey, b.s_suppkey) AS s_suppkey,
                   b.s_name AS s_name,
                   b.s_nationkey AS s_nationkey,
                   COALESCE(u.s_acctbal, b.s_acctbal) AS s_acctbal
            FROM supplier b FULL OUTER JOIN u ON b.s_suppkey = u.s_suppkey"""),
  )

  /** Q4 (J2/A5/O1): ordered reassembly — way geometry rebuilt in nd-ref
    * order (update_ways_metadata.py:27-28): collect + sort by position.
    * Stringified so the hash compare avoids array-typing ambiguity.
    */
  val q04 = OracleQuery(
    "q04_ordered_reassembly",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(
          concat_ws(",",
            transform(
              array_sort(collect_list(struct(col("l_linenumber"), col("l_partkey")))),
              x => x.getField("l_partkey").cast("string"))).as("parts")),
    Some("""SELECT l_orderkey,
                   string_agg(l_partkey::VARCHAR, ',' ORDER BY l_linenumber, l_partkey) AS parts
            FROM lineitem GROUP BY l_orderkey"""),
  )

  /** Q5 (J3/F5/W1): distance-bounded nearest neighbor — POI→edge snap
    * (README.md:48-54) re-keyed to acctbal distance; rank-1 per customer
    * with a total-order tiebreak. Planned as a cell-bucketed equi-join
    * (RangeJoin.banded), never a nested-loop band join.
    */
  val q05 = OracleQuery(
    "q05_nearest_within",
    (s, d) => {
      val diff = abs(col("c_acctbal") - col("s_acctbal"))
      val j = RangeJoin.banded(
        Tables.customer(s, d), Tables.supplier(s, d),
        "c_acctbal", "s_acctbal", 50.0)
      val w = Window.partitionBy("c_custkey").orderBy(diff, col("s_suppkey"))
      j.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_custkey"), col("s_suppkey"), round(diff, 6).as("diff"))
    },
    Some("""SELECT c_custkey, s_suppkey, diff FROM (
              SELECT c_custkey, s_suppkey,
                     round(abs(c_acctbal - s_acctbal), 6) AS diff,
                     row_number() OVER (PARTITION BY c_custkey
                                        ORDER BY abs(c_acctbal - s_acctbal), s_suppkey) AS rn
              FROM customer, supplier
              WHERE abs(c_acctbal - s_acctbal) <= 50.0) WHERE rn = 1"""),
  )

  /** Q6 (T10/F2/T8): JSON props → typed map, key filter — the hstore
    * escape-hatch semantics (README.md:25-31).
    */
  val q06 = OracleQuery(
    "q06_map_ops",
    (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          try_element_at(
            from_json(col("props"), MapType(StringType, LongType)), lit("k")).as("k_val"))
        .filter(col("k_val").isNotNull && col("k_val") > 50),
    Some("""SELECT event_id, CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k_val
            FROM events
            WHERE CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) > 50"""),
  )

  /** Q7 (T1/T2): Web-Mercator + XYZ tile math on a synthetic lng/lat grid —
    * exact formula parity with dataproviders.py:25-56 incl. the float-mod-
    * before-floor order and the 0.9999 clamp (not reached on this grid;
    * clamp is unit-tested).
    */
  val q07 = OracleQuery(
    "q07_mercator_xyz",
    (s, d) => {
      val pts = Tables.part(s, d).select(
        col("p_partkey"),
        ((col("p_partkey") % 360).cast("double") - 179.75).as("lng"),
        ((col("p_partkey") % 170).cast("double") - 84.75).as("lat"))
      val z = lit(12)
      pts.select(
        col("p_partkey"),
        Mercator.tileIdx(Mercator.worldX(col("lng")), z).as("tx"),
        Mercator.tileIdx(Mercator.worldY(col("lat")), z).as("ty"),
        Mercator.pixelIdx(Mercator.worldX(col("lng")), z).as("px"),
        Mercator.pixelIdx(Mercator.worldY(col("lat")), z).as("py"),
        round(Mercator.worldX(col("lng")), 6).as("wxr"),
        round(Mercator.worldY(col("lat")), 6).as("wyr"))
    },
    Some("""WITH pts AS (
              SELECT p_partkey,
                     CAST(p_partkey % 360 AS DOUBLE) - 179.75 AS lng,
                     CAST(p_partkey % 170 AS DOUBLE) - 84.75 AS lat
              FROM part),
            w AS (
              SELECT p_partkey,
                     256.0 * (0.5 + lng / 360.0) AS wx,
                     256.0 * (0.5 - ln((1.0 + g) / (1.0 - g)) / (4.0 * pi())) AS wy
              FROM (SELECT *, least(greatest(sin(lat * pi() / 180.0), -0.9999), 0.9999) AS g
                    FROM pts))
            SELECT p_partkey,
                   CAST(floor(wx * 4096.0 / 256.0) AS BIGINT) AS tx,
                   CAST(floor(wy * 4096.0 / 256.0) AS BIGINT) AS ty,
                   CAST(floor(fmod(wx * 4096.0, 256.0)) AS BIGINT) AS px,
                   CAST(floor(fmod(wy * 4096.0, 256.0)) AS BIGINT) AS py,
                   round(wx, 6) AS wxr, round(wy, 6) AS wyr
            FROM w"""),
  )

  /** Q8 (F3): closed-way predicate — first nd == last nd && length ≥ 4
    * (README.md:35,37), via order-statistics instead of array equality.
    * `l_linenumber` is NOT unique within an order in this data, so the
    * "first/last" pick is made total by lexicographic (linenumber, suppkey)
    * struct min/max on both engines.
    */
  val q08 = OracleQuery(
    "q08_closed_way",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("n"),
          min(struct(col("l_linenumber"), col("l_suppkey")))
            .getField("l_suppkey").as("first_supp"),
          max(struct(col("l_linenumber"), col("l_suppkey")))
            .getField("l_suppkey").as("last_supp"))
        .filter(col("first_supp") === col("last_supp") && col("n") >= 4)
        .select(col("l_orderkey"), col("n"), col("first_supp")),
    Some("""SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
                   min(struct_pack(ln := l_linenumber, sk := l_suppkey)).sk AS first_supp
            FROM lineitem GROUP BY l_orderkey
            HAVING min(struct_pack(ln := l_linenumber, sk := l_suppkey)).sk
                 = max(struct_pack(ln := l_linenumber, sk := l_suppkey)).sk
               AND count(*) >= 4"""),
  )

  /** Q9 (T4/T7/A1): the full raster-sampling pipeline shape on a
    * deterministic procedural tile — project (T1), address (T2), sample
    * (T4-analog value = f(tile, pixel)), median per group (A1). Mirrors
    * §3.1's DAG with the tile function inlined so DuckDB can twin it.
    */
  val q09 = OracleQuery(
    "q09_raster_pipeline",
    (s, d) => {
      val pts = Tables.customer(s, d).select(
        col("c_custkey"), col("c_nationkey"),
        ((col("c_custkey") % 347).cast("double") * 1.0371 - 179.9).as("lng"),
        ((col("c_custkey") % 161).cast("double") * 1.0133 - 80.9).as("lat"))
      val z = lit(8)
      val keyed = pts.select(
        col("c_nationkey"),
        Mercator.tileIdx(Mercator.worldX(col("lng")), z).as("tx"),
        Mercator.tileIdx(Mercator.worldY(col("lat")), z).as("ty"),
        Mercator.pixelIdx(Mercator.worldX(col("lng")), z).as("px"),
        Mercator.pixelIdx(Mercator.worldY(col("lat")), z).as("py"))
      keyed
        .withColumn("v",
          pmod(((col("tx") * 31 + col("ty")) * 31 + col("px")) * 31 + col("py"), lit(256L))
            .cast("double") / 255.0)
        .groupBy("c_nationkey")
        .agg(percentile(col("v"), lit(0.5)).as("med_v"), count(lit(1)).as("n"))
    },
    Some("""WITH pts AS (
              SELECT c_custkey, c_nationkey,
                     CAST(c_custkey % 347 AS DOUBLE) * 1.0371 - 179.9 AS lng,
                     CAST(c_custkey % 161 AS DOUBLE) * 1.0133 - 80.9 AS lat
              FROM customer),
            w AS (
              SELECT c_nationkey,
                     256.0 * (0.5 + lng / 360.0) AS wx,
                     256.0 * (0.5 - ln((1.0 + g) / (1.0 - g)) / (4.0 * pi())) AS wy
              FROM (SELECT *, least(greatest(sin(lat * pi() / 180.0), -0.9999), 0.9999) AS g
                    FROM pts)),
            k AS (
              SELECT c_nationkey,
                     CAST(floor(wx * 256.0 / 256.0) AS BIGINT) AS tx,
                     CAST(floor(wy * 256.0 / 256.0) AS BIGINT) AS ty,
                     CAST(floor(fmod(wx * 256.0, 256.0)) AS BIGINT) AS px,
                     CAST(floor(fmod(wy * 256.0, 256.0)) AS BIGINT) AS py
              FROM w)
            SELECT c_nationkey,
                   median(CAST((((tx * 31 + ty) * 31 + px) * 31 + py) % 256 AS DOUBLE) / 255.0) AS med_v,
                   CAST(count(*) AS BIGINT) AS n
            FROM k GROUP BY c_nationkey"""),
  )

  /** Q107 (S3/T4/T7/A1-A3, round 5): the raster pipeline through REAL
    * image bytes — the query writes 16 actual PNGs (z=2 tile grid, gray
    * pixel = the q09 formula `((tx·31+ty)·31+px)·31+py mod 256`), decodes
    * them back through the ImageIO [[graft.raster.FileTileStore]], and
    * runs the full §3.1 median-normalize pass over them. The oracle
    * recomputes the same formula arithmetically — so a hash match proves
    * the PNG encode → ImageIO decode → L-conversion → sample → median →
    * normalize chain is LOSSLESS end-to-end (gray (v,v,v) luma-converts
    * to exactly v). The q92 temp-dir discipline: materialize the tiny
    * result, delete the tiles, return a local relation.
    */
  val q107 = OracleQuery(
    "q107_imageio_raster",
    (s, d) => Scratch.withTempDir("graft_png_") { dir =>
      for (x <- 0 until 4; y <- 0 until 4) {
        val img = new java.awt.image.BufferedImage(
          256, 256, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var py = 0
        while (py < 256) {
          var px = 0
          while (px < 256) {
            val v = java.lang.Math.floorMod(
              ((x * 31 + y) * 31 + px) * 31 + py, 256)
            img.setRGB(px, py, (v << 16) | (v << 8) | v)
            px += 1
          }
          py += 1
        }
        val f = dir.resolve(s"2/$x/$y.png")
        java.nio.file.Files.createDirectories(f.getParent)
        javax.imageio.ImageIO.write(img, "png", f.toFile)
      }
      val store = new graft.raster.FileTileStore(dir.toString, mode = "L")
      val coords = Tables.customer(s, d).select(
        col("c_nationkey").cast("long").as("gid"),
        ((col("c_custkey") % 347).cast("double") * 1.0371 - 179.9).as("lng"),
        ((col("c_custkey") % 161).cast("double") * 1.0133 - 80.9).as("lat"))
      Scratch.collectLocal(graft.raster.RasterSampler
        .medianPass(coords, store, 2, graft.raster.ValueFns.strava, "vn")
        .select(col("gid"), round(col("vn"), 6).as("v_norm")))
    },
    Some("""WITH pts AS (
              SELECT CAST(c_nationkey AS BIGINT) AS gid,
                     CAST(c_custkey % 347 AS DOUBLE) * 1.0371 - 179.9 AS lng,
                     CAST(c_custkey % 161 AS DOUBLE) * 1.0133 - 80.9 AS lat
              FROM customer),
            w AS (
              SELECT gid,
                     256.0 * (0.5 + lng / 360.0) AS wx,
                     256.0 * (0.5 - ln((1.0 + g) / (1.0 - g)) / (4.0 * pi())) AS wy
              FROM (SELECT *, least(greatest(sin(lat * pi() / 180.0), -0.9999), 0.9999) AS g
                    FROM pts)),
            k AS (
              SELECT gid,
                     CAST(floor(wx * 4.0 / 256.0) AS BIGINT) AS tx,
                     CAST(floor(wy * 4.0 / 256.0) AS BIGINT) AS ty,
                     CAST(floor(fmod(wx * 4.0, 256.0)) AS BIGINT) AS px,
                     CAST(floor(fmod(wy * 4.0, 256.0)) AS BIGINT) AS py
              FROM w),
            med AS (
              SELECT gid,
                     median(CAST((((tx * 31 + ty) * 31 + px) * 31 + py) % 256 AS DOUBLE) / 255.0) AS med_v
              FROM k GROUP BY gid),
            mx AS (SELECT max(med_v) AS mx FROM med)
            SELECT gid,
                   round(CASE WHEN mx > 0 THEN med_v / mx ELSE med_v END, 6) AS v_norm
            FROM med, mx"""),
  )

  /** Q10 (J7): 3-way join + filtered grouped revenue (TPC-H Q3 shape).
    * Revenue terms pass through DECIMAL(18,4) so summation is exact and
    * order-independent on both engines.
    */
  val q10 = OracleQuery(
    "q10_join3_revenue",
    (s, d) => {
      val cutoff = lit("1998-01-01").cast("timestamp")
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < cutoff)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > cutoff)
        .groupBy("l_orderkey")
        .agg(
          sumDecimal(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
    },
    Some("""SELECT l_orderkey,
                   CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey"""),
  )

  /** Q10b (J7): semi/anti join surface. */
  val q10b = OracleQuery(
    "q10b_semi_anti",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o.filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .join(o.filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')"""),
  )

  /** Q11 (A6): rollup + count distinct; NULL group labels coalesced so the
    * grouping-set encoding never reaches the hash compare.
    */
  val q11 = OracleQuery(
    "q11_rollup_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumDecimal(col("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"),
          countDistinct(col("l_suppkey")).as("n_supp"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"), col("n_supp")),
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                   COALESCE(l_linestatus, 'ALL') AS ls,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),
  )

  /** Q11b (A6): cube + explicit grouping sets (the rest of the grouped-agg
    * surface next to q11's rollup). Spark 4's `groupingSets` API; grouping
    * level disambiguated via `grouping()` so the (NULL-label vs real-NULL)
    * encoding never reaches the hash compare.
    */
  val q11b = OracleQuery(
    "q11b_cube_groupingsets",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val cubed = li
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sumDecimal(col("l_quantity"), 2).as("sum_qty"))
        .select(
          lit("cube").as("src"),
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"))
      val sets = li
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sumDecimal(col("l_quantity"), 2).as("sum_qty"))
        .select(
          lit("gsets").as("src"),
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"))
      cubed.unionByName(sets)
    },
    Some("""SELECT 'cube' AS src,
                   COALESCE(l_returnflag, 'ALL') AS rf,
                   COALESCE(l_linestatus, 'ALL') AS ls,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
            UNION ALL
            SELECT 'gsets' AS src,
                   COALESCE(l_returnflag, 'ALL') AS rf,
                   COALESCE(l_linestatus, 'ALL') AS ls,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""),
  )

  /** Q12 (§2.8): union / intersect / except, tagged into one result. */
  val q12 = OracleQuery(
    "q12_set_ops",
    (s, d) => {
      val p = Tables.part(s, d)
      val a = p.filter(col("p_size") < 10).select("p_partkey")
      val b = p.filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey")
      a.union(b).distinct().withColumn("op", lit("u"))
        .unionByName(a.intersect(b).withColumn("op", lit("i")))
        .unionByName(a.except(b).withColumn("op", lit("e")))
    },
    Some("""WITH a AS (SELECT p_partkey FROM part WHERE p_size < 10),
                 b AS (SELECT p_partkey FROM part
                       WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3'))
            SELECT p_partkey, 'u' AS op FROM (SELECT * FROM a UNION SELECT * FROM b)
            UNION ALL
            SELECT p_partkey, 'i' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
            UNION ALL
            SELECT p_partkey, 'e' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b)"""),
  )

  /** Q13 (W1-W3): ranking, lag, running frame. Ordered by `event_id` (the
    * generator emits `ts` ordered by it) — running sums then add in the same
    * sequence on both engines, so doubles match bit-for-bit.
    */
  val q13 = OracleQuery(
    "q13_windows",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        row_number().over(w).as("rn"),
        lag(col("value"), 1).over(w).as("prev_val"),
        round(sum(col("value")).over(frame), 6).as("run_sum"))
    },
    Some("""SELECT event_id, user_id,
                   row_number() OVER w AS rn,
                   lag(value) OVER w AS prev_val,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS run_sum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id)"""),
  )

  /** Q14 (O2): global top-k (TakeOrderedAndProject) with tiebreak. */
  val q14 = OracleQuery(
    "q14_topk",
    (s, d) =>
      Tables.orders(s, d)
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice"),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
  )

  /** Q15 (T11): string surface — length/case/regex/levenshtein/split. */
  val q15 = OracleQuery(
    "q15_strings",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_len"),
        upper(substring(col("text"), 1, 12)).as("head"),
        levenshtein(substring(col("text"), 1, 12), lit("spark query")).cast("long").as("lev"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        regexp_extract(col("text"), "([a-z]{6,})", 1).as("firstlong")),
    Some("""SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_len,
                   upper(substr(text, 1, 12)) AS head,
                   CAST(levenshtein(substr(text, 1, 12), 'spark query') AS BIGINT) AS lev,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                   regexp_extract(text, '([a-z]{6,})', 1) AS firstlong
            FROM documents"""),
  )

  /** Q16 (T9): date/time surface — extract, trunc, arithmetic, diff. */
  val q16 = OracleQuery(
    "q16_dates",
    (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        date_trunc("month", col("o_orderdate")).cast("date").as("mstart"),
        date_add(col("o_orderdate").cast("date"), 30).as("d30"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("age_days")),
    Some("""SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INTEGER) AS yr,
                   CAST(month(o_orderdate) AS INTEGER) AS mo,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
                   CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS d30,
                   CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS age_days
            FROM orders"""),
  )

  /** Q17 (T8): JSON extraction on `events.props`. */
  val q17 = OracleQuery(
    "q17_json",
    (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_num")),
    Some("""SELECT event_id,
                   json_extract_string(props, '$.k') AS k_str,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
            FROM events"""),
  )

  /** Q37 (A6): pivot — one column per l_linestatus value, summed quantity.
    * DuckDB twin via portable conditional aggregation (same result shape).
    */
  val q37 = OracleQuery(
    "q37_pivot",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("O", "F"))
        .agg(sumDecimal(col("l_quantity"), 2))
        .select(col("l_returnflag"),
          coalesce(col("O"), lit(0.0)).as("qty_o"),
          coalesce(col("F"), lit(0.0)).as("qty_f")),
    Some("""SELECT l_returnflag,
                   COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_o,
                   COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_f
            FROM lineitem GROUP BY l_returnflag"""),
  )

  /** Q38 (W1-W3 depth): distribution/navigation window functions —
    * ntile, percent_rank, cume_dist, first/last_value with frames. All
    * orderings totalized by (o_totalprice, o_orderkey) so both engines
    * agree on every rank.
    */
  val q38 = OracleQuery(
    "q38_window_ranks",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        first(col("o_orderkey")).over(full).as("cheapest"),
        last(col("o_orderkey")).over(full).as("priciest"))
    },
    Some("""SELECT o_orderkey, o_custkey,
                   CAST(ntile(4) OVER w AS INTEGER) AS quartile,
                   round(percent_rank() OVER w, 6) AS pr,
                   round(cume_dist() OVER w, 6) AS cd,
                   first_value(o_orderkey) OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest,
                   last_value(o_orderkey) OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)"""),
  )

  /** Q39 (T10 depth): array/map function surface — sequence, slice,
    * negative element_at, contains, reverse, and JSON map keys. Arrays
    * leave the query stringified so the hash compare stays type-simple.
    */
  val q39 = OracleQuery(
    "q39_array_map_fns",
    (s, d) => {
      val arr = sequence(lit(1), col("l_linenumber"))
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        concat_ws(",", slice(arr, 1, 2)).as("first2"),
        element_at(arr, -1).cast("long").as("last_el"),
        array_contains(arr, 3).as("has3"),
        concat_ws(",", reverse(arr)).as("rev"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
                   array_to_string(list_slice(generate_series(1, l_linenumber), 1, 2), ',') AS first2,
                   CAST(generate_series(1, l_linenumber)[-1] AS BIGINT) AS last_el,
                   list_contains(generate_series(1, l_linenumber), 3) AS has3,
                   array_to_string(list_reverse(generate_series(1, l_linenumber)), ',') AS rev
            FROM lineitem"""),
  )

  /** Q39b (T10/T8): JSON object keys via the map type. */
  val q39b = OracleQuery(
    "q39b_json_map_keys",
    (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        concat_ws(",",
          sort_array(map_keys(
            from_json(col("props"), MapType(StringType, StringType))))).as("ks")),
    Some("""SELECT event_id,
                   array_to_string(list_sort(json_keys(props)), ',') AS ks
            FROM events"""),
  )

  /** Q24 (A6): exact distinct counts (the oracle side of the approx-sanity
    * check; approx_count_distinct is asserted within tolerance in tests).
    */
  val q24 = OracleQuery(
    "q24_count_distinct",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part")),
    Some("""SELECT l_returnflag,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
                   CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part
            FROM lineitem GROUP BY l_returnflag"""),
  )

  /** Q40 (SQL entry + subqueries): the engine's `spark.sql` path with a
    * scalar subquery and an IN subquery — Catalyst decorrelates; both
    * engines run the same ANSI text.
    */
  private val q40Sql =
    """SELECT o_orderkey,
      |       CAST(o_totalprice AS DOUBLE) AS price
      |FROM orders
      |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)
      |  AND o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')""".stripMargin

  val q40 = OracleQuery(
    "q40_sql_subqueries",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(q40Sql)
    },
    Some(q40Sql),
  )

  val all: Seq[OracleQuery] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q10b, q11, q11b, q12, q13, q14, q15, q16, q17, q24, q37, q38,
    q39, q39b, q40, q107)
}
