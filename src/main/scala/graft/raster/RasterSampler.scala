package graft.raster

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.geo.Mercator
import graft.ops.Salting.atFullWidth

/** A sampled value (None = tile fetch failed, F6 null semantics). */
case class Sampled(gid: Long, value: Option[Double])

/** One coordinate to sample, already tile-addressed, and the index of the
  * pass it belongs to.
  */
case class PassKey(pass: Int, gid: Long, tx: Long, ty: Long, px: Int, py: Int)

/** A [[Sampled]] tagged with the index of the pass it belongs to. */
case class PassSampled(pass: Int, gid: Long, value: Option[Double])

/** One raster value pass: the output column, its tile source and zoom, and
  * the value read at a pixel (the reference's `process_*` functions).
  */
case class RasterPass(
    column: String,
    store: TileStore,
    zoom: Int,
    valueFn: (Tile, Int, Int) => Double)

/** T7 — the tile-grouped sampling operator: the distributed rewrite of the
  * reference's tile cache (`dataproviders.py:69,79-83`). Semantic contract:
  * each (x, y, z) tile is fetched + decoded once per pass, reused for every
  * coordinate falling in it.
  *
  * Plan shape: derive tile/pixel addresses with native column math (T1/T2,
  * codegen'd), tag them with their pass index and union the passes →
  * hash-repartition by (pass, tx, ty), pinned at
  * `spark.sql.shuffle.partitions` ([[graft.ops.Salting.atFullWidth]]), so a
  * tile's coordinates are co-located → `sortWithinPartitions(pass, tx, ty)`
  * so they are also contiguous → `mapPartitions` holds one decoded tile and
  * fetches the next only when (pass, tx, ty) changes. That is exactly one
  * fetch per tile per pass, however many tiles a partition holds (no LRU to
  * thrash). The shuffle is by tile key, so tile fetches scale with #tiles
  * (bounded by 4^zoom), never with #coordinates.
  *
  * Why the pin: the exchange's rows are a few bytes of addresses each, so
  * AQE's `AQEShuffleRead` coalesces an unpinned `repartition(pass, tx, ty)`
  * to as few partitions as its bytes need — one, for a metro extract —
  * while each tile key costs a full fetch and decode, so the sampler would
  * run on one core (`enrich_metro`: a 1-task sampling stage, the tile
  * store's fetch about half of all executor samples). The pinned exchange
  * (REPARTITION_BY_NUM) keeps one task per shuffle partition. It also opts
  * out of AQE's skew split, which costs nothing here: a tile's rows must
  * stay in one partition for the one-fetch contract anyway.
  *
  * [[medians]] runs any number of passes through ONE such sampling shuffle
  * and ONE per-gid aggregate; [[medianPass]] is its one-pass call.
  */
object RasterSampler {

  /** Address each (gid, lng, lat) row: world → tile/pixel at `zoom`. */
  def address(coords: DataFrame, zoom: Int, tileSize: Int = 256): DataFrame = {
    val wx = Mercator.worldX(col("lng"), tileSize)
    val wy = Mercator.worldY(col("lat"), tileSize)
    val z = lit(zoom)
    coords.select(
      col("gid"),
      Mercator.tileIdx(wx, z, tileSize).as("tx"),
      Mercator.tileIdx(wy, z, tileSize).as("ty"),
      Mercator.pixelIdx(wx, z, tileSize).cast("int").as("px"),
      Mercator.pixelIdx(wy, z, tileSize).cast("int").as("py"))
  }

  /** Sample every addressed coordinate; one fetch per tile. */
  def sample(addressed: DataFrame, store: TileStore, zoom: Int,
      valueFn: (Tile, Int, Int) => Double): Dataset[Sampled] = {
    val spark = addressed.sparkSession
    import spark.implicits._
    sortedSample(addressed.withColumn("pass", lit(0)),
      IndexedSeq(RasterPass("value", store, zoom, valueFn)))
      .select("gid", "value").as[Sampled]
  }

  /** Sample pass-tagged addresses (`pass` indexes `passes`), fetching each
    * (pass, tile) once: rows of one tile are contiguous after the sort.
    */
  private def sortedSample(keyed: DataFrame,
      passes: IndexedSeq[RasterPass]): Dataset[PassSampled] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    atFullWidth("pass", "tx", "ty")(keyed).as[PassKey]
      .sortWithinPartitions("pass", "tx", "ty")
      .mapPartitions { it =>
        var pass = -1
        var tx, ty = 0L
        var tile: Option[Tile] = None
        it.map { k =>
          if (k.pass != pass || k.tx != tx || k.ty != ty) {
            pass = k.pass; tx = k.tx; ty = k.ty
            tile = passes(pass).store.fetch(tx, ty, passes(pass).zoom)
          }
          PassSampled(k.pass, k.gid, tile.map(passes(pass).valueFn(_, k.px, k.py)))
        }
      }
  }

  /** The full §3.1 value pass for several rasters at once: coords (gid,
    * lng, lat) → per-gid median of each pass's sampled values → each
    * column normalized by its global max (A1/A2/A3/J5). Null samples
    * (failed tiles) are excluded per F6, so a gid appears iff some pass
    * sampled it, and a pass that did not reads null.
    *
    * Plan shape: one sampling shuffle for all passes (see the object doc),
    * one `groupBy(gid)` with a `percentile` per pass over that pass's rows,
    * cached so that the per-column max (a one-row broadcast) and the
    * normalized output read the same materialized medians.
    *
    * `exact=true` is reference parity (np.median); `exact=false` is the
    * 100 TB path — `approx_percentile` keeps per-group state bounded when
    * group sizes are unbounded (way vertex counts are tiny, so exact is
    * the default; the knob exists for other coordinate sources).
    */
  def medians(coords: DataFrame, passes: Seq[RasterPass],
      exact: Boolean = true): DataFrame = {
    val cols = passes.map(_.column)
    require(passes.nonEmpty, "medians: needs at least one pass")
    require(cols.distinct.size == cols.size,
      s"medians: pass columns must be distinct, got ${cols.mkString(", ")}")
    require(!cols.contains("gid"), "medians: `gid` is the key, not a pass column")
    val keyed = passes.zipWithIndex.map { case (p, i) =>
      address(coords, p.zoom, p.store.tileSize).withColumn("pass", lit(i))
    }.reduce(_ union _)
    val sampled = sortedSample(keyed, passes.toIndexedSeq)
      .filter(col("value").isNotNull)
    def median(v: Column): Column =
      if (exact) percentile(v, lit(0.5))
      else approx_percentile(v, lit(0.5), lit(10000))
    val perPass = cols.zipWithIndex.map { case (c, i) =>
      median(when(col("pass") === i, col("value"))).as(c)
    }
    val med = sampled.groupBy("gid").agg(perPass.head, perPass.tail: _*).cache()
    val mxs = cols.map(c => max(col(c)).as(c))
    val mx = med.agg(mxs.head, mxs.tail: _*)
    med.alias("m").crossJoin(broadcast(mx.alias("x")))
      .select(col("m.gid") +: cols.map { c =>
        val (v, m) = (col(s"m.`$c`"), col(s"x.`$c`"))
        when(m > 0, v / m).otherwise(v).as(c)
      }: _*)
  }

  /** One-pass [[medians]]: (gid, `outCol`), normalized by its max. */
  def medianPass(coords: DataFrame, store: TileStore, zoom: Int,
      valueFn: (Tile, Int, Int) => Double, outCol: String,
      exact: Boolean = true): DataFrame =
    medians(coords, Seq(RasterPass(outCol, store, zoom, valueFn)), exact)
}
