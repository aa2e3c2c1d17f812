package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** What the register's round-trip and certificate queries share: a temp
  * directory that is gone however the body ends, and a small result
  * collected into a one-partition relation that no longer reads from the
  * (deleted) directory it came from.
  */
private[graft] object Scratch {

  /** Run `body` on a fresh temp directory named `prefix…`, then delete the
    * directory tree — in `finally`, so a throwing write or read leaks no
    * corpus copy into the temp dir. Anything `body` returns must already
    * be materialized (see [[collectLocal]]).
    */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally deleteTree(dir)
  }

  /** Delete a directory tree, deepest entries first. */
  def deleteTree(dir: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val tree = Files.walk(dir)
    try tree.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(Files.deleteIfExists(_))
    finally tree.close()
  }

  /** Collect a small result and return it as a one-partition relation;
    * `observe` sees the collected rows first (a certificate records ids).
    */
  def collectLocal(df: DataFrame,
      observe: Seq[Row] => Unit = _ => ()): DataFrame = {
    val rows = df.collect().toSeq
    observe(rows)
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows, 1), df.schema)
  }
}

/** The certificate of a single-query ANN search (q74 IVF, q91 PQ, q108
  * IVF-PQ): seeded k-means is not SQL-portable, so the run records the ids
  * it returns and the DuckDB twin — built after the run — recomputes their
  * exact rounded cosines to vec_id 0: the SQL side of
  * [[graft.ext.Similarity.cosineTopK]]. Recall is pinned in the specs.
  */
private[queries] final class AnnCert {
  @volatile private var ids: Option[Seq[Long]] = None

  /** The query: vec_id 0's embedding, as doubles. */
  def queryVec(emb: DataFrame): Array[Double] =
    emb.filter(col("vec_id") === 0)
      .select(graft.ext.Similarity.asDouble(col("embedding"))).head()
      .getSeq[Double](0).toArray

  /** Collect the k result rows once, so the certificate describes exactly
    * what the driver writes, and record their ids.
    */
  def record(res: DataFrame): DataFrame =
    Scratch.collectLocal(res, rows => ids = Some(rows.map(_.getLong(0))))

  def oracle(): Option[String] = ids.map(ids =>
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        SELECT vec_id,
               round(list_dot_product(v, qv) /
                     (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_r
        FROM e, q WHERE vec_id IN (${ids.mkString(", ")})""")
}
