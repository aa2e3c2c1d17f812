package perfbench

import java.util.SplittableRandom

/** One row of the `documents` table (the schema of the engine's test data). */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** A `documents` table shaped like the engine's sf0.1 test data: word soup
  * of 10–100 tokens over a 30-word vocabulary, `source = src<doc_id mod
  * 20>`, one doc in twenty a near-duplicate (another doc's text plus the
  * token `dup`) and a few exact duplicates. The corpus is fixed; a run's
  * seed picks which ~90% of it the run sees.
  */
object SyntheticDocs {

  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  def corpus(n: Int, corpusSeed: Long = 42L): Array[Doc] = {
    val rnd = new SplittableRandom(corpusSeed)
    val texts = Array.fill(n) {
      Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
    }
    for (i <- 0 until n) {
      val u = rnd.nextDouble()
      if (u < 0.05) texts(i) = texts(rnd.nextInt(n)) + " dup"
      else if (u < 0.0516) texts(i) = texts(rnd.nextInt(n))
    }
    Array.tabulate(n) { i =>
      val r = rnd.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .drop(1).find(_._2 > r).fold("de")(_._1)
      Doc(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  /** The docs a run with `seed` sees: each kept with probability `keep`. */
  def sample(docs: Array[Doc], seed: Long, keep: Double = 0.9): Array[Doc] =
    docs.filter(d => new SplittableRandom(seed * 0x9E3779B97F4A7C15L + d.doc_id).nextDouble() < keep)
}
