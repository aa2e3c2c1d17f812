package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import TextHash._

/** Text-analysis operators: language ID, quality scoring, token counting,
  * document fingerprinting. All pure column math over whitespace tokens —
  * codegen-friendly, shuffle-free per document.
  */
object TextAnalysis {

  /** Stopword marker lists per language for the n-gram/stopword-ratio
    * language-ID heuristic. Deterministic and SQL-mirrorable.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "les", "et", "des", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** Per-language marker-hit count over the document's tokens. */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(Dedup.tokens(text), t => t.isin(markers: _*))).cast("long")

  /** Predicted language: argmax of marker scores, ties broken by the fixed
    * [[LangMarkers]] order (first language with a maximal score wins).
    */
  def languageId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, m) => lang -> langScore(text, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit(LangMarkers.last._1)) { case ((lang, s), els) =>
      when(s === best, lit(lang)).otherwise(els)
    }
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " ")).cast("long")

  /** BPE-ish token count: maximal runs of lowercase letters, digit runs, or
    * single non-space symbols (a regex stand-in for a real tokenizer).
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")

  /** Distinct-token ratio ∈ (0,1] — low values flag boilerplate/spam. */
  def uniqueTokenRatio(text: Column): Column = {
    val toks = split(text, " ")
    round(size(array_distinct(toks)).cast("double") / size(toks).cast("double"), 6)
  }

  /** Mean characters per token (including the separator overhead). */
  def charsPerToken(text: Column): Column =
    round(length(text).cast("double") / tokenCount(text).cast("double"), 6)

  /** Stopword ratio against the combined marker list. */
  def stopwordRatio(text: Column): Column = {
    val all = LangMarkers.flatMap(_._2)
    round(langScore(text, all).cast("double") / tokenCount(text).cast("double"), 6)
  }

  /** Order-sensitive document fingerprint: Σ position·h(token) mod P over
    * 1-based token positions (a commutative-safe rolling hash).
    */
  def fingerprint(text: Column): Column = {
    val contribs = transform(split(text, " "),
      (t, i) => ((i + 1).cast("long") * tokenHash(t)) % lit(P))
    aggregate(contribs, lit(0L), (acc, x) => acc + x) % lit(P)
  }

  /** Quality flag string, one character per rule ('-' = rule passed):
    * S = too short (< minTok tokens), U = low distinct-token ratio
    * (repetitive/boilerplate), L = over-long average token. A flags
    * *string* (not an array) so the result is trivially hashable and
    * SQL-mirrorable; `keep` is flags == "---".
    */
  def qualityFlags(text: Column, minTok: Int = 30, minUniq: Double = 0.40,
      maxCharsPerTok: Double = 5.8): Column =
    concat(
      when(tokenCount(text) < minTok, lit("S")).otherwise(lit("-")),
      when(uniqueTokenRatio(text) < minUniq, lit("U")).otherwise(lit("-")),
      when(charsPerToken(text) > maxCharsPerTok, lit("L")).otherwise(lit("-")))

  /** Mask every whole-word occurrence of `words` with `mask` — the
    * PII-redaction/vocab-filter primitive (codegen'd regexp, no UDF).
    */
  def maskWords(text: Column, words: Seq[String], mask: String): Column =
    regexp_replace(text, "\\b(" + words.mkString("|") + ")\\b", mask)

  /** Count of maskable occurrences (what [[maskWords]] would replace). */
  def maskCount(text: Column, words: Seq[String]): Column =
    regexp_count(text, lit("\\b(" + words.mkString("|") + ")\\b")).cast("long")

  /** PII-style pattern redaction: apply `(pattern → replacement)` rules
    * left to right (each a codegen'd global regexp_replace; later rules
    * see earlier rules' output, so order entire patterns accordingly).
    */
  def redact(text: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(text) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }

  /** Default redaction rules: emails, then phone-like digit groups, then
    * any leftover digit run of 2+ (ids, zips). Order matters — the email
    * rule must run before the digit rules eat into addresses.
    */
  val PiiRules: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "[EMAIL]",
    "\\+?[0-9][0-9() -]{6,}[0-9]" -> "[PHONE]",
    "[0-9]{2,}" -> "#")

  /** Canonical text normalization for dedup keys: lowercase, strip
    * non-alphanumeric (keeping spaces), squeeze runs of spaces, trim.
    * Normalizing BEFORE hashing/shingling is what makes near-dup
    * detection robust to case/punctuation noise.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** HTML → text extraction — the WET-GENERATION step between a crawl's
    * response records ([[graft.ops.WarcCorpus]]) and clean corpus text.
    * Deterministic pinned recipe, pure codegen'd column ops (no UDF —
    * the 100 TB form): (1) drop script/style ELEMENTS whole (their
    * content is code, not text; non-greedy dotall case-insensitive span), (2) strip every
    * remaining tag to a space, (3) decode the five core entities with
    * `&amp;` LAST — decoding it first would create new entities out of
    * literal text like `&amp;lt;` and double-decode (`&amp;lt;` means
    * the TEXT "&lt;"), (4) collapse whitespace, trim. Entity-encoded
    * brackets in content survive as text by construction (tags strip
    * BEFORE entities decode). The regexes stay inside the
    * Java-regex ∩ RE2 common dialect so the DuckDB twin
    * ([[htmlToTextSql]]) is exact — including the whitespace collapse,
    * whose class is spelled out explicitly because `\s` itself is NOT
    * dialect-common: Java's includes vertical tab 0x0B, RE2's does not.
    */
  private val WsClass = "[ \\t\\n\\r\\f\\x0B]+"
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?si)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noScript, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (acc, (e, r)) =>
      replace(acc, lit(e), lit(r))
    }
    trim(regexp_replace(decoded, WsClass, " "))
  }

  /** DuckDB twin of [[htmlToText]] over an SQL expression — same regex
    * chain (RE2 accepts the shared dialect; 'g' flag spelled out, the
    * q45 rule) and the same entity order.
    */
  def htmlToTextSql(expr: String): String = {
    val noScript =
      s"regexp_replace($expr, '(?si)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g')"
    val noTags = s"regexp_replace($noScript, '<[^>]*>', ' ', 'g')"
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (acc, (e, r)) =>
      s"replace($acc, '$e', '$r')"
    }
    s"trim(regexp_replace($decoded, '$WsClass', ' ', 'g'))"
  }

  /** Anchor hrefs out of an HTML body — `<a … href="…">` values in
    * document order. The pattern lives in the Java∩RE2 common dialect
    * ([[htmlToText]]'s rule; a literal space, never `\s`), so the
    * DuckDB twin is the SAME string through `regexp_extract_all`.
    */
  val LinkHrefPattern = "<a [^>]*href=\"([^\"]*)\""
  def linkHrefs(html: Column): Column =
    regexp_extract_all(html, lit(LinkHrefPattern), lit(1))

  /** Resolve an href to its TARGET HOST against the page's host — the
    * link-graph projection of RFC 3986 resolution (absolute →  its
    * authority, protocol-relative `//h/…` → that authority, everything
    * else — rooted or relative — stays on the page's host). Hosts fold
    * to lowercase. [[linkHostSql]] is the textual twin.
    */
  def linkHost(href: Column, baseHost: Column): Column =
    when(href.rlike("^https?://"),
      lower(regexp_extract(href, "^https?://([^/]+)", 1)))
      .when(href.startsWith("//"),
        lower(regexp_extract(href, "^//([^/]+)", 1)))
      .otherwise(baseHost)

  def linkHostSql(href: String, baseHost: String): String =
    s"""CASE WHEN regexp_matches($href, '^https?://')
           THEN lower(regexp_extract($href, '^https?://([^/]+)', 1))
         WHEN $href LIKE '//%'
           THEN lower(regexp_extract($href, '^//([^/]+)', 1))
         ELSE $baseHost END"""

  /** Per-document unigram log-probability under the corpus' own unigram
    * distribution (Σ ln(cnt(w)/N) over the document's tokens) — a
    * self-supervised fluency score: rare-token-heavy documents score low.
    *
    * Two-pass global-stats shape, the corpus analog of the reference's
    * median→global-max normalize (`update_ways_metadata.py:30-33`): pass 1
    * aggregates corpus token frequencies (one shuffle on the token);
    * pass 2 joins them back to the token stream. The vocabulary is orders
    * of magnitude smaller than the corpus, so the join is a broadcast —
    * no second corpus-wide shuffle at 100 TB.
    */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("w"))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum("cnt").as("n_total"))
    tok.join(broadcast(freq), "w")
      .crossJoin(broadcast(tot))
      .groupBy(idCol)
      .agg(
        round(sum(log(col("cnt").cast("double") / col("n_total").cast("double"))), 6)
          .as("logprob"),
        count(lit(1)).as("n_tok"))
  }

  /** Per-document word-distribution Shannon entropy (nats) — the
    * information-density quality signal: telegraphic spam and
    * single-phrase repetition score low, natural prose scores near
    * ln(n_unique). Computed as `ln(n) − Σ c·ln(c) / n` so the per-term
    * work is one log on the tf count (never per-token): one (doc, word)
    * shuffle, then a per-doc aggregate. Sum-then-round(6) follows the
    * [[unigramLogProb]] cross-engine discipline.
    *
    * Output: (idCol, n_tok, n_unique, entropy).
    */
  def wordEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(
        sum("c").as("n_tok"),
        count(lit(1)).as("n_unique"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("__s"))
      .select(col(idCol), col("n_tok"), col("n_unique"),
        round(log(col("n_tok").cast("double"))
          - col("__s") / col("n_tok").cast("double"), 6).as("entropy"))

  /** Arriving-batch fluency under a FROZEN corpus bigram LM — the
    * perplexity member of the incremental-ingest family (CCNet gates
    * crawl batches on exactly this signal: score each arriving document
    * under a reference-corpus LM, drop the tail). [[unigramLogProb]] and
    * q56 score a corpus against itself; here the LM is trained ONCE on
    * the frozen corpus and new text is scored against it, so the gate
    * needs add-1 smoothing to price bigrams (and contexts) the corpus
    * has never seen: P(w|p) = (cnt(p,w)+1)/(cnt(p·)+V), with V the
    * corpus unigram vocabulary — an unseen context prices at 1/V.
    *
    * Output per batch doc (docs with < 2 tokens have no bigrams and are
    * absent, q56's contract): `logprob` = round(Σ ln P, 6), `n_bigrams`,
    * and `oov_bigrams` = how many of the document's bigrams the corpus
    * never saw — the raw novelty count the smoothed score prices in.
    *
    * Scale shape: the corpus contributes one tokenize-and-count pass
    * whose (p,w) and (p) count tables are the AT-REST form of the LM —
    * built once, persistable, reused per batch (the
    * [[SemDedup.incrementalDropList]] contract). Batch bigrams extract
    * with explode+element_at — codegen, no per-doc window shuffle — and
    * the probes are equi-joins keyed on vocabulary entries; the batch
    * side is O(batch), never a corpus rescan, and AQE picks the join
    * strategy (a forced broadcast of a 100 TB corpus' bigram table is
    * exactly the dictionary-broadcast failure the soak exposed).
    */
  def bigramLmScore(corpus: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    scoreBigramLm(trainBigramLm(corpus, idCol, textCol), batch, idCol,
      textCol)

  /** A trained bigram LM at rest: (p,w) counts, context counts, and the
    * 1-row vocabulary size — the three relations [[scoreBigramLm]] probes.
    * All three are lazily checkpointed at train time so a streaming gate
    * scoring many micro-batches (ST10) pays the corpus pass once, not per
    * batch (the [[Dedup.GramIndex]] discipline); they are plain DataFrames,
    * so persisting them is a parquet write away.
    */
  final case class BigramLm(cbg: org.apache.spark.sql.DataFrame,
      cu: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame)

  /** One row per in-doc bigram occurrence: (idCol, p, w). Codegen'd
    * explode+element_at — no per-doc window shuffle.
    */
  private def bigramOccurrences(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), Dedup.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 2) // sequence(1,0) would step DOWN
      .select(col(idCol),
        explode(sequence(lit(1), size(col("__t")) - 1)).as("__i"),
        col("__t"))
      .select(col(idCol), element_at(col("__t"), col("__i")).as("p"),
        element_at(col("__t"), col("__i") + lit(1)).as("w"))

  /** One corpus pass → the frozen [[BigramLm]]. */
  def trainBigramLm(corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): BigramLm = {
    val bg = bigramOccurrences(corpus, idCol, textCol)
    BigramLm(
      bg.groupBy("p", "w").agg(count(lit(1)).as("cbg"))
        .localCheckpoint(eager = false),
      bg.groupBy("p").agg(count(lit(1)).as("cu"))
        .localCheckpoint(eager = false),
      corpus.select(explode(Dedup.tokens(col(textCol))).as("w"))
        .agg(countDistinct(col("w")).as("vv"))
        .localCheckpoint(eager = false))
  }

  /** Score a batch under a frozen [[BigramLm]] — O(batch), equi-join
    * probes of the count tables, AQE-chosen strategy (a forced broadcast
    * of a 100 TB corpus' bigram table is exactly the dictionary-broadcast
    * failure the soak exposed).
    */
  def scoreBigramLm(lm: BigramLm, batch: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    bigramOccurrences(batch, idCol, textCol)
      .join(lm.cbg, Seq("p", "w"), "left")
      .join(lm.cu, Seq("p"), "left")
      .crossJoin(broadcast(lm.vocab))
      .select(col(idCol), col("cbg"),
        log((coalesce(col("cbg"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("cu"), lit(0L)) + col("vv")).cast("double")).as("__lp"))
      .groupBy(idCol)
      .agg(round(sum(col("__lp")), 6).as("logprob"),
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cbg").isNull, 1L).otherwise(0L)).as("oov_bigrams"))

  /** SELF-CALIBRATED LM admit gate: the threshold is not a magic number
    * but the corpus' own `pctNum/pctDen` quantile of per-bigram fluency —
    * score the corpus under its own LM, take the k-th smallest rounded
    * `logprob/n_bigrams` (k = ⌈pct·n⌉, a DISCRETE rank: an interpolated
    * quantile would reopen the q110 float-boundary parity surface), and
    * admit a batch doc iff its rounded per-bigram score reaches it.
    * Length normalization matters: raw `logprob` scales with doc length,
    * so an unnormalized gate would just be a length filter.
    *
    * Output per scorable batch doc: `lm_avg`, `oov_bigrams`, `admit` —
    * callers route admits to the corpus-append path (the
    * [[Dedup.ingestGate]] pattern; this is its fluency sibling).
    *
    * Scale: calibration is one extra corpus-scale pass at TRAIN time
    * (score + rank), amortized over every batch; the threshold crosses as
    * a broadcast 1-row relation and batch scoring stays O(batch). The
    * rank pulls k via one bounded 1-row collect (the q131 literal-bound
    * pattern) so the sort is `orderBy().limit(k)` — TakeOrdered, never a
    * global sort.
    */
  def calibratedLmGate(corpus: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      pctNum: Int = 1, pctDen: Int = 10): org.apache.spark.sql.DataFrame = {
    require(pctNum > 0 && pctNum < pctDen, "quantile must be in (0,1)")
    val lm = trainBigramLm(corpus, idCol, textCol)
    val selfAvg = scoreBigramLm(lm, corpus, idCol, textCol)
      .select(round(col("logprob") / col("n_bigrams"), 6).as("__a"))
      .localCheckpoint(eager = false)
    val n = selfAvg.count()
    val k = ((n * pctNum + pctDen - 1) / pctDen).toInt.max(1)
    val thr = selfAvg.orderBy(col("__a")).limit(k)
      .agg(max(col("__a")).as("__thr"))
    scoreBigramLm(lm, batch, idCol, textCol)
      .select(col(idCol),
        round(col("logprob") / col("n_bigrams"), 6).as("lm_avg"),
        col("oov_bigrams"))
      .crossJoin(broadcast(thr))
      .withColumn("admit", (col("lm_avg") >= col("__thr")).cast("int"))
      .drop("__thr")
  }

  /** CCNet-style boilerplate removal over pre-split lines: drop every line
    * whose DOCUMENT frequency (distinct docs containing that exact line)
    * reaches `minDf`, and reassemble each document's surviving lines in
    * original order. Input is one row per (doc, position, line); output is
    * one row per doc: `idCol`, `clean_text`, `n_kept`, `n_dropped` — docs
    * whose every line is boilerplate survive with `clean_text = ""`.
    *
    * Scale shape: document frequency is a groupBy on the DEDUPLICATED
    * (line, doc) pairs — repeats within one doc count once — and the
    * per-line count joins back to the occurrence stream as an aggregated
    * (one-row-per-line) build side, so the sort-merge join's skew is
    * capped: the hottest boilerplate line contributes ONE build row no
    * matter how many documents carry it (AQE handles the probe-side
    * stragglers). Reassembly is the q04 ordered-collect: positions sort
    * inside the array, never a global sort; dropped lines vanish inside
    * `collect_list` (nulls are skipped), so kept text and drop counts come
    * from the same single per-doc aggregation.
    */
  def dropFrequentLines(lines: org.apache.spark.sql.DataFrame, idCol: String,
      posCol: String, lineCol: String,
      minDf: Int = 2, sep: String = "\n"): org.apache.spark.sql.DataFrame = {
    val df = lines.select(col(lineCol).as("__ln"), col(idCol)).distinct()
      .groupBy("__ln").agg(count(lit(1)).as("__df"))
    lines
      .select(col(idCol), col(posCol).as("__pos"), col(lineCol).as("__ln"))
      .join(df, "__ln")
      .groupBy(idCol)
      .agg(
        concat_ws(sep,
          transform(
            array_sort(collect_list(
              when(col("__df") < minDf, struct(col("__pos"), col("__ln"))))),
            x => x.getField("__ln"))).as("clean_text"),
        sum(when(col("__df") < minDf, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__df") >= minDf, 1L).otherwise(0L)).as("n_dropped"))
  }

  /** [[dropFrequentLines]] for documents stored as a single text column:
    * split on `sep`, drop globally-frequent lines, reassemble.
    */
  def dropBoilerplate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, sep: String = "\n",
      minDf: Int = 2): org.apache.spark.sql.DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    dropFrequentLines(lines, idCol, "pos", "line", minDf, sep)
  }

  /** Per-slice token-distribution divergence vs the whole corpus: for each
    * value of `sliceCol` (source, language, shard, time bucket …) computes
    * KL(P_slice ‖ P_corpus) = Σ_w p_s(w)·ln(p_s(w)/p_c(w)) and the
    * cross-entropy H(P_slice, P_corpus) = −Σ_w p_s(w)·ln p_c(w) — the
    * data-recipe monitor answering "which sources drifted away from the
    * mix?" (the token-level sibling of the numeric PSI in
    * [[graft.ops.Drift]]). KL is finite by construction: every slice token
    * is part of the corpus, so p_c(w) > 0 wherever p_s(w) > 0.
    *
    * Scale shape: one (slice, token) shuffle over the token stream; the
    * corpus-wide distribution is NOT a second corpus pass — it re-aggregates
    * the (slice, token) counts (vocabulary-sized input) and joins back as a
    * one-row-per-token broadcast. Output is |slices| rows.
    *
    * Cross-engine determinism: each token's divergence term is rounded then
    * DECIMAL-cast before the per-slice sum (the q72 route), so engines'
    * different aggregation phase structures cannot flip the round-6 output.
    */
  def sliceTokenKl(docs: org.apache.spark.sql.DataFrame, sliceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col(sliceCol), explode(Dedup.tokens(col(textCol))).as("w"))
    // sw feeds three consumers (the per-token totals, the per-slice totals,
    // and the final join); it is vocabulary×slices-sized — compact — so
    // checkpoint it once rather than re-running the corpus-wide token
    // explode + aggregate per consumer (the q86 multi-reference lesson).
    val sw = tok.groupBy(sliceCol, "w").agg(count(lit(1)).as("cnt_sw"))
      .localCheckpoint()
    val wTot = sw.groupBy("w").agg(sum("cnt_sw").as("cnt_w"))
    val sTot = sw.groupBy(sliceCol).agg(sum("cnt_sw").as("n_s"))
    val tot = wTot.agg(sum("cnt_w").as("n_tot"))
    val pS = col("cnt_sw").cast("double") / col("n_s").cast("double")
    val pC = col("cnt_w").cast("double") / col("n_tot").cast("double")
    sw.join(broadcast(wTot), "w")
      .join(broadcast(sTot), sliceCol)
      .crossJoin(broadcast(tot))
      .select(col(sliceCol),
        round(pS * log(pS / pC), 12).cast("decimal(32,12)").as("kl_term"),
        round(pS * log(pC), 12).cast("decimal(32,12)").as("ce_term"),
        col("n_s"))
      .groupBy(sliceCol)
      .agg(
        round(sum(col("kl_term")).cast("double"), 6).as("kl"),
        round(-sum(col("ce_term")).cast("double"), 6).as("cross_entropy"),
        first(col("n_s")).as("n_tok"))
  }

  /** Per-slice Jensen-Shannon divergence vs the whole corpus — the
    * SYMMETRIC, BOUNDED ([0, ln 2]) companion of [[sliceTokenKl]]:
    * JSD(p‖q) = ½Σ p·ln(p/m) + ½Σ q·ln(q/m), m = (p+q)/2. KL explodes
    * on rare slice tokens and is asymmetric; JSD is the data-recipe
    * distance a mixture planner can actually compare across slices.
    *
    * The q-side sum runs over the FULL vocabulary, but tokens ABSENT
    * from the slice (p = 0) have the closed form ½·q·ln 2 — so the
    * relation stays the per-slice token table (the q88 shape, never
    * slices × vocabulary): Σ_absent = ½·ln 2·(1 − Q_s) with
    * Q_s = (Σ_{t∈s} cnt_w)/n_tot a single division of exact integers.
    * Present-token terms go round(12)→DECIMAL (the q88 float route);
    * ln 2 is a spelled-out literal on both engines (libm ln(2) parity
    * is not guaranteed).
    */
  def sliceTokenJsd(docs: org.apache.spark.sql.DataFrame, sliceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val Ln2 = 0.6931471805599453
    val tok = docs.select(col(sliceCol),
      explode(Dedup.tokens(col(textCol))).as("w"))
    val sw = tok.groupBy(sliceCol, "w").agg(count(lit(1)).as("cnt_sw"))
      .localCheckpoint() // three consumers — the q86 multi-reference rule
    val wTot = sw.groupBy("w").agg(sum("cnt_sw").as("cnt_w"))
    val sTot = sw.groupBy(sliceCol).agg(sum("cnt_sw").as("n_s"))
    val tot = wTot.agg(sum("cnt_w").as("n_tot"))
    val pS = col("cnt_sw").cast("double") / col("n_s").cast("double")
    val pC = col("cnt_w").cast("double") / col("n_tot").cast("double")
    val m = (pS + pC) / lit(2.0)
    sw.join(broadcast(wTot), "w")
      .join(broadcast(sTot), sliceCol)
      .crossJoin(broadcast(tot))
      .select(col(sliceCol),
        round(pS * log(pS / m), 12).cast("decimal(32,12)").as("jp"),
        round(pC * log(pC / m), 12).cast("decimal(32,12)").as("jq"),
        col("cnt_w"), col("n_s"), col("n_tot"))
      .groupBy(sliceCol)
      .agg(sum("jp").as("__jp"), sum("jq").as("__jq"),
        sum("cnt_w").as("__qs"), first("n_s").as("n_tok"),
        first("n_tot").as("__nt"))
      .select(col(sliceCol), col("n_tok"),
        graft.syntax.round6z(
          lit(0.5) * (col("__jp") + col("__jq")).cast("double") +
            lit(0.5) * lit(Ln2) *
              (lit(1.0) - col("__qs").cast("double") /
                col("__nt").cast("double"))).as("jsd"))
  }

  /** DSIR-style importance score (Data Selection with Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169, hashed-ngram variant
    * simplified to unigrams): per-document log importance ratio
    * Σ_w∈doc ln(p_target(w) / p_corpus(w)), where the target distribution
    * comes from the subset selected by `targetPred` and both
    * distributions are add-1 smoothed over the CORPUS vocabulary (every
    * corpus token has positive mass under both, so the ratio is always
    * finite). Documents resembling the target domain score high; a
    * downstream hash-keep against `exp(score)` implements the resampling.
    *
    * Scale shape: ONE corpus token pass feeds both distributions (the
    * target counts are a filtered re-aggregate of the (token, is_target)
    * stream, vocabulary-sized); per-token log-ratios join back as a
    * broadcast and per-doc terms go round→DECIMAL before the sum (the
    * q72/q87 determinism route).
    */
  def dsirLogRatio(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      targetPred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col(idCol), targetPred.as("__t"),
      explode(Dedup.tokens(col(textCol))).as("w"))
    val counts = tok.groupBy("w").agg(
      count(lit(1)).as("cnt_c"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("cnt_t"))
      .localCheckpoint() // feeds the totals AND the join-back
    val tot = counts.agg(
      sum("cnt_c").as("n_c"), sum("cnt_t").as("n_t"),
      count(lit(1)).as("v")).localCheckpoint()
    val pT = (col("cnt_t") + 1.0) / (col("n_t") + col("v"))
    val pC = (col("cnt_c") + 1.0) / (col("n_c") + col("v"))
    tok.join(broadcast(counts), "w")
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        round(log(pT / pC), 9).cast("decimal(28,9)").as("term"))
      .groupBy(idCol)
      .agg(round(sum(col("term")).cast("double"), 6).as("log_ratio"),
        count(lit(1)).as("n_tok"))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * n-grams whose FIRST corpus occurrence (by ascending id) is this
    * document — the marginal-contribution score behind greedy dedup
    * ordering ("how much of this doc is new given everything before
    * it?"). Documents full of already-seen grams score ~0.
    *
    * Scale shape: the first-owner of each gram is `min(id) OVER (gram)` —
    * one gram-keyed shuffle, no join-back (the q83 window-over-key
    * discipline) — followed by the per-doc mean, a second narrow shuffle.
    */
  def ngramNovelty(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Dedup.ngramsExploded(docs, idCol, textCol, n)
    grams
      .withColumn("first_id",
        min(col(idCol)).over(Window.partitionBy("g")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        round(avg(when(col("first_id") === col(idCol), 1.0).otherwise(0.0)), 6)
          .as("novel_frac"))
  }

  /** VOCABULARY-GROWTH (Heaps' law) curve per group: split each group's
    * document stream (ordered by `idCol`) into `buckets` equal-count
    * segments and report, per bucket, the token volume and the number of
    * NEW types (tokens whose first occurrence falls there), with
    * cumulative sums — the V(n) ~ K·n^β curve a tokenizer-vocab or
    * dedup-rate planner reads before committing to a vocab size. The
    * relational trick that avoids windowed COUNT(DISTINCT) entirely:
    * first-occurrence bucket = `min(bucket)` per (group, token) — one
    * (group, token) aggregate — then new-type counts group by that
    * minimum; buckets with no new types are kept by the token-volume
    * spine (left join, coalesce 0). All integer arithmetic (`div`, never
    * `/` — Spark's long division is double); the only windows are the
    * per-group doc ranking (the packShards shuffle) and a cumulative sum
    * over ≤ `buckets` rows per group.
    *
    * Output: (groupCol, bkt, n_tokens, new_types, cum_tokens, cum_types).
    */
  def vocabGrowth(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, groupCol: String, buckets: Int)
      : org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"vocabGrowth: buckets > 0, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val n = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val base = df.select(col(groupCol), col(idCol), col(textCol))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(groupCol).orderBy(idCol)))
      .join(broadcast(n), groupCol)
      .select(col(groupCol), col(textCol),
        expr(s"((__rn - 1) * $buckets) div __n").as("bkt"))
    val tok = base.select(col(groupCol), col("bkt"),
      explode(Dedup.tokens(col(textCol))).as("w"))
      .localCheckpoint() // two consumers: first-occurrence + volume spine
    val newTypes = tok.groupBy(groupCol, "w").agg(min("bkt").as("bkt"))
      .groupBy(groupCol, "bkt").agg(count(lit(1)).as("new_types"))
    val wCum = Window.partitionBy(groupCol).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.groupBy(groupCol, "bkt").agg(count(lit(1)).as("n_tokens"))
      .join(newTypes, Seq(groupCol, "bkt"), "left")
      .select(col(groupCol), col("bkt"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum("n_tokens").over(wCum))
      .withColumn("cum_types", sum("new_types").over(wCum))
  }
}
