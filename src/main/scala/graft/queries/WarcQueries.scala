package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Warc

/** WARC/WET ingestion queries [X] — hash-checked end-to-end through the
  * REAL container codec ([[graft.ext.Warc]]), the q188 discipline
  * applied to the crawl interchange format: each doc's deterministic
  * content is serialized into actual ISO 28500 WARC bytes (and the
  * Common Crawl per-record-gzip convention), parsed back by the real
  * record-boundary walker, and the parsed-out facts are hash-matched
  * against a twin that recomputes them ARITHMETICALLY from the raw
  * table. A match proves the encode → (gzip →) parse chain is lossless
  * through the container layout — a delimiter-scanning parser would
  * trip over the warcinfo decoy (its content block quotes a
  * `WARC/1.0` header line and must be skipped by Content-Length), and
  * a magic-scanning gzip splitter would mis-split members.
  */
object WarcQueries {

  private val WarcDate = "2026-01-01T00:00:00Z"

  /** The synthetic per-doc WET shard: one warcinfo record (whose content
    * block deliberately quotes a `WARC/1.0` line — the
    * Content-Length-skip trap) + two conversion records holding the
    * char-midpoint halves of the doc text (text is ASCII in this corpus,
    * so char math ≡ byte math on both engines).
    */
  private def docRecords(id: Long, text: String): Seq[Warc.WarcRecord] = {
    val h = text.length / 2
    val info = Warc.WarcRecord(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:$id:info>",
      "WARC-Date" -> WarcDate,
      "Content-Type" -> "application/warc-fields"),
      "software: graft\r\nWARC/1.0\r\ndecoy: quoted record header\r\n"
        .getBytes("US-ASCII"))
    info +: Seq(text.substring(0, h), text.substring(h)).zipWithIndex.map {
      case (t, i) =>
        Warc.WarcRecord(Seq(
          "WARC-Type" -> "conversion",
          "WARC-Record-ID" -> s"<urn:graft:$id:$i>",
          "WARC-Target-URI" -> s"http://graft.test/$id/$i",
          "WARC-Date" -> WarcDate,
          "Content-Type" -> "text/plain"),
          t.getBytes("US-ASCII"))
    }
  }

  /** Positional byte checksum Σ (i+1)·byte_i — order-sensitive, so a
    * payload that survives it survived byte-for-byte IN ORDER (a plain
    * byte sum would pass a shuffled payload). Mirrored in the twin as
    * Σ i·ascii(c) over 1-based `generate_subscripts`.
    */
  private def posCk(p: Array[Byte]): Long = {
    var s = 0L; var i = 0
    while (i < p.length) { s += (i + 1).toLong * (p(i) & 0xff); i += 1 }
    s
  }

  /** Parsed-back per-doc facts shared by q236/q237: record count (3 ⇒
    * the decoy was length-skipped, not re-parsed), first conversion URI
    * (string fidelity), per-segment byte counts and positional
    * checksums (payload fidelity).
    */
  private def docSummary(id: Long, recs: Seq[Warc.WarcRecord])
      : (Long, Int, String, Long, Long, Long, Long) = {
    val conv = recs.filter(_.warcType.contains("conversion"))
      .sortBy(_.header("WARC-Target-URI").getOrElse(""))
    require(conv.size == 2, s"doc $id: expected 2 conversion records, got ${conv.size}")
    (id, recs.size, conv.head.header("WARC-Target-URI").get,
      conv(0).payload.length.toLong, conv(1).payload.length.toLong,
      posCk(conv(0).payload), posCk(conv(1).payload))
  }

  private val summaryCols =
    Seq("doc_id", "n_records", "uri_a", "bytes_a", "bytes_b", "ck_a", "ck_b")

  private def summarySql(extra: String = ""): String =
    s"""WITH d AS (SELECT doc_id, text, length(text) // 2 AS h,
                     length(text) AS n FROM documents),
          segs AS (SELECT doc_id, 0 AS seg, substring(text, 1, h) AS s
                   FROM d
                   UNION ALL
                   SELECT doc_id, 1 AS seg, substring(text, h + 1, n - h)
                   FROM d),
          -- LEFT JOIN from segs so an EMPTY segment (length(text) <= 1)
          -- still yields its (nb=0, ck=0) row: unnest of an empty split
          -- emits zero rows, and a bare GROUP BY over them would drop
          -- the segment and the inner join below would drop the doc.
          ck AS (SELECT segs.doc_id, segs.seg,
                   CAST(length(segs.s) AS BIGINT) AS nb,
                   CAST(coalesce(sum(e.i * ascii(e.c)), 0) AS BIGINT) AS ck
                 FROM segs LEFT JOIN
                   (SELECT doc_id, seg,
                      unnest(string_split(s, '')) AS c,
                      generate_subscripts(string_split(s, ''), 1) AS i
                    FROM segs) e
                   ON e.doc_id = segs.doc_id AND e.seg = segs.seg
                 GROUP BY segs.doc_id, segs.seg, segs.s)
       SELECT d.doc_id, CAST(3 AS INTEGER) AS n_records,
              'http://graft.test/' || d.doc_id || '/0' AS uri_a,
              a.nb AS bytes_a, b.nb AS bytes_b,
              a.ck AS ck_a, b.ck AS ck_b$extra
       FROM d JOIN ck a ON a.doc_id = d.doc_id AND a.seg = 0
              JOIN ck b ON b.doc_id = d.doc_id AND b.seg = 1"""

  /** Q236 [X ingest]: uncompressed WARC round-trip — per doc, serialize
    * the 3-record shard ([[docRecords]]) and parse it back with the
    * record-boundary walker; output the parsed-out facts. The twin never
    * sees a container byte: it recomputes everything from `documents`
    * arithmetically, so the hash match is a proof the walker honored
    * version lines, header folding, Content-Length skips (incl. the
    * quoted-header decoy), and both CRLFCRLF terminators.
    */
  val q236 = OracleQuery(
    "q236_warc_roundtrip",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          docSummary(id, Warc.parseWarc(Warc.writeWarc(docRecords(id, text))))
        }
        .toDF(summaryCols: _*)
    },
    Some(summarySql()),
  )

  /** Q237 [X ingest]: `.warc.gz` round-trip under the Common Crawl
    * convention — each record its own gzip member, members concatenated;
    * parsed back via the DEFLATE-driven member splitter (CRC32 + ISIZE
    * verified per member). `n_members` = 3 certifies the boundary
    * recovery; the rest certifies the decompressed records byte-for-byte
    * (same twin as q236 — gzip is lossless, so the facts are identical).
    */
  val q237 = OracleQuery(
    "q237_warc_gz_members",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val bytes = Warc.writeWarcGz(docRecords(id, text))
          val members = Warc.splitGzipMembers(bytes)
          val sum = docSummary(id, members.flatMap(Warc.parseWarc))
          (sum._1, sum._2, sum._3, sum._4, sum._5, sum._6, sum._7,
            members.size)
        }
        .toDF(summaryCols :+ "n_members": _*)
    },
    Some(summarySql(extra = ",\n              CAST(3 AS INTEGER) AS n_members")),
  )

  /** Q238 [X ingest]: multi-record WET shard per SOURCE — the shard
    * shape a real crawl ships (one warcinfo + many conversion records in
    * ONE gzip-member stream per shard). Docs serialize grouped by
    * source, parse back through the full chain, doc ids are recovered
    * from the WARC-Target-URI and text from the content block, and the
    * reconstructed corpus aggregates per source. The twin aggregates
    * `documents` directly: a match proves the shard round-trip preserved
    * doc identity, byte counts, and tokenizable content across ~250-doc
    * record streams, not just single-record files.
    */
  val q238 = OracleQuery(
    "q238_wet_shard_ingest",
    (s, d) => {
      import s.implicits._
      val parsed = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("text"))
        .as[(String, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (src, it) =>
          val docs = it.toSeq.sortBy(_._2)
          val info = Warc.WarcRecord(Seq(
            "WARC-Type" -> "warcinfo",
            "WARC-Record-ID" -> s"<urn:graft:$src:info>",
            "WARC-Date" -> WarcDate,
            "Content-Type" -> "application/warc-fields"),
            s"software: graft\r\nshard: $src\r\n".getBytes("US-ASCII"))
          val recs = info +: docs.map { case (_, id, t) =>
            Warc.WarcRecord(Seq(
              "WARC-Type" -> "conversion",
              "WARC-Record-ID" -> s"<urn:graft:$id:0>",
              "WARC-Target-URI" -> s"http://graft.test/$id",
              "WARC-Date" -> WarcDate,
              "Content-Type" -> "text/plain"),
              t.getBytes("US-ASCII"))
          }
          (src, Warc.writeWarcGz(recs))
        }
        .flatMap { case (src, bytes) =>
          Warc.parseWarcGz(bytes)
            .filter(_.warcType.contains("conversion"))
            .map { r =>
              val uri = r.header("WARC-Target-URI").get
              (src, uri.substring(uri.lastIndexOf('/') + 1).toLong,
                new String(r.payload, "US-ASCII"))
            }
        }
        .toDF("source", "doc_id", "text")
      parsed.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"),
        sum(length(col("text"))).cast("long").as("total_bytes"),
        sum(size(split(col("text"), " "))).cast("long").as("total_toks"))
    },
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              min(doc_id) AS min_doc, max(doc_id) AS max_doc,
              CAST(sum(length(text)) AS BIGINT) AS total_bytes,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_toks
            FROM documents GROUP BY 1"""),
  )

  /** Q243 [X ingest]: HTML → text extraction
    * ([[graft.ext.TextAnalysis.htmlToText]]) — the WET-generation step a
    * crawl pipeline runs between WARC response records and clean corpus
    * text. Each doc's text is wrapped in a deterministic page exercising
    * every rule: an UPPERCASE STYLE element (case-insensitive span
    * removal), a script whose content contains `<`, quotes, and an
    * entity (element dropped whole, not tag-stripped), tag attributes,
    * entity-encoded brackets and `&amp;` in CONTENT (must survive as
    * text — tags strip before entities decode), and whitespace runs.
    * Both engines run their own regex engines over the same page; the
    * hash match pins the recipe to the Java-regex ∩ RE2 dialect.
    */
  val q243 = OracleQuery(
    "q243_html_to_text",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val id = col("doc_id").cast("string")
      val len = length(col("text"))
      val h = (len / lit(2)).cast("int")
      val first = substring(col("text"), lit(1), h)
      val second = substring(col("text"), h + 1, len - h)
      val html = concat(
        lit("<HTML><head><title>Doc "), id,
        lit("</title><STYLE>body { color: \"red\"; }</STYLE></head>" +
          "<body data-x=\"1\"><h1>Doc "), id,
        lit("</h1> <p>"), first,
        lit("</p><script type=\"text/js\">if (1 < 2) { x = \"&amp;\"; }" +
          "</script><p>"), second,
        lit("  &amp; tail &lt;b&gt; &#39;q&#39;&nbsp;end</p></body></html>"))
      docs.select(col("doc_id"),
        graft.ext.TextAnalysis.htmlToText(html).as("wet_text"))
        .withColumn("n_chars", length(col("wet_text")).cast("long"))
    },
    Some {
      val idStr = "CAST(doc_id AS VARCHAR)"
      val html =
        "'<HTML><head><title>Doc ' || " + idStr +
          " || '</title><STYLE>body { color: \"red\"; }</STYLE></head>" +
          "<body data-x=\"1\"><h1>Doc ' || " + idStr +
          " || '</h1> <p>' || substring(text, 1, length(text) // 2)" +
          " || '</p><script type=\"text/js\">if (1 < 2) { x = \"&amp;\"; }" +
          "</script><p>' || substring(text, length(text) // 2 + 1, " +
          "length(text) - length(text) // 2)" +
          " || '  &amp; tail &lt;b&gt; &#39;q&#39;&nbsp;end</p></body></html>'"
      s"""SELECT doc_id,
              ${graft.ext.TextAnalysis.htmlToTextSql(html)} AS wet_text,
              CAST(length(${graft.ext.TextAnalysis.htmlToTextSql(html)})
                AS BIGINT) AS n_chars
         FROM documents"""
    },
  )

  /** The deterministic trap-rich page q243/q244 wrap each doc's text in
    * — the JVM string twin of q243's Column construction (and of both
    * queries' SQL `||` chains): any drift between the three shows up as
    * an immediate hash mismatch.
    */
  private def pageFor(id: Long, text: String): String = {
    val h = text.length / 2
    "<HTML><head><title>Doc " + id +
      "</title><STYLE>body { color: \"red\"; }</STYLE></head>" +
      "<body data-x=\"1\"><h1>Doc " + id + "</h1> <p>" +
      text.substring(0, h) +
      "</p><script type=\"text/js\">if (1 < 2) { x = \"&amp;\"; }" +
      "</script><p>" + text.substring(h) +
      "  &amp; tail &lt;b&gt; &#39;q&#39;&nbsp;end</p></body></html>"
  }

  /** Q244 [X ingest]: the CRAWL-TO-CLEAN-TEXT capstone — the chain a
    * real Common Crawl ingest runs, end to end in one plan: each doc's
    * page rides as an HTTP RESPONSE inside a `WARC-Type: response`
    * record (status line + HTTP headers + HTML body — what actual crawl
    * WARCs carry; WET is derived downstream), gzipped per record; then
    * member-split → record walk → [[graft.ext.Warc.httpResponseParts]]
    * (body recovered BY OFFSET after the CRLFCRLF, an HTTP header
    * echoed out) → [[graft.ext.TextAnalysis.htmlToText]] → token count.
    * The twin rebuilds the page in SQL and replays extraction +
    * counting — a hash match certifies WARC framing, gzip boundaries,
    * HTTP splitting, and HTML extraction COMPOSED, not just each alone.
    */
  val q244 = OracleQuery(
    "q244_response_record_capstone",
    (s, d) => {
      import s.implicits._
      val parsed = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val html = pageFor(id, text)
          val httpBlock =
            ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
              s"X-Graft-Doc: $id\r\n\r\n").getBytes("US-ASCII") ++
              html.getBytes("US-ASCII")
          val rec = Warc.WarcRecord(Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:graft:$id:resp>",
            "WARC-Target-URI" -> s"http://graft.test/$id",
            "WARC-Date" -> WarcDate,
            "Content-Type" -> "application/http; msgtype=response"), httpBlock)
          val back = Warc.parseWarcGz(Warc.writeWarcGz(Seq(rec))).head
          val (code, headers, body) = Warc.httpResponseParts(back.payload)
          val echo = headers.collectFirst {
            case (k, v) if k.equalsIgnoreCase("X-Graft-Doc") => v
          }.getOrElse("?")
          (id, code, echo, new String(body, "US-ASCII"))
        }
        .toDF("doc_id", "status", "doc_echo", "html")
      parsed.select(col("doc_id"), col("status"), col("doc_echo"),
          graft.ext.TextAnalysis.htmlToText(col("html")).as("wet_text"))
        .select(col("doc_id"), col("status"), col("doc_echo"),
          length(col("wet_text")).cast("long").as("n_chars"),
          size(split(col("wet_text"), " ")).cast("long").as("n_toks"))
    },
    Some {
      val idStr = "CAST(doc_id AS VARCHAR)"
      val html =
        "'<HTML><head><title>Doc ' || " + idStr +
          " || '</title><STYLE>body { color: \"red\"; }</STYLE></head>" +
          "<body data-x=\"1\"><h1>Doc ' || " + idStr +
          " || '</h1> <p>' || substring(text, 1, length(text) // 2)" +
          " || '</p><script type=\"text/js\">if (1 < 2) { x = \"&amp;\"; }" +
          "</script><p>' || substring(text, length(text) // 2 + 1, " +
          "length(text) - length(text) // 2)" +
          " || '  &amp; tail &lt;b&gt; &#39;q&#39;&nbsp;end</p></body></html>'"
      val wet = graft.ext.TextAnalysis.htmlToTextSql(html)
      s"""SELECT doc_id, CAST(200 AS INTEGER) AS status,
              CAST(doc_id AS VARCHAR) AS doc_echo,
              CAST(length($wet) AS BIGINT) AS n_chars,
              CAST(len(string_split($wet, ' ')) AS BIGINT) AS n_toks
         FROM documents"""
    },
  )

  /** Q246 [X ingest]: WET EXPORT → FILESYSTEM → IMPORT — the sink half
    * ([[graft.ops.WarcCorpus.writeWet]]) certified through REAL files:
    * the corpus exports as 8 `.warc.gz` shards (source encoded in the
    * URL host), `binaryFile` + the member splitter read them back, and
    * the reconstructed corpus aggregates per source against the direct
    * `documents` twin. Where q236–q238 prove the CODEC in memory, this
    * proves the on-disk interchange: any standard WARC reader could
    * consume what the sink wrote. Collect-and-clean (20 rows) so no
    * corpus copy leaks into /tmp per run.
    */
  val q246 = OracleQuery(
    "q246_wet_export_import",
    (s, d) => Scratch.withTempDir("graft_wet_") { outPath =>
      val out = outPath.toString + "/wet"
      graft.ops.WarcCorpus.writeWet(
        Tables.documents(s, d).select(
          concat(lit("http://"), col("source"), lit(".test/"),
            col("doc_id").cast("string")).as("url"),
          lit(WarcDate).as("date"), col("text")),
        out, shards = 8)
      val back = graft.ops.WarcCorpus.wetDocuments(
        graft.ops.WarcCorpus.readWarc(s, s"$out/*.warc.gz", gz = true))
        .select(
          regexp_extract(col("url"), "^http://([^.]+)\\.test/", 1)
            .as("source"),
          regexp_extract(col("url"), "/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("text"))
      val agg = back.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"),
        sum(length(col("text"))).cast("long").as("total_bytes"),
        sum(size(split(col("text"), " "))).cast("long").as("total_toks"))
      Scratch.collectLocal(agg)
    },
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              min(doc_id) AS min_doc, max(doc_id) AS max_doc,
              CAST(sum(length(text)) AS BIGINT) AS total_bytes,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_toks
            FROM documents GROUP BY 1"""),
  )

  /** Q254 [X]: TFRECORD export → import round trip — the TF training
    * interchange sink ([[graft.ops.TfRecord]], the JSONL/WET siblings'
    * third format): every doc serialized as a framed `tf.train.Example`
    * (int64 scalar + bytes + PACKED int64 list + PACKED float32 list
    * features — all four wire shapes on every record), written as 4
    * committed shards, read back by the strict CRC-verifying parser,
    * and emitted per-doc. The twin never sees the round trip (plain
    * SELECT over documents) — a hash match proves the
    * proto-encode → frame → shard → parse chain loses nothing. Float
    * parity: the f32 feature is `float(n_chars)/4` (exact: n_chars <
    * 2^24 and a power-of-two divisor), widened back to double on both
    * sides.
    */
  val q254 = OracleQuery(
    "q254_tfrecord_roundtrip",
    (s, d) => Scratch.withTempDir("graft_tfr_") { outPath =>
      import org.apache.spark.sql.types._
      val out = outPath.toString + "/tfr"
      graft.ops.TfRecord.write(
        Tables.documents(s, d).select(
          col("doc_id"), col("text"), col("source"), col("n_chars"),
          transform(split(col("text"), " "), w => length(w).cast("long"))
            .as("toks"),
          array((col("n_chars").cast("float") / lit(4)).cast("float"))
            .as("f")),
        out, shards = 4)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("source", StringType), StructField("n_chars", LongType),
        StructField("toks", ArrayType(LongType)),
        StructField("f", ArrayType(FloatType))))
      Scratch.collectLocal(graft.ops.TfRecord.read(s, out, schema)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"),
          aggregate(col("toks"), lit(0L), (a, x) => a + x).as("tok_sum"),
          element_at(col("f"), 1).cast("double").as("f0")))
    },
    Some("""SELECT doc_id, text, source, n_chars,
              CAST(list_sum(list_transform(string_split(text, ' '),
                w -> length(w))) AS BIGINT) AS tok_sum,
              CAST(CAST(n_chars AS FLOAT) / 4 AS DOUBLE) AS f0
            FROM documents"""),
  )

  /** The chrome-rich page q262 wraps each doc's text in — shared
    * literal PIECES build both the Column and the SQL `||` chain, so
    * the two cannot drift. Every boilerplate class is planted: nav
    * list items (short), a link-wall block and a link-dense footer
    * (nav by link density), a heading (short), a script whose CONTENT
    * is a high-stopword fake `<p>` block (must vanish whole — if the
    * script survived to the splitter it would fabricate a `good`
    * block and shift every count), and two content blocks carrying
    * the doc's own text (classified good/low by the doc's own
    * stopword density — the gate discriminates per document, it is
    * not a fixture constant). No piece contains a single quote (they
    * ride inside SQL string literals).
    */
  private val Cp0 = "<html><head><title>Doc "
  private val Cp1 = "</title><style>p { margin: 0 }</style></head><body>" +
    "<nav><ul><li><a href=\"/\">Home</a></li>" +
    "<li><a href=\"/about\">About</a></li></ul>" +
    "<p><a href=\"/arch\">Archive of older articles</a> " +
    "<a href=\"/cat\">Catalog of all products</a> " +
    "<a href=\"/dir\">Directory of member pages</a></p></nav>" +
    "<h1>Doc overview page</h1><p>"
  private val Cp2 = "</p><script>var x = \"<p>the the the of of it is a " +
    "long fake block of text</p>\";</script><div>"
  private val Cp3 = " &amp; the end of it</div><footer><p>" +
    "<a href=\"/privacy\">Privacy policy and terms</a> " +
    "<a href=\"/imprint\">Imprint plus legal notice text</a> (c)</p>" +
    "</footer></body></html>"

  /** Q262 [X curation]: MAIN-CONTENT EXTRACTION
    * ([[graft.ext.MainContent]]) — the jusText-style block-level
    * boilerplate classifier between q243's whole-page strip and the
    * corpus: split on block tags, classify each block by clean
    * length, link density (integer cross-multiplied), and stopword
    * density, keep the content blocks in document order. The twin
    * replays the full recipe (same split regex, same cleanup chain,
    * same integer comparisons) over the same reconstructed page, so
    * the hash match certifies splitting, anchor-span accounting,
    * per-block tokenization, classification, AND the ordered
    * reassembly — per document, against chrome planted to trip each
    * rule.
    */
  val q262 = OracleQuery(
    "q262_main_content",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val id = col("doc_id").cast("string")
      val len = length(col("text"))
      val h = (len / lit(2)).cast("int")
      val page = concat(lit(Cp0), id, lit(Cp1),
        substring(col("text"), lit(1), h), lit(Cp2),
        substring(col("text"), h + 1, len - h), lit(Cp3))
      graft.ext.MainContent.extract(docs, "doc_id", page)
    },
    Some {
      val page = s"'$Cp0' || CAST(doc_id AS VARCHAR) || '$Cp1' || " +
        "substring(text, 1, length(text) // 2) || " +
        s"'$Cp2' || " +
        "substring(text, length(text) // 2 + 1, " +
        "length(text) - length(text) // 2) || " +
        s"'$Cp3'"
      graft.ext.MainContent.extractSql("documents", "doc_id", page)
    },
  )

  val all: Seq[OracleQuery] =
    Seq(q236, q237, q238, q243, q244, q246, q254, q262)
}
