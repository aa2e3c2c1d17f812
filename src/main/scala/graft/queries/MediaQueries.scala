package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Multimodal
import StubCodecSql.{aHashSql, pow2Cte, signed64}

/** Multimodal fingerprint queries: the perceptual-hash (aHash) image
  * dedup family over documents-as-payloads — the IMAGE sibling of the
  * token (simhash, q109/q111/q117), embedding (SRP, q148–q150), and
  * string (edit distance, q143/q144) fingerprint families. The stub
  * codec's deterministic decode makes every hash independently
  * recomputable by the DuckDB twin ([[StubCodecSql.phashSql]], the
  * q33/q34/q57 HUGEINT-mod-2^64 discipline), so the whole chain —
  * decode, resize, hash, band join, Hamming verify — is hash-checked,
  * not rows-only. Extension surface [X]; the reference has no media ops
  * (cf. `/root/reference/README.md` scope).
  */
object MediaQueries {

  /** Q158 [X]: per-image 64-bit aHash signature — decode → 8×8
    * nearest-neighbor resize → strict `p·64 > Σp` bits. The twin
    * recomputes every hash from the text payload alone, so a match
    * certifies decode dimensions, resize index arithmetic, the integer
    * bit rule, and two's-complement assembly all at once.
    */
  val q158 = OracleQuery(
    "q158_phash_signature",
    (s, d) => Multimodal.frameHashes(
      Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"),
      Seq(0)).toDF().select(col("media_id"), col("ph")),
    Some(s"""WITH sig AS (${StubCodecSql.phashSql(Seq(0))})
         SELECT media_id, ph FROM sig"""),
  )

  /** Q159 [X]: VIDEO-FRAME near-dup pairs — frames 0 and 1 of every
    * payload (the stub shifts pixels by +7 mod 256 per frame, so
    * same-payload frames are genuine near-identical images: only pixels
    * wrapping past 255 flip bits), all pairs within Hamming distance 4
    * via the shared band pigeonhole. Same-video frame pairs dominate;
    * unrelated images (independent hashes) stay apart. Pair ids pack as
    * media_id·16 + frame_idx. The twin brute-forces the n²/2
    * XOR-popcounts over independently recomputed hashes — all-integer,
    * no parity surface.
    */
  val q159 = OracleQuery(
    "q159_phash_near_dup",
    (s, d) => Multimodal.phashNearDupPairs(
      Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"),
      frames = Seq(0, 1), maxDist = 4),
    Some(s"""WITH sig AS (${StubCodecSql.phashSql(Seq(0, 1))}),
              ids AS (SELECT media_id * 16 + frame_idx AS id, ph FROM sig)
         SELECT a.id AS doc_a, b.id AS doc_b,
                CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS dist
         FROM ids a JOIN ids b ON b.id > a.id
         WHERE bit_count(xor(a.ph, b.ph)) <= 4"""),
  )

  /** Shared twin for q160/q177: re-encoded (frame-1) arrivals against
    * the frame-0 corpus fingerprints at radius 4.
    */
  private val phashProbeSql: String =
    s"""WITH sig AS (${StubCodecSql.phashSql(Seq(0, 1))})
         SELECT a.media_id AS doc_a, b.media_id AS doc_b,
                CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS dist
         FROM sig a JOIN sig b
           ON a.frame_idx = 1 AND b.frame_idx = 0
         WHERE bit_count(xor(a.ph, b.ph)) <= 4"""

  /** Q160 [X]: INCREMENTAL perceptual-hash probe under RE-ENCODING — the
    * arriving batch is every payload's frame-1 variant (the stub's
    * stand-in for a re-encoded/brightness-shifted re-upload of a corpus
    * image) probing the frozen frame-0 signature table at radius 4: the
    * IMAGE member of the incremental ingest family
    * (q112/q113/q114/q117/q144/q150), demonstrating the property exact
    * hashing cannot give — the re-encode still matches its original
    * (dist ≈ #pixels wrapping past 255, a few bits), while unrelated
    * images stay far. O(batch); the corpus decode+hash pass is paid
    * once. The twin brute-forces the cross-frame XOR-popcounts.
    */
  val q160 = OracleQuery(
    "q160_incremental_phash",
    (s, d) => {
      val media = Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text")
      val corpusSig = Multimodal.frameHashes(media, Seq(0)).toDF()
      Multimodal.incrementalPhashPairs(corpusSig, media, maxDist = 4,
        frame = 1)
    },
    Some(phashProbeSql),
  )

  /** Q177 [X]: the perceptual-hash index AT REST
    * (`IndexStore.writeSignatures` / `loadSignatures` — fingerprint
    * tables hive-bucketed by low hash bits: bounded files, and the
    * dist-0 ingest fast path gets true partition pruning) — write the
    * frame-0 corpus fingerprints, load them back, and run q160's
    * re-encode probe from the LOADED store: hash-equality with q160's
    * twin certifies the store round-trips losslessly (the q115/q116
    * persisted-index discipline, image member).
    */
  val q177 = OracleQuery(
    "q177_phash_index_store",
    (s, d) => Scratch.withTempDir("graft_phsig_") { outPath =>
      val media = Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text")
      val out = outPath.toString
      graft.ext.IndexStore.writeSignatures(
        Multimodal.frameHashes(media, Seq(0)).toDF(), out)
      Scratch.collectLocal(Multimodal.incrementalPhashPairs(
        graft.ext.IndexStore.loadSignatures(s, out), media,
        maxDist = 4, frame = 1))
    },
    Some(phashProbeSql),
  )

  /** Q176 [X]: audio VOICE-ACTIVITY segmentation
    * (`Multimodal.voiceActivity`) — contiguous runs of 1024-sample
    * chunks with RMS ≥ 18900 (the stub stream's RMS concentrates near
    * 32768/√3 ≈ 18918, so the threshold genuinely splits chunks):
    * gaps-and-islands on the audio axis, the waveform →
    * speech-segments step. The RMS under the comparison is sqrt of an
    * exact integer sum — the identical double on both engines — so the
    * threshold adds no parity surface; everything else is integer.
    */
  val q176 = OracleQuery(
    "q176_voice_activity",
    (s, d) => Multimodal.voiceActivity(
      Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"),
      window = 1024, tau = 18900.0),
    Some(voiceRunsSql(s"""${StubCodecSql.audioChunksCte},
              act AS (SELECT media_id, CAST(chunk AS INTEGER) AS chunk
                      FROM ch WHERE rms >= 18900.0)""")),
  )

  /** Twin of `Multimodal.voiceActivity`'s run cut (q176, q188): `ctes`
    * end in `act(media_id, chunk)`, the voiced chunks; consecutive chunks
    * form one run (gaps-and-islands: chunk − row_number is constant along
    * a run), numbered per payload by start chunk.
    */
  private def voiceRunsSql(ctes: String): String =
    s"""WITH $ctes,
         g AS (SELECT media_id, chunk,
                chunk - row_number() OVER (PARTITION BY media_id
                                           ORDER BY chunk) AS grp
               FROM act),
         r AS (SELECT media_id, grp,
                min(chunk) AS start_chunk, max(chunk) AS end_chunk,
                CAST(count(*) AS BIGINT) AS n_chunks
               FROM g GROUP BY 1, 2)
        SELECT media_id,
               CAST(row_number() OVER (PARTITION BY media_id
                 ORDER BY start_chunk) AS INTEGER) AS run_idx,
               start_chunk, end_chunk, n_chunks
        FROM r"""

  /** Twin of `Multimodal.cdcChunks` — per (payload, chunk): boundary
    * detection from the 8-byte trailing-window Rabin hash (the window
    * powers 257^k for k < 8 stay under 2^63, so only the final sum wraps
    * mod 2^64), forced last-byte boundary, chunk ids by prefix-counting
    * boundaries, and the per-chunk polynomial content hash via a
    * recursive powers-of-257 table (exponent = chunk-end − position;
    * per-term mod keeps everything under HUGEINT). Negative/overflowing
    * list indexes inside the window expression are guarded by the
    * `p ≥ window` conjunct (FALSE AND garbage = FALSE — never an error).
    * Signed conversion once at the end, the q111 discipline.
    */
  private def cdcSql(window: Int, maskBits: Int): String = {
    val B = 257L
    val M = "18446744073709551616"
    val pows = (0 until window).map(k => BigInt(B).pow(k))
    val terms = (0 until window)
      .map(k => s"bs[p.p - $k] * ${pows(k)}::HUGEINT").mkString(" + ")
    s"""WITH RECURSIVE
         pw(k, v) AS (SELECT 0, 1::HUGEINT UNION ALL
                      SELECT k + 1, (v * $B) % $M::HUGEINT
                      FROM pw WHERE k < 1024),
         lb AS (SELECT doc_id AS media_id,
                  list_transform(string_split(text, ''),
                    c -> CAST(ord(c) AS HUGEINT)) AS bs,
                  len(text) AS n
                FROM documents),
         pos AS (SELECT media_id, n, p.p AS p,
                  CASE WHEN p.p = n THEN 1
                       WHEN p.p >= $window AND
                            ((($terms) % $M::HUGEINT) % ${1L << maskBits}) = 0
                       THEN 1 ELSE 0 END AS bnd
                 FROM lb, unnest(generate_series(1, n)) AS p(p)),
         cid AS (SELECT media_id, p, bnd,
                  coalesce(sum(bnd) OVER (PARTITION BY media_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS chunk_idx
                 FROM pos),
         chs AS (SELECT media_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
                  CAST(min(p) - 1 AS INTEGER) AS start,
                  CAST(count(*) AS INTEGER) AS len
                 FROM cid GROUP BY 1, 2),
         cb AS (SELECT cid.media_id, cid.chunk_idx, cid.p,
                  lb.bs[cid.p] AS bv,
                  max(cid.p) OVER (PARTITION BY cid.media_id, cid.chunk_idx)
                    - cid.p AS e
                FROM cid JOIN lb USING (media_id)),
         ch AS (SELECT media_id, chunk_idx,
                  (sum((bv * pw.v) % $M::HUGEINT) % $M::HUGEINT) AS u
                FROM cb JOIN pw ON pw.k = cb.e GROUP BY 1, 2)
        SELECT chs.media_id, chs.chunk_idx, chs.start, chs.len,
               ${signed64("ch.u")} AS chash
        FROM chs JOIN ch USING (media_id, chunk_idx)"""
  }

  /** Q181 [X]: content-defined chunking (`Multimodal.cdcChunks`) — Rabin
    * rolling-hash boundaries (8-byte window, 6 mask bits → E[len] 64)
    * over every payload: the binary-dedup backbone whose boundaries
    * re-align after insertions, which fixed-size chunking cannot do.
    * The twin independently re-derives boundaries, chunk extents, and
    * the wrapping polynomial content hash of every chunk.
    */
  val q181 = OracleQuery(
    "q181_cdc_chunks",
    (s, d) => Multimodal.cdcChunks(
      Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"),
      window = 8, maskBits = 6).toDF(),
    Some(cdcSql(window = 8, maskBits = 6)),
  )

  /** Q182 [X]: cross-payload CDC chunk dedup summary
    * (`Multimodal.cdcDedupStats`) — the byte dedup ratio a
    * content-addressed chunk store realizes over this corpus: total vs
    * distinct (chash, len) chunk bytes. All integer but the final ratio.
    */
  val q182 = OracleQuery(
    "q182_cdc_dedup_stats",
    (s, d) => Multimodal.cdcDedupStats(Multimodal.cdcChunks(
      Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"),
      window = 8, maskBits = 6).toDF()),
    Some(s"""WITH ck AS (${cdcSql(window = 8, maskBits = 6)}),
              g AS (SELECT chash, len, CAST(count(*) AS BIGINT) AS c
                    FROM ck GROUP BY 1, 2)
         SELECT CAST(sum(c) AS BIGINT) AS n_chunks,
                CAST(sum(c * len) AS BIGINT) AS n_bytes,
                CAST(count(*) AS BIGINT) AS uniq_chunks,
                CAST(sum(len) AS BIGINT) AS uniq_bytes,
                round(1.0 - CAST(sum(len) AS DOUBLE) /
                      CAST(sum(c * len) AS DOUBLE), 6) AS dedup_ratio
         FROM g"""),
  )

  /** Q184 [X]: incremental CDC byte delta — the 10%-of-ids batch of
    * payloads chunked and probed against the frozen chunk-hash table of
    * the other 90% (`Multimodal.incrementalCdcBytes`): per arriving
    * payload, how many bytes a content-addressed store would actually
    * ingest. The BINARY member of the incremental ingest family;
    * O(batch). The twin re-derives both sides' chunks and the byte
    * arithmetic.
    */
  val q184 = OracleQuery(
    "q184_incremental_cdc",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = Multimodal.cdcChunks(Multimodal.asMedia(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")).toDF()
      Multimodal.incrementalCdcBytes(corpus,
        Multimodal.asMedia(docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text"))
    },
    Some(s"""WITH ck AS (${cdcSql(window = 8, maskBits = 6)}),
              c AS (SELECT DISTINCT chash, len FROM ck
                    WHERE media_id % 10 != 0),
              b AS (SELECT * FROM ck WHERE media_id % 10 = 0),
              j AS (SELECT b.media_id, b.len,
                     CASE WHEN c.chash IS NOT NULL THEN 1 ELSE 0 END AS seen
                    FROM b LEFT JOIN c
                      ON c.chash = b.chash AND c.len = b.len)
         SELECT media_id, CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(sum(len) AS BIGINT) AS n_bytes,
                CAST(sum(CASE WHEN seen = 0 THEN len ELSE 0 END) AS BIGINT)
                  AS new_bytes,
                round(CAST(sum(CASE WHEN seen = 0 THEN len ELSE 0 END)
                        AS DOUBLE) / sum(len), 6) AS new_frac
         FROM j GROUP BY 1"""),
  )

  /** Q185 [X]: the MEDIA curation capstone — one corpus report composing
    * the three modality families (the q129 text-capstone pattern): how
    * many payloads are perceptual-duplicate images (non-singleton
    * frame-0 aHash groups), what fraction of audio chunks clear the
    * voice-activity gate (and how many runs they form), and what byte
    * dedup ratio the CDC chunk store realizes. Every ingredient is an
    * already-hash-verified kernel (q158/q176/q182); the capstone proves
    * they compose in ONE plan. Output: 1 row.
    */
  val q185 = OracleQuery(
    "q185_media_report",
    (s, d) => {
      val media = Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text")
      val dupImg = Multimodal.frameHashes(media, Seq(0)).toDF()
        .groupBy("ph").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("__g"),
          coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
            .as("n_dup_images"),
          sum(col("c")).as("n_media"))
        .select(col("n_media"), col("n_dup_images"))
      val ch = Multimodal.audioChunks(media, 1024).toDF()
        .withColumn("voiced", (col("rms") >= 18900.0).cast("long"))
      val va = ch.agg(count(lit(1)).as("__n"), sum(col("voiced")).as("__v"))
        .select(round(col("__v").cast("double") / col("__n"), 6)
          .as("voiced_frac"))
      val runs = Multimodal.voiceActivity(media, 1024, 18900.0)
        .agg(count(lit(1)).as("n_voice_runs"))
      val cdc = Multimodal.cdcDedupStats(Multimodal.cdcChunks(media).toDF())
        .select(col("dedup_ratio").as("cdc_dedup_ratio"))
      dupImg.crossJoin(va).crossJoin(runs).crossJoin(cdc)
    },
    Some(s"""WITH sig AS (${StubCodecSql.phashSql(Seq(0))}),
              hg AS (SELECT ph, CAST(count(*) AS BIGINT) AS c
                     FROM sig GROUP BY 1),
              di AS (SELECT CAST(sum(c) AS BIGINT) AS n_media,
                      CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0)
                           AS BIGINT) AS n_dup_images
                     FROM hg),
              ${StubCodecSql.audioChunksCte},
              va AS (SELECT round(CAST(sum(CASE WHEN rms >= 18900.0
                        THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                        AS voiced_frac
                     FROM ch),
              vv AS (SELECT media_id, CAST(chunk AS INTEGER) AS chunk
                     FROM ch WHERE rms >= 18900.0),
              vg AS (SELECT media_id, chunk,
                      chunk - row_number() OVER (PARTITION BY media_id
                                                 ORDER BY chunk) AS grp
                     FROM vv),
              vr AS (SELECT CAST(count(*) AS BIGINT) AS n_voice_runs
                     FROM (SELECT DISTINCT media_id, grp FROM vg)),
              ck AS (${cdcSql(window = 8, maskBits = 6)}),
              cg AS (SELECT chash, len, CAST(count(*) AS BIGINT) AS c
                     FROM ck GROUP BY 1, 2),
              cd AS (SELECT round(1.0 - CAST(sum(len) AS DOUBLE) /
                        CAST(sum(c * len) AS DOUBLE), 6) AS cdc_dedup_ratio
                     FROM cg)
         SELECT di.n_media, di.n_dup_images, va.voiced_frac,
                vr.n_voice_runs, cd.cdc_dedup_ratio
         FROM di, va, vr, cd"""),
  )

  /** Q186 [X]: image near-dup CLUSTERS (`Multimodal.phashClusters`) —
    * the frame-0 perceptual-hash graph at radius 4 closed into min-id
    * components with keeper flags through the shared clustering engine:
    * the image member completing the clustering family
    * (q41/q146/q156). The twin closes the brute fingerprint edge set
    * with a recursive CTE, labeling identically by minimum reachable id.
    */
  val q186 = OracleQuery(
    "q186_phash_clusters",
    (s, d) => Multimodal.phashClusters(
      Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"),
      maxDist = 4),
    Some(s"""WITH RECURSIVE sig AS (${StubCodecSql.phashSql(Seq(0))}),
              e0 AS (SELECT a.media_id AS a, b.media_id AS b
                     FROM sig a JOIN sig b ON b.media_id > a.media_id
                     AND bit_count(xor(a.ph, b.ph)) <= 4),
              u AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
              lab AS (SELECT media_id AS node, media_id AS label FROM sig
                      UNION
                      SELECT u.a AS node, lab.label FROM lab
                      JOIN u ON u.b = lab.node),
              cl AS (SELECT node AS media_id, min(label) AS cluster_id,
                            CAST(CASE WHEN min(label) = node
                                 THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
                     FROM lab GROUP BY node)
         SELECT media_id, cluster_id, is_keeper FROM cl"""),
  )

  /** Q187 [X]: incremental IMAGE-cluster assignment — the 10%-of-ids
    * batch of payloads adopts q186-style corpus cluster labels through
    * the frozen frame-0 signature table
    * (`Multimodal.assignToPhashClusters`): min-label adoption, no bridge
    * merging, novel images found their own cluster — the image sibling
    * of q119 (LSH), q147 (edit), and q157 (SRP), completing the online
    * clustering family across all four modalities. The twin closes the
    * corpus edges with a recursive CTE and brute-forces the cross-split
    * adoption join.
    */
  val q187 = OracleQuery(
    "q187_assign_phash_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = Multimodal.asMedia(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val batch = Multimodal.asMedia(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      val corpusSig = Multimodal.frameHashes(corpus, Seq(0)).toDF()
      Multimodal.assignToPhashClusters(
        Multimodal.phashClusters(corpus, maxDist = 4),
        corpusSig, batch, maxDist = 4)
    },
    Some(s"""WITH RECURSIVE sig AS (${StubCodecSql.phashSql(Seq(0))}),
              cs AS (SELECT * FROM sig WHERE media_id % 10 != 0),
              bs AS (SELECT * FROM sig WHERE media_id % 10 = 0),
              e0 AS (SELECT a.media_id AS a, b.media_id AS b
                     FROM cs a JOIN cs b ON b.media_id > a.media_id
                     AND bit_count(xor(a.ph, b.ph)) <= 4),
              u AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
              lab AS (SELECT media_id AS node, media_id AS label FROM cs
                      UNION
                      SELECT u.a AS node, lab.label FROM lab
                      JOIN u ON u.b = lab.node),
              clab AS (SELECT node AS media_id, min(label) AS cluster_id
                       FROM lab GROUP BY node),
              m AS (SELECT b.media_id AS bid, c.media_id AS cid
                    FROM bs b JOIN cs c
                    ON bit_count(xor(b.ph, c.ph)) <= 4),
              ad AS (SELECT m.bid AS media_id, min(clab.cluster_id) AS cl
                     FROM m JOIN clab ON clab.media_id = m.cid GROUP BY 1)
         SELECT b.media_id, coalesce(ad.cl, b.media_id) AS cluster_id,
                CAST(CASE WHEN coalesce(ad.cl, b.media_id) = b.media_id
                     THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
         FROM bs b LEFT JOIN ad ON ad.media_id = b.media_id"""),
  )

  /** Deterministic 16-bit sample formula shared by q188 and its twin:
    * `s_j = ((doc_id + 1) · 2654435761 + j · (40503 + 2·doc_id)) mod 2^16
    * − 32768` — the per-doc ODD stride decorrelates docs (a shared
    * stride would make every doc the same sequence phase-shifted by a
    * constant, collapsing cross-doc fingerprint distances) —
    * all-BIGINT arithmetic both engines execute exactly. Sample count
    * varies per doc (`3200 + (id%5)·160 + id%7`) so the final PARTIAL
    * window is exercised.
    */
  private def wavMedia(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    Multimodal.idsAtFullWidth(Tables.documents(s, d), "doc_id").map { id =>
      val n = 3200 + (id % 5).toInt * 160 + (id % 7).toInt
      val samples = Array.tabulate(n)(j =>
        (((id + 1) * 2654435761L + j.toLong * (40503L + 2L * id)) % 65536L).toInt - 32768)
      Multimodal.MediaRow(id, graft.ext.Containers.wavBytes(samples))
    }
  }

  /** Q188 [X]: voice-activity detection through a REAL WAV container —
    * each doc's deterministic PCM samples are serialized into an actual
    * RIFF/WAVE byte stream ([[graft.ext.Containers.wavBytes]]: fmt +
    * LIST/INFO + data chunks, WORD-aligned) and decoded back by the
    * real chunk-walking parser ([[Containers.decodeWav]]) feeding the
    * q176 VAD kernel. The twin recomputes the samples ARITHMETICALLY —
    * a hash match proves the encode → parse chain is lossless through
    * the container layout (a parser that assumed "data at byte 44"
    * would read the LIST chunk as samples and hash garbage). Closes the
    * "stub codec only" caveat for the audio modality.
    */
  val q188 = OracleQuery(
    "q188_wav_container_vad",
    (s, d) => Multimodal.voiceActivity(wavMedia(s, d), window = 160,
      tau = 18900.0, decode = graft.ext.Containers.decodeWav),
    Some(voiceRunsSql("""d AS (SELECT doc_id,
                     3200 + (doc_id % 5) * 160 + doc_id % 7 AS n
                   FROM documents),
              s AS (SELECT doc_id,
                     unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS j
                   FROM d),
              v AS (SELECT doc_id, j // 160 AS chunk,
                     ((doc_id + 1) * 2654435761 + j * (40503 + 2 * doc_id)) % 65536 - 32768
                       AS smp
                   FROM s),
              ch AS (SELECT doc_id AS media_id,
                      CAST(chunk AS INTEGER) AS chunk,
                      sum(smp * smp) AS ss, count(*) AS cnt
                    FROM v GROUP BY 1, 2),
              act AS (SELECT media_id, chunk FROM ch
                    WHERE sqrt(CAST(ss AS DOUBLE) / cnt) >= 18900.0)""")),
  )

  /** aHash twin of the formula-built frames (q189, q192, q203, q204,
    * q219): per doc a `w` × `h` frame, for frames f < `frames` and aHash
    * cell i the nearest-neighbor source index
    * `s = (y·h div 8)·w + (x·w div 8)`, and the pixel there as the SQL
    * expression `value` of (doc_id, s, f). Output (media_id, frame_idx,
    * ph) as [[StubCodecSql.aHashSql]].
    */
  private def formulaAHashSql(w: String, h: String, frames: Int,
      value: String): String =
    aHashSql(s"""d AS (SELECT doc_id, $w AS w, $h AS h FROM documents),
         cell AS (SELECT doc_id, CAST(f.f AS INTEGER) AS f, g.i AS i,
                   (((g.i // 8) * h) // 8) * w + ((g.i % 8) * w) // 8 AS s
                  FROM d, unnest(generate_series(0, 63)) AS g(i),
                       unnest(generate_series(0, ${frames - 1})) AS f(f)),
         px AS (SELECT doc_id AS media_id, f AS frame_idx, i, $value AS v
                FROM cell)""")

  /** Q189 [X]: perceptual hash through a REAL BMP container — each
    * doc's deterministic gray frame (`v = ((id+1)·131 + idx·17) mod
    * 256`, width 13..21 so the 4-byte row padding is NONZERO, height
    * 11..17) is serialized as an actual 24 bpp bottom-up BMP
    * ([[graft.ext.Containers.bmpBytes]]) and parsed back by the real
    * header-honoring decoder feeding the q158 resize + aHash kernel.
    * The twin recomputes each 8×8 cell straight from the formula (the
    * nearest-neighbor source index is `(y·h/8)·w + x·w/8`) and
    * assembles the 64 bits in HUGEINT (q111 discipline) — a hash match
    * proves offset/padding/bottom-up handling is exact. The image
    * sibling of q188.
    */
  val q189 = OracleQuery(
    "q189_bmp_container_phash",
    (s, d) => {
      import s.implicits._
      // NOT widened (r17 A/B): the self-written BMP writer is too cheap
      // per row for the id exchange to pay off (0.21 → 0.30 s measured).
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 13 + (id % 9).toInt
          val h = 11 + (id % 7).toInt
          val px = Array.tabulate(w * h)(i =>
            (((id + 1) * 131L + i.toLong * 17L) % 256L).toInt)
          Multimodal.MediaRow(id,
            graft.ext.Containers.bmpBytes(Multimodal.Frame(w, h, px)))
        }
      Multimodal.frameHashes(media, Seq(0),
        decode = graft.ext.Containers.decodeBmp)
        .toDF().select(col("media_id"), col("ph"))
    },
    Some(s"""WITH sig AS (${formulaAHashSql("13 + doc_id % 9",
      "11 + doc_id % 7", frames = 1, "((doc_id + 1) * 131 + s * 17) % 256")})
         SELECT media_id, ph FROM sig"""),
  )

  /** Shared twin fragment for q190/q191: per-doc 65-window energies and
    * the HUGEINT bit assembly of the energy-delta fingerprint over the
    * q188 sample formula (every window is full: min n = 3200 > 3119,
    * the last sample index the fingerprint reads). `$half` scales the
    * batch samples: '' = corpus identity, the trunc form = the
    * half-amplitude re-encode (DuckDB trunc ≡ Java int division toward
    * zero — the CLAUDE.md cast discipline).
    *
    * Energy CTE must be AS MATERIALIZED: it is referenced twice (windows
    * b and b+1 self-join) and DuckDB 1.0 inlines multi-referenced CTEs
    * (the q165 lesson).
    */
  private def audioFpCtes(tag: String, scaled: Boolean): String = {
    val smp = "((doc_id + 1) * 2654435761 + j * (40503 + 2 * doc_id)) % 65536 - 32768"
    val v = if (scaled) s"CAST(trunc(($smp) / 2.0) AS BIGINT)" else smp
    val where = if (scaled) "WHERE doc_id % 10 = 0" else ""
    s"""e$tag AS MATERIALIZED (
          SELECT doc_id, CAST(j // 48 AS INTEGER) AS w, sum(smp * smp) AS e
          FROM (SELECT doc_id, j, $v AS smp
                FROM (SELECT doc_id,
                       unnest(generate_series(0,
                         CAST(65 * 48 - 1 AS BIGINT))) AS j
                      FROM documents $where))
          GROUP BY 1, 2),
        u$tag AS (
          SELECT a.doc_id AS media_id,
            sum(CASE WHEN b2.e > a.e THEN pw.v ELSE 0::HUGEINT END) AS u
          FROM e$tag a JOIN e$tag b2
            ON b2.doc_id = a.doc_id AND b2.w = a.w + 1
          JOIN pw ON pw.k = a.w
          WHERE a.w < 64
          GROUP BY 1)"""
  }

  /** Q190 [X]: 64-bit ENERGY-DELTA audio fingerprint through real WAV
    * containers (`Multimodal.audioFingerprint`, Haitsma & Kalker 2002):
    * bit b = window b+1's exact integer energy exceeds window b's, over
    * 65 48-sample windows of the PARSED RIFF stream. The twin
    * recomputes energies arithmetically — the audio member of the
    * fingerprint family (simhash q111, SRP q148, aHash q158), and a
    * second end-to-end certificate of the WAV codec on a different
    * read pattern than q188's VAD.
    */
  val q190 = OracleQuery(
    "q190_audio_fingerprint",
    (s, d) => Multimodal.audioFingerprint(wavMedia(s, d), window = 48,
      decode = graft.ext.Containers.decodeWav),
    Some(s"""WITH RECURSIVE $pow2Cte,
              ${audioFpCtes("c", scaled = false)}
         SELECT media_id, ${signed64("u")} AS afp FROM uc"""),
  )

  /** Q191 [X]: INCREMENTAL audio near-dup probe under RE-ENCODING — the
    * arriving batch is every 10%-of-ids doc's HALF-AMPLITUDE re-encode
    * (samples integer-halved, re-serialized through the real WAV
    * writer) probing the frozen corpus fingerprint table at radius 6:
    * the audio member of the incremental family (q117/q150/q160/q144).
    * Energy-delta signs are exactly invariant under clean scaling;
    * integer truncation only flips near-tie windows — so each
    * re-encode lands on its original at small distance while unrelated
    * streams (≈32 bits apart) stay silent. O(batch) banded probe. The
    * twin brute-forces the cross XOR-popcounts over independently
    * recomputed fingerprints.
    */
  val q191 = OracleQuery(
    "q191_incremental_audio_fp",
    (s, d) => {
      import s.implicits._
      val corpusFp = Multimodal.audioFingerprint(wavMedia(s, d),
        window = 48, decode = graft.ext.Containers.decodeWav)
      val batch = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0).select(col("doc_id")).as[Long]
        .map { id =>
          val n = 3200 + (id % 5).toInt * 160 + (id % 7).toInt
          val samples = Array.tabulate(n) { j =>
            val raw = (((id + 1) * 2654435761L +
              j.toLong * (40503L + 2L * id)) % 65536L).toInt - 32768
            raw / 2 // re-encode: half amplitude, truncation toward zero
          }
          Multimodal.MediaRow(id, graft.ext.Containers.wavBytes(samples))
        }
      Multimodal.incrementalAudioPairs(corpusFp, batch, window = 48,
        maxDist = 6, decode = graft.ext.Containers.decodeWav)
    },
    Some(s"""WITH RECURSIVE $pow2Cte,
              ${audioFpCtes("c", scaled = false)},
              ${audioFpCtes("b", scaled = true)},
              c AS (SELECT media_id, ${signed64("u")} AS afp FROM uc),
              bf AS (SELECT media_id, ${signed64("u")} AS afp FROM ub
                     WHERE media_id % 10 = 0)
         SELECT b.media_id AS doc_a, c.media_id AS doc_b,
                CAST(bit_count(xor(b.afp, c.afp)) AS BIGINT) AS dist
         FROM bf b JOIN c ON bit_count(xor(b.afp, c.afp)) <= 6"""),
  )

  /** Q192 [X]: per-frame perceptual hashes through a REAL AVI container —
    * each doc's 3 deterministic frames (`v = ((id+1)·131 + idx·17 + f·7)
    * mod 256`, q189's padded geometry) are serialized as an actual RIFF
    * 'AVI ' form (hdrl with avih/strh/strf, movi LIST of '00db' DIB
    * chunks — [[graft.ext.Containers.aviBytes]]) and parsed back by the
    * real nested-LIST walker ([[Containers.decodeAvi]]: dimensions come
    * from the strf BITMAPINFOHEADER, frames from the movi chunks) into
    * the q158 resize + aHash kernel. The twin recomputes every cell
    * arithmetically — a hash match certifies the multi-frame container
    * round-trip, closing the real-container story for the VIDEO
    * modality (WAV q188/q190, BMP q189).
    */
  val q192 = OracleQuery(
    "q192_avi_container_phash",
    (s, d) => {
      import s.implicits._
      // NOT widened (r17 A/B): self-written AVI writer, same rationale as
      // q189 (0.19 → 0.25 s measured with the exchange).
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val w = 13 + (id % 9).toInt
          val h = 11 + (id % 7).toInt
          val frames = (0 until 3).map { f =>
            Multimodal.Frame(w, h, Array.tabulate(w * h)(i =>
              (((id + 1) * 131L + i.toLong * 17L + f * 7L) % 256L).toInt))
          }
          Multimodal.MediaRow(id, graft.ext.Containers.aviBytes(frames))
        }
      Multimodal.videoFrameHashes(media, graft.ext.Containers.decodeAvi)
        .toDF().select(col("media_id"), col("frame_idx"), col("ph"))
    },
    Some(formulaAHashSql("13 + doc_id % 9", "11 + doc_id % 7", frames = 3,
      "((doc_id + 1) * 131 + s * 17 + f * 7) % 256")),
  )

  /** Q203 [X]: per-image aHash signatures through REAL COMPRESSED PNG
    * payloads — each doc's deterministic grayscale frame
    * (`v = ((id+3)·197 + idx·29) mod 256`, 12..22 × 10..14) is encoded
    * as an actual zlib/DEFLATE-compressed PNG by the JDK codec
    * ([[graft.ext.Containers.pngBytes]]) and decoded back by
    * [[graft.ext.Containers.decodePng]] inside the q158 resize + aHash
    * kernel (`mapPartitions`, one decode per payload). The twin
    * recomputes every hash from the pixel formula alone — a match
    * certifies the encode → DEFLATE → decode chain is lossless, closing
    * the "all containers uncompressed" caveat: unlike WAV/BMP/AVI these
    * payload bytes genuinely ride a compression stage.
    */
  val q203 = OracleQuery(
    "q203_png_container_phash",
    (s, d) => {
      import s.implicits._
      val media = Multimodal.idsAtFullWidth(Tables.documents(s, d), "doc_id")
        .map { id =>
          val w = 12 + (id % 11).toInt
          val h = 10 + (id % 5).toInt
          val px = Array.tabulate(w * h)(i =>
            (((id + 3) * 197L + i.toLong * 29L) % 256L).toInt)
          Multimodal.MediaRow(id,
            graft.ext.Containers.pngBytes(Multimodal.Frame(w, h, px)))
        }
      Multimodal.frameHashes(media, Seq(0),
        decode = graft.ext.Containers.decodePng)
        .toDF().select(col("media_id"), col("ph"))
    },
    Some(s"""WITH sig AS (${formulaAHashSql("12 + doc_id % 11",
      "10 + doc_id % 5", frames = 1, "((doc_id + 3) * 197 + s * 29) % 256")})
         SELECT media_id, ph FROM sig"""),
  )

  /** Q204 [X]: the RE-ENCODE near-dup probe through real PNG bytes —
    * the q160 incremental shape with both sides riding the compressed
    * container: the frozen corpus signatures come from frame-0 PNGs
    * (q203's payloads), the arriving batch is every image's
    * brightness-shifted re-upload (`(v+7) mod 256`, pointwise — commutes
    * with nearest-neighbor resize) RE-ENCODED as a fresh PNG, decoded by
    * the real codec, hashed, and band-probed at radius 4
    * ([[Multimodal.incrementalPhashPairs]] — `maxDist+1` pigeonhole
    * bands, O(batch), no false negatives). Originals still match their
    * re-encode (only pixels wrapping past 255 flip bits) while unrelated
    * images stay far. The twin brute-forces the cross XOR-popcounts over
    * arithmetically recomputed shifted/unshifted hashes.
    */
  val q204 = OracleQuery(
    "q204_png_near_dup",
    (s, d) => {
      import s.implicits._
      def media(shift: Int) =
        Multimodal.idsAtFullWidth(Tables.documents(s, d), "doc_id")
          .map { id =>
            val w = 12 + (id % 11).toInt
            val h = 10 + (id % 5).toInt
            val px = Array.tabulate(w * h)(i =>
              (((id + 3) * 197L + i.toLong * 29L + shift) % 256L).toInt)
            Multimodal.MediaRow(id,
              graft.ext.Containers.pngBytes(Multimodal.Frame(w, h, px)))
          }
      val corpusSig = Multimodal.frameHashes(media(0), Seq(0),
        decode = graft.ext.Containers.decodePng).toDF()
      Multimodal.incrementalPhashPairs(corpusSig, media(7), maxDist = 4,
        frame = 0, decode = graft.ext.Containers.decodePng)
    },
    Some(s"""WITH sig AS (${formulaAHashSql("12 + doc_id % 11",
      "10 + doc_id % 5", frames = 2,
      "((doc_id + 3) * 197 + s * 29 + f * 7) % 256")})
         SELECT a.media_id AS doc_a, c.media_id AS doc_b,
                CAST(bit_count(xor(a.ph, c.ph)) AS BIGINT) AS dist
         FROM sig a JOIN sig c
           ON a.frame_idx = 1 AND c.frame_idx = 0
         WHERE bit_count(xor(a.ph, c.ph)) <= 4"""),
  )

  /** Q219 [X]: aHash signatures through real COMPRESSED **COLOR** PNG
    * payloads — each doc's deterministic RGB image (three independent
    * per-channel formulas, 12..22 × 10..14) rides a TRUECOLOUR PNG
    * ([[graft.ext.Containers.pngBytesRgb]]), is decoded back by the
    * real codec, reduced to gray by the ITU-R 601-2 fixed-point luma
    * the raster family pins ([[graft.ext.Containers.lumaFrame]] ≡
    * `FileTileStore` mode "L"), and hashed by the q158 resize + aHash
    * kernel. The twin recomputes every channel and the integer luma
    * from the formulas alone — a match certifies the COLOR
    * encode → DEFLATE → decode → luma chain end-to-end (the q203 proof
    * extended from grayscale to RGB; lossless is what keeps the
    * arithmetic twin possible). Luma commutes with the
    * nearest-neighbor resize (pointwise), so the twin lumas AT the 64
    * sampled source pixels.
    */
  val q219 = OracleQuery(
    "q219_rgb_png_phash",
    (s, d) => {
      import s.implicits._
      val media = Multimodal.idsAtFullWidth(Tables.documents(s, d), "doc_id")
        .map { id =>
          val w = 12 + (id % 11).toInt
          val h = 10 + (id % 5).toInt
          val rgb = Array.tabulate(w * h) { i =>
            val r = (((id + 3) * 197L + i.toLong * 29L) % 256L).toInt
            val g = (((id + 5) * 131L + i.toLong * 17L) % 256L).toInt
            val b = (((id + 7) * 173L + i.toLong * 23L) % 256L).toInt
            (r << 16) | (g << 8) | b
          }
          Multimodal.MediaRow(id,
            graft.ext.Containers.pngBytesRgb(w, h, rgb))
        }
      Multimodal.frameHashes(media, Seq(0),
        decode = bytes => {
          val (w, h, rgb) = graft.ext.Containers.decodePngRgb(bytes)
          graft.ext.Containers.lumaFrame(w, h, rgb)
        })
        .toDF().select(col("media_id"), col("ph"))
    },
    Some {
      val luma = """(((doc_id + 3) * 197 + s * 29) % 256 * 19595 +
          ((doc_id + 5) * 131 + s * 17) % 256 * 38470 +
          ((doc_id + 7) * 173 + s * 23) % 256 * 7471 + 32768) // 65536"""
      s"""WITH sig AS (${formulaAHashSql("12 + doc_id % 11",
        "10 + doc_id % 5", frames = 1, luma)})
         SELECT media_id, ph FROM sig"""
    },
  )

  /** Q256 [X]: MIME sniffing — content-type from MAGIC BYTES
    * ([[graft.ext.Containers.sniffMime]]), the route-before-decode gate
    * (served Content-Type headers lie; the bytes don't). Each doc's
    * payload is built by a REAL container writer chosen by
    * `doc_id % 8` — WAV, BMP, PNG, JPEG, a gzip member, plain ASCII,
    * NUL-bearing binary, AVI — and sniffed back; the twin derives the
    * expected type from the branch arithmetic alone, so a hash match
    * proves every writer emits its format's true magic AND the sniffer
    * routes each one correctly (a transposed PNG signature byte or a
    * "data at byte 8" RIFF assumption would misroute a whole residue
    * class). Adversarial non-payload cases (foreign RIFF form, "BM"
    * prose, truncated magic) are spec-pinned in `ContainersSpec`.
    */
  val q256 = OracleQuery(
    "q256_mime_sniff",
    (s, d) => {
      import s.implicits._
      // NOT widened (r17 A/B): tiny per-row payloads (4×4..8×8), the id
      // exchange costs more than the codec work (0.21 → 0.43 s measured).
      Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val payload: Array[Byte] = (id % 8).toInt match {
          case 0 => graft.ext.Containers.wavBytes(
            Array.tabulate(16)(j => ((id + j) % 100).toInt))
          case 1 => graft.ext.Containers.bmpBytes(Multimodal.Frame(5, 3,
            Array.tabulate(15)(i => ((id + i) % 256).toInt)))
          case 2 => graft.ext.Containers.pngBytes(Multimodal.Frame(4, 4,
            Array.tabulate(16)(i => ((id * 7 + i) % 256).toInt)))
          case 3 => graft.ext.Containers.jpegBytes(Multimodal.Frame(8, 8,
            Array.tabulate(64)(i => ((id + 3 * i) % 256).toInt)))
          case 4 =>
            val bos = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(s"doc $id".getBytes("UTF-8")); gz.close()
            bos.toByteArray
          case 5 => s"plain text for doc $id".getBytes("US-ASCII")
          case 6 => Array[Byte](0, -1, (id % 256).toByte, 42)
          case _ => graft.ext.Containers.aviBytes(Seq(Multimodal.Frame(4, 2,
            Array.tabulate(8)(i => ((id + i) % 256).toInt))))
        }
        (id, graft.ext.Containers.sniffMime(payload))
      }.toDF("doc_id", "mime")
    },
    Some("""SELECT doc_id, CASE CAST(doc_id % 8 AS INT)
              WHEN 0 THEN 'audio/x-wav' WHEN 1 THEN 'image/bmp'
              WHEN 2 THEN 'image/png' WHEN 3 THEN 'image/jpeg'
              WHEN 4 THEN 'application/gzip' WHEN 5 THEN 'text/plain'
              WHEN 6 THEN 'application/octet-stream'
              ELSE 'video/x-msvideo' END AS mime
            FROM documents"""),
  )

  val all: Seq[OracleQuery] = Seq(q158, q159, q160, q176, q177, q181, q182,
    q184, q185, q186, q187, q188, q189, q190, q191, q192, q203, q204, q219,
    q256)
}
