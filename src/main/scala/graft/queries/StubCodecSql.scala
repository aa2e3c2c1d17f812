package graft.queries

/** DuckDB twin of [[graft.ext.Multimodal.StubCodec]]'s 64-bit mix — the
  * piece that turns the multimodal queries from rows-only checks into
  * hash-checked certificates.
  *
  * Java longs wrap mod 2^64; DuckDB BIGINT raises on overflow. So the
  * whole computation runs in UNSIGNED space as HUGEINT values in
  * [0, 2^64): `x << 6` becomes `(x * 64) % 2^64`, `x >>> s` becomes
  * `x // 2^s` (values are non-negative by construction), and the wrapping
  * multiply is split into 32-bit halves —
  * `a*b mod 2^64 = ((a_hi*b mod 2^32) * 2^32 + a_lo*b) mod 2^64` — so no
  * intermediate exceeds ~2^97 (HUGEINT holds ±2^127). `floorMod(signed,
  * 57)` converts back to signed once (subtract 2^64 above 2^63) and
  * applies the ((x%57)+57)%57 flooring. xor/`%`/`//` on HUGEINT are
  * native. The payload bytes are `ord()` per char — exact because the
  * test corpus is ASCII (a non-ASCII corpus would need byte access;
  * DuckDB's `ord` returns codepoints).
  */
object StubCodecSql {

  private val M = "18446744073709551616" // 2^64
  private val C1 = "11400714819323198485" // 0x9e3779b97f4a7c15 unsigned
  private val C2 = "18397679294719823053" // 0xff51afd7ed558ccd unsigned
  private val Seed0 = "2685821657736338717" // 0x2545f4914f6cdd1d

  /** a*b mod 2^64 without HUGEINT overflow (32-bit split). */
  private def mulMod(a: String, b: String): String =
    s"((((($a) // 4294967296) * ($b)) % 4294967296) * 4294967296" +
      s" + (($a) % 4294967296) * ($b)) % $M"

  /** StubCodec.mix(seed, v) in unsigned-64 space:
    * t = v + C1 + (seed<<6) + (seed>>>2); h = (seed^t) * C2; h ^ (h>>>33).
    */
  private def mix(s: String, v: String): String = {
    val t = s"((($v) + $C1 + ((($s) * 64) % $M) + (($s) // 4)) % $M)"
    val h = s"(${mulMod(s"xor(($s), $t)", C2)})"
    s"xor($h, ($h) // 8589934592)" // 2^33
  }

  /** Fold the payload bytes into the decode seed (list_reduce uses the
    * first element as the accumulator seed, hence the prepend).
    */
  private val seedFold: String =
    s"""list_reduce(
         list_prepend(CAST($Seed0 AS HUGEINT),
           list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT))),
         (s, v) -> ${mix("s", "v")})"""

  /** Shared prefix: per document — seed fold, dimension derivation
    * (w = 8 + floorMod(seed, 57), h = 8 + floorMod(seed >>> 7, 57)), and
    * the w·h fake pixels floorMod(mix(seed, j), 256).
    */
  private val pixelCtes: String =
    s"""WITH d AS (SELECT doc_id AS media_id, text FROM documents),
         sd AS (SELECT media_id,
                       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                       $seedFold AS su
                FROM d),
         dim AS (SELECT media_id, n_bytes, su,
                   CAST(8 + (((${signed64("su")} % 57) + 57) % 57) AS INTEGER) AS w,
                   CAST(8 + ((su // 128) % 57) AS INTEGER) AS h
                 FROM sd),
         px AS (SELECT media_id, (${mix("dim.su", "CAST(j.j AS HUGEINT)")}) % 256 AS p
                FROM dim, unnest(generate_series(0, CAST(w*h - 1 AS BIGINT))) AS j(j))"""

  /** The unsigned powers 2^0..2^63 as the HUGEINT table `pw(k, v)`: the
    * bit weights of a 64-bit assembly (needs `WITH RECURSIVE`).
    */
  val pow2Cte: String =
    """pw(k, v) AS (SELECT 0, 1::HUGEINT UNION ALL
                  SELECT k + 1, v * 2 FROM pw WHERE k < 63)"""

  /** The one HUGEINT → BIGINT step of every 64-bit twin: an unsigned value
    * `u` in [0, 2^64) as the two's complement a Spark long carries. All
    * arithmetic stays unsigned in HUGEINT and converts here once, last
    * (DuckDB xor/bit_count on the BIGINT then match Java exactly).
    */
  def signed64(u: String): String =
    s"""CAST(CASE WHEN $u >= 9223372036854775808::HUGEINT
              THEN $u - $M::HUGEINT ELSE $u END AS BIGINT)"""

  /** Twin of the aHash bit rule of `Multimodal.frameHashes`: `ctes` end in
    * a `px(media_id, frame_idx, i, v)` table, the 64 resized gray values
    * of each (payload, frame) at bit i = 8·y + x. Bit i is set iff the
    * strict integer mean test `v·64 > Σv` holds; the bits sum unsigned in
    * HUGEINT over [[pow2Cte]] and convert once. Output (media_id,
    * frame_idx, ph).
    */
  def aHashSql(ctes: String): String =
    s"""WITH RECURSIVE $pow2Cte,
         $ctes,
         sm AS (SELECT media_id, frame_idx, sum(v) AS sv FROM px GROUP BY 1, 2),
         b AS (SELECT px.media_id, px.frame_idx,
                sum(CASE WHEN px.v * 64 > sm.sv THEN pw.v
                    ELSE 0::HUGEINT END) AS u
               FROM px JOIN sm ON sm.media_id = px.media_id
                              AND sm.frame_idx = px.frame_idx
               JOIN pw ON pw.k = px.i
               GROUP BY 1, 2)
        SELECT media_id, frame_idx, ${signed64("u")} AS ph FROM b"""

  /** Twin of `Multimodal.frameHashes` over the stub codec: per
    * (document-as-payload, frame) the 64-bit aHash `ph`. Only the 64
    * RESIZED pixel indices are materialized — `j = (y·h div 8)·w +
    * (x·w div 8)`, the nearest-neighbor selection — never the full w·h
    * grid; the frame shift is the stub's pointwise `(p + 7f) mod 256`.
    */
  def phashSql(frames: Seq[Int]): String =
    aHashSql(s"""d AS (SELECT doc_id AS media_id, text FROM documents),
         sd AS (SELECT media_id, $seedFold AS su FROM d),
         dim AS (SELECT media_id, su,
                   CAST(8 + (((${signed64("su")} % 57) + 57) % 57) AS BIGINT) AS w,
                   CAST(8 + ((su // 128) % 57) AS BIGINT) AS h
                 FROM sd),
         rs AS (SELECT media_id, su, y.y * 8 + x.x AS i,
                       ((y.y * h) // 8) * w + ((x.x * w) // 8) AS j
                FROM dim, unnest(generate_series(0, 7)) AS y(y),
                     unnest(generate_series(0, 7)) AS x(x)),
         bp AS (SELECT media_id, i,
                       CAST((${mix("rs.su", "CAST(j AS HUGEINT)")}) % 256
                            AS BIGINT) AS p
                FROM rs),
         px AS (SELECT media_id, f.f AS frame_idx, i, (p + f.f * 7) % 256 AS v
                FROM bp, unnest([${frames.mkString(", ")}]) AS f(f))""")

  val q33Oracle: String =
    s"""$pixelCtes
        SELECT dim.media_id, any_value(dim.w) AS w, any_value(dim.h) AS h,
               any_value(dim.n_bytes) AS n_bytes,
               round(CAST(sum(p) AS DOUBLE) /
                     (any_value(dim.w) * any_value(dim.h)), 6) AS mean_px
        FROM px JOIN dim USING (media_id) GROUP BY 1"""

  /** The q34 twin — frames 0/3/6 of 8 (stride 3); decodeFrames shifts each
    * base pixel by 7·frame mod 256, so a frame's mean is a second pass over
    * the same pixel relation. Per-frame mean is an exact integer sum over
    * n = w·h, divided once (correctly-rounded on both engines); the avg of
    * the 3 frame means is the only float accumulation and sits ~1e-14 from
    * its true value — far inside the round-6.
    */
  val q34Oracle: String =
    s"""$pixelCtes,
         fm AS (SELECT px.media_id, f.i AS i,
                       CAST(sum((p + f.i * 7) % 256) AS DOUBLE) /
                         any_value(dim.w * dim.h) AS m
                FROM px JOIN dim USING (media_id),
                     unnest([0, 3, 6]) AS f(i)
                GROUP BY 1, 2)
        SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
               round(avg(m), 6) AS avg_px
        FROM fm GROUP BY media_id"""

  /** Shared audio-chunk CTE body (q57, q176): per (payload, 1024-sample
    * chunk) the RMS energy — exact integer sum under the sqrt, so the
    * unrounded double is identical on both engines.
    */
  val audioChunksCte: String = {
    val audioFold =
      s"""list_reduce(
           list_prepend(CAST($C1 AS HUGEINT),
             list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT))),
           (s, v) -> ${mix("s", "v")})"""
    s"""d AS (SELECT doc_id AS media_id, text FROM documents),
         sd AS (SELECT media_id,
                       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                       $audioFold AS su
                FROM d),
         smp AS (SELECT media_id, j.j // 1024 AS chunk,
                        CAST((${mix("sd.su", "CAST(j.j AS HUGEINT)")}) % 65536
                             AS BIGINT) - 32768 AS s
                 FROM sd, unnest(generate_series(0, CAST(n_bytes * 4 - 1 AS BIGINT))) AS j(j)),
         ch AS (SELECT media_id, chunk,
                       sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)) AS rms
                FROM smp GROUP BY 1, 2)"""
  }

  /** The q57 twin — decodeAudio's sample stream (4 samples per payload
    * byte, seed folded from C1, samples floorMod(mix, 65536) − 32768) cut
    * into 1024-sample chunks; per-chunk RMS is sqrt of an exact integer
    * sum (≤2^40, inside double precision) over the chunk length.
    */
  val q57Oracle: String =
    s"""WITH $audioChunksCte
        SELECT media_id, CAST(count(*) AS BIGINT) AS n_chunks,
               round(avg(rms), 6) AS avg_rms
        FROM ch GROUP BY media_id"""
}
