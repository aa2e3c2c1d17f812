package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ops.Salting.atFullWidth

/** Multimodal-column plumbing: image/audio/video carried as opaque `binary`
  * columns with typed metadata structs, processed batch-at-a-time in
  * `mapPartitions` (the JVM analog of Python's `mapInPandas` — one iterator
  * pass, no per-row UDF dispatch, no driver collect).
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * container): [[StubCodec.decode]] produces a deterministic fake pixel grid
  * from the payload bytes, so every downstream operator — metadata
  * extraction, resize, frame sampling, feature pooling — exercises real
  * Spark plumbing (schemas, encoders, partition batching) with verifiable
  * outputs. Swapping in a real codec changes exactly one function.
  */
object Multimodal {

  /** Typed metadata for an opaque media payload. */
  case class MediaMeta(format: String, width: Int, height: Int, nBytes: Long)

  /** A decoded frame: row-major grayscale grid. */
  case class Frame(width: Int, height: Int, pixels: Array[Int])

  case class MediaRow(media_id: Long, payload: Array[Byte])

  /** Ids of `df` spread at the configured shuffle parallelism — the front
    * of every REAL-codec media pipeline (q188–q192, q203/q204/q219, q256).
    * The documents table is a single parquet split at bench scale, so the
    * per-row container encode + decode stages (ImageIO PNG/JPEG, DEFLATE,
    * RIFF writers) inherit ONE scan task and run serial regardless of
    * cores (driver-measured: q204 at 4.3 s with a c8/c32 scaling ratio of
    * 0.69 — worse than flat, pure contention). Repartitioning the 8-byte
    * id rows BEFORE payload generation spreads the CPU-bound codec work
    * across `spark.sql.shuffle.partitions` (the deployment's scale knob,
    * same rule as [[graft.ops.Salting.atFullWidth]]); the heavy payloads are
    * generated AFTER the exchange and never shuffled (guide §8: decide/place with
    * small rows, create heavy bytes in place). Hash-partitioned by id
    * (deterministic, no round-robin pre-sort).
    */
  def idsAtFullWidth(df: DataFrame, idCol: String): Dataset[Long] = {
    import df.sparkSession.implicits._
    atFullWidth(idCol)(df.select(col(idCol).cast("long"))).as[Long]
  }
  case class MediaFeature(media_id: Long, meta: MediaMeta,
      mean_px: Double, max_px: Int)
  case class FrameRow(media_id: Long, frame_idx: Int, mean_px: Double)

  /** STUB codec — deterministic fake decode. A real deployment replaces
    * this object with an actual image/audio decoder; everything else in
    * this file is production plumbing.
    */
  object StubCodec {
    private def mix(seed: Long, v: Long): Long = {
      var h = seed ^ (v + 0x9e3779b97f4a7c15L) + (seed << 6) + (seed >>> 2)
      h *= 0xff51afd7ed558ccdL
      h ^ (h >>> 33)
    }

    /** Payload bytes → fake WxH grayscale frame; dimensions derived from the
      * payload hash (8..64 px) so they are stable per payload.
      */
    def decode(payload: Array[Byte]): Frame = {
      var seed = 0x2545f4914f6cdd1dL
      var i = 0
      while (i < payload.length) { seed = mix(seed, payload(i).toLong); i += 1 }
      val w = 8 + math.floorMod(seed, 57).toInt
      val h = 8 + math.floorMod(seed >>> 7, 57).toInt
      val px = new Array[Int](w * h)
      var j = 0
      while (j < px.length) { px(j) = math.floorMod(mix(seed, j), 256).toInt; j += 1 }
      Frame(w, h, px)
    }

    /** Fake video decode: `n` frames, each a shifted variant of the base. */
    def decodeFrames(payload: Array[Byte], n: Int): Seq[Frame] = {
      val base = decode(payload)
      (0 until n).map { f =>
        Frame(base.width, base.height,
          base.pixels.map(p => (p + f * 7) % 256))
      }
    }

    /** Fake audio decode: payload bytes → deterministic 16-bit PCM-style
      * samples, 4 samples per payload byte (stable per payload).
      */
    def decodeAudio(payload: Array[Byte]): Array[Int] = {
      var seed = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < payload.length) { seed = mix(seed, payload(i).toLong); i += 1 }
      val out = new Array[Int](payload.length * 4)
      var j = 0
      while (j < out.length) {
        out(j) = math.floorMod(mix(seed, j), 65536).toInt - 32768
        j += 1
      }
      out
    }
  }

  /** Nearest-neighbor resize — real logic, runs on stub or real frames. */
  def resize(f: Frame, w2: Int, h2: Int): Frame = {
    val out = new Array[Int](w2 * h2)
    var y = 0
    while (y < h2) {
      val sy = y * f.height / h2
      var x = 0
      while (x < w2) {
        out(y * w2 + x) = f.pixels(sy * f.width + x * f.width / w2)
        x += 1
      }
      y += 1
    }
    Frame(w2, h2, out)
  }

  /** Decode + feature-extract each payload: metadata struct plus pooled
    * pixel statistics, one partition-batched pass.
    */
  def imageFeatures(media: Dataset[MediaRow]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val f = StubCodec.decode(m.payload)
        val sum = f.pixels.foldLeft(0L)(_ + _)
        MediaFeature(m.media_id,
          MediaMeta("stub-gray", f.width, f.height, m.payload.length.toLong),
          sum.toDouble / f.pixels.length, f.pixels.max)
      }
    }
  }

  /** Frame sampling: decode every `stride`-th of `nFrames` frames, emit one
    * row per kept frame with its pooled mean (the video → training-frames
    * shape). Generator-style: one input row fans out to many.
    *
    * The stub's frame f is the base frame shifted by (p + 7f) mod 256, so a
    * kept frame's mean needs only the base frame's 256-bin pixel histogram —
    * one pass over the base pixels instead of materializing every frame
    * (bit-identical to summing the shifted frames; a real codec would
    * decode per frame here and this short-cut reverts to decodeFrames).
    */
  def sampleFrames(media: Dataset[MediaRow], nFrames: Int,
      stride: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        val base = StubCodec.decode(m.payload)
        val hist = new Array[Long](256)
        base.pixels.foreach(p => hist(p) += 1L)
        val n = base.pixels.length
        (0 until nFrames).iterator.collect { case i if i % stride == 0 =>
          var s = 0L
          var v = 0
          while (v < 256) { s += hist(v) * ((v + i * 7) % 256); v += 1 }
          FrameRow(m.media_id, i, s.toDouble / n)
        }
      }
    }
  }

  case class FrameHash(media_id: Long, frame_idx: Int, ph: Long)

  /** 64-bit AVERAGE-HASH (aHash) bits of an 8×8 grid: bit `i` is set iff
    * `pixel_i · 64 > Σ pixels` — the strict integer form of "above the
    * mean", so there is no float mean to drift across engines. Perceptual
    * hashing's contract: near-identical images (re-encodes, small global
    * intensity shifts, rescales) agree on most bits, and Hamming distance
    * measures visual dissimilarity.
    */
  private def aHashBits(px64: Array[Int]): Long = {
    var s = 0L
    var i = 0
    while (i < 64) { s += px64(i); i += 1 }
    var h = 0L
    i = 0
    while (i < 64) {
      if (px64(i) * 64L > s) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Per-payload perceptual hashes of the selected stub-video frames:
    * decode once, nearest-neighbor resize the base frame to 8×8 ONCE, and
    * derive each frame's 64-pixel grid by the stub's pointwise
    * `(p + 7·f) mod 256` shift — exact because a pointwise map commutes
    * with nearest-neighbor resize (resize only selects source pixels). A
    * real codec decodes per frame here; the aHash and everything
    * downstream are unchanged. One partition-batched pass, one output row
    * per (payload, frame).
    */
  def frameHashes(media: Dataset[MediaRow], frames: Seq[Int],
      decode: Array[Byte] => Frame = StubCodec.decode): Dataset[FrameHash] = {
    // A negative index would make (p + 7·f) % 256 negative under Java %
    // semantics — out-of-range pixels, silently-garbage hashes. Fail loud.
    require(frames.nonEmpty && frames.forall(_ >= 0),
      "frameHashes: frame indices must be >= 0")
    import media.sparkSession.implicits._
    val fr = frames.toArray
    media.mapPartitions { it =>
      it.flatMap { m =>
        val base = resize(decode(m.payload), 8, 8)
        fr.iterator.map { f =>
          val px = if (f == 0) base.pixels
            else base.pixels.map(p => (p + f * 7) % 256)
          FrameHash(m.media_id, f, aHashBits(px))
        }
      }
    }
  }

  /** Per-frame perceptual hashes of a MULTI-FRAME payload through a real
    * container decoder: decode every frame (each genuinely parsed from
    * the byte stream — no pointwise-shift shortcut), resize to 8×8,
    * aHash. The video sibling of [[frameHashes]]'s stub path; frame_idx
    * is the stream order the container yields. One partition-batched
    * pass, one row per (payload, frame).
    */
  def videoFrameHashes(media: Dataset[MediaRow],
      decode: Array[Byte] => Seq[Frame]): Dataset[FrameHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        decode(m.payload).iterator.zipWithIndex.map { case (f, i) =>
          FrameHash(m.media_id, i, aHashBits(resize(f, 8, 8).pixels))
        }
      }
    }
  }

  /** IMAGE near-dup pairs via perceptual-hash band pigeonholing: aHash
    * fingerprints of the selected frames of every payload, then the
    * shared Hamming machinery ([[graft.ext.Dedup.hammingPairs]] —
    * same banding as simhash/SRP: `maxDist + 1` bands, equi-join, only
    * candidates pay the XOR-popcount, no false negatives). The image
    * sibling of the token (simhash) and embedding (SRP) fingerprint
    * families. Frame identity packs into the pair ids as
    * `media_id · 16 + frame_idx` (hence frames < 16); output
    * (doc_a, doc_b, dist) over packed ids, doc_a < doc_b.
    */
  def phashNearDupPairs(media: Dataset[MediaRow], frames: Seq[Int] = Seq(0),
      maxDist: Int = 4): DataFrame = {
    require(frames.nonEmpty && frames.forall(f => f >= 0 && f < 16),
      "phashNearDupPairs: frame indices must be in [0, 16)")
    val sig = frameHashes(media, frames).toDF()
    Dedup.hammingPairs(sig, sig, col("media_id") * 16 + col("frame_idx"),
      col("ph"), 64, maxDist)
  }

  /** IMAGE near-dup CLUSTERS: the frame-0 perceptual-hash pair graph
    * closed into components with min-id labels and keeper flags via the
    * shared [[DedupCluster.clustersFromEdges]] engine — the image member
    * of the clustering family beside q41 (LSH/tokens), q146 (edit
    * distance), and q156 (SRP/embeddings): visually-duplicate uploads
    * collapse to one keeper each. Output: (media_id, cluster_id,
    * is_keeper).
    */
  def phashClusters(media: Dataset[MediaRow], maxDist: Int = 4,
      localThreshold: Long = 100000L): DataFrame = {
    // unpacked frame-0 signatures (media_id itself is the node id)
    val sig = frameHashes(media, Seq(0)).toDF()
    DedupCluster.clustersFromEdges(media.toDF().select(col("media_id")),
      "media_id",
      Dedup.hammingPairs(sig, sig, col("media_id"), col("ph"), 64, maxDist)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      localThreshold)
  }

  /** Incremental IMAGE-cluster ASSIGNMENT — the image member of the
    * online clustering family (`DedupCluster.assignToClusters` / LSH,
    * `Fuzzy.assignToEditClusters` / strings,
    * `Similarity.assignToSrpClusters` / embeddings): each arriving
    * payload adopts the MINIMUM cluster id among its perceptual-hash
    * matches within `maxDist` bits ([[incrementalPhashPairs]] against
    * the frozen corpus signature table), does NOT merge bridged clusters
    * (the periodic full [[phashClusters]] reconciles), and founds its
    * own cluster when nothing matches. `corpusLabels` is a prior
    * [[phashClusters]] run over the SAME corpus. Output matches it:
    * (media_id, cluster_id, is_keeper).
    */
  def assignToPhashClusters(corpusLabels: DataFrame, corpusSig: DataFrame,
      batch: Dataset[MediaRow], maxDist: Int = 4): DataFrame =
    DedupCluster.adopt(corpusLabels,
      incrementalPhashPairs(corpusSig, batch, maxDist), batch.toDF(),
      "media_id")

  /** INCREMENTAL perceptual-hash probe: each arriving batch of payloads
    * is hashed and probed against a FROZEN corpus signature table with
    * the asymmetric band join ([[graft.ext.Dedup.hammingPairs]]) —
    * the image member of the incremental ingest family (Jaccard /
    * containment / cosine / simhash / edit-distance / SRP). O(batch):
    * the corpus pays one decode+hash pass ever. Output (doc_a = batch
    * media_id, doc_b = corpus media_id, dist).
    *
    * @param corpusSig (media_id, ph) — frame-0 [[frameHashes]] output.
    * @param frame which stub frame of the batch payload to hash —
    *   frame 0 is the plain "still image" arrival; a nonzero frame is
    *   the stub's stand-in for a RE-ENCODED variant of the same image
    *   (pointwise shift), which a perceptual probe must still catch.
    */
  def incrementalPhashPairs(corpusSig: DataFrame, batch: Dataset[MediaRow],
      maxDist: Int = 4, frame: Int = 0,
      decode: Array[Byte] => Frame = StubCodec.decode): DataFrame = {
    require(frame >= 0, "incrementalPhashPairs: frame index must be >= 0")
    Dedup.hammingPairs(frameHashes(batch, Seq(frame), decode).toDF(),
      corpusSig, col("media_id"), col("ph"), 64, maxDist)
  }

  case class AudioChunk(media_id: Long, chunk_idx: Int, n_samples: Int,
      rms: Double)

  /** Audio chunking: decode each payload's sample stream and emit one row
    * per fixed-size window with its RMS energy — the waveform →
    * training-windows shape (audio analog of [[sampleFrames]]). The final
    * partial window is kept (its n_samples is smaller).
    */
  def audioChunks(media: Dataset[MediaRow], window: Int,
      decode: Array[Byte] => Array[Int] = StubCodec.decodeAudio): Dataset[AudioChunk] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        val samples = decode(m.payload)
        samples.grouped(window).zipWithIndex.map { case (chunk, i) =>
          var ss = 0.0
          chunk.foreach(s => ss += s.toDouble * s)
          AudioChunk(m.media_id, i, chunk.length,
            math.sqrt(ss / chunk.length))
        }
      }
    }
  }

  /** VOICE-ACTIVITY runs over the chunked audio stream: contiguous runs
    * of chunks whose RMS energy clears `tau` (gaps-and-islands on the
    * chunk index — the q155/q142 idiom on the audio axis), the
    * waveform → speech-segments step of an audio training pipeline. The
    * RMS under the comparison is a sqrt over an exact integer sum — the
    * identical double on any engine — so the threshold introduces no
    * parity surface. Output: (media_id, run_idx, start_chunk, end_chunk,
    * n_chunks), runs numbered in time order per payload.
    */
  def voiceActivity(media: Dataset[MediaRow], window: Int, tau: Double,
      decode: Array[Byte] => Array[Int] = StubCodec.decodeAudio): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val ch = audioChunks(media, window, decode).toDF()
    val w = W.partitionBy("media_id").orderBy("chunk_idx")
    ch.filter(col("rms") >= tau)
      .withColumn("grp", col("chunk_idx") - row_number().over(w))
      .groupBy("media_id", "grp")
      .agg(min(col("chunk_idx")).as("start_chunk"),
        max(col("chunk_idx")).as("end_chunk"),
        count(lit(1)).as("n_chunks"))
      .withColumn("run_idx",
        row_number().over(W.partitionBy("media_id").orderBy("start_chunk")))
      .select(col("media_id"), col("run_idx"), col("start_chunk"),
        col("end_chunk"), col("n_chunks"))
  }

  /** 64-bit ENERGY-DELTA audio fingerprint (Haitsma & Kalker 2002's
    * sub-band sign-of-difference idea collapsed to one energy band):
    * bit `b` is set iff window b+1's energy exceeds window b's, over the
    * first 65 fixed-size windows of the decoded sample stream (energy =
    * exact integer sum of squares; a missing window counts as 0). The
    * SIGN of the energy delta is what survives re-encoding — any global
    * amplitude scaling preserves every comparison exactly, and lossy
    * per-sample noise only flips bits where adjacent windows near-tie —
    * so near-dup audio lands at small Hamming distance while unrelated
    * streams sit near 32. The audio member of the fingerprint family
    * (simhash/tokens, SRP/embeddings, aHash/images); downstream banding
    * and Hamming machinery are shared. Output (media_id, afp).
    */
  def audioFingerprint(media: Dataset[MediaRow], window: Int,
      decode: Array[Byte] => Array[Int] = StubCodec.decodeAudio): DataFrame = {
    require(window >= 1, "audioFingerprint: window >= 1")
    import media.sparkSession.implicits._
    media.map { m =>
      val s = decode(m.payload)
      val e = new Array[Long](65)
      val lim = math.min(65 * window, s.length)
      var i = 0
      while (i < lim) { e(i / window) += s(i).toLong * s(i); i += 1 }
      var h = 0L
      var b = 0
      while (b < 64) {
        if (e(b + 1) > e(b)) h |= (1L << b)
        b += 1
      }
      (m.media_id, h)
    }.toDF("media_id", "afp")
  }

  /** Incremental audio near-dup probe: the arriving batch's fingerprints
    * against a FROZEN corpus fingerprint table at Hamming radius
    * `maxDist` — the audio member of the incremental ingest family
    * (q117 simhash / q150 SRP / q160 phash). O(batch) banded probe;
    * output (doc_a = batch id, doc_b = corpus id, dist).
    */
  def incrementalAudioPairs(corpusFp: DataFrame, batch: Dataset[MediaRow],
      window: Int, maxDist: Int = 6,
      decode: Array[Byte] => Array[Int] = StubCodec.decodeAudio): DataFrame =
    Dedup.hammingPairs(audioFingerprint(batch, window, decode), corpusFp,
      col("media_id"), col("afp"), 64, maxDist)

  case class CdcChunk(media_id: Long, chunk_idx: Int, start: Int, len: Int,
      chash: Long)

  /** CONTENT-DEFINED CHUNKING (Rabin rolling hash) over binary payloads —
    * the binary-dedup backbone (LBFS/FastCDC lineage): a chunk boundary
    * falls wherever the rolling hash of the trailing `window` bytes has
    * `maskBits` low zero bits, so boundaries are a function of CONTENT,
    * not offsets — an insertion shifts at most one chunk's boundaries and
    * every later chunk re-aligns, which fixed-size chunking cannot do
    * (the property that makes cross-version/cross-payload chunk dedup
    * work). Expected chunk length 2^maskBits; no FastCDC min/max
    * normalization (the mask rule stays stateless per position, which is
    * what the independent SQL twin re-derives). Each chunk carries a
    * polynomial content hash (base 257, wrapping mod 2^64 — Java long
    * arithmetic IS the modulus) for equality grouping downstream.
    * One partition-batched pass; chunk structure is payload-local.
    */
  def cdcChunks(media: Dataset[MediaRow], window: Int = 8,
      maskBits: Int = 6): Dataset[CdcChunk] = {
    require(window >= 2 && maskBits >= 1, "cdcChunks: window >= 2, maskBits >= 1")
    import media.sparkSession.implicits._
    val B = 257L
    val mask = (1L << maskBits) - 1
    val bw = (1 until window).foldLeft(1L)((a, _) => a * B) // B^(window-1)
    media.mapPartitions { it =>
      it.flatMap { m =>
        val bs = m.payload
        val n = bs.length
        val bounds = scala.collection.mutable.ArrayBuffer[Int]()
        var h = 0L
        var p = 0
        while (p < n) {
          // h = Σ_{k=0..window-1} b[p−k]·B^k (trailing-window hash)
          h = h * B + (bs(p) & 0xff)
          if (p >= window) h -= bw * B * (bs(p - window) & 0xff)
          if (p >= window - 1 && (h & mask) == 0L) bounds += p
          p += 1
        }
        if (n > 0 && (bounds.isEmpty || bounds.last != n - 1)) bounds += n - 1
        var start = 0
        bounds.iterator.zipWithIndex.map { case (end, ci) =>
          var ch = 0L
          var i = start
          while (i <= end) { ch = ch * B + (bs(i) & 0xff); i += 1 }
          val out = CdcChunk(m.media_id, ci, start, end - start + 1, ch)
          start = end + 1
          out
        }
      }
    }
  }

  /** Cross-payload CHUNK DEDUP summary on [[cdcChunks]]'s content
    * hashes: per corpus — total chunks/bytes, distinct chunks/bytes, and
    * the byte dedup ratio a chunk store would realize. One aggregate
    * over (chash, len) groups. Output: 1 row (n_chunks, n_bytes,
    * uniq_chunks, uniq_bytes, dedup_ratio round 6).
    */
  def cdcDedupStats(chunks: DataFrame): DataFrame =
    chunks.groupBy("chash", "len")
      .agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("n_chunks"),
        sum(col("__c") * col("len")).as("n_bytes"),
        count(lit(1)).as("uniq_chunks"),
        sum(col("len")).as("uniq_bytes"))
      .withColumn("dedup_ratio",
        round(lit(1.0) - col("uniq_bytes").cast("double") /
          col("n_bytes").cast("double"), 6))

  /** INCREMENTAL CDC byte-delta probe: each arriving payload is chunked
    * ([[cdcChunks]]) and its chunks looked up in a FROZEN corpus
    * chunk-hash table — the BINARY member of the incremental ingest
    * family, and the number a dedup store quotes before accepting an
    * upload: how many of these bytes are genuinely new? O(batch): the
    * corpus is chunked once; the batch pays its own chunking plus one
    * (chash, len) equi-join. Output per payload: (media_id, n_chunks,
    * n_bytes, new_bytes, new_frac round 6).
    *
    * @param corpusChunks (chash, len) pairs — [[cdcChunks]] output
    *                     (deduplication applied here)
    */
  def incrementalCdcBytes(corpusChunks: DataFrame,
      batch: Dataset[MediaRow], window: Int = 8,
      maskBits: Int = 6): DataFrame = {
    val seen = corpusChunks.select(col("chash"), col("len")).distinct()
      .withColumn("__seen", lit(1))
    cdcChunks(batch, window, maskBits).toDF()
      .join(seen, Seq("chash", "len"), "left")
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).as("n_bytes"),
        coalesce(sum(when(col("__seen").isNull, col("len"))), lit(0L))
          .as("new_bytes"))
      .withColumn("new_frac",
        round(col("new_bytes").cast("double") /
          col("n_bytes").cast("double"), 6))
  }

  /** Attach a binary payload column derived from text (harness adapter: the
    * testdata has no binary tables, so documents.text doubles as payload).
    */
  def asMedia(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        encode(col(textCol), "UTF-8").as("payload"))
      .as[MediaRow]
  }
}
