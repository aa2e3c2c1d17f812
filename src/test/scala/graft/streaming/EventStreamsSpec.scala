package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

case class Ev(event_id: Long, user_id: Long, event_type: String,
    ts: Timestamp, value: Double, props: String)

case class ArrivingDoc(doc_id: Long, text: String)
case class ArrivingVec(vec_id: Long, embedding: Array[Float])
case class ArrivingMedia(media_id: Long, payload: Array[Byte])

/** ST1–ST5: batch/stream parity — every transform produces identical
  * results when fed the same rows as a batch DataFrame and as a
  * MemoryStream (complete/append modes as appropriate).
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  private val rows = Seq(
    Ev(1, 1, "click", t(0), 1.0, "{}"),
    Ev(2, 1, "click", t(10), 2.0, "{}"),
    Ev(3, 1, "view", t(65), 3.0, "{}"),   // new hour, new session (55' gap)
    Ev(4, 2, "click", t(5), 4.0, "{}"),
    Ev(5, 2, "click", t(200), 5.0, "{}"), // 195' gap → new session
    Ev(3, 1, "view", t(65), 3.0, "{}")    // duplicate event_id for ST4
  )

  private def runStream(transform: DataFrame => DataFrame,
      outputMode: String): Array[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows)
    val name = s"st_${System.nanoTime()}"
    val q = transform(mem.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name).collect()
  }

  test("ST2 windowed counts: stream(complete) == batch on same rows") {
    val batch = EventStreams.windowedCounts(rows.toDF())
      .orderBy("win_start", "event_type").collect()
    val stream = runStream(EventStreams.windowedCounts(_), "complete")
      .sortBy(r => (r.getTimestamp(0).getTime, r.getString(1)))
    stream.toSeq shouldBe batch.toSeq
    // tumbling hours: (h0: click×3), (h1: view×2 incl. the dup), (h3: click×1)
    batch.map(r => (r.getString(1), r.getLong(2))).toSeq shouldBe
      Seq(("click", 3L), ("view", 2L), ("click", 1L))
  }

  test("ST2 sliding windows emit overlapping buckets") {
    val out = EventStreams.windowedCounts(rows.toDF(), "1 hour", Some("30 minutes"))
      .collect()
    // event at min 10 lands in windows starting at -30 and 0
    out.length should be > 3
  }

  test("ST3 session windows: 30-minute gap splits sessions (== batch shape)") {
    val batch = EventStreams.sessionAggregates(rows.toDF().dropDuplicates("event_id"))
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
    // user 1: events 0',10' merge (gap<30), 65' separate; user 2: 5' vs 200'
    batch.toSeq shouldBe Seq(
      (1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 4.0), (2L, 1L, 5.0))
    val stream = runStream(
      df => EventStreams.sessionAggregates(df.dropDuplicates("event_id")),
      "complete")
      .sortBy(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
    stream.toSeq shouldBe batch.toSeq
  }

  test("ST4 dropDuplicatesWithinWatermark removes the replayed event") {
    val out = runStream(EventStreams.dedupWithinWatermark(_), "append")
    out.length shouldBe 5 // 6 rows, one duplicate event_id dropped
    out.map(_.getLong(0)).distinct.length shouldBe 5
  }

  test("ST6 stream-stream interval join == batch join on same rows") {
    implicit val sqlCtx = spark.sqlContext
    // Clicks attribute to views ≤ 30' earlier for the same user.
    val clicks = Seq(
      Ev(101, 1, "click", t(20), 1.0, "{}"),
      Ev(102, 2, "click", t(30), 2.0, "{}"))
    val views = Seq(
      Ev(201, 1, "view", t(0), 10.0, "{}"),   // 20' before u1 click → pair
      Ev(202, 1, "view", t(10), 20.0, "{}"),  // 10' before → pair
      Ev(203, 1, "view", t(25), 30.0, "{}"),  // AFTER the click → no pair
      Ev(204, 2, "view", t(15), 40.0, "{}"),  // 15' before u2 click → pair
      Ev(205, 2, "view", t(-10), 50.0, "{}")) // 40' before → outside window
    val batch = EventStreams
      .intervalJoinStreams(clicks.toDF(), views.toDF(), "30 minutes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    batch shouldBe Set((101L, 201L, 11.0), (101L, 202L, 21.0), (102L, 204L, 42.0))
    val lm = MemoryStream[Ev]
    val rm = MemoryStream[Ev]
    lm.addData(clicks)
    rm.addData(views)
    val name = s"st6_${System.nanoTime()}"
    val q = EventStreams
      .intervalJoinStreams(lm.toDF(), rm.toDF(), "30 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    stream shouldBe batch
  }

  test("ST7 stream-static dedup: known keys dropped, new keys pass") {
    // Reference corpus holds event_ids 1 and 4; only 2/3/5 are new.
    val reference = Seq((1L, "x"), (4L, "y"), (4L, "z"))
      .toDF("event_id", "payload")
    val out = runStream(
      EventStreams.dedupAgainstStatic(_, reference, "event_id"), "append")
    out.map(_.getLong(0)).toSet shouldBe Set(2L, 3L, 5L)
    // batch parity: same anti-join over the same rows
    val batch = EventStreams
      .dedupAgainstStatic(rows.toDF(), reference, "event_id")
      .select("event_id").distinct()
      .collect().map(_.getLong(0)).toSet
    batch shouldBe Set(2L, 3L, 5L)
  }

  test("ST7b streaming LSH dedup-on-arrival: near-dups of the corpus drop") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Dedup
    val bands = Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3"))
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "entirely different reference material lives here")
    ).toDF("doc_id", "text")
    val corpusKeys = Dedup.corpusBandKeys(corpus, "doc_id", "text", bands)
      .localCheckpoint()
    val arriving = Seq(
      ArrivingDoc(1L, "the quick brown fox jumps over the lazy dog"), // exact dup
      ArrivingDoc(2L, "completely novel text about spark shuffles"),
      ArrivingDoc(3L, "entirely different reference material lives here"))
    // streaming: only the novel doc survives
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(arriving)
    val name = s"st7b_${System.nanoTime()}"
    val q = EventStreams.lshDedupAgainstStatic(
      mem.toDF(), corpusKeys, "text", bands)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).collect()
    stream.map(_.getLong(0)).toSet shouldBe Set(2L)
    // the operator passes rows through unchanged (no helper columns leak)
    spark.table(name).columns.toSeq shouldBe Seq("doc_id", "text")
    // batch parity: the same function over the same rows as a batch frame
    val batch = EventStreams.lshDedupAgainstStatic(
      arriving.toDF(), corpusKeys, "text", bands)
      .collect().map(_.getLong(0)).toSet
    batch shouldBe Set(2L)
    // ...and agrees with the batch incremental dedup's verdict on who
    // collided (ids 1 and 3 collide on at least one band)
    val dupIds = Dedup.incrementalDupIds(corpus, arriving.toDF(),
      "doc_id", "text", bands).collect().map(_.getLong(0)).toSet
    dupIds shouldBe Set(1L, 3L)
  }

  test("ST8 streaming exact dedup-on-arrival: corpus matches drop at tau") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Dedup
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "entirely different reference material lives here now")
    ).toDF("doc_id", "text")
    val idx = Dedup.gramIndex(corpus, "doc_id", "text", n = 2)
    val arriving = Seq(
      ArrivingDoc(1L, "the quick brown fox jumps over the lazy dog today"),
      ArrivingDoc(2L, "completely novel text about spark shuffles"),
      ArrivingDoc(3L, "entirely different reference material lives here now"),
      // one word changed: bigram jaccard 7/11 ≈ 0.64 — a near-dup that
      // must DROP at τ=1/2 but SURVIVE at τ=9/10 (exactness is the point)
      ArrivingDoc(4L, "the quick brown fox jumps over the lazy cat today"))
    def runAt(tn: Int, td: Int): Set[Long] = {
      val mem = MemoryStream[ArrivingDoc]
      mem.addData(arriving)
      val got = scala.collection.mutable.ArrayBuffer[Long]()
      val q = EventStreams.onArrival(mem.toDF())(
        EventStreams.exactDedupBatch(idx, _, "doc_id", "text", tn, td)) { surv =>
        got.synchronized { got ++= surv.collect().map(_.getLong(0)) }
      }
      q.processAllAvailable()
      q.stop()
      got.toSet
    }
    runAt(9, 10) shouldBe Set(2L, 4L)
    runAt(1, 2) shouldBe Set(2L)
    // batch parity: the same kernel over the same rows as a batch frame,
    // columns passed through unchanged
    val batch = EventStreams.exactDedupBatch(
      idx, arriving.toDF(), "doc_id", "text", 9, 10)
    batch.columns.toSeq shouldBe Seq("doc_id", "text")
    batch.collect().map(_.getLong(0)).toSet shouldBe Set(2L, 4L)
  }

  test("ST9 streaming ingest gate: per-doc flags match the batch gate") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Dedup
    val rnd = new scala.util.Random(83)
    val corpusRows = (0 until 50).map { i =>
      val words = Seq.fill(20 + rnd.nextInt(10))(s"v${rnd.nextInt(50)}")
      (i.toLong, words.mkString(" "))
    }
    val corpus = corpusRows.toDF("doc_id", "text")
    val idx = Dedup.gramIndex(corpus, "doc_id", "text", n = 2)
    val sig = Dedup.simHash64Signature(corpus, "doc_id", "text")
      .localCheckpoint()
    val arriving = Seq(
      ArrivingDoc(100L, corpusRows(11)._2),           // exact dup
      ArrivingDoc(101L, corpusRows(4)._2 + " vx vy"), // near-dup, not exact
      ArrivingDoc(102L,
        "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 zz11 zz12")) // novel
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(arriving)
    val got = scala.collection.mutable.ArrayBuffer[(Long, Boolean, Boolean, Boolean, Boolean)]()
    val q = EventStreams.onArrival(mem.toDF())(
      Dedup.ingestGate(idx, sig, corpus, _, "doc_id", "text")) { verdicts =>
      got.synchronized {
        got ++= verdicts.collect().map(r => (r.getLong(0), r.getBoolean(1),
          r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
      }
    }
    q.processAllAvailable()
    q.stop()
    val byId = got.map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    byId.keySet shouldBe Set(100L, 101L, 102L)
    byId(100L) shouldBe ((true, true, true, false))
    byId(101L)._1 shouldBe false
    byId(101L)._2 shouldBe true
    byId(101L)._4 shouldBe false
    byId(102L) shouldBe ((false, false, false, true))
    // stream ≡ batch: the same verdicts as one batch ingestGate call
    val batchGate = Dedup.ingestGate(idx, sig, corpus,
      arriving.map(a => (a.doc_id, a.text)).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1),
        r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    byId shouldBe batchGate
  }

  test("ST10 streaming LM scoring: per-doc scores match the batch scorer") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.TextAnalysis
    val corpus = Seq.tabulate(10)(i =>
      (i.toLong, "the cat sat on the mat")).toDF("doc_id", "text")
    val lm = TextAnalysis.trainBigramLm(corpus, "doc_id", "text")
    val arriving = Seq(
      ArrivingDoc(100L, "the cat sat"),    // all bigrams seen
      ArrivingDoc(101L, "mat the on cat"), // same vocab, alien bigrams
      ArrivingDoc(102L, "solo"))           // < 2 tokens → absent
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(arriving)
    val got = scala.collection.mutable.ArrayBuffer[(Long, Double, Long, Long)]()
    val q = EventStreams.onArrival(mem.toDF())(
      TextAnalysis.scoreBigramLm(lm, _, "doc_id", "text")) { scores =>
      got.synchronized {
        got ++= scores.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      }
    }
    q.processAllAvailable()
    q.stop()
    val byId = got.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    byId.keySet shouldBe Set(100L, 101L)
    byId(101L)._1 should be < byId(100L)._1 // alien bigrams price lower
    // stream ≡ batch: identical rows from one scoreBigramLm call
    val batchScores = TextAnalysis.scoreBigramLm(lm,
      arriving.map(a => (a.doc_id, a.text)).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    byId shouldBe batchScores
  }

  test("ST11 streaming decontamination: excised text matches the batch kernel") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Dedup
    val benchmark = Seq(
      (0L, "q1 q2 q3 q4"),
      (1L, "e1 e2 e3 e4 e5")).toDF("doc_id", "text")
    val bg = Dedup.benchmarkGrams(benchmark, "doc_id", "text", 4)
      .localCheckpoint() // frozen once; micro-batches only probe
    val arriving = Seq(
      ArrivingDoc(100L, "a b q1 q2 q3 q4 c d"),          // one span cut
      ArrivingDoc(101L, "e1 e2 e3 e4 e5 x e1 e2 e3 e4"), // overlap + repeat
      ArrivingDoc(102L, "clean doc nothing shared here"), // untouched
      ArrivingDoc(103L, "q1 q2 q3 q4"))                  // fully excised
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(arriving)
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    val q = EventStreams.onArrival(mem.toDF())(
      Dedup.decontaminateExciseAgainstGrams(_, bg, "doc_id", "text", 4)) { cleaned =>
      got.synchronized {
        got ++= cleaned.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      }
    }
    q.processAllAvailable()
    q.stop()
    val byId = got.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    byId.keySet shouldBe Set(100L, 101L, 102L, 103L)
    byId(100L) shouldBe (("a b c d", 8L, 4L))
    // 101: positions 1-5 (e1..e5 covers two overlapping grams) and 7-10 cut
    byId(101L) shouldBe (("x", 10L, 9L))
    byId(102L) shouldBe (("clean doc nothing shared here", 5L, 0L))
    byId(103L) shouldBe (("", 4L, 4L)) // fully-excised docs still surface
    // stream ≡ batch: identical rows from one decontaminateExcise call
    val batchClean = Dedup.decontaminateExcise(
      arriving.map(a => (a.doc_id, a.text)).toDF("doc_id", "text"),
      benchmark, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    byId shouldBe batchClean
  }

  test("ST12 streaming 4-signal gate: verdicts match the batch gate") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Dedup, Fuzzy}
    import org.apache.spark.sql.DataFrame
    val corpus = Seq(
      (1L, "alpha beta gam w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12 k13 k14")
    ).toDF("doc_id", "text")
    def keyed(df: DataFrame) = df.select(col("doc_id"), col("text"),
      substring(col("text"), 1, 16).as("pfx"))
    val idx = Dedup.gramIndex(corpus, "doc_id", "text", n = 2)
    val sig = Dedup.simHash64Signature(corpus, "doc_id", "text")
      .localCheckpoint()
    val editIdx = Fuzzy.segmentIndex(keyed(corpus), "doc_id", "pfx", 2)
      .localCheckpoint()
    val editCorpus = keyed(corpus).select(col("doc_id"), col("pfx"))
      .localCheckpoint()
    val arriving = Seq(
      ArrivingDoc(10L, "alpha beta gam q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"),
      ArrivingDoc(11L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14"))
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(arriving)
    val got = scala.collection.mutable.ArrayBuffer[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]()
    val q = EventStreams.onArrival(keyed(mem.toDF()))(
      Dedup.ingestGateWithEdit(idx, sig, corpus, editIdx, editCorpus, _,
        "doc_id", "text", "pfx", 2)) { verdicts =>
      got.synchronized {
        got ++= verdicts.collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("jac_dup"),
          r.getAs[Boolean]("sh_dup"), r.getAs[Boolean]("ed_dup"),
          r.getAs[Boolean]("admit")))
      }
    }
    q.processAllAvailable()
    q.stop()
    val byId = got.map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6))).toMap
    byId(10L) shouldBe ((false, false, false, true, false)) // string-only hit
    byId(11L) shouldBe ((false, false, false, false, true)) // novel admits
    // stream ≡ batch: identical verdicts from one ingestGateWithEdit call
    val batchGate = Dedup.ingestGateWithEdit(idx, sig, corpus, editIdx,
      editCorpus, keyed(arriving.map(a => (a.doc_id, a.text))
        .toDF("doc_id", "text")), "doc_id", "text", "pfx", k = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("jac_dup"),
          r.getAs[Boolean]("sh_dup"), r.getAs[Boolean]("ed_dup"),
          r.getAs[Boolean]("admit")))).toMap
    byId shouldBe batchGate
  }

  test("ST4b flatMapGroupsWithState: running totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val name = s"st4b_${System.nanoTime()}"
    val q = EventStreams.runningUserAggregates(mem.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    mem.addData(rows.take(3)) // user1: events 1,2,3
    q.processAllAvailable()
    mem.addData(rows.drop(3)) // user1: +dup event, user2: 2 events
    q.processAllAvailable()
    q.stop()
    // last emitted state per user == the full batch aggregate
    val latest = spark.table(name)
      .groupBy("user_id").agg(max_by(struct("n", "val_sum"), col("n")).as("s"))
      .select("user_id", "s.n", "s.val_sum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = rows.toDF().groupBy("user_id")
      .agg(count(lit(1)), sum("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    latest shouldBe want
    // batch mode runs the same operator in one pass
    val batch = EventStreams.runningUserAggregates(rows.toDF())
      .collect().map(r => (r.user_id, r.n, r.val_sum)).toSet
    batch shouldBe want
  }

  test("ST4c transformWithState: running totals == batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    // The transformWithState operator requires the RocksDB state store.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val name = s"st4c_${System.nanoTime()}"
      val q = EventStreams.runningUserAggregatesTws(mem.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      mem.addData(rows.take(3))
      q.processAllAvailable()
      mem.addData(rows.drop(3))
      q.processAllAvailable()
      q.stop()
      val latest = spark.table(name)
        .groupBy("user_id").agg(max_by(struct("n", "val_sum"), col("n")).as("s"))
        .select("user_id", "s.n", "s.val_sum")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = rows.toDF().groupBy("user_id")
        .agg(count(lit(1)), sum("value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      latest shouldBe want
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("ST5 incremental upsert sink: stream result == batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("st5").toString
    val mem = MemoryStream[Ev]
    mem.addData(rows.take(3))
    val q = EventStreams.incrementalUpsert(
      mem.toDF(), s"$dir/t", s"$dir/cp")
    q.processAllAvailable()
    q.stop()
    // later data arrives; a restarted query resumes from the checkpoint and
    // must MERGE into the table, not replace it
    mem.addData(rows.drop(3))
    val q2 = EventStreams.incrementalUpsert(
      mem.toDF(), s"$dir/t", s"$dir/cp")
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(s"$dir/t")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = rows.toDF().groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("val_sum"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got.toSeq shouldBe want.toSeq
  }

  test("curation ops apply unchanged to a stream (flags/split parity)") {
    import graft.ext.{Sampling, TextAnalysis}
    implicit val sqlCtx = spark.sqlContext
    // stateless curation columns compose with readStream exactly as with
    // a batch read — the ingest-time filtering shape of a live corpus
    val docs = Seq((1L, "short doc"), (2L, (0 until 40).map(i => s"t$i").mkString(" ")))
    def curate(df: DataFrame): DataFrame =
      df.select(col("_1").as("doc_id"),
        concat_ws("|",
          TextAnalysis.qualityFlags(col("_2")),
          TextAnalysis.redact(col("_2"), TextAnalysis.PiiRules),
          TextAnalysis.normalizeText(col("_2")),
          TextAnalysis.languageId(col("_2"))).as("flags"),
        Sampling.splitAssign(col("_1")).as("split"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs)
    val name = s"cur_${System.nanoTime()}"
    val q = curate(mem.toDF()).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val batch = curate(docs.toDF()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    stream shouldBe batch
    batch.find(_._1 == 1L).get._2 should startWith("S--|")
  }

  test("ST13 streaming SRP dedup-on-arrival: fingerprint collisions drop") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Similarity
    val rnd = new scala.util.Random(29)
    def vec() = Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
    val corpusRows = (0L until 30L).map(i => i -> vec())
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val corpusSig = Similarity.srpSignature(corpus, "embedding", "vec_id")
      .localCheckpoint()
    val arriving = Seq(
      ArrivingVec(100L, corpusRows(7)._2.clone()), // exact copy: dist 0
      ArrivingVec(101L, vec()),                    // novel
      ArrivingVec(102L, vec()))                    // novel
    val mem = MemoryStream[ArrivingVec]
    mem.addData(arriving)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = EventStreams.onArrival(mem.toDF())(
      EventStreams.srpDedupBatch(corpusSig, _, "embedding", "vec_id", 3)) { surv =>
      got.synchronized { got ++= surv.collect().map(_.getLong(0)) }
    }
    q.processAllAvailable()
    q.stop()
    // stream ≡ batch kernel ≡ the q150 incremental probe's verdict
    val batch = EventStreams.srpDedupBatch(
      corpusSig, arriving.toDF("vec_id", "embedding"), "embedding",
      "vec_id", 3)
    batch.columns.toSeq shouldBe Seq("vec_id", "embedding")
    val batchIds = batch.collect().map(_.getLong(0)).toSet
    got.toSet shouldBe batchIds
    // the exact copy collides at dist 0 and drops; random dim-8 vectors
    // sit tens of bits apart, so the novel pair survives radius 3
    batchIds shouldBe Set(101L, 102L)
  }

  test("ST16 streaming covariance: persisted sketch after two batches ≡ batch sums, finalize exact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Similarity
    val rnd = new scala.util.Random(53)
    def vec() = Array.fill(4)((rnd.nextDouble() * 2 - 1).toFloat)
    val b1 = (0L until 20L).map(i => ArrivingVec(i, vec()))
    val b2 = (20L until 35L).map(i => ArrivingVec(i, vec()))
    val dir = java.nio.file.Files.createTempDirectory("st16_").toString
    val mem = MemoryStream[ArrivingVec]
    mem.addData(b1)
    val cov = EventStreams.MergeState.Covariance("embedding", "vec_id")
    val q1 = EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(cov, _, s"$dir/t", _))
    q1.awaitTermination()
    mem.addData(b2)
    val q2 = EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(cov, _, s"$dir/t", _))
    q2.awaitTermination()
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val stored = spark.read.parquet(s"$dir/t")
      .filter(!(col("i") === -2 && col("j") === -2)) // batchId marker row
      .select("i", "j", "s")
    cells(stored) shouldBe cells(Similarity.covarianceSums(
      (b1 ++ b2).toDF("vec_id", "embedding"), "embedding", "vec_id"))
    // at-least-once replay guard: re-merging an already-applied batchId
    // is a no-op (foreachBatch can redeliver after a crash between the
    // atomic swap and the checkpoint commit — an additive merge would
    // silently double-count without the marker)
    EventStreams.mergeBatch(cov, b2.toDF("vec_id", "embedding"),
      s"$dir/t", 1L) shouldBe false
    cells(spark.read.parquet(s"$dir/t")
      .filter(!(col("i") === -2 && col("j") === -2))
      .select("i", "j", "s")) shouldBe cells(Similarity.covarianceSums(
      (b1 ++ b2).toDF("vec_id", "embedding"), "embedding", "vec_id"))
    // and the finalized matrix equals a full batch recompute exactly
    Similarity.finalizeCovariance(stored).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap shouldBe
      Similarity.covarianceMatrix((b1 ++ b2).toDF("vec_id", "embedding"),
        "embedding", "vec_id").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
  }

  test("ST18 streaming cluster assignment: copies adopt, novel payloads found clusters") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Multimodal
    val corpus = (0L until 15L).map(i =>
      i -> s"gallery image number ${i % 5}") // 5 clusters of 3 copies
      .toDF("doc_id", "text")
    val cMedia = Multimodal.asMedia(corpus, "doc_id", "text")
    val labels = Multimodal.phashClusters(cMedia, maxDist = 4)
      .localCheckpoint()
    val sig = Multimodal.frameHashes(cMedia, Seq(0)).toDF().localCheckpoint()
    val arriving = Seq(
      ArrivingDoc(100L, "gallery image number 3"), // copy → adopts cluster 3
      ArrivingDoc(101L, "an entirely new photograph"))
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(arriving)
    val got = scala.collection.mutable.Map[Long, (Long, Int)]()
    val q = EventStreams.onArrival(mem.toDF())(b =>
      Multimodal.assignToPhashClusters(labels, sig,
        Multimodal.asMedia(b, "doc_id", "text"), 4)) { rep =>
      got.synchronized {
        rep.collect().foreach(r =>
          got(r.getLong(0)) = (r.getLong(1), r.getInt(2)))
      }
    }
    q.processAllAvailable()
    q.stop()
    // stream ≡ batch kernel
    val batch = Multimodal.assignToPhashClusters(labels, sig,
      Multimodal.asMedia(arriving.toDF("doc_id", "text"), "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    got.toMap shouldBe batch
    got(100L) shouldBe ((3L, 0)) // adopted doc 3's cluster, not a keeper
    got(101L) shouldBe ((101L, 1)) // novel: founds its own cluster
  }

  test("ST19 streaming audio dedup: re-encoded WAV drops, novel audio survives") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Containers, Multimodal}
    val rnd = new scala.util.Random(41)
    def stream() = Array.fill(65 * 48)(rnd.nextInt(32768) - 16384)
    val corpusStreams = (0 until 5).map(_ => stream())
    val corpusFp = Multimodal.audioFingerprint(
      corpusStreams.zipWithIndex.map { case (s, i) =>
        Multimodal.MediaRow(i.toLong, Containers.wavBytes(s))
      }.toDS(), window = 48, decode = Containers.decodeWav)
      .localCheckpoint()
    val arriving = Seq(
      // half-amplitude re-encode of corpus stream 2 → near dup, drops
      ArrivingMedia(100L, Containers.wavBytes(corpusStreams(2).map(_ / 2))),
      // novel stream → survives
      ArrivingMedia(101L, Containers.wavBytes(stream())))
    val mem = MemoryStream[ArrivingMedia]
    mem.addData(arriving)
    val got = scala.collection.mutable.Set[Long]()
    val q = EventStreams.onArrival(mem.toDF())(
      EventStreams.audioDedupBatch(corpusFp, _, window = 48, maxDist = 6,
        decode = Containers.decodeWav)) { out =>
      got.synchronized { out.collect().foreach(r => got += r.getLong(0)) }
    }
    q.processAllAvailable()
    q.stop()
    // stream ≡ batch kernel
    val batchIds = EventStreams.audioDedupBatch(corpusFp,
      arriving.map(a => Multimodal.MediaRow(a.media_id, a.payload)).toDF(),
      window = 48, maxDist = 6, decode = Containers.decodeWav)
      .collect().map(_.getLong(0)).toSet
    got.toSet shouldBe batchIds
    batchIds shouldBe Set(101L)
  }

  test("ST20 streaming drift: shifted batch alarms, corpus-like batch stays quiet") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Drift
    val thresholds = Seq(25L, 50L, 75L)
    // corpus: uniform over 0..99 → 25 rows per bucket
    val corpus = (0L until 100L).map(i => Ev(i, i % 7, "view",
      new Timestamp(1700000000000L + i), i.toDouble, "{}")).toDF()
    val refBuckets = corpus
      .select(Drift.bucketOf(col("value"), thresholds).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_ref"))
      .localCheckpoint()
    def psiOf(rows: Seq[Ev]): Double = {
      val mem = MemoryStream[Ev]
      mem.addData(rows)
      val got = scala.collection.mutable.ArrayBuffer[Double]()
      val q = EventStreams.onArrival(mem.toDF())(
        Drift.psiAgainstReference(refBuckets, _,
          Drift.bucketOf(col("value"), thresholds))) { out =>
        got.synchronized {
          got ++= out.collect().map(_.getDouble(3))
        }
      }
      q.processAllAvailable()
      q.stop()
      // stream ≡ batch kernel
      val batchPsi = Drift.psiAgainstReference(refBuckets, rows.toDF(),
        Drift.bucketOf(col("value"), thresholds))
        .collect().map(_.getDouble(3))
      got.sorted.toSeq shouldBe batchPsi.sorted.toSeq
      got.sum
    }
    // corpus-like arrival: same uniform shape → PSI ~ 0
    val same = (0L until 100L).map(i => Ev(1000 + i, i % 7, "view",
      new Timestamp(1700000100000L + i), i.toDouble, "{}"))
    math.abs(psiOf(same)) should be < 1e-9
    // shifted arrival: all mass in the top bucket → large positive PSI
    val shifted = (0L until 100L).map(i => Ev(2000 + i, i % 7, "view",
      new Timestamp(1700000200000L + i), 80.0 + (i % 20), "{}"))
    psiOf(shifted) should be > 1.0
  }

  test("ST23 streaming KS/W1 drift: stream ≡ batch probes, shift moves both") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Drift
    // frozen quantized corpus table over continuous values
    val rnd = new scala.util.Random(37)
    val corpusVals = (0 until 500).map(_ => rnd.nextDouble() * 50.0)
    val step = 0.25
    val corpus = Drift.quantizedEcdfTable(
      corpusVals.toDF("value"), "value", step).localCheckpoint()
    def probe(vals: Seq[Double], ids0: Long): (Double, Double) = {
      val rows = vals.zipWithIndex.map { case (v, i) =>
        Ev(ids0 + i, i % 5, "view",
          new Timestamp(1700000000000L + i), v, "{}")
      }
      val mem = MemoryStream[Ev]
      mem.addData(rows)
      val got = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      val q = EventStreams.onArrival(mem.toDF())(
        EventStreams.ecdfDriftBatch(corpus, _, "value", step = Some(step))) { out =>
        got.synchronized {
          got ++= out.collect().map(r =>
            (r.getAs[Double]("d_stat"), r.getAs[Double]("w1")))
        }
      }
      q.processAllAvailable()
      q.stop()
      got should have size 1
      // stream ≡ batch kernels, bit for bit
      val bks = Drift.incrementalKsQuantized(corpus, rows.toDF(),
        "value", step).head().getAs[Double]("d_stat")
      val bw1 = Drift.incrementalWassersteinQuantized(corpus, rows.toDF(),
        "value", step).head().getAs[Double]("w1")
      got.head shouldBe ((bks, bw1))
      got.head
    }
    // corpus-shaped arrival: small D, small W1
    val (dSame, wSame) =
      probe((0 until 200).map(_ => rnd.nextDouble() * 50.0), 1000L)
    // shifted arrival: both statistics move
    val (dShift, wShift) =
      probe((0 until 200).map(_ => rnd.nextDouble() * 50.0 + 10.0), 2000L)
    dShift should be > dSame
    wShift should be > wSame + 5.0 // ~the 10-unit shift, minus overlap slack
  }

  test("ST21 streaming topic routing: arrivals route like the batch kernel") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Retrieval
    val topics = Map(
      "analytics" -> Seq("join", "hash"),
      "streaming" -> Seq("window", "batch"))
    val arriving = Seq(
      ArrivingDoc(1L, "join hash merge"),
      ArrivingDoc(2L, "window batch state"),
      ArrivingDoc(3L, "completely unrelated words"))
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(arriving)
    val got = scala.collection.mutable.Map[Long, String]()
    val q = EventStreams.onArrival(mem.toDF())(
      Retrieval.maxSimRoute(_, "doc_id", "text", topics)) { out =>
      got.synchronized {
        out.collect().foreach(r => got(r.getLong(0)) = r.getString(1))
      }
    }
    q.processAllAvailable()
    q.stop()
    val batch = Retrieval.maxSimRoute(arriving.toDF("doc_id", "text"),
      "doc_id", "text", topics)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.toMap shouldBe batch
    got(1L) shouldBe "analytics"
    got(2L) shouldBe "streaming"
  }

  test("ST22 streaming distinct count: merged sketch ≡ full-history estimate, replay no-op") {
    implicit val sqlCtx = spark.sqlContext
    val b1 = (0L until 500L).map(i => ArrivingDoc(i, s"u${i % 300}"))
    val b2 = (500L until 900L).map(i => ArrivingDoc(i, s"u${i % 450}"))
    val dir = java.nio.file.Files.createTempDirectory("st22_").toString
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(b1)
    val hll = EventStreams.MergeState.Hll("text")
    val q1 = EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(hll, _, s"$dir/t", _))
    q1.awaitTermination()
    mem.addData(b2)
    val q2 = EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(hll, _, s"$dir/t", _))
    q2.awaitTermination()
    def estimate() = EventStreams.readState(spark, s"$dir/t")
      .select(hll_sketch_estimate(col("sketch"))).head().getLong(0)
    val streamed = estimate()
    // HLL union is per-register max → the streamed chain of unions must
    // equal one DIRECT union over the same two batch sketches (a direct
    // single build can differ by a hair: HIP is discarded on union)
    val unioned = Seq(b1, b2).map(b =>
      b.toDF("doc_id", "text").agg(hll_sketch_agg(col("text")).as("sketch")))
      .reduce(_ unionByName _)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))).head().getLong(0)
    streamed shouldBe unioned
    // and the estimate is in the right neighborhood of the exact count
    val exact = (b1 ++ b2).map(_.text).distinct.size.toLong
    math.abs(streamed - exact).toDouble / exact should be < 0.05
    // at-least-once replay: re-merging an applied batchId is a no-op
    EventStreams.mergeBatch(hll, b2.toDF("doc_id", "text"),
      s"$dir/t", 1L) shouldBe false
    estimate() shouldBe streamed
  }

  test("ST25 streaming bottom-k sketch: streamed merge ≡ cold rebuild bit-for-bit, replay no-op") {
    implicit val sqlCtx = spark.sqlContext
    // two groups (doc_id parity), overlapping token spaces across batches
    val b1 = (0L until 400L).map(i => ArrivingDoc(i, s"u${i % 90}"))
    val b2 = (400L until 700L).map(i => ArrivingDoc(i, s"u${(i % 130) + 40}"))
    val dir = java.nio.file.Files.createTempDirectory("st25_").toString
    def withGrp(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("grp", (col("doc_id") % 2).cast("string"))
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(b1)
    val bk = EventStreams.MergeState.BottomK("grp", "text", 32)
    val q1 = EventStreams.mergeOnArrival(withGrp(mem.toDF()), s"$dir/cp")(
      EventStreams.mergeBatch(bk, _, s"$dir/t", _))
    q1.awaitTermination()
    mem.addData(b2)
    val q2 = EventStreams.mergeOnArrival(withGrp(mem.toDF()), s"$dir/cp")(
      EventStreams.mergeBatch(bk, _, s"$dir/t", _))
    q2.awaitTermination()
    // the merge law is exact: streamed state == one direct build over
    // the full history (not merely estimate-equal, row-for-row equal)
    val streamedSketch = spark.read.parquet(s"$dir/t")
      .select("grp", "rn", "h")
    val direct = graft.ops.Sketches.bottomK(
      withGrp((b1 ++ b2).toDF("doc_id", "text")), "grp", "text", 32)
    streamedSketch.exceptAll(direct).count() shouldBe 0L
    direct.exceptAll(streamedSketch).count() shouldBe 0L
    // the estimate reader matches a direct estimate over the same sketch
    val est = graft.ops.Sketches.distinctEstimate(
      EventStreams.readState(spark, s"$dir/t"), "grp", 32).collect()
    est.length shouldBe 2
    val exactByGrp = (b1 ++ b2).groupBy(_.doc_id % 2)
      .map { case (g, docs) => g.toString -> docs.map(_.text).distinct.size }
    est.foreach { r =>
      val exact = exactByGrp(r.getString(0)).toDouble
      math.abs(r.getDouble(3) - exact) / exact should be < 0.5
    }
    // at-least-once replay: re-merging an applied batchId is a no-op
    EventStreams.mergeBatch(bk, withGrp(b2.toDF("doc_id", "text")),
      s"$dir/t", 1L) shouldBe false
    // empty batch: no write, no marker advance
    EventStreams.mergeBatch(bk,
      withGrp(b1.take(0).toDF("doc_id", "text")),
      s"$dir/t", 99L) shouldBe false
  }

  test("ST26 streaming shard manifest: streamed merge ≡ cold recompute; replay guard is load-bearing") {
    implicit val sqlCtx = spark.sqlContext
    val b1 = (0L until 300L).map(i => ArrivingDoc(i, s"alpha w${i % 13} x${i % 7}"))
    val b2 = (300L until 500L).map(i => ArrivingDoc(i, s"beta w${i % 17}"))
    val dir = java.nio.file.Files.createTempDirectory("st26_").toString
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(b1)
    val man = EventStreams.MergeState.Manifest("doc_id", "text", shards = 4)
    val q1 = EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(man, _, s"$dir/t", _))
    q1.awaitTermination()
    mem.addData(b2)
    val q2 = EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(man, _, s"$dir/t", _))
    q2.awaitTermination()
    // the additive merge is exact: streamed dataset card == one direct
    // manifest over the full history, row-for-row (counts, id ranges,
    // AND the mod-P content checksum)
    val streamed = EventStreams.readState(spark, s"$dir/t")
    val direct = graft.ops.Manifest.shardManifest(
      (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 4)
    streamed.exceptAll(direct).count() shouldBe 0L
    direct.exceptAll(streamed).count() shouldBe 0L
    // at-least-once replay: the additive merge is NOT idempotent, so the
    // batch-id guard must refuse a re-applied batch (a double-merge
    // would double every count)
    EventStreams.mergeBatch(man, b2.toDF("doc_id", "text"),
      s"$dir/t", 1L) shouldBe false
    val after = EventStreams.readState(spark, s"$dir/t")
    after.exceptAll(direct).count() shouldBe 0L
    // empty batch: no write, no marker advance
    EventStreams.mergeBatch(man, b1.take(0).toDF("doc_id", "text"),
      s"$dir/t", 99L) shouldBe false
  }

  test("ST28 streaming count-min sketch: streamed merge ≡ cold rebuild bit-for-bit, replay refused") {
    implicit val sqlCtx = spark.sqlContext
    // two groups (doc_id parity), token frequencies skewed per batch
    val b1 = (0L until 400L).map(i => ArrivingDoc(i, s"w${i % 25}"))
    val b2 = (400L until 700L).map(i => ArrivingDoc(i, s"w${i % 40}"))
    val dir = java.nio.file.Files.createTempDirectory("st28_").toString
    def withGrp(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("grp", (col("doc_id") % 2).cast("string"))
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(b1)
    val cms = EventStreams.MergeState.Cms("grp", "text", depth = 3,
      width = 64)
    val q1 = EventStreams.mergeOnArrival(withGrp(mem.toDF()), s"$dir/cp")(
      EventStreams.mergeBatch(cms, _, s"$dir/t", _))
    q1.awaitTermination()
    mem.addData(b2)
    val q2 = EventStreams.mergeOnArrival(withGrp(mem.toDF()), s"$dir/cp")(
      EventStreams.mergeBatch(cms, _, s"$dir/t", _))
    q2.awaitTermination()
    // LINEAR merge law: streamed counters == one sketch over the full
    // history, bit-for-bit (integer addition commutes exactly)
    val streamed = spark.read.parquet(s"$dir/t").select("grp", "r", "b", "cnt")
    val direct = graft.ops.LinearSketches.cmsSketch(
      withGrp((b1 ++ b2).toDF("doc_id", "text")), "grp", "text", 3, 64)
    streamed.exceptAll(direct).count() shouldBe 0L
    direct.exceptAll(streamed).count() shouldBe 0L
    // the probe reader: every estimate >= the true count (CMS one-sided)
    val truth = withGrp((b1 ++ b2).toDF("doc_id", "text"))
      .groupBy("grp", "text").count()
    val est = graft.ops.LinearSketches.cmsEstimate(
      EventStreams.readState(spark, s"$dir/t"),
      truth.select("grp", "text"), "grp", "text", 3, 64)
    est.join(truth, Seq("grp", "text")).collect()
      .foreach(r => r.getLong(2) should be >= r.getLong(3))
    // at-least-once replay: counter addition is NOT idempotent — the
    // batch-id guard must refuse a re-applied batch
    EventStreams.mergeBatch(cms, withGrp(b2.toDF("doc_id", "text")),
      s"$dir/t", 1L) shouldBe false
    spark.read.parquet(s"$dir/t").select("grp", "r", "b", "cnt")
      .exceptAll(direct).count() shouldBe 0L
    // empty batch: no write, no marker advance
    EventStreams.mergeBatch(cms, withGrp(b1.take(0).toDF("doc_id", "text")),
      s"$dir/t", 99L) shouldBe false
  }

  test("ST29 streaming moment stats: streamed merge ≡ cold rebuild; live Welch probe") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String, v: Double) =
      Ev(id, id % 7, t, new Timestamp(id * 1000), v, "{}")
    // two groups with different means (A ~ id%20, B ~ id%20 + 30)
    val b1 = (0L until 300L).map(i =>
      ev(i, if (i % 2 == 0) "A" else "B",
        (i % 20).toDouble + (if (i % 2 == 0) 0 else 30)))
    val b2 = (300L until 500L).map(i =>
      ev(i, if (i % 2 == 0) "A" else "B",
        (i % 20).toDouble + (if (i % 2 == 0) 0 else 30)))
    val dir = java.nio.file.Files.createTempDirectory("st29_").toString
    val mem = MemoryStream[Ev]
    mem.addData(b1)
    val stats = EventStreams.MergeState.Stats("event_type", "value")
    val q1 = EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(stats, _, s"$dir/t", _))
    q1.awaitTermination()
    mem.addData(b2)
    val q2 = EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(stats, _, s"$dir/t", _))
    q2.awaitTermination()
    // linear merge law: streamed table == one build over full history
    val streamed = spark.read.parquet(s"$dir/t").select("g", "n", "s1", "s2")
    val direct = graft.ops.Hypothesis.statsTable(
      (b1 ++ b2).toDF(), "event_type", col("value"))
    streamed.exceptAll(direct).count() shouldBe 0L
    direct.exceptAll(streamed).count() shouldBe 0L
    // live A/B probe: a +50-shifted arriving cohort shows a strongly
    // negative t against the corpus stats, per group, no corpus re-read
    val shifted = (0L until 100L).map(i =>
      ev(9000 + i, if (i % 2 == 0) "A" else "B",
        (i % 20).toDouble + (if (i % 2 == 0) 0 else 30) + 50))
    val probe = graft.ops.Hypothesis.welchFromStats(
      EventStreams.readState(spark, s"$dir/t"),
      graft.ops.Hypothesis.statsTable(shifted.toDF(), "event_type",
        col("value")), "event_type")
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    probe.keySet shouldBe Set("A", "B")
    probe.values.foreach(_ should be < -10.0)
    // replay refused (addition is not idempotent); empty batch skipped
    EventStreams.mergeBatch(stats, b2.toDF(), s"$dir/t", 1L) shouldBe false
    EventStreams.mergeBatch(stats, b1.take(0).toDF(), s"$dir/t",
      99L) shouldBe false
  }

  test("ST30 streaming confusion matrix: streamed merge ≡ cold rebuild; live ratios") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String, v: Double) =
      Ev(id, id % 7, t, new Timestamp(id * 1000), v, "{}")
    // classifier outcomes: score = id%40, true label = id%3==0 (derived
    // in-stream), two groups, three gate thresholds
    val b1 = (0L until 300L).map(i =>
      ev(i, if (i % 2 == 0) "A" else "B", (i % 40).toDouble))
    val b2 = (300L until 500L).map(i =>
      ev(i, if (i % 2 == 0) "A" else "B", (i % 40).toDouble))
    val thr = Seq(10.0, 20.0, 30.0)
    def labeled(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("y", col("event_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("st30_").toString
    val mem = MemoryStream[Ev]
    mem.addData(b1)
    val conf = EventStreams.MergeState.Confusion("event_type", "y", "value",
      thr)
    val q1 = EventStreams.mergeOnArrival(labeled(mem.toDF()), s"$dir/cp")(
      EventStreams.mergeBatch(conf, _, s"$dir/t", _))
    q1.awaitTermination()
    mem.addData(b2)
    val q2 = EventStreams.mergeOnArrival(labeled(mem.toDF()), s"$dir/cp")(
      EventStreams.mergeBatch(conf, _, s"$dir/t", _))
    q2.awaitTermination()
    // linear merge law: streamed table == one count over full history
    val streamed = spark.read.parquet(s"$dir/t")
      .select("event_type", "thr", "tp", "fp", "fn", "tn")
    val direct = graft.ops.Hypothesis.confusionCounts(
      labeled((b1 ++ b2).toDF()), "event_type", col("y"), col("value"), thr)
    streamed.exceptAll(direct).count() shouldBe 0L
    direct.exceptAll(streamed).count() shouldBe 0L
    // state bound: groups × thresholds rows, forever
    streamed.count() shouldBe 2L * thr.size
    // live gate-tuning read == the q233 batch surface over full history
    val live = graft.ops.Hypothesis.confusionRatios(
      EventStreams.readState(spark, s"$dir/t"), "event_type")
    val batchSurface = graft.ops.Hypothesis.confusionAtThresholds(
      labeled((b1 ++ b2).toDF()), "event_type", col("y"), col("value"), thr)
    live.exceptAll(batchSurface).count() shouldBe 0L
    batchSurface.exceptAll(live).count() shouldBe 0L
    // replay refused (addition is not idempotent); empty batch skipped
    EventStreams.mergeBatch(conf, labeled(b2.toDF()), s"$dir/t",
      1L) shouldBe false
    EventStreams.mergeBatch(conf, labeled(b1.take(0).toDF()), s"$dir/t",
      99L) shouldBe false
  }

  test("ST31 streaming rank sketch: streamed merge ≡ cold rebuild; live quantiles") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String, v: Double) =
      Ev(id, id % 7, t, new Timestamp(id * 1000), v, "{}")
    // continuous-ish values (id % 97 — 97 distinct per group), k = 32
    val b1 = (0L until 400L).map(i =>
      ev(i, if (i % 2 == 0) "A" else "B", (i % 97).toDouble))
    val b2 = (400L until 700L).map(i =>
      ev(i, if (i % 2 == 0) "A" else "B", (i % 97).toDouble))
    val dir = java.nio.file.Files.createTempDirectory("st31_").toString
    val mem = MemoryStream[Ev]
    mem.addData(b1)
    val rank = EventStreams.MergeState.RankSketch("event_type", "value", 32)
    EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(rank, _, s"$dir/t", _)).awaitTermination()
    mem.addData(b2)
    EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(rank, _, s"$dir/t", _)).awaitTermination()
    // merge law live: streamed table == one sketch over full history
    val streamed = spark.read.parquet(s"$dir/t")
      .select("event_type", "v", "cnt", "h")
    val direct = graft.ops.Sketches.rankSketch(
      (b1 ++ b2).toDF(), "event_type", "value", 32)
    streamed.exceptAll(direct).count() shouldBe 0L
    direct.exceptAll(streamed).count() shouldBe 0L
    streamed.count() should be <= 64L // ≤ k per group forever
    // live ladder == batch ladder off the same (cold) sketch
    val live = graft.ops.Sketches.quantilesFromRankSketch(
      EventStreams.readState(spark, s"$dir/t"), "event_type", Seq(50))
    val batchLadder = graft.ops.Sketches.quantilesFromRankSketch(
      direct, "event_type", Seq(50))
    live.exceptAll(batchLadder).count() shouldBe 0L
    batchLadder.exceptAll(live).count() shouldBe 0L
    // replay refused (counts add); empty batch skipped
    EventStreams.mergeBatch(rank, b2.toDF(), s"$dir/t", 1L) shouldBe false
    EventStreams.mergeBatch(rank, b1.take(0).toDF(), s"$dir/t",
      99L) shouldBe false
  }

  test("ST34 streaming drift: streamed merge ≡ cold rebuild; live PSI vs frozen reference") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String, v: Double) =
      Ev(id, id % 7, t, new Timestamp(id * 1000), v, "{}")
    // frozen reference cohort: uniform-ish values; live stream drifts high
    val refRows = (0L until 600L).map(i =>
      ev(i, if (i % 2 == 0) "A" else "B", (i % 50).toDouble))
    val b1 = (1000L until 1300L).map(i =>
      ev(i, if (i % 2 == 0) "A" else "B", (i % 50).toDouble + 10.0))
    val b2 = (1300L until 1500L).map(i =>
      ev(i, if (i % 2 == 0) "A" else "B", (i % 50).toDouble + 20.0))
    val thr = Seq(10L, 20L, 30L, 40L)
    val dir = java.nio.file.Files.createTempDirectory("st34_").toString
    val mem = MemoryStream[Ev]
    mem.addData(b1)
    val drift = EventStreams.MergeState.DriftCounts("event_type", "value", thr)
    EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(drift, _, s"$dir/t", _)).awaitTermination()
    mem.addData(b2)
    EventStreams.mergeOnArrival(mem.toDF(), s"$dir/cp")(
      EventStreams.mergeBatch(drift, _, s"$dir/t", _)).awaitTermination()
    // linear merge law: streamed counts == one count over full history
    val streamed = spark.read.parquet(s"$dir/t")
      .select("event_type", "bucket", "n_live")
    val direct = (b1 ++ b2).toDF()
      .groupBy(col("event_type"),
        graft.ops.Drift.bucketOf(col("value"), thr).as("bucket"))
      .agg(count(lit(1)).as("n_live"))
    streamed.exceptAll(direct).count() shouldBe 0L
    direct.exceptAll(streamed).count() shouldBe 0L
    // state bound: groups × (|thresholds|+1) rows, forever
    streamed.count() should be <= (2L * (thr.size + 1))
    // live alarm read == the batch psiOfCounts over full history
    val ref = graft.ops.Drift.referenceCounts(refRows.toDF(), "event_type",
      graft.ops.Drift.bucketOf(col("value"), thr))
    val live = graft.ops.Drift.psiOfCounts(ref,
      EventStreams.readState(spark, s"$dir/t"), "event_type")
    val batchPsi = graft.ops.Drift.psiOfCounts(ref, direct, "event_type")
    live.exceptAll(batchPsi).count() shouldBe 0L
    batchPsi.exceptAll(live).count() shouldBe 0L
    // the drift is actually visible: some per-group PSI sum is large
    val alarm = live.groupBy("event_type")
      .agg(sum("psi_term").as("psi")).collect()
      .map(r => r.getDouble(1)).max
    alarm should be > 0.1
    // replay refused (addition is not idempotent); empty batch skipped
    EventStreams.mergeBatch(drift, b2.toDF(), s"$dir/t", 1L) shouldBe false
    EventStreams.mergeBatch(drift, b1.take(0).toDF(), s"$dir/t",
      99L) shouldBe false
  }

  test("ST35 streaming frontier: OR-merge ≡ cold build; replay is a no-op by algebra") {
    implicit val sqlCtx = spark.sqlContext
    val p = graft.ext.Bloom.Params(mBits = 1L << 12, k = 4)
    val b1 = (0L until 150L).map(i => ArrivingDoc(i, s"http://h${i % 9}.test/p/$i"))
    val b2 = (150L until 300L).map(i => ArrivingDoc(i, s"http://h${i % 9}.test/p/$i"))
    val dir = java.nio.file.Files.createTempDirectory("st35_").toString
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(b1)
    val frontier = EventStreams.MergeState.Frontier("url", p)
    EventStreams.mergeOnArrival(mem.toDF().withColumnRenamed("text", "url"),
      s"$dir/cp")(EventStreams.mergeBatch(frontier, _, s"$dir/t", _))
      .awaitTermination()
    mem.addData(b2)
    EventStreams.mergeOnArrival(mem.toDF().withColumnRenamed("text", "url"),
      s"$dir/cp")(EventStreams.mergeBatch(frontier, _, s"$dir/t", _))
      .awaitTermination()
    val all = (b1 ++ b2).toDF("doc_id", "url")
    // streamed state == one cold build over full history
    val streamed = spark.read.parquet(s"$dir/t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold = graft.ext.Bloom.build(all, "url", p)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    streamed shouldBe cold
    // an applied batch id is refused by the shared guard; REPLAYING the
    // batch under a new id is a no-op by the ∨ law
    EventStreams.mergeBatch(frontier, b2.toDF("doc_id", "url"), s"$dir/t",
      1L) shouldBe false
    spark.read.parquet(s"$dir/t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe cold
    EventStreams.mergeBatch(frontier, b2.toDF("doc_id", "url"), s"$dir/t",
      2L) shouldBe true
    spark.read.parquet(s"$dir/t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe cold
    // live probe: every merged key present, empty batch skipped
    graft.ext.Bloom.probe(all, "url", "doc_id",
      EventStreams.readState(spark, s"$dir/t"), p)
      .filter(!col("maybe_present")).count() shouldBe 0L
    EventStreams.mergeBatch(frontier, b1.take(0).toDF("doc_id", "url"),
      s"$dir/t", 99L) shouldBe false
  }

  test("ST17 streaming CDC byte-delta: exact copy reports zero new bytes") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Multimodal
    val corpus = (0L until 12L).map(i =>
      i -> s"stored payload content block $i with enough bytes to chunk")
      .toDF("doc_id", "text")
    val corpusChunks = Multimodal.cdcChunks(
      Multimodal.asMedia(corpus, "doc_id", "text")).toDF()
      .localCheckpoint()
    val arriving = Seq(
      ArrivingDoc(100L, "stored payload content block 7 with enough bytes to chunk"),
      ArrivingDoc(101L, "a totally novel upload nothing in the store has seen"))
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(arriving)
    val got = scala.collection.mutable.Map[Long, (Long, Double)]()
    val q = EventStreams.onArrival(mem.toDF())(b =>
      Multimodal.incrementalCdcBytes(corpusChunks,
        Multimodal.asMedia(b, "doc_id", "text"))) { rep =>
      got.synchronized {
        rep.collect().foreach(r =>
          got(r.getLong(0)) = (r.getLong(3), r.getDouble(4)))
      }
    }
    q.processAllAvailable()
    q.stop()
    // stream ≡ batch kernel
    val batch = Multimodal.incrementalCdcBytes(corpusChunks,
      Multimodal.asMedia(arriving.toDF("doc_id", "text"), "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getDouble(4))))
      .toMap
    got.toMap shouldBe batch
    got(100L) shouldBe ((0L, 0.0)) // byte-identical upload: nothing new
    got(101L)._2 should be > 0.5   // novel upload: mostly new bytes
  }

  test("ST14 streaming image dedup-on-arrival: perceptual matches drop") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Multimodal
    val corpus = (0L until 20L).map(i => i -> s"corpus image number $i")
      .toDF("doc_id", "text")
    val corpusSig = Multimodal.frameHashes(
      Multimodal.asMedia(corpus, "doc_id", "text"), Seq(0)).toDF()
      .localCheckpoint()
    val arriving = Seq(
      ArrivingDoc(100L, "corpus image number 7"), // exact bytes: dist 0
      ArrivingDoc(101L, "a genuinely novel image payload"),
      ArrivingDoc(102L, "another unrelated arrival"))
    val mem = MemoryStream[ArrivingDoc]
    mem.addData(arriving)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = EventStreams.onArrival(mem.toDF())(
      EventStreams.phashDedupBatch(corpusSig, _, "doc_id", "text", 4)) { surv =>
      got.synchronized { got ++= surv.collect().map(_.getLong(0)) }
    }
    q.processAllAvailable()
    q.stop()
    // stream ≡ batch kernel ≡ the q160 incremental probe's verdict
    val batch = EventStreams.phashDedupBatch(
      corpusSig, arriving.toDF("doc_id", "text"), "doc_id", "text", 4)
    batch.columns.toSeq shouldBe Seq("doc_id", "text")
    val batchIds = batch.collect().map(_.getLong(0)).toSet
    got.toSet shouldBe batchIds
    // the byte-identical copy hashes to dist 0 and drops; unrelated
    // payloads have independent 64-bit hashes, tens of bits apart
    batchIds shouldBe Set(101L, 102L)
  }

  test("ST15 streaming LOCF grid: cells emit once on close, ≡ batch minus open buckets") {
    implicit val sqlCtx = spark.sqlContext
    val step = 600000000L // 10-minute buckets
    // two users; user 1 skips buckets 2–5 (gap), user 2 has an in-bucket
    // revision (t(5) then t(7): later event wins before the bucket closes)
    def bkt(min: Int): Long =
      Math.floorDiv((1700000000000L + min * 60000L) * 1000L, step)
    val batch1 = Seq(
      Ev(1, 1, "a", t(0), 1.0, "{}"), Ev(2, 1, "a", t(10), 2.0, "{}"),
      Ev(3, 2, "a", t(6), 9.0, "{}"), Ev(4, 2, "a", t(5), 8.0, "{}"))
    require(bkt(5) == bkt(6), "revision case needs both events in one bucket")
    val batch2 = Seq(
      Ev(5, 1, "a", t(65), 3.0, "{}"),  // closes user 1's bucket 1, fills 2–5
      Ev(6, 2, "a", t(25), 7.0, "{}"),  // closes user 2's bucket 0
      Ev(7, 2, "a", t(3), 99.0, "{}"))  // late past the open bucket: drops
    val mem = MemoryStream[Ev]
    val name = s"locf_${System.nanoTime()}"
    val q = EventStreams.locfGridOnArrival(mem.toDF(), step)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    mem.addData(batch1); q.processAllAvailable()
    mem.addData(batch2); q.processAllAvailable()
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSet
    // batch reference over the SURVIVING events (the late event drops),
    // minus each user's final (still-open) bucket
    val surviving = (batch1 ++ batch2.take(2)).toDF()
    val ref = graft.ops.Timeseries.resampleLocf(
      surviving, "user_id", "ts", "value", step)
    val openBkt = ref.groupBy("user_id").agg(max("bkt").as("bkt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refSet = ref.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
      .filterNot(c => openBkt((c._1, c._2))).toSet
    got shouldBe refSet
    // the in-bucket revision took the later event's value
    got.collect { case (2L, b, _, v, false) if b == bkt(5) => v }
      .head shouldBe 9.0
    // exactly-once: no duplicate (user, bucket) cells across batches
    val cells = spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1)))
    cells.distinct.length shouldBe cells.length
  }

  test("ST24 tws sessionization: data-closed + timer-closed ≡ batch gap-split") {
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 600000000L // 10 minutes
    // user 1: two sessions ([0,5] closed by data when 30 arrives; [30,35]
    // closed by TIMER once the watermark passes 35+gap); user 2: two
    // single-event sessions ([2] data-closed by 40; [40] timer-closed)
    val evs = Seq(
      Ev(1, 1, "a", t(0), 1.0, "{}"), Ev(2, 1, "a", t(5), 2.0, "{}"),
      Ev(3, 2, "a", t(2), 5.0, "{}"),
      Ev(4, 1, "a", t(30), 3.0, "{}"), Ev(5, 1, "a", t(35), 4.0, "{}"),
      Ev(6, 2, "a", t(40), 6.0, "{}"))
    // transformWithState timers need the RocksDB state store (the ST4c
    // setup)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val name = s"sess_${System.nanoTime()}"
    try {
      val mem = MemoryStream[Ev]
      val q = EventStreams.gapSessionsOnArrival(mem.toDF(), gapUs)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      mem.addData(evs.take(3)); q.processAllAvailable()
      mem.addData(evs.drop(3)); q.processAllAvailable()
      // sentinel far in the future advances the watermark past every open
      // session's (last + gap) expiry — the TIMER path must flush them
      mem.addData(Seq(Ev(99, 99, "a", t(100000), 0.0, "{}")))
      q.processAllAvailable()
      q.stop()
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val got = spark.table(name)
      .filter(col("user_id") =!= 99)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    // batch reference: gap-split sessions over the same events
    def us(ts: Timestamp): Long = ts.getTime * 1000L
    val expected = evs.groupBy(_.user_id).flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => us(e.ts))
      val sessions = sorted.foldLeft(List.empty[List[Ev]]) {
        case (acc, e) => acc match {
          case cur :: rest if us(e.ts) - us(cur.last.ts) <= gapUs =>
            (cur :+ e) :: rest
          case _ => List(e) :: acc
        }
      }
      sessions.map(s => (uid, us(s.head.ts), us(s.last.ts), s.size.toLong,
        s.map(_.value).sum))
    }.toSet
    got shouldBe expected
    got should have size 4 // user 1: [0,5], [30,35]; user 2: [2], [40]
  }

  test("ST24 tws sessionization: allowed-late pre-start events (nonzero watermark) fold or emit, never drop") {
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 600000000L // 10 minutes
    // batch 1 opens user 1's session [60, 65]; with a 30-minute watermark
    // delay the watermark is then 35, so batch 2's events at 40 and 58
    // are ALLOWED-LATE but both precede the open session's start:
    //  - t(58) is within one gap of the start (60): batch gap-split
    //    would place it IN the session, extending its start — must fold;
    //  - t(40) is beyond the gap: its own immediately-closed singleton
    //    (nothing still in flight can merge with it) — must emit, the
    //    pre-fix code silently dropped it.
    val evs1 = Seq(Ev(1, 1, "a", t(60), 1.0, "{}"),
      Ev(2, 1, "a", t(65), 2.0, "{}"))
    val evs2 = Seq(Ev(3, 1, "a", t(40), 8.0, "{}"),
      Ev(4, 1, "a", t(58), 4.0, "{}"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val name = s"sesslate_${System.nanoTime()}"
    try {
      val mem = MemoryStream[Ev]
      val q = EventStreams.gapSessionsOnArrival(mem.toDF(), gapUs,
        watermark = "1800 seconds")
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      mem.addData(evs1); q.processAllAvailable()
      mem.addData(evs2); q.processAllAvailable()
      mem.addData(Seq(Ev(99, 99, "a", t(100000), 0.0, "{}")))
      q.processAllAvailable()
      q.stop()
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    def us(ts: Timestamp): Long = ts.getTime * 1000L
    val got = spark.table(name)
      .filter(col("user_id") =!= 99)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    // ≡ batch gap-split over ALL four events: [40] alone, [58, 60, 65]
    got shouldBe Set(
      (1L, us(t(40)), us(t(40)), 1L, 8.0),
      (1L, us(t(58)), us(t(65)), 3L, 7.0))
  }

  test("ST27 tws ListState leaderboard: final board ≡ batch top-k; board bounded by k") {
    implicit val sqlCtx = spark.sqlContext
    val k = 3
    val b1 = Seq(Ev(1, 1, "a", t(0), 5.0, "{}"), Ev(2, 1, "a", t(1), 9.0, "{}"),
      Ev(3, 1, "a", t(2), 1.0, "{}"), Ev(4, 2, "a", t(3), 2.0, "{}"))
    // event 8 ties event 4 on value — the event_id tiebreak must hold
    val b2 = Seq(Ev(5, 1, "a", t(4), 7.0, "{}"), Ev(6, 1, "a", t(5), 3.0, "{}"),
      Ev(7, 2, "a", t(6), 8.0, "{}"), Ev(8, 2, "a", t(7), 2.0, "{}"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val name = s"topk_${System.nanoTime()}"
    try {
      val mem = MemoryStream[Ev]
      val q = EventStreams.topKOnArrival(mem.toDF(), k)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      q.stop()
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val rows = spark.table(name).collect().map(r => (r.getLong(0),
      r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    // emit-on-update: a reader takes each key's max-seq board
    val latest = rows.groupBy(_._1).map { case (u, rs) =>
      val mx = rs.map(_._2).max
      u -> rs.filter(_._2 == mx).sortBy(_._3).map(r => (r._4, r._5)).toSeq
    }
    // ≡ the q14-shape batch rank over the FULL history
    val expected = (b1 ++ b2).groupBy(_.user_id).map { case (u, es) =>
      u -> es.sortBy(e => (-e.value, e.event_id)).take(k)
        .map(e => (e.event_id, e.value)).toSeq
    }
    latest shouldBe expected
    // the retained board (and so every emission) is bounded by k
    rows.groupBy(r => (r._1, r._2)).values.foreach(_.size should be <= k)
    // per-key update sequence advances once per contributing batch
    rows.filter(_._1 == 1L).map(_._2).distinct.sorted.toSeq shouldBe Seq(1L, 2L)
  }

  test("ST5: unreadable existing target fails the batch, never wipes it") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("st5bad").toString
    // Target EXISTS but is unreadable (corrupt footer). The sink must fail
    // the batch — treating a read failure as "first run" would replace the
    // accumulated table with just this micro-batch.
    val tgt = new java.io.File(s"$dir/t")
    tgt.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/t", "part-00000.parquet"), "not parquet")
    val mem = MemoryStream[Ev]
    mem.addData(rows.take(3))
    val q = EventStreams.incrementalUpsert(mem.toDF(), s"$dir/t", s"$dir/cp")
    intercept[Exception] { q.processAllAvailable() }
    q.stop()
    // the corrupt-but-existing table was left for an operator to inspect
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/t", "part-00000.parquet")) shouldBe "not parquet"
  }

  test("ST32 streaming WARC ingestion: shard files -> 4-signal gate ≡ batch") {
    import graft.ext.{Dedup, Fuzzy, Warc}
    val corpus = Seq(
      (1L, "alpha beta gam w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12 k13 k14")
    ).toDF("doc_id", "text")
    def keyed(df: DataFrame) = df.select(col("doc_id"), col("text"),
      substring(col("text"), 1, 16).as("pfx"))
    val idx = Dedup.gramIndex(corpus, "doc_id", "text", n = 2)
    val sig = Dedup.simHash64Signature(corpus, "doc_id", "text")
      .localCheckpoint()
    val editIdx = Fuzzy.segmentIndex(keyed(corpus), "doc_id", "pfx", 2)
      .localCheckpoint()
    val editCorpus = keyed(corpus).select(col("doc_id"), col("pfx"))
      .localCheckpoint()
    // two shard waves of REAL per-record-gzip WARC bytes
    def shard(docs: Seq[(String, String)]): Array[Byte] =
      Warc.writeWarcGz(
        Warc.WarcRecord(Seq("WARC-Type" -> "warcinfo",
          "WARC-Date" -> "2026-01-01T00:00:00Z"),
          "software: graft\r\n".getBytes("US-ASCII")) +:
        docs.map { case (url, text) => Warc.WarcRecord(Seq(
          "WARC-Type" -> "conversion",
          "WARC-Target-URI" -> url,
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "Content-Type" -> "text/plain"), text.getBytes("UTF-8")) })
    val dir = java.nio.file.Files.createTempDirectory("st32_")
    java.nio.file.Files.write(dir.resolve("s0.warc.gz"), shard(Seq(
      // near-dup of corpus doc 1 (jaccard signal), and a novel doc
      "http://t/a" -> "alpha beta gam q1 q2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12",
      "http://t/b" -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14")))
    val got = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val q = EventStreams.onArrival(
      EventStreams.readWarcShardStream(spark, dir.toString,
        maxFilesPerTrigger = 1))(
      EventStreams.warcGateBatch(_, idx, sig, corpus, editIdx, editCorpus,
        editKeyLen = 16, k = 2)) { v =>
      got.synchronized { got ++= v.collect() }
    }
    q.processAllAvailable()
    // second wave lands while the stream runs: an exact corpus dup
    java.nio.file.Files.write(dir.resolve("s1.warc.gz"), shard(Seq(
      "http://t/c" -> "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12 k13 k14")))
    q.processAllAvailable()
    q.stop()
    val byUrl = got.map(r => r.getAs[String]("url") ->
      ((r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("jac_dup"),
        r.getAs[Boolean]("admit"), r.getAs[String]("text")))).toMap
    byUrl should have size 3
    byUrl("http://t/a")._2 shouldBe true  // jaccard hit rejects
    byUrl("http://t/a")._3 shouldBe false
    byUrl("http://t/b") shouldBe ((false, false, true,
      "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14")) // novel admits, text intact
    byUrl("http://t/c")._1 shouldBe true  // exact dup rejects
    byUrl("http://t/c")._3 shouldBe false
    // stream ≡ batch: one warcGateBatch over ALL landed shards agrees
    val batchV = EventStreams.warcGateBatch(
      spark.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz")
        .load(dir.toString),
      idx, sig, corpus, editIdx, editCorpus, editKeyLen = 16, k = 2)
      .collect().map(r => r.getAs[String]("url") ->
        ((r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("jac_dup"),
          r.getAs[Boolean]("admit"), r.getAs[String]("text")))).toMap
    byUrl shouldBe batchV
  }

  test("ST33 streaming per-host cap: FCFS admits ≡ batch cap; replay refused; O(hosts) state") {
    implicit val sqlCtx = spark.sqlContext
    // 2 real hosts + garbage; arrival order == doc_id order so the
    // streamed FCFS verdicts must equal the batch perHostCap keeper set
    def urlOf(i: Long): String =
      if (i % 5 == 4) s"not a url $i"
      else s"http://Host${i % 2}.Test:${8000 + i}/p/$i"
    val b1 = (0L until 12L).map(i => (i, urlOf(i)))
    val b2 = (12L until 20L).map(i => (i, urlOf(i)))
    val dir = java.nio.file.Files.createTempDirectory("st33_").toString
    val mem = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit = {
      val q = EventStreams.mergeOnArrival(
        mem.toDF().toDF("doc_id", "url"), s"$dir/cp") { (b, id) =>
        EventStreams.hostCapMergeBatch(b, "doc_id", "url", "doc_id",
          cap = 3, s"$dir/t", id).foreach { v =>
          admitted.synchronized {
            admitted ++= v.filter(col("admit")).select("doc_id")
              .collect().map(_.getLong(0))
          }
        }
      }
      q.awaitTermination()
    }
    mem.addData(b1); run()
    mem.addData(b2); run()
    val batchKeep = graft.ext.Curation.perHostCap(
      (b1 ++ b2).toDF("doc_id", "url"), "url", "doc_id", cap = 3)
      .select("doc_id").as[Long].collect().toSet
    admitted.toSet shouldBe batchKeep
    // state is O(hosts): 3 rows (host0, host1, garbage ""), counts at cap
    val state = EventStreams.readState(spark, s"$dir/t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    state.keySet shouldBe Set("", "host0.test", "host1.test")
    state.values.foreach(_ shouldBe 3L)
    // replay guard: a re-applied batch id is refused, state unchanged
    EventStreams.hostCapMergeBatch(b2.toDF("doc_id", "url"), "doc_id",
      "url", "doc_id", 3, s"$dir/t", 0L) shouldBe None
    EventStreams.readState(spark, s"$dir/t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe state
    // empty batch: no write, no verdicts
    EventStreams.hostCapMergeBatch(b1.take(0).toDF("doc_id", "url"),
      "doc_id", "url", "doc_id", 3, s"$dir/t", 99L) shouldBe None
  }

  test("ST36 streaming crawl door: stream ≡ wave-by-wave batch composition; cross-wave novelty; replay refused") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Bloom, Robots}
    val p = Bloom.Params(mBits = 1L << 12, k = 4)
    val cap = 2
    val rules = Robots.ruleTable(Seq(
      ("h0", "User-agent: *\nDisallow: /private\n"),
      ("h2", "User-agent: *\nDisallow: /\n")
    ).toDF("host", "content"), "host", "content", "graftbot")
      .localCheckpoint()
    def doc(id: Long, srcId: Long) = {
      val host = s"h${srcId % 3}"
      val path =
        (if (srcId % 2 == 0) "/private/p" else "/public/p") + srcId
      val payload =
        if (srcId % 5 == 0) Array[Byte](0, -1, 42)
        else s"text $srcId".getBytes("US-ASCII")
      (id, host, path, s"http://$host.test$path", payload)
    }
    // wave 2 re-presents doc 1's and doc 4's urls under new ids — they
    // were admitted in wave 1, so the frontier must flag them seen
    val w1 = (0L until 12L).map(i => doc(i, i))
    val w2 = (12L until 20L).map(i => doc(i, i)) ++
      Seq(doc(101L, 1L), doc(104L, 4L))
    val cols = Seq("id", "host", "path", "url", "payload")

    // the q261-style BATCH composition, carried wave by wave through
    // plain operators (no persisted state, no kernel code)
    var refWords: Option[org.apache.spark.sql.DataFrame] = None
    var refCounts = Map.empty[String, Long]
    def refWave(rows: Seq[(Long, String, String, String, Array[Byte])])
        : Map[Long, (Boolean, Boolean, Boolean, Boolean)] = {
      val df = rows.toDF(cols: _*).localCheckpoint()
      val rob = Robots.allowed(df, "id", "host", "path", rules)
        .select(col("id"), col("allowed"))
      val nov = refWords match {
        case Some(ws) => Bloom.probe(df, "url", "id", ws, p)
          .select(col("id"), (!col("maybe_present")).as("novel"))
        case None => df.select(col("id")).withColumn("novel", lit(true))
      }
      val mime = rows.map { case (id, _, _, _, b) =>
        (id, graft.ext.Containers.sniffMime(b) == "text/plain")
      }.toDF("id", "mime_ok")
      val gated = df.join(rob, "id").join(nov, "id").join(mime, "id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))
        .sortBy(_._1)
      val admits = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      val out = gated.map { case (id, host, url, r_, n_, m_) =>
        val surv = r_ && n_ && m_
        val adm = surv &&
          refCounts.getOrElse(host, 0L) + admits(host) + 1 <= cap
        if (adm) admits(host) += 1
        (id, url, (r_, n_, m_, adm))
      }
      refCounts = (refCounts.keySet ++ admits.keySet).map(h =>
        h -> (refCounts.getOrElse(h, 0L) + admits(h))).toMap
      val admittedUrls = out.filter(_._3._4).map(_._2)
      if (admittedUrls.nonEmpty) {
        val aw = Bloom.build(admittedUrls.toSeq.toDF("url"), "url", p)
        refWords = Some(refWords.fold(aw)(Bloom.merge(_, aw))
          .localCheckpoint())
      }
      out.map(t => t._1 -> t._3).toMap
    }

    val dir = java.nio.file.Files.createTempDirectory("st36_").toString
    val mem = MemoryStream[(Long, String, String, String, Array[Byte])]
    val got = scala.collection.mutable
      .Map.empty[Long, (Boolean, Boolean, Boolean, Boolean)]
    def run(): Unit = {
      val q = EventStreams.mergeOnArrival(mem.toDF().toDF(cols: _*),
        s"$dir/cp") { (b, id) =>
        EventStreams.crawlDoorMergeBatch(b, "id", "host", "path", "url",
          "payload", rules, p, cap, s"$dir/frontier", s"$dir/cap", id)
          .foreach { v =>
            got.synchronized {
              v.collect().foreach(r => got(r.getLong(0)) =
                (r.getBoolean(3), r.getBoolean(4), r.getBoolean(5),
                  r.getBoolean(6)))
            }
          }
      }
      q.awaitTermination()
    }
    mem.addData(w1); run()
    val ref1 = refWave(w1)
    got.toMap shouldBe ref1
    mem.addData(w2); run()
    val ref2 = refWave(w2)
    got.toMap shouldBe (ref1 ++ ref2)
    // the pinned corners: robots kills h0 /private and all of h2;
    // re-presented wave-1 admits come back NOT novel; cap holds at 2
    got(0L)._1 shouldBe false // h0 /private
    got(2L)._1 shouldBe false // h2 disallow all
    got(101L)._2 shouldBe false // doc 1's url seen in the frontier
    got(104L)._2 shouldBe false
    got(10L)._3 shouldBe false // binary payload sniffed out (10 % 5 = 0)
    got(7L)._4 shouldBe false // h1's third survivor, over the cap
    got(1L)._4 shouldBe true
    got(4L)._4 shouldBe true
    // replay: an already-applied batch id is refused before any state
    // read; both states unchanged
    val stateBefore = spark.read.parquet(s"$dir/cap").collect().toSet
    EventStreams.crawlDoorMergeBatch(w2.toDF(cols: _*), "id", "host",
      "path", "url", "payload", rules, p, cap,
      s"$dir/frontier", s"$dir/cap", 0L) shouldBe None
    spark.read.parquet(s"$dir/cap").collect().toSet shouldBe stateBefore
    // empty batch: no verdicts, no writes
    EventStreams.crawlDoorMergeBatch(w1.take(0).toDF(cols: _*), "id",
      "host", "path", "url", "payload", rules, p, cap,
      s"$dir/frontier", s"$dir/cap", 99L) shouldBe None
  }
}
