package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger}
import org.apache.spark.sql.types._

import graft.ops.Upsert

/** Typed rows for the custom-state operator (ST4b). */
case class UserEvent(user_id: Long, value: Double)
case class UserRunning(user_id: Long, n: Long, val_sum: Double)

/** Typed rows for the transformWithState sessionizer (ST24). */
case class SessObs(user_id: Long, tus: Long, value: Double)
case class SessOpen(start_us: Long, last_us: Long, n: Long, val_sum: Double)
case class SessionRow(user_id: Long, session_start_us: Long,
    session_end_us: Long, n: Long, val_sum: Double)

/** Typed rows for the transformWithState ListState leaderboard (ST27). */
case class ScoredEv(user_id: Long, event_id: Long, value: Double)
case class LeaderRow(user_id: Long, seq: Long, rnk: Int, event_id: Long,
    value: Double)

/** Typed rows for the streaming LOCF resampler (ST15). */
case class TsObs(user_id: Long, tus: Long, v: Double)
case class LocfState(bkt: Long, tus: Long, v: Double)
case class GridCell(user_id: Long, bkt: Long, grid_us: Long, value: Double,
    filled: Boolean)

/** Structured Streaming surface (SURVEY §2.10 ST1–ST5). The reference is
  * strictly batch (`update_ways_metadata.py:135-140` runs passes
  * sequentially); this is the [X] extension for a continuously-arriving
  * `events` table.
  *
  * Design rule: every transform is a plain DataFrame → DataFrame function,
  * applied unchanged to a batch read or a `readStream` — batch/stream parity
  * is therefore testable (the harness asserts both modes agree; see
  * StreamingSpec). Watermarks bound state so a 1000-executor continuous job
  * never accumulates unbounded session/window state.
  */
object EventStreams {

  /** The `events` schema as generated by the harness (ts arrives as
    * epoch-nanoseconds; we expose a µs TimestampType like Tables.events).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming file source over a directory of event JSON files (the
    * at-scale pattern: partitioned landing dir, `maxFilesPerTrigger`
    * bounding per-batch work).
    */
  def readJsonStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** ST1+ST2: watermarked tumbling (or sliding) windowed aggregates per
    * event type. Late rows beyond `watermark` are dropped; state is evicted
    * once the watermark passes a window's end.
    */
  def windowedCounts(events: DataFrame, win: String = "1 hour",
      slide: Option[String] = None, watermark: String = "10 minutes"): DataFrame = {
    val wm = events.withWatermark("ts", watermark)
    val w = slide.fold(window(col("ts"), win))(s => window(col("ts"), win, s))
    wm.groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("val_sum"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("val_sum"))
  }

  /** ST3: session windows — events within `gap` of each other merge into
    * one session per user. Streaming-native `session_window` (state pruned
    * by the watermark).
    */
  def sessionAggregates(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("val_sum"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n"), col("val_sum"))

  /** ST4: stateful dedup by event_id with bounded state — duplicates
    * arriving within the watermark horizon are dropped; state for ids older
    * than the watermark is evicted (at 100 TB the alternative — global
    * dropDuplicates — would hold every id ever seen).
    */
  def dedupWithinWatermark(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** ST6: watermarked stream-stream interval join — the click-attribution
    * shape: each `left` event pairs with every `right` event for the same
    * user whose timestamp falls in (left.ts - `within`, left.ts]. Both
    * sides carry watermarks and the join condition bounds right.ts
    * relative to left.ts from BOTH directions, so each side's buffered
    * state is evicted as the watermark advances — without the two-sided
    * bound Spark must hold one side forever (it rejects the plan). Output
    * is append-mode: a pair is emitted once, when it becomes final.
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
      within: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.select(col("event_id").as("l_id"), col("user_id"),
      col("ts").as("l_ts"), col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("event_id").as("r_id"),
      col("user_id").as("r_user"), col("ts").as("r_ts"),
      col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") > col("l_ts") - expr(s"INTERVAL $within") &&
        col("r_ts") <= col("l_ts"))
      .select(col("l_id"), col("r_id"), col("user_id"),
        col("l_ts"), col("r_ts"), (col("l_value") + col("r_value")).as("pair_value"))
  }

  /** ST7: stream-static dedup-on-arrival — drop arriving events whose key
    * already exists in a STATIC reference table (the streaming analog of
    * the batch incremental dedup, q76: the corpus is the build side, the
    * stream probes it). The static side re-reads per micro-batch but never
    * buffers as state; a left_anti join keeps only genuinely-new keys.
    * At 100 TB the static side is a bucketed/bloom-fronted table, so each
    * micro-batch pays a pruned probe, not a full scan.
    */
  def dedupAgainstStatic(events: DataFrame, reference: DataFrame,
      keyCol: String): DataFrame =
    events.join(reference.select(col(keyCol)).distinct(), Seq(keyCol),
      "left_anti")

  /** ST7b: streaming LSH NEAR-dup drop-on-arrival — the streaming twin of
    * the batch incremental dedup ([[graft.ext.Dedup.incrementalDupIds]],
    * q76): an arriving document is dropped when its minhash signature
    * collides with ANY of a static corpus's LSH bands. `corpusKeys` is the
    * precomputed `Dedup.corpusBandKeys` table (distinct (band_id, bk) —
    * build once, persist; at 100 TB front it with bucketing/bloom so each
    * micro-batch pays a pruned probe).
    *
    * Streaming shape: the signature is PER-ROW column math
    * ([[graft.ext.Dedup.minHashCols]] — a groupBy signature would be a
    * stateful streaming aggregation), and the "no band matches" predicate
    * is one LEFT OUTER join per band against the (distinct-keyed) static
    * table with an all-null filter — stream-static left-outer is
    * supported in append mode, and distinct keys mean the joins can never
    * fan rows out. The batch and streaming plans are the same function,
    * so parity is testable.
    */
  def lshDedupAgainstStatic(docs: DataFrame, corpusKeys: DataFrame,
      textCol: String, bands: Seq[Seq[String]]): DataFrame = {
    val mhCols = graft.ext.Dedup.minHashCols(col(textCol))
    val withSig = docs.select(col("*") +: mhCols: _*)
    val withBk = bands.zipWithIndex.foldLeft(withSig) { case (acc, (cols, i)) =>
      acc.withColumn(s"__bk$i", concat_ws("|", cols.map(col): _*))
    }
    val joined = bands.indices.foldLeft(withBk) { case (acc, i) =>
      acc.join(
        corpusKeys.filter(col("band_id") === i)
          .select(col("bk").as(s"__hit$i")),
        col(s"__bk$i") === col(s"__hit$i"), "left_outer")
    }
    val mhNames = mhCols.indices.map(j => s"mh$j")
    val tmp = bands.indices.flatMap(i => Seq(s"__bk$i", s"__hit$i"))
    joined
      .filter(bands.indices.map(i => col(s"__hit$i").isNull).reduce(_ && _))
      .drop(mhNames ++ tmp: _*)
  }

  /** ST4b: custom keyed state — a running per-user aggregate via
    * `flatMapGroupsWithState` (the arbitrary-state API the built-in
    * windows can't express: cross-batch running totals emitted on every
    * update). State is one tiny struct per user; at scale it lives in the
    * state store, partitioned by user. Works identically on a batch
    * Dataset (single state pass) for parity testing.
    */
  def runningUserAggregates(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) => {
          var acc = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          rows.foreach(e => acc = UserRunning(uid, acc.n + 1, acc.val_sum + e.value))
          state.update(acc)
          Iterator.single(acc)
        })
  }

  /** ST4c: the same running aggregate on the Spark 4 arbitrary-state API
    * (`transformWithState` + typed `ValueState`). The processor is where a
    * production job would add TTL, timers, or secondary state — none of
    * which `flatMapGroupsWithState` can express. State lives in the state
    * store (RocksDB provider in production), partitioned by key.
    */
  class RunningTotalProcessor
      extends StatefulProcessor[Long, UserEvent, UserRunning] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning]("running",
        Encoders.product[UserRunning], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserRunning] = {
      var acc = Option(state.get()).getOrElse(UserRunning(key, 0L, 0.0))
      rows.foreach(e => acc = UserRunning(key, acc.n + 1, acc.val_sum + e.value))
      state.update(acc)
      Iterator.single(acc)
    }
  }

  /** ST24 — gap sessionization as ARBITRARY KEYED STATE WITH EVENT-TIME
    * TIMERS (`transformWithState`, the ST4c API): where ST3 leans on the
    * built-in `session_window`, this is the explicit-timeout form a
    * production job extends with custom close rules, per-session
    * secondary state, or emit-on-update behavior — none of which the
    * built-in window (or `flatMapGroupsWithState`) can express this
    * directly. Per user, the state is the OPEN session (start, last, n,
    * Σvalue); a session closes and emits EXACTLY ONCE (append-mode) in
    * one of two ways:
    *
    *  1. DATA-CLOSED: an event more than `gapUs` after the open
    *     session's last event starts a new session, emitting the old
    *     one immediately;
    *  2. TIMER-CLOSED: every update (re-)registers an event-time timer
    *     at `last + gap` (stale timers deleted); when the WATERMARK
    *     passes it, [[GapSessionProcessor.handleExpiredTimer]] emits
    *     the session and clears the state — the explicit timeout that
    *     closes a user's FINAL session without waiting for their next
    *     event (ST15's documented open-bucket gap, solved here).
    *
    * Late events: within a micro-batch, arrival order is irrelevant
    * (per-key sort); across batches an event inside the open session's
    * span still counts into it. An allowed-late event OLDER than the
    * open session's start (possible whenever the watermark delay is
    * nonzero) is NOT dropped: pre-start events gap-chain among
    * themselves batch-locally, and the chain either folds into the open
    * session (extending its start — exactly what batch gap-split would
    * do when the chain ends within one gap of the start) or emits as
    * its own immediately-closed session (it can no longer merge with
    * anything: every future event this old is beyond the gap too).
    * The one remaining best-effort edge is an already-EMITTED session
    * the late chain would have merged with in batch — append mode
    * cannot retract, the same decision ST15 renders. Input needs a watermark on `ts` (event-time timers
    * require one); output rows are (user_id, session_start_us,
    * session_end_us, n, val_sum) with end = last EVENT time (add the
    * gap for `session_window`'s end convention).
    */
  class GapSessionProcessor(gapUs: Long)
      extends StatefulProcessor[Long, SessObs, SessionRow] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[SessOpen] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessOpen]("open",
        Encoders.product[SessOpen], TTLConfig.NONE)

    private def expiryMs(s: SessOpen): Long =
      Math.floorDiv(s.last_us + gapUs, 1000L) + 1L

    override def handleInputRows(key: Long, rows: Iterator[SessObs],
        timerValues: TimerValues): Iterator[SessionRow] = {
      val sorted = rows.toArray.sortBy(r => (r.tus, r.value))
      val out = scala.collection.mutable.ArrayBuffer[SessionRow]()
      var st = if (open.exists()) Option(open.get()) else None
      // Batch-local chain of allowed-late events that precede the open
      // session's start (nonzero watermark delay lets them through).
      // Sorted ascending, they gap-chain here and resolve after the loop.
      var late: Option[SessOpen] = None
      sorted.foreach { r =>
        st match {
          case None =>
            st = Some(SessOpen(r.tus, r.tus, 1L, r.value))
          case Some(s) if r.tus > s.last_us + gapUs =>
            out += SessionRow(key, s.start_us, s.last_us, s.n, s.val_sum)
            st = Some(SessOpen(r.tus, r.tus, 1L, r.value))
          case Some(s) if r.tus >= s.start_us =>
            st = Some(s.copy(last_us = math.max(s.last_us, r.tus),
              n = s.n + 1, val_sum = s.val_sum + r.value))
          case Some(_) => // pre-start: extend or split the late chain
            late match {
              case Some(l) if r.tus <= l.last_us + gapUs =>
                late = Some(l.copy(last_us = math.max(l.last_us, r.tus),
                  n = l.n + 1, val_sum = l.val_sum + r.value))
              case Some(l) =>
                out += SessionRow(key, l.start_us, l.last_us, l.n, l.val_sum)
                late = Some(SessOpen(r.tus, r.tus, 1L, r.value))
              case None =>
                late = Some(SessOpen(r.tus, r.tus, 1L, r.value))
            }
        }
      }
      // Resolve the late chain: fold into the open session when batch
      // gap-split would (chain ends within one gap of the start), else
      // emit it closed — nothing still in flight can reach it.
      (late, st) match {
        case (Some(l), Some(s)) if l.last_us + gapUs >= s.start_us =>
          st = Some(s.copy(start_us = l.start_us, n = s.n + l.n,
            val_sum = s.val_sum + l.val_sum))
        case (Some(l), _) =>
          out += SessionRow(key, l.start_us, l.last_us, l.n, l.val_sum)
        case _ => ()
      }
      st.foreach { s =>
        open.update(s)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(expiryMs(s))
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionRow] = {
      val st = if (open.exists()) Option(open.get()) else None
      st match {
        case Some(s) if expiryMs(s) <= info.getExpiryTimeInMs =>
          open.clear()
          Iterator.single(SessionRow(key, s.start_us, s.last_us, s.n,
            s.val_sum))
        case _ => Iterator.empty // stale timer for an extended session
      }
    }
  }

  /** ST24 surface: gap-split sessions per user over a watermarked event
    * stream, closed by data or by event-time timeout (see
    * [[GapSessionProcessor]]). Requires the RocksDB state-store provider
    * (`spark.sql.streaming.stateStore.providerClass`) — timers are a
    * second column family, which the HDFS-backed provider can't host.
    */
  def gapSessionsOnArrival(events: DataFrame, gapUs: Long,
      watermark: String = "0 seconds"): Dataset[SessionRow] = {
    require(gapUs > 0, s"gapSessionsOnArrival: gapUs > 0, got $gapUs")
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("value"))
      .as[SessObs]
      .groupByKey(_.user_id)
      .transformWithState(new GapSessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** ST27 — per-key streaming TOP-K LEADERBOARD as `transformWithState`
    * LIST STATE: where ST24 exemplifies ValueState + event-time timers,
    * this is the Spark-4 ListState surface. The state is the current
    * top-k of (value desc, event_id asc) per user — ≤ k rows FOREVER,
    * bounded regardless of stream length (the `row_number ≤ k` rule
    * held as retained state). Each micro-batch merges its arrivals
    * into the board in O(k + batch) per key and emits the UPDATED
    * board tagged with a per-key update sequence: append mode cannot
    * retract superseded rows, so a reader takes each key's max-seq
    * rows (the emit-on-update convention; the ST27 spec certifies the
    * final board ≡ a batch window-rank over the full history — the
    * q14/q13 shape, live). Merge order is a total sort over
    * board ∪ batch, so the board is arrival-order-insensitive and
    * needs no watermark (TimeMode.None). Requires the RocksDB
    * state-store provider — ListState is a second column family, the
    * same constraint as ST24's timers.
    */
  class TopKListProcessor(k: Int)
      extends StatefulProcessor[Long, ScoredEv, LeaderRow] {
    @transient private var board: org.apache.spark.sql.streaming.ListState[ScoredEv] = _
    @transient private var seq: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      board = getHandle.getListState[ScoredEv]("board",
        Encoders.product[ScoredEv], TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[ScoredEv],
        timerValues: TimerValues): Iterator[LeaderRow] = {
      val merged = (board.get().toArray ++ rows)
        .sortBy(e => (-e.value, e.event_id))
        .take(k)
      val s = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(s)
      board.put(merged)
      merged.iterator.zipWithIndex.map { case (e, i) =>
        LeaderRow(key, s, i + 1, e.event_id, e.value)
      }
    }
  }

  /** ST27 surface: per-user top-k value leaderboard over an event
    * stream (see [[TopKListProcessor]]).
    */
  def topKOnArrival(events: DataFrame, k: Int): Dataset[LeaderRow] = {
    require(k > 0, s"topKOnArrival: k > 0, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("value"))
      .as[ScoredEv]
      .groupByKey(_.user_id)
      .transformWithState(new TopKListProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  /** [[runningUserAggregates]] re-expressed with [[RunningTotalProcessor]];
    * works on batch Datasets too (single state pass) for parity testing.
    */
  def runningUserAggregatesTws(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** ST15 — STREAMING LOCF grid resampling: the continuous form of
    * `graft.ops.Timeseries.resampleLocf` (q161) as arbitrary keyed state.
    * Per key, the state is the OPEN bucket — its id and its
    * latest-so-far observation under q161's total order (ts, then
    * value). A bucket's grid row is emitted only when a strictly LATER
    * bucket arrives (the open bucket closes): first the closed bucket
    * with its final value (`filled = false`), then one carried-forward
    * row per empty bucket up to the new observation (`filled = true`).
    * Consequences, by construction: each grid cell is emitted exactly
    * once (append-mode compatible — nothing is ever revised); the stream
    * output equals the batch resample MINUS each key's final bucket
    * (still open — a production job closes it with an event-time timer
    * or at stream end); events older than the open bucket are late
    * beyond the retention contract and drop, the same decision a
    * watermark renders. Within a micro-batch, arrival order is
    * irrelevant (events sort in memory per key-batch — bounded by the
    * micro-batch, not the stream). State is one 3-field struct per key,
    * partitioned by key in the state store.
    */
  def locfGridOnArrival(events: DataFrame, stepUs: Long): Dataset[GridCell] = {
    require(stepUs > 0, s"locfGridOnArrival: stepUs > 0, got $stepUs")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("value").as("v")).as[TsObs]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[TsObs], state: GroupState[LocfState]) => {
          val sorted = rows.toArray.sortBy(r => (r.tus, r.v))
          val out = scala.collection.mutable.ArrayBuffer[GridCell]()
          var st = state.getOption
          sorted.foreach { r =>
            val bkt = Math.floorDiv(r.tus, stepUs)
            st match {
              case None => st = Some(LocfState(bkt, r.tus, r.v))
              case Some(s) =>
                if (bkt == s.bkt) {
                  if (r.tus > s.tus || (r.tus == s.tus && r.v > s.v))
                    st = Some(LocfState(bkt, r.tus, r.v))
                } else if (bkt > s.bkt) {
                  out += GridCell(uid, s.bkt, s.bkt * stepUs, s.v,
                    filled = false)
                  var b = s.bkt + 1
                  while (b < bkt) {
                    out += GridCell(uid, b, b * stepUs, s.v, filled = true)
                    b += 1
                  }
                  st = Some(LocfState(bkt, r.tus, r.v))
                } // bkt < s.bkt: late past the open bucket — drops
            }
          }
          st.foreach(state.update)
          out.iterator
        })
  }

  /** ST5: incremental enrichment — the streaming analog of the batch
    * join-upsert sink (S4): each micro-batch is keyed-aggregated and
    * upserted into the parquet table at `targetPath` via the same
    * Upsert.upsert + atomic write used in batch (batch/stream parity of the
    * sink itself).
    */
  def incrementalUpsert(events: DataFrame, targetPath: String,
      checkpoint: String): StreamingQuery = {
    val writer: DataStreamWriter[org.apache.spark.sql.Row] = events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("val_sum"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // First-run means the target genuinely does not exist. Any other
        // read failure (corruption, transient FS error) must fail the
        // batch — treating it as "absent" would overwrite the accumulated
        // state with just this micro-batch.
        // A previous batch may have crashed mid-swap, leaving the table
        // only at <targetPath>.old — restore it BEFORE the existence
        // check, or the merge below would silently drop all accumulated
        // state and keep just this micro-batch.
        Upsert.recover(spark, targetPath)
        val hconf = spark.sparkContext.hadoopConfiguration
        val tgt = new org.apache.hadoop.fs.Path(targetPath)
        val exists = tgt.getFileSystem(hconf).exists(tgt)
        val merged =
          if (!exists) batch
          else Upsert.upsert(spark.read.parquet(targetPath), batch, "user_id")
        Upsert.writeAtomic(merged, targetPath)
      }
    writer.start()
  }

  // ------------------------------------------------- stateless on arrival

  /** The stateless on-arrival surface: each micro-batch of `rows` goes
    * through `kernel` and the result reaches `sink`. A kernel probes
    * FROZEN corpus structures the corpus paid for once, so each
    * micro-batch costs O(batch); it is a plain DataFrame → DataFrame
    * function, so stream ≡ batch is tested by calling the same kernel on
    * a batch frame. foreachBatch because the kernels need per-batch
    * aggregations and whole-relation joins (batch encode, candidate
    * distinct, span merge) that an append-mode streaming plan cannot host
    * inline. An empty micro-batch is skipped: no kernel run, no sink call
    * (a two-sample test needs a sample; no other kernel has anything to
    * say about nothing). The stages and their kernels:
    *
    *  - ST8 exact near-dup drop against a `GramIndex`: [[exactDedupBatch]];
    *  - ST9 ingest gate, (id, exact_dup, jac_dup, sh_dup, admit):
    *    [[graft.ext.Dedup.ingestGate]];
    *  - ST10 LM fluency under a frozen bigram LM:
    *    [[graft.ext.TextAnalysis.scoreBigramLm]];
    *  - ST11 decontamination by excision against frozen benchmark grams:
    *    [[graft.ext.Dedup.decontaminateExciseAgainstGrams]];
    *  - ST12 four-signal gate (the arriving rows carry the edit key
    *    column): [[graft.ext.Dedup.ingestGateWithEdit]];
    *  - ST13 embedding dedup by SRP fingerprint: [[srpDedupBatch]];
    *  - ST14 image dedup by perceptual hash: [[phashDedupBatch]];
    *  - ST17 CDC byte delta: [[graft.ext.Multimodal.incrementalCdcBytes]]
    *    over [[graft.ext.Multimodal.asMedia]];
    *  - ST18 cluster assignment:
    *    [[graft.ext.Multimodal.assignToPhashClusters]];
    *  - ST19 audio dedup through real containers: [[audioDedupBatch]];
    *  - ST20 PSI drift against frozen buckets:
    *    [[graft.ops.Drift.psiAgainstReference]];
    *  - ST21 topic routing: [[graft.ext.Retrieval.maxSimRoute]];
    *  - ST23 KS / Wasserstein-1 drift: [[ecdfDriftBatch]];
    *  - ST32 WARC shards through the four-signal gate:
    *    [[readWarcShardStream]] into [[warcGateBatch]].
    */
  def onArrival(rows: DataFrame)(kernel: DataFrame => DataFrame)(
      sink: DataFrame => Unit): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) sink(kernel(batch))
      }
      .start()

  /** Survivors of `batch` with no `idCol` among `dupIds`' `dupCol`. */
  private def dropMatched(batch: DataFrame, dupIds: DataFrame,
      dupCol: String, idCol: String): DataFrame =
    batch.join(dupIds.select(col(dupCol).as(idCol)).distinct(), Seq(idCol),
      "left_anti")

  /** ST8 kernel: survivors of one micro-batch against a frozen corpus
    * [[graft.ext.Dedup.GramIndex]] — every arriving doc with an EXACT
    * Jaccard match ≥ τ in the corpus drops (the O(batch) q112 join). The
    * exact twin of ST7b's LSH path: LSH triages inline and cheaply (false
    * positives possible), this renders the zero-false-positive/negative
    * verdict where dropping a document is irreversible.
    */
  def exactDedupBatch(index: graft.ext.Dedup.GramIndex, batch: DataFrame,
      idCol: String, textCol: String, tauNum: Int, tauDen: Int): DataFrame =
    dropMatched(batch, graft.ext.Dedup.incrementalJaccardJoin(index, batch,
      idCol, textCol, tauNum, tauDen), "doc_a", idCol)

  /** ST13 kernel: survivors of one micro-batch of VECTORS against a
    * frozen corpus SRP signature table — every arriving embedding whose
    * 64-bit [[graft.ext.Similarity.srpSignature]] fingerprint lies within
    * `maxDist` bits of any corpus vector drops (the q150 band probe).
    */
  def srpDedupBatch(corpusSig: DataFrame, batch: DataFrame, vecCol: String,
      idCol: String, maxDist: Int): DataFrame =
    dropMatched(batch, graft.ext.Similarity.incrementalSrpPairs(corpusSig,
      batch, vecCol, idCol, maxDist), "id_a", idCol)

  /** ST14 kernel: survivors of one micro-batch of IMAGE payloads against
    * a frozen corpus perceptual-hash table — every payload whose frame-0
    * aHash ([[graft.ext.Multimodal.frameHashes]]) lies within `maxDist`
    * bits of any corpus image drops (the q160 band probe), so re-encoded
    * copies drop even though their bytes differ.
    */
  def phashDedupBatch(corpusSig: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, maxDist: Int): DataFrame =
    dropMatched(batch, graft.ext.Multimodal.incrementalPhashPairs(corpusSig,
      graft.ext.Multimodal.asMedia(batch, idCol, textCol), maxDist),
      "doc_a", idCol)

  /** ST19 kernel: survivors of one micro-batch of (media_id, payload)
    * AUDIO rows against the frozen corpus energy-delta fingerprint table.
    * Payloads are parsed by `decode` (e.g. [[graft.ext.Containers.decodeWav]]
    * — real RIFF bytes), fingerprinted
    * ([[graft.ext.Multimodal.audioFingerprint]], q190) and probed at
    * Hamming radius `maxDist` (q191); arrivals within it of any corpus
    * stream drop (re-encodes, amplitude-scaled re-uploads).
    */
  def audioDedupBatch(corpusFp: DataFrame, batch: DataFrame, window: Int,
      maxDist: Int, decode: Array[Byte] => Array[Int]): DataFrame = {
    import batch.sparkSession.implicits._
    val media = batch
      .select(col("media_id").cast("long").as("media_id"), col("payload"))
      .as[graft.ext.Multimodal.MediaRow]
    dropMatched(media.toDF(), graft.ext.Multimodal.incrementalAudioPairs(
      corpusFp, media, window, maxDist, decode), "doc_a", "media_id")
  }

  /** ST23 kernel: one micro-batch's value distribution two-sample-tested
    * against the FROZEN corpus ECDF count table with the statistics
    * ST20's fixed PSI buckets can miss — KS (worst quantile gap) and
    * Wasserstein-1 (shift magnitude in value units), the q201/q202
    * incremental probes. Pass `step` when the table is a
    * [[graft.ops.Drift.quantizedEcdfTable]]: the batch snaps to the same
    * grid (the shared-grid exactness contract). One row:
    * (n_a, n_b, d_stat, at_value, w1).
    */
  def ecdfDriftBatch(corpusCounts: DataFrame, batch: DataFrame,
      valueCol: String, step: Option[Double] = None,
      nBuckets: Int = 256): DataFrame = {
    import graft.ops.Drift
    val (ks, w1) = step match {
      case Some(s) => (
        Drift.incrementalKsQuantized(corpusCounts, batch, valueCol, s,
          nBuckets),
        Drift.incrementalWassersteinQuantized(corpusCounts, batch, valueCol,
          s, nBuckets))
      case None => (
        Drift.incrementalKs(corpusCounts, batch, valueCol, nBuckets),
        Drift.incrementalWasserstein(corpusCounts, batch, valueCol,
          nBuckets))
    }
    ks.crossJoin(w1.select(col("w1")))
  }

  /** The binaryFile schema (file streams require an explicit schema). */
  private val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** ST32 source half: a file stream over a LANDING DIRECTORY of
    * arriving `.warc.gz` shards — the production crawl door (Common
    * Crawl convention: fetchers land whole shards; nothing tails a
    * shard mid-write). One shard = one task as in the batch reader;
    * `maxFilesPerTrigger` bounds per-micro-batch work, so a backlog
    * drains at a controlled rate instead of one giant batch.
    */
  def readWarcShardStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "*.warc.gz")
      .load(dir)

  /** ST32 kernel — STREAMING WARC/WET INGESTION, the continuous form of
    * the q244 crawl door: shard bytes → per-record gzip member split →
    * record walk → WET conversion view → the FOUR-signal ingest gate
    * against the frozen corpus structures. The container parse touches
    * only the new shards. The edit-signal key is
    * `substring(text, 1, editKeyLen)` — the caller must have built
    * `editIndex`/`editCorpus` over the same projection of the corpus.
    * The gate's signal probes read the corpus structures BY the column
    * names they were built with (`corpusIdCol`, `editCol`), so the WET
    * url and derived key ride under those names through the gate (value
    * types never mix — batch ids and corpus ids live on separate columns
    * throughout) and come back out as `url`. Returns (url, date, text,
    * exact_dup, jac_dup, sh_dup, ed_dup, admit): the verdict plus the
    * decoded document, so the admit path can append downstream without
    * re-parsing the container.
    */
  def warcGateBatch(shards: DataFrame, index: graft.ext.Dedup.GramIndex,
      corpusSig: DataFrame, corpusTexts: DataFrame, editIndex: DataFrame,
      editCorpus: DataFrame, editKeyLen: Int, k: Int, tauNum: Int = 1,
      tauDen: Int = 2, maxDist: Int = 3,
      corpusIdCol: String = "doc_id", editCol: String = "pfx"): DataFrame = {
    val wet = graft.ops.WarcCorpus.wetDocuments(
        graft.ops.WarcCorpus.parseShards(shards, gz = true))
      .withColumn(editCol, substring(col("text"), 1, editKeyLen))
    graft.ext.Dedup.ingestGateWithEdit(index, corpusSig, corpusTexts,
        editIndex, editCorpus,
        wet.withColumnRenamed("url", corpusIdCol),
        corpusIdCol, "text", editCol, k, tauNum, tauDen, maxDist)
      .withColumnRenamed(corpusIdCol, "url")
      .join(wet.select(col("url"), col("date"), col("text")), Seq("url"))
      .select(col("url"), col("date"), col("text"), col("exact_dup"),
        col("jac_dup"), col("sh_dup"), col("ed_dup"), col("admit"))
  }

  // ---------------------------------------------------- persisted state

  /** One persisted streaming state: how a micro-batch reduces to its own
    * table (`summarize`) and how the stored table absorbs it (`merge`).
    * Every member obeys its merge law — merge(summarize(A), summarize(B))
    * equals summarize(A ∪ B), exactly or (HLL) up to the estimator —
    * so any moment's stored table is what a cold build over the stream
    * history would be, and reads never re-scan a stream row. The crash
    * contract lives once, in [[mergeBatch]]; a member never sees the
    * `batch_id` column.
    */
  sealed abstract class MergeState private {
    def summarize(batch: DataFrame): DataFrame
    def merge(prev: DataFrame, summary: DataFrame): DataFrame
  }

  object MergeState {

    /** ST22 — distinct count: ONE Datasketches HLL sketch row. Union is a
      * per-register MAX, so merge order never changes the result; an
      * estimate can differ by a hair from a direct build (the HIP
      * estimator is discarded on union — the documented cost of
      * mergeability). O(1) state; read with `hll_sketch_estimate`.
      */
    final case class Hll(keyCol: String) extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        batch.agg(hll_sketch_agg(col(keyCol)).as("sketch"))
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        prev.unionByName(summary)
          .agg(hll_union_agg(col("sketch")).as("sketch"))
    }

    /** ST25 — bottom-k (KMV) per group ([[graft.ops.Sketches.bottomK]],
      * ≤ k rows per group forever): the EXACT merge law, streamed chain ≡
      * cold rebuild bit-for-bit (q214). Read with
      * [[graft.ops.Sketches.distinctEstimate]].
      */
    final case class BottomK(groupCol: String, elemCol: String, k: Int)
        extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        graft.ops.Sketches.bottomK(batch, groupCol, elemCol, k)
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        graft.ops.Sketches.merge(prev, summary, groupCol, k)
    }

    /** ST31 — grid-free quantiles: the rank-KMV sketch
      * ([[graft.ops.Sketches.rankSketch]], ≤ k rows per group), merged
      * bit-equal to a cold rebuild (q242). Kept-value counts ADD, so a
      * replay would double them. Read with
      * [[graft.ops.Sketches.quantilesFromRankSketch]].
      */
    final case class RankSketch(groupCol: String, valueCol: String, k: Int)
        extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        graft.ops.Sketches.rankSketch(batch, groupCol, valueCol, k)
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        graft.ops.Sketches.rankSketchMerge(prev, summary, groupCol, k)
    }

    /** ST26 — the per-shard dataset card ([[graft.ops.Manifest]],
      * `shards` rows): counts and mod-P checksums ADD, id ranges combine,
      * so the chain equals one manifest over the full history (q217).
      */
    final case class Manifest(idCol: String, textCol: String, shards: Int)
        extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        graft.ops.Manifest.shardManifest(batch, idCol, textCol, shards)
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        graft.ops.Manifest.mergeManifests(prev, summary)
    }

    /** ST28 — sparse count-min per group
      * ([[graft.ops.LinearSketches.cmsSketch]], ≤ depth·width rows per
      * group): counters ADD, the linear law, bit-equal to a cold rebuild
      * (q222). Read with [[graft.ops.LinearSketches.cmsEstimate]].
      */
    final case class Cms(groupCol: String, elemCol: String, depth: Int,
        width: Int) extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        graft.ops.LinearSketches.cmsSketch(batch, groupCol, elemCol, depth,
          width)
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        graft.ops.LinearSketches.cmsMerge(prev, summary, groupCol)
    }

    /** ST29 — per-group (n, Σx, Σx²)
      * ([[graft.ops.Hypothesis.statsTable]]): counts and sums ADD. With [[graft.ops.Hypothesis.welchFromStats]]
      * this is a live A/B monitor — an arriving cohort's own stats
      * Welch-test against the stored table, no corpus row re-read (q231).
      */
    final case class Stats(groupCol: String, valueCol: String)
        extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        graft.ops.Hypothesis.statsTable(batch, groupCol, col(valueCol))
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        graft.ops.Hypothesis.mergeStatsTables(prev, summary)
    }

    /** ST30 — per-(group, threshold) tp/fp/fn/tn
      * ([[graft.ops.Hypothesis.confusionCounts]]): counts ADD; read
      * precision/recall/F1 with [[graft.ops.Hypothesis.confusionRatios]]
      * (q233, live). ROC-AUC is deliberately not kept: its exact linear
      * reduction is the per-distinct-score table, whose state grows with
      * score cardinality; the full-history AUC stays a batch read.
      */
    final case class Confusion(groupCol: String, labelCol: String,
        scoreCol: String, thresholds: Seq[Double]) extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        graft.ops.Hypothesis.confusionCounts(batch, groupCol, col(labelCol),
          col(scoreCol), thresholds)
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        graft.ops.Hypothesis.mergeConfusion(prev, summary, groupCol)
    }

    /** ST34 — per-(group, bucket) live counts on the integer bucket
      * ladder ([[graft.ops.Drift.bucketOf]], groups·(|thresholds|+1) rows):
      * counts ADD. Read as the PSI alarm against a frozen reference count
      * table with [[graft.ops.Drift.psiOfCounts]] (the q257 mirror).
      */
    final case class DriftCounts(groupCol: String, valueCol: String,
        thresholds: Seq[Long]) extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        batch.groupBy(col(groupCol),
            graft.ops.Drift.bucketOf(col(valueCol), thresholds).as("bucket"))
          .agg(count(lit(1)).as("n_live"))
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        prev.unionByName(summary).groupBy(groupCol, "bucket")
          .agg(sum("n_live").as("n_live"))
    }

    /** ST16 — the integer covariance sketch
      * ([[graft.ext.Similarity.covarianceSums]]) merged by per-cell
      * addition: the streaming q174, and the pattern for any order-free
      * sum. [[graft.ext.Similarity.finalizeCovariance]] over the stored
      * table is the exact full-history matrix at any moment.
      */
    final case class Covariance(vecCol: String, idCol: String)
        extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        graft.ext.Similarity.covarianceSums(batch, vecCol, idCol)
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        graft.ext.Similarity.mergeCovarianceSums(prev, summary)
    }

    /** ST35 — crawl-frontier membership: arriving keys OR into the
      * [[graft.ext.Bloom]] word table (≤ mBits/63 rows), so "seen?"
      * reads at O(k · probe) with [[graft.ext.Bloom.probe]]. The law is
      * `∨`, idempotent: a batch replayed under a NEW id is a no-op by
      * algebra, so the shared replay guard is uniformity here, not
      * correctness.
      */
    final case class Frontier(keyCol: String, p: graft.ext.Bloom.Params)
        extends MergeState {
      def summarize(batch: DataFrame): DataFrame =
        graft.ext.Bloom.build(batch, keyCol, p)
      def merge(prev: DataFrame, summary: DataFrame): DataFrame =
        graft.ext.Bloom.merge(prev, summary)
    }
  }

  /** The stored state at `targetPath`, if any, after [[Upsert.recover]]:
    * a crash between [[Upsert.writeAtomic]]'s two renames leaves the
    * table only at `<targetPath>.old`, and reading before the restore
    * would merge against nothing — silently dropping the accumulated
    * state. A table that exists but cannot be read fails the batch.
    */
  private def stored(spark: SparkSession,
      targetPath: String): Option[DataFrame] = {
    Upsert.recover(spark, targetPath)
    val tgt = new org.apache.hadoop.fs.Path(targetPath)
    if (tgt.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tgt))
      Some(spark.read.parquet(targetPath))
    else None
  }

  /** The crash contract of every persisted streaming state, once:
    * recover the table, skip an EMPTY batch (no write, and the `batch_id`
    * marker must not advance, or a replayed non-empty sibling of the same
    * id would be dropped), and refuse a `batchId` at or below the stored
    * marker — foreachBatch is at-least-once, and an additive merge would
    * silently double-count a batch redelivered after a crash between the
    * swap and the checkpoint commit. Otherwise `step` runs on the stored
    * table (None on the first batch; the `batch_id` column included).
    * Returns None when the batch was skipped.
    */
  private def guarded[A](batch: DataFrame, targetPath: String,
      batchId: Long)(step: Option[DataFrame] => A): Option[A] = {
    val prev = stored(batch.sparkSession, targetPath)
    if (batch.isEmpty) return None
    val applied = prev.fold(Long.MinValue)(_.agg(coalesce(
      max(col("batch_id")), lit(Long.MinValue))).head().getLong(0))
    if (applied >= batchId) None else Some(step(prev))
  }

  /** Swap `state` in at `targetPath`, stamped with `batchId` inside the
    * same atomic write — the marker can never disagree with the data.
    */
  private def swap(state: DataFrame, targetPath: String,
      batchId: Long): Unit =
    Upsert.writeAtomic(state.withColumn("batch_id", lit(batchId)),
      targetPath)

  /** Merge one micro-batch into the persisted `state` table at
    * `targetPath` under the shared crash contract (see [[guarded]]): the
    * first batch writes `state.summarize(batch)`, later ones
    * `state.merge(stored, summary)`. Returns true when merged, false when
    * skipped as empty or as a replay.
    */
  def mergeBatch(state: MergeState, batch: DataFrame, targetPath: String,
      batchId: Long): Boolean =
    guarded(batch, targetPath, batchId) { prev =>
      val summary = state.summarize(batch)
      swap(prev.fold(summary)(p => state.merge(p.drop("batch_id"), summary)),
        targetPath, batchId)
    }.isDefined

  /** The stateful on-arrival surface: a checkpointed append stream that
    * drains what is available (`AvailableNow`) and hands each micro-batch
    * and its id to `step` — `mergeBatch(state, _, path, _)` for a
    * [[MergeState]], or a verdict kernel ([[hostCapMergeBatch]],
    * [[crawlDoorMergeBatch]]) feeding a sink.
    */
  def mergeOnArrival(rows: DataFrame, checkpoint: String)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(batch, batchId)
      }
      .start()

  /** Read a persisted state table: recover, read, drop the `batch_id`
    * marker. Pass the result to the state's reader
    * ([[graft.ops.Sketches]], [[graft.ops.Hypothesis]],
    * [[graft.ops.Drift]], [[graft.ext.Bloom]]).
    */
  def readState(spark: SparkSession, targetPath: String): DataFrame = {
    Upsert.recover(spark, targetPath)
    spark.read.parquet(targetPath).drop("batch_id")
  }

  // ------------------------------------------------------- ST33 / ST36

  /** The per-host FCFS cap shared by ST33 and ST36: rank `rows` per
    * `hostCol` by `orderCol` (`row_number` — the
    * [[graft.ext.Curation.perHostCap]] window, so the partial group limit
    * bounds the exchange) and admit iff the host's prior admitted count
    * in the cap state plus the rank ≤ `cap`. Adds `admit`.
    */
  private def capAdmit(rows: DataFrame, hostCol: String, orderCol: String,
      cap: Int, prev: Option[DataFrame]): DataFrame = {
    val ranked = rows.withColumn("__rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col(hostCol)).orderBy(col(orderCol))))
    prev.fold(ranked.withColumn("__prev", lit(0L))) { p =>
      ranked.join(broadcast(p.select(col("host").as(hostCol),
        col("n_admitted").as("__prev"))), Seq(hostCol), "left_outer")
    }
      .withColumn("admit",
        col("__rn") + coalesce(col("__prev"), lit(0L)) <= cap)
      .drop("__rn", "__prev")
  }

  /** Fold a batch's admits (one row per admitted doc, column `host`) into
    * the per-host admitted counts and swap the cap state in.
    */
  private def capFold(prev: Option[DataFrame], admittedHosts: DataFrame,
      capPath: String, batchId: Long): Unit = {
    val fresh = admittedHosts.groupBy("host")
      .agg(count(lit(1)).as("n_admitted"))
    swap(prev.fold(fresh)(p => p.select(col("host"), col("n_admitted"))
        .unionByName(fresh).groupBy("host")
        .agg(sum("n_admitted").as("n_admitted"))),
      capPath, batchId)
  }

  /** ST33 — STREAMING PER-HOST CAP: the [[graft.ext.Curation.perHostCap]]
    * crawl-curation primitive rendered on arrival — no host may exceed
    * `cap` admitted documents across the whole stream history. The state
    * is the per-host admitted-count table (O(hosts) rows forever; counts
    * ADD, so the replay guard is load-bearing). Within a batch, docs
    * compete FCFS by `orderCol`; each verdict is final when emitted.
    * Returns None when skipped (empty or replay: no write, no verdicts),
    * else Some(verdicts) — (…, admit, host) — MATERIALIZED before the
    * state swap (the verdict plan reads the state parquet the swap
    * replaces). Run on a stream with [[mergeOnArrival]].
    */
  def hostCapMergeBatch(batch: DataFrame, urlCol: String,
      orderCol: String, cap: Int, targetPath: String, batchId: Long)
      : Option[DataFrame] = {
    require(cap >= 1, s"hostCapMergeBatch: cap=$cap")
    guarded(batch, targetPath, batchId) { prev =>
      val verdicts = capAdmit(
          batch.withColumn("__host", graft.ext.Curation.urlHost(col(urlCol))),
          "__host", orderCol, cap, prev)
        .withColumn("host", col("__host"))
        .drop("__host")
        .localCheckpoint() // verdicts must outlive the state swap below
      capFold(prev, verdicts.filter(col("admit")).select(col("host")),
        targetPath, batchId)
      verdicts
    }
  }

  /** ST36 — the STREAMING CRAWL DOOR (q261) rendered on arrival, all four
    * gates in production order inside one batch: (1) robots.txt
    * permission against the broadcast rule table
    * ([[graft.ext.Robots.allowed]]), (2) frontier NOVELTY against the
    * persisted ST35 Bloom state AS OF BATCH START (a URL admitted in an
    * earlier wave comes back seen), (3) payload MIME sniff
    * ([[graft.ext.Containers.sniffMime]] — only `text/plain` enters the
    * text pipeline), (4) the per-host cap over survivors of 1–3 with
    * the accumulated ST33 counts (FCFS by `idCol` within the batch).
    * Then the states advance: admitted counts fold into the cap table,
    * and the batch's ADMITTED urls — now crawled — OR into the frontier
    * through [[mergeBatch]].
    *
    * Replay: the guard rides the CAP state (the only non-idempotent
    * one); a replayed batch id returns None before any verdict, and the
    * frontier — which would have been a no-op anyway (∨) — is never
    * re-touched. Verdicts materialize (localCheckpoint) BEFORE either
    * swap. Returns (id, host, url, robots_ok, novel, mime_ok, admitted).
    */
  def crawlDoorMergeBatch(batch: DataFrame, idCol: String, hostCol: String,
      pathCol: String, urlCol: String, payloadCol: String,
      rules: DataFrame, p: graft.ext.Bloom.Params, cap: Int,
      frontierPath: String, capPath: String, batchId: Long)
      : Option[DataFrame] = {
    require(cap >= 1, s"crawlDoorMergeBatch: cap=$cap")
    val spark = batch.sparkSession
    import spark.implicits._
    guarded(batch, capPath, batchId) { prev =>
      // (1) robots — rule table is per-host small: broadcast inside allowed
      val rob = graft.ext.Robots.allowed(
        batch.select(col(idCol), col(hostCol), col(pathCol)),
        idCol, hostCol, pathCol, rules)
        .select(col(idCol), col("allowed").as("robots_ok"))
      // (2) frontier novelty vs the state at batch start
      val novel = stored(spark, frontierPath).fold(
          batch.select(col(idCol)).withColumn("novel", lit(true))) { f =>
        graft.ext.Bloom.probe(batch.select(col(idCol), col(urlCol)), urlCol,
          idCol, f.drop("batch_id"), p)
          .select(col(idCol), (!col("maybe_present")).as("novel"))
      }
      // (3) MIME sniff — per-payload JVM byte logic, batch-sized map
      val mime = batch.select(col(idCol).cast("long"), col(payloadCol))
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          (id, graft.ext.Containers.sniffMime(b) == "text/plain")
        }
        .toDF(idCol, "mime_ok")
      val gated = batch.select(col(idCol), col(hostCol), col(urlCol))
        .join(rob, idCol).join(novel, idCol).join(mime, idCol)
      // (4) per-host cap over survivors, FCFS by idCol, prior counts added
      val surv = capAdmit(
          gated.filter(col("robots_ok") && col("novel") && col("mime_ok")),
          hostCol, idCol, cap, prev)
        .select(col(idCol), col("admit").as("__adm"))
      val verdicts = gated.join(surv, Seq(idCol), "left_outer")
        .select(col(idCol), col(hostCol), col(urlCol), col("robots_ok"),
          col("novel"), col("mime_ok"),
          coalesce(col("__adm"), lit(false)).as("admitted"))
        .localCheckpoint() // must outlive both state swaps below
      val admitted = verdicts.filter(col("admitted"))
      capFold(prev, admitted.select(col(hostCol).as("host")), capPath,
        batchId)
      mergeBatch(MergeState.Frontier(urlCol, p), admitted.select(col(urlCol)),
        frontierPath, batchId)
      verdicts
    }
  }
}
