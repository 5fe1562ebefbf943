package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** SURVEY.md §2E — Structured Streaming re-expression of the reference's
  * real-time side: the storage node ingests a mutation stream and the
  * index node keeps live document state + windowed event stats
  * (node/src/indexer_impl.rs subscription loop).
  *
  * At scale these run as continuous jobs over Kafka/file sources with
  * checkpointing; here the same queries are driven synchronously from the
  * parquet fixtures in tests (memory sink + processAllAvailable).
  */
object Streaming {

  /** Raw on-disk schema of the CURRENT events.parquet vintage (ts =
    * TIMESTAMP(MICROS) without UTC adjustment → TIMESTAMP_NTZ; the intake
    * converts it to the library's internal epoch-nanos long before
    * `.as[Ev]`). Legacy corpora carry ts as a raw nanos LONG instead —
    * `readEventStream` probes the on-disk footer and picks the matching
    * vintage, mirroring `Tables.events`' dtype branch. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Legacy vintage: ts already epoch-nanos long on disk. */
  val eventSchemaLegacy: StructType = StructType(
    eventSchema.fields.map(f =>
      if (f.name == "ts") StructField("ts", LongType) else f))

  case class Ev(event_id: Long, ts: Long, user_id: Long, event_type: String,
      value: Double, props: String)
  case class EvT(event_id: Long, ts: Long, user_id: Long, event_type: String,
      value: Double, props: String, ets: java.sql.Timestamp)
  case class DocState(user_id: Long, last_type: String, last_value: Double,
      last_ts: Long, last_event_id: Long, n_mutations: Long)
  case class SessState(lastTsUs: Long, startUs: Long, n: Long, sessionId: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, dur_us: Long)
  case class RateState(recent: Seq[Long])
  case class RateViolation(event_id: Long, user_id: Long, ts_us: Long,
      n_1h: Long)

  def readEventStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet", filesPerTrigger: Int = 0): Dataset[Ev] = {
    import spark.implicits._
    // probe the footer once (driver-side batch read) to pick the ts
    // vintage: legacy corpora store epoch-nanos LONG, current ones
    // TIMESTAMP_NTZ — a fixed NTZ schema would misread TIMESTAMP(NANOS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val legacy = spark.read.option("pathGlobFilter", glob).parquet(dir)
      .schema.find(_.name == "ts").exists(_.dataType == LongType)
    // the file-stream source wants a directory; glob-filter to the table
    val r = spark.readStream
      .schema(if (legacy) eventSchemaLegacy else eventSchema)
      .option("pathGlobFilter", glob)
    val r2 = if (filesPerTrigger > 0)
      r.option("maxFilesPerTrigger", filesPerTrigger.toString) else r
    // normalize to the internal epoch-nanos convention at intake: one
    // codegen'd projection (session tz is pinned UTC, so the NTZ cast is
    // instant-preserving), everything stateful downstream stays integer
    val src = r2.parquet(dir)
    (if (legacy) src
     else src.withColumn("ts",
       unix_micros(col("ts").cast("timestamp")) * lit(1000L)))
      .as[Ev]
  }

  /** Sentinel default clock for `withTtl` and the intake entry points:
    * when a caller leaves the clock at this value, the TTL cutoff is a
    * `current_timestamp()`-derived Column — in a streaming plan that
    * resolves to the MICRO-BATCH timestamp, so each batch drops against
    * then-current time exactly like the indexer. Tests inject a fixed
    * clock instead and get a deterministic literal cutoff. */
  val WallClockNanos: () => Long = () => System.currentTimeMillis() * 1000000L

  /** EventDatabase.ttl enforcement at intake — the reference indexer
    * applies the database TTL as it materializes events
    * (node/src/indexer_impl.rs), so expired rows never reach state or
    * sink. The predicate is a COLUMN comparison on the raw nanos, not a
    * typed lambda: it stays inside whole-stage codegen (no
    * DeserializeToObject per row) and is pushdown-eligible.
    * ttlNanos <= 0 = no TTL configured. */
  def withTtl(ev: Dataset[Ev], ttlNanos: Long,
      nowNanos: () => Long = WallClockNanos): Dataset[Ev] =
    if (ttlNanos <= 0L) ev
    else {
      val cutoff =
        if (nowNanos eq WallClockNanos)
          // per-micro-batch: current_timestamp() is the batch timestamp
          // in a streaming query
          unix_micros(current_timestamp()) * lit(1000L) - lit(ttlNanos)
        else lit(nowNanos() - ttlNanos) // injected test clock: fixed cutoff
      ev.filter(col("ts") >= cutoff)
    }

  /** Watermarked tumbling-window aggregation per event type — the
    * streaming twin of EventQueries.evtWindowAgg. `glob`/
    * `filesPerTrigger` pass through to the file source so restart
    * tests can drive multi-file micro-batches. */
  def windowAgg(spark: SparkSession, dir: String,
      glob: String = "events.parquet", filesPerTrigger: Int = 0): DataFrame = {
    val ev = readEventStream(spark, dir, glob, filesPerTrigger)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
    ev.groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Stream-static dimension enrichment — the streaming twin of
    * EventQueries.evtJoinDims: each micro-batch broadcast-joins the
    * (tiny, batch-side) customer dimension onto the event stream. A
    * stream-static equi-join with a broadcast static side adds NO state
    * store and NO shuffle to the streaming plan — the dimension is
    * re-resolved per micro-batch, so slowly-changing dims pick up
    * updates for free. Unmatched events pass through with null dims
    * (left join): an enrichment stream must never drop events because a
    * dimension row is late. */
  def joinDims(spark: SparkSession, dir: String): DataFrame = {
    val dims = org.apache.spark.sql.functions.broadcast(
      graft.sources.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
    readEventStream(spark, dir).toDF()
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .join(dims, col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("ets"), col("user_id"),
        col("event_type"), col("value"), col("c_name"), col("c_mktsegment"))
  }

  /** Raw on-disk schema of documents.parquet. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)

  /** STREAMING DSIR SCORING — the train-batch / score-stream pattern:
    * the λ table `Curation.dsirLambda` trains batch-side (a bounded ≤B-row
    * model artifact), collapses to a B-slot array literal, and every
    * arriving document is scored STATELESSLY inside whole-stage codegen —
    * per-row HOFs over the token array, no explode, no aggregation state,
    * no state store, nothing to checkpoint beyond the source offset. This
    * is the shape streaming inference wants at any scale: model broadcast
    * as a literal, scoring embarrassingly parallel. Tokens hashing to
    * buckets unseen in training are excluded from both the sum and the
    * token count — exactly the batch query's inner-join semantics
    * (spec-pinned equal to `pipeline_dsir` on the same docs). */
  def dsirScoreStream(spark: SparkSession, dir: String,
      lamByBucket: Map[Long, Double]): DataFrame = {
    val B = graft.pipeline.Curation.DsirBuckets
    val lamArr = array((0 until B).map(b =>
      lamByBucket.get(b.toLong).map(lit)
        .getOrElse(lit(null).cast("double"))): _*)
    readDocStream(spark, dir)
      .withColumn("__lams",
        filter(
          transform(split(col("text"), " "), t =>
            element_at(lamArr, (graft.pipeline.Curation.dsirBucket(t) + 1).cast("int"))),
          x => x.isNotNull))
      .select(col("doc_id"),
        size(col("__lams")).cast("long").as("n_tokens"),
        round(aggregate(col("__lams"), lit(0.0), (acc, x) => acc + x) /
          size(col("__lams")), 6).as("dsir_score"))
  }

  /** Streaming heavy hitters — the same mergeable Misra-Gries sketch as
    * the batch `evt_approx_topk`, maintained INCREMENTALLY as streaming
    * aggregation state: each micro-batch's partial sketches merge into
    * the stored per-type sketch through the aggregate's own
    * serialize/merge path, so the state per group is the fixed
    * `capacity` counters — never the key universe — and the answer is
    * available continuously, not at end-of-stream. Complete output mode;
    * the sketch array is exploded by the consumer. */
  def approxTopk(spark: SparkSession, dir: String): DataFrame =
    readEventStream(spark, dir).toDF()
      .groupBy(col("event_type"))
      .agg(graft.functions.GraftFunctions
        .heavy_hitters(col("user_id"), 4096, 10).as("hh"))

  /** Streaming reservoir — the batch `pipeline_reservoir` semantics
    * maintained CONTINUOUSLY: per event type, the k events with the
    * smallest decorrelated hash seen so far, via the exact mergeable
    * `bottom_k_sample` aggregate ("bottom-k of a union" = "bottom-k of
    * merged bottom-k's", so partial sketches from each micro-batch merge
    * through the aggregate's own serialize/merge path). State per group
    * is ≤ k 16-byte pairs forever — never the stream; and because the
    * sample is deterministic in the event ids, the answer at any point
    * equals the batch bottom-k over everything ingested so far,
    * independent of partitioning and arrival order. */
  def reservoirSample(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    readEventStream(spark, dir).toDF()
      .groupBy(col("event_type"))
      .agg(graft.functions.GraftFunctions.bottom_k_sample(
        graft.pipeline.Curation.reservoirHash(col("event_id")),
        col("event_id"), k).as("sample"))

  /** Watermarked stream-stream INTERVAL join — click→purchase
    * attribution within 1 hour per user, both sides unbounded streams
    * (the case `joinDims`'s static broadcast cannot express). The join
    * needs an equi-key (user) plus the event-time range condition, and a
    * watermark on BOTH inputs: together they bound the symmetric-hash
    * join state — a click can only ever match purchases up to 1 h after
    * it, so once the purchase watermark passes c_ets + 1 h the click is
    * evicted. Without the range bound (or with an unbounded condition)
    * state grows with the whole stream; with it, state is
    * O(events-per-watermark-horizon) per key partition — the shape that
    * survives an unbounded 100 TB/day stream. Inner join: matches emit
    * immediately; eviction only needs the watermark. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEventStream(spark, dir).toDF()
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ets").as("c_ets"))
      .withWatermark("c_ets", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value").as("p_value"), col("ets").as("p_ets"))
      .withWatermark("p_ets", "2 hours")
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ets") >= col("c_ets") &&
          col("p_ets") <= col("c_ets") + expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("c_ets"), col("p_ets"), col("p_value"))
  }

  /** Live document state from the mutation stream: latest-wins fold per
    * doc key with arbitrary stateful logic (flatMapGroupsWithState), the
    * streaming twin of DocQueries.docStateLatest. State is one small
    * record per key — partitioned by key across executors. */
  def docState(spark: SparkSession, dir: String, ttlNanos: Long = 0L,
      nowNanos: () => Long = WallClockNanos)
      : Dataset[DocState] = {
    import spark.implicits._
    withTtl(readEventStream(spark, dir), ttlNanos, nowNanos)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        updateDocState)
  }

  /** Streaming exact dedup: first occurrence per content hash within the
    * watermark horizon (dropDuplicates keyed on the hash — the streaming
    * twin of Dedup.dedupExact; state is one hash per distinct doc). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    readEventStream(spark, dir).toDF()
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withColumn("content_hash", md5(to_binary(col("props"), lit("utf-8"))))
      .withWatermark("ets", "1 hour")
      .dropDuplicates("content_hash")
      .select(col("content_hash"), col("event_id"), col("ets"))
  }

  /** Streaming sessionization — the streaming twin of
    * EventQueries.evtSessionize: per-user 30-min-gap sessions tracked in
    * one small state record per key. Events are sorted within each
    * micro-batch invocation (micro-batch granularity is the streaming
    * contract); a session CLOSES when a later event opens a new one, and
    * closed sessions are emitted append-mode. The open session rides in
    * state across batches; `sessionizeWithTimeout` adds the event-time
    * idle flush a production job needs. */
  def sessionize(spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    readEventStream(spark, dir)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        updateSessions)
  }

  /** Sessionization with an EVENT-TIME idle timeout: identical session
    * semantics to `sessionize`, plus the production behavior the plain
    * variant documents as missing — an idle open session FLUSHES once
    * the watermark passes its last event + gap
    * (GroupStateTimeout.EventTimeTimeout), so state stays bounded on an
    * unbounded stream instead of accumulating one open session per
    * ever-seen key. */
  def sessionizeWithTimeout(spark: SparkSession, dir: String,
      watermarkDelay: String = "1 hour",
      glob: String = "events.parquet"): Dataset[SessionOut] = {
    import spark.implicits._
    readEventStream(spark, dir, glob).toDF()
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", watermarkDelay)
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateSessionsWithTimeout)
  }

  /** Streaming RATE-LIMIT enforcement — the online twin of the batch
    * `evt_rate_limit` audit (the per-sender write quota a storage node
    * gates on, enforced as events arrive instead of analyzed after the
    * fact): per user, the trailing-hour event count maintained as
    * flatMapGroupsWithState state, emitting each violation the moment
    * its event lands. Exactly the batch RANGE-frame semantics: same-µs
    * events are counted as peers of each other (processed as one group),
    * earlier events never see later ones. State per key = the trailing
    * hour's event timestamps — bounded by the key's hourly rate (the
    * quantity a quota bounds by construction) — and an event-time
    * timeout drops a key entirely once the watermark passes its last
    * event + 1h, when no in-horizon event can still look back at it.
    *
    * COMPLETENESS CONTRACT: each event's verdict is final at arrival,
    * computed over the events SEEN SO FAR (append mode cannot retract
    * or re-emit). Under IN-ORDER delivery per key this equals the batch
    * `evt_rate_limit` audit exactly. Under OUT-OF-ORDER delivery it can
    * be a strict SUBSET of the batch audit: an event emitted as
    * compliant whose trailing-hour count only crosses `maxPerHour` when
    * a later micro-batch delivers an OLDER (still above-watermark) peer
    * is never retro-emitted. Verdicts that ARE emitted are never false
    * positives — a late peer can only raise counts, and an event never
    * counts peers newer than itself. Run the batch audit for the
    * after-the-fact exact set; this stream is the low-latency gate. The
    * missed-violation case is pinned in StreamingSpec's model test. */
  def rateLimit(spark: SparkSession, dir: String,
      maxPerHour: Long = 2L, watermarkDelay: String = "1 hour",
      glob: String = "events.parquet",
      filesPerTrigger: Int = 0): Dataset[RateViolation] = {
    import spark.implicits._
    readEventStream(spark, dir, glob, filesPerTrigger).toDF()
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", watermarkDelay)
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateRateLimit(maxPerHour))
  }

  private val RateWindowUs = 3600L * 1000 * 1000

  private[streaming] def updateRateLimit(maxPerHour: Long)(
      userId: Long, events: Iterator[EvT],
      state: GroupState[RateState]): Iterator[RateViolation] = {
    if (!events.hasNext && state.hasTimedOut) {
      state.remove(); return Iterator.empty
    }
    var recent = state.getOption.map(_.recent.toVector).getOrElse(Vector.empty)
    val out = Vector.newBuilder[RateViolation]
    // eviction is WATERMARK-relative, never current-event-relative: a
    // later micro-batch can still deliver an OLDER (above-watermark)
    // event whose frame reaches back before this batch's events, so
    // dropping below the current frame start would lose its peers. A
    // surviving event has ets ms ≥ watermark, hence ts ≥ wm·1000, hence
    // frame start ≥ wm·1000 − (1h−1): everything below that is dead.
    val wmFloor = state.getCurrentWatermarkMs() * 1000L - (RateWindowUs - 1)
    recent = recent.dropWhile(_ < wmFloor)
    // same-µs events are RANGE-frame peers: fold them as one group so
    // each gets the full group's count, like the batch window
    val byTs = events.toSeq.map(e => (e.ts / 1000L, e.event_id))
      .groupBy(_._1).toSeq.sortBy(_._1)
    byTs.foreach { case (tsUs, grp) =>
      // count ONLY the frame [tsUs-1h, tsUs]: a late event arriving
      // after newer ones must not count its future (in-order streams
      // never hit the upper bound; under lateness the verdict matches
      // the batch frame over the events seen so far)
      val lo = tsUs - (RateWindowUs - 1)
      val n = recent.count(t => t >= lo && t <= tsUs) + grp.size
      if (n > maxPerHour)
        grp.sortBy(_._2).foreach { case (_, eid) =>
          out += RateViolation(eid, userId, tsUs, n)
        }
      // sorted insert keeps the vector ordered for the head-drop above
      val (before, after) = recent.span(_ <= tsUs)
      recent = before ++ Vector.fill(grp.size)(tsUs) ++ after
    }
    if (byTs.nonEmpty) {
      // retention horizon from the NEWEST retained event: T is needed
      // while some surviving event (ets ms ≥ watermark W, so ts ≥
      // W·1000) can frame it — possible iff W ≤ (T + 1h − 1) / 1000.
      // Strictly past that (ceil + 1) the state is dead; the inequality
      // is exact, so no ms-truncation window survives at equality.
      val toMs = (recent.last + RateWindowUs - 1) / 1000L + 1L
      if (state.getCurrentWatermarkMs() >= toMs) state.remove()
      else { state.update(RateState(recent)); state.setTimeoutTimestamp(toMs) }
    }
    out.result().iterator
  }

  /** How long a flushed key retains its session COUNTER (a closed
    * marker: n = 0, sessionId = last emitted). Without it an idle flush
    * would restart numbering at 1 and a late-returning user would REUSE
    * (user_id, session_id) pairs of already-emitted sessions; with it,
    * numbering stays monotone for any user returning within the horizon.
    * State stays bounded: keys idle past gap+retention drop entirely. */
  private val counterRetentionUs = 24L * 3600 * 1000 * 1000

  private[streaming] def updateSessionsWithTimeout(
      userId: Long, events: Iterator[EvT],
      state: GroupState[SessState]): Iterator[SessionOut] = {
    val gapUs = 30L * 60 * 1000 * 1000
    def flush(st: SessState): SessionOut =
      SessionOut(userId, st.sessionId, st.n, st.startUs, st.lastTsUs - st.startUs)
    // closed marker: keeps only (lastTsUs, sessionId) for later numbering
    def marker(st: SessState): SessState =
      SessState(st.lastTsUs, st.lastTsUs, 0L, st.sessionId)
    // shrink open state to a marker + retention timeout; drop it when the
    // watermark already passed retention (setTimeoutTimestamp rejects
    // timestamps at or before the watermark)
    def retireToMarker(st: SessState): Unit = {
      val retainMs = st.lastTsUs / 1000L + counterRetentionUs / 1000L
      if (state.getCurrentWatermarkMs() >= retainMs) { if (state.exists) state.remove() }
      else { state.update(marker(st)); state.setTimeoutTimestamp(retainMs) }
    }
    if (!events.hasNext && state.hasTimedOut) {
      val st = state.get
      if (st.n == 0L) { state.remove(); return Iterator.empty } // counter retention expired
      retireToMarker(st)
      return Iterator.single(flush(st))
    }
    val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
    var st = state.getOption.orNull
    val closed = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      val tsUs = e.ts / 1000L
      if (st == null) {
        st = SessState(tsUs, tsUs, 1L, 1L)
      } else if (st.n == 0L) {
        // returning after an idle flush: the marker's counter continues
        st = SessState(tsUs, tsUs, 1L, st.sessionId + 1)
      } else if (tsUs - st.lastTsUs > gapUs) {
        closed += flush(st)
        st = SessState(tsUs, tsUs, 1L, st.sessionId + 1)
      } else {
        st = st.copy(lastTsUs = tsUs, n = st.n + 1)
      }
    }
    if (st != null) {
      if (st.n == 0L) {
        // marker passed through untouched (no events this call)
        retireToMarker(st)
      } else {
        val timeoutMs = st.lastTsUs / 1000L + gapUs / 1000L
        if (state.getCurrentWatermarkMs() >= timeoutMs) {
          // the open session is already idle past the watermark (late
          // data) — flush now, retaining the counter marker
          closed += flush(st)
          retireToMarker(st)
        } else {
          state.update(st)
          state.setTimeoutTimestamp(timeoutMs)
        }
      }
    }
    closed.result().iterator
  }

  private[streaming] def updateSessions(
      userId: Long, events: Iterator[Ev],
      state: GroupState[SessState]): Iterator[SessionOut] = {
    val gapUs = 30L * 60 * 1000 * 1000
    val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
    var st = state.getOption.orNull
    val closed = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      val tsUs = e.ts / 1000L // ns → µs (ts is non-negative)
      if (st == null) {
        st = SessState(tsUs, tsUs, 1L, 1L)
      } else if (tsUs - st.lastTsUs > gapUs) {
        closed += SessionOut(userId, st.sessionId, st.n, st.startUs,
          st.lastTsUs - st.startUs)
        st = SessState(tsUs, tsUs, 1L, st.sessionId + 1)
      } else {
        st = st.copy(lastTsUs = tsUs, n = st.n + 1)
      }
    }
    if (st != null) state.update(st)
    closed.result().iterator
  }

  /** Real-time ingestion (the reference storage node's mutation intake):
    * stream events into a GraftDB collection as AddDocument mutations via
    * foreachBatch. Partition-parallel: the driver only assigns the block
    * (= stream's reserved base + micro-batch id — the sequencer role);
    * every partition stamps its own (block, partitionId·2^20 + rowIdx)
    * orders and writes its own parquet directly
    * (GraftDB.appendDocumentsAt). No row ever visits the driver, and the
    * per-block Overwrite write makes a retried micro-batch idempotent.
    * It is [[ingestWithRollup]] with no rollup bound. Returns the
    * started query; callers own its lifecycle. */
  def ingestToDb(spark: SparkSession, dir: String, db: graft.api.GraftDB,
      dbName: String, coll: String, ttlNanos: Long = 0L,
      nowNanos: () => Long = WallClockNanos)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestWithRollup(spark, dir, db, dbName, coll, maxTailBytes = Long.MaxValue,
      ttlNanos = ttlNanos, nowNanos = nowNanos)

  /** Streaming rollup executor: the intake above plus the reference's
    * periodic rollup loop (rollup_executor.rs:256 `process`) folded into
    * the commit point — after each micro-batch lands, if the live tail
    * has grown past `maxTailBytes` the log is drained into size-bounded
    * gzip batches with persisted RollupRecords and a GcRecord
    * (GraftDB.rollup). foreachBatch is the natural analog of the
    * executor's tick: it serializes with the writer (the single-writer
    * sequencing the reference also assumes), so a rollup never races an
    * append, and a retried micro-batch re-checks the trigger
    * idempotently. */
  def ingestWithRollup(spark: SparkSession, dir: String, db: graft.api.GraftDB,
      dbName: String, coll: String, maxTailBytes: Long,
      maxBatchBytes: Long = 64L * 1024 * 1024,
      glob: String = "events.parquet", filesPerTrigger: Int = 0,
      ttlNanos: Long = 0L,
      nowNanos: () => Long = WallClockNanos,
      checkpointLocation: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    db.createCollection(dbName, coll)
    // Restartable when checkpointed: the reserved block base is persisted
    // beside the checkpoint so the batchId→block mapping is STABLE across
    // restarts. That closes the replay window a re-reserved base would
    // open: a micro-batch whose data landed but whose offset never
    // committed is re-delivered with the SAME block id, and the per-block
    // Overwrite makes the retry idempotent; with a fresh base the same
    // rows would land under a second block — a duplicate. Batches the
    // checkpoint already committed are not re-run at all (foreachBatch's
    // contract), so restart = resume, never re-ingest.
    val blockBase =
      if (checkpointLocation.isEmpty) db.nextBlockId(dbName, coll)
      else {
        val p = java.nio.file.Paths.get(checkpointLocation, "graft_block_base")
        if (java.nio.file.Files.exists(p))
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong
        else {
          // A checkpoint that has already committed offsets but lost its
          // graft_block_base sidecar (manual deletion, partial copy)
          // would silently reserve a FRESH base — and a crash-replayed
          // uncommitted batch would then land under a new block id:
          // exactly the duplicate the sidecar exists to prevent. Refuse
          // to guess; the operator must restore the sidecar or start a
          // clean checkpoint.
          val hasCommits = Seq("offsets", "commits").exists { d =>
            val dp = java.nio.file.Paths.get(checkpointLocation, d)
            java.nio.file.Files.isDirectory(dp) && {
              val st = java.nio.file.Files.list(dp)
              try st.findFirst().isPresent finally st.close()
            }
          }
          if (hasCommits) throw new IllegalStateException(
            s"checkpoint $checkpointLocation has committed offsets but no " +
              "graft_block_base sidecar; refusing to reserve a fresh block " +
              "base (replayed batches would duplicate under new block ids). " +
              "Restore the sidecar or use a fresh checkpoint location.")
          val base = db.nextBlockId(dbName, coll)
          java.nio.file.Files.createDirectories(p.getParent)
          val tmp = p.resolveSibling("graft_block_base.tmp")
          java.nio.file.Files.write(tmp, base.toString.getBytes("UTF-8"))
          java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          base
        }
      }
    val writer = withTtl(readEventStream(spark, dir, glob, filesPerTrigger), ttlNanos, nowNanos).toDF()
      .select(to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), col("value"))).as("doc"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) db.appendDocumentsAt(dbName, coll, blockBase + batchId, batch)
        if (db.tailBytes(dbName, coll) >= maxTailBytes)
          db.rollup(dbName, coll, maxBatchBytes)
        ()
      }
    (if (checkpointLocation.isEmpty) writer
     else writer.option("checkpointLocation", checkpointLocation)).start()
  }

  private[streaming] def updateDocState(
      userId: Long, events: Iterator[Ev],
      state: GroupState[DocState]): Iterator[DocState] = {
    var cur = state.getOption.orNull
    var n = if (cur == null) 0L else cur.n_mutations
    events.foreach { e =>
      n += 1
      if (cur == null || e.ts > cur.last_ts ||
          (e.ts == cur.last_ts && e.event_id > cur.last_event_id)) {
        cur = DocState(userId, e.event_type, e.value, e.ts, e.event_id, n)
      } else {
        cur = cur.copy(n_mutations = n)
      }
    }
    if (cur == null) Iterator.empty
    else {
      state.update(cur)
      Iterator.single(cur)
    }
  }
}
