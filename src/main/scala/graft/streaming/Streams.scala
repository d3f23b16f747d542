package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Structured Streaming surface for the events table.
  *
  * The reference schedules batch pipeline runs (APScheduler cron,
  * datanika `services/scheduler_integration.py`); the Spark-native
  * generalization is a continuously-running stream with event-time
  * watermarks — same transforms, incremental execution.
  *
  * `tumblingAgg` is written against a generic DataFrame so the SAME
  * code path serves batch (verify/oracle) and readStream inputs —
  * batch/stream parity by construction.
  */
object Streams {

  /** events.parquet schema as DECLARED to the file source; ts is
    * whatever the files physically carry (epoch-ns long or a
    * timestamp type — see Tables.load) and is normalized to the
    * epoch-ns-long contract right after the scan. A streaming source
    * needs the schema up front, so the physical ts type is probed
    * once from the existing files (driver-side metadata read).
    */
  def eventSchema(spark: SparkSession, dir: String): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", physicalTsType(spark, dir)),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  private def physicalTsType(spark: SparkSession,
      dir: String): org.apache.spark.sql.types.DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // no files yet (stream declared before the first ingest lands):
    // fall back to the epoch-ns-long contract type — the declared
    // schema then matches what normalizeTsNs would have produced
    try Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType
    catch { case _: org.apache.spark.sql.AnalysisException => LongType }
  }

  /** Streaming read of the events table (file source). The file
    * source wants a DIRECTORY; `pathGlobFilter` selects the events
    * parquet within it (a production layout would be a dir of files
    * growing over time — same code).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    readEventsRaw(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")

  /** Raw streaming read — no event-time column or watermark — for
    * callers that derive their own (e.g. stream-stream joins, which
    * watermark each side separately; Spark disallows redefining an
    * inherited watermark).
    */
  def readEventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Tables.normalizeTsNs(
      spark.readStream
        .schema(eventSchema(spark, dir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Tumbling 1-hour aggregation; works on batch and streaming
    * frames alike (needs an `event_time` timestamp column).
    */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // decimal sum — order-independent across engines (see Sessionize)
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding 1-hour/15-minute aggregation — the overlapping-window
    * sibling of `tumblingAgg` (each event lands in 4 windows: the
    * trend-smoothing shape dashboards actually chart). Works on
    * batch and streaming frames alike; on streams the per-window
    * state is bounded by the caller's watermark exactly as with
    * tumbling windows — the overlap multiplies state rows by
    * size/slide, never by data volume.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("event_time"), "1 hour", "15 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_millis(col("window.start")).as("w_start_ms"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup — the incremental twin of `Dedup.exact`:
    * keeps one row per key, with state BOUNDED by the event-time
    * watermark (a duplicate arriving later than the watermark delay
    * is passed through; state for expired keys is dropped). Callers
    * set `withWatermark` upstream; keys are typically a content hash
    * (`xxhash64(text)`) so the state store holds 8-byte keys, not
    * payloads.
    */
  def dedupStream(events: DataFrame, keys: Seq[String]): DataFrame =
    events.dropDuplicatesWithinWatermark(keys)

  // --- streaming sessionization (incremental twin of ops.Sessionize) ---

  final case class Event(user_id: Long, ts: Long, value: Double)
  final case class SessionState(sessionId: Long, lastTs: Long,
      startTs: Long, n: Long, sumMicros: Long)
  final case class SessionOut(user_id: Long, session_id: Long,
      n_events: Long, start_ms: Long, end_ms: Long, sum_value: Double)

  /** value quantized to 6 dp as long micros — summing longs is exact
    * and order-independent, and microsTotal/1e6 is bit-identical to
    * SQL `CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)` (both
    * are the correctly-rounded double of the same exact decimal)
    * while |microsTotal| < 2⁵³ — i.e. per-session value sums below
    * ~9×10⁹ units, far above any realistic session; beyond that the
    * long→double conversion itself rounds and the identity degrades
    * to 1-ulp agreement.
    */
  private def micros(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).movePointRight(6).longValueExact()

  /** flatMapGroupsWithState sessionizer with EVENT-TIME TIMEOUT: a
    * user's open session is flushed when the watermark passes
    * last-event + gap, so quiet users emit their final session and
    * their state is dropped (bounded state store). Callers must set
    * `withWatermark` on an `event_time` column upstream; per
    * micro-batch the group's events are sorted (bounded by trigger
    * size — late data beyond the watermark is already dropped), and
    * state per user stays O(1): only the open session's aggregates.
    */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[Event], gapNs: Long)(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = gapNs / 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, evts, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap: the open session is final
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(user, st.sessionId, st.n,
              st.startTs / 1000000L, st.lastTs / 1000000L, st.sumMicros / 1e6))
          } else {
            val sorted = evts.toArray
            java.util.Arrays.sort(sorted, Ordering.by((e: Event) => e.ts))
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L, 0L))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            for (e <- sorted) {
              if (st.n == 0L || e.ts - st.lastTs > gapNs) {
                if (st.n > 0L)
                  closed += SessionOut(user, st.sessionId, st.n,
                    st.startTs / 1000000L, st.lastTs / 1000000L, st.sumMicros / 1e6)
                st = SessionState(st.sessionId + 1, e.ts, e.ts, 1L, micros(e.value))
              } else {
                st = st.copy(lastTs = e.ts, n = st.n + 1,
                  sumMicros = st.sumMicros + micros(e.value))
              }
            }
            state.update(st)
            if (st.n > 0L)
              state.setTimeoutTimestamp(st.lastTs / 1000000L + gapMs)
            closed.iterator
          }
      }
  }

  // --- streaming decontamination (incremental twin of q64) ---

  /** Streaming decontamination — `Dedup.contamination`'s incremental
    * twin: TRAIN docs arrive as a stream and are checked in flight
    * against a STATIC eval-set gram index (the production shape:
    * filter a live crawl against fixed benchmark suites before it
    * lands).
    *
    * Scale/state story:
    *  - the eval side is small by definition (benchmarks) and
    *    BROADCAST; the stream-static join is STATELESS on the stream
    *    side — no join state accumulates, ever;
    *  - the only stateful operator is the windowed count of shared
    *    grams per (train, eval) pair, bounded by the event-time
    *    watermark the caller sets upstream;
    *  - `wordShingleHashes` emits DISTINCT 8-byte gram hashes per
    *    doc, so the join-row count per pair IS the intersection size
    *    and nothing but (id, window, gram-hash) triples shuffle.
    *
    * `docs` needs (train_id, text, event_time); `evalGrams` needs
    * (eval_id, gram) with grams distinct per eval doc. The SAME code
    * path serves a batch frame (verify/oracle, q79) and a
    * readStream/MemoryStream input (StreamsSpec parity + late-drop).
    */
  def decontaminateStream(
      docs: DataFrame,
      evalGrams: DataFrame,
      nGram: Int = 4,
      minShared: Int = 1): DataFrame = {
    val trainGrams = docs.select(col("train_id"), col("event_time"),
      explode(graft.functions.TextHashes.wordShingleHashes(col("text"), nGram))
        .as("gram"))
    trainGrams
      .join(broadcast(evalGrams), "gram")
      .groupBy(window(col("event_time"), "1 hour"),
        col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select("train_id", "eval_id", "n_shared")
  }

  // --- streaming funnel (incremental twin of q95) ---

  /** One event: `step` is the 0-based index of the matched funnel
    * step, or -1 for a non-step event. Non-step events are ignored
    * by the state update but still register the USER — a key whose
    * events never match any step must surface at stage 0 (callers
    * may pre-filter them only when stage-0 counts are not needed).
    */
  final case class FunnelEvent(user_id: Long, ts: Long, event_id: Long,
      step: Int)

  /** Per-user state: first qualifying ts per step, -1 = unset. */
  final case class FunnelState(firsts: Seq[Long])

  final case class FunnelOut(user_id: Long, stage: Int,
      first_ts: Option[Long], complete_ts: Option[Long])

  /** mapGroupsWithState funnel — `ops/Funnel.stages`' incremental
    * twin (the brief's `KeyValueGroupedDataset.mapGroupsWithState`
    * custom-state surface). State per user is |steps| longs — O(1),
    * no event buffering; each micro-batch sorts only ITS events for
    * the group (bounded by trigger size) and advances the
    * first-qualifying-step vector exactly as the batch operator's
    * cascading running-mins do, so under in-order delivery
    * (within-watermark order, as with the sessionizer) the final
    * snapshot EQUALS the batch answer — which is how the same DuckDB
    * oracle gates both.
    *
    * In BATCH mode (the unified Dataset API) every group arrives in
    * one call with empty state — the semantics collapse to the batch
    * operator's by construction, and that is the mode the driver's
    * correctness gate runs.
    */
  def funnelStateful(events: org.apache.spark.sql.Dataset[FunnelEvent],
      nSteps: Int, horizon: Option[Long])(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[FunnelOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelOut](GroupStateTimeout.NoTimeout) {
        case (user, evts, state: GroupState[FunnelState]) =>
          val firsts = state.getOption.map(_.firsts.toArray)
            .getOrElse(Array.fill(nSteps)(-1L))
          val sorted = evts.toArray
          java.util.Arrays.sort(sorted,
            Ordering.by((e: FunnelEvent) => (e.ts, e.event_id)))
          for (e <- sorted) {
            val i = e.step // -1 = non-step event: counts the user only
            if (i == 0) {
              if (firsts(0) < 0) firsts(0) = e.ts
            } else if (i > 0 && i < nSteps && firsts(i) < 0 &&
              firsts(i - 1) >= 0 &&
              horizon.forall(h => e.ts <= firsts(0) + h)) {
              firsts(i) = e.ts
            }
          }
          state.update(FunnelState(firsts.toSeq))
          val stage = firsts.lastIndexWhere(_ >= 0) + 1
          FunnelOut(user, stage,
            if (firsts(0) >= 0) Some(firsts(0)) else None,
            if (firsts(nSteps - 1) >= 0) Some(firsts(nSteps - 1)) else None)
      }
  }

  // --- streaming SCD1 upsert (incremental twin of ops.Writer merge) ---

  final case class UpsertIn(user_id: Long, ts: Long, event_id: Long,
      event_type: String)
  final case class UpsertState(ts: Long, eid: Long, et: String, n: Long)
  final case class UpsertOut(user_id: Long, last_event_id: Long,
      last_type: String, n_events: Long)

  /** mapGroupsWithState streaming UPSERT — the continuously-
    * maintained "latest row per key" view (streaming SCD1, the
    * incremental twin of `ops/Writer`'s merge disposition and the
    * materialization a CDC consumer keeps warm): per key the state
    * is O(1) — the current winner under the total order (ts,
    * event_id) plus a seen-count — and each micro-batch emits the
    * key's refreshed snapshot in UPDATE mode. Late rows are handled
    * by the ORDER, not arrival: an out-of-order event older than
    * the current winner updates only the count, exactly like the
    * batch `row_number() = 1` it mirrors — which is what makes the
    * final snapshot equal the batch answer and SQL-oracle-able.
    */
  def upsertStream(events: DataFrame): org.apache.spark.sql.Dataset[UpsertOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[UpsertIn]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UpsertState, UpsertOut](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[UpsertState]) =>
          var st = state.getOption
            .getOrElse(UpsertState(Long.MinValue, Long.MinValue, "", 0L))
          for (r <- rows) {
            val newer = r.ts > st.ts ||
              (r.ts == st.ts && r.event_id > st.eid)
            st =
              if (newer) UpsertState(r.ts, r.event_id, r.event_type,
                st.n + 1)
              else st.copy(n = st.n + 1)
          }
          state.update(st)
          UpsertOut(user, st.eid, st.et, st.n)
      }
  }
}
