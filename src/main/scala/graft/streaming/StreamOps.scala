package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.Tables

/** Structured-Streaming operators. Each streaming query has a batch
  * twin with identical semantics: the batch twin is the driver-facing
  * (oracle-checkable) query; StreamingSpec runs the real readStream
  * pipeline against the same parquet and asserts parity.
  */
object StreamOps {

  /** Batch twin of the streaming rollup: 10-minute tumbling windows
    * per event type. window() is epoch-aligned, so the oracle can
    * reconstruct window_start as floor(epoch/600)·600. */
  def rollup10m(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Shared events stream source: explicit schema (FileStreamSource
    * can't infer). Testdata generations have shipped ts as
    * TIMESTAMP(NANOS) (read as long via GraftSession's legacy conf,
    * ÷1000 to µs) or as plain TIMESTAMP(MICROS) — sniff the type from
    * the files' schema (`Tables.schemaOf`, inferred once per file
    * identity) and declare the matching stream schema so both
    * encodings produce identical timestamps.
    * Every streaming op derives from this one definition. */
  private def streamEvents(spark: SparkSession, eventsDir: String): DataFrame = {
    val fileTsType = Tables.schemaOf(spark, eventsDir)("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", fileTsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val raw = spark.readStream.schema(schema).parquet(eventsDir)
    fileTsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // UTC session (GraftSession) → NTZ cast is the identity on micros
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** q133's stream side: keyless interval matching AT INGEST — q127's
    * bucket discretization as a watermarked stream-stream join. Both
    * sides derive from the same event stream: arriving events keep
    * their single W-second bucket; arriving `error` events open a ±W
    * incident window exploded to its 3 covered buckets. The bucket
    * equality gives the stateful join its shuffle key (Spark cannot
    * partition a keyless time join), the ts range condition lets the
    * engine age join state out once the other side's watermark passes
    * ts+W, and the precise |Δt| ≤ W filter keeps semantics identical
    * to the batch rule (shared constants: FrameOps.intervalW/
    * intervalSec). Emits one (event_id, event_type, w_id) row per
    * match as soon as both sides have arrived; the per-event rollup
    * is the downstream consumer's aggregation (batch twin = q133
    * FrameOps.intervalMatches; parity asserted in MlStreamSpec). */
  def intervalMatchStream(spark: SparkSession, eventsDir: String): DataFrame = {
    import graft.operators.FrameOps
    val W = FrameOps.intervalW
    val e = streamEvents(spark, eventsDir)
      .select(col("event_id"), col("event_type"), col("ts"),
        FrameOps.intervalSec(col("ts")).as("sec"))
      .withColumn("bucket", floor(col("sec") / W))
      .withWatermark("ts", "2 hours")
    val w = streamEvents(spark, eventsDir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("w_id"), col("ts").as("w_ts"),
        FrameOps.intervalSec(col("ts")).as("w_sec"))
      .withColumn("bucket", explode(sequence(
        floor((col("w_sec") - W) / W), floor((col("w_sec") + W) / W))))
      .withWatermark("w_ts", "2 hours")
    e.join(w,
      e("bucket") === w("bucket") &&
        abs(col("sec") - col("w_sec")) <= W &&
        col("w_ts") >= col("ts") - expr(s"INTERVAL $W SECONDS") &&
        col("w_ts") <= col("ts") + expr(s"INTERVAL $W SECONDS"))
      .select(col("event_id"), col("event_type"), col("w_id"))
  }

  /** The real streaming pipeline: readStream over a DIRECTORY of
    * event parquet files (FileStreamSource requires a directory;
    * nanos read as long, converted in-stream), 30-min watermark,
    * same 10-min tumbling aggregation. Used by StreamingSpec via a
    * memory sink; in production the source/sink become Kafka/Delta
    * and the watermark bounds state size. */
  def rollupStream(spark: SparkSession, eventsDir: String): DataFrame = {
    streamEvents(spark, eventsDir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** q139's stream side: SLIDING-window aggregation at ingest — the
    * same native `window(ts, 30m, 10m)` generator as the batch rule
    * (each event expands map-side into its 3 windows; state is one
    * row per open window, closed by the watermark). Exact distinct
    * users is not a streaming-supported aggregate, so the stream twin
    * carries the count/sum half of q139 — parity with the batch rule
    * on exactly those columns is asserted in MlStreamSpec. */
  def hoppingStream(spark: SparkSession, eventsDir: String): DataFrame =
    streamEvents(spark, eventsDir)
      .withColumn("tss", date_trunc("second", col("ts")))
      .withWatermark("tss", "1 hour")
      .groupBy(window(col("tss"), "30 minutes", "10 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4)))
          .cast(DecimalType(18, 4)).cast("double").as("total_value"))
      .select(
        unix_timestamp(col("w.start")).as("w_start"),
        col("n_events"), col("total_value"))

  /** Streaming dedup: dropDuplicatesWithinWatermark on the event key —
    * the training-pipeline "ingest exactly once" building block. The
    * watermark bounds the dedup state store (keys older than the
    * watermark are evicted), which is what makes dedup feasible on an
    * unbounded stream. StreamingSpec asserts parity with batch
    * distinct on a replayed batch. */
  def dedupStream(spark: SparkSession, eventsDir: String): DataFrame = {
    streamEvents(spark, eventsDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Stream-stream join: clicks joined to the purchases that follow
    * within 30 minutes for the same user. The time-range condition +
    * watermarks bound the join state on both sides (Spark evicts
    * rows once they can no longer match) — the unbounded-stream
    * version of "attribute purchases to clicks". Spec asserts parity
    * with the identical batch join. */
  def clickPurchaseJoin(spark: SparkSession, eventsDir: String): DataFrame = {
    def src = streamEvents(spark, eventsDir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Stateless streaming transform feeding the FILE sink spec: the
    * writeStream→parquet path (exactly-once via the checkpointed file
    * sink log) is the production landing pattern for a training-data
    * ingest — StreamingSpec round-trips it and compares with the
    * batch filter. */
  def clickStream(spark: SparkSession, eventsDir: String): DataFrame =
    streamEvents(spark, eventsDir)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"))

  case class MilestoneState(cum: Double)
  case class Milestone(user_id: Long, milestone: Long, event_id: Long)

  /** Per-user milestone alerts via flatMapGroupsWithState — the
    * zero-or-more-outputs stateful path (mapGroupsWithState must emit
    * exactly one row per group per batch; alert emission needs 0..n).
    * State = one running double per user (O(1)); an alert row fires
    * each time the user's cumulative event value crosses a multiple
    * of `step`. Batch twin below; StreamingSpec asserts parity.
    *
    * Ordering contract: events are sorted by (sec, event_id) only
    * WITHIN each micro-batch; across batches the cumulative sum
    * follows arrival order. Exact parity with milestoneBatch
    * therefore requires the source to deliver each user's events in
    * event-time order across batches (trivially true for a single
    * staged file = one batch, which is what MlStreamSpec does). For
    * out-of-order sources the alert *set* converges but an alert may
    * attach to a different event_id than the batch twin's; for a
    * strict source use [[milestoneStreamOrdered]], which buys exact
    * any-order parity with watermarked buffering at O(lateness)
    * state per user instead of O(1). */
  def milestoneStream(spark: SparkSession, eventsDir: String,
      step: Double = 500.0): Dataset[Milestone] = {
    import spark.implicits._
    val events = streamEvents(spark, eventsDir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
        col("value"))
      .as[(Long, Long, Long, Double)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[MilestoneState, Milestone](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[MilestoneState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var cum = state.getOption.map(_.cum).getOrElse(0.0)
          val out = scala.collection.mutable.ArrayBuffer[Milestone]()
          sorted.foreach { case (_, eventId, _, v) =>
            val before = math.floor(cum / step).toLong
            cum += v
            val after = math.floor(cum / step).toLong
            if (after > before) out += Milestone(user, after, eventId)
          }
          state.update(MilestoneState(cum))
          out.iterator
      }
  }

  case class BotState(lastSec: Long, hour: Long, hourCount: Long,
    flagged: Boolean, hasLast: Boolean)
  case class BotAlert(user_id: Long, event_id: Long, rule: String)

  /** BOT GATE AT INGEST — q202's rules as a stateful stream: each
    * user carries O(1) state (last event second, current hour bucket
    * + its count, latch) and an alert row fires AT THE EVENT where a
    * rule first trips (sub-BotMinGapS gap → "gap"; the
    * BotHourlyBurst-th event inside one clock hour → "burst") — so a
    * router can cut an automated client off mid-stream instead of
    * discovering it in the nightly audit (the batch q202 stays the
    * full-log truth). Same ordering contract as [[milestoneStream]]:
    * within-batch (sec, event_id) sort, cross-batch arrival order —
    * with an in-order source the flagged-user set equals the batch
    * twin's `is_bot` set exactly (MlStreamSpec parity; gap existence
    * ⟺ batch min_gap < bound, hour-count latch ⟺ batch
    * max_hour_events ≥ bound, both in event-time order). */
  def botFlagStream(spark: SparkSession,
      eventsDir: String): Dataset[BotAlert] = {
    import spark.implicits._
    import graft.operators.FrameOps.{BotHourlyBurst, BotMinGapS}
    val events = streamEvents(spark, eventsDir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .as[(Long, Long, Long)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[BotState, BotAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[BotState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var s = state.getOption.getOrElse(BotState(0L, -1L, 0L,
            flagged = false, hasLast = false))
          val out = scala.collection.mutable.ArrayBuffer[BotAlert]()
          sorted.foreach { case (_, eventId, sec) =>
            val gapTrip = s.hasLast && sec - s.lastSec < BotMinGapS
            val h = sec / 3600 // == the batch twin's `tsec div 3600`
            val hc = if (h == s.hour) s.hourCount + 1 else 1L
            val burstTrip = hc >= BotHourlyBurst
            if (!s.flagged && (gapTrip || burstTrip))
              out += BotAlert(user, eventId, if (gapTrip) "gap" else "burst")
            s = BotState(sec, h, hc, s.flagged || gapTrip || burstTrip,
              hasLast = true)
          }
          state.update(s)
          out.iterator
      }
  }

  case class OrderedMilestoneState(cum: Double, buf: List[(Long, Long, Double)])

  /** EVENT-TIME-CORRECT milestone alerts: the strict-source variant
    * of [[milestoneStream]]. Arrivals are BUFFERED in state until the
    * watermark passes their event time, then replayed in (sec,
    * event_id) order against the running sum — so the alerts equal
    * [[milestoneBatch]] for ANY arrival order with lateness ≤ the
    * watermark delay (state is O(events within the lateness window)
    * per user, vs the in-order variant's O(1)). The tail flushes via
    * event-time timeouts: whenever events remain buffered the state
    * schedules a timeout at their earliest event time, and Spark's
    * no-data micro-batch fires it once the watermark advances past.
    * Arrivals later than the watermark delay are DROPPED before they
    * reach the state function (FlatMapGroupsWithStateExec applies the
    * engine's late-data filter to the watermarked input) — standard
    * watermark semantics; parity with [[milestoneBatch]] therefore
    * holds only for lateness ≤ `delay`. */
  def milestoneStreamOrdered(spark: SparkSession, eventsDir: String,
      step: Double = 500.0, delay: String = "1 minute"): Dataset[Milestone] = {
    import spark.implicits._
    val events = streamEvents(spark, eventsDir)
      .withColumn("tss", date_trunc("second", col("ts")))
      .withWatermark("tss", delay)
      .select(col("user_id"), col("event_id"), col("tss"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, Double)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[OrderedMilestoneState, Milestone](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[OrderedMilestoneState]) =>
          // one code path for data batches and timeout firings: merge
          // arrivals into the buffer, emit everything the watermark
          // has sealed, hold the rest with a timeout at its min ts
          val prev = state.getOption.getOrElse(OrderedMilestoneState(0.0, Nil))
          val wmMs = state.getCurrentWatermarkMs()
          val all = prev.buf ++
            rows.map(r => (r._3.getTime / 1000, r._2, r._4))
          val (ready, hold) = all.partition(_._1 * 1000 <= wmMs)
          var cum = prev.cum
          val out = scala.collection.mutable.ArrayBuffer[Milestone]()
          ready.sortBy(e => (e._1, e._2)).foreach { case (_, eventId, v) =>
            val before = math.floor(cum / step).toLong
            cum += v
            val after = math.floor(cum / step).toLong
            if (after > before) out += Milestone(user, after, eventId)
          }
          state.update(OrderedMilestoneState(cum, hold))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(hold.map(_._1).min * 1000)
          out.iterator
      }
  }

  /** Batch twin of milestoneStream: running per-user sum in
    * (sec, event_id) order, alert where the threshold multiple
    * steps up. */
  def milestoneBatch(spark: SparkSession, dir: String,
      step: Double = 500.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val running = order.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
        col("value"))
      .withColumn("cum", sum(col("value")).over(running))
      // lag(cum) is the stream state's exact previous double —
      // (cum − value) would re-round and could flip a floor at a
      // threshold boundary
      .withColumn("milestone", floor((col("cum") / step)))
      .withColumn("prev_milestone",
        floor((coalesce(lag(col("cum"), 1).over(order), lit(0.0)) / step)))
      .filter(col("milestone") > col("prev_milestone"))
      .select(col("user_id"), col("milestone"), col("event_id"))
  }

  case class SessionState(lastSec: Long, nSessions: Long, nEvents: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Stateful streaming sessionization via mapGroupsWithState — the
    * custom-state path (KeyValueGroupedDataset) for semantics window
    * functions can't express incrementally. Same 30-minute gap rule
    * as the batch FrameOps.sessionize; StreamingSpec asserts parity.
    * State per user is O(1) (last timestamp + counters), so the state
    * store stays tiny no matter the stream length. */
  def sessionizeStream(spark: SparkSession, eventsDir: String): Dataset[UserSessions] = {
    import spark.implicits._
    val events = streamEvents(spark, eventsDir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .as[(Long, Long, Long)]
    events.groupByKey(_._1)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { case (_, _, sec) =>
            val newSession = s.lastSec == Long.MinValue || sec - s.lastSec > 1800
            s = SessionState(sec,
              s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1)
          }
          state.update(s)
          UserSessions(user, s.nSessions, s.nEvents)
      }
  }

  case class RecencyState(n: Long, obs: List[(Long, Long, Double)])
  case class UserRecency(user_id: Long, n_events: Long, decay_score: Double)

  /** q136's ONLINE twin — the feature-store serving pattern: the
    * per-user decayed-recency score maintained incrementally at
    * ingest instead of recomputed from the log. State per user is
    * O(DecayK): total count + the trailing K (ts_micros, event_id,
    * value) observations newest-first; each micro-batch merges its
    * arrivals, truncates to K, and emits the user's refreshed score
    * (update mode — the downstream feature store upserts it). The
    * emitted score crosses the same round(6) bridge as the batch
    * rule and its oracle (bounded-term-count argument in
    * FrameOps.decayedRecency's Scaladoc), so stream == batch
    * user-for-user — asserted in MlStreamSpec. */
  def decayedRecencyStream(spark: SparkSession,
      eventsDir: String): Dataset[UserRecency] = {
    import spark.implicits._
    val K = graft.operators.FrameOps.DecayK
    streamEvents(spark, eventsDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[RecencyState, UserRecency](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[RecencyState]) =>
          val prev = state.getOption.getOrElse(RecencyState(0L, Nil))
          val arrived = rows.toSeq
          val merged = (prev.obs ++ arrived.map(r => (r._3, r._2, r._4)))
            .sortBy(t => (-t._1, -t._2)).take(K)
          val s = RecencyState(prev.n + arrived.size, merged)
          state.update(s)
          val score = merged.iterator.zipWithIndex
            .map { case ((_, _, v), i) => 0.1 * math.pow(0.9, i) * v }.sum
          UserRecency(user, s.n,
            BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
  }

  /** q163's INGEST twin: arriving events scored against the STORE's
    * robust thresholds (q143/q163's shared med/mad rule) — the
    * batch-artifact→stream pattern of contamFlagStream/ccnetNllStream:
    * the |types|-bounded threshold table derives once from the static
    * store and broadcasts against the stream (stream-static join,
    * stateless), the flag itself is row-local IEEE math identical to
    * the batch rule. Parity spec row-for-row in MlStreamSpec. */
  def anomalyFlagStream(spark: SparkSession, eventsDir: String,
      storeDir: String): DataFrame =
    streamEvents(spark, eventsDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(graft.operators.FrameOps.madThresholds(spark, storeDir)),
        Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        (abs(col("value") - col("med")) > lit(3.0d) * col("mad"))
          .as("is_outlier"))

  /** q170's INGEST twin: arriving events pseudonymized row-local
    * (FrameOps.pidCol — the SAME shared rule as the batch scrub) and
    * gated against the STORE's published quasi-group table
    * (stream-static broadcast join of the |types|·|days|-bounded
    * artifact, stateless). An arriving event whose (type, day) group
    * the store has never seen CANNOT prove k-anonymity, so it is
    * conservatively suppressed (left join, null group → released
    * false) — privacy fails CLOSED at ingest. Parity spec
    * row-for-row vs the batch scrub on a replayed file. */
  /** SUPPRESSION-LIST-AT-INGEST — the forward half of q174's
    * erasure: deleting a doc from the store is not enough when the
    * same content can RE-ENTER on the next crawl, so arriving docs
    * are gated against the forget rule (in production: a bounded
    * erasure-request key list, broadcast stream-static anti-join)
    * before they reach any downstream stage. Stateless, row-local —
    * a forgotten key is dropped with per-row latency and can never
    * be observed by the pipeline again. Parity spec in
    * SourcesSkewSpec: replayed file == batch filter doc-for-doc,
    * and every forgotten id is absent. */
  def suppressionStream(spark: SparkSession, docsDir: String): DataFrame =
    suppressed(streamDocs(spark, docsDir))

  /** The shared suppression projection (batch == stream, one def). */
  def suppressed(docs: DataFrame): DataFrame =
    docs.filter(!(col("doc_id") % graft.sources.Sources.ForgetMod ===
      graft.sources.Sources.ForgetRem))

  def pseudonymizeStream(spark: SparkSession, eventsDir: String,
      storeDir: String): DataFrame =
    streamEvents(spark, eventsDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .join(broadcast(graft.operators.FrameOps.anonGroupSizes(spark, storeDir)),
        Seq("event_type", "day"), "left")
      .select(col("event_id"), graft.operators.FrameOps.pidCol.as("pid"),
        col("event_type"), col("day"),
        coalesce(col("n_users_in_group"), lit(0L)).as("n_users_in_group"),
        (coalesce(col("n_users_in_group"), lit(0L)) >= graft.operators.FrameOps.AnonK)
          .as("released"))

  /** THE row-local event-validation rule (q161 batch + its ingest
    * twin — the dead-letter-queue split in front of every pipeline):
    * reason strings are null-skipping concat_ws of CASE markers —
    * pure codegen, no lambda, so the identical projection runs on
    * the batch scan AND the stream. Check order is fixed → the
    * reasons string is deterministic. */
  private[graft] def quarantineProjection: Seq[org.apache.spark.sql.Column] = {
    val reasons = concat_ws(",",
      when(col("value").isNull, lit("value_null")),
      when(col("value") > 400.0d, lit("value_gt400")),
      when(!col("event_type").isin("click", "signup", "error", "view", "purchase"),
        lit("type_unknown")))
    Seq(col("event_id"),
      when(reasons === "", lit("valid")).otherwise(lit("quarantined")).as("verdict"),
      when(reasons === "", lit("ok")).otherwise(reasons).as("reasons"))
  }

  /** q161: per-event VALIDATION VERDICTS (the quarantine/dead-letter
    * classification q160's suite only counts). Row-local — one
    * column-pruned scan, no shuffle before the presentation sort. */
  def quarantineBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(quarantineProjection: _*)
      .orderBy(col("event_id"))

  /** q161's INGEST twin: the same projection on the event stream —
    * stateless, so valid rows flow to the pipeline and quarantined
    * rows to the dead-letter sink with per-row latency. Parity spec
    * in MlStreamSpec (row-for-row == batch on a replayed file). */
  def quarantineStream(spark: SparkSession, eventsDir: String): DataFrame =
    streamEvents(spark, eventsDir).select(quarantineProjection: _*)

  case class MgState(counters: Map[String, Long])
  case class MgEntry(shard: Int, g: String, est: Long)

  /** HEAVY-HITTERS-AT-INGEST — q97's Misra–Gries gram summary
    * maintained incrementally on the document stream. The gram space
    * is hash-SHARDED (xxhash64 mod `shards`): each shard's state is
    * its own ≤ k-counter MG summary over a DISJOINT gram subspace,
    * so per-key state is bounded forever, shards parallelize the
    * stateful work, and the global summary is the plain union of
    * shard summaries (disjoint supports need no counter merge —
    * the mergeable-summaries property that makes MG scale, Agarwal
    * et al. 2012). Every emitted estimate keeps q97's lower-bound
    * invariant (est ≤ true count: decrements only subtract); with k
    * ≥ the shard's distinct-gram count no decrement ever fires and
    * the stream reproduces exact counts — both asserted in
    * MlStreamSpec against a replayed batch. Emission is the shard's
    * refreshed summary per micro-batch (update mode — downstream
    * keeps the latest row per (shard, gram)). */
  def heavyHitterStream(spark: SparkSession, docsDir: String,
      mgK: Int = 32, shards: Int = 8): Dataset[MgEntry] = {
    import spark.implicits._
    streamDocs(spark, docsDir)
      .select(explode(graft.plans.WordNGrams(
        graft.functions.TextFns.tokens(col("text")), 3, distinct = false)).as("g"))
      .select(col("g"), pmod(xxhash64(col("g")), lit(shards.toLong)).cast("int").as("shard"))
      .as[(String, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[MgState, MgEntry](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (shard, rows, state: GroupState[MgState]) =>
          val counters = scala.collection.mutable.HashMap.empty[String, Long]
          state.getOption.foreach(_.counters.foreach { case (k, v) => counters(k) = v })
          rows.foreach { case (g, _) =>
            if (counters.contains(g) || counters.size < mgK) {
              counters(g) = counters.getOrElse(g, 0L) + 1L
            } else {
              val dead = scala.collection.mutable.ArrayBuffer.empty[String]
              counters.keysIterator.foreach { k =>
                val c = counters(k) - 1L
                if (c == 0L) dead += k else counters(k) = c
              }
              dead.foreach(counters.remove)
            }
          }
          state.update(MgState(counters.toMap))
          counters.iterator.map { case (g, c) => MgEntry(shard, g, c) }
      }
  }

  case class BudgetState(cum: Long)
  case class BudgetDecision(doc_id: Long, source: String, tok: Long,
      cum_tok: Long, admitted: Boolean)

  /** q151's INGEST twin — per-domain quota enforcement at arrival
    * (the crawl-frontier budget gate): state per source is ONE long
    * (the running admitted-token total, O(1) forever); each arriving
    * doc is charged and admitted iff the source's cumulative total
    * stays within [[graft.operators.CorpusOps.BudgetTokens]], and
    * the decision row is emitted immediately (append mode). Within a
    * micro-batch, arrivals are processed in the batch rule's
    * priority order (longest first, doc_id tie) — so on a priority-
    * ordered replay the stream's decisions equal q151's doc for doc
    * (MlStreamSpec); under arbitrary cross-batch arrival order the
    * QUOTA invariant (admitted tokens ≤ budget per source) still
    * holds, which is the production guarantee a frontier needs. */
  def tokenBudgetStream(spark: SparkSession,
      docsDir: String): Dataset[BudgetDecision] = {
    import spark.implicits._
    val budget = graft.operators.CorpusOps.BudgetTokens
    streamDocs(spark, docsDir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        graft.functions.TextFns.tokenCount(col("text")).as("tok"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[BudgetState, BudgetDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (src, rows, state: GroupState[BudgetState]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (-r._3, r._1)).map {
            case (id, _, _, tok) =>
              cum += tok
              BudgetDecision(id, src, tok, cum, cum <= budget)
          }
          state.update(BudgetState(cum))
          out.iterator
      }
  }

  /** q171's INGEST twin: the release manifest maintained as a
    * RUNNING streaming aggregate — per-source volumes and the
    * order-invariant content checksum stay current as documents
    * arrive, so a drop can be cut at any time without a full rescan
    * (the operational reason q171's checksum is an additive SUM:
    * streaming partial aggregation is exactly shard-wise addition).
    * State is |sources|-bounded (three counters per source — the
    * decimal fp sum, doc and token counts); fp is the row-local
    * codegen RollingHash; n_distinct_fp is deliberately NOT
    * maintained here (exact distinct needs unbounded state — the
    * batch manifest owns it). Complete-mode parity spec vs q171's
    * leaf rows. */
  def manifestStream(spark: SparkSession, docsDir: String): DataFrame =
    streamDocs(spark, docsDir)
      .select(col("source"),
        graft.plans.RollingHash(col("text")).as("fp"),
        graft.functions.TextFns.tokenCount(col("text")).as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        (sum(col("fp").cast("decimal(38,0)")) %
          lit(graft.operators.CorpusOps.ChecksumMod))
          .cast("long").as("content_checksum"))

  /** q182's INGEST twin: the shared per-doc PII projection
    * (CorpusOps.piiProjection — ONE def, batch == stream) on the
    * document stream, so arriving docs are redacted before any
    * downstream stage can observe raw PII (the fail-closed placement
    * the scrub stage needs: a doc that reaches the corpus unscrubbed
    * is a compliance incident, not a quality bug). Stateless and
    * row-local. Parity spec in MlStreamSpec: replayed file == batch
    * doc-for-doc. */
  def piiScrubStream(spark: SparkSession, docsDir: String): DataFrame =
    graft.operators.CorpusOps.piiProjection(streamDocs(spark, docsDir))

  /** Batch side of the q182 parity contract (same shared def). */
  def piiScrubBatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.piiProjection(Tables.documents(spark, dir))

  /** q190's INGEST twin: arriving vectors gated against the STORE's
    * frozen centroid artifact (the shared embedAdmitProjection — ONE
    * def, batch == stream). The artifact is a |labels|-row static
    * frame derived from `staticDir` once and stream-static-joined, so
    * the per-vector work is row-local d² + one bounded broadcast —
    * fail-closed (unknown label ⇒ rejected) before any arriving
    * vector can reach an index or a training shard. Parity spec in
    * MlStreamSpec: replayed file == the batch projection
    * vector-for-vector. */
  def embedAdmitStream(spark: SparkSession, embDir: String,
      staticDir: String): DataFrame =
    graft.operators.SimilaritySearch.embedAdmitProjection(
      streamEmbeddings(spark, embDir),
      graft.operators.SimilaritySearch.embedStoreStats(spark, staticDir))

  /** Batch side of the q190 parity contract (same shared def, same
    * store artifact, applied to the FULL file the stream replays). */
  def embedAdmitBatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SimilaritySearch.embedAdmitProjection(
      Tables.embeddings(spark, dir),
      graft.operators.SimilaritySearch.embedStoreStats(spark, dir))

  /** q218's INGEST twin: arriving vectors scored against the FROZEN
    * eval-probe artifact (derived once from `staticDir` — the
    * bounded-artifact discipline) inside the shared row-local
    * codegen kernel; a vector cosine-reaching any probe is flagged
    * for quarantine BEFORE it can poison a future benchmark run (the
    * vector-side sibling of q83's contamination flag). Stateless,
    * row-local, per-row latency; parity spec in MlStreamSpec:
    * replayed file == the batch projection vector-for-vector. */
  def embedLeakStream(spark: SparkSession, embDir: String,
      staticDir: String): DataFrame =
    graft.operators.SimilaritySearch.embedLeakProjection(
      streamEmbeddings(spark, embDir),
      graft.operators.SimilaritySearch.evalProbes(spark, staticDir))

  /** Batch side of the q218 parity contract (same shared def, same
    * probe artifact, applied to the FULL file the stream replays). */
  def embedLeakBatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SimilaritySearch.embedLeakProjection(
      Tables.embeddings(spark, dir),
      graft.operators.SimilaritySearch.evalProbes(spark, dir))

  case class BucketState(rep: Long)
  case class DupCandidate(band: Int, key: Long, rep_doc: Long, doc_id: Long)

  /** Shared documents stream source (FileStreamSource needs an
    * explicit schema). */
  private def streamDocs(spark: SparkSession, docsDir: String): DataFrame =
    spark.readStream.schema(StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
      .parquet(docsDir)

  /** STREAMING MinHash near-dup candidate detection (SURVEY §7
    * round-3 item): documents arrive on a stream; each doc's 16 LSH
    * band keys are computed ROW-LOCALLY (Dedup.sigCol — the same
    * hash family as the batch q32 operator, asserted identical in
    * DedupSpec), and a flatMapGroupsWithState keyed by (band, key)
    * holds ONE representative doc id per seen bucket. A doc landing
    * in a non-empty bucket emits a (rep_doc, doc_id) candidate pair
    * the moment it arrives — the streaming twin of q32's candidate
    * generation, for dedup-at-ingest instead of dedup-as-batch-scan.
    *
    * State is one long per OCCUPIED band bucket, evicted after 1 h of
    * bucket inactivity (ProcessingTimeTimeout — documents carry no
    * event time): a dup arriving after its bucket expired is missed,
    * the standard bounded-state streaming-dedup tradeoff (same as
    * dropDuplicatesWithinWatermark). Exact verification of candidate
    * pairs stays downstream (the batch verify join), as in q32.
    *
    * Harness note: ProcessingTimeTimeout makes the engine run
    * continuous empty timeout-check batches, so
    * `processAllAvailable()` does NOT return on a live query — wait
    * on sink contents (as MlStreamSpec does) or stop by deadline. */
  def minhashCandidateStream(spark: SparkSession,
      docsDir: String): Dataset[DupCandidate] = {
    import spark.implicits._
    import graft.operators.Dedup
    bucketCandidates(streamDocs(spark, docsDir)
      .select(col("doc_id"),
        explode(Dedup.bandKeysCol(Dedup.sigCol(Dedup.shinglesCol))).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("doc_id"))
      .as[(Int, Long, Long)])
  }

  /** THE bounded-state bucket-candidate machine, shared by the minhash
    * (q71) and embedding-LSH (q101) ingest streams: keyed by (table/
    * band, bucket key), holds ONE representative id per occupied
    * bucket, emits a (rep, id) candidate the moment a later arrival
    * lands in a seen bucket; 1 h inactivity eviction bounds state.
    *
    * The state keeps the RUNNING MIN id as representative and every
    * emitted pair is normalized (rep = min side), so for id-ordered
    * arrival the pair set equals the batch twin's exactly, and for
    * ARBITRARY arrival order the pairs still span the same buckets —
    * the candidate graph's connected components (what cluster
    * formation consumes) match batch regardless of order; only the
    * pair-for-pair identity needs the in-order assumption. */
  private def bucketCandidates(
      keyed: Dataset[(Int, Long, Long)]): Dataset[DupCandidate] = {
    import keyed.sparkSession.implicits._
    keyed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[BucketState, DupCandidate](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case ((band, key), rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // sort within the batch so the surviving representative is
            // the min id (matches the batch twin's deterministic rep)
            val sorted = rows.map(_._3).toSeq.sorted
            var rep = state.getOption.map(_.rep).getOrElse(-1L)
            val out = scala.collection.mutable.ArrayBuffer[DupCandidate]()
            sorted.foreach { id =>
              if (rep < 0) rep = id
              else if (id != rep) {
                // normalized pair; a smaller late arrival takes over
                // as representative so rep is always min(seen ids)
                out += DupCandidate(band, key, math.min(rep, id), math.max(rep, id))
                rep = math.min(rep, id)
              }
            }
            state.update(BucketState(rep))
            state.setTimeoutDuration("1 hour")
            out.iterator
          }
      }
  }

  /** SEMANTIC dedup-at-ingest (q101, the stream side of q100):
    * arriving embeddings get their 12 hyperplane-LSH bucket codes
    * ROW-LOCALLY (the PlaneCodes codegen kernel — the same plane
    * table as batch q34/q100, so stream and batch agree bucket for
    * bucket), then the shared bounded-state bucket machine emits
    * (rep_vec, vec_id) candidates on arrival. Exact cosine verify
    * stays downstream, as in the batch operator. */
  def semanticCandidateStream(spark: SparkSession,
      embDir: String): Dataset[DupCandidate] = {
    import spark.implicits._
    import graft.operators.Dedup
    bucketCandidates(streamEmbeddings(spark, embDir)
      .select(posexplode(Dedup.embPlaneCodes).as(Seq("t", "bucket")), col("vec_id"))
      .select(col("t"), col("bucket").cast("long").as("bucket"), col("vec_id"))
      .as[(Int, Long, Long)])
  }

  /** Batch twin of [[semanticCandidateStream]] (registered as q101):
    * same row-local plane codes, bucket representative = min vec id,
    * one candidate row per (bucket, later vec). Deterministic given
    * the seeded plane table; stream == batch parity in MlStreamSpec. */
  def semanticCandidateBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    graft.Tables.embeddings(spark, dir)
      .select(posexplode(Dedup.embPlaneCodes).as(Seq("t", "bucket")), col("vec_id"))
      .groupBy(col("t"), col("bucket"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("t"), col("bucket"),
        element_at(col("ids"), 1).as("rep_vec"),
        explode(slice(col("ids"), lit(2), size(col("ids")) - 1)).as("vec_id"))
      .orderBy(col("t"), col("bucket"), col("vec_id"))
  }

  private[graft] def streamEmbeddings(spark: SparkSession, embDir: String): DataFrame =
    spark.readStream.schema(StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
      .parquet(embDir)

  /** MULTIMODAL dedup-at-ingest (q103, the stream side of q87):
    * arriving assets are frame-sampled and fingerprinted at the
    * pluggable codec boundary INSIDE their scan partition (frame
    * bytes never shuffle, exactly as in the batch operator), and the
    * shared bucket machine keyed by fingerprint emits
    * (rep_asset, asset) the moment a second asset shows a seen
    * frame. The third ingest-dedup axis next to lexical (q71) and
    * semantic (q101). */
  def frameCandidateStream(spark: SparkSession, docsDir: String,
      codec: graft.operators.Multimodal.AssetCodec =
        graft.operators.Multimodal.DeterministicFakeCodec): Dataset[DupCandidate] = {
    import spark.implicits._
    bucketCandidates(streamDocs(spark, docsDir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val c = codec
        it.flatMap { case (id, payload) =>
          // distinct ROW-LOCALLY: an asset repeating a frame must not
          // emit duplicate candidates (the batch twin's collect_set
          // dedups the same way — parity by multiplicity, not just set)
          c.sampleFrames(payload, 4, 32).map { case (_, off, nb, _) =>
            c.frameFingerprint(payload, off.toInt, nb.toInt)
          }.distinct.map(fp => (0, fp, id))
        }
      })
  }

  /** Batch twin of [[frameCandidateStream]] (registered as q103):
    * distinct (fingerprint, asset) postings, bucket rep = min asset
    * id, one candidate per (fingerprint, later asset). */
  def frameCandidateBatch(spark: SparkSession, dir: String,
      codec: graft.operators.Multimodal.AssetCodec =
        graft.operators.Multimodal.DeterministicFakeCodec): DataFrame = {
    import spark.implicits._
    val frames = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val c = codec
        it.flatMap { case (id, payload) =>
          c.sampleFrames(payload, 4, 32).map { case (_, off, nb, _) =>
            c.frameFingerprint(payload, off.toInt, nb.toInt)
          }.distinct.map(fp => (fp, id))
        }
      }.toDF("fhash", "doc_id")
    frames
      .groupBy(col("fhash"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("fhash"),
        element_at(col("ids"), 1).as("rep_asset"),
        explode(slice(col("ids"), lit(2), size(col("ids")) - 1)).as("doc_id"))
      .orderBy(col("fhash"), col("doc_id"))
  }

  /** VERIFIED dedup-at-ingest: the candidate stream joined (a
    * stream-STATIC join — stateless, no watermark needed) against
    * the document store's shingle sets on both pair sides, exact
    * Jaccard computed row-local, sub-threshold candidates dropped.
    * This closes the ingest loop: band-bucket candidates the moment
    * a doc arrives, exact verification against the store, only true
    * near-dups emitted. A pair colliding in several bands emits per
    * band (stateless stream — dedup of verified pairs is the
    * downstream sink's distinct, as in the batch twin). At 100 TB
    * the static side is the corpus: Spark re-reads only the joined
    * keys' data per micro-batch and the join carries ids+shingles,
    * never raw text. */
  def minhashVerifiedStream(spark: SparkSession, docsDir: String,
      storeDir: String, threshold: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    val store = Tables.documents(spark, storeDir)
      .select(col("doc_id"), Dedup.shinglesCol.as("sh"))
    minhashCandidateStream(spark, docsDir).toDF()
      .join(store.select(col("doc_id").as("rep_doc"), col("sh").as("sha")), Seq("rep_doc"))
      .join(store.select(col("doc_id"), col("sh").as("shb")), Seq("doc_id"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("rep_doc"), col("doc_id"), col("jaccard"))
  }

  /** Batch twin of [[minhashVerifiedStream]] (registered as q75):
    * candidates from the batch twin, same exact-verify joins, distinct
    * verified pairs. */
  def minhashVerifiedBatch(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    val store = Tables.documents(spark, dir)
      .select(col("doc_id"), Dedup.shinglesCol.as("sh"))
    minhashCandidateBatch(spark, dir)
      .join(store.select(col("doc_id").as("rep_doc"), col("sh").as("sha")), Seq("rep_doc"))
      .join(store.select(col("doc_id"), col("sh").as("shb")), Seq("doc_id"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("rep_doc"), col("doc_id"), col("jaccard"))
      .distinct()
      .orderBy(col("rep_doc"), col("doc_id"))
  }

  /** STREAMING benchmark-contamination flagging (decontamination-at-
    * ingest, the q76 check moved to the ingest boundary): incoming
    * docs' word 5-grams are computed ROW-LOCALLY (codegen WordNGrams,
    * distinct per doc) and joined stream-STATIC against the bounded
    * eval-suite gram set (broadcast — it cannot grow with the
    * corpus). Stateless: each eval-gram hit emits one (doc_id,
    * source, g) row the moment the doc arrives; per-doc rollups are
    * the downstream consumer's aggregation (same division of labor
    * as [[minhashCandidateStream]] → verify). */
  def contamHitStream(spark: SparkSession, docsDir: String,
      storeDir: String): DataFrame = {
    import graft.operators.CorpusOps
    CorpusOps.docGrams(streamDocs(spark, docsDir))
      .join(broadcast(CorpusOps.evalGrams(spark, storeDir)), Seq("g"))
      .select(col("doc_id"), col("source"), col("g"))
  }

  /** Batch twin of [[contamHitStream]] rolled up per doc (registered
    * as q83): the contaminated-doc list with hit counts — the
    * doc-level view of q76's per-source report. Oracle-gated;
    * stream == batch parity asserted in MlStreamSpec. */
  def contamFlagBatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.contamHits(spark, dir).orderBy(col("doc_id"))

  /** Perplexity-scoring-at-ingest (q96's stream side): each arriving
    * doc's bigrams are scored under the STORE's LM — c2/c1 are
    * bounded broadcast model artifacts, so the stream-static left
    * joins are stateless — and one (doc_id, source, nll) row is
    * emitted per gram the moment the doc arrives. The per-doc mean
    * and the tercile verdict are the downstream consumer's rollup
    * (same division of labor as [[contamHitStream]] → q83); parity
    * of the rolled-up stream with q96's batch scoring is asserted in
    * MlStreamSpec. The model vocab size rides as a literal: it is a
    * single bounded scalar of the published model artifact, not a
    * per-batch recomputation. */
  def ccnetNllStream(spark: SparkSession, docsDir: String,
      storeDir: String): DataFrame = {
    import graft.operators.CorpusOps
    import graft.functions.TextFns
    import graft.plans.WordNGrams
    val toks = TextFns.tokens(col("text"))
    val store = graft.Tables.documents(spark, storeDir)
      .filter(!CorpusOps.batchPredicate())
    val (c2, c1, vocab) = CorpusOps.bigramModel(store)
    val v = vocab.head().getLong(0)
    streamDocs(spark, docsDir)
      .select(col("doc_id"), col("source"),
        explode(WordNGrams(toks, 2, distinct = false)).as("g"))
      .join(broadcast(c2), Seq("g"), "left")
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(broadcast(c1), Seq("w1"), "left")
      .select(col("doc_id"), col("source"),
        round(-log2((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + lit(v))), 6)
          .cast("decimal(18,6)").as("nll"))
  }

  /** Span-scrub-at-ingest (q123's stream side): each arriving doc's
    * gram starts are matched against the STORE's gram set via a
    * stateless stream-static inner join (the static side is
    * re-planned per micro-batch, exactly how a published dedup
    * artifact is consumed), emitting (doc_id, pos) cover-START
    * events the moment the doc arrives. The row-local rewrite
    * (expand + cut, CorpusOps.spanRewrite) is the downstream
    * consumer's rollup, same division of labor as
    * [[ccnetNllStream]]. Parity of the rolled-up starts with q123's
    * batch cover set is asserted in MlStreamSpec. */
  def spanCoverStream(spark: SparkSession, docsDir: String,
      storeDir: String): DataFrame = {
    import graft.operators.CorpusOps
    import graft.plans.WordNGrams
    val toks = graft.functions.TextFns.tokens(col("text"))
    val storeGrams = graft.Tables.documents(spark, storeDir)
      .filter(!CorpusOps.batchPredicate())
      .select(explode(WordNGrams(toks, CorpusOps.SpanK)).as("g")).distinct()
    streamDocs(spark, docsDir)
      .filter(CorpusOps.batchPredicate())
      .select(col("doc_id"),
        posexplode(WordNGrams(toks, CorpusOps.SpanK, distinct = false))
          .as(Seq("pos", "g")))
      .join(storeGrams, Seq("g"))
      .select(col("doc_id"), col("pos"))
  }

  /** Chunk-at-ingest: q175's CDC segmentation is ONE row-local
    * codegen kernel, so the SAME shared chunk-frame def runs
    * unchanged on the document stream — each arriving doc emits its
    * content-defined chunk fingerprints with per-row latency and no
    * state; downstream incremental dedup (q176) consumes them
    * against the store's fp set. Stream == batch chunk-for-chunk
    * (MlStreamSpec). */
  def cdcChunkStream(spark: SparkSession, docsDir: String): DataFrame =
    graft.operators.CorpusOps.cdcChunkFrame(streamDocs(spark, docsDir))

  /** Quality-filter-at-ingest: q72's Gopher signals and rules are
    * pure row-local array math, so the SAME shared columns
    * (TextOps.gopherSignalCols/gopherRuleCols) run unchanged on a
    * stream — each arriving doc gets its pass/fail verdict with no
    * state at all. Stream == batch parity asserted in MlStreamSpec
    * (batch side = the identical projection over the static table,
    * i.e. exactly the per-doc frame q72 aggregates). */
  def qualityFlagStream(spark: SparkSession, docsDir: String): DataFrame =
    qualityFlags(streamDocs(spark, docsDir))

  /** Repetition-battery-at-ingest (q228's twin): the whole Gopher
    * §A1.1 battery is ONE row-local codegen kernel + flag columns
    * (TextOps.repFlags — no explode/join/window), so it runs
    * unchanged on an unbounded frame: every arriving doc is stamped
    * with its per-rule fail flags and the pass conjunction before it
    * reaches a shard. Stream == batch doc-for-doc (TextOpsSpec
    * parity). */
  def repFlagStream(spark: SparkSession, docsDir: String): DataFrame =
    graft.operators.TextOps.repFlags(streamDocs(spark, docsDir))

  /** Language-ID at ingest (q194's twin): the row-local argmax
    * projection (TextOps.langPredCol — no explode/join/window, so it
    * runs unchanged on an unbounded frame) stamps every arriving doc
    * with its predicted language and a consistency flag against the
    * declared `lang`; a router can fork mismatches to review before
    * they poison lang-keyed sampling. Stream == batch doc-for-doc
    * (TextOpsSpec parity). */
  def langFlagStream(spark: SparkSession, docsDir: String): DataFrame =
    langFlags(streamDocs(spark, docsDir))

  /** The shared per-doc language-verdict projection. */
  def langFlags(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("lang"),
        graft.operators.TextOps.langPredCol.as("pred"))
      .withColumn("lang_ok", col("pred") === col("lang"))

  /** The shared per-doc quality-verdict projection. */
  def qualityFlags(docs: DataFrame): DataFrame = {
    import graft.operators.TextOps
    docs.select(Seq(col("doc_id"), col("source")) ++ TextOps.gopherSignalCols: _*)
      .select(Seq(col("doc_id"), col("source")) ++ TextOps.gopherRuleCols: _*)
      .withColumn("pass", graft.operators.TextOps.gopherPass)
  }

  /** Sampling-at-ingest: the q111/q112 mix plan applied at the
    * stream boundary. The rate table is a bounded (|sources|-row)
    * artifact derived once from the STATIC store; each arriving doc
    * passes the same deterministic hash test row-locally via a
    * stream-static broadcast join — no state, no shuffle on the
    * stream side. Stream == batch doc-for-doc (MlStreamSpec). */
  def mixSampleStream(spark: SparkSession, docsDir: String,
      storeDir: String): DataFrame =
    mixSample(streamDocs(spark, docsDir), storeRates(spark, storeDir))

  /** Batch twin over the static table (the doc-level frame q112
    * aggregates). */
  def mixSampleBatch(spark: SparkSession, dir: String): DataFrame =
    mixSample(graft.Tables.documents(spark, dir), storeRates(spark, dir))

  private def storeRates(spark: SparkSession, storeDir: String): DataFrame =
    // budget 1000: real sampling (rates < 1) at every test scale
    graft.operators.CorpusOps.mixWeights(spark, storeDir, budget = 1000L)
      .select(col("source"), col("rate"))

  private def mixSample(docs: DataFrame, rates: DataFrame): DataFrame =
    // THE shared admission rule (also q112's rollup input and q117's
    // manifest) — one def, per the shared-rule discipline
    graft.operators.CorpusOps.mixAdmitDocs(docs, rates)
      .select(col("doc_id"), col("source"))

  /** Batch twin of [[minhashCandidateStream]]: same row-local band
    * keys, bucket representative = min doc id, one candidate row per
    * (bucket, later doc). Deterministic given the fixed hash family →
    * registered as the driver-facing query (q71); parity with the
    * real stream is asserted in MlStreamSpec. */
  def minhashCandidateBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    // the CORPUS-SCAN signature formulation (codegen'd grouped mins,
    // q32's shape) — identical values to the stream's row-local
    // sigCol (DedupSpec), ~100× cheaper over a full corpus
    Dedup.groupedSig(spark, dir)
      .select(col("doc_id"), explode(Dedup.bandKeysCol(col("sig"))).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) > 1)
      .select(col("band"), col("key"),
        element_at(col("docs"), 1).as("rep_doc"),
        explode(slice(col("docs"), lit(2), size(col("docs")) - 1)).as("doc_id"))
      .orderBy(col("band"), col("key"), col("doc_id"))
  }
}
