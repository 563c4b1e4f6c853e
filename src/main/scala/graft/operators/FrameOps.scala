package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational operator block — the Spark-native re-expression of the
  * reference's DataFrame utilities (redshells/data/data_frame_utils.py:
  * ExtractColumnAsDict, FilterByColumn, RenameColumn,
  * GroupByColumnAsDict, ConvertToOneHot, SplitTrainTestData,
  * SampleData) plus the grouped-aggregation / join / window / session
  * query shapes every pipeline on top of them needs.
  *
  * Numeric parity convention: float aggregates go through
  * DECIMAL(18,4) so partial aggregation order (Spark's map-side
  * combine at scale) cannot perturb the result vs a sequential oracle;
  * the final value is cast back to DOUBLE. This is also the right
  * call at 100 TB: decimal sums are exact and AQE-safe.
  */
object FrameOps {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** TPC-H Q1-shaped pricing summary: single shuffle on the two
    * low-cardinality grouping keys; partial aggregation does almost
    * all the work map-side, so at 100 TB the shuffle carries only
    * (#flags × #statuses × #partitions) rows. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("2000-12-31 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** FilterByColumn + RenameColumn (data_frame_utils.py:54,73):
    * projection + predicate, both pushed into the parquet scan. */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_size").between(10, 20) && col("p_type") === "PROMO")
      .select(
        col("p_partkey").as("part_id"),
        col("p_name").as("part_name"),
        col("p_retailprice").as("price"))
      .orderBy(col("part_id"))

  /** TPC-H Q3-shaped top-k revenue: customer is the small side →
    * broadcast; lineitem↔orders shuffles once on the order key. */
  def topRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1999-01-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1999-01-01 00:00:00").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  /** GroupByColumnAsDict (data_frame_utils.py:93): key → list of
    * values, rendered as a sorted joined string so the result is
    * deterministic and oracle-comparable. collect_list combines
    * map-side; the sort is per-group, not global. */
  def groupCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        concat_ws(",", array_sort(collect_list(col("c_name")))).as("names"))
      .orderBy(col("c_nationkey"))

  /** ConvertToOneHot (data_frame_utils.py:117): conditional
    * aggregation instead of pivot — one shuffle, fixed output schema,
    * no driver-side distinct() pass over 100 TB to discover columns. */
  def oneHot(spark: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val aggs = segs.map(s =>
      sum(when(col("c_mktsegment") === s, 1).otherwise(0)).as(s"seg_${s.toLowerCase}"))
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("c_nationkey"))
  }

  /** SplitTrainTestData / SampleData (data_frame_utils.py:160,181):
    * deterministic key-hash split — reproducible on any cluster size,
    * no sklearn.shuffle nondeterminism, no driver materialization. */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("split",
        when(pmod(col("o_orderkey"), lit(10)) < 8, "train").otherwise("test"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("split"))

  /** Per-key ordered running stats: one shuffle on the partition key;
    * the window sort is within-partition only. */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("run_total",
        sum(dec(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .filter(col("rn") <= 5)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("run_total"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** ExtractColumnAsDict (data_frame_utils.py:31): keep the FIRST row
    * per key under a deterministic order — row_number window, dedup
    * without a driver-side dict. */
  def extractFirstPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("o_custkey"),
        col("o_orderkey").as("first_orderkey"),
        col("o_orderdate").as("first_orderdate"))
      .orderBy(col("o_custkey"))
  }

  /** q166 chunk width (rows per emitted list segment); the oracle is
    * generated from it. */
  private[graft] val ListChunk = 100L

  /** q166: ExtractColumnAsList (data_frame_utils.py:11) — the last
    * uncovered data_frame_utils task (its dict sibling is q08,
    * grouped collect is q04). The reference dumps one driver-side
    * Python list; a 100 TB column cannot live in one row OR on the
    * driver, so the distributed rendering is the ordered list in
    * KEY-RANGE CHUNKS: segment k carries the values whose sort key
    * falls in [k·W, (k+1)·W), each segment's values joined in key
    * order — concatenating segments in chunk_id order reproduces the
    * reference's list exactly, and no operator ever sees more than a
    * chunk at once (position-based equal-size chunks would need the
    * q98 per-partition offset pass; key-range chunks need NO global
    * coordination at all — one partial-agg shuffle on chunk_id). The
    * in-chunk sort rides a chunk-bounded collect_list, never a
    * global window. */
  def extractList(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
        expr(s"c_custkey div $ListChunk").as("chunk_id"))
      .groupBy(col("chunk_id"))
      .agg(
        count(lit(1)).as("n_values"),
        concat_ws(",", transform(
          sort_array(collect_list(struct(col("c_custkey"), col("c_name")))),
          x => x.getField("c_name"))).as("vals"))
      .orderBy(col("chunk_id"))

  /** Existence filtering as anti join (no NOT IN materialization):
    * customers with no in-progress ('P') order, per nation. nation is
    * broadcast. */
  def antiJoinCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "P").select(col("o_custkey"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers_no_orders"))
      .orderBy(col("n_name"))
  }

  /** THE session-id rule (q10 + q125 share it — shared-rule
    * discipline): lag-gap + cumulative-sum session ids, two window
    * passes over ONE shuffle on user_id. Timestamps are truncated to
    * whole seconds before the gap compare so the engine's sub-second
    * precision (ns vs µs) cannot flip a boundary. */
  private def sessioned(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sec = unix_timestamp(date_trunc("second", col("ts")))
    val gap = sec - lag(sec, 1).over(byUser)
    Tables.events(spark, dir)
      .withColumn("new_session",
        when(gap.isNull || gap > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Event sessionization (q10): per-user session/event counts over
    * [[sessioned]]. */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessioned(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** q124: RFM user segmentation (Hughes 1994; the feature block a
    * recommender pipeline derives from raw events before model
    * training — redshells' click-log preprocessing domain): per-user
    * Recency/Frequency/Monetary aggregates scored into quintiles,
    * segment = R·100 + F·10 + M. Scale shape: the event log collapses
    * to ONE per-user row in a single partial-agg shuffle; the ntile
    * windows run over that user-bounded table, not the log. The
    * unpartitioned ntile serializes through one task — at 1e9 users
    * swap in q98's range-partitioned parallel ranking (same repo,
    * same contract); at any tested SF the user table is thousands of
    * rows. Monetary goes through DECIMAL(18,4) (oracle float rule);
    * ntile ties break deterministically on user_id. */
  /** Global NTILE(k) for q124's quintiles without the single-task
    * window (the per-user rollup is a disk artifact, written once for
    * the three rankings + the base projection): the [[globalRank]]
    * of `slim`, then the standard ntile arithmetic row-local on
    * (global rank, N) — first N mod k tiles get ceil(N/k) rows, the
    * SQL semantics both Spark and DuckDB implement, in exact integer
    * form (ceil(a/b) = floor((a+b-1)/b); quotients ≤ k, so the double
    * floor is ulp-safe). At 10⁹ users the three quintile windows were
    * the documented fallback-only path; this IS the fallback as code. */
  private def parallelNtile(spark: SparkSession, dir: String,
      slim: => DataFrame, order: Seq[org.apache.spark.sql.Column], k: Int,
      out: String): DataFrame = {
    val (ranked, n) = globalRank(spark, "rfm_ranged", (dir, out), order)(slim)
    val rank = col("rank")
    val q = n / k; val r = n % k; val cut = r * (q + 1)
    val tile = when(rank <= lit(cut),
        floor((rank + lit(q)) / lit((q + 1).toDouble)))
      .otherwise(lit(r) +
        floor((rank - lit(cut) + lit(q) - 1) / lit(math.max(q, 1L).toDouble)))
    ranked.select(col("user_id"), tile.cast("long").as(out))
  }

  /** THE global rank without a single-task window (q23's dictionary
    * ids, q98's stable ids, q124's quintiles): `slim` is written once
    * as artifact `name` for `key`, range-partitioned on `order` with
    * its partition id, so the offsets action and the ranking plan see
    * one frozen partition assignment; each range partition ranks IN
    * PARALLEL and adds its base offset from the bounded per-partition
    * count table (≤ numPartitions rows, one scheduler-metadata-sized
    * collect). Range partitions are disjoint and ordered on `order`,
    * so base + row_number is exactly the global ROW_NUMBER() OVER
    * (ORDER BY `order`) whatever boundaries the sampler draws.
    * Returns `slim`'s columns plus the 1-based `rank`, and the row
    * count. */
  private[graft] def globalRank(spark: SparkSession, name: String, key: Any,
      order: Seq[org.apache.spark.sql.Column])(slim: => DataFrame): (DataFrame, Long) = {
    val ranged = graft.SessionRegistry.artifact(spark, name, key)(
      slim.repartitionByRange(
        math.max(spark.sparkContext.defaultParallelism / 2, 4), order: _*)
        .withColumn("pid", spark_partition_id())
        .write.parquet(_)).read()
    val counts = ranged.groupBy(col("pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val bases = counts.scanLeft(0L)(_ + _._2)
    import spark.implicits._
    val offsets = counts.map(_._1).zip(bases).toSeq.toDF("pid", "base")
    val ranked = ranged
      .withColumn("rn", row_number().over(Window.partitionBy(col("pid")).orderBy(order: _*)))
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("rank", col("base") + col("rn"))
      .drop("pid", "rn", "base")
    (ranked, bases.last)
  }

  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val sec = unix_timestamp(date_trunc("second", col("ts")))
    val perUser = graft.SessionRegistry.artifact(spark, "rfm_user", dir)(
      Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(
          max(sec).as("last_sec"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 4))).as("mon"))
        .write.parquet(_)).read()
    val r = parallelNtile(spark, dir, perUser.select(col("user_id"), col("last_sec")),
      Seq(col("last_sec").asc, col("user_id").asc), 5, "r_score")
    val f = parallelNtile(spark, dir, perUser.select(col("user_id"), col("n_events")),
      Seq(col("n_events").asc, col("user_id").asc), 5, "f_score")
    val m = parallelNtile(spark, dir, perUser.select(col("user_id"), col("mon")),
      Seq(col("mon").asc, col("user_id").asc), 5, "m_score")
    perUser
      .join(r, Seq("user_id")).join(f, Seq("user_id")).join(m, Seq("user_id"))
      .select(col("user_id"), col("n_events"),
        // re-scale the widened decimal sum to (18,4) BEFORE the double
        // cast in both engines (q104's one-ulp wide-cast rule)
        col("mon").cast(DecimalType(18, 4)).cast("double").as("monetary"),
        col("last_sec"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("segment"))
      .orderBy(col("user_id"))
  }

  /** q125: session transition matrix — first-order Markov statistics
    * over event types within [[sessioned]] sessions (the classic
    * clickstream model behind sequence recommenders): for each
    * ordered in-session transition a→b, its count and conditional
    * probability P(b|a). Scale shape: the transition pairs come from
    * ONE lead() pass over the SAME user_id shuffle the session ids
    * already need (no second shuffle of the log); the per-from
    * normalizer is a window sum over the |event_types|²-bounded count
    * table — a totals self-join here would re-derive the whole window
    * pyramid a second time (caught by PlanShapeSpec). P divides two
    * exact longs, rounded — identical IEEE both engines. */
  def sessionTransitions(spark: SparkSession, dir: String): DataFrame = {
    val bySession = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    sessioned(spark, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(bySession))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"), 6))
      .select(col("from_type"), col("to_type"), col("n"), col("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** q131: sessionization through Spark's NATIVE `session_window`
    * operator (the engine-managed merging-interval aggregation that
    * also powers streaming session state) — the idiomatic alternative
    * to q10's lag+cumsum windows. Boundary semantics pinned in the
    * oracle: session_window merges ADJACENT windows, so an event at
    * exactly prev+gap joins the same session (split iff gap > 1800 —
    * the SAME boundary as q10's lag rule; verified at sf0.1 where an
    * exact-1800 s gap occurs). One shuffle on user_id; the per-session frame is
    * session-bounded, the per-user rollup slim. Durations are exact
    * longs (end = last + gap); values through DECIMAL. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val perSession = Tables.events(spark, dir)
      .withColumn("tss", date_trunc("second", col("ts")))
      .groupBy(col("user_id"), session_window(col("tss"), "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events_w"),
        sum(col("value").cast(DecimalType(18, 4))).as("val_w"))
      .select(col("user_id"), col("n_events_w"), col("val_w"),
        (unix_timestamp(col("w.end")) - unix_timestamp(col("w.start")))
          .as("dur_secs"))
    perSession.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events_w")).as("n_events"),
        max(col("dur_secs")).as("longest_secs"),
        sum(col("val_w")).cast(DecimalType(18, 4)).cast("double").as("total_value"))
      .orderBy(col("user_id"))
  }

  /** q129: time-series RESAMPLE + FORWARD FILL — the gap-filling
    * step every per-entity time-series feature pipeline runs before
    * modeling (pandas `resample('1H').ffill()` made distributed):
    * each user's event stream becomes a dense hourly grid from their
    * first to last event, carrying the last observed value forward
    * across empty hours. Scale shape: the grid is generated per user
    * with `sequence` (linear in OUTPUT rows, no cross join against a
    * calendar table); observed per-hour values reduce in one
    * partial-agg shuffle; grid ⋈ observed and the ffill window both
    * ride the same user_id clustering. The last-in-hour pick is a
    * deterministic argmax by (sec, event_id); filled sums go through
    * DECIMAL (float rule). */
  def resampleFfill(spark: SparkSession, dir: String): DataFrame = {
    val sec = unix_timestamp(date_trunc("second", col("ts")))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"), sec.as("sec"))
      .withColumn("hid", floor(col("sec") / 3600L).cast("long"))
    // last observed value per (user, hour): argmax by (sec, event_id);
    // re-clustered to user_id so the grid join AND the ffill window
    // both ride user partitioning — the generated grid (already
    // user-partitioned by its agg) is never re-shuffled
    val obs = ev.groupBy(col("user_id"), col("hid"))
      .agg(max_by(col("value"), struct(col("sec"), col("event_id"))).as("obs_value"))
      .repartition(col("user_id"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("hid")).as("h0"), max(col("hid")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hid"))
    val filled = grid.join(obs, Seq("user_id", "hid"), "left")
      .withColumn("ffill_value",
        last(col("obs_value"), ignoreNulls = true).over(
          Window.partitionBy(col("user_id")).orderBy(col("hid"))
            .rowsBetween(Window.unboundedPreceding, 0)))
    filled.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(when(col("obs_value").isNotNull, 1L).otherwise(0L)).as("n_observed"),
        sum(when(col("obs_value").isNull, 1L).otherwise(0L)).as("n_filled"),
        sum(col("ffill_value").cast(DecimalType(18, 4)))
          .cast(DecimalType(18, 4)).cast("double").as("filled_sum"))
      .orderBy(col("user_id"))
  }

  /** q130: COHORT RETENTION — the classic event-analytics triangle
    * (users cohorted by first-activity week; what share is still
    * active k weeks later). Scale shape: the log reduces to DISTINCT
    * (user, week) pairs in one partial-agg shuffle; each user's
    * cohort week is a min() window over the SAME user clustering (no
    * second log scan); the (cohort, offset) aggregate is
    * weeks²-bounded, and the retention denominator is a window over
    * that bounded table (q125's lever — never a self-join).
    * Retention divides two exact longs → identical IEEE, round 6. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val sec = unix_timestamp(date_trunc("second", col("ts")))
    val weeks = Tables.events(spark, dir)
      .select(col("user_id"), floor(sec / 604800L).cast("long").as("wk"))
      .distinct()
    val withCohort = weeks
      .withColumn("cohort_wk", min(col("wk")).over(Window.partitionBy(col("user_id"))))
      .withColumn("week_offset", (col("wk") - col("cohort_wk")).cast("long"))
    withCohort
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(
          Window.partitionBy(col("cohort_wk"))))
      .withColumn("retention",
        round(col("n_active").cast("double") / col("cohort_size").cast("double"), 6))
      .select(col("cohort_wk"), col("week_offset"), col("n_active"),
        col("cohort_size"), col("retention"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  /** ConvertTypeToCategory (data_frame_utils.py:141): dictionary-
    * encode a string column to dense ids. The category table is the
    * DISTINCT set (tiny) ranked deterministically; at scale it
    * broadcasts back onto the fact rows. Output: the encoding table +
    * per-category counts. */
  def categorize(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val cats = cust.select(col("c_mktsegment").as("category")).distinct()
      .withColumn("category_id",
        (row_number().over(Window.orderBy(col("category"))) - 1).cast("long"))
    cust.join(broadcast(cats), col("c_mktsegment") === col("category"))
      .groupBy(col("category"), col("category_id"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("category_id"))
  }

  /** Exact per-group median without percentile-function dialect
    * drift: rank rows per group, pick the middle one(s), average them
    * with exact decimal math. One shuffle on the group key. */
  /** Sketch twin of q14 (the q16/q17 pairing for order statistics):
    * per-group median via `percentile_approx` (Greenwald-Khanna
    * sketch) — the 100 TB path where an exact per-group sort is a
    * full shuffle of the fact table while the sketch is a bounded
    * mergeable state per group. Accuracy 10000 ⇒ rank error ≤ 1/10⁴;
    * FrameOpsSpec bounds the value error vs the exact q14 median.
    * Approximate → rows-only. */
  def medianSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
          .as("approx_median"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))

  def medianByGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val ranked = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("c_mktsegment"))))
    ranked
      .filter(col("rn") === floor((col("cnt") + 1) / 2) ||
        col("rn") === floor(col("cnt") / 2) + 1)
      .groupBy(col("c_mktsegment"))
      .agg((sum(dec(col("o_totalprice"))).cast("double") / count(lit(1))).as("median_price"),
        first(col("cnt")).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** As-of (temporal) join: for each event, whether the user had an
    * order on or before the event time, via the union+window
    * composition — tag both sides, sort within user once, carry the
    * latest order key forward with last_value(ignoreNulls). This is
    * the scale-correct as-of: ONE shuffle on the join key and a
    * per-key sort, versus the naive range-join cross product. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").as("t"), lit(0).as("side"),
        col("o_orderkey").as("ref"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("second", col("ts")).as("t"),
        lit(1).as("side"), col("event_id").as("ref"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("side"), col("ref"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ord.unionByName(ev)
      .withColumn("last_order",
        last(when(col("side") === 0, col("ref")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("last_order").isNotNull, 1L).otherwise(0L)).as("n_with_prior_order"),
        max(col("last_order")).as("latest_order_seen"))
      .orderBy(col("user_id"))
  }

  /** q127: KEYLESS interval join — the other classic temporal join
    * ([[asofJoin]] is the keyed one). Every `error` event opens a
    * ±900 s incident window; for each event type, how many events
    * (any user — there is NO equi-key) fall inside at least one
    * window, and how many (event, window) matches occur. The naive
    * plan is a cartesian with a range predicate — the scale path
    * discretizes time into W-second buckets (W = the half-window, so
    * each window covers exactly 3 buckets): windows explode to their
    * covered buckets, events keep their single bucket, the join
    * becomes a bucket equi-join + precise |Δt| ≤ W filter. Each
    * (event, window) pair meets in exactly one bucket (the event's),
    * so no post-join dedup is needed. Hot buckets (event storms) are
    * ordinary equi-join skew — AQE skew-join / salting territory, not
    * a cartesian. A window-defining event matches its own window by
    * construction (|Δt| = 0); both engines count it. */
  /** Half-window (seconds) of the q127/q133 incident windows and the
    * second-resolution event time both sides bucket on — ONE def so
    * the batch join, its per-event rollup and the streaming twin
    * (StreamOps.intervalMatchStream) cannot drift. */
  private[graft] val intervalW = 900L
  private[graft] def intervalSec(c: Column): Column =
    unix_timestamp(date_trunc("second", c))

  /** Shared (event, window) match pairs of the bucketed keyless
    * interval join — consumed by q127's per-type rollup and q133's
    * per-event rollup. Columns: event_id, event_type, sec, w_id. */
  private[graft] def intervalPairs(ev: DataFrame, win: DataFrame): DataFrame = {
    val W = intervalW
    val evB = ev.withColumn("bucket", floor(col("sec") / W))
    val winB = win.withColumn("bucket", explode(sequence(
      floor((col("w_sec") - W) / W), floor((col("w_sec") + W) / W))))
    evB.join(winB, Seq("bucket"))
      .filter(abs(col("sec") - col("w_sec")) <= W)
      .select(col("event_id"), col("event_type"), col("sec"), col("w_id"))
  }

  private def intervalEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        intervalSec(col("ts")).as("sec"))

  private def intervalWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("w_id"), intervalSec(col("ts")).as("w_sec"))

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = intervalEvents(spark, dir)
    val perEvent = intervalPairs(ev, intervalWindows(spark, dir))
      .groupBy(col("event_id"), col("event_type"))
      // pairs are unique (one bucket per event) — plain count is the
      // distinct-window count
      .agg(count(lit(1)).as("n_windows"))
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
      .join(
        perEvent.groupBy(col("event_type")).agg(
          count(lit(1)).as("n_in_window"),
          sum(col("n_windows")).as("n_matches")),
        Seq("event_type"), "left")
      .na.fill(0L, Seq("n_in_window", "n_matches"))
      .orderBy(col("event_type"))
  }

  /** q133: per-EVENT interval match counts — the event-granular view
    * of q127 (same shared [[intervalPairs]] rule, finer rollup) and
    * the batch twin of the streaming matcher
    * (graft.streaming.StreamOps.intervalMatchStream — parity spec in
    * MlStreamSpec). Only matched events appear (inner join), which is
    * exactly the set the stream emits. */
  def intervalMatches(spark: SparkSession, dir: String): DataFrame =
    intervalPairs(intervalEvents(spark, dir), intervalWindows(spark, dir))
      .groupBy(col("event_id"), col("event_type"))
      .agg(count(lit(1)).as("n_windows"))
      .orderBy(col("event_id"))

  /** Same as-of semantics as [[asofJoin]] but through the CUSTOM
    * physical operator (graft.plans.AsOfJoinExec: logical node →
    * strategy → streaming sort-merge exec). Shares q15's oracle SQL —
    * two implementations, one answer. The strategy is attached via
    * experimental.extraStrategies so it works on any session (the
    * GraftExtensions path registers it at session build). */
  def asofJoinCustom(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{AsOfJoin, AsOfJoinStrategy}
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("t"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        unix_timestamp(col("o_orderdate")).as("ot"))
    AsOfJoin(spark, ev, ord, "user_id", "o_custkey", "t", "ot",
      rightTie = "o_orderkey")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("o_orderkey").isNotNull, 1L).otherwise(0L)).as("n_with_prior_order"),
        max(col("o_orderkey")).as("latest_order_seen"))
      .orderBy(col("user_id"))
  }

  /** Exact distinct cardinalities (oracle twin of the HLL sketch
    * query q16): two-level distinct aggregation. */
  def distinctExact(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** HLL sketch cardinalities — the 100 TB path where exact distinct
    * is a full shuffle of the key space but a sketch is a few KB per
    * group. Approximate → rows-only; FrameOpsSpec bounds the relative
    * error against distinctExact. */
  def distinctSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("n_orders_approx"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("n_parts_approx"))
      .orderBy(col("l_returnflag"))

  /** Semi-structured column extraction: the event props JSON parsed
    * in-plan (get_json_object is codegen'd; no UDF, no driver-side
    * parsing) and aggregated per event type. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("k")).as("n_distinct_k"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  /** The SQL entry path: the same engine driven by SQL text over
    * registered views (what a reference user migrating SQL workloads
    * would write). Catalyst plans it identically to the DataFrame
    * form. */
  def sqlApi(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.nation(spark, dir).createOrReplaceTempView("v_nation")
    spark.sql(
      """SELECT n_name,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM v_customer
        |JOIN v_orders ON o_custkey = c_custkey
        |JOIN v_nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)
  }

  /** Tumbling-window rollup (batch twin of the streaming query):
    * date_trunc + two-key groupBy, partial-agg friendly. */
  def eventRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("hour"), col("event_type"))

  /** q104: multi-level aggregation in ONE pass (ROLLUP) — subtotal
    * and grand-total rows computed alongside the leaf groups without
    * rescanning (Spark expands grouping sets map-side; at 100 TB a
    * rollup costs one scan, not one per level). The level comes from
    * GROUPING() in BOTH engines — not key nullness — so a genuine
    * NULL (or literal 'ALL') in a grouping column can never be
    * mistaken for a subtotal row; COALESCE is display-only. */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")).cast("int") * 2 +
          grouping(col("l_linestatus")).cast("int")).cast("long").as("lvl"),
        count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        // the (38,8) product sum is re-scaled to (18,4) BEFORE the
        // double cast: DuckDB's wide-decimal→double conversion is one
        // ulp off nearest at this magnitude, while a scale-4 decimal
        // converts exactly the same in both engines
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(DecimalType(18, 4)).cast("double").as("sum_rev"))
      .select(
        col("lvl"),
        coalesce(col("l_returnflag"), lit("ALL")).as("ret"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n_rows"), col("sum_qty"), col("sum_rev"))
      .orderBy(col("lvl"), col("ret"), col("status"))
  }

  /** q105: long→wide reshaping (pivot) — the language-mix matrix per
    * source. Pivot values are EXPLICIT (the fixed lang domain), which
    * is the 100 TB discipline anyway: an unvalued `pivot(col)` runs a
    * driver-side distinct scan first and falls over on high-cardinality
    * keys; with declared values the whole reshape is ONE map-side
    * conditional aggregation (no extra scan, no wide-row surprise).
    * Oracle = the same conditional aggregation spelled as CASE sums. */
  def pivotLangMix(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .na.fill(0L, langs)
      .select(col("source") +: langs.map(l => col(l).as(s"n_$l")): _*)
      .orderBy(col("source"))
  }

  /** q98: globally-contiguous stable id assignment by (source,
    * doc_id) — the scale-correct zipWithIndex. The naive form
    * (row_number over an unpartitioned window) funnels the entire
    * corpus through ONE task; this plan never does: range-repartition
    * on the sort key, rank WITHIN each range partition (parallel
    * window, keyed by spark_partition_id), then add per-partition
    * base offsets computed from the bounded partition-count table
    * (≤ numPartitions rows — scheduler-metadata scale, the one
    * legitimate driver-side cumsum). Output values are independent
    * of where the range sampler happens to place boundaries, so the
    * result is exact and deterministic → DuckDB ROW_NUMBER oracle. */
  def stableIds(spark: SparkSession, dir: String): DataFrame =
    globalRank(spark, "stable_ids", dir, Seq(col("source").asc, col("doc_id").asc))(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")))._1
      .select(col("doc_id"), col("source"), col("rank").as("new_id"))
      .orderBy(col("doc_id"))

  /** q136: time-DECAYED recency feature per user (the EWMA-family
    * feature every event-driven recommender/scoring pipeline derives
    * from a click log; the reference's click-log preprocessing domain
    * next to q124's RFM). Each user's trailing [[DecayK]] events
    * contribute 0.1·0.9^age (age = events-ago, newest first): one
    * row_number window on the SAME user shuffle the rollup reuses,
    * map-side pow, then the bounded sum. The trailing-K cap is what
    * keeps the float sum oracle-exact: K=8 doubles summed in any
    * order differ by ≤ ~1e-15 relative, absorbed by round(,6) BEFORE
    * output (lever (i)); an unbounded per-user history would make
    * the round-boundary argument length-dependent. */
  private[graft] val DecayK = 8
  def decayedRecency(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("age", row_number().over(w) - 1)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(when(col("age") < DecayK,
          lit(0.1) * pow(lit(0.9), col("age")) * col("value"))
          .otherwise(lit(0.0))), 6).as("decay_score"))
      .orderBy(col("user_id"))
  }

  /** q137: equi-width HISTOGRAM of a numeric column (the
    * distribution half of q135's profile — data-quality gate for
    * drift/skew checks before training). Bucketing is exact integer
    * arithmetic ((q-1) div width over l_quantity's 1..50 domain), so
    * the whole histogram is one map-side bucket projection + one
    * bounded groupBy — no sort, no pass per bucket; the share is one
    * IEEE double division of two exact integers (correctly rounded →
    * bit-identical cross-engine, no decimal bridge needed). */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val total = li.agg(count(lit(1)).as("total"))
    // l_quantity ships as integral DOUBLEs (1..50): (q-1)/5 is a
    // correctly-rounded IEEE division whose floor is exact on this
    // domain (true quotients that are integers are exact doubles)
    li.select(floor((col("l_quantity") - 1) / 5).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("bucket"),
        (col("bucket") * 5 + 1).as("lo"),
        (col("bucket") * 5 + 5).as("hi"),
        col("n"),
        // IEEE double division of two exact integers is correctly
        // rounded — bit-identical in any engine, no decimal bridge
        (col("n").cast("double") / col("total").cast("double")).as("share"))
      .orderBy(col("bucket"))
  }

  /** q135: SINGLE-SCAN data profiling — the data-quality gate every
    * training pipeline runs before a model sees the table
    * (completeness / cardinality / range metrics per column; the
    * validation role of the reference's data_frame_utils checks,
    * deequ-style). All plain aggregates fuse into one partial-agg
    * pass and the three exact distinct counts ride Spark's EXPAND
    * (map-side row ×3, still ONE scan) — at 100 TB the difference
    * between one pass over the table and one pass per metric. Long
    * format via stack() keeps the output bounded by column count.
    * Sums cross the decimal bridge (and are re-scaled to
    * DECIMAL(18,4) before the double cast — the q104 wide-decimal
    * rule); min/max are raw values, exact in both engines. */
  def profile(spark: SparkSession, dir: String): DataFrame =
    profileWith(spark, dir, c => countDistinct(c))

  /** q167: the SKETCH twin of q135 for the 100 TB path — identical
    * single-scan profile, but the three exact distinct counts (the
    * only part of the one-scan plan that can't stream at scale: exact
    * distinct rides EXPAND + a key-space shuffle) are HLL++ sketches
    * (`approx_count_distinct`, rsd 2% — q17's machinery): a few KB of
    * mergeable state per metric, no EXPAND, no key shuffle.
    * Approximate → rows-only; FrameOpsSpec bounds every sketched
    * cardinality within 3·rsd of q135's exact value and asserts all
    * non-sketched metrics are IDENTICAL. */
  def profileSketch(spark: SparkSession, dir: String): DataFrame =
    profileWith(spark, dir, c => approx_count_distinct(c, rsd = 0.02))

  /** One definition for both profile variants (shared-rule
    * discipline) — `distinctOf` is the only difference. */
  private def profileWith(spark: SparkSession, dir: String,
      distinctOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def nulls(c: String) =
      sum(when(col(c).isNull, 1L).otherwise(0L))
    val agg = li.agg(
      count(lit(1)).as("n"),
      nulls("l_quantity").as("qty_null"),
      distinctOf(col("l_quantity")).as("qty_distinct"),
      min(col("l_quantity")).as("qty_min"),
      max(col("l_quantity")).as("qty_max"),
      sum(col("l_quantity")).as("qty_sum"),
      nulls("l_extendedprice").as("price_null"),
      distinctOf(col("l_extendedprice")).as("price_distinct"),
      min(col("l_extendedprice")).as("price_min"),
      max(col("l_extendedprice")).as("price_max"),
      sum(col("l_extendedprice").cast(DecimalType(18, 4)))
        .cast(DecimalType(18, 4)).cast("double").as("price_sum"),
      nulls("l_discount").as("disc_null"),
      distinctOf(col("l_discount")).as("disc_distinct"),
      min(col("l_discount")).as("disc_min"),
      max(col("l_discount")).as("disc_max"),
      sum(col("l_discount").cast(DecimalType(18, 4)))
        .cast(DecimalType(18, 4)).cast("double").as("disc_sum"))
    agg.selectExpr(
      """stack(3,
        |  'l_discount', cast(n as double), cast(disc_null as double),
        |    cast(disc_distinct as double), cast(disc_min as double),
        |    cast(disc_max as double), disc_sum,
        |  'l_extendedprice', cast(n as double), cast(price_null as double),
        |    cast(price_distinct as double), price_min, price_max, price_sum,
        |  'l_quantity', cast(n as double), cast(qty_null as double),
        |    cast(qty_distinct as double), cast(qty_min as double),
        |    cast(qty_max as double), cast(qty_sum as double)
        |) as (col_name, n, n_null, n_distinct, min_v, max_v, sum_v)""".stripMargin)
      .orderBy(col("col_name"))
  }

  /** q170 k-anonymity release floor: a quasi-identifier group with
    * fewer distinct users than this is suppressed from release. */
  private[graft] val AnonK = 5L

  /** q170: PSEUDONYMIZATION + K-ANONYMITY release gate — the privacy
    * scrub a training pipeline applies before an event log joins a
    * shared corpus (direct identifiers replaced by a deterministic
    * keyed pseudonym; events whose quasi-identifier group is small
    * enough to re-identify are suppressed, Sweeney's k-anonymity).
    * pid = the repo's multiplicative sampling-hash family
    * (CorpusOps.SampleHashC/P — engine-reproducible, and injective
    * on [0, p): x → x·c mod p is a bijection for prime p ∤ c, so
    * distinct users stay distinct; spec-asserted), with the key
    * reduced mod p BEFORE the multiply (the q157 overflow rule).
    * Quasi-identifier = (event_type, day): the group-size table is
    * |types|·|days|-bounded → broadcast back onto the log; the whole
    * op is ONE scan + one bounded broadcast join, row-local
    * everywhere else — no corpus shuffle at any scale. Exact counts
    * + exact hash → oracle-gated end to end.
    *
    * SECURITY NOTE: the multiplicative map uses PUBLIC constants and
    * c has a modular inverse mod p, so pid is trivially invertible —
    * it is a deterministic BENCHMARK stand-in chosen for
    * cross-engine reproducibility, not a privacy control. A
    * production pseudonym must be a secret-keyed one-way function
    * (e.g. HMAC-SHA256 with a managed key), which the call-site
    * contract (deterministic value per user) accepts as a drop-in. */
  /** THE pseudonym rule, in one place — consumed by the batch scrub
    * and the ingest twin (StreamOps.pseudonymizeStream); row-local. */
  private[graft] def pidCol: org.apache.spark.sql.Column =
    pmod(col("user_id"), lit(CorpusOps.SampleHashP)) *
      lit(CorpusOps.SampleHashC) % lit(CorpusOps.SampleHashP)

  /** THE quasi-identifier group-size table (|types|·|days|-bounded)
    * — the published privacy artifact the ingest stream gates
    * against (shared-rule discipline with the batch scrub). */
  private[graft] def anonGroupSizes(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(countDistinct(col("user_id")).as("n_users_in_group"))

  def pseudonymize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .join(broadcast(anonGroupSizes(spark, dir)), Seq("event_type", "day"))
      .select(col("event_id"), pidCol.as("pid"),
        col("event_type"), col("day"), col("n_users_in_group"),
        (col("n_users_in_group") >= AnonK).as("released"))
      .orderBy(col("event_id"))

  /** q138: SCD TYPE-2 interval compression of the event log — the
    * warehouse "slowly changing dimension" build (consecutive
    * same-state runs collapse to one validity interval; only CHANGES
    * create versions). The reference's pipelines snapshot per-entity
    * state the same way before joining facts to it. Scale shape: the
    * change flag (lag), the version id (running sum), the run rollup
    * (groupBy user+version) and the valid_to lookup (lead over the
    * run table) all ride ONE hashpartitioning(user_id) — the groupBy
    * keys are a superset of the window's clustering, so Catalyst
    * reuses the exchange (plan-asserted: one shuffle of the log, no
    * join; the gaps-and-islands classic without a self-join). Open
    * intervals carry a sentinel valid_to so the row is
    * oracle-hashable without null-ordering hazards. */
  private[graft] val Scd2OpenEnd = 9999999999L
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val runs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byUser).isNull ||
          lag(col("event_type"), 1).over(byUser) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version",
        sum(col("chg")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("version"))
      .agg(
        min(col("event_type")).as("state"), // constant within the run
        min(col("sec")).as("valid_from"),
        count(lit(1)).as("n_events"))
    runs
      .withColumn("valid_to",
        coalesce(
          lead(col("valid_from"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("version"))),
          lit(Scd2OpenEnd)))
      .withColumn("is_current", (col("valid_to") === Scd2OpenEnd).cast("boolean"))
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from"), col("valid_to"), col("n_events"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** q139: HOPPING (sliding) window rollup — the overlapping-window
    * twin of q11's tumbling rollup, through Spark's NATIVE
    * `window(ts, size, slide)` generator: each event lands in exactly
    * size/slide = 3 windows, expanded MAP-SIDE before the one
    * bounded groupBy (never a window-table join). This is also the
    * exact shape Structured Streaming runs for sliding aggregations,
    * so the stream twin shares the rule. n_users is an exact distinct
    * per window (EXPAND, q135's machinery); values cross DECIMAL. */
  def hoppingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        window(date_trunc("second", col("ts")), "30 minutes", "10 minutes").as("w"),
        col("user_id"), col("value"))
      .groupBy(col("w"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 4)))
          .cast(DecimalType(18, 4)).cast("double").as("total_value"))
      .select(
        unix_timestamp(col("w.start")).as("w_start"),
        unix_timestamp(col("w.end")).as("w_end"),
        col("n_events"), col("n_users"), col("total_value"))
      .orderBy(col("w_start"))

  /** q141: TRENDING detection — per-day event-type counts scored
    * against their own trailing-7-day mean (the burst/lift rule
    * behind "rising queries/items" features). The log collapses to a
    * (day × type)-bounded count table in one partial-agg shuffle;
    * the dense day grid (so zero-count days damp the lift — a
    * rows-preceding window over sparse counts would silently skip
    * them) comes from crossing the two TINY dimension aggregates,
    * broadcast — never a calendar join against the log. Lift divides
    * two exact integers (7·n vs trailing sum) — identical IEEE
    * division in both engines; round(,6) only for presentation. */
  def trendingTypes(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(floor(unix_timestamp(date_trunc("second", col("ts"))) / 86400L)
        .cast("long").as("day"), col("event_type"))
    // (days × types)-bounded aggregate; days/types DERIVE from it
    // (every ev row lands in exactly one counts group, so the
    // distinct day/type sets are identical) — the old distincts each
    // re-scanned the event log (opt r09 sweep: 3 scans → 1); the
    // three consumers share the agg's exchange
    val counts = ev.groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("n"))
    val days = counts.select(col("day")).distinct()
    val types = counts.select(col("event_type")).distinct()
    val grid = days.crossJoin(broadcast(types))
    val trail = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    grid.join(counts, Seq("day", "event_type"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("trail_n", sum(col("n")).over(trail))
      .withColumn("n_prior", count(lit(1)).over(trail))
      .filter(col("n_prior") === 7 && col("trail_n") > 0)
      .select(col("day"), col("event_type"), col("n"), col("trail_n"),
        round(col("n").cast("double") * 7.0d / col("trail_n").cast("double"), 6)
          .as("lift"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Exact per-group median of a double column as (lo+hi)/2 over the
    * middle rank(s) — PLAIN double arithmetic, no decimal bridge:
    * lo+hi is one correctly-rounded IEEE addition and /2 is exact, so
    * the value is bit-identical cross-engine even when the inputs
    * are arbitrary doubles (a DECIMAL(18,4) bridge here would ROUND
    * sub-4-decimal deviations, where Spark's HALF_UP and DuckDB's
    * cast rounding can differ). Shared by q143's median and its MAD
    * (median of |v − med|, whose inputs are full-precision doubles —
    * the case the decimal bridge can't carry). */
  private def medianBy(df: DataFrame, key: String, v: String, tie: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(v), col(tie))
    df.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col(key))))
      .filter(col("rn") === floor((col("cnt") + 1) / 2) ||
        col("rn") === floor(col("cnt") / 2) + 1)
      .groupBy(col(key))
      .agg(((min(col(v)) + max(col(v))) / 2.0d).as("med"))
  }

  /** q143: ROBUST anomaly detection — per-type median + MAD (median
    * absolute deviation) with a 3·MAD outlier rule, the
    * data-quality/drift gate that mean±3σ can't do on heavy-tailed
    * pipelines (one wild value drags the mean; the median shrugs).
    * Scale shape: two rank-selection passes over the SAME
    * event_type clustering (exact medians — q68's percentile_approx
    * sketch is the documented 100 TB path for both); the per-type
    * med/mad tables are |types|-bounded broadcasts back onto the
    * log. Floats: med and mad are (lo+hi)/2 in PLAIN doubles
    * ([[medianBy]] — bit-identical cross-engine); dev, 3·mad and the
    * compare are correctly-rounded IEEE on identical operands → the
    * outlier SET is exact, no epsilon. */
  /** THE per-type robust thresholds (med, mad) — ONE def shared by
    * q143's rollup, q163's per-event flags, and the ingest stream
    * (shared-rule discipline: the thresholds cannot drift). Output is
    * |types|-bounded AND deterministic → served as collected rows per
    * (session, corpus) (lever (j)): the two rank passes over the log
    * run once, not once per consumer per call — this is also
    * exactly the published model artifact the ingest stream scores
    * against in production. */
  private val madCache = graft.SessionRegistry.cache[(SparkSession, String),
    (org.apache.spark.sql.types.StructType, java.util.List[org.apache.spark.sql.Row])]()

  /** Registry-ceiling observability (PropertySpec): per-entry row
    * counts of the collected-rows artifacts held for the session. */
  private[graft] def collectedRegistryRows(spark: SparkSession): Seq[Int] =
    madCache.liveValues(spark).map(_._2.size)

  private[graft] def madThresholds(spark: SparkSession, dir: String): DataFrame = {
    val (schema, rows) = madCache.getOrElseUpdate((spark, dir), {
      val df = madThresholdsDerive(spark, dir)
      (df.schema, java.util.Arrays.asList(df.collect(): _*))
    })
    spark.createDataFrame(rows, schema)
  }

  private def madThresholdsDerive(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    val med = medianBy(e, "event_type", "value", "event_id")
    val withDev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = medianBy(
      withDev.select(col("event_type"), col("event_id"), col("dev")),
      "event_type", "dev", "event_id")
      .withColumnRenamed("med", "mad")
    med.join(mad, Seq("event_type"))
  }

  /** q163: per-EVENT robust outlier flags (the row-level verdicts
    * q143 only counts; the thresholds the ingest stream scores
    * against). Same exact-arithmetic argument as q143: med/mad are
    * (lo+hi)/2 plain doubles, dev and the 3·mad compare are
    * correctly-rounded IEEE on identical operands → the flag SET is
    * exact. One |types|-row broadcast onto the log. */
  def anomalyFlags(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(madThresholds(spark, dir)), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        (abs(col("value") - col("med")) > lit(3.0d) * col("mad"))
          .as("is_outlier"))
      .orderBy(col("event_id"))

  def anomalyMad(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .join(broadcast(madThresholds(spark, dir)), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3.0d) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_share",
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6))
      .orderBy(col("event_type"))

  /** q144: ordered FUNNEL-STEP conversion (signup → click →
    * purchase): each step's first timestamp must be AT OR AFTER the
    * previous step's — the event-analytics sequel to q85's corpus
    * funnel and q10's sessions. Scale shape: the log collapses to
    * per-user step times through three chained min-aggregations; the
    * step joins are user-keyed equi-joins of user-bounded tables
    * (they ride one user_id clustering — never a window over the raw
    * log per step); the summary crosses four single-row aggregates,
    * broadcast by construction. Rates divide exact integers → round
    * only for presentation. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val sec = unix_timestamp(date_trunc("second", col("ts")))
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), sec.as("sec"))
    val base = e.select(col("user_id")).distinct()
    val u1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("sec")).as("t1"))
    val u2 = e.filter(col("event_type") === "click")
      .join(u1, Seq("user_id")).filter(col("sec") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("sec")).as("t2"))
    val u3 = e.filter(col("event_type") === "purchase")
      .join(u2, Seq("user_id")).filter(col("sec") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("sec")).as("t3"))
    val counts = base.agg(count(lit(1)).as("n0"))
      .crossJoin(u1.agg(count(lit(1)).as("n1")))
      .crossJoin(u2.agg(count(lit(1)).as("n2")))
      .crossJoin(u3.agg(count(lit(1)).as("n3")))
    counts.selectExpr(
      """stack(4,
        |  0L, 'all_users', n0, round(cast(n0 as double) / cast(n0 as double), 6),
        |    round(cast(n0 as double) / cast(n0 as double), 6),
        |  1L, 'signup', n1, round(cast(n1 as double) / cast(n0 as double), 6),
        |    round(cast(n1 as double) / cast(n0 as double), 6),
        |  2L, 'click_after_signup', n2, round(cast(n2 as double) / cast(n1 as double), 6),
        |    round(cast(n2 as double) / cast(n0 as double), 6),
        |  3L, 'purchase_after_click', n3, round(cast(n3 as double) / cast(n2 as double), 6),
        |    round(cast(n3 as double) / cast(n0 as double), 6)
        |) as (step, step_name, n_users, rate_vs_prev, rate_vs_base)""".stripMargin)
      .orderBy(col("step"))
  }

  /** Snapshot diff (the CDC primitive of every incremental pipeline:
    * classify each key as added / removed / changed / unchanged
    * between two snapshot states). Both sides collapse to
    * (key, fingerprint) IN THE SCAN — the row payload never enters
    * the shuffle, so a 100 TB snapshot diffs by moving ~48 bytes per
    * row; the full-outer equi-join is one shuffle per side (or zero
    * with both snapshots bucketed on the key — sources/Sources
    * bucketed layout). Reference analog: the keep-first overwrite
    * semantics of data_frame_utils.py:31 applied across pipeline
    * runs (what changed since the last materialization). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      fingerprint: Column): DataFrame = {
    val o = oldDf.select(col(key), fingerprint.as("old_fp"))
    val n = newDf.select(col(key), fingerprint.as("new_fp"))
    o.join(n, Seq(key), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")))
  }

  /** q146: [[snapshotDiff]] wired to two deterministically-derived
    * views of the corpus (old = docs outside the %17 add-set, with
    * the %13 subset's text revised; new = docs outside the %19
    * drop-set) — every diff class exercised, every row value-checked
    * against the DuckDB oracle. md5 of the UTF-8 text is the
    * fingerprint (hex parity with DuckDB's md5(text)). */
  def snapshotDiffDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val oldSnap = docs.filter(col("doc_id") % 17 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 13 === 1, concat(col("text"), lit(" rev")))
          .otherwise(col("text")))
    val newSnap = docs.filter(col("doc_id") % 19 =!= 5)
    snapshotDiff(oldSnap, newSnap, "doc_id", md5(col("text").cast("binary")))
      .select(col("doc_id"), col("status"), col("old_fp"), col("new_fp"))
      .orderBy(col("doc_id"))
  }

  /** q147: CUBE over (order year, priority) with explicit per-column
    * grouping flags — the full-lattice OLAP twin of q104's ROLLUP and
    * q105's pivot. Flags are emitted as separate 0/1 columns (not a
    * packed grouping_id) so the oracle never depends on an engine's
    * bit-order convention. One shuffle; the 4-way lattice EXPAND runs
    * map-side before the partial aggregation, so the shuffle carries
    * only (lattice × groups × partitions) partial rows. Decimal
    * bridge on the price sum per the parity convention. */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_orderpriority"), col("o_totalprice"))
    o.cube(col("o_year"), col("o_orderpriority"))
      .agg(
        grouping(col("o_year")).cast("long").as("g_year"),
        grouping(col("o_orderpriority")).cast("long").as("g_pri"),
        count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .select(col("g_year"), col("g_pri"), col("o_year"),
        col("o_orderpriority"), col("n_orders"), col("total_price"))
      .orderBy(col("g_year"), col("g_pri"), col("o_year").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** q160: DATA-QUALITY EXPECTATIONS suite (deequ-style declarative
    * constraint checking — the CI gate in front of every training
    * run; completes q135's metric profile with pass/fail verdicts).
    * Check classes: completeness (null counts), uniqueness (count vs
    * distinct), domain (set membership), range (bound violations),
    * and referential integrity (FK orphans via anti-join — the one
    * check that must shuffle; everything else FUSES into one agg per
    * table, so the suite costs three column-pruned scans + one
    * id-only join at any scale). Two checks fail BY DESIGN on this
    * corpus so both verdict branches are value-checked. Metrics are
    * exact counts; `passed` = metric == 0 (violation convention) or
    * the stated compare. */
  def expectations(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_discount"))
    val liAgg = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("qty_null"),
      sum(when(col("l_quantity") < 1.0d || col("l_quantity") > 50.0d, 1L)
        .otherwise(0L)).as("qty_range"),
      sum(when(col("l_discount") < 0.0d || col("l_discount") > 0.1d, 1L)
        .otherwise(0L)).as("disc_range"),
      sum(when(col("l_quantity") > 40.0d, 1L).otherwise(0L)).as("qty_gt40"))
    val ordAgg = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_dupes"),
        sum(when(!col("o_orderstatus").isin("P", "O", "F"), 1L).otherwise(0L))
          .as("status_dom"))
    val orphans = li.select(col("l_orderkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("fk_orphans"))
    val evAgg = Tables.events(spark, dir)
      .select(col("value"))
      .agg(
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("val_null"),
        sum(when(col("value") > 400.0d, 1L).otherwise(0L)).as("val_gt400"))
    liAgg.crossJoin(ordAgg).crossJoin(orphans).crossJoin(evAgg)
      .selectExpr(
        """stack(9,
          |  'events_value_complete', val_null, val_null = 0L,
          |  'events_value_le_400', val_gt400, val_gt400 = 0L,
          |  'lineitem_discount_in_range', disc_range, disc_range = 0L,
          |  'lineitem_fk_orders', fk_orphans, fk_orphans = 0L,
          |  'lineitem_nonempty', n, n > 0L,
          |  'lineitem_quantity_complete', qty_null, qty_null = 0L,
          |  'lineitem_quantity_in_range', qty_range, qty_range = 0L,
          |  'lineitem_quantity_le_40', qty_gt40, qty_gt40 = 0L,
          |  'orders_orderkey_unique', pk_dupes, pk_dupes = 0L
          |) as (check_name, metric, passed)""".stripMargin)
      .orderBy(col("check_name"))
  }

  /** q159 path cutoff. */
  private[graft] val PathTopN = 25

  /** q159: SESSION PATH MINING — the top event-type TRIGRAM paths
    * across sessions (higher-order sequel to q125's first-order
    * transition matrix; the "what do users actually do" report
    * behind sequence recommenders). Scale shape: the lead windows
    * ride the SAME single user_id shuffle as [[sessioned]] (the
    * session-boundary guard is a lead of session_id, not a second
    * partitioning by (user, session) — that would re-shuffle);
    * path counts are a types³-bounded aggregate, the total is a
    * window over it (lever (g)), and the rank window sees only that
    * bounded table. Counts and shares are exact ints / one IEEE
    * division. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val paths = sessioned(spark, dir)
      .withColumn("t2", lead(col("event_type"), 1).over(byUser))
      .withColumn("t3", lead(col("event_type"), 2).over(byUser))
      .withColumn("s3", lead(col("session_id"), 2).over(byUser))
      .filter(col("s3") === col("session_id"))
      .select(concat_ws(" > ", col("event_type"), col("t2"), col("t3"))
        .as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy(lit(1))))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("path"))).cast("long"))
      .filter(col("rank") <= PathTopN)
      .select(col("rank"), col("path"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"))
      .orderBy(col("rank"))
  }

  /** q154: exact NEAREST-RANK quantile bands (p25/p50/p75/p90) per
    * event type — the SLO/latency-report shape. Nearest-rank
    * (ceil(q·n), type-1) SELECTS an observed value instead of
    * interpolating, so there is NO float arithmetic anywhere: rank
    * targets are exact integer ceil-divisions and the band values
    * are order statistics picked by conditional min — bit-identical
    * cross-engine by construction. One rank pass over the
    * event_type clustering (same shape as q143's medians; q68's
    * sketch remains the documented 100 TB path when exactness can
    * be traded). */
  def quantileBands(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    def atRank(pct: Int): Column =
      min(when(col("rn") === expr(s"($pct * cnt + 99) div 100"), col("value")))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("cnt")).as("n"),
        atRank(25).as("p25"), atRank(50).as("p50"),
        atRank(75).as("p75"), atRank(90).as("p90"))
      .orderBy(col("event_type"))
  }

  // ---- q202: bot-rate audit ----------------------------------------

  /** Flag thresholds: sub-[[BotMinGapS]]-second adjacent events or
    * ≥ [[BotHourlyBurst]] events inside one clock hour mark automated
    * traffic (human browse gaps are minutes; the gate corpora's
    * organic minimum is ~8 s at sf0.01, so the gap rule FIRES there);
    * the q202 oracle interpolates both. */
  private[graft] val BotMinGapS = 10L
  private[graft] val BotHourlyBurst = 30L

  /** q202: per-user BOT-RATE audit on the event log — the traffic
    * hygiene every interaction-derived signal depends on: automated
    * clients poison the click graph BEFORE it reaches training
    * (q47's labels, q52/q107's factors, q145/q153's link scores,
    * q157/q191's eval), so users are fingerprinted (event count,
    * active span, minimum inter-event gap, busiest-hour burst, mean
    * daily rate) and flagged by the interpolated rules — the event-
    * log sibling of q72's content-side Gopher filter.
    *
    * Scale shape: one scan of a 3-column projection; the gap needs
    * adjacency, so it is a lag window PARTITIONED BY user (a keyed
    * shuffle — never the global-window antipattern; a hot automated
    * key is exactly what AQE skew-split handles, and the flag output
    * is |users|-bounded); the hourly burst is a two-level
    * (user, hour)→(user) count rollup with map-side combine. Float
    * discipline: events_per_day = exact int64 product n·86400 cast
    * once, one IEEE division (lever (c)); span-0 (single-event user)
    * → null rate (lever (q)); single-event users have no gap → null
    * min_gap, and the flag coalesces it to false. */
  def botAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsec"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec"), col("event_id"))
    val byUser = ev
      .withColumn("gap", col("tsec") - lag(col("tsec"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("tsec")) - min(col("tsec"))).as("span_s"),
        min(col("gap")).as("min_gap_s"))
    val hourly = ev
      .groupBy(col("user_id"), expr("tsec div 3600").as("hid"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(max(col("c")).cast("long").as("max_hour_events"))
    byUser.join(hourly, Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("span_s"),
        col("min_gap_s"), col("max_hour_events"),
        when(col("span_s") === 0L, lit(null).cast("double"))
          .otherwise((col("n_events") * lit(86400L)).cast("double") /
            col("span_s").cast("double")).as("events_per_day"),
        (coalesce(col("min_gap_s") < BotMinGapS, lit(false)) ||
          col("max_hour_events") >= BotHourlyBurst).as("is_bot"))
      .orderBy(col("user_id"))
  }

  /** The q202 oracle, generated from the flag constants — identical
    * lag window (ts, event_id order), identical hour bucketing. */
  private[graft] def botAuditOracleSql: String =
    s"""WITH e AS (
      |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec,
      |    event_id
      |  FROM events),
      |g AS (
      |  SELECT user_id, tsec,
      |    tsec - LAG(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS gap
      |  FROM e),
      |u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(MAX(tsec) - MIN(tsec) AS BIGINT) AS span_s,
      |    CAST(MIN(gap) AS BIGINT) AS min_gap_s
      |  FROM g GROUP BY 1),
      |h AS (SELECT user_id, tsec // 3600 AS hid, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |hm AS (SELECT user_id, CAST(MAX(c) AS BIGINT) AS max_hour_events FROM h GROUP BY 1)
      |SELECT u.user_id, n_events, span_s, min_gap_s, max_hour_events,
      |  CASE WHEN span_s = 0 THEN NULL
      |    ELSE CAST(n_events * 86400 AS DOUBLE) / CAST(span_s AS DOUBLE) END AS events_per_day,
      |  (COALESCE(min_gap_s < $BotMinGapS, FALSE)
      |    OR max_hour_events >= $BotHourlyBurst) AS is_bot
      |FROM u JOIN hm ON u.user_id = hm.user_id
      |ORDER BY u.user_id""".stripMargin

  /** The key families q237 audits and the salting flag threshold —
    * ONE spec list serving the Spark plan AND the generated oracle
    * (lever (t)); the threshold is a named constant (lever (s)). */
  private[graft] val SkewFamilies: Seq[(String, String)] =
    Seq(("events", "user_id"), ("events", "event_type"),
      ("documents", "source"))
  private[graft] val SaltTop1Share = 0.2

  /** q237: KEY-SKEW AUDIT — per join/groupBy key family: key count,
    * row count, top-1/top-10 key mass and shares, the skew ratio
    * (top-1 count ÷ mean per key), and the salting recommendation.
    * This is the decision table in FRONT of every shuffle-key choice
    * at 100 TB: AQE's skew split is a BYTES test that a hot
    * compressible key never fires (the documented SourcesSkewSpec
    * caveat), so the pipeline needs the measured top-key shares
    * BEFORE it picks salting (the q78-family hash salts) vs relying
    * on AQE.
    *
    * Scale shape: per family, one scan + a slim (key, count) shuffle;
    * top-1/top-10 are a MAX and a TakeOrdered(10) over the count
    * table — never a global sort (lever (h): the oracle states the
    * rank window, the plan runs the bounded heap). Shares/ratio are
    * pinned-order IEEE ops on exact longs (levers (c)/(x)); the flag
    * is a raw-threshold compare (lever (c), the q95 precedent). */
  def skewAudit(spark: SparkSession, dir: String): DataFrame = {
    def tableOf(name: String): DataFrame = name match {
      case "events" => Tables.events(spark, dir)
      case "documents" => Tables.documents(spark, dir)
    }
    val fams = SkewFamilies.map { case (table, key) =>
      // ONE aggregation per family (opt r09: the separate top-10
      // TakeOrdered consumed the count table a second time — 2 base
      // scans per family): the top-10 MASS rides the same agg as the
      // stats through a bounded TopKByKey heap. Ties at the heap
      // boundary have EQUAL counts, so the top-10 SUM is identical
      // to the oracle's ORDER BY c DESC, k LIMIT 10 regardless of
      // which tied key the heap keeps (lever (h): the oracle states
      // the rank, the plan runs the heap); counts are exact longs
      // < 2^53, so the ≤10-term double sum is exact.
      tableOf(table)
        .groupBy(col(key).cast("string").as("k"))
        .agg(count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("top1_rows"),
          graft.plans.TopKByKey.topK(10)(lit(0L), col("c").cast("double"))
            .as("t"))
        .select(lit(s"$table.$key").as("key_col"),
          col("n_keys"), col("n_rows"), col("top1_rows"),
          coalesce(aggregate(col("t"), lit(0.0d),
            (a, e) => a + e.getField("score")), lit(0.0d))
            .cast("long").as("top10_rows"))
    }
    fams.reduce(_ unionByName _)
      .withColumn("top1_share",
        col("top1_rows").cast("double") / col("n_rows").cast("double"))
      .withColumn("top10_share",
        col("top10_rows").cast("double") / col("n_rows").cast("double"))
      .withColumn("skew_ratio",
        col("top1_rows").cast("double") / col("n_rows").cast("double")
          * col("n_keys").cast("double"))
      .withColumn("salt_recommended", col("top1_share") > SaltTop1Share)
      .orderBy(col("key_col"))
  }

  /** The q237 oracle — per-family CTE triples generated from the
    * SAME SkewFamilies list; the top-10 stated as ORDER BY/LIMIT
    * (value-equal to the plan's bounded heap). */
  private[graft] def skewAuditOracleSql: String = {
    val fams = SkewFamilies.zipWithIndex.map { case ((table, key), i) =>
      s"""e$i AS (SELECT CAST($key AS VARCHAR) AS k FROM $table),
         |c$i AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM e$i GROUP BY k),
         |s$i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(c) AS BIGINT) AS n_rows, CAST(MAX(c) AS BIGINT) AS top1_rows FROM c$i),
         |t$i AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS top10_rows
         |  FROM (SELECT c FROM c$i ORDER BY c DESC, k LIMIT 10)),
         |r$i AS (SELECT '$table.$key' AS key_col, s$i.*, t$i.* FROM s$i, t$i)""".stripMargin
    }
    val union = SkewFamilies.indices.map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    s"""WITH ${fams.mkString(",\n")}
       |SELECT key_col, n_keys, n_rows, top1_rows, top10_rows,
       |  CAST(top1_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1_share,
       |  CAST(top10_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top10_share,
       |  CAST(top1_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) * CAST(n_keys AS DOUBLE) AS skew_ratio,
       |  CAST(top1_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) > $SaltTop1Share AS salt_recommended
       |FROM ($union) ORDER BY key_col""".stripMargin
  }
}
