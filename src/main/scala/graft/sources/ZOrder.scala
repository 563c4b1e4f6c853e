package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SessionRegistry.Artifact
import graft.Tables

/** q132: Z-order (Morton-curve) clustered write layout — the
  * data-skipping axis beyond hive partition pruning (q19) and
  * bucketing (Sources.bucketedJoin). A layout range-partitioned and
  * sorted on ONE column only skips row groups for predicates on that
  * column; a multi-dimensional box query (user × time here) still
  * reads every file on the unsorted dimension. Clustering on the
  * interleaved-bit Morton key gives every file a tight min/max range
  * in BOTH dimensions at once, so the ordinary pushed-down column
  * predicates (no z-key needed at read time!) let parquet row-group
  * statistics prune most of the table. At 100 TB this is the
  * difference between "scan the month" and "scan the month × the
  * user shard you asked about" — the write-side cost is one extra
  * range shuffle at ingest.
  *
  * Reference analog: the reference's pandas pipelines materialize
  * filtered frames per task (redshells/data/load_existing_file.py);
  * this is the lake-layout equivalent that keeps the filter cheap at
  * scale. Row-group skipping is MEASURED in SourcesSkewSpec: the
  * same box predicate intersects strictly fewer row-group stat
  * ranges in the z layout than in a time-sorted control layout
  * written from the identical frame.
  */
object ZOrder {

  /** Files per layout: stands in for "row groups across a fleet of
    * files" at test scale (each small file = one row group). */
  private[graft] val ZFiles = 16

  /** Classic Morton bit-spread: the low 16 bits of x move to the
    * even bit positions of a 32-bit value. Pure bitwise Column
    * arithmetic — whole-stage codegen, no UDF. */
  private def spread16(x: Column): Column = {
    val a = x.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit z-value of two dimensions normalized onto a 2^16 grid.
    * Normalization only steers the LAYOUT (a cell-boundary ulp here
    * moves a row to the neighboring file, never changes an answer),
    * so double division is fine. Values OUTSIDE the anchor range
    * clamp to the edge cells: an appended batch keyed with the
    * store's FROZEN grid (q134) must land at the grid border, not
    * wrap around the bit mask. */
  private[graft] def zkey(x: Column, xMin: Long, xMax: Long,
      y: Column, yMin: Long, yMax: Long): Column = {
    def norm(c: Column, mn: Long, mx: Long): Column =
      greatest(lit(0L), least(lit(65535L),
        floor(((c - lit(mn)) * lit(65535L)).cast("double") /
          lit(math.max(mx - mn, 1L).toDouble)).cast("long")))
    spread16(norm(x, xMin, xMax))
      .bitwiseOR(shiftleft(spread16(norm(y, yMin, yMax)), 1))
  }

  private def eventsWithSec(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"),
        graft.operators.FrameOps.intervalSec(col("ts")).as("sec"))

  /** Bounded driver-side stats action (4 longs — scheduler-metadata-
    * sized, per CLAUDE.md's documented-bounded-work rule): the
    * dimension ranges that anchor the z grid and the query box. */
  private val statsCache =
    graft.SessionRegistry.cache[(SparkSession, String), (Long, Long, Long, Long)]()
  private[graft] def stats(spark: SparkSession, dir: String): (Long, Long, Long, Long) =
    statsCache.getOrElseUpdate((spark, dir), {
      val r = eventsWithSec(spark, dir)
        .agg(min(col("user_id")), max(col("user_id")),
          min(col("sec")), max(col("sec"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    })

  /** One-time-per-(session, dir) disk artifact: the z-clustered
    * layout plus a time-sorted control layout written from the SAME
    * frame (the control is what a reasonable single-dimension ingest
    * would produce — the skipping spec measures z against it). */
  private[graft] def layouts(spark: SparkSession, dir: String): Artifact =
    graft.SessionRegistry.artifact(spark, "zorder", dir) { base =>
      val (umin, umax, tmin, tmax) = stats(spark, dir)
      val ev = eventsWithSec(spark, dir)
      ev.withColumn("zkey",
          zkey(col("user_id"), umin, umax, col("sec"), tmin, tmax))
        .repartitionByRange(ZFiles, col("zkey"))
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.parquet(s"$base/z")
      ev.repartitionByRange(ZFiles, col("sec"))
        .sortWithinPartitions("sec")
        .write.parquet(s"$base/linear")
    }

  /** The 2-D query box: the middle [25%, 50%] of each dimension
    * range, in exact integer arithmetic (both engines: truncating
    * div on non-negative ranges). */
  private[graft] def box(spark: SparkSession, dir: String): (Long, Long, Long, Long) = {
    val (umin, umax, tmin, tmax) = stats(spark, dir)
    (umin + (umax - umin) / 4, umin + (umax - umin) / 2,
      tmin + (tmax - tmin) / 4, tmin + (tmax - tmin) / 2)
  }

  /** Hash residue marking the "arriving batch" slice of events for
    * the incremental q134 — the same batch-membership convention as
    * the corpus operators (CorpusOps.batchPredicate), on event_id. */
  private[graft] def eventBatchPredicate: Column =
    pmod(xxhash64(col("event_id")), lit(10)) === 3

  /** q134's disk artifact: the STORE z-layout (everything except the
    * arriving batch) plus the batch appended as its own z-clustered
    * delta files — keyed with the store's FROZEN grid anchors (a
    * moving grid would silently re-map every existing cell; clamping
    * handles out-of-range arrivals). Every file in the merged dir —
    * original or delta — covers a tight z range, so box skipping
    * survives the append without rewriting the store
    * (SourcesSkewSpec measures the merged layout). This is the
    * steady-state write side of the layout, the same role q109 plays
    * for the curated funnel. */
  private[graft] def appendedLayout(spark: SparkSession, dir: String): Artifact =
    graft.SessionRegistry.artifact(spark, "zappend", dir) { base =>
      val ev = eventsWithSec(spark, dir)
      val store = ev.filter(!eventBatchPredicate)
      val batch = ev.filter(eventBatchPredicate)
      // frozen anchors = the store's ranges (one bounded 4-long agg)
      val s = store.agg(min(col("user_id")), max(col("user_id")),
        min(col("sec")), max(col("sec"))).head()
      val (umin, umax, tmin, tmax) =
        (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))
      def withZ(df: DataFrame): DataFrame = df.withColumn("zkey",
        zkey(col("user_id"), umin, umax, col("sec"), tmin, tmax))
      withZ(store)
        .repartitionByRange(ZFiles, col("zkey"))
        .sortWithinPartitions("zkey").drop("zkey")
        .write.parquet(s"$base/merged")
      withZ(batch)
        .repartitionByRange(math.max(ZFiles / 4, 2), col("zkey"))
        .sortWithinPartitions("zkey").drop("zkey")
        .write.mode("append").parquet(s"$base/merged")
    }

  /** q134 query: q132's box aggregate answered from the APPENDED
    * layout (store + delta files = the whole events table, so the
    * answer hash-matches q132's oracle on the original table —
    * read-back fidelity of the incremental write path). */
  def zorderAppendScan(spark: SparkSession, dir: String): DataFrame = {
    val (ulo, uhi, tlo, thi) = box(spark, dir)
    appendedLayout(spark, dir).read("merged")
      .filter(col("user_id").between(ulo, uhi) &&
        col("sec").between(tlo, thi))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  /** q132 query: aggregate over the box READ FROM THE Z LAYOUT with
    * plain pushed-down column predicates — the answer hash-matches
    * the DuckDB oracle computed on the original events table, proving
    * the re-layout is content-preserving; the skipping win is
    * measured separately in SourcesSkewSpec. */
  def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    val (ulo, uhi, tlo, thi) = box(spark, dir)
    layouts(spark, dir).read("z")
      .filter(col("user_id").between(ulo, uhi) &&
        col("sec").between(tlo, thi))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }
}
