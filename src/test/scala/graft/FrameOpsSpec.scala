package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTest {
  /** The one session every spec runs on: the configuration that ships. */
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** One per-JVM dir for every spec fixture, deleted at exit. */
  private lazy val fixtures: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-spec-")
    sys.addShutdownHook(
      org.apache.spark.sql.graftshim.LocalDirShim.deleteRecursively(d.toFile))
    d
  }

  /** A new, empty fixture dir named by `prefix`. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(fixtures, prefix)

  /** True when Spark's cache manager holds no persisted plan: no call
    * left a frame persisted past its return. */
  def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}

class FrameOpsSpec extends AnyFunSuite {
  import SparkTest._

  test("every declared query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      // toRdd computes every output column; count() would let
      // Catalyst prune a column that throws
      val n = fn(spark, sf).queryExecution.toRdd.count()
      assert(n > 0, s"$name returned 0 rows")
      assert(cacheManagerEmpty, s"$name left a persisted frame in the cache manager")
    }
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries entry: $missing")
  }

  test("pricing summary aggregates correctly") {
    val rows = operators.FrameOps.pricingSummary(spark, sf).collect()
    assert(rows.length >= 4)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val li = Tables.lineitem(spark, sf)
    import org.apache.spark.sql.functions._
    val expected = li.filter(col("l_shipdate") <= lit("2000-12-31 00:00:00").cast("timestamp")).count()
    assert(total == expected)
  }

  test("train/test split is deterministic and complete") {
    val rows = operators.FrameOps.trainTestSplit(spark, sf).collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    assert(n == Tables.orders(spark, sf).count())
  }

  test("native session_window agrees with the lag+cumsum rule user for user") {
    // q10 and q131 implement the SAME split boundary (gap > 1800 s)
    // through different operators — their per-user session and event
    // counts must be identical
    val lagRule = operators.FrameOps.sessionize(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Number]("n_sessions").longValue,
        r.getAs[Number]("n_events").longValue))).toMap
    val native = operators.FrameOps.sessionWindow(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Number]("n_sessions").longValue,
        r.getAs[Number]("n_events").longValue))).toMap
    assert(lagRule.keySet == native.keySet)
    lagRule.foreach { case (u, v) => assert(native(u) == v, s"user $u") }
  }

  test("sessionize: session count never exceeds event count") {
    val rows = operators.FrameOps.sessionize(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sessions") <= r.getAs[Long]("n_events"))
    }
  }

  test("median sketch tracks the exact per-group median within 1%") {
    val exact = operators.FrameOps.medianByGroup(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val approx = operators.FrameOps.medianSketch(spark, sf).collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (exactMedian, n) = exact(r.getString(0))
      assert(r.getLong(2) == n)
      val relErr = math.abs(r.getDouble(1) - exactMedian) / exactMedian
      assert(relErr <= 0.01,
        s"${r.getString(0)}: approx ${r.getDouble(1)} vs exact $exactMedian (err $relErr)")
    }
  }

  test("filter+project plan pushes filters into the parquet scan") {
    val plan = operators.FrameOps.filterProject(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("p_size"),
      s"expected parquet pushdown in plan:\n$plan")
  }

  test("snapshot diff covers every key once, exercises all classes, and is reflexive") {
    import org.apache.spark.sql.functions._
    val out = operators.FrameOps.snapshotDiffDocs(spark, sf)
    val by = out.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("added", "removed", "changed", "unchanged").subsetOf(by.keySet),
      s"missing diff classes in $by")
    // output keys = union of the two snapshots' key sets, each once
    val docs = Tables.documents(spark, sf)
    val nKeys = docs
      .filter(col("doc_id") % 17 =!= 3 || col("doc_id") % 19 =!= 5).count()
    assert(out.count() == nKeys)
    // diff of a snapshot against itself is all-unchanged
    val self = operators.FrameOps.snapshotDiff(docs, docs, "doc_id",
      md5(col("text").cast("binary")))
    assert(self.filter(col("status") =!= "unchanged").count() == 0)
  }

  test("quantile bands are monotone observed values straddling the exact median") {
    import org.apache.spark.sql.functions._
    val bands = operators.FrameOps.quantileBands(spark, sf).collect()
    assert(bands.nonEmpty)
    val values = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getDouble(1)).toSet }
    bands.foreach { r =>
      val t = r.getString(0)
      val bs = Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      bs.zip(bs.tail).foreach { case (a, b) => assert(a <= b, s"$t bands not monotone") }
      // nearest-rank quantiles SELECT observed values
      bs.foreach(v => assert(values(t).contains(v), s"$t band $v not observed"))
    }
  }

  test("q166 extract list: concatenated chunks reproduce the full ordered column") {
    import org.apache.spark.sql.functions._
    val chunks = operators.FrameOps.extractList(spark, sf).collect()
    // chunk ids strictly increasing (the concatenation order)
    val ids = chunks.map(_.getAs[Long]("chunk_id"))
    assert(ids.sameElements(ids.sorted))
    assert(chunks.map(_.getAs[Long]("n_values")).sum ==
      Tables.customer(spark, sf).count())
    val rebuilt = chunks.flatMap(_.getAs[String]("vals").split(",")).toSeq
    val expected = Tables.customer(spark, sf)
      .orderBy(col("c_custkey")).select(col("c_name"))
      .collect().map(_.getString(0)).toSeq
    assert(rebuilt == expected, "chunk concatenation is not the ordered column")
  }

  test("q167 profile sketch: cardinalities within 3*rsd of exact, rest identical") {
    val exact = operators.FrameOps.profile(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val sk = operators.FrameOps.profileSketch(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(sk.keySet == exact.keySet)
    for ((colName, e) <- exact) {
      val s = sk(colName)
      // sketched: n_distinct within 3*rsd (= 6%) of exact
      val (de, ds) = (e.getDouble(3), s.getDouble(3))
      assert(math.abs(ds - de) <= 0.06 * de + 1e-9,
        s"$colName sketch distinct $ds vs exact $de")
      // everything else identical (same single-scan agg definition)
      for (i <- Seq(1, 2, 4, 5, 6))
        assert(s.getDouble(i) == e.getDouble(i), s"$colName metric $i differs")
    }
  }

  test("q170 pseudonymization: pid injective, K respected, no raw id in output") {
    import org.apache.spark.sql.functions._
    val out = operators.FrameOps.pseudonymize(spark, sf)
    // x → x·c mod p is a bijection on [0, p) → distinct users stay
    // distinct under the pseudonym (no accidental k-degradation)
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(out.select(col("pid")).distinct().count() == nUsers)
    val k = operators.FrameOps.AnonK
    assert(out.filter(col("released") && col("n_users_in_group") < k).count() == 0)
    assert(out.filter(!col("released") && col("n_users_in_group") >= k).count() == 0)
    // the direct identifier must not survive into the released schema
    assert(!out.columns.contains("user_id"))
  }

  test("cube lattice: every level re-aggregates to the same total") {
    val out = operators.FrameOps.cubeSummary(spark, sf).collect()
    val total = Tables.orders(spark, sf).count()
    def level(gy: Long, gp: Long) =
      out.filter(r => r.getLong(0) == gy && r.getLong(1) == gp)
    assert(level(1, 1).length == 1)
    for ((gy, gp) <- Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L))) {
      assert(level(gy, gp).map(_.getAs[Long]("n_orders")).sum == total,
        s"lattice level ($gy,$gp) does not cover all orders")
    }
  }

  test("q208 growth trajectory is internally consistent with the commit ops") {
    val rows = graft.sources.Sources.storeGrowth(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == (1L to graft.sources.Sources.StoreVersions).toSet)
    // v1 bootstraps the corpus: live == upserts, no deltas yet
    assert(rows(1L).getLong(4) == rows(1L).getLong(2))
    assert(rows(1L).isNullAt(6) && rows(1L).isNullAt(7))
    // v2's upserts all REVISE existing docs, so the doc delta is
    // exactly -deletes; v3's upserts all RESURRECT deleted docs
    assert(rows(2L).getLong(6) == -rows(2L).getLong(3))
    assert(rows(3L).getLong(6) == rows(3L).getLong(2))
    // commit-row accounting: rows = upserts + deletes at every version
    rows.values.foreach(r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3)))
  }

  // planted event-log helper for the q201/q202 audits: the gate
  // corpora are organic, so the flag branches are pinned on
  // TESTDATA-independent synthetic logs (the NfcIngestSpec pattern)
  private def plantEvents(rows: Seq[(Long, Long, Long, String, String)]): String = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = SparkTest.tempDir("events_plant").toString
    rows.toDF("event_id", "tsec", "user_id", "event_type", "props")
      .withColumn("ts", timestamp_seconds(col("tsec"))).drop("tsec")
      .withColumn("value", lit(0.0d))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("q201 temporal split: planted cold user and cold item are charged to eval") {
    // span 0..100000 s -> boundary at 80000; train = {u10:i1, u11:i2};
    // eval = u12 (cold user) on warm i1, u10 (warm) on cold i99, plus
    // two warm-on-warm events
    def click(item: Long) = s"""{"k": $item}"""
    val dir = plantEvents(Seq(
      (1L, 0L, 10L, "click", click(1)),
      (2L, 50000L, 11L, "click", click(2)),
      (3L, 85000L, 12L, "click", click(1)),
      (4L, 90000L, 10L, "click", click(1)),
      (5L, 95000L, 10L, "click", click(99)),
      (6L, 100000L, 11L, "click", click(2)),
      // non-click noise must not enter the audit
      (7L, 99999L, 99L, "view", "{}")))
    val out = operators.WordItemApp.temporalSplit(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(out("user") == ((2L, 4L, 1L, 1L, 0.25d)), out.toString)
    assert(out("item") == ((2L, 4L, 1L, 1L, 0.25d)), out.toString)
  }

  test("q202 bot audit: planted bot flagged by both rules, humans and singletons pass") {
    val rows =
      (0 until 30).map(i => ((100 + i).toLong, i * 3600L, 1L, "view", "{}")) ++
        (0 until 40).map(i => ((200 + i).toLong, 1000L + i, 2L, "view", "{}")) ++
        Seq((300L, 500L, 3L, "view", "{}"))
    val out = operators.FrameOps.botAudit(spark, plantEvents(rows)).collect()
      .map(r => r.getLong(0) -> r).toMap
    // human: hourly cadence, never flagged
    assert(!out(1L).getBoolean(6))
    assert(out(1L).getLong(3) == 3600L)
    // bot: 1 s gaps AND a 40-event hour burst
    assert(out(2L).getBoolean(6))
    assert(out(2L).getLong(3) == 1L)
    assert(out(2L).getLong(4) == 40L)
    // singleton: no gap, no span -> null-guarded, not flagged
    assert(out(3L).isNullAt(3) && out(3L).isNullAt(5))
    assert(!out(3L).getBoolean(6))
  }
}
