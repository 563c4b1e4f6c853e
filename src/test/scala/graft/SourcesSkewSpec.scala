package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{FrameOps, Skew}
import graft.sources.Sources

class SourcesSkewSpec extends AnyFunSuite {
  import SparkTest._

  test("bucketed join plans without a shuffle on the bucketed key") {
    val df = Sources.bucketedJoin(spark, sf)
    val joinPlan = df.queryExecution.executedPlan.toString
    // the join itself must not re-exchange the bucketed relations:
    // the only Exchange allowed is the final small groupBy
    val joinSection = joinPlan.split("HashAggregate").last
    assert(joinSection.contains("SortMergeJoin"), joinPlan)
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"), joinPlan)
    assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"), joinPlan)
    // and results must match the plain join
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus")).collect().toSeq
    assert(df.collect().toSeq == expected)
  }

  test("partitioned sink: filtered read prunes to matching partitions") {
    import org.apache.spark.sql.functions._
    Sources.partitionedSink(spark, sf) // the write happens eagerly here
    val part = SessionRegistry.builtArtifact(spark, "part", sf).get
    // assert pruning on the PRODUCT read path, not a hand-built query
    val product = Sources.partitionedRead(part)
    val plan = product.queryExecution.executedPlan.toString
    assert(plan.contains("IN (click,purchase)") &&
      plan.contains("PartitionFilters: [event_type"), plan)
    assert(plan.contains("PushedFilters: []"), plan)
  }

  test("stream-stream click->purchase join matches the batch join") {
    import org.apache.spark.sql.functions._
    val staged = SparkTest.tempDir("ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = graft.streaming.StreamOps.clickPurchaseJoin(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ev = Tables.events(spark, sf)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      val batch = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("salted join matches the plain join result") {
    val fact = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"), col("l_linenumber"))
    val dim = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val salted = Skew.saltedJoin(fact, dim, "l_orderkey", col("l_linenumber"), 4)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus")).collect().toSeq
    val plain = fact.join(dim, Seq("l_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus")).collect().toSeq
    assert(salted == plain)
  }

  /** Skewed-hot-key fixture: half of all order keys collapse onto
    * key 1, so one join partition holds ~50% of the fact rows — the
    * celebrity-key regime the skew machinery exists for. */
  private def skewedFact(s: org.apache.spark.sql.SparkSession) =
    Tables.lineitem(s, sf).select(
      when(pmod(col("l_orderkey"), lit(2)) === 0, lit(1L))
        .otherwise(col("l_orderkey")).as("k"),
      col("l_quantity"),
      // incompressible payload: with only (constant key, small-int
      // quantity) columns, shuffle compression flattens the hot
      // partition to the same byte size as the rest and skew
      // DETECTION (a bytes test) never fires
      md5(concat_ws("-", col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))).as("payload"))
  /** Dim side with naturally unique keys and NO post-shuffle
    * aggregate: OptimizeSkewedJoin only matches a join whose sides
    * are shuffle(+sort) directly — an agg/distinct between shuffle
    * and join breaks the pattern and silently disables the split. */
  private def skewedDim(s: org.apache.spark.sql.SparkSession) =
    Tables.orders(s, sf).select(col("o_orderkey").as("k"),
      length(col("o_orderstatus")).cast("long").as("dim_n"))

  test("AQE skew join splits the hot-key partition (skew=true) with exact parity") {
    // isolated conf: newSession shares the context but not SQLConf,
    // so tuning AQE thresholds can't leak into parallel suites
    val ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    ns.conf.set("spark.sql.adaptive.enabled", "true")
    ns.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ns.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    ns.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
    ns.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    ns.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // pin explicitly: the median-based skew-detection geometry below
    // is tuned for 4 reduce partitions
    ns.conf.set("spark.sql.shuffle.partitions", "4")
    // downstream must NOT require the join's hash partitioning (a
    // groupBy(k) right after would make AQE refuse to split the
    // partition) — a global rollup is the splittable-consumer shape
    // the single-file scan gives ONE map task, and skew splits happen
    // at mapper-block granularity — spread the fact over 8 mappers so
    // the hot reduce partition is actually divisible
    val joined = skewedFact(ns).repartition(8).join(skewedDim(ns), Seq("k"))
      .agg(count(lit(1)).as("n"), sum(col("dim_n")).as("s"),
        sum(col("l_quantity").cast("decimal(18,4)")).as("q"),
        max(col("payload")).as("p")) // keeps payload from being pruned
    val got = joined.collect().head // collect() runs THIS df's queryExecution (head() would plan a separate limit query and leave this plan unexecuted)
    // the runtime plan must have split the skewed partition
    assert(joined.queryExecution.executedPlan.toString.contains("skew=true"),
      joined.queryExecution.executedPlan.toString.take(2000))
    // parity with the default-session plain join
    val exp = skewedFact(spark).join(skewedDim(spark), Seq("k"))
      .agg(count(lit(1)).as("n"), sum(col("dim_n")).as("s"),
        sum(col("l_quantity").cast("decimal(18,4)")).as("q"),
        max(col("payload")).as("p"))
      .head()
    assert(got == exp)
    // and the fixture is really skewed: hot key 1 holds >1000 rows
    val hot = skewedFact(spark).filter(col("k") === 1L).count()
    assert(hot > 1000, s"fixture not skewed: hot key has $hot rows")
  }

  test("salting spreads the hot key over buckets (bounded reducer share)") {
    val fact = skewedFact(spark)
    val buckets = 8
    val perKeyMax = fact.groupBy(col("k")).count()
      .agg(max(col("count"))).head.getLong(0)
    // same deterministic salt rule as Skew.saltedJoin
    val perSaltedMax = fact
      .withColumn("s", pmod(hash(col("l_quantity")), lit(buckets)))
      .groupBy(col("k"), col("s")).count()
      .agg(max(col("count"))).head.getLong(0)
    assert(perKeyMax > 1000, s"fixture not skewed: max key group $perKeyMax")
    assert(perSaltedMax <= perKeyMax / 3,
      s"salt did not spread the hot key: $perSaltedMax vs $perKeyMax")
    // and the salted join still returns the exact plain-join result
    val dim = skewedDim(spark)
    val salted = Skew.saltedJoin(fact, dim, "k", col("l_quantity"), buckets)
      .agg(count(lit(1)).as("n"), sum(col("dim_n")).as("s")).head()
    val plain = fact.join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"), sum(col("dim_n")).as("s")).head()
    assert(salted == plain)
  }

  test("sketch distinct counts are within 10% of exact") {
    val exact = FrameOps.distinctExact(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    FrameOps.distinctSketch(spark, sf).collect().foreach { r =>
      val (eo, ep) = exact(r.getString(0))
      assert(math.abs(r.getLong(1) - eo).toDouble / eo <= 0.1)
      assert(math.abs(r.getLong(2) - ep).toDouble / ep <= 0.1)
    }
  }

  test("asof join: every user's events are counted once") {
    val out = FrameOps.asofJoin(spark, sf)
    val n = out.agg(sum("n_events")).head.getLong(0)
    assert(n == Tables.events(spark, sf).count())
  }

  test("z-order layout: box query intersects fewer row-group stat ranges than the time-sorted control") {
    import scala.jdk.CollectionConverters._
    import graft.sources.ZOrder
    val base = ZOrder.layouts(spark, sf).path
    val (ulo, uhi, tlo, thi) = ZOrder.box(spark, sf)
    // count row groups whose [min,max] column stats CAN contain box
    // rows — exactly the set a stats-driven reader must fetch
    def intersecting(dir: String): (Int, Int) = {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      val files = fs.listStatus(p).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      var total = 0
      var hit = 0
      files.foreach { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try rd.getFooter.getBlocks.asScala.foreach { b =>
          total += 1
          def range(name: String): (Long, Long) = {
            val c = b.getColumns.asScala
              .find(_.getPath.toDotString == name).get
            val st = c.getStatistics
              .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
            (st.getMin, st.getMax)
          }
          val (umn, umx) = range("user_id")
          val (tmn, tmx) = range("sec")
          if (!(umx < ulo || umn > uhi || tmx < tlo || tmn > thi)) hit += 1
        } finally rd.close()
      }
      (hit, total)
    }
    val (zHit, zTot) = intersecting(s"$base/z")
    val (lHit, lTot) = intersecting(s"$base/linear")
    // the incremental append (q134): store z-files + batch delta
    // z-files keyed with the store's frozen grid — skipping must
    // survive the append without a store rewrite
    val merged = graft.sources.ZOrder.appendedLayout(spark, sf).path
    val (aHit, aTot) = intersecting(s"$merged/merged")
    assert(aTot > zTot, s"append produced no delta files: $aTot vs $zTot")
    assert(aHit.toDouble / aTot <= 0.35, s"appended layout stopped skipping: $aHit/$aTot")
    // both layouts hold the same rows in the same number of files
    assert(zTot >= 8 && lTot >= 8, s"layouts too few row groups: z=$zTot linear=$lTot")
    // the time-sorted control prunes on time only — every surviving
    // file still spans the full user range; z-order clusters both
    // dims so the same pushed-down predicates touch strictly fewer
    // row groups
    assert(zHit < lHit, s"z=$zHit/$zTot linear=$lHit/$lTot")
    // and the z layout's read set is a small fraction of the table —
    // the 100 TB claim in one number
    assert(zHit.toDouble / zTot <= 0.25, s"z=$zHit/$zTot")
  }

  test("streaming interval matcher equals the q133 batch rule event-for-event") {
    val staged = SparkTest.tempDir("ivm")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = graft.streaming.StreamOps.intervalMatchStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("interval_match_test")
      .start()
    try q.processAllAvailable() finally q.stop()
    val pairs = spark.table("interval_match_test").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // each (event, window) pair meets in exactly one bucket — no dups
    assert(pairs.length == pairs.toSet.size)
    val rolled = pairs.groupBy(p => (p._1, p._2))
      .view.mapValues(_.length.toLong).toMap
    val batch = FrameOps.intervalMatches(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(rolled == batch)
  }

  test("time travel: as-of states are correct and the version predicate prunes partitions") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val all = docs.count()
    val deleted = docs.filter(col("doc_id") % 17 === 3).count()
    // v1 = the base corpus
    val v1 = graft.sources.Sources.readVersion(spark, sf, 1)
    assert(v1.count() == all)
    // v2: deletions applied, revisions visible
    val v2 = graft.sources.Sources.readVersion(spark, sf, 2).collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("since_version").longValue).toMap
    assert(v2.size == all - deleted)
    assert(!v2.keySet.exists(_ % 17 == 3))
    v2.foreach { case (id, v) => assert(v == (if (id % 13 == 1) 2L else 1L)) }
    // v3: the deleted docs are restored with the v3 payload
    val v3 = graft.sources.Sources.readVersion(spark, sf, 3)
    assert(v3.count() == all)
    assert(v3.filter(col("since_version") === 3L).count() == deleted)
    // the as-of predicate reaches the file listing as a PARTITION
    // filter — time travel never scans future commits
    val plan = graft.sources.Sources.readVersion(spark, sf, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("version"), plan)
  }

  test("vacuum: reads at/after the horizon unchanged, partitions below it gone") {
    import org.apache.spark.sql.functions._
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getAs[Number]("since_version").longValue, r.getString(2))
    val orig = graft.sources.Sources.versionedStore(spark, sf).path
    val vac = graft.sources.Sources.vacuumedStore(spark, sf)
    def versionsOf(base: String) =
      new java.io.File(base).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("version=")).toSet
    // commit partitions below the horizon are physically gone; the
    // retained tail survives
    assert(versionsOf(orig) == Set("version=1", "version=2", "version=3"))
    assert(versionsOf(vac.path) == Set("version=2", "version=3"))
    // every read at/after the horizon is row-identical to the
    // unvacuumed store (since_version provenance included)
    for (v <- Seq(2, 3)) {
      val a = graft.sources.Sources.readVersion(spark, sf, v).collect().map(key).toSet
      val b = graft.sources.Sources
        .readVersionFrom(vac, v).collect().map(key).toSet
      assert(a == b, s"as-of $v differs after vacuum")
    }
    // below the horizon, time travel is definitionally gone: no
    // commit files ≤ 1 remain, so the read is empty (never wrong)
    assert(graft.sources.Sources.readVersionFrom(vac, 1).count() == 0)
  }

  test("chunk delta: a revision rewrites at most its trailing chunk") {
    // the CDC-payoff contract on the lakehouse: appending tokens can
    // only perturb the trailing chunk (anchors are token-local), so
    // per revised doc at most ONE chunk is removed and at least one
    // added, while deletes reuse nothing
    val rows = graft.sources.Sources.chunkDelta(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val (rDocs, rRemoved, rAdded, rReused) = rows("revise")
    assert(rRemoved <= rDocs, "a revision damaged more than its trailing chunk")
    assert(rAdded >= rDocs)
    assert(rReused > 0, "vacuous: no chunk survived any revision")
    val (_, _, dAdded, dReused) = rows("delete")
    assert(dAdded == 0 && dReused == 0)
  }

  test("suppression-at-ingest: forgotten keys never re-enter, stream == batch") {
    import org.apache.spark.sql.functions._
    val staged = SparkTest.tempDir("suppress_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = graft.streaming.StreamOps
      .suppressed(Tables.documents(spark, sf))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val q = graft.streaming.StreamOps.suppressionStream(spark, staged.toString)
      .select("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("suppress_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("suppress_test").collect()
        .map(_.getLong(0)).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
      // the gate is real: the replayed file CONTAINED forgotten keys,
      // and none survived
      val all = Tables.documents(spark, sf).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val forgotten = all.filter(id =>
        id % graft.sources.Sources.ForgetMod == graft.sources.Sources.ForgetRem)
      assert(forgotten.nonEmpty)
      assert(streamed.intersect(forgotten).isEmpty)
    } finally q.stop()
  }

  test("erasure: forgotten keys gone from EVERY version, retained rows byte-stable") {
    import org.apache.spark.sql.functions._
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getAs[Number]("since_version").longValue, r.getString(2))
    val erased = graft.sources.Sources.erasedStore(spark, sf)
    // proof of absence at the FILE level: no raw commit row anywhere
    // in the rewritten store carries a forgotten key — erasure
    // destroys history, not just visibility (the tombstone/time-travel
    // loophole is exactly what this closes)
    val raw = spark.read.parquet(erased.path)
    assert(raw.filter(col("doc_id") % graft.sources.Sources.ForgetMod
      === graft.sources.Sources.ForgetRem).count() == 0)
    // all three commit partitions survive (erasure rewrites, never
    // truncates retention)
    val versions = new java.io.File(erased.path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("version=")).toSet
    assert(versions == Set("version=1", "version=2", "version=3"))
    // every as-of read equals the original store MINUS the forget
    // set — payload, op outcome, and since_version provenance all
    // byte-stable for retained keys
    for (v <- Seq(1, 2, 3)) {
      val expected = graft.sources.Sources.readVersion(spark, sf, v)
        .filter(!(col("doc_id") % graft.sources.Sources.ForgetMod
          === graft.sources.Sources.ForgetRem))
        .collect().map(key).toSet
      val got = graft.sources.Sources.readVersionFrom(erased, v)
        .collect().map(key).toSet
      assert(got == expected, s"as-of $v differs after erasure")
    }
  }

  /** Planted-skew AUDIT→FALLBACK loop (r09, verdict item 6): the gate
    * corpora never trip q237's salting recommendation hard enough to
    * exercise the fallback end-to-end, so this corpus is synthetic
    * and TESTDATA-independent (the NfcIngestSpec pattern, lever
    * (hh)): one hot user owns 60% of the event log (the celebrity-key
    * regime), while documents.source stays balanced — BOTH audit
    * branches are produced, and the flagged family is then actually
    * joined through Skew.saltedJoin with the spread + parity
    * properties asserted. The spec fails if the salting fallback is
    * removed or degenerates to the plain key join. */
  private lazy val plantedSkewDir: String = {
    val d = SparkTest.tempDir("skew_corpus").toString
    import spark.implicits._
    val hot = (1 to 3000).map(i => (i.toLong, 7L,
      if (i % 2 == 0) "click" else "view", i.toLong))
    val cold = (1 to 2000).map(i => (3000L + i, (i % 40 + 100).toLong,
      if (i % 2 == 0) "click" else "view", i.toLong))
    (hot ++ cold).toDF("event_id", "user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      .withColumn("props", lit("""{"k": 1}"""))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    (1 to 40).map(i => (i.toLong, s"planted doc number $i", "en", s"src${i % 8}"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q237 audit recommends salting on the planted hot key and the fallback bounds the reducer share") {
    val audit = FrameOps.skewAudit(spark, plantedSkewDir).collect()
      .map(r => r.getString(0) ->
        r.getBoolean(r.fieldIndex("salt_recommended"))).toMap
    // both verdict branches (lever (hh)): hot family flagged, balanced not
    assert(audit("events.user_id"),
      s"planted hot user must trip the salting recommendation: $audit")
    assert(!audit("documents.source"),
      s"balanced source family must not trip it: $audit")

    // drive the RECOMMENDED fallback on the flagged family, with the
    // reduce width pinned so partition counting is meaningful (AQE
    // coalescing on the shared session could legally fold everything
    // into one partition at this size)
    val ns = spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "8")
    ns.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val buckets = 8
    val ev = Tables.events(ns, plantedSkewDir)
      .select(col("user_id"), col("event_id"))
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("seg", pmod(col("user_id"), lit(3)))
    val salted = Skew.saltedJoin(ev, dim, "user_id", col("event_id"), buckets)
    // 1) exact parity with the plain join
    val got = salted.groupBy(col("seg")).agg(count(lit(1)).as("n"))
      .orderBy(col("seg")).collect().toSeq
    val exp = ev.join(dim, Seq("user_id"))
      .groupBy(col("seg")).agg(count(lit(1)).as("n"))
      .orderBy(col("seg")).collect().toSeq
    assert(got == exp && got.nonEmpty)
    // 2) the fallback PROPERTY: the hot key's joined rows land in >1
    // reduce partition — a de-salted join (plain user_id key) puts
    // every hot row in exactly one partition and must fail here
    val hotParts = salted.filter(col("user_id") === 7L)
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .distinct().count()
    assert(hotParts > 1,
      s"hot key landed in $hotParts partition(s) — salting fallback inert")
  }
}
