package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.MlOps
import graft.operators.Multimodal
import graft.streaming.StreamOps

/** Top-level so the closure ships without capturing the suite. */
object ConstCodec extends Multimodal.AssetCodec {
  override def decodePixels(p: Array[Byte]): (Int, Int, Array[Byte]) =
    (1, 2, new Array[Byte](6))
  override def decode(p: Array[Byte]): (Long, Long, Double) = (1L, 2L, 3.0)
  override def sampleFrames(p: Array[Byte], every: Int,
      frameSize: Int): Iterator[(Long, Long, Long, Double)] =
    Iterator((0L, 0L, frameSize.toLong, 9.0))
}

class MlStreamSpec extends AnyFunSuite {
  import SparkTest._

  test("word2vec returns 3 synonyms per probe word") {
    val out = MlOps.word2vec(spark, sf)
    val counts = out.groupBy("probe").count().collect()
    assert(counts.nonEmpty)
    counts.foreach(r => assert(r.getLong(1) == 3))
  }

  test("als recommends 3 items per requested user") {
    val out = MlOps.alsRecommend(spark, sf).collect()
    assert(out.nonEmpty)
    // ALS casts ids to int internally; read generically
    val byUser = out.groupBy(_.getAs[Number]("user").longValue())
    byUser.foreach { case (_, rows) => assert(rows.length == 3) }
  }

  test("classification covers the full test split") {
    val out = MlOps.classify(spark, sf)
    val n = out.agg(sum("n_test")).head.getLong(0)
    val expected = Tables.embeddings(spark, sf)
      .filter(pmod(col("vec_id"), lit(5)) === 0).count()
    assert(n == expected)
  }

  test("scdv emits one sparse vector summary per doc") {
    val out = MlOps.scdv(spark, sf)
    assert(out.count() == Tables.documents(spark, sf).count())
    // sparsification must actually zero something but not everything
    val nnz = out.agg(min("nnz"), max("nnz")).head
    assert(nnz.getLong(0) > 0 && nnz.getLong(1) <= 48)
  }

  test("q230 calibration: bins well-formed, counts reconcile with the holdout, ends ordered") {
    val rows = MlOps.classifierCalibration(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Long]("decile")
      assert(d >= 0L && d <= 9L)
      val mp = r.getAs[Double]("mean_pred")
      assert(mp >= d / 10.0 - 1e-9 && mp <= (d + 1) / 10.0 + 1e-9,
        s"decile $d mean_pred $mp out of bin")
      val pr = r.getAs[Double]("pos_rate")
      assert(pr >= 0.0 && pr <= 1.0)
      assert(math.abs(r.getAs[Double]("gap") - math.abs(mp - pr)) <= 2e-6)
    }
    // a 0.98-AUC model must separate its extreme bins
    val byD = rows.sortBy(_.getAs[Long]("decile"))
    assert(byD.head.getAs[Double]("pos_rate") <= byD.last.getAs[Double]("pos_rate"),
      "lowest-decile positive rate above highest-decile")
    // count reconciliation: bin mass == q222's holdout mass
    val q222 = MlOps.qualityClassifier(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum ==
      q222.map(_.getAs[Long]("n_test")).sum)
  }

  test("subword OOV synthesis lands every perturbed probe next to its base word") {
    val out = MlOps.subwordOov(spark, sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (probe, rows) =>
      assert(rows.length == 3, s"$probe should have 3 neighbors")
    }
    // the fastText property: a suffixed or interior-perturbed OOV
    // form's nearest vocab word is its base form (subword overlap
    // dominates the synthesized vector)
    out.filter(_.getLong(2) == 1L).foreach { r =>
      assert(r.getString(3) == r.getString(1),
        s"probe ${r.getString(0)}: nearest ${r.getString(3)} != base ${r.getString(1)}")
    }
  }

  test("subword OOV quality rate: top-1 base recovery >= 0.9 on a vocab sweep (joint fit)") {
    // the quantified quality bound (round 7 pinned the post-hoc
    // approximation at >= 0.8; round 8's JOINTLY-trained gram vectors
    // must beat it): a deterministic ~40-word vocabulary sample (not
    // hand-picked), each perturbed two ways; the composed vector's
    // nearest vocab word must be the base form for >= 90% of probes
    val bases = MlOps
      .word2vecModelForSpec(spark, sf).getVectors
      .collect().map(_.getString(0))
      .filter(w => w.length >= 4 && w.forall(_.isLetter))
      .sorted.take(40).toSeq
    val out = MlOps.subwordOovFor(spark, sf, bases).collect()
    val top1 = out.filter(_.getLong(2) == 1L)
    assert(top1.length >= 30, s"too few OOV probes survived: ${top1.length}")
    val hit = top1.count(r => r.getString(3) == r.getString(1))
    val rate = hit.toDouble / top1.length
    info(s"top-1 base recovery: $rate ($hit/${top1.length})")
    assert(rate >= 0.9, s"top-1 base recovery $rate (${hit}/${top1.length})")
  }

  test("subword composition replays driver-side from the trained gram vectors") {
    // the joint-fit contract: q110's OOV vector IS the mean of its
    // TRAINED gram vectors, and a vocab word's representation IS the
    // mean of its word vector and its gram vectors — replay both
    // compositions sequentially from the collected model table and
    // reproduce the query's top-1 neighbor and cosine per probe
    val all = MlOps.fastTextModel(spark, sf).getVectors.collect()
      .map(r => r.getString(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray).toMap
    val (gramVecs, wordVecs) = all.partition(_._1.startsWith("#"))
    def grams(w: String): Seq[String] = {
      val p = s"<$w>"
      MlOps.FtGramSizes.flatMap(n =>
        if (p.length >= n) (0 to p.length - n).map(i => "#" + p.substring(i, i + n))
        else Seq.empty)
    }
    def mean(vs: Seq[Array[Double]]): Array[Double] = {
      val s = new Array[Double](vs.head.length)
      vs.foreach(v => for (i <- s.indices) s(i) += v(i))
      s.map(_ / vs.length)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val composed = wordVecs.map { case (w, v) =>
      w -> mean(v +: grams(w).flatMap(gramVecs.get))
    }
    val out = MlOps.subwordOov(spark, sf).collect().filter(_.getLong(2) == 1L)
    assert(out.nonEmpty)
    out.foreach { r =>
      val probe = r.getString(0)
      val known = grams(probe).flatMap(gramVecs.get)
      assert(known.nonEmpty, s"probe $probe has no trained grams")
      val pv = mean(known)
      val best = composed.toSeq
        .map { case (w, wv) => (w, math.rint(cos(pv, wv) * 1e4) / 1e4) }
        .minBy { case (w, c) => (-c, w) }
      assert(best._1 == r.getString(3),
        s"probe $probe: replay top-1 ${best._1} != query ${r.getString(3)}")
      assert(math.abs(best._2 - r.getDouble(4)) <= 2e-4,
        s"probe $probe: replay cos ${best._2} != query ${r.getDouble(4)}")
    }
  }

  test("adaptive search matches the exhaustive grid's best within epsilon") {
    val adaptive = MlOps.adaptiveTuning(spark, sf).collect()
    // successive halving: 8 → 4 → 2 candidates across the three rungs
    val byRung = adaptive.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byRung == Map(0L -> 8, 1L -> 4, 2L -> 2))
    // survivors chain: every final-rung candidate survived every rung
    val finalIds = adaptive.filter(_.getLong(0) == 2L).map(_.getLong(1)).toSet
    Seq(0L, 1L).foreach { rung =>
      val survivedIds = adaptive
        .filter(r => r.getLong(0) == rung && r.getBoolean(6)).map(_.getLong(1)).toSet
      assert(finalIds.subsetOf(survivedIds), s"rung $rung dropped a finalist")
    }
    // the adaptive search must not lose to the 3-point grid by more
    // than ε — the optimize_model role: same-or-better model, fewer
    // full-budget fits
    val best = adaptive.filter(_.getLong(0) == 2L)
      .map(_.getAs[Double]("accuracy")).max
    val gridBest = MlOps.cvTuning(spark, sf).collect()
      .map(_.getAs[Double]("accuracy")).max
    assert(best >= gridBest - 0.02,
      s"adaptive best $best below grid best $gridBest - 0.02")
  }

  test("TPE study: shape, monotone running best, never loses to the grid") {
    val t = MlOps.tpeTuning(spark, sf).collect()
    assert(t.length == 10)
    assert(t.count(_.getString(1) == "startup") == 4)
    assert(t.count(_.getString(1) == "tpe") == 6)
    // MIXED space (round 7): every trial carries a declared family;
    // the startup block covers the full categorical support
    val fams = t.map(_.getAs[String]("family"))
    assert(fams.forall(MlOps.TpeFamilies.contains), fams.mkString(","))
    assert(fams.take(4).toSet == MlOps.TpeFamilies.toSet)
    // Bergstra categorical weights: smoothed, positive, sum to 1
    val w = MlOps.TpeFamilies.map(c =>
      MlOps.catWeight(c, Seq("logistic_regression")))
    assert(w.forall(_ > 0) && math.abs(w.sum - 1.0) < 1e-12)
    // running best is monotone and consistent with the trial accs
    val accs = t.map(_.getAs[Double]("accuracy"))
    val bests = t.map(_.getAs[Double]("best_acc"))
    bests.zip(bests.tail).foreach { case (a, b) => assert(a <= b) }
    t.indices.foreach(i => assert(bests(i) == accs.take(i + 1).max))
    // proposed params stay inside the declared search box
    t.foreach { r =>
      val reg = r.getAs[Double]("reg_param")
      val el = r.getAs[Double]("elastic_net")
      assert(reg >= 1e-4 - 1e-9 && reg <= 1.0 + 1e-9, s"reg $reg out of box")
      assert(el >= 0.0 && el <= 1.0, s"elastic $el out of box")
    }
    // the surrogate search must not lose to the exhaustive 3-point
    // grid by more than ε (same split, same metric scale)
    val gridBest = MlOps.cvTuning(spark, sf).collect()
      .map(_.getAs[Double]("accuracy")).max
    assert(bests.last >= gridBest - 0.02,
      s"TPE best ${bests.last} below grid best $gridBest - 0.02")
  }

  test("multimodal decode plumbing produces per-source features") {
    val out = Multimodal.decodeFeatures(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf)
      .select("source").distinct().count())
    out.foreach(r => assert(r.getAs[Double]("avg_feat") > 0.0)) // from real bytes
  }

  test("frame sampling emits every 4th frame of each sufficiently long doc") {
    val out = Multimodal.frameSample(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nChars = Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.col("doc_id") === r.getLong(0))
        .head.getAs[Long]("n_chars")
      val expected = (0 until (nChars / 32).toInt by 4).size
      assert(r.getAs[Long]("n_sampled_frames") == expected)
    }
  }

  test("streaming dedup counts match batch distinct after a duplicated replay") {
    val staged = SparkTest.tempDir("dedup")
    // stage the file TWICE: the stream sees every event duplicated
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events_a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events_b.parquet"))
    val q = StreamOps.dedupStream(spark, staged.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("dedup_stream_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_stream_test").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val batch = Tables.events(spark, sf)
        .groupBy("event_type").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(streamed == batch) // duplicates fully removed
    } finally q.stop()
  }

  test("stateful streaming sessionization matches batch sessionize") {
    val staged = SparkTest.tempDir("sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamOps.sessionizeStream(spark, staged.toString)
      .writeStream.outputMode("update")
      .format("memory").queryName("sessionize_test")
      .start()
    try {
      q.processAllAvailable()
      // last emission per user = final state (single microbatch here)
      val streamed = spark.table("sessionize_test")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.last("n_sessions").as("n_sessions"),
          org.apache.spark.sql.functions.last("n_events").as("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = operators.FrameOps.sessionize(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("online decayed-recency state matches the q136 batch feature user-for-user") {
    val staged = SparkTest.tempDir("recency")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamOps.decayedRecencyStream(spark, staged.toString)
      .writeStream.outputMode("update")
      .format("memory").queryName("recency_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("recency_test")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.last("n_events").as("n_events"),
          org.apache.spark.sql.functions.last("decay_score").as("decay_score"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = operators.FrameOps.decayedRecency(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("anomaly-flags-at-ingest match the q163 batch rule row for row") {
    val staged = SparkTest.tempDir("anomaly")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamOps.anomalyFlagStream(spark, staged.toString, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("anomaly_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("anomaly_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).toSet
      val batch = operators.FrameOps.anomalyFlags(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("pseudonymize-at-ingest matches the q170 batch scrub row for row") {
    val staged = SparkTest.tempDir("pseudo")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamOps.pseudonymizeStream(spark, staged.toString, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("pseudo_test")
      .start()
    try {
      q.processAllAvailable()
      // replayed file == the store, so every group is known and the
      // stream must agree with the batch scrub exactly
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(4), r.getBoolean(5))
      val streamed = spark.table("pseudo_test").collect().map(key).toSet
      val batch = operators.FrameOps.pseudonymize(spark, sf).collect().map(key).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("quarantine-at-ingest verdicts match the q161 batch rule row for row") {
    val staged = SparkTest.tempDir("quarantine")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamOps.quarantineStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("quarantine_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("quarantine_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val batch = StreamOps.quarantineBatch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(streamed == batch)
      // both verdict classes appear in the corpus... only when an
      // outlier exists at this SF; the invariant that always holds:
      assert(batch.nonEmpty)
      assert(batch.forall { case (_, v, rs) =>
        (v == "valid") == (rs == "ok")
      })
    } finally q.stop()
  }

  test("pii-scrub-at-ingest matches the q182 batch projection doc for doc") {
    val staged = SparkTest.tempDir("pii")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = StreamOps.piiScrubStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("pii_test")
      .start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getString(5), r.getLong(6))
      val streamed = spark.table("pii_test").collect().map(key).toSet
      val batch = StreamOps.piiScrubBatch(spark, sf).collect().map(key).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
      // the gate is real: the replayed file CONTAINED PII and every
      // streamed doc's text is clean
      assert(batch.exists(t => t._3 + t._4 + t._5 > 0))
    } finally q.stop()
  }

  test("embed-admit-at-ingest matches the q190 batch projection vector for vector") {
    val staged = SparkTest.tempDir("embadm")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      staged.resolve("embeddings.parquet"))
    val q = StreamOps.embedAdmitStream(spark, staged.toString, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("embadm_test")
      .start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))
      val streamed = spark.table("embadm_test").collect().map(key).toSet
      val batch = StreamOps.embedAdmitBatch(spark, sf).collect().map(key).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("leak-gate-at-ingest matches the q218 batch projection vector for vector") {
    val staged = SparkTest.tempDir("leakgate")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      staged.resolve("embeddings.parquet"))
    val q = StreamOps.embedLeakStream(spark, staged.toString, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("leakgate_test")
      .start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getDouble(1), r.getLong(2), r.getBoolean(3))
      val streamed = spark.table("leakgate_test").collect().map(key).toSet
      val batch = StreamOps.embedLeakBatch(spark, sf).collect().map(key).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
      // the gate actually fires on the replayed file, and the pair
      // relation is consistent with q216's probe-side verdict: a
      // probe is leaked iff some gated vector's nearest probe chain
      // reaches it at tau (cross-check via the argmax pairs)
      assert(batch.exists(_._4) && batch.exists(!_._4))
      val q216leaked = graft.operators.SimilaritySearch.embedContam(spark, sf)
        .collect().filter(_.getBoolean(4)).map(_.getLong(0)).toSet
      val gateLeakedProbes = batch.filter(_._4).map(_._3)
      // every probe a flagged vector points at must be leaked in q216
      assert(gateLeakedProbes.subsetOf(q216leaked))
    } finally q.stop()
  }

  test("streaming Misra-Gries: lower-bound invariant at small k, exact at large k") {
    import org.apache.spark.sql.functions._
    val staged = SparkTest.tempDir("mg")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val exact = Tables.documents(spark, sf)
      .select(explode(graft.plans.WordNGrams(
        split(trim(col("text")), "\\s+"), 3, distinct = false)).as("g"))
      .groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def run(k: Int): Map[(Int, String), Long] = {
      val q = StreamOps.heavyHitterStream(spark, staged.toString, mgK = k)
        .writeStream.outputMode("update")
        .format("memory").queryName(s"mg_test_$k")
        .start()
      try {
        q.processAllAvailable()
        spark.table(s"mg_test_$k").groupBy("shard", "g")
          .agg(org.apache.spark.sql.functions.last("est").as("est")).collect()
          .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      } finally q.stop()
    }
    // small k: every surviving counter is a LOWER bound (q97's invariant)
    val small = run(8)
    assert(small.nonEmpty)
    small.foreach { case ((_, g), est) =>
      assert(est <= exact(g), s"gram $g: est $est > exact ${exact(g)}")
    }
    // k >= any shard's distinct-gram count: no decrement fires; the
    // sharded stream summary IS the exact count table
    val big = run(100000)
    assert(big.map { case ((_, g), est) => g -> est } == exact)
  }

  test("ingest token-budget decisions match the q151 batch rule doc for doc") {
    val staged = SparkTest.tempDir("budget")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = StreamOps.tokenBudgetStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("budget_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("budget_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSet
      val batch = operators.CorpusOps.tokenBudget(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming minhash candidate pairs match the batch twin on a replayed batch") {
    val staged = SparkTest.tempDir("minhash_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = StreamOps.minhashCandidateBatch(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val q = StreamOps.minhashCandidateStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("minhash_stream_test")
      .start()
    try {
      // the op's ProcessingTimeTimeout makes the engine run continuous
      // empty timeout-check batches, so processAllAvailable never
      // returns on a live query — poll the sink until it converges on
      // the batch twin instead (bounded by the deadline)
      def snap() = spark.table("minhash_stream_test").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val deadline = System.currentTimeMillis() + 120000
      var streamed = snap()
      while (streamed != batch && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000); streamed = snap()
      }
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("multimodal codec is pluggable: a custom codec's outputs flow through") {
    val out = Multimodal.decodeFeatures(spark, sf, ConstCodec).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Double]("avg_feat") == 3.0 &&
      r.getAs[Long]("max_width") == 1L))
    val frames = Multimodal.frameSample(spark, sf, ConstCodec).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(r => r.getAs[Long]("n_sampled_frames") == 1L &&
      r.getAs[Double]("avg_luma") == 9.0))
  }

  test("sampling-at-ingest equals the batch mix filter doc-for-doc") {
    val staged = SparkTest.tempDir("mix_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = StreamOps.mixSampleBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val q = StreamOps.mixSampleStream(spark, staged.toString, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("mix_sample_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("mix_sample_test").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
      // the filter must be real at this scale: not everything passes
      assert(streamed.size < Tables.documents(spark, sf).count())
    } finally q.stop()
  }

  test("streaming quality flags equal the batch projection doc-for-doc") {
    val staged = SparkTest.tempDir("quality_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = StreamOps.qualityFlags(Tables.documents(spark, sf)).collect()
      .map(_.toString).toSet
    val q = StreamOps.qualityFlagStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("quality_flags_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("quality_flags_test").collect()
        .map(_.toString).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming cdc chunks equal the batch chunk frame chunk-for-chunk") {
    val staged = SparkTest.tempDir("cdc_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = graft.operators.CorpusOps
      .cdcChunkFrame(Tables.documents(spark, sf)).collect()
      .map(_.toString).toSet
    val q = StreamOps.cdcChunkStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_chunk_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cdc_chunk_test").collect()
        .map(_.toString).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("frame dedup finds the frames exact-dup assets share, none within singletons") {
    val out = Multimodal.frameDedup(spark, sf).collect()
    assert(out.nonEmpty)
    // frame accounting matches the sampler
    val sampled = Multimodal.frameSample(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_sampled_frames"))
      .head.getLong(0)
    assert(out.map(_.getLong(1)).sum == sampled)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // dup frames <= frames
    }
    // exact-dup docs exist => their byte-identical frames must collide
    assert(out.map(_.getLong(2)).sum > 0)
  }

  test("stream-static verified dedup matches the batch twin's pair set") {
    val staged = SparkTest.tempDir("minhash_verified")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = StreamOps.minhashVerifiedBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val q = StreamOps.minhashVerifiedStream(spark, staged.toString, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("minhash_verified_test")
      .start()
    try {
      def snap() = spark.table("minhash_verified_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val deadline = System.currentTimeMillis() + 120000
      var streamed = snap()
      while (streamed != batch && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000); streamed = snap()
      }
      assert(streamed.nonEmpty)
      assert(streamed == batch)
      // every emitted pair really is a verified near-dup
      assert(streamed.forall(_._3 >= 0.5))
    } finally q.stop()
  }

  test("streaming semantic (embed-LSH) candidates match the batch twin on a replayed batch") {
    val staged = SparkTest.tempDir("semantic_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      staged.resolve("embeddings.parquet"))
    val batch = StreamOps.semanticCandidateBatch(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch.nonEmpty)
    val q = StreamOps.semanticCandidateStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("semantic_stream_test")
      .start()
    try {
      // same polling discipline as the minhash stream (timeout batches
      // keep the query alive past processAllAvailable)
      def snap() = spark.table("semantic_stream_test").collect()
        .map(r => (r.getInt(0), r.getLong(1).toInt, r.getLong(2), r.getLong(3))).toSet
      val deadline = System.currentTimeMillis() + 120000
      var streamed = snap()
      while (streamed != batch && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000); streamed = snap()
      }
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming frame-fingerprint candidates match the batch twin on a replayed batch") {
    val staged = SparkTest.tempDir("frame_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = StreamOps.frameCandidateBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    val q = StreamOps.frameCandidateStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("frame_stream_test")
      .start()
    try {
      def snap() = spark.table("frame_stream_test").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val deadline = System.currentTimeMillis() + 120000
      var streamed = snap()
      while (streamed != batch && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000); streamed = snap()
      }
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming contamination hits roll up to the batch flag table") {
    val staged = SparkTest.tempDir("contam_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = StreamOps.contamFlagBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(batch.nonEmpty) // the check must fire or parity is vacuous
    val q = StreamOps.contamHitStream(spark, staged.toString, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("contam_hits_test")
      .start()
    try {
      q.processAllAvailable() // stateless stream: returns when drained
      val streamed = spark.table("contam_hits_test")
        .groupBy("doc_id", "source")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_hit"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming span-cover starts equal q123's batch cover set") {
    import org.apache.spark.sql.functions._
    val staged = SparkTest.tempDir("span_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = StreamOps.spanCoverStream(spark, staged.toString, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("span_cover_test")
      .start()
    try {
      q.processAllAvailable() // stateless stream-static join: drains
      val streamed = spark.table("span_cover_test")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      // batch twin: re-derive the cover STARTS the same way q123 does
      // before its rewrite (the rewrite is row-local and shared)
      import graft.operators.CorpusOps
      import graft.plans.WordNGrams
      val toks = graft.functions.TextFns.tokens(col("text"))
      val docs = graft.Tables.documents(spark, sf)
      val storeGrams = docs.filter(!CorpusOps.batchPredicate())
        .select(explode(WordNGrams(toks, CorpusOps.SpanK)).as("g")).distinct()
      val batchCov = docs.filter(CorpusOps.batchPredicate())
        .select(col("doc_id"),
          posexplode(WordNGrams(toks, CorpusOps.SpanK, distinct = false))
            .as(Seq("pos", "g")))
        .join(storeGrams, Seq("g"))
        .select(col("doc_id"), col("pos"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(batchCov.nonEmpty) // planted dups guarantee store hits
      assert(streamed == batchCov)
    } finally q.stop()
  }

  test("streaming perplexity scores roll up to q96's batch admission scores") {
    import org.apache.spark.sql.functions._
    val staged = SparkTest.tempDir("ccnet_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = StreamOps.ccnetNllStream(spark, staged.toString, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("ccnet_nll_test")
      .start()
    try {
      q.processAllAvailable()
      // the stream scores every staged doc; q96 is its batch-split
      // rollup — same per-gram nll, same decimal mean
      val streamed = spark.table("ccnet_nll_test")
        .groupBy("doc_id")
        .agg(round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("s_nll"))
      val batch = graft.operators.CorpusOps.ccnetAdmission(spark, sf)
        .select(col("doc_id"), col("doc_nll"))
      val n = batch.count()
      assert(n > 0)
      val joined = batch.join(streamed, "doc_id")
      assert(joined.count() == n) // every batch doc was scored by the stream
      assert(joined.filter(col("doc_nll") =!= col("s_nll")).count() == 0)
    } finally q.stop()
  }

  // NOTE: exact event_id-level parity relies on staging ONE file →
  // one micro-batch, so each user's events arrive in event-time order
  // (milestoneStream sorts only within a batch — see its ordering
  // contract). A multi-batch out-of-order source converges on the
  // same alert set but may attach alerts to different event_ids.
  test("bot gate at ingest: flagged-user set equals the batch audit's is_bot set") {
    // planted log: user 1 hourly (human), user 2 one-second cadence
    // (gap rule), user 3 thirty-in-one-hour at safe gaps (burst rule),
    // user 4 singleton — staged as ONE file = one in-order micro-batch
    import spark.implicits._
    val rows =
      (0 until 20).map(i => ((100 + i).toLong, i * 3600L, 1L)) ++
        (0 until 10).map(i => ((200 + i).toLong, 50000L + i, 2L)) ++
        (0 until 30).map(i => ((300 + i).toLong, 900000L + i * 60L, 3L)) ++
        Seq((400L, 500L, 4L))
    val staged = SparkTest.tempDir("botgate").toString
    rows.toDF("event_id", "tsec", "user_id")
      .withColumn("ts", timestamp_seconds(col("tsec"))).drop("tsec")
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(0.0d)).withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$staged/events.parquet")
    val q = StreamOps.botFlagStream(spark, s"$staged/events.parquet")
      .writeStream.outputMode("append")
      .format("memory").queryName("bot_gate_test")
      .start()
    try {
      q.processAllAvailable()
      val alerts = spark.table("bot_gate_test").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      val batchBots = operators.FrameOps.botAudit(spark, staged).collect()
        .filter(_.getBoolean(6)).map(_.getLong(0)).toSet
      assert(alerts.keySet == batchBots, s"stream $alerts vs batch $batchBots")
      assert(alerts(2L) == "gap")
      assert(alerts(3L) == "burst")
      // one alert per flagged user (the latch), none for human/singleton
      assert(spark.table("bot_gate_test").count() == 2)
    } finally q.stop()
  }

  test("flatMapGroupsWithState milestone alerts match the batch running-sum twin") {
    val staged = SparkTest.tempDir("milestone")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamOps.milestoneStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("milestone_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("milestone_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = StreamOps.milestoneBatch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("watermark-buffered milestones equal batch under out-of-order multi-batch arrival") {
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$sf/events.parquet")
    // ts ships as NANOS-as-long in some testdata generations and as
    // TIMESTAMP(MICROS) in others; do the split arithmetic in the
    // file's native encoding so staged halves keep their encoding
    val nanos = raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val tsAsLong = if (nanos) col("ts")
      else unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    val agg = raw.agg(min(tsAsLong), max(tsAsLong)).head()
    val (mn, mx) = (agg.getLong(0), agg.getLong(1))
    val mid = mn + (mx - mn) / 2
    def stageInto(df: org.apache.spark.sql.DataFrame, staged: java.nio.file.Path,
        name: String): Unit = {
      val tmp = SparkTest.tempDir("ms_part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), staged.resolve(name))
    }
    val staged = SparkTest.tempDir("milestone_ooo")
    // the LATE half of the timeline arrives FIRST (its own batch),
    // then the early half, then a far-future sentinel whose watermark
    // advance flushes the buffers via the event-time timeout path
    stageInto(raw.filter(tsAsLong >= mid), staged, "a_late_half.parquet")
    // delay covers the full staged time span so the early half is
    // in-contract late (lateness ≤ watermark delay), not dropped
    val q = StreamOps.milestoneStreamOrdered(spark, staged.toString,
        delay = "3650 days")
      .writeStream.outputMode("append")
      .format("memory").queryName("milestone_ooo_test")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("milestone_ooo_test").count() == 0) // all buffered
      stageInto(raw.filter(tsAsLong < mid), staged, "b_early_half.parquet")
      q.processAllAvailable()
      val sentinel = spark.range(1).select(
        lit(-1L).as("event_id"),
        (if (nanos) lit(mx + 631152000L * 1000000000L) // +20y, nanos
           else timestamp_micros(lit(mx + 631152000L * 1000000L))
             .cast(raw.schema("ts").dataType)).as("ts"), // file-native encoding
        lit(-1L).as("user_id"), lit("click").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      stageInto(sentinel, staged, "c_sentinel.parquet")
      q.processAllAvailable()
      val batch = StreamOps.milestoneBatch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the flush rides the no-data micro-batch after the sentinel's
      // watermark advance — wait on sink contents, not on the query
      val deadline = System.currentTimeMillis() + 30000
      def streamed() = spark.table("milestone_ooo_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._1 != -1L).toSet
      while (streamed().size < batch.size && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      assert(streamed() == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("writeStream parquet file sink: exactly-once roundtrip equals the batch filter") {
    val staged = SparkTest.tempDir("sink_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val outDir = SparkTest.tempDir("sink_out").toString
    val ckpt = SparkTest.tempDir("sink_ckpt").toString
    val q = StreamOps.clickStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .select("event_id", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(written == batch)
  }

  test("word-item two-stage search returns ranked top-5 per word") {
    val out = ml.MlOps.wordItemSearch(spark, sf).collect()
    val byWord = out.groupBy(_.getString(0))
    assert(byWord.size == 5)
    byWord.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.sameElements(1L to rows.length))
    }
  }

  test("streaming hopping windows match the q139 batch rule window-for-window") {
    val batch = graft.operators.FrameOps.hoppingWindow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), math.round(r.getDouble(4) * 10000)))
      .toSet
    val staged = SparkTest.tempDir("hop_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamOps.hoppingStream(spark, staged.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_hopping_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_hopping_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 10000)))
        .toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming rollup matches its batch twin exactly") {
    val batch = StreamOps.rollup10m(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        math.round(r.getDouble(3) * 10000)))
      .toSet
    // FileStreamSource needs a directory: stage the single parquet file
    val staged = SparkTest.tempDir("stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamOps.rollupStream(spark, staged.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_rollup_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_rollup_test").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          math.round(r.getDouble(3) * 10000)))
        .toSet
      assert(streamed == batch)
    } finally q.stop()
  }
}
