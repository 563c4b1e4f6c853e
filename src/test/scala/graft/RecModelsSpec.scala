package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.MlOps

/** Specs for the round-2 recommendation-model operators:
  * MF-factor item similarity, feature-aggregation similarity and the
  * GCMC per-rating-class graph convolution.
  */
class RecModelsSpec extends AnyFunSuite {

  import SparkTest._

  test("mf item similarity: top-k shape, cosine bounds, matches re-scored factors") {
    val rows = MlOps.mfItemSimilarity(spark, sf).collect()
    assert(rows.nonEmpty)
    // per-probe: ranks are 1..n, similarity non-increasing, self excluded
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getLong(3))
      assert(byRank.map(_.getLong(3)).toSeq == (1L to byRank.length).toSeq)
      val sims = byRank.map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse, s"probe $q not sorted desc")
      assert(sims.forall(s => s >= -1.0000001 && s <= 1.0000001),
        s"probe $q cosine out of bounds")
      assert(byRank.forall(_.getLong(1) != q), s"probe $q returned itself")
    }
    // cross-check one probe against a driver-side cosine over the
    // same trained factors
    val factors = MlOps.mfItemSimilarityFactors(spark, sf)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val probe = rows.map(_.getLong(0)).min
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      d / (na * nb)
    }
    val exp = factors.filter(_._1 != probe)
      .map { case (id, v) => (id, math.rint(cos(factors(probe), v) * 1e6) / 1e6) }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(5)
    val got = rows.filter(_.getLong(0) == probe).sortBy(_.getLong(3))
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got == exp)
  }

  test("feature-agg similarity: clipped to [-1,1] and bias step lowers MSE vs cosine alone") {
    val scored = MlOps.featureAggScored(spark, sf).cache()
    try {
      val rows = scored.collect()
      assert(rows.nonEmpty)
      val mse = scored.agg(
        avg(pow(col("score") - col("cos"), 2)).as("mse_cos"),
        avg(pow(col("score") - col("sim"), 2)).as("mse_sim"),
        max(abs(col("sim"))).as("max_abs")).head()
      assert(mse.getDouble(2) <= 1.0 + 1e-9, "similarity not clipped to [-1,1]")
      assert(mse.getDouble(1) <= mse.getDouble(0) + 1e-9,
        s"bias step should not raise MSE: cos=${mse.getDouble(0)} sim=${mse.getDouble(1)}")
      // output query: deterministic shape over the same pipeline
      val out = MlOps.featureAggSimilarity(spark, sf).collect()
      assert(out.length <= 25 && out.nonEmpty)
    } finally scored.unpersist()
  }

  test("early stopping: checkpoints best round, restores it, reference contract") {
    val rows = MlOps.earlyStopTrain(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDecision = rows.groupBy(_.getString(4))
    // exactly one restored row, whose loss equals the best checkpointed
    // (improving) round's loss
    val restored = byDecision("restored")
    assert(restored.length == 1)
    val roundLosses = rows.filter(_.getString(4) != "restored").map(_.getDouble(3))
    // the stopper only checkpoints rounds improving by >threshold
    // (1e-4 relative), so a sub-threshold better round may exist: the
    // restored loss can exceed the global min by at most that factor
    assert(restored.head.getDouble(3) <= roundLosses.min * (1 + 1e-4) + 1e-9,
      s"restored loss ${restored.head.getDouble(3)} not within threshold of best ${roundLosses.min}")
    // contract sanity on a driver-side replay: stop only fires after
    // tryCount plateau rounds
    val stopRows = byDecision.getOrElse("stop", Array.empty)
    assert(stopRows.length <= 1)
    // first round always checkpoints (lastValue starts at +inf)
    assert(rows.head.getString(4) == "continue" || rows.length == 2)
  }

  test("early stopping helper: plateau decays rate and stop fires after patience") {
    import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
    import org.apache.spark.ml.functions.array_to_vector
    val data = Tables.embeddings(spark, sf)
      .select(array_to_vector(col("embedding")).as("features"),
        pmod(col("label"), lit(2)).cast("double").as("label"))
    val m = new LogisticRegression().setMaxIter(2).fit(data)
    val es = new graft.ml.EarlyStopping[LogisticRegressionModel](
      tryCount = 2, initialLearningRate = 1.0, decaySpeed = 2.0,
      threshold = 0.001, savePath = Some(SparkTest.tempDir("es_unit").toString),
      reader = LogisticRegressionModel.load)
    assert(!es.doesStop(10.0, m))          // improve: checkpoint
    assert(!es.doesStop(10.0, m))          // plateau 1: decay, keep going
    assert(es.learningRate == 0.5)
    assert(!es.doesStop(9.0, m))           // improve again: checkpoint
    assert(es.doesStop(9.5, m))            // plateau 2: tries never reset → stop
    assert(es.restore().uid == m.uid)
  }

  test("gcmc conv: per (user, class) mean of neighbor item factors matches driver compute") {
    val out = MlOps.gcmcConv(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(2) > 0))
    // driver-side oracle: rebuild the same aggregation naively
    val edges = MlOps.ratings(spark, sf)
      .select(col("user"), col("item"),
        when(col("rating") < 20, 0).when(col("rating") < 45, 1).otherwise(2)
          .cast("long").as("rc"))
      .filter(col("user") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val factors = MlOps.mfItemSimilarityFactors(spark, sf)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val exp = edges.filter(e => factors.contains(e._2))
      .groupBy(e => (e._1, e._3))
      .map { case ((u, rc), es) =>
        val vecs = es.map(e => factors(e._2))
        val mean = vecs.transpose.map(xs => xs.sum / xs.length)
        ((u, rc), (es.length.toLong,
          math.rint(math.sqrt(mean.map(x => x * x).sum) * 1e6) / 1e6))
      }
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (deg, l2) = exp(key)
      assert(r.getLong(2) == deg, s"degree mismatch at $key")
      assert(math.abs(r.getDouble(3) - l2) <= 2e-6, s"conv_l2 mismatch at $key: ${r.getDouble(3)} vs $l2")
    }
    assert(out.length == exp.size)
  }

  test("composed GCMC prediction beats (or ties) the bias baseline on held-out RMSE") {
    // the end-to-end loop the decomposition was missing: bias + ALS
    // low-rank + class convolution assembled into one prediction and
    // evaluated on the deterministic split — the composed model must
    // never be worse than the baseline it extends (α=β=0 recovers it,
    // and (α, β) is the exact train least-squares solution)
    val out = MlOps.gcmcPredict(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set(
      ("calibration", "bias_baseline"), ("calibration", "gcmc_composed"),
      ("test", "bias_baseline"), ("test", "gcmc_composed")))
    out.values.foreach { case (n, rmse) => assert(n > 0 && rmse > 0) }
    // calibration: ≤ by construction (LS over a space containing α=β=0)
    val calBias = out(("calibration", "bias_baseline"))._2
    val calGcmc = out(("calibration", "gcmc_composed"))._2
    assert(calGcmc <= calBias,
      s"composed calibration RMSE $calGcmc worse than baseline $calBias")
    // held-out: the calibrated interaction terms must generalize, not
    // just fit — allow a small margin over the baseline for split noise
    val testBias = out(("test", "bias_baseline"))._2
    val testGcmc = out(("test", "gcmc_composed"))._2
    assert(testGcmc <= testBias * 1.02,
      s"composed test RMSE $testGcmc worse than baseline $testBias")
  }

  test("gcmc cold start: feature-side synthesis matches a sequential LS replay; warm rows ride the q107 model") {
    // the reference's predict_with_new_items contract
    // (test_graph_convolutional_matrix_completion.py:50): an item
    // absent from the fit gets a REAL feature-dependent prediction,
    // while warm pairs are served by the unchanged trained model
    val out = MlOps.gcmcColdStart(spark, sf).collect()
    assert(out.length == 24, s"roster 4×6 expected, got ${out.length}")
    val (cold, warmRows) = out.partition(_.getBoolean(2))
    assert(cold.length == 12 && warmRows.length == 12) // lever (hh): both branches
    cold.foreach(r => assert(!r.isNullAt(4), s"null cold prediction: $r"))
    // cold items carry distinct features -> predictions must separate
    cold.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      assert(rs.map(_.getDouble(4)).distinct.length >= 2,
        s"user $u cold predictions collapsed: ${rs.toSeq}")
    }

    // --- sequential driver replay from the SAME fit artifacts q107
    //     consumes (bounded collects at spec scale): isolates the
    //     distributed Gram agg + column arithmetic as the only
    //     difference ---
    val fit = MlOps.gcmcFitFor(spark, sf)
    val feats = MlOps.gcmcItemFeatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qI = fit.qI.collect()
      .map(r => r.getInt(0).toLong -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val biM = fit.bi.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val buM = fit.bu.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pUM = fit.pU.collect()
      .map(r => r.getInt(0).toLong -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val convM = fit.convU.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val d = MlOps.GcmcFeatDim; val k = MlOps.GcmcRank
    val warmIds = (feats.keySet & qI.keySet & biM.keySet).toSeq.sorted
    val gram = Array.ofDim[Double](d, d)
    val x = Array.ofDim[Double](k, d)
    val bb = new Array[Double](d)
    warmIds.foreach { id =>
      val fv = feats(id); val qv = qI(id)
      for (a <- 0 until d; b <- 0 until d) gram(a)(b) += fv(a) * fv(b)
      for (c <- 0 until k; a <- 0 until d) x(c)(a) += fv(a) * qv(c)
      for (a <- 0 until d) bb(a) += fv(a) * biM(id)
    }
    val sols = MlOps.solveGram(gram, x :+ bb)
    val (wMap, wBias) = (sols.take(k), sols(k))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }; s
    }
    val users = (buM.keySet & pUM.keySet & convM.keySet).toSeq.sorted.take(4)
    val coldParts = feats.keySet.toSeq.sorted.reverse.take(3)
    out.foreach { r =>
      val (u, it, isCold) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      assert(users.contains(u), s"unexpected roster user $u")
      val (bI, qEff) =
        if (isCold) {
          val part = it - MlOps.GcmcColdIdOffset
          assert(coldParts.contains(part), s"unexpected cold item $it")
          val fv = feats(part)
          (dot(wBias, fv), Array.tabulate(k)(c => dot(wMap(c), fv)))
        } else (biM(it), qI(it))
      val exp = fit.mu + buM(u) + bI +
        fit.alpha * dot(pUM(u), qEff) + fit.beta * dot(convM(u), qEff)
      assert(math.abs(r.getDouble(4) - exp) <= 2e-6,
        s"pred mismatch u=$u item=$it cold=$isCold: ${r.getDouble(4)} vs $exp")
    }
  }

  test("gcmc feature extraction: warm features are the trained factors, cold are the LS synthesis") {
    // the reference's get_user_feature / get_item_feature(_with_new_
    // items) surface: replay every roster row from the fit artifacts.
    // The feature column is the fixed-6dp CSV string the driver's
    // comparator can sort (r09) — decode it here and verify values.
    val out = MlOps.gcmcFeatures(spark, sf).collect()
    assert(out.length == 10) // 4 users + 3 warm + 3 cold items
    val fit = MlOps.gcmcFitFor(spark, sf)
    val qI = fit.qI.collect()
      .map(r => r.getInt(0).toLong -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val pUM = fit.pU.collect()
      .map(r => r.getInt(0).toLong -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val convM = fit.convU.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val feats = MlOps.gcmcItemFeatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val biM = fit.bi.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val d = MlOps.GcmcFeatDim; val k = MlOps.GcmcRank
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }; s
    }
    // replay the q226 least-squares feature map from the same
    // artifacts — cold rows must be a FUNCTION of the item features
    val warmIds = (feats.keySet & qI.keySet & biM.keySet).toSeq.sorted
    val gram = Array.ofDim[Double](d, d)
    val x = Array.ofDim[Double](k, d)
    val bb = new Array[Double](d)
    warmIds.foreach { id =>
      val fv = feats(id); val qv = qI(id)
      for (a <- 0 until d; b <- 0 until d) gram(a)(b) += fv(a) * fv(b)
      for (c <- 0 until k; a <- 0 until d) x(c)(a) += fv(a) * qv(c)
      for (a <- 0 until d) bb(a) += fv(a) * biM(id)
    }
    val wMap = MlOps.solveGram(gram, x :+ bb).take(k)
    out.foreach { r =>
      val (kind, id, isCold) = (r.getString(0), r.getLong(1), r.getBoolean(2))
      val enc = r.getString(5)
      // sortable encoding contract: plain string, no whitespace, every
      // component fixed 6-decimal
      assert(enc.split(",").forall(_.matches("-?\\d+\\.\\d{6}")),
        s"feature encoding not fixed-6dp CSV: $enc")
      val got = enc.split(",").map(_.toDouble)
      assert(r.getLong(3) == got.length)
      kind match {
        case "user" =>
          val exp = pUM(id) ++ convM(id)
          assert(got.length == exp.length &&
            got.zip(exp).forall { case (a, b) => math.abs(a - b) <= 1e-6 },
            s"user $id feature mismatch")
        case "item" if !isCold =>
          assert(got.zip(qI(id)).forall { case (a, b) => math.abs(a - b) <= 1e-6 },
            s"warm item $id feature mismatch")
        case _ =>
          // cold rows are feature-DEPENDENT: each synthesized factor
          // must equal W·f of the item's own feature vector
          val part = id - MlOps.GcmcColdIdOffset
          val fv = feats(part)
          val exp = Array.tabulate(k)(c => dot(wMap(c), fv))
          assert(got.length == k &&
            got.zip(exp).forall { case (a, b) => math.abs(a - b) <= 2e-6 },
            s"cold item $id synthesized feature mismatch: " +
              s"${got.toSeq} vs ${exp.toSeq}")
      }
    }
    val colds = out.filter(_.getBoolean(2)).map(_.getString(5))
    assert(colds.distinct.length == colds.length, "cold features collapsed")
  }

  test("hits: scores non-negative, each side's mass within N units of its target") {
    val rows = operators.GraphOps.hits(spark, SparkTest.sf).collect()
    assert(rows.nonEmpty)
    val byRole = rows.groupBy(_.getString(0))
    assert(byRole.keySet == Set("item", "user"))
    byRole.foreach { case (role, rs) =>
      rs.foreach(r => assert(r.getLong(2) >= 0L, s"$role ${r.getLong(1)}"))
      // integer L1 renorm floors each entry: total mass K − Σ < N
      val shareSum = rs.map(_.getDouble(3)).sum
      assert(shareSum <= 1.0 + 1e-9 && shareSum > 1.0 - rs.length * 1e-6,
        s"$role share mass $shareSum")
    }
  }

  test("degree profile conserves the node count and its ogive ends at 1") {
    val rows = operators.GraphOps.degreeProfile(spark, SparkTest.sf).collect()
    assert(rows.nonEmpty)
    val last = rows.last
    assert(math.abs(last.getDouble(3) - 1.0) < 1e-12)
    val shares = rows.map(_.getDouble(2)).sum
    assert(math.abs(shares - 1.0) < 1e-9)
  }

  test("triangle census matches brute-force enumeration on the collected edge list") {
    // independent ground truth for the oriented-wedge construction:
    // the edge list is item-vocab-bounded at test scale, so the naive
    // O(E·d) enumeration is cheap here (and only here)
    val out = operators.GraphOps.triangleCensus(spark, SparkTest.sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.nonEmpty)
    val edges = operators.WordItemApp.similarityData(spark, SparkTest.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val triBrute = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj(a) intersect adj(b); if a < b && b < c) {
      triBrute(a) += 1; triBrute(b) += 1; triBrute(c) += 1
    }
    assert(out.keySet == adj.keySet)
    out.foreach { case (node, (degree, nTri, clust)) =>
      assert(degree == adj(node).size.toLong, s"degree of $node")
      assert(nTri == triBrute(node), s"n_tri of $node")
      val expected = if (degree >= 2)
        2.0 * nTri / (degree.toDouble * (degree - 1)) else 0.0
      assert(clust == expected, s"clustering of $node")
      assert(clust >= 0.0 && clust <= 1.0)
    }
    // the co-click graph genuinely has cohesion at this scale — the
    // spec must not pass vacuously on a triangle-free graph
    assert(out.values.map(_._2).sum > 0)
  }

  test("rec eval metrics are consistent and bounded") {
    val r = operators.WordItemApp.recEval(spark, SparkTest.sf).collect().head
    val (nUsers, nHit, total) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nUsers > 0 && nHit <= nUsers)
    assert(total <= nUsers * operators.WordItemApp.RecK)
    Seq(r.getDouble(3), r.getDouble(4), r.getDouble(5)).foreach { m =>
      assert(m >= 0.0 && m <= 1.0, s"metric $m out of range")
    }
    // hit users imply hits
    assert((nHit > 0) == (total > 0))
  }
}
