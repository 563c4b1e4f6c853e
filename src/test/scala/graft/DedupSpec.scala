package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFns, VecFns}
import graft.operators.{Dedup, SimilaritySearch}

class DedupSpec extends AnyFunSuite {
  import SparkTest._

  private def pairSet(df: org.apache.spark.sql.DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(col(a), col(b)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact dedup partitions the corpus") {
    val out = Dedup.exact(spark, sf)
    val total = out.agg(sum("cluster_size")).head.getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("minhash LSH finds most exact-jaccard pairs (recall >= 0.8)") {
    val exact = pairSet(Dedup.jaccard(spark, sf), "doc_a", "doc_b")
    val approx = pairSet(Dedup.minhash(spark, sf), "doc_a", "doc_b")
    assert(exact.nonEmpty)
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"minhash recall $recall over ${exact.size} pairs")
    // verification step guarantees precision = 1 (candidates re-checked exactly)
    assert((approx -- exact).isEmpty)
  }

  test("index upsert: appended layout equals a one-shot encode; batch accounted") {
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cent_id"),
        concat_ws(",", col("codes")).as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // content equality: bootstrap-then-append == one-shot full encode
    val upserted = key(SimilaritySearch.upsertedRows(spark, sf))
    val oneShot = key(SimilaritySearch.oneShotEncoded(spark, sf))
    assert(upserted == oneShot)
    // accounting: every vector present once, batch split non-vacuous
    val acct = SimilaritySearch.indexUpsert(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    assert(acct.agg(sum("n_vecs")).head.getLong(0) == emb.count())
    val newTotal = acct.agg(sum("n_new")).head.getLong(0)
    assert(newTotal == emb.filter(SimilaritySearch.isBatchVec).count())
    assert(newTotal > 0, "batch split empty — upsert test is vacuous")
  }

  test("index compaction: content invariant, one file per cell, files merged") {
    val before = SimilaritySearch.indexUpsert(spark, sf).collect().map(_.toString).toSet
    val after = SimilaritySearch.indexCompact(spark, sf).collect().map(_.toString).toSet
    assert(after == before, "compaction changed index accounting")
    def files(root: String): Map[String, Int] = {
      java.nio.file.Files.list(java.nio.file.Paths.get(root)).toArray
        .map(_.toString).filter(_.contains("cent_id=")).map { p =>
          p.substring(p.lastIndexOf('=') + 1) ->
            java.nio.file.Files.list(java.nio.file.Paths.get(p)).toArray
              .map(_.toString).count(_.endsWith(".parquet"))
        }.toMap
    }
    // both layouts' dirs come from the registry
    val compacted = SessionRegistry.builtArtifact(spark, "ivfpq_compact", sf).map(_.path).get
    val src = SessionRegistry.builtArtifact(spark, "ivfpq_upsert", sf).map(_.path).get
    val (srcFiles, cpFiles) = (files(src), files(compacted))
    assert(cpFiles.keySet == srcFiles.keySet)
    cpFiles.foreach { case (cell, n) => assert(n == 1, s"cell $cell has $n files") }
    assert(srcFiles.values.sum > cpFiles.values.sum,
      s"nothing merged: $srcFiles vs $cpFiles")
  }

  test("semantic clusters == driver union-find over the embed-LSH pairs") {
    val pairs = Dedup.embedNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.toSeq.groupBy(find)
      .map { case (_, ms) => (ms.min, ms.sorted.mkString(",")) }.toSet
    val got = Dedup.semanticClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == expected)
  }

  test("q93 poly-hash minhash: precision 1 vs exact jaccard, recall >= 0.8") {
    // the oracle certifies cross-engine value parity; this asserts the
    // LSH quality property (4 bands × 4 rows over the poly-31 family
    // still catches the true near-dup pairs)
    val exact = pairSet(Dedup.jaccard(spark, sf), "doc_a", "doc_b")
    val approx = pairSet(Dedup.minhashExact(spark, sf), "doc_a", "doc_b")
    assert(exact.nonEmpty)
    assert((approx -- exact).isEmpty)
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"poly minhash recall $recall over ${exact.size} pairs")
  }

  test("stop-shingle cap: capped pairs ⊆ uncapped, recall stays high") {
    val uncapped = pairSet(Dedup.jaccard(spark, sf, maxDf = Int.MaxValue), "doc_a", "doc_b")
    // default cap (256) must be non-binding at test SF: identical output
    assert(pairSet(Dedup.jaccard(spark, sf), "doc_a", "doc_b") == uncapped)
    // an aggressively binding cap may only LOSE pairs (never invent):
    // dropping a shingle lowers the computed intersection, so capped
    // jaccard <= true jaccard and the >=0.5 filter admits a subset
    val capped = pairSet(Dedup.jaccard(spark, sf, maxDf = 6), "doc_a", "doc_b")
    assert((capped -- uncapped).isEmpty)
    val recall = (uncapped intersect capped).size.toDouble / uncapped.size
    assert(recall >= 0.8, s"capped recall $recall over ${uncapped.size} pairs")
  }

  test("q199 poly simhash: guaranteed recall on identical-token docs; hamming bounded") {
    val pairs = Dedup.simhashExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.nonEmpty)
    assert(pairs.values.forall(h => h >= 0 && h <= 3))
    // ground-truth verify against a driver-side brute force over the
    // signatures: pigeonhole (4 bands × 16 bits, ≤ 3 flipped bits ⟹
    // ≥ 1 intact band) makes the banded result EXACTLY the brute
    // force — not approximately
    val sigs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.plans.PolySimHash(
        TextFns.tokens(col("text"))).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    pairs.foreach { case (p, h) => assert(brute.get(p).contains(h), s"pair $p") }
    brute.filter(_._2 == 0L).foreach { case (p, _) =>
      assert(pairs.get(p).contains(0L), s"hamming-0 pair $p missed")
    }
    // pigeonhole recall on this corpus: banding finds everything the
    // brute force admits (16-bit bands, <= 3 flipped bits)
    assert(pairs == brute)
  }

  test("q209 hard negatives: cross-label only, ranked, disjoint from same-label knn") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SimilaritySearch.hardNegatives(spark, sf).collect()
    assert(rows.length == 50) // 10 queries x top-5
    rows.foreach { r =>
      val (q, n, nl, rk) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))
      assert(nl == emb(n).toLong, s"neg_label mismatch for $n")
      assert(nl != emb(q).toLong, s"same-label vector $n mined as negative of $q")
      assert(rk >= 1 && rk <= 5)
    }
    // per query: ranks are 1..5 with non-increasing cosine
    rows.groupBy(_.getLong(0)).foreach { case (q, g) =>
      val byRank = g.sortBy(_.getLong(4))
      assert(byRank.map(_.getLong(4)).toSeq == (1L to 5L), s"query $q ranks")
      val cs = byRank.map(_.getDouble(3)).toSeq
      assert(cs == cs.sorted.reverse, s"query $q cosines not sorted")
    }
  }

  test("q210 label vote recomputes from q40's exact neighborhood") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    // ground truth from q40's oracle-gated top-5
    val knn = SimilaritySearch.knnBrute(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, g) => q -> g.map(r => emb(r.getLong(1))).toSeq }
    val rows = SimilaritySearch.labelVote(spark, sf).collect()
    assert(rows.length == knn.size)
    rows.foreach { r =>
      val q = r.getLong(0)
      val labels = knn(q)
      assert(r.getLong(1) == emb(q))
      assert(r.getLong(2) == labels.count(_ == emb(q)).toLong, s"q=$q agree")
      val majority = labels.groupBy(identity).toSeq
        .map { case (l, xs) => (-xs.size, l) }.min._2
      assert(r.getLong(3) == majority, s"q=$q majority")
      assert(r.getBoolean(4) == (majority != emb(q)))
    }
  }

  test("q219 dedup review queue: band bounds, exact quotas, reproducible deal") {
    val pairs = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def bandOf(j: Double): Double =
      Dedup.JacGrid.reverse.find(j >= _).get
    val pop = pairs.groupBy(p => bandOf(p._3)).map { case (b, g) => b -> g.size }
    val rows = Dedup.dedupReviewQueue(spark, sf).collect()
    // every dealt pair is a real pair, inside its band's bounds
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    rows.foreach { r =>
      val (b, rk, a, bb, j) = (r.getDouble(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(pairSet.contains((a, bb)), s"($a,$bb) not in the q31 pair list")
      assert(bandOf(j) == b, s"pair ($a,$bb) jaccard $j outside band $b")
      assert(rk >= 1 && rk <= Dedup.PairReviewK)
    }
    // quota = min(K, band population), per populated band
    val dealt = rows.groupBy(_.getDouble(0)).map { case (b, g) => b -> g.size }
    assert(dealt.keySet == pop.keySet)
    dealt.foreach { case (b, n) =>
      assert(n == math.min(Dedup.PairReviewK, pop(b)), s"band $b quota")
    }
    // run-twice identity (the reviewer-stability contract)
    val again = Dedup.dedupReviewQueue(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q221 sq8 distortion: kernel replayed driver-side, rollup exact") {
    // replay the quantizer + error fold in plain Scala for every
    // vector and reproduce the per-label rollup exactly
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    val dims = vecs.head._2.length
    val mins = (0 until dims).map(d => vecs.map(_._2(d)).min).toArray
    val maxs = (0 until dims).map(d => vecs.map(_._2(d)).max).toArray
    def e2q(v: Array[Double]): Long = {
      var acc = 0.0
      var i = 0
      while (i < v.length) {
        val (mn, mx, x) = (mins(i), maxs(i), v(i))
        val dq = if (mx == mn) mn
          else mn + (math.floor((x - mn) / (mx - mn) * 255.0 + 0.5) * (mx - mn)) / 255.0
        val e = dq - x
        acc += e * e
        i += 1
      }
      math.floor(acc * SimilaritySearch.SqErrScale.toDouble + 0.5).toLong
    }
    val expect = vecs.groupBy(_._1).map { case (l, g) =>
      val es = g.map(x => e2q(x._2))
      l -> ((g.length.toLong, es.sum, es.max))
    }
    val rows = SimilaritySearch.sq8Distortion(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSet == expect.keySet)
    rows.foreach { r =>
      val (n, s, mx) = expect(r.getInt(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((n, s, mx)),
        s"label ${r.getInt(0)} rollup")
      assert(r.getDouble(4) == s.toDouble / (n * 64).toDouble)
      assert(s > 0L, "float quantization must show nonzero distortion")
    }
  }

  test("q225 pq distortion: kernel replayed driver-side; PQ pays more error than SQ8") {
    val cents = SimilaritySearch.pqCentroidsFor(spark, sf)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def e2q(v: Array[Double]): Long = {
      var acc = 0.0
      var base = 0
      cents.foreach { cj =>
        val subDim = cj(0).length
        var bestD = Double.MaxValue
        cj.foreach { cc =>
          var sd = 0.0
          var d = 0
          while (d < subDim) {
            val x = v(base + d) - cc(d); sd += x * x; d += 1
          }
          if (sd < bestD) bestD = sd
        }
        acc += bestD
        base += subDim
      }
      math.floor(acc * SimilaritySearch.SqErrScale.toDouble + 0.5).toLong
    }
    val expect = vecs.groupBy(_._1).map { case (l, g) =>
      val es = g.map(x => e2q(x._2))
      l -> ((g.length.toLong, es.sum, es.max))
    }
    val rows = SimilaritySearch.pqDistortion(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSet == expect.keySet)
    val sq8 = SimilaritySearch.sq8Distortion(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val (n, s, mx) = expect(r.getInt(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((n, s, mx)),
        s"label ${r.getInt(0)} rollup")
      // the compression-fidelity tradeoff has a direction: 8-byte PQ
      // codes must pay MORE reconstruction error than 64-byte SQ8
      assert(r.getLong(2) > sq8(r.getInt(0)), s"label ${r.getInt(0)} PQ vs SQ8")
    }
  }

  test("q216 embed contam anchored to q40's exact top-1; both verdicts live") {
    // the leak card's (max_cosine, nearest_id) must equal the
    // oracle-gated q40 rank-1 row value-for-value (same rule, same
    // tie-break), and the verdict must be consistent with the count
    val top1 = SimilaritySearch.knnBrute(spark, sf).collect()
      .filter(_.getLong(3) == 1L)
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val rows = SimilaritySearch.embedContam(spark, sf).collect()
    assert(rows.length == top1.size)
    rows.foreach { r =>
      val (q, mc, nid, n, lk) =
        (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert((nid, mc) == top1(q), s"q=$q top-1 mismatch")
      assert(lk == (mc >= SimilaritySearch.EmbedContamTau))
      assert(lk == (n > 0L), s"q=$q verdict vs count")
    }
    // τ binds on both sides at the gate scale (lever (hh))
    assert(rows.map(_.getBoolean(4)).toSet == Set(true, false))
  }

  test("q207 separation report anchored to q186's exact within-scatter") {
    val sep = SimilaritySearch.embedSeparation(spark, sf).collect()
      .map(r => r.getInt(0) -> r).toMap
    val out = SimilaritySearch.embedOutliers(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(5)))).toMap
    assert(sep.keySet == out.keySet)
    sep.foreach { case (l, r) =>
      // within_mean_d2 must equal q186's mean_d2 (the SAME shared rule)
      assert((r.getLong(1), r.getLong(2)) == out(l), s"label $l")
      assert(r.getLong(3) >= 0L)
      // non-degenerate labels carry the ratio; it is between/within
      assert(r.getDouble(4) ==
        r.getLong(3).toDouble / r.getLong(2).toDouble, s"label $l ratio")
    }
  }

  test("q205 threshold curve: monotone in tau, anchored to the pair artifact") {
    val curve = Dedup.dedupThresholdCurve(spark, sf).collect()
      .map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(curve.keySet == Dedup.JacGrid.toSet)
    // raising tau can only DROP pairs/docs/tokens
    val ordered = Dedup.JacGrid.map(curve)
    Seq[((Long, Long, Long)) => Long](_._1, _._2, _._3).foreach { f =>
      val xs = ordered.map(f)
      assert(xs == xs.sorted.reverse, s"not monotone: $ordered")
    }
    // tau = 0.5 is the artifact's own floor: n_pairs == the full list,
    // removed docs == distinct doc_b side
    val pairs = Dedup.jaccard(spark, sf).collect()
    assert(curve(0.5)._1 == pairs.length.toLong)
    assert(curve(0.5)._2 == pairs.map(_.getLong(1)).distinct.length.toLong)
    assert(curve(0.5)._3 >= curve(0.5)._2) // >= 1 token per removed doc
  }

  test("simhash near-dups overlap heavily with jaccard near-dups") {
    val jac = pairSet(Dedup.jaccard(spark, sf), "doc_a", "doc_b")
    val sim = pairSet(Dedup.simhash(spark, sf), "doc_a", "doc_b")
    assert(sim.nonEmpty)
    val precision = (sim intersect jac).size.toDouble / sim.size
    assert(precision >= 0.5, s"simhash precision vs jaccard: $precision")
  }

  test("embed LSH: every reported pair is a true pair; recall >= 0.3") {
    val emb = Tables.embeddings(spark, sf)
    val brute = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(VecFns.cosine(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("cos") >= 0.4)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val bruteSet = pairSet(brute, "vec_a", "vec_b")
    val lsh = pairSet(Dedup.embedNearDup(spark, sf), "vec_a", "vec_b")
    assert((lsh -- bruteSet).isEmpty, "LSH reported a non-pair")
    if (bruteSet.nonEmpty) {
      val recall = (bruteSet intersect lsh).size.toDouble / bruteSet.size
      // random near-orthogonal vectors are the worst case for
      // hyperplane LSH; on real near-dup data (cos>=0.9) recall ≈ 1
      assert(recall >= 0.3, s"embed LSH recall $recall over ${bruteSet.size}")
    }
  }

  test("near-dup clusters match a union-find over the jaccard pairs") {
    val pairs = Dedup.jaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference union-find on the driver
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.toSeq.groupBy(find)
      .map { case (_, ms) => (ms.min, ms.sorted.mkString(",")) }.toSet
    val got = Dedup.clusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == expected)
    // the arbitrarily-large-graph path (label propagation, forced by
    // a zero small-graph bound) must produce the identical clusters
    val loop = SessionRegistry.persisting(Dedup.clusters(spark, sf, _, smallGraphMax = -1L).collect())
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(loop == expected)
  }

  /** Planted-near-dup fixture: the synthetic embeddings are
    * near-orthogonal (worst case for LSH/IVF — max cos ≈ 0.5), so
    * recall floors against them are weak. This dir clones the
    * embeddings table and plants a high-cosine twin (deterministic
    * ±3% per-dim perturbation, cos ≈ 0.999) for each vec_id < 50;
    * recall over the planted pairs is asserted ≥ 0.8 — the regime the
    * operators actually target. */
  private lazy val plantedDir: String = {
    // per-run temp dir (as the streaming specs do): concurrent suite
    // invocations must not race on one fixed fixture path
    val dir = SparkTest.tempDir("planted_fixture").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
    val planted = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (v, i) =>
          (v.cast("double") * (lit(1.0) + lit(0.03) * cos(i.cast("double"))))
            .cast("float")).as("embedding"),
        col("label"))
    emb.unionByName(planted)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("row-local minhash signature == grouped-aggregation signature (stream/batch hash family)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).limit(200)
      .select(col("doc_id"), Dedup.shinglesCol.as("shingles"))
    val rowLocal = docs
      .select(col("doc_id"), Dedup.sigCol(col("shingles")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the batch operator's formulation: explode + K grouped mins
    val sh = docs.select(col("doc_id"), explode(col("shingles")).as("s"))
      .withColumn("x", pmod(xxhash64(col("s")), lit(Dedup.minhashP)))
    val minCols = (0 until Dedup.minhashK).map(i =>
      min(pmod(col("x") * (2L * i + 1L) + i.toLong * Dedup.minhashC,
        lit(Dedup.minhashP))).as(s"m$i"))
    val grouped = sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to Dedup.minhashK).map(r.getLong(_)).toSeq).toMap
    assert(rowLocal.keySet == grouped.keySet)
    rowLocal.foreach { case (id, sig) => assert(sig == grouped(id), s"doc $id") }
  }

  test("embed LSH recovers planted high-cosine twins (recall >= 0.8)") {
    val expected = (0L until 50L).map(id => (id, id + 100000L)).toSet
    val got = pairSet(Dedup.embedNearDup(spark, plantedDir), "vec_a", "vec_b")
    val recall = (expected intersect got).size.toDouble / expected.size
    assert(recall >= 0.8, s"planted-twin recall $recall")
    // every planted pair that IS reported must carry cos ≈ 1
    val cosById = Dedup.embedNearDup(spark, plantedDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    (expected intersect got).foreach { p =>
      assert(cosById(p) >= 0.99, s"pair $p cos ${cosById(p)} not near-dup grade")
    }
  }

  test("PQ ANN surfaces planted twins in top-5 (recall >= 0.8) with well-formed output") {
    val pq = SimilaritySearch.knnPq(spark, plantedDir).collect()
    val pqSet = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0L until 10L).count(id => pqSet.contains((id, id + 100000L)))
    assert(hits >= 8, s"planted twin found for only $hits/10 queries")
    // exact re-rank: reported cosines are true cosines, sorted desc
    pq.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sims = rs.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse, s"query $q not sorted")
      assert(rs.length <= 5)
    }
  }

  test("IVF∘PQ surfaces planted twins in top-5 (recall >= 0.8) with exact re-rank") {
    // the composed index must not lose the twin: the twin lands in
    // the same coarse cell as its query (cos ≈ 0.999 ⇒ same nearest
    // centroid almost surely) and ADC ranks it at the top there
    val out = SimilaritySearch.knnIvfPq(spark, plantedDir).collect()
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0L until 10L).count(id => got.contains((id, id + 100000L)))
    assert(hits >= 8, s"planted twin found for only $hits/10 queries")
    // exact re-rank: reported cosines are true cosines, sorted desc
    out.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sims = rs.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse, s"query $q not sorted")
      assert(rs.length <= 5)
    }
  }

  test("SQ8 quantized search agrees with the exact float baseline (recall >= 0.8)") {
    // 8-bit-per-dim reconstruction error is far below the cosine gaps
    // between true neighbors on this corpus, so the quantized ranking
    // should recover nearly all exact top-5 members
    val exact = SimilaritySearch.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = SimilaritySearch.knnSq8(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect sq).size.toDouble / exact.size
    assert(recall >= 0.8, s"sq8 recall $recall vs exact over ${exact.size}")
  }

  test("IVF∘PQ candidates come only from probed cells (subset of IVF at same nprobe)") {
    // with the SHARED coarse quantizer, every ivfpq neighbor must be
    // reachable by ivf at the same nprobe probing ALL in-cell
    // candidates — ivfpq prunes WITHIN cells, never adds outside them
    val ivfAll = SimilaritySearch.knnIvf(spark, sf, nprobe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = SimilaritySearch.knnIvfPq(spark, sf, nprobe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe=16 probes every cell: both see the full corpus, and the
    // ADC candidate bound (50) ≫ k (5) on this corpus ⇒ same top-5
    // would be ideal, but ADC is lossy; assert high agreement instead
    val agree = (ivfAll intersect ivfpq).size.toDouble / ivfAll.size
    assert(agree >= 0.6, s"ivfpq agreement with exhaustive ivf only $agree")
  }

  test("persisted IVF∘PQ index: partition-pruned probe scan, exact parity with in-memory") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val mem = SimilaritySearch.knnIvfPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val disk = SimilaritySearch.knnIvfPqPersisted(spark, sf)
    val got = disk.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == mem) // same index artifacts (shared registries) ⇒ same answer
    // the probe must PRUNE the index scan to the probed cells'
    // partition directories — the whole point of the layout — and
    // the probed cells reach the scan's partition filters at run time,
    // from the broadcast probe side (dynamic partition pruning), not as
    // a literal list collected on the driver. (Spark lists the
    // isnotnull(cent_id) it infers from the join first, so the filter
    // is matched inside the list, not at its head.)
    val plan = disk.queryExecution.executedPlan.toString
    val scanLines = plan.linesIterator.filter(l => l.contains("FileScan") && l.contains("cent_id")).mkString("\n")
    assert(("PartitionFilters: \\[[^\\]]*dynamicpruningexpression\\(" +
      "cent_id#\\d+ IN dynamicpruning#\\d+\\)").r.findFirstIn(plan).isDefined, scanLines)
    assert("cent_id#\\d+ (INSET|IN \\()".r.findFirstIn(plan).isEmpty, scanLines)
    // what the scan read: exactly the partitions of the distinct
    // probed cells, computed here from the centroids (top-2 cosine,
    // id ascending on ties — the default nprobe)
    val cents = SimilaritySearch.ivfCentroids(spark, sf)
    def cos(v: Array[Double], c: Array[Double]): Double = {
      val dot = v.indices.foldLeft(0.0)((s, i) => s + v(i) * c(i))
      dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(c.map(x => x * x).sum))
    }
    val probed = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("embedding")).collect()
      .flatMap { r =>
        val v = r.getSeq[Float](0).map(_.toDouble).toArray
        cents.indices.sortBy(c => (-cos(v, cents(c)), c)).take(2)
      }.toSet
    val scans = new AdaptiveSparkPlanHelper {}.collect(disk.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.partitionSchema.fieldNames.contains("cent_id") => s
    }
    assert(scans.size == 1, plan.take(3000))
    val m = scans.head.metrics
    val root = scans.head.relation.location.rootPaths.head.toString
    val files = probed.toSeq.map { c =>
      new java.io.File(new java.net.URI(s"$root/cent_id=$c")).listFiles()
        .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    }.sum
    val rows = spark.read.parquet(root)
      .filter(col("cent_id").isin(probed.toSeq: _*)).count()
    assert(m("numPartitions").value == probed.size, s"probed cells $probed")
    assert(m("numFiles").value == files)
    assert(m("numOutputRows").value == rows)
    assert(probed.size < cents.length) // the check is not vacuous
  }

  test("IVF ANN surfaces planted twins in top-5 (recall >= 0.8)") {
    val ivf = SimilaritySearch.knnIvf(spark, plantedDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // queries are vec_id < 10; each has a planted twin at id+100000
    val hits = (0L until 10L).count(id => ivf.contains((id, id + 100000L)))
    assert(hits >= 8, s"planted twin found for only $hits/10 queries")
  }

  test("IVF nprobe knob: recall vs brute is non-decreasing in probed cells") {
    val brute = SimilaritySearch.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact property: more probed cells ⇒ superset of candidates, and
    // a brute-top-5 member among candidates always survives the exact
    // re-rank (only the other 4 can outrank it)
    val recalls = Seq(1, 2, 4, 16).map { nprobe =>
      val ivf = SimilaritySearch.knnIvf(spark, sf, nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect ivf).size.toDouble / brute.size
    }
    assert(recalls == recalls.sorted, s"recall not monotone in nprobe: $recalls")
    // probing ALL cells = brute force exactly
    assert(recalls.last == 1.0, s"nprobe=16 recall ${recalls.last} != 1")
  }

  test("TopKByKey bounded aggregator: k best, score desc, id tie-break asc") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, 10L, 0.5), (1L, 11L, 0.9), (1L, 12L, 0.9), (1L, 13L, 0.1),
      (2L, 20L, 0.3)).toDF("query_id", "vec_id", "cosine")
    val out = df.groupBy(col("query_id"))
      .agg(plans.TopKByKey.topK(2)(col("vec_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getStruct(2).getLong(0)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq((1L, 0, 11L), (1L, 1, 12L), (2L, 0, 20L)))
  }

  test("IVF ANN returns well-formed top-5 with decent recall vs brute") {
    val brute = SimilaritySearch.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilaritySearch.knnIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // probing 2/16 random cells of near-orthogonal data bounds recall;
    // the point is the plan shape (cell-bucketed candidate pruning)
    assert(recall >= 0.1, s"ivf recall $recall")
    assert(ivf.size == brute.size)
  }

  test("edit-dedup equals the brute-force all-pairs result under its blocking rule") {
    // driver-side reference on the 50-doc corpus: every pair with
    // >= EditMinShingles shared 3-shingles AND levenshtein ratio
    // <= EditMaxRatio — the operator's inverted-index blocking plus
    // posting-pair explosion must lose NOTHING relative to this
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      var cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length) {
          val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        }
        val t = prev.clone(); Array.copy(cur, 0, prev, 0, cur.length); cur = t
      }
      prev(b.length)
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def shingles(t: String): Set[String] =
      t.trim.split("\\s+").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val sh = docs.map { case (id, t) => (id, t, shingles(t)) }
    val brute = (for {
      (ia, ta, sa) <- sh; (ib, tb, sb) <- sh if ia < ib
      if (sa & sb).size >= Dedup.EditMinShingles
      d = lev(ta, tb)
      if d.toDouble / math.max(ta.length, tb.length) <= Dedup.EditMaxRatio
    } yield (ia, ib)).toSet
    val got = pairSet(Dedup.editDedup(spark, sf), "doc_a", "doc_b")
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(got.nonEmpty)
  }

  test("tfidf cosine pairs are bounded and cover the strong jaccard pairs") {
    val rows = Dedup.tfidfCosine(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cos = r.getDouble(3)
      assert(cos >= Dedup.TfidfCosThreshold && cos <= 1.0 + 1e-9, s"cosine $cos")
      assert(r.getDouble(2) > 0.0) // dot of admitted pairs is positive
    }
    // weighted cosine sees everything strong set-Jaccard sees: a pair
    // sharing >= 50% of its shingle sets has high weighted overlap too
    val strong = pairSet(Dedup.jaccard(spark, sf).filter(col("jaccard") >= 0.7),
      "doc_a", "doc_b")
    val cosSet = pairSet(Dedup.tfidfCosine(spark, sf), "doc_a", "doc_b")
    assert(strong.subsetOf(cosSet), s"missing strong pairs: ${strong -- cosSet}")
  }

  test("q188 lsh calibration: valid rates, S-curve monotone across buckets") {
    val rows = Dedup.lshCalibration(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, n, f) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(b >= 10 && b <= 20, s"bucket $b outside the s>=0.5 range")
      assert(f <= n)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= n.toDouble + 1e-6)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0 + 1e-6)
    }
    // the S-curve is increasing in s, buckets partition s ascending →
    // expected_rate must be strictly monotone across non-empty buckets
    val rates = rows.sortBy(_.getLong(0)).map(_.getDouble(5))
    assert(rates.zip(rates.tail).forall { case (a, b) => a < b + 1e-12 },
      rates.mkString(","))
    // prediction and measurement agree where theory is confident: in
    // the near-certain region (s >= 0.8 → p > 0.98) recall is ~1
    rows.filter(_.getLong(0) >= 16).foreach { r =>
      assert(r.getDouble(4) >= 0.9, s"high-s bucket under-recalled: $r")
    }
  }

  test("q186 embed outliers: a planted far vector is flagged and is its label's worst") {
    // stage a corpus with one adversarial vector: all components at
    // the clamp boundary (+1), far from any real centroid
    val staged = SparkTest.tempDir("emb")
    val plantedId = 999999L
    val base = Tables.embeddings(spark, sf)
    val planted = base.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(spark.range(1).select(
        lit(plantedId).as("vec_id"),
        array((1 to SimilaritySearch.EmbDim).map(_ => lit(1.0f)): _*)
          .as("embedding"),
        lit(0).as("label")))
    planted.coalesce(1).write.mode("overwrite")
      .parquet(s"$staged/embeddings.parquet")
    val out = SimilaritySearch.embedOutliers(spark, staged.toString).collect()
    val l0 = out.find(_.getInt(0) == 0).get
    assert(l0.getLong(2) >= 1L, s"planted outlier not flagged: $l0")
    assert(l0.getLong(3) == plantedId, s"worst vector is not the plant: $l0")
    // report invariants on the raw corpus too
    val raw = SimilaritySearch.embedOutliers(spark, sf).collect()
    assert(raw.nonEmpty)
    raw.foreach { r =>
      assert(r.getLong(2) < r.getLong(1))       // outliers are a minority
      assert(r.getLong(4) >= r.getLong(5))      // worst_d2 >= mean_d2
    }
  }

  test("q190 embed admit: clean batch admits; a planted far batch vector is rejected") {
    // raw corpus: every batch vector should pass the 3x-mean gate
    val raw = SimilaritySearch.embedAdmit(spark, sf).collect()
    assert(raw.nonEmpty)
    assert(raw.forall(_.getBoolean(3)), "clean corpus rejected a vector")
    // plant: first id >= 10^6 landing in the batch residue (the
    // SAME arithmetic as CorpusOps.sampleHash — compile-time link)
    val p = graft.operators.CorpusOps.SampleHashP
    val c = graft.operators.CorpusOps.SampleHashC
    val plantedId = Iterator.from(1000000)
      .find(id => ((id % p) * c) % p % 10 == 3).get.toLong
    val staged = SparkTest.tempDir("emb_admit")
    Tables.embeddings(spark, sf)
      .unionByName(spark.range(1).select(
        lit(plantedId).as("vec_id"),
        array((1 to SimilaritySearch.EmbDim).map(_ => lit(1.0f)): _*)
          .as("embedding"),
        lit(0).as("label")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$staged/embeddings.parquet")
    val out = SimilaritySearch.embedAdmit(spark, staged.toString).collect()
    val plant = out.find(_.getLong(0) == plantedId).get
    assert(!plant.getBoolean(3), s"far batch vector admitted: $plant")
    // fail-closed: a label the store never saw is rejected with null d2
    val labelOnly = Iterator.from(2000000)
      .find(id => ((id % p) * c) % p % 10 == 3).get.toLong
    val staged2 = SparkTest.tempDir("emb_admit2")
    Tables.embeddings(spark, sf)
      .unionByName(spark.range(1).select(
        lit(labelOnly).as("vec_id"),
        array((1 to SimilaritySearch.EmbDim).map(_ => lit(0.1f)): _*)
          .as("embedding"),
        lit(99).as("label")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$staged2/embeddings.parquet")
    val out2 = SimilaritySearch.embedAdmit(spark, staged2.toString).collect()
    val orphan = out2.find(_.getLong(0) == labelOnly).get
    assert(!orphan.getBoolean(3) && orphan.isNullAt(2), s"unknown label admitted: $orphan")
  }

  test("q192 embed drift: full-join semantics, a one-sided label reports with nulls") {
    val raw = SimilaritySearch.embedDrift(spark, sf).collect()
    assert(raw.nonEmpty)
    raw.foreach { r =>
      if (!r.isNullAt(1) && !r.isNullAt(2)) {
        assert(r.getLong(3) >= 0L)            // shift_d2
        assert(!r.isNullAt(6) || r.getLong(4) == 0L)
      }
    }
    // plant a batch-only label: it must appear with null store stats
    // and a null drift ratio (appearance IS drift, fail-visible)
    val p = graft.operators.CorpusOps.SampleHashP
    val c = graft.operators.CorpusOps.SampleHashC
    val id = Iterator.from(3000000)
      .find(id => ((id % p) * c) % p % 10 == 3).get.toLong
    val staged = SparkTest.tempDir("emb_drift")
    Tables.embeddings(spark, sf)
      .unionByName(spark.range(1).select(
        lit(id).as("vec_id"),
        array((1 to SimilaritySearch.EmbDim).map(_ => lit(0.5f)): _*)
          .as("embedding"),
        lit(77).as("label")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$staged/embeddings.parquet")
    val out = SimilaritySearch.embedDrift(spark, staged.toString).collect()
    val novel = out.find(_.getInt(0) == 77).get
    assert(novel.isNullAt(1) && novel.getLong(2) == 1L &&
      novel.isNullAt(3) && novel.isNullAt(6), s"batch-only label wrong: $novel")
  }

  test("q191 ndcg/mrr: bounded metrics, user accounting matches q157 (shared chain)") {
    import graft.operators.WordItemApp
    val n = WordItemApp.recNdcg(spark, sf).collect().head
    val e = WordItemApp.recEval(spark, sf).collect().head
    assert(n.getLong(0) == e.getLong(0)) // n_users
    assert(n.getLong(1) == e.getLong(1)) // n_users_hit
    assert(n.getDouble(2) >= 0.0 && n.getDouble(2) <= 1.0) // macro_ndcg
    assert(n.getDouble(3) >= 0.0 && n.getDouble(3) <= 1.0) // macro_mrr
    // MRR >= nDCG contribution of a single first hit is not a general
    // invariant, but both must be 0 iff no user hit anything
    assert((n.getLong(1) == 0) == (n.getDouble(2) == 0.0))
    assert(n.getLong(1) > 0) // the eval is non-vacuous at every SF
  }

  test("q187 signal correlations are valid Pearson values on a bounded sample") {
    val rows = graft.operators.TextOps.signalCorr(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L &&
        r.getLong(1) <= graft.operators.TextOps.CorrSampleK)
      for (i <- 2 to 4; if !r.isNullAt(i)) {
        val v = r.getDouble(i)
        assert(v >= -1.0 - 1e-12 && v <= 1.0 + 1e-12, s"r out of range: $v")
      }
    }
    // non-vacuous: length and TTR anti-correlate on natural-ish text
    assert(rows.exists(r => !r.isNullAt(2) && r.getDouble(2) < 0))
  }
}
