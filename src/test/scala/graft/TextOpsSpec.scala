package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFns
import graft.operators.TextOps
import graft.plans.RollingHash

class TextOpsSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  test("rolling hash matches the byte-wise reference formula") {
    val got = Seq("hello world").toDF("t")
      .select(RollingHash(col("t")).as("fp")).head.getLong(0)
    var exp = 0L
    "hello world".getBytes("UTF-8").foreach { b =>
      exp = (exp * 31 + (b & 0xff)) % 1000000007L
    }
    assert(got == exp)
    assert(got == 204910434L) // cross-checked against DuckDB list_reduce
  }

  test("rolling hash stays inside whole-stage codegen") {
    val plan = Tables.documents(spark, sf).select(RollingHash(col("text")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*(1) Project"), plan)
  }

  test("char shingles are distinct n-grams") {
    val row = Seq("abcab").toDF("t")
      .select(TextFns.charShingles(col("t"), 3).as("s"))
      .head.getSeq[String](0)
    assert(row == Seq("abc", "bca", "cab"))
  }

  test("word shingles join consecutive tokens") {
    val row = Seq(Seq("a", "b", "c")).toDF("t")
      .select(TextFns.wordShingles(col("t"), 2).as("s"))
      .head.getSeq[String](0)
    assert(row == Seq("a b", "b c"))
  }

  test("tfidf ranks at most 3 terms per doc, rank deterministic") {
    val out = operators.TextOps.tfidf(spark, sf)
    val perDoc = out.groupBy("doc_id").count().agg(max("count")).head.getLong(0)
    assert(perDoc <= 3)
  }

  test("dictionary ids are dense from 0") {
    val ids = operators.TextOps.dictionary(spark, sf)
      .select("token_id").as[Long].collect().sorted
    assert(ids.headOption.contains(0L))
    assert(ids.sameElements(ids.indices.map(_.toLong)))
  }

  test("langid covers every document exactly once in the confusion matrix") {
    val n = operators.TextOps.langId(spark, sf)
      .agg(sum("n_docs")).head.getLong(0)
    assert(n == Tables.documents(spark, sf).count())
  }

  test("misra-gries heavy hitters: estimates are lower bounds; exact at large k") {
    import graft.operators.TextOps
    import graft.plans.WordNGrams
    val toks = TextFns.tokens(col("text"))
    val exact = Tables.documents(spark, sf)
      .select(explode(WordNGrams(toks, 3, distinct = false)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // small k: every reported weight is a valid lower bound on the
    // true count (the MG invariant survives the per-partition merge)
    val sketch = TextOps.heavyHitterGrams(spark, sf, mgK = 32, topN = 50)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sketch.nonEmpty)
    sketch.foreach { case (g, est) =>
      assert(est <= exact(g), s"gram '$g' est $est > true ${exact(g)}")
    }
    // k >= distinct grams per partition: MG never evicts, so the
    // sketch degenerates to the exact top-N (plumbing correctness)
    val full = TextOps.heavyHitterGrams(spark, sf, mgK = 1 << 20, topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val trueTop = exact.toSeq.sortBy { case (g, c) => (-c, g) }.take(10)
    assert(full.toSeq == trueTop)
  }

  test("bm25 returns a descending top-10 with positive scores and dense ranks") {
    val rows = operators.TextOps.bm25(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(2)).toSeq == (1L to 10L))
    val scores = rows.map(_.getDouble(1))
    assert(scores.forall(_ > 0))
    assert(scores.sameElements(scores.sortBy(-_)))
  }

  test("q193 nfc: planting arithmetic is ground truth; NFC is idempotent; ASCII is fixed") {
    import operators.TextOps
    val ids = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
    val rows = TextOps.unicodeNorm(spark, sf).collect()
    // changed docs == docs that received a plant (ASCII corpus is an
    // NFC fixed point — equality also PROVES that)
    val expectedChanged = ids.count(id =>
      id % TextOps.NfcMod1 == 0 || id % TextOps.NfcMod2 == 0)
    assert(rows.map(_.getLong(2)).sum == expectedChanged)
    assert(expectedChanged > 0)
    // each plant carries exactly 2 combining marks -> 2 cps saved
    val expectedSaved = 2L * ids.count(_ % TextOps.NfcMod1 == 0) +
      2L * ids.count(_ % TextOps.NfcMod2 == 0)
    assert(rows.map(_.getLong(3)).sum == expectedSaved)
    // the plants really are decomposed in source (no editor silently
    // composed them), and NFC composes + is idempotent
    import java.text.Normalizer
    assert(Normalizer.normalize(TextOps.NfcPlant1, Normalizer.Form.NFC)
      != TextOps.NfcPlant1)
    val once = Normalizer.normalize(TextOps.NfcPlant2, Normalizer.Form.NFC)
    assert(Normalizer.normalize(once, Normalizer.Form.NFC) == once)
  }

  test("q194 row-local langid == q25's declarative chain (confusion-matrix parity)") {
    // the row-local argmax (no explode/join/window) must reproduce
    // q25's explode+join+window chain exactly: compare the full
    // (lang, predicted) count matrix over the corpus
    val declarative = TextOps.langId(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rowLocal = graft.streaming.StreamOps
      .langFlags(Tables.documents(spark, sf))
      .groupBy(col("lang"), col("pred")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rowLocal == declarative)
    assert(declarative.values.sum == Tables.documents(spark, sf).count())
  }

  test("q194 tie-break and zero-hit semantics match q25's rule on planted rows") {
    // tie between fr and es ("la" is in BOTH profiles; one extra hit
    // each) -> alphabetically smaller 'es' wins, q25's plang-asc rule;
    // zero hits anywhere -> 'unknown'
    val docs = Seq(
      (1L, "la le el zzz", "fr", "web"),   // fr: la,le=2  es: la,el=2 -> tie -> es
      (2L, "zzz yyy xxx", "en", "web"),    // no profile hits -> unknown
      (3L, "the of and zzz", "en", "web")) // en wins
      .toDF("doc_id", "text", "lang", "source")
    val got = graft.streaming.StreamOps.langFlags(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(1L -> "es", 2L -> "unknown", 3L -> "en"), got.toString)
  }

  test("q194 per-source audit accounting is internally consistent") {
    val rows = TextOps.langMismatch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, m, u, mm) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(m + u + mm == n, s"${r.getString(0)}: $m+$u+$mm != $n")
      assert(r.getDouble(5) == mm.toDouble / n)
    }
  }

  test("q197 KS drift flag fires on a planted long-token source") {
    // the gate corpora are homogeneous (drifted == false everywhere),
    // so the alarm branch is pinned by planting: a source of
    // base64-ish 24-char tokens sits at sup-distance ~1.0 from the
    // short-word blend, far over KsTau
    import spark.implicits._
    val d = SparkTest.tempDir("ks_plant").toString
    // the planted source must be token-mass-BOUNDED (2.4% of the
    // blend): a dump big enough to own the blend drags every other
    // source's sup-distance up with it — the same caveat the q198
    // anchor plant documents
    val normal = (1 to 16).map(i =>
      (i.toLong, (1 to 100).map(j => s"word${(i * 31 + j) % 97}").mkString(" "),
        "en", "web"))
    val b64 = Seq((100L,
      (1 to 40).map(j => f"QWJjZGVmZ2hpamtsbW5v$j%04d").mkString(" "),
      "en", "b64dump"))
    (normal ++ b64).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = TextOps.tokenLenKs(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out("b64dump")._2, s"long-token source not flagged: $out")
    assert(out("b64dump")._1 > TextOps.KsTau)
    assert(!out("web")._2, s"organic source wrongly flagged: $out")
  }

  test("q211 review queue: every row truly fails its axis; quota and reproducibility hold") {
    val rows = TextOps.reviewQueue(spark, sf).collect()
    assert(rows.nonEmpty)
    // recompute the rule flags driver-side and check axis membership
    val flags = Tables.documents(spark, sf)
      .select(Seq(col("doc_id")) ++ TextOps.gopherSignalCols: _*)
      .select(Seq(col("doc_id")) ++ TextOps.gopherRuleCols: _*)
      .collect().map(r => r.getLong(0) ->
        Map("words" -> r.getBoolean(1), "wlen" -> r.getBoolean(2),
          "ttr" -> r.getBoolean(3), "stopwords" -> r.getBoolean(4))).toMap
    rows.foreach { r =>
      assert(!flags(r.getLong(2))(r.getString(1)),
        s"doc ${r.getLong(2)} does not fail axis ${r.getString(1)}")
      assert(r.getLong(3) >= 1L && r.getLong(3) <= TextOps.ReviewK)
    }
    // per (source, axis): ranks are 1..n with n <= K
    rows.groupBy(r => (r.getString(0), r.getString(1))).foreach { case (k, g) =>
      val rks = g.map(_.getLong(3)).sorted.toSeq
      assert(rks == (1L to rks.length), s"$k ranks $rks")
    }
    // deterministic: a second run returns the identical queue
    val again = TextOps.reviewQueue(spark, sf).collect().map(_.toString)
    assert(again.toSeq == rows.map(_.toString).toSeq)
  }

  test("q200 burstiness: df floor binds, burst consistent, head ordered") {
    val out = TextOps.termBurstiness(spark, sf).collect()
    assert(out.nonEmpty && out.length <= TextOps.BurstTopK)
    out.foreach { r =>
      val (tf, df, mx, b) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(df >= TextOps.BurstMinDf && tf >= df && mx <= tf && mx >= 1L)
      assert(b == tf.toDouble / df.toDouble)
    }
    val keys = out.map(r => (-r.getDouble(4), r.getString(0))).toSeq
    assert(keys == keys.sorted, "head not in (burst desc, term asc) order")
  }

  test("streaming lang flags equal the batch projection doc-for-doc") {
    val staged = SparkTest.tempDir("lang_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = graft.streaming.StreamOps
      .langFlags(Tables.documents(spark, sf)).collect()
      .map(_.toString).toSet
    val q = graft.streaming.StreamOps.langFlagStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("lang_flags_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("lang_flags_test").collect()
        .map(_.toString).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming repetition flags equal the batch projection doc-for-doc") {
    // q228's twin: the battery is one row-local kernel + flag
    // columns, so the stream and batch verdicts must be identical
    val staged = SparkTest.tempDir("rep_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val batch = TextOps.repFlags(Tables.documents(spark, sf)).collect()
      .map(_.toString).toSet
    val q = graft.streaming.StreamOps.repFlagStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("rep_flags_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("rep_flags_test").collect()
        .map(_.toString).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("q220 rule impact: anchored to q72, strictly-tighter containment, real delta") {
    val rows = TextOps.ruleChangeImpact(spark, sf).collect()
    // the CURRENT side must reproduce q72's pass accounting exactly
    // (both are the one shared predicate def — this is the no-drift
    // proof)
    val q72 = TextOps.gopherRules(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(2) == q72(s), s"$s pass_now != q72 n_pass")
      // proposed is strictly tighter → containment and exact deltas
      assert(r.getLong(3) <= r.getLong(2), s"$s containment")
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3), s"$s newly_rejected")
      assert((r.getLong(4) == 0L) == (r.getLong(5) == 0L), s"$s tokens_lost consistency")
      assert(r.getDouble(6) == r.getLong(2).toDouble / r.getLong(1).toDouble)
      assert(r.getDouble(7) == r.getLong(3).toDouble / r.getLong(1).toDouble)
    }
    // the proposed bounds must actually bite at the gate scale
    assert(rows.map(_.getLong(4)).sum > 0L, "proposed set rejects nothing")
  }

  test("q229 fertility: BPE pieces are never coarser than whitespace words, full (source, lang) coverage") {
    val rows = TextOps.tokenizerFertility(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, p, b) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
        r.getAs[Long]("n_bytes"))
      // every word is >= 1 piece -> fertility >= 1 and bytes-per-piece
      // <= the whitespace bytes-per-word baseline (verdict item 8's
      // done criterion)
      assert(p >= w, s"${r.getString(0)}/${r.getString(1)}: pieces $p < words $w")
      assert(r.getAs[Double]("fertility") == p.toDouble / w.toDouble)
      assert(r.getAs[Double]("bytes_per_piece") <= b.toDouble / w.toDouble,
        s"${r.getString(0)}/${r.getString(1)} coarser than whitespace")
    }
    // the equity table covers every (source, lang) cell in the corpus
    val expected = Tables.documents(spark, sf)
      .select("source", "lang").distinct().count()
    assert(rows.length == expected, s"${rows.length} cells vs $expected")
  }

  test("q228 repetition battery: planted docs exercise BOTH branches of every rule family") {
    // lever (hh): the gate corpora pass the whole battery, so the
    // FAIL branches are planted here — one doc per failure mode,
    // each its own source so the rollup row pins its flags
    import spark.implicits._
    val dir = SparkTest.tempDir("rep_spec").toString
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog near this river bank today", "clean"),
      (2L, Seq.fill(6)("repeat me").mkString("\n"), "dupline"),
      (3L, "para one text\n\npara one text\n\npara one text", "duppara"),
      (4L, (Seq.fill(3)("alpha beta gamma delta epsilon").mkString(" ") +
        " zeta eta theta iota kappa"), "gram5"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.repetitionBattery(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("clean", "dupline", "duppara", "gram5"))
    def f(src: String, c: String): Long = out(src).getAs[Long](c)
    // the clean doc passes everything
    assert(f("clean", "n_pass") == 1L, out("clean").toString)
    // six identical lines: dup-line fires; single paragraph: dup-para doesn't
    assert(f("dupline", "n_pass") == 0L)
    assert(f("dupline", "n_fail_dup_line") == 1L)
    assert(f("dupline", "n_fail_dup_para") == 0L)
    // three identical paragraphs (and their lines) both fire
    assert(f("duppara", "n_fail_dup_para") == 1L)
    assert(f("duppara", "n_fail_dup_line") == 1L)
    // the repeated 5-gram run fires the dup-5 mass rule but not the
    // line/para rules (one line, one paragraph)
    assert(f("gram5", "n_fail_dup5") == 1L)
    assert(f("gram5", "n_fail_dup_line") == 0L)
    assert(f("gram5", "n_fail_dup_para") == 0L)
  }

  test("q228 kernel replay: counts match a direct recount on a planted doc") {
    // lever (ii)'s spec half: the codegen kernel's exact counts are
    // replayed with an independent driver-side recount
    import spark.implicits._
    val text = "a b c a b c a b\n\nx y\nx y"
    val df = Seq((1L, text)).toDF("doc_id", "text")
      .select(graft.plans.RepExprs.repStats(
        graft.functions.TextFns.tokens(col("text")), col("text")).as("rs"))
    val rs = df.head.getSeq[Long](0)
    // text tokenizes (on \s+) to: a b c a b c a b x y x y (12 tokens)
    // lines: "a b c a b c a b", "x y", "x y" -> 3 lines, "x y" dup mass 2
    assert(rs(0) == 3L && rs(1) == 2L, rs.toString)
    // paragraphs: "a b c a b c a b" and "x y\nx y" -> 2, no dups
    assert(rs(2) == 2L && rs(3) == 0L, rs.toString)
    // 2-grams (11): top is "a b" x3
    assert(rs(4) == 3L && rs(5) == 11L, rs.toString)
    // 3-grams (10): "a b c" x2 top
    assert(rs(6) == 2L && rs(7) == 10L, rs.toString)
    // 5-grams (8): "a b c a b" x2 -> dup mass includes overlapping
    // repeats: a-b-c-a-b (pos 1,4? -> occurrences at i=0 and i=3)
    val words = text.split("\\s+").toSeq
    def recount(n: Int): (Long, Long, Long) = {
      val grams = words.sliding(n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
      val top = if (counts.isEmpty) 0L else counts.values.max
      val dup = counts.values.filter(_ > 1).sum
      (top, dup, grams.size.toLong)
    }
    Seq(2, 3, 4).zipWithIndex.foreach { case (n, i) =>
      val (top, _, tot) = recount(n)
      assert(rs(4 + 2 * i) == top && rs(5 + 2 * i) == tot, s"n=$n ${rs.toString}")
    }
    (5 to 10).zipWithIndex.foreach { case (n, i) =>
      val (_, dup, tot) = recount(n)
      assert(rs(10 + 2 * i) == dup && rs(11 + 2 * i) == tot, s"n=$n ${rs.toString}")
    }
  }
}
