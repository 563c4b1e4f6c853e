package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input contracts (round-7 verdict item 4; the reference
  * tests the empty path explicitly — test/model/test_tfidf.py:15
  * `test_apply_with_empty`): a planted corpus with empty,
  * whitespace-only, single-token, punctuation-only and 2-token docs
  * run through the tokenizer-family queries. The gate corpora never
  * contain these rows (q148's round-10 empty-agg NPE was exactly this
  * class), so the planted corpus is where the division guards and
  * `range(1, len-k)` behaviors are actually exercised.
  *
  * Cross-engine note (verified by tools/make_degenerate.py +
  * check_oracle: 7/7 hash-match on this corpus): Spark's
  * split(trim("")) and DuckDB's string_split_regex both yield [""]
  * for empty/whitespace-only text, so BOTH engines count one
  * empty-string token for such docs — a consistent (if odd) shared
  * artifact, pinned here so a tokenizer change that breaks the
  * mirror fails loudly.
  */
class DegenerateInputSpec extends AnyFunSuite {
  import SparkTest.spark

  private val degenerate = Seq(
    (9000L, ""), // empty
    (9001L, "   "), // spaces only
    (9002L, "\n\n\t \n"), // whitespace mix
    (9003L, "solitary"), // single token
    (9004L, "!!! ... ???"), // punctuation only
    (9005L, "alpha beta")) // two tokens

  private lazy val plantedDir: String = {
    val dir = SparkTest.tempDir("degen_spec").toString
    import spark.implicits._
    // base rows keep the shared defs on realistic text; planted rows
    // are the degenerate battery
    val base = Tables.documents(spark, SparkTest.sf).limit(50)
    val extra = degenerate.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("degenerate"))
      .withColumn("n_chars", length(col("text")))
    base.unionByName(extra).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("tokenizer-family queries survive empty/whitespace/single-token docs") {
    val dir = plantedDir
    val family = Seq("q20_token_stats", "q21_quality_score", "q23_dictionary",
      "q24_tfidf", "q72_gopher_rules", "q79_bigram_lm", "q95_ccnet_buckets",
      "q228_repetition_battery")
    family.foreach { name =>
      val out = SparkEntry.queries(name)(spark, dir)
      assert(out.count() > 0, s"$name returned 0 rows on the planted corpus")
    }
  }

  test("degenerate docs flow through the aggregates with the pinned accounting") {
    val dir = plantedDir
    // q21: all six planted docs are counted under their source; the
    // [""]-token artifact means even the empty docs contribute one
    // token each (both engines agree — see header note)
    val q21 = SparkEntry.queries("q21_quality_score")(spark, dir)
      .filter(col("source") === "degenerate").collect()
    assert(q21.length == 1)
    assert(q21.head.getAs[Long]("n_docs") == 6L)
    val total = q21.head.getAs[Long]("total_tokens")
    assert(total >= 6L && total <= 12L, s"degenerate total_tokens $total")

    // q72: no degenerate doc passes the Gopher word-count floor
    val q72 = SparkEntry.queries("q72_gopher_rules")(spark, dir)
      .filter(col("source") === "degenerate").collect()
    assert(q72.length == 1)
    assert(q72.head.getAs[Long]("n_docs") == 6L)
    assert(q72.head.getAs[Long]("n_pass") == 0L, "a degenerate doc passed Gopher")

    // q95: LM scoring keeps exactly the docs with >= 1 BIGRAM under
    // the shared tokenizer. That includes the whitespace-mix doc —
    // Spark's split (and DuckDB's string_split_regex) keep leading
    // AND trailing empty strings, so "\n\n\t \n" tokenizes to
    // ["", ""] (one bigram of empty tokens) — and excludes the
    // single-token doc (no bigram). Both engines agree on every one
    // of these rows (hash-verified via tools/make_degenerate.py).
    val q95 = SparkEntry.queries("q95_ccnet_buckets")(spark, dir)
      .filter(col("doc_id") >= 9000L).collect()
    assert(q95.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(9002L, 9004L, 9005L),
      s"unexpected scored degenerate docs: ${q95.toSeq}")
    q95.foreach(r => assert(!r.isNullAt(r.fieldIndex("doc_nll")),
      s"null doc_nll for ${r.getAs[Long]("doc_id")}"))

    // q24: the single- and two-token docs rank their own terms; no
    // null/NaN tfidf anywhere on the planted corpus
    val q24 = SparkEntry.queries("q24_tfidf")(spark, dir)
    assert(q24.filter(col("tfidf").isNull || isnan(col("tfidf"))).count() == 0)
    val solo = q24.filter(col("doc_id") === 9003L).collect()
    assert(solo.length == 1 && solo.head.getAs[String]("term") == "solitary")
  }

  test("BPE trainer + consumers survive fully-merged and EMPTY words (round-8 sweep bugs)") {
    val dir = plantedDir
    // Bug A: pair generation must be EMPTY below 2 symbols — a
    // descending sequence(0, -1) hits element_at(s, 0), an ANSI
    // error, the moment any vocab word fully merges. Training on the
    // planted corpus exercises the guard.
    val merges = SparkEntry.queries("q115_bpe_train")(spark, dir)
    assert(merges.count() > 0, "BPE training produced no merges")

    // Bug B (fold-seed contract): DuckDB's list_reduce seeds acc with
    // the FIRST element; an `acc === ""` not-started sentinel in the
    // Spark fold collides with the '' word's legitimately-empty first
    // symbol (" </w>" → ["", "</w>"]) and silently drops a piece.
    // Pin: the empty word costs exactly 2 pieces in BOTH engines.
    val empties = operators.TextOps.bpePieces(spark, dir)
      .filter(col("word") === "").collect()
    assert(empties.length == 1, s"expected one '' vocab row, got ${empties.length}")
    assert(empties.head.getAs[Long]("n_pieces") == 2L,
      s"'' word pieces = ${empties.head.getAs[Long]("n_pieces")} (want 2: ['', '</w>'])")

    // and the consumers roll it up without crashing
    val enc = SparkEntry.queries("q118_bpe_encode")(spark, dir)
      .filter(col("source") === "degenerate").collect()
    assert(enc.length == 1 && enc.head.getAs[Long]("n_words") == 10L,
      s"degenerate encode rollup: ${enc.toSeq}")
    assert(SparkEntry.queries("q229_tokenizer_fertility")(spark, dir)
      .filter(col("source") === "degenerate").count() == 1L)
  }
}
