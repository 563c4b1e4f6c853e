package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusOps, Dedup}

/** NFC-at-ingest composition proofs (round 7, verdict items 1/6).
  *
  * The q193 kernel (plans/NfcExprs) is wired into the SHARED ingest
  * defs — TextFns.tokens and Dedup.normText — so the entire dedup /
  * fingerprint / contamination family sees one canonical form of
  * canonically-equivalent text. These specs plant a composed
  * (U+00E9) vs decomposed (e + U+0301) twin pair — byte-distinct,
  * canonically identical — and assert the pair is caught by q30
  * (exact), q31 (Jaccard), and the FULL q85 funnel's dedup stage.
  * Before the wiring, all three provably missed it (raw-byte
  * hashing). The corpus here is synthetic and TESTDATA-independent:
  * the gate corpora are pure ASCII (where NFC is the identity — which
  * is itself the oracle-regression proof), so the non-ASCII path can
  * only be exercised by planting.
  */
class NfcIngestSpec extends AnyFunSuite {
  import SparkTest._

  // "café" composed vs decomposed: same canonical string, different bytes
  private val composed = "café"
  private val decomposed = "café"

  // ≥50 words, mean word length in [3,10], TTR ≥ 0.2, ≥2 stopword
  // kinds — passes the Gopher quality stage so the funnel numbers
  // isolate the DEDUP stage's behavior on the twins.
  private def body(word: String): String = {
    val filler = (1 to 56).map(i => f"word$i%03d").mkString(" ")
    s"the menu of $word and the glass is full today $filler"
  }

  private lazy val dir: String = {
    val d = SparkTest.tempDir("nfc_corpus").toString
    val rows = Seq(
      (1L, body(composed), "fr", "web"),
      (2L, body(decomposed), "fr", "web"),
      (3L, "the quick brown fox jumps over a lazy dog and the day is long " +
        (1 to 52).map(i => f"unique$i%03d").mkString(" "), "en", "web"),
      (4L, "the report of a committee and the notes in the margin " +
        (1 to 53).map(i => f"margin$i%03d").mkString(" "), "en", "books"))
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("planted twins are byte-distinct but canonically identical") {
    assert(composed != decomposed)
    assert(java.text.Normalizer.normalize(composed, java.text.Normalizer.Form.NFC) ==
      java.text.Normalizer.normalize(decomposed, java.text.Normalizer.Form.NFC))
  }

  test("q30 exact dedup clusters the composed/decomposed twins") {
    val out = Dedup.exact(spark, dir).collect()
    assert(out.map(_.getLong(2)).sum == 4L)
    val twinCluster = out.filter(_.getLong(2) == 2L)
    assert(twinCluster.length == 1,
      s"expected exactly one 2-doc cluster, got ${out.mkString("; ")}")
    assert(twinCluster.head.getLong(1) == 1L) // keep-first = min doc_id
  }

  test("q31 jaccard dedup reports the twins as an exact near-dup pair") {
    val pairs = Dedup.jaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 },
      s"twin pair missing from jaccard output: ${pairs.mkString("; ")}")
    // and ONLY the twins — the other docs share at most stop-shingles
    assert(pairs.forall { case (a, b, _) => a == 1L && b == 2L })
  }

  test("q85 funnel's dedup stage drops exactly one twin on the non-ASCII corpus") {
    val rows = CorpusOps.curationFunnel(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // web: 3 raw docs, the decomposed twin is the one dedup drop
    assert(rows("web") == ((3L, 2L)), s"funnel rows: $rows")
    assert(rows("books") == ((1L, 1L)), s"funnel rows: $rows")
  }
}
