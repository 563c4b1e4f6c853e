package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Empty-CORPUS contracts (round 8; the zero-row sibling of
  * DegenerateInputSpec's zero-length docs — the reference tests the
  * empty path explicitly, test/model/test_tfidf.py:15). The sweep
  * tool is tools/make_empty.py; this spec pins the three fixed crash
  * classes and the fit-raise contract so a regression fails the
  * suite, not just the round tooling:
  *
  *  - partitionBy sinks write files lazily per partition VALUE, so
  *    an empty commit/sink left ZERO files and every read-back died
  *    on schema inference (Tables.writePartitionedKeepSchema's
  *    sentinel-partition empty branch);
  *  - ANSI double division errors on x/0 (q206/q234 guards);
  *  - stat.bloomFilter over zero rows returns a null-buffer bloom
  *    that NPEs inside the codegen probe (q99's explicit empty
  *    bloom).
  *
  * Fit-backed queries RAISE with a clear message instead — gensim/TF
  * raise on an empty fit corpus too, so empty-in/empty-out would
  * invent behavior the reference doesn't have (both branches of the
  * contract exercised — lever (hh)).
  */
class EmptyCorpusSpec extends AnyFunSuite {
  import SparkTest.spark

  private lazy val emptyDir: String = {
    val dir = SparkTest.tempDir("empty_spec").toString
    // zero-row documents with the real schema; other tables real
    // (the sweep tool symlinks them — here only documents consumers
    // run, so writing documents alone keeps the spec fast)
    Tables.documents(spark, SparkTest.sf).limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (t <- Seq("events", "embeddings", "lineitem", "orders", "customer",
        "supplier", "part", "region", "nation")) {
      spark.read.parquet(s"${SparkTest.sf}/$t.parquet").limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("lakehouse commits, curated sinks and guarded divisions survive a zero-row corpus") {
    val dir = emptyDir
    // the vanished-partitionBy-sink class: every store/sink query
    // must come back with a well-formed (zero-row) frame
    for (name <- Seq("q164_time_travel", "q165_version_diff", "q168_vacuum_read",
        "q174_forget_audit", "q180_chunk_delta", "q208_store_growth",
        "q91_curated_sink", "q109_curated_append", "q113_curated_compact")) {
      val out = SparkEntry.queries(name)(spark, dir)
      assert(out.count() == 0L, s"$name returned rows on an empty corpus")
    }
    // ANSI ÷0 guards: flag_rate/corpus_frac are NULL, never an error
    val q206 = SparkEntry.queries("q206_contam_sensitivity")(spark, dir)
    assert(q206.filter(col("flag_rate").isNotNull).count() == 0L)
    assert(q206.count() > 0L) // the n-grid frame itself survives
    assert(SparkEntry.queries("q234_cluster_size_dist")(spark, dir)
      .filter(col("corpus_frac").isNotNull).count() == 0L)
    // null-buffer bloom class: empty store => empty bloom => no dups
    assert(SparkEntry.queries("q99_bloom_dedup")(spark, dir).count() == 0L)
  }

  test("fit-backed queries raise the LOUD empty-fit message, not MLlib internals") {
    val dir = emptyDir
    val lda = intercept[IllegalArgumentException] {
      SparkEntry.queries("q51_lda")(spark, dir).collect()
    }
    assert(lda.getMessage.contains("empty fit input"), lda.getMessage)
    val qm = intercept[IllegalArgumentException] {
      SparkEntry.queries("q223_learned_admission")(spark, dir).collect()
    }
    assert(qm.getMessage.contains("empty train slice"), qm.getMessage)
    // q222 and q230 persist the seed set before their fit: a raising
    // fit must still release it
    for (name <- Seq("q222_quality_classifier", "q230_classifier_calibration")) {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries(name)(spark, dir).collect()
      }
      assert(e.getMessage.contains("empty train slice"), s"$name: ${e.getMessage}")
      assert(SparkTest.cacheManagerEmpty, s"$name left its persisted seed set behind")
    }
    // the embeddings-backed index/experiment family: the quantizer/
    // codebook builders and the experiment runs must fail at the
    // require, not as a mid-job Summarizer task failure
    val sq = intercept[IllegalArgumentException] {
      SparkEntry.queries("q116_knn_sq8")(spark, dir).collect()
    }
    assert(sq.getMessage.contains("empty embeddings table"), sq.getMessage)
    val fm = intercept[IllegalArgumentException] {
      SparkEntry.queries("q53_fm")(spark, dir).collect()
    }
    assert(fm.getMessage.contains("empty embeddings fit input"), fm.getMessage)
  }
}
