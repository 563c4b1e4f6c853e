package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

class CodegenCacheSpec extends AnyFunSuite {
  import SparkTest._

  /** Janino compiles (generated classes not found in Spark's codegen
    * cache) while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a warm block of the serve requests reuses its generated classes") {
    val requests = Seq("q74_ivfpq_disk", "q116_knn_sq8", "q89_bm25",
      "q142_cooccur_sim", "q155_degree_profile", "q11_event_rollup")
      .map(SparkEntry.queries)
    def block(): Unit =
      requests.foreach(fn => fn(spark, sf).queryExecution.toRdd.count())
    val cold = compiles(block())
    val warm = compiles(block())
    // the block's working set (~127 classes) outgrew Spark's default
    // 100-entry cache, so every warm call recompiled all of its classes
    assert(warm * 10 <= cold, s"warm block compiled $warm classes, cold $cold")
  }
}
