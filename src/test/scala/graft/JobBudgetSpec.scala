package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Host-independent regression gate for serve: each request function,
  * run warm, may start at most its budgeted number of Spark jobs. A
  * job is per-call scheduling cost (a serve request's stages are
  * nearly all single-task), so a new collect, a second scan or an
  * inferring read shows here as a count, whatever the host's speed. */
class JobBudgetSpec extends AnyFunSuite {
  import SparkTest._

  private val Key = "graft.call"

  /** Jobs per warm call. The budgets are the counts measured when the
    * q74 probe moved to dynamic partition pruning and q142 to one
    * click-log scan (before, q74 ran 11 and q142 8 jobs here). A warm
    * artifact read starts no schema-inference job (q155's staged
    * degree table). q89 probes held postings (5 jobs; 6 when it
    * matched frames its last call left in the cache manager). Each
    * count must hold again after `clearCache()`. */
  private val budgets = Seq(
    "q74_ivfpq_disk" -> 7,
    "q116_knn_sq8" -> 5,
    "q89_bm25" -> 5,
    "q142_cooccur_sim" -> 7,
    "q155_degree_profile" -> 3,
    "q11_event_rollup" -> 4)

  test("every serve request stays within its warm job budget") {
    val jobs = TrieMap.empty[String, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
          .foreach(k => jobs.updateWith(k)(n => Some(n.getOrElse(0) + 1)))
    }
    val sc = spark.sparkContext
    def block(tag: String): Unit = budgets.foreach { case (name, _) =>
      sc.setLocalProperty(Key, s"$tag:$name")
      try SparkEntry.queries(name)(spark, sf).queryExecution.toRdd.count()
      finally sc.setLocalProperty(Key, null)
    }
    sc.addSparkListener(listener)
    try {
      block("cold")
      block("warm")
      // serving state lives outside Spark's cache manager: a caller's
      // clearCache() must not turn a warm request cold
      spark.catalog.clearCache()
      block("cleared")
      ListenerShim.drain(sc)
    } finally sc.removeSparkListener(listener)
    info(budgets.map { case (name, _) =>
      Seq("cold", "warm", "cleared").map(t => jobs.getOrElse(s"$t:$name", 0))
        .mkString(s"$name ", "/", "")
    }.mkString("jobs cold/warm/cleared: ", ", ", ""))
    val over = budgets.flatMap { case (name, budget) =>
      val n = jobs.getOrElse(s"warm:$name", 0)
      if (n > budget) Some(s"$name: $n jobs (budget $budget)") else None
    }
    assert(over.isEmpty, over.mkString("; "))
    val colder = budgets.flatMap { case (name, _) =>
      val (w, c) = (jobs.getOrElse(s"warm:$name", 0), jobs.getOrElse(s"cleared:$name", 0))
      if (c != w) Some(s"$name: $w jobs warm, $c after clearCache()") else None
    }
    assert(colder.isEmpty, colder.mkString("; "))
    // the listener saw the calls (the check is not vacuous)
    assert(budgets.forall { case (name, _) => jobs.getOrElse(s"warm:$name", 0) > 0 })
  }
}
