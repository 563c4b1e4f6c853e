package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Host-independent regression gate for serve: each request function,
  * run warm, may start at most its budgeted number of Spark jobs. A
  * job is per-call scheduling cost (a serve request's stages are
  * nearly all single-task), so a new collect, a second scan or an
  * inferring read shows here as a count, whatever the host's speed. */
class JobBudgetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTest._

  private val Key = "graft.call"

  /** Jobs per warm call. q74 prunes its index by dynamic partition
    * pruning. A warm artifact read starts no schema-inference job
    * (q155's staged degree table). q89 and q142 probe held postings
    * (q142's item marginals are held too, so it reads no click log).
    * A small global sort runs in one task with no range exchange
    * (`SingleTaskSort`): no bounds-sampling job and no range shuffle
    * stage in q74, q116, q142, q155 or q11. Each count must hold
    * again after `clearCache()`. */
  private val budgets = Seq(
    "q74_ivfpq_disk" -> 5,
    "q116_knn_sq8" -> 3,
    "q89_bm25" -> 5,
    "q142_cooccur_sim" -> 3,
    "q155_degree_profile" -> 1,
    "q11_event_rollup" -> 2)

  /** The root paths of every file scan in the plan a frame ran. */
  private def scannedPaths(df: DataFrame): Seq[String] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("every serve request stays within its warm job budget") {
    val jobs = TrieMap.empty[String, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
          .foreach(k => jobs.updateWith(k)(n => Some(n.getOrElse(0) + 1)))
    }
    val sc = spark.sparkContext
    val ran = TrieMap.empty[String, DataFrame]
    def block(tag: String): Unit = budgets.foreach { case (name, _) =>
      sc.setLocalProperty(Key, s"$tag:$name")
      try {
        val df = SparkEntry.queries(name)(spark, sf)
        df.queryExecution.toRdd.count()
        ran.put(s"$tag:$name", df)
      } finally sc.setLocalProperty(Key, null)
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
    // a warm q142 probes the held click postings: its plan reads no
    // click log, where q11's rollup over the same log does
    def readsEvents(tag: String): Boolean =
      scannedPaths(ran(tag)).exists(_.stripSuffix("/").endsWith("/events.parquet"))
    assert(readsEvents("warm:q11_event_rollup"), scannedPaths(ran("warm:q11_event_rollup")))
    assert(!readsEvents("warm:q142_cooccur_sim"), scannedPaths(ran("warm:q142_cooccur_sim")))
  }
}
