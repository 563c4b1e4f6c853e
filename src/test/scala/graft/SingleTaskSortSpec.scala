package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.plans.SingleTaskSort`: a global sort whose input AQE would
  * coalesce into one partition runs in one task, with no range
  * exchange (no bounds-sampling job, no range shuffle stage), and
  * gives exactly the rows, in exactly the order, of the range sort. */
class SingleTaskSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTest._

  private val Key = "graft.call"
  private val CoalesceConf = "spark.sql.adaptive.coalescePartitions.enabled"
  private val MinSizeConf = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** `body` with `key` set to `value` on the shared session, restored after. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The plan AQE ran, after the frame has been executed. */
  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan

  private def rangeExchanges(df: DataFrame): Int = collect(finalPlan(df)) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }.size

  private def oneTaskSorts(df: DataFrame): Int =
    collect(finalPlan(df)) { case c: CoalesceExec if c.numPartitions == 1 => c }.size

  /** The rows of `make()` and the Spark jobs its execution started. */
  private def run(tag: String)(make: => DataFrame): (DataFrame, Seq[Row], Int) = {
    val jobs = TrieMap.empty[String, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key))).filter(_ == tag)
          .foreach(k => jobs.updateWith(k)(n => Some(n.getOrElse(0) + 1)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try {
      val df = make
      val rows = df.collect().toSeq
      ListenerShim.drain(sc)
      (df, rows, jobs.getOrElse(tag, 0))
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("q11 and q116 sort in one task: no range exchange, 2 fewer jobs, same rows") {
    Seq("q11_event_rollup", "q116_knn_sq8").foreach { name =>
      val q = SparkEntry.queries(name)
      q(spark, sf).collect() // builds the query's artifacts
      val (on, rowsOn, jobsOn) = run(s"on:$name")(q(spark, sf))
      assert(rangeExchanges(on) == 0, s"$name:\n${finalPlan(on)}")
      assert(oneTaskSorts(on) >= 1, s"$name:\n${finalPlan(on)}")
      val (off, rowsOff, jobsOff) =
        withConf(CoalesceConf, "false")(run(s"off:$name")(q(spark, sf)))
      assert(rangeExchanges(off) >= 1, s"$name without coalescing:\n${finalPlan(off)}")
      assert(oneTaskSorts(off) == 0)
      assert(rowsOn.nonEmpty)
      assert(rowsOn == rowsOff, s"$name: the one-task sort changed the rows or their order")
      assert(jobsOn == jobsOff - 2, s"$name: $jobsOn jobs with the rule, $jobsOff without")
    }
  }

  test("a sort whose input is above AQE's one-partition size keeps the range exchange") {
    val q = SparkEntry.queries("q11_event_rollup")
    val (small, rows, _) = run("small")(q(spark, sf))
    assert(rangeExchanges(small) == 0)
    val (big, rowsBig, _) = withConf(MinSizeConf, "1")(run("big")(q(spark, sf)))
    assert(rangeExchanges(big) >= 1, s"limit 1 byte:\n${finalPlan(big)}")
    assert(rowsBig == rows)
  }

  test("the one-task sort and the range sort agree on direction, nulls, NaN and -0.0") {
    import spark.implicits._
    val d = s"${tempDir("single-task-sort")}/t"
    val special = Seq[java.lang.Double](Double.NaN, -0.0, 0.0, null,
      Double.PositiveInfinity, Double.NegativeInfinity, 1.5, -1.5)
    // 240 rows, keys repeating so the id tie-breaker decides among equals
    (0 until 240).map { i =>
      (i.toLong, special(i % special.size), if (i % 7 == 0) null else s"s${i % 13}")
    }.toDF("id", "x", "s").write.parquet(d)
    val src = spark.read.parquet(d)
    val orders: Seq[(String, Seq[Column])] = Seq(
      "x asc" -> Seq(col("x").asc),
      "x asc nulls last" -> Seq(col("x").asc_nulls_last),
      "x desc" -> Seq(col("x").desc),
      "x desc nulls first" -> Seq(col("x").desc_nulls_first),
      "s desc, x asc" -> Seq(col("s").desc, col("x").asc),
      "s asc nulls last, x desc nulls first" ->
        Seq(col("s").asc_nulls_last, col("x").desc_nulls_first))
    // a sort over a file scan, and one over a materialized shuffle stage
    val inputs: Seq[(String, DataFrame)] = Seq(
      "scan" -> src,
      "aggregate" -> src.groupBy(col("id"), col("x"), col("s"))
        .agg(count(lit(1)).as("n")))
    for ((in, df) <- inputs; (name, keys) <- orders) {
      val sorted = () => df.orderBy(keys :+ col("id"): _*)
      val (on, rowsOn, _) = run(s"on:$in:$name")(sorted())
      val (off, rowsOff, _) = withConf(CoalesceConf, "false")(run(s"off:$in:$name")(sorted()))
      assert(rangeExchanges(on) == 0 && oneTaskSorts(on) == 1, s"$in $name:\n${finalPlan(on)}")
      assert(rangeExchanges(off) == 1, s"$in $name:\n${finalPlan(off)}")
      assert(rowsOn.size == 240)
      // id is unique: equal id sequences are equal rows in equal order,
      // and -0.0 and 0.0 (equal keys) must not swap places either
      assert(rowsOn.map(_.getAs[Long]("id")) == rowsOff.map(_.getAs[Long]("id")),
        s"$in $name")
      assert(rowsOn.map(r => Option(r.getAs[java.lang.Double]("x")).map(
          v => java.lang.Double.doubleToRawLongBits(v))) ==
        rowsOff.map(r => Option(r.getAs[java.lang.Double]("x")).map(
          v => java.lang.Double.doubleToRawLongBits(v))), s"$in $name")
    }
  }
}
