package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsOfJoin

class AsOfJoinSpec extends AnyFunSuite {

  import SparkTest._

  private def sides = {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("t"))
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        unix_timestamp(col("o_orderdate")).as("ot"))
    (ev, ord)
  }

  test("custom AsOfJoinExec is planned and matches the union+window oracle") {
    val (ev, ord) = sides
    val joined = AsOfJoin(spark, ev, ord, "user_id", "o_custkey", "t", "ot")
    // SparkPlan.nodeName strips the Exec suffix
    assert(joined.queryExecution.executedPlan.toString.contains("AsOfJoin "))
    val got = joined
      .select(col("event_id"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet

    // oracle: union + last_value window (same rule incl. ties)
    val tagged = ord.select(col("o_custkey").as("user_id"), col("ot").as("t"),
        lit(0).as("side"), col("o_orderkey").as("ref"))
      .unionByName(ev.select(col("user_id"), col("t"), lit(1).as("side"),
        col("event_id").as("ref")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("side"), col("ref"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val exp = tagged
      .withColumn("last_order",
        last(when(col("side") === 0, col("ref")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("ref"), coalesce(col("last_order"), lit(-1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(got == exp)
  }

  test("as-of exec shuffles each side once (no union padding)") {
    val (ev, ord) = sides
    val plan = AsOfJoin(spark, ev, ord, "user_id", "o_custkey", "t", "ot")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 2, plan) // one per side
    assert(!plan.contains("Union"), plan)
  }

  test("AsOfJoinExec survives AQE re-planning on a skewed key (no silent fallback)") {
    // 90% of left rows pile on key 7 — the shape that makes AQE
    // rewrite the post-shuffle reads. The strategy must still plan
    // the custom exec in the FINAL adaptive plan (not quietly revert
    // to the union+window shape), the coalesced reads must stay
    // co-partitioned (doExecute hard-asserts equal counts), and the
    // values must match the plain join+argmax rule.
    val skewLeft = spark.range(0, 20000)
      .select(when(col("id") % 10 === 0, pmod(col("id"), lit(50)))
        .otherwise(lit(7L)).cast("long").as("k"),
        col("id").cast("long").as("t"))
    val right = spark.range(0, 1000)
      .select(pmod(col("id"), lit(50)).cast("long").as("rk"),
        (col("id") * 3).cast("long").as("rt")) // rt unique → no ties
    val joined = AsOfJoin(spark, skewLeft, right, "k", "rk", "t", "rt")
    // collect the joined frame ITSELF so its adaptive plan finalizes
    // (a .select on top would execute a different QueryExecution)
    val got = joined.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    // stringified AFTER execution = the final adaptive plan
    val fin = joined.queryExecution.executedPlan.toString
    assert(fin.contains("AsOfJoin "), fin)
    assert(!fin.contains("Union"), fin)
    assert(fin.contains("AdaptiveSparkPlan isFinalPlan=true"), fin)
    val exp = skewLeft
      .join(right, col("k") === col("rk") && col("rt") <= col("t"), "left")
      .groupBy(col("k"), col("t"))
      .agg(coalesce(max(col("rt")), lit(-1L)).as("mrt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exp)
  }

  test("events with no prior order get null order columns") {
    val (ev, ord) = sides
    val joined = AsOfJoin(spark, ev,
      ord.filter(col("o_custkey") === 3), "user_id", "o_custkey", "t", "ot")
    val others = joined.filter(col("user_id") =!= 3)
    assert(others.filter(col("o_orderkey").isNotNull).count() == 0)
  }
}
