package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** q153's adaptive fixed-point unit (round 7): the overflow bound
  * raw·K ≤ unit²·nU·nI previously pinned unit=10^6 and with it a
  * node-vocabulary ceiling of N ≈ 3·10^3 per side. The unit is now
  * derived from the measured side sizes by an integer-only rule the
  * generated oracle replays; these specs pin (a) the rule itself,
  * (b) the overflow bound it guarantees, and (c) a full HITS run on
  * a synthetic ~10^5-node bipartite graph — the regime the old
  * constant could not enter.
  */
class HitsScaleSpec extends AnyFunSuite {
  import SparkTest._

  test("unit rule: largest power of 10 under the 2^62 product bound") {
    // gate-scale graphs keep the historical 10^6
    assert(GraphOps.hitsUnitFor(100L, 50L) == 1000000L)
    assert(GraphOps.hitsUnitFor(2000L, 1000L) == 1000000L)
    // 10^5 x 10^5 nodes -> nU·nI = 1e10 -> cap ~ 4.6e8 -> 10^4
    assert(GraphOps.hitsUnitFor(100000L, 100000L) == 10000L)
    // 10^7-item catalog x 10^6 users -> 10^13 -> cap ~ 4.6e5 -> 10^2
    assert(GraphOps.hitsUnitFor(1000000L, 10000000L) == 100L)
    // capped at the historic 10^6 (downward-only adaptation: gate
    // values stay bit-identical to the pinned-constant era)
    assert(GraphOps.hitsUnitFor(1L, 1L) == GraphOps.HitsMaxUnit)
    assert(GraphOps.HitsMaxUnit == 1000000L)
  }

  test("overflow bound holds for every size pair the rule accepts") {
    val sizes = Seq(1L, 10L, 999L, 3000L, 100000L, 10000000L)
    for (nu <- sizes; ni <- sizes) {
      val u = GraphOps.hitsUnitFor(nu, ni)
      // raw·K ≤ unit²·nU·nI must fit with a spare bit; verify in BigInt
      val worst = BigInt(u) * BigInt(u) * BigInt(nu) * BigInt(ni)
      assert(worst <= BigInt(1L << 62), s"nu=$nu ni=$ni u=$u")
      // and u is MAXIMAL: the next power of 10 would overflow (or is the cap)
      if (u < GraphOps.HitsMaxUnit) {
        val next = BigInt(u * 10) * BigInt(u * 10) * BigInt(nu) * BigInt(ni)
        assert(next > BigInt(1L << 62), s"u not maximal: nu=$nu ni=$ni u=$u")
      }
    }
  }

  test("HITS converges on a synthetic ~10^5-node bipartite graph without overflow") {
    import spark.implicits._
    // 50k users x 50k items; each user clicks 3 deterministic items,
    // with a popularity hub (item 0) every 100th user also clicks —
    // ~1.5e5 edges, 1e5 nodes, unit must drop to 10^4
    val nU = 50000L
    val edges = spark.range(nU).select(col("id").as("user_id"))
      .select(col("user_id"), explode(array(
        (col("user_id") * 7 % 50000).as("a"),
        (col("user_id") * 13 % 50000).as("b"),
        when(col("user_id") % 100 === 0, lit(0L))
          .otherwise((col("user_id") * 29 % 50000)).as("c"))).as("item"))
      .distinct()
    SessionRegistry.persisting { scope =>
      val out = scope.persisted(GraphOps.hitsOnEdges(edges, scope))
      val items = out.filter(col("role") === "item")
      val users = out.filter(col("role") === "user")
      // no overflow wraparound anywhere (a negative score is the int64
      // wrap signature; zeros are legitimate floor-division underflow
      // when authority mass concentrates on the planted hub)
      assert(out.filter(col("score_scaled") < 0L).count() == 0L)
      // L1 renormalization: each side's mass is unit·N_side up to the
      // per-row floor-division loss (< 1 unit per row)
      val unit = GraphOps.hitsUnitFor(nU, 50000L)
      assert(unit == 10000L)
      val itemMass = items.agg(sum("score_scaled")).head.getLong(0)
      val nItems = items.count()
      assert(itemMass <= unit * nItems && itemMass >= unit * nItems - nItems,
        s"item mass $itemMass vs ${unit * nItems}")
      // the planted hub is the top authority
      val top = items.orderBy(col("score_scaled").desc).select("id").head.getLong(0)
      assert(top == 0L, s"expected planted hub item 0 on top, got $top")
    }
  }
}
