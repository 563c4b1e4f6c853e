package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.MlOps

/** q227 trained paragraph vectors: quality contract on a PLANTED
  * near-dup corpus (the NfcIngestSpec pattern — testdata-independent),
  * per the round-7 verdict: trained doc vectors' nearest-doc agreement
  * on planted near-dup pairs must be at least q44's mean-pooling
  * baseline computed from the SAME joint fit's word vectors (isolating
  * the paragraph-token contribution from the training data).
  */
class Doc2VecSpec extends AnyFunSuite {
  import SparkTest.spark

  /** 15 topic pools × (base doc + near-dup twin) + 10 same-topic
    * distractors, all ≥ 40 words so every doc token clears the
    * shared fit's minCount under the D2vStride interleave. */
  private lazy val plantedDir: String = {
    val dir = SparkTest.tempDir("d2v_spec").toString
    val rnd = new scala.util.Random(42)
    val themes = Seq(
      "river stone bridge water flow bank current stream pebble shore",
      "engine piston valve fuel spark cylinder torque crank gear shaft",
      "flour yeast oven dough crust bake loaf knead crumb proof",
      "violin bow string rosin chord tune pitch scale fret note",
      "glacier ice snow crevasse summit ridge alpine frost melt moraine",
      "harbor vessel cargo anchor dock tide berth hull mast keel",
      "orchard apple blossom graft prune harvest cider bark root limb",
      "circuit resistor voltage current capacitor diode relay fuse wire ohm",
      "meadow clover bee hive nectar pollen swarm drone comb wax",
      "desert dune sand oasis camel mirage wind erosion ridge basin",
      "library shelf index catalog archive folio binding margin scribe ink",
      "reactor neutron shield coolant core fission rod containment flux decay",
      "vineyard grape trellis tannin barrel ferment cork vintage press soil",
      "observatory telescope lens mirror orbit comet nebula eclipse star dome",
      "foundry furnace ingot mold alloy slag quench anvil forge temper")
    def sample(pool: Array[String], n: Int): Seq[String] =
      Seq.fill(n)(pool(rnd.nextInt(pool.length)))
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    themes.zipWithIndex.foreach { case (theme, t) =>
      val pool = theme.split(" ")
      val base = sample(pool, 45)
      // twin: ~8% of positions re-drawn from the pool + a light
      // deterministic rotation (order perturbation)
      val twin = base.map(w => if (rnd.nextInt(12) == 0) pool(rnd.nextInt(pool.length)) else w)
      val rotated = twin.drop(5) ++ twin.take(5)
      rows += ((t.toLong * 2, base.mkString(" ")))
      rows += ((t.toLong * 2 + 1, rotated.mkString(" ")))
    }
    // mixed-topic distractors: 40/60 blends of two pools — a probe's
    // twin must outrank docs sharing a good fraction of its vocabulary
    (0 until 10).foreach { t =>
      val a = themes(t).split(" ")
      val b = themes((t + 1) % themes.length).split(" ")
      rows += ((100L + t, (sample(a, 18) ++ sample(b, 27)).mkString(" ")))
    }
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def top1Agreement(vecs: Map[Long, Array[Double]],
      pairs: Seq[(Long, Long)]): Double = {
    val hits = pairs.count { case (a, b) =>
      (vecs.contains(a) && vecs.contains(b)) && {
        val best = vecs.toSeq.filter(_._1 != a)
          .maxBy { case (id, v) => (cos(vecs(a), v), -id) }
        best._1 == b
      }
    }
    hits.toDouble / pairs.length
  }

  test("trained paragraph vectors recover planted near-dup twins at least as well as mean pooling") {
    val dir = plantedDir
    val model = MlOps.doc2vecModel(spark, dir)
    val all = model.getVectors.collect()
      .map(r => r.getString(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray).toMap
    val trained = all.collect { case (w, v) if w.startsWith("@") =>
      w.drop(1).toLong -> v }
    // every planted doc is long enough to clear minCount: all 40
    // docs must have a trained paragraph vector
    assert(trained.size == 40, s"trained doc vectors: ${trained.size}")

    // mean-pooling baseline (q44's formula) from the SAME fit's word
    // vectors — same training data, no paragraph tokens
    val wordVecs = all.filter(!_._1.startsWith("@"))
    val texts = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pooled = texts.flatMap { case (id, text) =>
      val vs = text.split("\\s+").toSeq.flatMap(wordVecs.get)
      if (vs.isEmpty) None
      else {
        val s = new Array[Double](vs.head.length)
        vs.foreach(v => for (i <- s.indices) s(i) += v(i))
        Some(id -> s.map(_ / vs.length))
      }
    }

    // both directions of every twin pair
    val pairs = (0 until 15).flatMap(t =>
      Seq((t.toLong * 2, t.toLong * 2 + 1), (t.toLong * 2 + 1, t.toLong * 2)))
    val rateTrained = top1Agreement(trained, pairs)
    val ratePooled = top1Agreement(pooled, pairs)
    info(s"twin top-1 agreement: trained=$rateTrained pooled=$ratePooled")
    assert(rateTrained >= ratePooled,
      s"trained $rateTrained below pooled baseline $ratePooled")
    assert(rateTrained >= 0.8, s"trained agreement too low: $rateTrained")
  }

  test("q227 output: 3 neighbors per probe, trained-table-sized scan, deterministic ranks") {
    val out = MlOps.doc2vecNeighbors(spark, SparkTest.sf).collect()
    val byProbe = out.groupBy(_.getLong(0))
    assert(byProbe.nonEmpty)
    byProbe.foreach { case (p, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L), s"probe $p ranks")
      assert(rs.forall(_.getLong(2) != p), s"probe $p returned itself")
      val sims = rs.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(sims == sims.sorted.reverse, s"probe $p not sorted desc")
    }
  }
}
