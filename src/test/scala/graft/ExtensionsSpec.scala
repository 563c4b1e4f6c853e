package graft

import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  import SparkTest.spark

  test("native expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  rolling_hash('hello world') AS rh,
        |  simhash64(array('a', 'b')) AS sh,
        |  word_ngrams(array('a', 'b', 'c'), 2) AS ng,
        |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  vec_norm(array(3.0D, 4.0D)) AS n,
        |  minhash_sig(array('a b c', 'b c d')) AS ms
        |""".stripMargin).head
    assert(r.getAs[Long]("rh") == 204910434L)
    assert(r.getAs[scala.collection.Seq[String]]("ng").toSeq == Seq("a b", "b c"))
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Double]("n") == 5.0)
    val sig = r.getAs[scala.collection.Seq[Long]]("ms")
    assert(sig.length == 64 && sig.forall(v => v >= 0 && v < 1000000007L))
    // pinned to the batch family: sig_0 = min over shingles of
    // pmod(xxhash64(s), p) — cross-checked against spark's xxhash64
    val exp = spark.sql(
      "SELECT least(pmod(xxhash64('a b c'), 1000000007L), pmod(xxhash64('b c d'), 1000000007L)) AS m")
      .head.getAs[Long]("m")
    assert(sig.head == exp)
  }

  test("model factory builds every registered estimator") {
    ml.ModelFactory.names.foreach { n =>
      assert(ml.ModelFactory.create(n) != null)
    }
    intercept[IllegalArgumentException](ml.ModelFactory.create("nope"))
    val lr = ml.ModelFactory.withParams(
      ml.ModelFactory.create("logistic_regression"), Map("maxIter" -> 7))
    assert(lr.asInstanceOf[org.apache.spark.ml.classification.LogisticRegression]
      .getMaxIter == 7)
  }
}
