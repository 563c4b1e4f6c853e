package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ObservedSessionSpec extends AnyFunSuite {
  import SparkTest._

  test("a fitted classifier applies on a session that has used an Observation") {
    // a fresh session: its registry has no fitted model and no cached
    // q230 result, so the fit and the transform both run here
    val s = spark.newSession()
    val obs = Observation("rows")
    s.range(3).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") == 3L)
    // a training summary left on the model would carry this session,
    // and its ObservationManager, into the transform's task closure
    val rows = SparkEntry.queries("q230_classifier_calibration")(s, sf).collect()
    assert(rows.nonEmpty)
  }
}
