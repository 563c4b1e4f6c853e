package org.apache.spark.ml.graftshim

import org.apache.spark.ml.util.HasTrainingSummary

/** Clears a fitted model's training summary (`setSummary` is
  * `private[ml]`). The summary holds the training SparkSession, and a
  * model's `transform` UDF captures the model, so the session rides in
  * every task closure; once an `Observation` has been used on that
  * session its ObservationManager is set and the closure no longer
  * serializes. graft reads no summary, so every fit whose model is
  * later applied in a plan goes through here. */
object SummaryShim {
  def dropSummary[M](model: M): M = {
    model match {
      case m: HasTrainingSummary[_] => m.setSummary(None)
      case _ =>
    }
    model
  }
}
