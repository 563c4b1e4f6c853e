package org.apache.spark

/** Lets a caller (graft.Verify, a spec) wait until its listener has
  * seen every event posted so far (the listener bus delivers
  * asynchronously). */
object ListenerShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
