package graft

import org.apache.spark.sql.SparkSession

/** The benchmark's read-only view of package-private program state. */
object BenchAccess {
  /** Entries the session owns across every SessionRegistry cache. */
  def registryEntries(spark: SparkSession): Int = SessionRegistry.liveKeyCount(spark)
}
