package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: pre-configured the way
  * graft's operators expect — UTC (oracle/timestamp determinism), AQE
  * on (runtime coalesce + skew-join handling), shuffle parallelism
  * sized to the cluster rather than Spark's 200 default, and graft's
  * native SQL functions registered. Every session setting an operator
  * relies on is set here, never by the operator mid-call.
  *
  * On a real cluster, `shufflePartitions` should be ~2-3× total
  * executor cores, and `spark.sql.files.maxPartitionBytes` left at
  * 128 MB so a 100 TB scan fans out to ~800k input splits.
  */
object GraftSession {

  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // cached bounded frames re-coalesce on read (AQE sizes by bytes;
      // default false keeps cache reads at full shuffle width — see
      // OPTIMIZATION_r08.md)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts ships as TIMESTAMP(NANOS) in some testdata
      // generations, which the vectorized reader rejects; read it as
      // raw longs (Tables.events / StreamOps normalize to micros)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep the bucketed scan for bucketed tables even when Spark
      // judges it useless: Sources.bucketedJoin's shuffle-free
      // sort-merge join depends on it
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // compiled generated classes are kept in an LRU cache of this
      // many entries (Spark's default 100). One block of the serve
      // requests (q74, q116, q89, q142, q155, q11) uses about 127
      // distinct classes and one curation pass about 200, so at 100
      // every warm call recompiled all of its classes (~26 ms of Janino
      // each, then the JIT again). 1000 holds that working set with
      // headroom; a retained class costs about 25 KB of heap. The conf
      // is static: CodeGenerator reads it once per JVM, when its first
      // class compiles, so only the JVM's first session can set it.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
