package graft
import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap
import org.apache.spark.ListenerShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  * stderr gets one `[verify] jobs <query> <n>` line per query and a
  * last line with the failures, the codegen compile count and the
  * run's total jobs. */
object Verify {
  private val CallKey = "graft.call"

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    // one Janino compile per generated class not found in Spark's codegen
    // cache: a lost cache setting or a per-call literal shows up here
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiledBefore = compiles.getCount
    // one listener counts every Spark job, by the query it ran under
    // (the `graft.call` local property; "" for none): a sort that kept
    // its range exchange or a new collect shows up here as a count
    val sc = spark.sparkContext
    val jobs = TrieMap.empty[String, Int]
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val call = Option(e.properties).flatMap(p => Option(p.getProperty(CallKey)))
        jobs.updateWith(call.getOrElse(""))(n => Some(n.getOrElse(0) + 1))
      }
    })
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      // a query that throws before its write must leave no output, not
      // the previous run's, for the oracle compare to pick up
      val out = new java.io.File(s"$outDir/$name")
      org.apache.spark.sql.graftshim.LocalDirShim.deleteRecursively(out)
      sc.setLocalProperty(CallKey, name)
      try {
        fn(spark, sfDir).coalesce(1).write.parquet(out.getPath)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      } finally sc.setLocalProperty(CallKey, null)
    }
    ListenerShim.drain(sc)
    queries.keys.toSeq.sorted.foreach(name =>
      System.err.println(s"[verify] jobs $name ${jobs.getOrElse(name, 0)}"))
    System.err.println(s"[verify] failed: ${failed.size} of ${queries.size}" +
      s" (${compiles.getCount - compiledBefore} generated classes compiled," +
      s" ${jobs.values.sum} jobs)" + failed.sorted.map(" " + _).mkString)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
