package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
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
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      // a query that throws before its write must leave no output, not
      // the previous run's, for the oracle compare to pick up
      val out = new java.io.File(s"$outDir/$name")
      org.apache.spark.sql.graftshim.LocalDirShim.deleteRecursively(out)
      try {
        fn(spark, sfDir).coalesce(1).write.parquet(out.getPath)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    System.err.println(s"[verify] failed: ${failed.size} of ${queries.size}" +
      s" (${compiles.getCount - compiledBefore} generated classes compiled)" +
      failed.sorted.map(" " + _).mkString)
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
