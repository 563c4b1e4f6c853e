package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet loaders for the driver-generated testdata tables
  * (TESTDATA.md). One loader per table so call sites stay
  * column-pruned: Catalyst prunes the scan to the columns actually
  * selected downstream, so loading "the whole table" here is free.
  */
object Tables {
  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private val schemas =
    SessionRegistry.cache[(SparkSession, String, Seq[(String, Long, Long)]), StructType]()

  /** The parquet schema of `path` (a file or a directory of files),
    * inferred once per (session, path, file identity). An inferring
    * read runs a one-task footer job (0.07–0.14 s against 0.01–0.03 s
    * for a read given its schema); every source-table read paid it.
    * The identity is each file's path, length and mtime, so a
    * rewritten table gets a fresh schema: `events` tells NANOS from
    * MICROS timestamps by it.
    *
    * The identity comes from a `listStatus` walk, not `listFiles`:
    * `listFiles` builds a `LocatedFileStatus`, whose constructor asks
    * for the permission, and the local file system without libhadoop
    * answers that with an `ls -ld` subprocess per file (Spark's
    * `HadoopFSUtils` avoids the constructor for the same reason). */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(q: Path): Seq[FileStatus] =
      fs.listStatus(q).toSeq.flatMap(s => if (s.isDirectory) files(s.getPath) else Seq(s))
    val identity = files(p)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted.toVector
    schemas.getOrElseUpdate((spark, path, identity), spark.read.parquet(path).schema)
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some
    * testdata generations (which Spark's vectorized reader rejects —
    * read as raw long via GraftSession's legacy conf, then integer-div
    * to micros) and as un-adjusted TIMESTAMP(MICROS) in others
    * (inferred as TIMESTAMP_NTZ). Branch on the type the reader
    * actually infers and normalize BOTH to TimestampType: the session
    * is pinned to UTC (GraftSession), so NTZ→TZ is the identity on the
    * epoch micros and every downstream consumer (window ops, oracles,
    * Row.getTimestamp) sees one type regardless of encoding. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** A PARTITIONED parquet sink that cannot VANISH when the frame is
    * empty. Dynamic partitioning creates files lazily per partition
    * VALUE, so an empty frame writes ZERO files and the read-back
    * fails schema inference — found by the round-8 empty-corpus
    * sweep: every partitionBy commit/sink broke this way (plain
    * writes are safe — Spark's empty-schema-file handling covers
    * them). (Delta keeps the schema in its log; this is the
    * files-only reduction of that guarantee: an empty commit still
    * leaves one schema-bearing file.) The empty branch writes the
    * frame minus the partition column into a SENTINEL partition dir
    * (`version=0` / `source=__schema__` — a zero-row partition value
    * is invisible to every reader, and the sentinel must parse as
    * the partition column's type or the column type flips to
    * string). Hot path untouched — the isEmpty probe short-circuits
    * at the first row. */
  def writePartitionedKeepSchema(df: DataFrame, mode: String,
      partCol: String, sentinel: String, path: String): Unit =
    if (df.isEmpty)
      df.drop(partCol).repartition(1)
        .write.mode(mode).parquet(s"$path/$partCol=$sentinel")
    else df.write.mode(mode).partitionBy(partCol).parquet(path)
}
