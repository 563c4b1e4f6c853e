package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet loaders for the driver-generated testdata tables
  * (TESTDATA.md). One loader per table so call sites stay
  * column-pruned: Catalyst prunes the scan to the columns actually
  * selected downstream, so loading "the whole table" here is free.
  */
object Tables {
  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
