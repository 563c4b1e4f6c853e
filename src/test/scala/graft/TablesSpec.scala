package graft

import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  import SparkTest._

  test("a rewritten table is read with its new schema and rows") {
    val s = spark
    import s.implicits._
    val dir = tempDir("tables-").toString
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    // ts as epoch nanos (a long), then as a timestamp
    write(Seq((1L, 3600000000000L), (2L, 7200000000000L)).toDF("event_id", "ts"))
    assert(Tables.schemaOf(s, s"$dir/events.parquet")("ts").dataType == LongType)
    assert(Tables.events(s, dir).orderBy("event_id").as[(Long, java.sql.Timestamp)]
      .collect().map(_._2.getTime).toSeq == Seq(3600000L, 7200000L))
    write(Seq((3L, 60L), (4L, 120L), (5L, 180L)).toDF("event_id", "sec")
      .selectExpr("event_id", "timestamp_seconds(sec) AS ts"))
    assert(Tables.schemaOf(s, s"$dir/events.parquet")("ts").dataType == TimestampType)
    assert(Tables.events(s, dir).orderBy("event_id").as[(Long, java.sql.Timestamp)]
      .collect().toSeq.map { case (id, ts) => (id, ts.getTime) } ==
      Seq((3L, 60000L), (4L, 120000L), (5L, 180000L)))
  }
}
