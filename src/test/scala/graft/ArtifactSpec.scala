package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The disk-artifact lifecycle of [[SessionRegistry.artifact]]: one
  * build per (session, name, key), each attempt in a fresh dir under
  * the context's root, published only after its write returns; and
  * the handle's read path: a warm read starts no job, and two reads
  * are two relations. */
class ArtifactSpec extends AnyFunSuite {
  import SparkTest._

  private val injected = new IllegalStateException("injected build failure")

  /** Two append-mode commits; the FIRST attempt throws between them
    * (a crash mid-build), every later attempt completes. */
  private def flakyBuilder(session: SparkSession): String => Unit = {
    import session.implicits._
    var attempts = 0
    path => {
      attempts += 1
      Seq(1L, 2L, 3L).toDF("id").write.mode("append").parquet(path)
      if (attempts == 1) throw injected
      Seq(11L, 12L).toDF("id").write.mode("append").parquet(path)
    }
  }

  private def ids(path: String): Seq[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).sorted.toSeq

  private def attemptDirs(name: String): Seq[File] =
    Option(SessionRegistry.root(spark.sparkContext).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"$name-"))

  test("a failed append-mode build is retried into a fresh dir and reads back one copy") {
    val key = ("retry", System.nanoTime)
    val build = flakyBuilder(spark)
    val before = SessionRegistry.liveKeyCount(spark)
    val e = intercept[IllegalStateException](
      SessionRegistry.artifact(spark, "spec_retry", key)(build))
    assert(e eq injected)
    assert(SessionRegistry.builtArtifact(spark, "spec_retry", key).isEmpty,
      "a failed build must not be published")
    val path = SessionRegistry.artifact(spark, "spec_retry", key)(build).path
    assert(ids(path) == Seq(1L, 2L, 3L, 11L, 12L), "commit 1 must not be appended twice")
    assert(SessionRegistry.builtArtifact(spark, "spec_retry", key).map(_.path).contains(path))
    // built once: a third call neither rebuilds nor moves the path
    assert(SessionRegistry.artifact(spark, "spec_retry", key)(_ => fail("rebuilt")).path == path)
    assert(SessionRegistry.liveKeyCount(spark) == before + 1, "one registry entry per artifact")
    // the failed attempt wrote elsewhere, so it never shared the dir
    assert(attemptDirs("spec_retry").map(_.getPath).toSet.size == 2)
  }

  test("evictContext deletes the context root with a failed attempt's dir") {
    val key = ("evict", System.nanoTime)
    val build = flakyBuilder(spark)
    intercept[IllegalStateException](
      SessionRegistry.artifact(spark, "spec_evict", key)(build))
    val failed = attemptDirs("spec_evict")
    assert(failed.size == 1 && failed.head.isDirectory, "failed attempt left no partial dir")
    val root = SessionRegistry.root(spark.sparkContext)
    SessionRegistry.evictContext(spark.sparkContext)
    assert(!failed.head.exists, "failed attempt's dir must be deleted")
    assert(!root.exists, "the context root must be deleted")
    assert(SessionRegistry.liveKeyCount(spark) == 0)
    // the live context rebuilds under a fresh root on next access
    val path = SessionRegistry.artifact(spark, "spec_evict", key)(build).path
    assert(ids(path) == Seq(1L, 2L, 3L, 11L, 12L))
  }

  test("two sessions of one context get distinct dirs and each reads its own rows") {
    val other = spark.newSession()
    val key = ("sessions", System.nanoTime)
    def build(s: SparkSession, id: Long)(p: String): Unit = {
      import s.implicits._
      Seq(id).toDF("id").write.parquet(p)
    }
    val a = SessionRegistry.artifact(spark, "spec_sessions", key)(build(spark, 1L)).path
    val b = SessionRegistry.artifact(other, "spec_sessions", key)(build(other, 2L)).path
    assert(a != b)
    assert(SessionRegistry.artifact(spark, "spec_sessions", key)(_ => fail("rebuilt")).path == a)
    assert(ids(a) == Seq(1L))
    assert(other.read.parquet(b).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("the root is graft-<application id> under Spark's first local dir") {
    // Spark's precedence: SPARK_LOCAL_DIRS, then spark.local.dir,
    // then java.io.tmpdir
    val local = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(spark.sparkContext.getConf.getOption("spark.local.dir"))
      .getOrElse(System.getProperty("java.io.tmpdir")).split(",").head
    val root = new File(local, s"graft-${spark.sparkContext.applicationId}")
    assert(SessionRegistry.root(spark.sparkContext) == root)
    val path = SessionRegistry.artifact(spark, "spec_root", System.nanoTime) { p =>
      import spark.implicits._
      Seq(7L).toDF("id").write.parquet(p)
    }.path
    assert(new File(path).getParentFile == root)
    assert(ids(path) == Seq(7L))
  }

  /** Jobs started while `body` runs (the listener bus drained on both
    * sides, so no earlier job leaks in and no later one is missed). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerShim.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a warm read of an artifact starts no Spark job and returns the same rows") {
    import spark.implicits._
    val key = ("warm", System.nanoTime)
    val art = SessionRegistry.artifact(spark, "spec_warm", key)(
      Seq(4L, 5L, 6L).toDF("id").repartition(3).write.parquet(_))
    val built = art.read().collect().map(_.getLong(0)).sorted.toSeq
    assert(built == Seq(4L, 5L, 6L))
    val (warm, jobs) = jobsDuring(
      SessionRegistry.artifact(spark, "spec_warm", key)(_ => fail("rebuilt")).read())
    assert(jobs == 0, s"a warm read started $jobs jobs")
    assert(warm.collect().map(_.getLong(0)).sorted.toSeq == built)
    // the count is not vacuous: an inferring read of the same dir
    // starts its footer job
    val (_, inferring) = jobsDuring(spark.read.parquet(art.path))
    assert(inferring > 0, "the listener saw no job for an inferring read")
  }

  test("two reads of one partitioned artifact self-join correctly and keep pruning") {
    import spark.implicits._
    val key = ("selfjoin", System.nanoTime)
    val art = SessionRegistry.artifact(spark, "spec_selfjoin", key)(
      (0L until 20L).map(i => (i, (i % 4).toInt)).toDF("id", "c")
        .write.partitionBy("c").parquet(_))
    val a = art.read().filter(col("c") === 1)
    val b = art.read().filter(col("c") === 1)
    val aIds = a.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(b.queryExecution.analyzed.output.forall(o => !aIds.contains(o.exprId)),
      "two reads share attribute ids")
    val joined = a.join(b.select(col("id").as("id_b")), a("id") === col("id_b"))
    assert(joined.count() == 5)
    val plan = joined.queryExecution.executedPlan.toString
    // every scan of the artifact prunes to the c=1 directory
    val filters = """PartitionFilters: \[[^\]]*\]""".r.findAllIn(plan).toSeq
    assert(filters.nonEmpty, plan)
    filters.foreach(f =>
      assert(f.matches("""PartitionFilters: \[isnotnull\(c#\d+\), \(c#\d+ = 1\)\]"""), plan))
  }
}
