package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The disk-artifact lifecycle of [[SessionRegistry.artifact]]: one
  * build per (session, name, key), each attempt in a fresh dir under
  * the context's root, published only after its write returns. */
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
    val path = SessionRegistry.artifact(spark, "spec_retry", key)(build)
    assert(ids(path) == Seq(1L, 2L, 3L, 11L, 12L), "commit 1 must not be appended twice")
    assert(SessionRegistry.builtArtifact(spark, "spec_retry", key).contains(path))
    // built once: a third call neither rebuilds nor moves the path
    assert(SessionRegistry.artifact(spark, "spec_retry", key)(_ => fail("rebuilt")) == path)
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
    val path = SessionRegistry.artifact(spark, "spec_evict", key)(build)
    assert(ids(path) == Seq(1L, 2L, 3L, 11L, 12L))
  }

  test("two sessions of one context get distinct dirs and each reads its own rows") {
    val other = spark.newSession()
    val key = ("sessions", System.nanoTime)
    def build(s: SparkSession, id: Long)(p: String): Unit = {
      import s.implicits._
      Seq(id).toDF("id").write.parquet(p)
    }
    val a = SessionRegistry.artifact(spark, "spec_sessions", key)(build(spark, 1L))
    val b = SessionRegistry.artifact(other, "spec_sessions", key)(build(other, 2L))
    assert(a != b)
    assert(SessionRegistry.artifact(spark, "spec_sessions", key)(_ => fail("rebuilt")) == a)
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
    }
    assert(new File(path).getParentFile == root)
    assert(ids(path) == Seq(7L))
  }
}
