package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.{ColumnShim, HeldShim, LocalDirShim}
import org.apache.spark.storage.StorageLevel

import scala.collection.concurrent.TrieMap

/** Session-scoped artifact registries (the reference's shared gokart
  * task outputs): every cached model/frame and every disk artifact
  * is keyed by a tuple whose FIRST element is the owning
  * SparkSession — per CLAUDE.md, never by dir alone — and is EVICTED
  * when that session's SparkContext ends, so a long-lived
  * multi-session JVM can't leak dead sessions' cached frames/models.
  * The first access from a context installs one listener on its bus;
  * onApplicationEnd sweeps every registry for keys owned by that
  * context (all sessions of a context die with it) and deletes the
  * context's artifact root.
  *
  * API matches TrieMap's (`getOrElseUpdate(key, value)` / `get`),
  * but with a STRONGER build contract: the by-name builder for a key
  * runs at most once even under concurrent first access (per-key
  * lazy slot), because builders here side-effect (they write disk
  * artifacts) and a double-run would do the work twice.
  *
  * The one place that persists: [[persisting]] for frames read inside
  * one call, [[artifact]] and [[held]] for state reused across calls
  * (neither in Spark's cache manager, so `clearCache()` keeps them).
  */
object SessionRegistry {
  /** Declared ceiling for any COLLECTED-ROWS registry entry (mad
    * thresholds: |event types|; ML experiments: eval-summary tables).
    * Corpus-shaped outputs must never ride a rows registry (they go
    * to disk artifacts); PropertySpec drives the consumers at sf0.1
    * and asserts every live entry honors this bound — the "bounded by
    * construction" claims as an executable contract. */
  private[graft] val CollectedRowsCeiling = 4096

  private val all = new java.util.concurrent.CopyOnWriteArrayList[Cache[_ <: Product, _]]()
  private val hooked = TrieMap.empty[SparkContext, Boolean]

  /** Memoized builder slot: `value` is a lazy val, so JVM lazy-init
    * locking guarantees the by-name builder runs AT MOST ONCE per
    * key even under concurrent first access — TrieMap's own
    * getOrElseUpdate may evaluate the by-name argument in two racing
    * threads and discard one result, which is unsafe for our
    * side-effecting builders. A builder that throws leaves the slot
    * unbuilt, and the next access runs it again. */
  private final class Slot[V](builder: () => V) {
    @volatile private var built = false
    lazy val value: V = { val r = builder(); built = true; r }
    def isBuilt: Boolean = built
  }

  final class Cache[K <: Product, V] private[SessionRegistry] () {
    private val m = TrieMap.empty[K, Slot[V]]
    private def session(k: K): SparkSession =
      k.productElement(0).asInstanceOf[SparkSession]
    def getOrElseUpdate(k: K, v: => V): V = {
      hook(session(k))
      val slot = new Slot[V](() => v)
      m.putIfAbsent(k, slot).getOrElse(slot).value
    }
    def get(k: K): Option[V] = m.get(k).filter(_.isBuilt).map(_.value)
    private[graft] def evict(sc: SparkContext): Unit =
      m.keys.filter(k => session(k).sparkContext eq sc).foreach(m.remove)
    private[graft] def liveKeyCount(spark: SparkSession): Int =
      m.keys.count(k => session(k) eq spark)
    /** Built values owned by the session — lets specs turn "this
      * registry only ever holds bounded artifacts" from a doc claim
      * into an executable contract (PropertySpec's registry-ceiling
      * test). */
    private[graft] def liveValues(spark: SparkSession): Seq[V] =
      m.toSeq.collect {
        case (k, s) if (session(k) eq spark) && s.isBuilt => s.value
      }
  }

  def cache[K <: Product, V](): Cache[K, V] = {
    val c = new Cache[K, V]()
    all.add(c)
    c
  }

  /** A published disk artifact: its dir, and its parquet tables read
    * through [[read]]. Each table (`sub` under the dir, or the dir
    * itself) is resolved on its first read, which lists its files and
    * infers its schema (a one-task footer job); the handle keeps the
    * analyzed relation, so every later read lists no file, infers no
    * schema and starts no job. Every read gets fresh attribute ids, so
    * one plan may read a table twice (a self-join). An artifact's
    * files never change once published, so the held listing stays
    * true for the handle's life. */
  final class Artifact private[SessionRegistry] (spark: SparkSession, val path: String,
      held: Map[String, LogicalPlan] = Map.empty) {
    private val tables = TrieMap.empty[String, Slot[LogicalPlan]]
    held.foreach { case (sub, plan) => tables.put(sub, new Slot(() => plan)) }
    def read(sub: String = ""): DataFrame = {
      val slot = new Slot[LogicalPlan](() =>
        ColumnShim.analyzed(spark.read.parquet(if (sub.isEmpty) path else s"$path/$sub")))
      val relation = tables.putIfAbsent(sub, slot).getOrElse(slot).value
      ColumnShim.ofRows(spark, relation.asInstanceOf[MultiInstanceRelation].newInstance())
    }
  }

  private val artifacts = cache[(SparkSession, String, Any), Artifact]()
  private val attempt = new java.util.concurrent.atomic.AtomicLong()

  /** The disk artifact `name` for `key` (a value or tuple compared by
    * equality — typically the corpus dir plus any parameters), built
    * at most once per session: `write` gets a fresh path that does
    * not exist yet, under the context's [[root]], and the artifact is
    * published only after `write` returns. A throwing `write` leaves
    * the entry unbuilt, so the next call retries into another fresh
    * path — a half-written artifact is never served and a retry never
    * appends onto a failed attempt; the failed attempt's files go
    * with the root when the context ends. */
  def artifact(spark: SparkSession, name: String, key: Any)(
      write: String => Unit): Artifact =
    artifacts.getOrElseUpdate((spark, name, key), {
      val path = scratchPath(spark, name)
      write(path)
      new Artifact(spark, path)
    })

  /** The in-memory artifact `name` for `key`, for small serving state
    * probed per request: `build`'s tables, materialized once per
    * session into persisted RDDs behind a `LogicalRDD` and read with
    * [[Artifact.read]]. A lost block recomputes from lineage (a local
    * checkpoint would fail every later read). `build`'s scope lasts
    * until the tables are materialized. */
  def held(spark: SparkSession, name: String, key: Any)(
      build: Scope => Seq[(String, DataFrame)]): Artifact =
    artifacts.getOrElseUpdate((spark, name, key), persisting { scope =>
      val rdds = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
      try new Artifact(spark, "", build(scope).map { case (sub, df) =>
        val rows = HeldShim.rows(df).persist(StorageLevel.MEMORY_AND_DISK)
        rdds += rows
        sub -> HeldShim.relation(df, rows,
          rows.mapPartitions(it => Iterator(HeldShim.bytes(it))).fold(0L)(_ + _))
      }.toMap)
      catch { case e: Throwable => rdds.foreach(_.unpersist(blocking = false)); throw e }
    })

  /** The frames one [[persisting]] block has persisted. */
  final class Scope private[SessionRegistry] () {
    private val frames = new java.util.concurrent.ConcurrentLinkedDeque[DataFrame]()
    /** `df`, persisted until the block exits. */
    def persisted(df: DataFrame): DataFrame = {
      frames.push(df.persist())
      df
    }
    private[SessionRegistry] def release(): Unit =
      frames.forEach(_.unpersist(blocking = false)) // newest first
  }

  /** `body` with a [[Scope]] whose frames are unpersisted when `body`
    * returns or throws: every read of them (a write, a fit, a collect)
    * runs inside; a plan returned past the block would recompute them. */
  def persisting[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope) finally scope.release()
  }

  /** [[persisting]] for one frame: `use(df persisted)`. */
  def withPersisted[T](df: DataFrame)(use: DataFrame => T): T =
    persisting(scope => use(scope.persisted(df)))

  /** The artifact if this session has built it (spec hooks). */
  def builtArtifact(spark: SparkSession, name: String, key: Any): Option[Artifact] =
    artifacts.get((spark, name, key))

  /** A fresh, not-yet-existing path under the context's root, for
    * disk state that is not an [[artifact]] (a training checkpoint);
    * it lives until its owner deletes it or the context ends. */
  private[graft] def scratchPath(spark: SparkSession, name: String): String =
    new java.io.File(root(spark.sparkContext),
      s"$name-${attempt.incrementAndGet()}").getPath

  /** Per-context artifact root: `graft-<application id>` under the
    * first entry of Spark's local dirs. Every session of the context
    * shares it; [[evictContext]] deletes it whole. */
  private[graft] def root(sc: SparkContext): java.io.File =
    new java.io.File(LocalDirShim.firstLocalDir(sc.getConf), s"graft-${sc.applicationId}")

  /** Sweep every registry for the context's keys and delete its
    * artifact root (the listener body; package-visible so the
    * eviction path is unit-testable without stopping the suite's
    * shared context). */
  private[graft] def evictContext(sc: SparkContext): Unit = {
    all.forEach(_.evict(sc))
    hooked.remove(sc)
    LocalDirShim.deleteRecursively(root(sc))
  }

  private[graft] def isHooked(sc: SparkContext): Boolean = hooked.contains(sc)

  /** Total entries owned by the session across every registry (test
    * observability). */
  private[graft] def liveKeyCount(spark: SparkSession): Int = {
    var n = 0
    all.forEach(c => n += c.liveKeyCount(spark))
    n
  }

  private def hook(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (hooked.putIfAbsent(sc, true).isEmpty) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evictContext(sc)
      })
    }
  }
}
