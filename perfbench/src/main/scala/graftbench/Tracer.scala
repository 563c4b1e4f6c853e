package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Work one layer did in one phase (set-up or the timed part). */
final class LayerStats {
  var calls = 0L
  var buildS, planS, execS = 0.0
  var jobs, tasks = 0L
  var taskCpuNs, waitMs, readBytes, shuffleBytes, writtenBytes = 0L
}

/** A span: one interval the harness recorded around its own calls.
  * `request` is the id of the top-level span (a set-up call, a serve
  * request or a curate pass) it belongs to; `phase` is "setup",
  * "timed" or "filler". */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    request: Long, phase: String, startNs: Long, endNs: Long)

/** Collects what Spark reports about the jobs the harness's calls
  * start. Every task's output bytes count, so that write amplification
  * can be read from an untraced run too; the rest is collected only
  * when the run is traced.
  *
  * A job belongs to the call whose id it carries in the `SpanKey`
  * local property (each client thread sets it around its own calls).
  * A job that carries none, started from a thread that did not
  * inherit the property, belongs to the one open call if exactly one
  * is open, and to no call otherwise; either way it counts in
  * `spark.unattributed_jobs`. Tasks follow their stage's job. */
final class Tracer(traced: Boolean) extends SparkListener {
  val SpanKey = "graftbench.span"

  private final case class Call(layer: String, phase: String, stats: LayerStats)

  private val lock = new Object
  private val open = mutable.LongMap.empty[Call]
  private val stageCall = mutable.HashMap.empty[Int, Call]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private var phase = "setup"
  private val phases = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, LayerStats]]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var outputBytes = 0L
  // engine-wide, timed part only
  private var unattributedJobs, failedTasks, deserMs, gcMs, spillBytes = 0L
  private var entriesBuilt, registryHits, registryCalls = 0L
  private val nextId = new AtomicLong(0)

  def newId(): Long = nextId.incrementAndGet()

  /** Task output bytes since the tracer was created. */
  def output: Long = lock.synchronized(outputBytes)

  /** The engine-wide counters count from `enter("timed")` until the
    * phase changes again. */
  def enter(name: String): Unit = lock.synchronized { phase = name }

  private def stats(ph: String, layer: String): LayerStats =
    phases.getOrElseUpdate(ph, mutable.LinkedHashMap(Workloads.Layers.map(_ -> new LayerStats): _*))(layer)

  /** Opens a call of `layer` in phase `ph` ("setup", "timed" or
    * "filler"): the jobs it starts count there. */
  def callStarted(id: Long, layer: String, ph: String): Unit = if (traced) lock.synchronized {
    open(id) = Call(layer, ph, stats(ph, layer))
  }

  /** Closes a call with the harness's own timings of it and the
    * number of registry entries it added. */
  def callEnded(id: Long, buildS: Double, planS: Double, execS: Double,
      built: Long): Unit = if (traced) lock.synchronized {
    open.remove(id).foreach { c =>
      val l = c.stats
      l.calls += 1
      l.buildS += buildS
      l.planS += planS
      l.execS += execS
      if (c.phase == "timed") {
        entriesBuilt += built
        registryCalls += 1
        if (built == 0) registryHits += 1
      }
    }
  }

  def addSpan(s: Span): Unit = if (traced) lock.synchronized { spans += s }

  /** The per-layer metrics of one phase, by name, with units; the
    * registry and engine-wide metrics are the timed part's. */
  def perLayer(ph: String): Seq[(String, Double, String)] = lock.synchronized {
    val mb = 1024.0 * 1024.0
    Workloads.Layers.flatMap { n =>
      val l = stats(ph, n)
      Seq(
        (s"$n.calls", l.calls.toDouble, "count"),
        (s"$n.build_s", l.buildS, "s"),
        (s"$n.plan_s", l.planS, "s"),
        (s"$n.exec_s", l.execS, "s"),
        (s"$n.jobs", l.jobs.toDouble, "count"),
        (s"$n.tasks", l.tasks.toDouble, "count"),
        (s"$n.task_cpu_s", l.taskCpuNs / 1e9, "s"),
        (s"$n.wait_s", l.waitMs / 1e3, "s"),
        (s"$n.read_mb", l.readBytes / mb, "MB"),
        (s"$n.shuffle_mb", l.shuffleBytes / mb, "MB"),
        (s"$n.written_mb", l.writtenBytes / mb, "MB"))
    } ++ Seq(
      ("registry.entries_built", entriesBuilt.toDouble, "count"),
      ("registry.hit_ratio",
        if (registryCalls == 0) 0.0 else registryHits.toDouble / registryCalls, "ratio"),
      ("spark.gc_s", gcMs / 1e3, "s"),
      ("spark.deser_s", deserMs / 1e3, "s"),
      ("spark.spill_mb", spillBytes / mb, "MB"),
      ("spark.failed_tasks", failedTasks.toDouble, "count"),
      ("spark.unattributed_jobs", unattributedJobs.toDouble, "count"))
  }

  /** Self time per layer in one phase: each span's duration minus
    * what its child spans cover, summed by layer. */
  def selfTime(ph: String): Map[String, Double] = lock.synchronized {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.filter(_.phase == ph).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) lock.synchronized {
    val labelled = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong)
    val call = labelled.flatMap(open.get).orElse(
      if (labelled.isEmpty && open.size == 1) open.values.headOption else None)
    if (labelled.isEmpty && phase == "timed") unattributedJobs += 1
    call.foreach { c =>
      c.stats.jobs += 1
      e.stageIds.foreach(s => stageCall(s) = c)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (traced) lock.synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) outputBytes += m.outputMetrics.bytesWritten
    if (traced && m != null) {
      val info = e.taskInfo
      if (phase == "timed") {
        deserMs += m.executorDeserializeTime
        gcMs += m.jvmGCTime
        spillBytes += m.diskBytesSpilled
        if (e.reason != Success) failedTasks += 1
      }
      stageCall.get(e.stageId).foreach { c =>
        val l = c.stats
        l.tasks += 1
        l.taskCpuNs += m.executorCpuTime
        l.waitMs += stageSubmitMs.get(e.stageId).map(t => math.max(0L, info.launchTime - t))
          .getOrElse(0L)
        l.readBytes += m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead
        l.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        l.writtenBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Old-generation heap in use right after forced full collections.
  * A collection lets Spark's ContextCleaner release what dropped plans
  * held (broadcast, shuffle and cached blocks), which only a later
  * collection frees; after many requests the cleaner has hundreds of
  * blocks to remove. So this collects every 200 ms until three
  * readings in a row agree within 1 MB. */
object HeapAfterGc {
  private def oldGenUsed(): Long = {
    var used = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        used += p.getUsage.getUsed
    }
    used
  }

  private def collect(): Long = {
    System.gc()
    Thread.sleep(200)   // the cleaner's turn
    oldGenUsed()
  }

  def apply(): Long = {
    val readings = mutable.ArrayBuffer(collect(), collect(), collect())
    def settled = readings.takeRight(3).max - readings.takeRight(3).min <= (1L << 20)
    while (!settled && readings.size < 25) readings += collect()
    readings.last
  }
}
