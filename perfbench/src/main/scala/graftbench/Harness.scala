package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBus
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, hash, lit, sum, to_json}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{BenchAccess, GraftSession, SparkEntry}

/** Runs one workload in this JVM and writes `result.json` (and, when
  * traced, `spans.json`) to the output directory. perfbench/run.py
  * drives it; perfbench/NOTES.md says what each workload measures.
  *
  * Usage: Harness --workload curate|serve --seed N --trace 0|1
  *   --data DIR[,DIR...] --warm DIR --requests N --rounds N --warmup N
  *   --clients N --out DIR
  *
  * `--data` names the timed corpora: one timed pass over each
  * (curate), or the one corpus served (serve). `--warm` is curate's
  * set-up corpus. serve times `--rounds` rounds of `--requests`
  * requests each.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    new Harness(opt).run()
  }
}

/** What one call returned: its wall time, and a fingerprint of every
  * row it produced (row count and the sum of the rows' hashes), read
  * while the rows went to the sink. */
final case class Outcome(op: Op, startNs: Long, endNs: Long,
    rows: Long, hashSum: Long, error: Option[String]) {
  def label: String = op.label
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Harness(opt: Map[String, String]) {
  private val workload = opt("workload")
  private val seed = opt("seed").toLong
  private val traced = opt("trace") == "1"
  private val corpora = opt("data").split(",").toSeq
  private val out = opt("out")
  private val nproc = Runtime.getRuntime.availableProcessors
  private val tracer = new Tracer(traced)

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def newSession(): SparkSession = {
    val s = GraftSession.builder(s"local[$nproc]", nproc).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(tracer)
    s
  }

  /** The fingerprint columns: a row count and the sum of the rows'
    * 32-bit hashes. Map values are hashed through their JSON form
    * (Spark does not hash maps). */
  private def fingerprint(df: DataFrame): Seq[Column] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    Seq(count(lit(1)).as("rows"), sum(hash(cols: _*).cast("long")).as("hash_sum"))
  }

  /** `df` with its fingerprint observed into `obs`. */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val fp = fingerprint(df)
    df.observe(obs, fp.head, fp.tail: _*)
  }

  private def fingerprintOf(m: Map[String, Any]): (Long, Long) =
    (m("rows").asInstanceOf[Long], Option(m("hash_sum")).map(_.asInstanceOf[Long]).getOrElse(0L))

  /** Every column of every row computed, nothing kept: a batch frame
    * through the `noop` sink, a stream drained once (availableNow)
    * into it from a fresh checkpoint. Returns the output's row count
    * and hash sum, observed on the way to the sink. `planned` sees a
    * batch frame just before its write. */
  private def materialize(df: DataFrame, id: Long,
      planned: DataFrame => Unit = _ => ()): (Long, Long) =
    if (df.isStreaming) {
      val name = s"fp_$id"
      val fp = fingerprint(df)
      val q = df.observe(name, fp.head, fp.tail: _*)
        .writeStream.format("noop").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/jvm/checkpoints/$id")
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.toSeq.flatMap(p => Option(p.observedMetrics.get(name)))
      (batches.map(_.getLong(0)).sum, batches.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum)
    } else {
      val obs = Observation(s"fp_$id")
      val o = observed(df, obs)
      planned(o)
      o.write.format("noop").mode("overwrite").save()
      fingerprintOf(obs.get)
    }

  /** One call, timed, set-up or not. Untraced it is the call and the
    * noop write; traced, each step gets a span, the call's jobs its
    * id, and `executedPlan` is forced before the write so that
    * planning shows as its own step. A call under a `parent` span
    * belongs to that span's request; one without is its own. */
  private def call(s: SparkSession, op: Op, dir: String, parent: Long,
      phase: String): Outcome = {
    val id = tracer.newId()
    val req = if (parent == 0L) id else parent
    val reg0 = if (traced) BenchAccess.registryEntries(s) else 0
    if (traced) {
      s.sparkContext.setLocalProperty(tracer.SpanKey, id.toString)
      tracer.callStarted(id, op.layer, phase)
    }
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var fp = (0L, 0L)
    var error: Option[String] = None
    try {
      val df = op.run(s, dir)
      t1 = System.nanoTime()
      t2 = t1
      fp = materialize(df, id, o => if (traced) {
        o.queryExecution.executedPlan
        t2 = System.nanoTime()
      })
    } catch {
      case e: Throwable => error = Some(e.toString.take(500))
    }
    val t3 = System.nanoTime()
    if (traced) {
      s.sparkContext.setLocalProperty(tracer.SpanKey, null)
      tracer.callEnded(id, secs(t0, t1), secs(t1, t2), secs(t2, t3),
        BenchAccess.registryEntries(s) - reg0)
      tracer.addSpan(Span(id, parent, op.label, op.layer, req, phase, t0, t3))
      Seq(("build", t0, t1), ("plan", t1, t2), ("exec", t2, t3)).foreach {
        case (step, a, b) => tracer.addSpan(Span(tracer.newId(), id, step, op.layer, req, phase, a, b))
      }
    }
    Outcome(op, t0, t3, fp._1, fp._2, error)
  }

  /** A closed loop: `clients` threads each issue their next request as
    * soon as the previous one returns, taking requests in order from
    * `ops`. The first `timed` requests are the measured ones; the rest
    * are fillers, issued only while a measured request is still out, so
    * that every measured request runs among `clients` requests and none
    * in a draining loop. Returns the measured outcomes in request order
    * and the fillers'. */
  private def closedLoop(s: SparkSession, ops: Seq[Op], dir: String, phase: String,
      clients: Int = opt("clients").toInt, timed: Int = -1): (Seq[Outcome], Seq[Outcome]) = {
    val measured = if (timed < 0) ops.size else timed
    val next = new AtomicInteger(0)
    val done = new AtomicInteger(0)
    val outcomes = new Array[Outcome](ops.size)
    val pool = Executors.newFixedThreadPool(clients)
    try {
      val tasks = (0 until clients).map(_ => new Callable[Unit] {
        def call(): Unit = {
          var i = next.getAndIncrement()
          while (i < ops.size && done.get < measured) {
            outcomes(i) = Harness.this.call(s, ops(i), dir, 0L,
              if (i < measured) phase else "filler")
            if (i < measured) done.incrementAndGet()
            i = next.getAndIncrement()
          }
        }
      })
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally pool.shutdown()
    (outcomes.take(measured).toSeq, outcomes.drop(measured).filter(_ != null).toSeq)
  }

  /** Runs `body` as one top-level span of the timed part. */
  private def spanned[T](name: String)(body: Long => T): T = {
    val id = tracer.newId()
    val t0 = System.nanoTime()
    val r = body(id)
    tracer.addSpan(Span(id, 0L, name, "bench", id, "timed", t0, System.nanoTime()))
    r
  }

  /** Lays out the ingest stream's directory of a corpus: the documents
    * file alone. */
  private def streamDir(dir: String): Unit = {
    val docs = Paths.get(dir, Workloads.StreamDocs)
    Files.createDirectories(docs)
    Files.createLink(docs.resolve("documents.parquet"), Paths.get(dir, "documents.parquet"))
  }

  def run(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = newSession()
    write("app_id", spark.sparkContext.applicationId)
    val dirs = corpora ++ opt.get("warm").toSeq
    dirs.foreach { d =>
      new java.io.File(d).list().sorted.filter(_.endsWith(".parquet"))
        .foreach(t => spark.read.parquet(s"$d/$t").schema)
      if (workload == "curate") streamDir(d)
    }
    // Spark's own first-job cost (scheduler, shuffle, AQE and codegen
    // class loading), which touches no graft code
    materialize(spark.range(0, 100000, 1, nproc).selectExpr("id % 10 AS k")
      .groupBy("k").count(), tracer.newId())
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val clients = opt("clients").toInt
    val (setupCalls, rounds) =
      if (workload == "curate") {
        // the same call list once over a small corpus: JIT, codegen
        // and class loading of every call's path, paid before the timed
        // pass; the calls run `nproc` at a time
        (closedLoop(spark, Workloads.curate, opt("warm"), "setup", nproc)._1, Nil)
      } else {
        // every serving artifact (IVF-PQ index, SQ8 bounds, co-click
        // matrix) is built by the first request of its kind; a fixed
        // number of warm-up requests follows in the same closed loop of
        // `nproc` clients, the IVF-PQ probes last, so that the other
        // clients warm up while the index builds. Each timed round gets
        // its own requests and fillers.
        val rng = new Random(seed)
        val first = Workloads.serve.map(_(rng))
        val (probes, others) = Workloads.requests(rng, opt("warmup").toInt)
          .partition(_.query == first.head.query)
        val rounds = Seq.fill(opt("rounds").toInt)(
          Workloads.requests(rng, opt("requests").toInt + 8 * clients))
        (closedLoop(spark, first ++ others ++ probes, corpora.head, "setup", nproc)._1, rounds)
      }
    System.gc()   // the timed part starts from a collected heap
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // the timed part: curate's pass over each timed corpus (the first
    // is the measured one), or serve's rounds, one closed loop after
    // the other (all measured); a pass or round ends when its last
    // measured call returns
    tracer.enter("timed")
    val timedStart = System.nanoTime()
    var fillers = Seq.empty[Outcome]
    val passes =
      if (workload == "curate")
        corpora.map { dir =>
          val t0 = System.nanoTime()
          val outs = spanned("curate.pass")(pid =>
            Workloads.curate.map(op => call(spark, op, dir, pid, "timed")))
          (secs(t0, outs.map(_.endNs).max), outs)
        }
      else
        rounds.map { ops =>
          val t0 = System.nanoTime()
          val (measured, rest) = closedLoop(spark, ops, corpora.head, "timed",
            timed = opt("requests").toInt)
          fillers ++= rest
          (secs(t0, measured.map(_.endNs).max), measured)
        }
    tracer.enter("checks")
    BenchBus.drain(spark.sparkContext)
    val heapBytes = HeapAfterGc()
    // write_amp counts what set-up and the timed part wrote, not the checks
    val outputBytes = tracer.output

    val timed = if (workload == "curate") passes.head._2 else passes.flatMap(_._2)
    val c0 = System.nanoTime()
    val verdicts = correctness(spark, timed)
    val checksS = secs(c0, System.nanoTime())
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "spark_version" -> spark.version, "nproc" -> nproc,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "setup_s" -> setupS, "session_s" -> sessionS,
      "setup_calls" -> setupCalls.map(o => Map("label" -> o.label, "seconds" -> o.seconds,
        "error" -> o.error.orNull)),
      "fillers" -> fillers.map(o => Map("label" -> o.label, "seconds" -> o.seconds,
        "error" -> o.error.orNull)),
      "pass_s" -> passes.map(_._1),
      "timed" -> timed.zip(verdicts).map { case (o, v) => Map("label" -> o.label,
        "start_s" -> (o.startNs - timedStart) / 1e9, "seconds" -> o.seconds,
        "rows" -> o.rows, "failure" -> v.orNull) },
      "heap_bytes" -> heapBytes, "output_bytes" -> outputBytes, "checks_s" -> checksS)
    if (traced) {
      result("per_layer") = tracer.perLayer("timed")
      result("per_layer_setup") = tracer.perLayer("setup")
      result("self_s") = tracer.selfTime("timed")
      write("spans.json", tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "request" -> s.request, "phase" -> s.phase,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    }
    write("result.json", result)
    spark.stop()
  }

  /** Outside the timed part, a verdict for every timed call (None when
    * its output passed). First `oracle_sql.json` names, by timed label,
    * each output that goes to `results/<name>` and its oracle SQL, so
    * that run.py's DuckDB side runs while these checks do:
    *  - an oracle-gated query (one with `SparkEntry.oracleSql`) runs
    *    once more per label and is written out; every timed output of
    *    that label must have the checked output's fingerprint;
    *  - the ingest stream is drained once more into memory: its hits,
    *    counted per document, must equal its batch twin q83 (which is
    *    written out for the oracle), and every timed drain must have
    *    this drain's fingerprint;
    *  - any other query's timed output must have rows.
    * The reference runs go `nproc` at a time. */
  private def correctness(s: SparkSession, timed: Seq[Outcome]): Seq[Option[String]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val dir = corpora.head
    val gated = timed.map(_.op).distinctBy(_.label)
      .filter(op => SparkEntry.oracleSql.contains(op.query))
    write("oracle_sql.json", gated.map(op => op.label ->
      Map("result" -> op.query, "sql" -> SparkEntry.oracleSql(op.query))).toMap)
    val pool = Executors.newFixedThreadPool(nproc)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val refs = gated.map { op => Future {
        val ref = try Right(
          if (op == Workloads.contamStream) streamReference(s, dir)
          else {
            val obs = Observation(s"check_${op.label}")
            observed(op.run(s, dir), obs).coalesce(1)
              .write.mode("overwrite").parquet(s"$out/results/${op.query}")
            (fingerprintOf(obs.get), true)
          }) catch { case e: Throwable => Left(e.toString.take(500)) }
        op.label -> (op.query, ref)
      }}
    val checked = try Await.result(Future.sequence(refs), Duration.Inf).toMap
      finally pool.shutdown()
    timed.map { o =>
      checked.get(o.label) match {
        case _ if o.error.isDefined => Some(s"call failed: ${o.error.get}")
        case Some((_, Left(err))) => Some(s"check run failed: $err")
        case Some((_, Right((_, false)))) => Some("stream hits per document differ from q83")
        case Some((_, Right(((rows, h), true)))) if (o.rows, o.hashSum) != (rows, h) =>
          Some(s"timed output (${o.rows} rows) differs from the checked output ($rows rows)")
        case None if o.rows == 0L => Some("no rows")
        case _ => None
      }
    }
  }

  /** The ingest stream drained once more into a memory sink: its
    * fingerprint, and whether its hits per document equal its batch
    * twin's (q83), which goes to `results/` for the oracle. */
  private def streamReference(s: SparkSession, dir: String): ((Long, Long), Boolean) = {
    val sink = "perfbench_contam_hits"
    Workloads.contamStream.run(s, dir).writeStream.format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/jvm/checkpoints/parity")
      .start().awaitTermination()
    val hits = s.table(sink)
    val fp = fingerprint(hits)
    val r = hits.agg(fp.head, fp.tail: _*).collect().head
    val twin = Workloads.contamStream.query
    SparkEntry.queries(twin)(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/results/$twin")
    def rows(df: DataFrame): Set[(Long, String, Long)] =
      df.collect().map((r: Row) => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val perDoc = hits.groupBy("doc_id", "source").agg(count(lit(1)).as("n_hit"))
    ((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)),
      rows(perDoc) == rows(s.read.parquet(s"$out/results/$twin")))
  }

  private def write(name: String, value: Any): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.createDirectories(Paths.get(out))
    val tmp = Paths.get(out, s".$name")
    Files.writeString(tmp, value match {
      case str: String => str
      case v => mapper.writeValueAsString(v)
    })
    Files.move(tmp, Paths.get(out, name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
