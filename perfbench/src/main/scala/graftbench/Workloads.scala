package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.SimilaritySearch
import graft.streaming.StreamOps

/** One call into a module's public function: the unit the harness
  * times, checks and attributes to a layer. `query` names the
  * `SparkEntry.queries` entry whose output the call returns, or, for
  * a stream, the batch twin its output rolls up to; `label` adds the
  * call's parameters when it has any, so two calls with one label
  * return the same rows. */
final case class Op(query: String, layer: String, label: String,
    run: (SparkSession, String) => DataFrame)

/** The workloads, as the module calls each one makes. Why each
  * workload exists is in perfbench/NOTES.md. */
object Workloads {

  /** The layers the workloads call into, in report order: module
    * objects, grouped as the benchmark attributes them (`sources` is
    * Sources, ZOrder and Tables; `WordItemApp` is WordItemApp and
    * Recommend; `streaming` is StreamOps). MlOps is not called: its
    * one planned call, serve's ALS fit, did not fit the time budget
    * (perfbench/NOTES.md). */
  val Layers: Seq[String] = Seq("sources", "FrameOps", "TextOps", "Dedup",
    "CorpusOps", "SimilaritySearch", "WordItemApp", "GraphOps", "Multimodal",
    "streaming")

  /** The subdirectory of an input directory that the ingest stream
    * reads: it holds the documents file alone. */
  val StreamDocs = "stream_docs"

  private def entry(query: String, layer: String): Op =
    Op(query, layer, query, SparkEntry.queries(query))

  /** Contamination at ingest: the documents arrive on a file stream,
    * drained once (availableNow) per call. Its hits roll up to q83. */
  val contamStream: Op = Op("q83_contam_flag", "streaming", "contam_hit_stream",
    (s, d) => StreamOps.contamHitStream(s, s"$d/$StreamDocs", d))

  /** One curation pass, in pipeline order. */
  val curate: Seq[Op] = Seq(
    // quality: language id and the Gopher rules
    entry("q25_langid", "TextOps"),
    entry("q72_gopher_rules", "TextOps"),
    // dedup: exact, near-duplicate (MinHash LSH), and the frame axis
    entry("q30_dedup_exact", "Dedup"),
    entry("q32_dedup_minhash", "Dedup"),
    entry("q87_frame_dedup", "Multimodal"),
    // boilerplate and contamination, batch and at ingest
    entry("q94_boilerplate", "CorpusOps"),
    entry("q76_contamination", "CorpusOps"),
    contamStream,
    // content-defined chunking and chunk packing
    entry("q175_cdc_chunks", "CorpusOps"),
    entry("q77_chunk_pack", "CorpusOps"),
    // the partitioned sink
    entry("q19_partitioned_sink", "sources"))

  /** The serve mix: request kinds, each drawing its parameters from
    * the request stream's random source. */
  val serve: Seq[Random => Op] = Seq(
    r => {
      val nprobe = Seq(1, 2, 4)(r.nextInt(3))
      Op("q74_ivfpq_disk", "SimilaritySearch", s"q74_ivfpq_disk(nprobe=$nprobe)",
        (s, d) => SimilaritySearch.knnIvfPqPersisted(s, d, nprobe))
    },
    _ => entry("q116_knn_sq8", "SimilaritySearch"),
    _ => entry("q89_bm25", "TextOps"),
    _ => entry("q142_cooccur_sim", "WordItemApp"),
    _ => entry("q155_degree_profile", "GraphOps"),
    _ => entry("q11_event_rollup", "FrameOps"))

  /** Serve's request stream: `n` requests in blocks of one request of
    * each kind, each block in its own seeded order, so any run of
    * whole blocks serves the same mix. */
  def requests(rng: Random, n: Int): Seq[Op] =
    Iterator.continually(rng.shuffle(serve).map(_(rng))).flatten.take(n).toSeq
}
