package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.VecFns

/** Similarity-search operator block over the `embeddings` table — the
  * Spark-native re-expression of the reference's word↔item similarity
  * search (/root/reference/redshells/app/word_item_similarity/
  * calculate_word_item_similarity.py: dot-product prequery → top-k)
  * and dimension reduction (dimension_reduction_model.py: top-n dims
  * by Σv²), extended with the ANN scale path (IVF, PQ, and IVF∘PQ).
  *
  * Index-artifact registries: the coarse quantizer and the PQ
  * codebooks are per-(session, corpus) artifacts — trained once,
  * reused by every query against that corpus (the reference shares
  * trained artifacts through gokart task outputs the same way). All
  * models hold only driver-side centroid arrays.
  */
object SimilaritySearch {

  /** PQ codebook registry (see knnPq/knnIvfPq). */
  private val pqCache = graft.SessionRegistry
    .cache[(SparkSession, String), Seq[org.apache.spark.ml.clustering.KMeansModel]]()

  /** IVF coarse-quantizer registry (see knnIvf/knnIvfPq). Sharing one
    * trained quantizer across calls also makes the nprobe knob's
    * monotonicity exact: every nprobe probes cells of the SAME
    * partition of space. */
  private val coarseCache = graft.SessionRegistry
    .cache[(SparkSession, String), org.apache.spark.ml.clustering.KMeansModel]()

  private val ivfCells = 16

  private def embWithNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.norm(col("embedding")).as("nrm"))

  /** Brute-force cosine top-k: the small query set is broadcast
    * against the corpus (map-side nested loop — the corpus is
    * streamed once, never shuffled). Top-k selection uses the bounded
    * TopKByKey aggregator (graft.plans.TopKByKey): map-side partial
    * top-k heaps mean the shuffle carries ≤ k rows per partition per
    * query and nothing is globally sorted — the window-row_number
    * formulation would shuffle and sort EVERY candidate row per
    * query. Norms are computed once per side, not per pair. This is
    * the exact baseline ANN variants are measured against. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(
        VecFns.ratio(VecFns.dot(col("embedding"), col("qv")),
          col("nrm") * col("qnrm")), 6))
    topKSelect(scored, 5)
  }

  /** q120: exact cosine RANGE search (radius τ instead of top-k) —
    * the all-neighbors-within-threshold serving primitive (near-dup
    * audits, "everything similar to this banned doc"). Same scale
    * shape as q40: the bounded query set broadcasts, the corpus is
    * streamed once map-side and NEVER shuffled — only the τ-passing
    * survivors (output-sized, not corpus-sized) reach the final
    * sort. rank materializes per query AFTER the cut, so the window
    * sorts hits, not candidates. Unlike the ANN variants this is
    * exact, so it joins the oracle gate on q40's verified cosine
    * fragment with a WHERE in place of the top-k. */
  def rangeSearch(spark: SparkSession, dir: String, tau: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embWithNorm(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(
        VecFns.ratio(VecFns.dot(col("embedding"), col("qv")),
          col("nrm") * col("qnrm")), 6))
      .filter(col("cosine") >= tau)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))).cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Shared bounded top-k selection + rank materialization. */
  private[operators] def topKSelect(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.plans.TopKByKey.topK(k)(col("vec_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .toDF("query_id", "pos", "e")
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("cosine"), (col("pos") + 1).cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** Per-dim [min, max] corpus bounds for SQ8 (dim-sized driver
    * scalar, one Summarizer pass; registry-cached like the coarse
    * quantizer so repeated calls and downstream composition reuse the
    * trained bounds). */
  private val sqBoundsCache = graft.SessionRegistry
    .cache[(SparkSession, String), (Array[Double], Array[Double])]()

  private def sqBounds(spark: SparkSession, dir: String,
      emb: DataFrame): (Array[Double], Array[Double]) =
    sqBoundsCache.getOrElseUpdate((spark, dir), {
      import org.apache.spark.ml.functions.array_to_vector
      import org.apache.spark.ml.stat.Summarizer
      // loud empty-fit contract (otherwise a mid-job task failure
      // deep in the Summarizer — the empty-corpus sweep class)
      require(!emb.isEmpty,
        "SQ8 bounds fit (q116/q221): empty embeddings table — no vectors to quantize")
      val row = emb
        .select(array_to_vector(col("embedding")).as("v"))
        .agg(Summarizer.min(col("v")).as("mn"), Summarizer.max(col("v")).as("mx"))
        .head()
      (row.getAs[org.apache.spark.ml.linalg.Vector](0).toArray,
        row.getAs[org.apache.spark.ml.linalg.Vector](1).toArray)
    })

  /** SQ8 ANN (q116): brute-force cosine top-k over int8
    * scalar-quantized vectors — the 4×-compressed serving variant of
    * [[knnBrute]] (Faiss SQ8 / Lucene int8-vector analog). Encoding
    * is one narrow codegen map stage (per-dim bounds ride as a
    * reference object — plans/SqExprs); the search itself is the
    * exact [[knnBrute]] shape (broadcast queries, map-side scoring,
    * bounded TopKByKey shuffle), just over reconstructed vectors, so
    * at 100 TB the scan reads a quarter of the bytes a float32 layout
    * would. Quantization is deterministic arithmetic → ORACLE-GATED
    * (unlike the trained-quantizer variants): DuckDB reconstructs the
    * same codes from the same per-dim min/max and both engines walk
    * identical IEEE chains. Rank agreement with the exact baseline is
    * additionally asserted in DedupSpec. */
  def knnSq8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (mins, maxs) = sqBounds(spark, dir, emb)
    val dq = emb.select(col("vec_id"),
        graft.plans.SqExprs.dequant(col("embedding"), mins, maxs).as("dq"))
      .withColumn("nrm", VecFns.norm(col("dq")))
    val queries = dq.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("dq").as("qv"),
        col("nrm").as("qnrm"))
    val scored = dq.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(
        VecFns.ratio(VecFns.dot(col("dq"), col("qv")),
          col("nrm") * col("qnrm")), 6))
    topKSelect(scored, 5)
  }

  /** Seed-fixed MLlib KMeans coarse quantizer (k=16 cells). */
  private def coarseModel(spark: SparkSession, dir: String,
      emb: DataFrame): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    coarseCache.getOrElseUpdate((spark, dir), {
      require(!emb.isEmpty,
        "IVF coarse-quantizer fit (q41/q69/q74/q204): empty embeddings table")
      new KMeans().setK(ivfCells).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("feat")
        .fit(emb.select(array_to_vector(col("embedding")).as("feat")))
    })
  }

  /** Centroid arrays of the coarse quantizer (driver-sized). */
  private def cellArrays(
      km: org.apache.spark.ml.clustering.KMeansModel): Array[Array[Double]] =
    km.clusterCenters.map(_.toArray)

  /** The coarse quantizer's centroids for `dir` (the registry-shared
    * fit), for specs that check a probe against its cells. */
  private[graft] def ivfCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    cellArrays(coarseModel(spark, dir, embWithNorm(spark, dir)))

  /** Attach each vector's `keep` nearest cells — ROW-LOCAL via the
    * native CellExprs kernel (centroids ride as a codegen reference
    * object). The earlier crossJoin(centroids) + row_number window
    * formulation shuffled the 16×corpus frame by vec_id just to rank
    * 16 similarities per vector; cell assignment is now a narrow map
    * stage at any corpus size. */
  private def nearestCells(df: DataFrame, cents: Array[Array[Double]],
      keep: Int): DataFrame = {
    val cellsCol = graft.plans.CellExprs.nearestCells(col("embedding"), cents, keep)
    if (keep == 1) df.withColumn("cent_id", element_at(cellsCol, 1))
    else df.withColumn("cent_id", explode(cellsCol))
  }

  /** IVF ANN with TRAINED coarse quantizer: MLlib KMeans (k=16,
    * seed-fixed, registry-cached) learns the cell centroids; every
    * corpus vector is assigned to its nearest cell, queries probe
    * their `nprobe` nearest cells, and only in-cell candidates get
    * the exact cosine. At 100 TB the cell id becomes the
    * shuffle/bucket key and each query touches ~nprobe/16 of the
    * corpus; the centroid table is broadcast. nprobe is the
    * recall/cost knob: probing more cells only ADDS candidates, and a
    * brute-top-k member in the candidate set always survives the
    * exact re-rank, so recall vs brute is provably non-decreasing in
    * nprobe (asserted in DedupSpec). Approximate → rows-only; recall
    * vs knnBrute asserted in DedupSpec. */
  def knnIvf(spark: SparkSession, dir: String, nprobe: Int = 2): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val cents = cellArrays(coarseModel(spark, dir, emb))
    val corpusCells = nearestCells(emb, cents, keep = 1)
    val queryCells = nearestCells(emb.filter(col("vec_id") < 10), cents, keep = nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("cent_id"))
    val scored = corpusCells.join(queryCells, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(
        VecFns.ratio(VecFns.dot(col("embedding"), col("qv")),
          col("nrm") * col("qnrm")), 6))
    topKSelect(scored, 5)
  }

  private val pqM = 8          // subspaces
  private val pqSubDim = 8     // dims per subspace
  private val pqK = 16         // codebook size per subspace

  /** Per-subspace PQ codebooks: a per-(session, corpus) index
    * artifact. Trained on a deterministic 1/4 sample (standard PQ
    * practice — codebooks need a sample, not the corpus) collapsed to
    * 2 partitions, with random init (kmeans|| costs ~5 extra
    * distributed rounds per fit; the exact re-rank absorbs codebook
    * quality) and bounded iters. The 8 fits are independent
    * seed-fixed jobs dominated by per-job scheduling on the tiny
    * sample, so they are submitted CONCURRENTLY (the same trick as
    * MLlib tuning's `parallelism`). */
  private def pqCodebooks(spark: SparkSession, dir: String,
      emb: DataFrame): Seq[org.apache.spark.ml.clustering.KMeansModel] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    pqCache.getOrElseUpdate((spark, dir), {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      require(!emb.isEmpty,
        "PQ codebook fit (q67/q69/q74/q225): empty embeddings table")
      // persisted for the concurrent fits only: the ¼-sampled
      // sub-vector frame feeds pqM KMeans fits (each is ≥2 passes) —
      // fit-sample-bounded
      graft.SessionRegistry.withPersisted(emb.filter(pmod(col("vec_id"), lit(4)) === 0)
          .select((0 until pqM).map(j => array_to_vector(
            slice(col("embedding"), j * pqSubDim + 1, pqSubDim)).as(s"sub_$j")): _*)
          .repartition(2)) { trainSample =>
        val pool = java.util.concurrent.Executors.newFixedThreadPool(pqM)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(Future.sequence((0 until pqM).map { j =>
          Future(new KMeans().setK(pqK).setSeed(42L + j).setMaxIter(6)
            .setInitMode("random")
            .setFeaturesCol(s"sub_$j").setPredictionCol(s"code_$j")
            .fit(trainSample))
        }), Duration.Inf)
        finally pool.shutdown()
      }
    })
  }

  /** Codebook centroid arrays for the native PQ kernels. */
  private def centroidArrays(
      codebooks: Seq[org.apache.spark.ml.clustering.KMeansModel]): graft.plans.PqExprs.Centroids =
    codebooks.map(_.clusterCenters.map(_.toArray)).toArray

  /** Negated ADC distance of a coded row against the row's `adc`
    * table: approx dist = Σ_j table[j][codes_j] (negated so TopKByKey
    * keeps the BEST = highest score). The corpus encode and the ADC
    * table are native expressions (plans/PqExprs) — the composable
    * forms (8 chained model transforms; a ~10k-node literal table)
    * cost more in per-run driver analysis than the stages ran. */
  private def negAdcCol: org.apache.spark.sql.Column =
    -(0 until pqM).map(j =>
      element_at(element_at(col("adc"), j + 1), element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)

  /** Bounded ADC candidate set per query + exact cosine re-rank of
    * just those candidates — shared tail of knnPq and knnIvfPq. */
  private def adcRerank(scored: DataFrame, emb: DataFrame,
      queries: DataFrame, nCandidates: Int): DataFrame = {
    val cand = scored.groupBy(col("query_id"))
      .agg(graft.plans.TopKByKey.topK(nCandidates)(col("vec_id"), col("neg_adc")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("vec_id"))
    val exact = cand
      .join(emb, Seq("vec_id"))
      .join(queries, Seq("query_id"))
      .withColumn("cosine", round(
        VecFns.ratio(VecFns.dot(col("embedding"), col("qv")),
          col("nrm") * col("qnrm")), 6))
    topKSelect(exact, 5)
  }

  /** Product-quantization ANN (the Faiss-style scale path beyond IVF,
    * and the deeper-ANN item from SURVEY §7): the 64-dim space is
    * split into 8 subspaces of 8 dims; a seed-fixed KMeans codebook
    * (k=16) is trained per subspace and every corpus vector is
    * encoded as 8 small codes — at 100 TB the corpus scan reads
    * 8 bytes + id per vector instead of 256 bytes of floats
    * (32× less I/O), and the codebooks (8×16×8 doubles) broadcast
    * anywhere. Queries score candidates by ADC (asymmetric distance:
    * per-query 8×16 lookup table, codes never decoded), keep a
    * bounded candidate set per query via TopKByKey, then re-rank just
    * those candidates with the exact cosine. Kept flat (full-corpus
    * ADC scan) so PQ recall is measured on its own; the composed
    * scale path is [[knnIvfPq]]. Approximate → rows-only;
    * planted-twin recall asserted in DedupSpec. */
  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val cents = centroidArrays(pqCodebooks(spark, dir, emb))
    val encoded = emb.select(col("vec_id"),
      graft.plans.PqExprs.codes(col("embedding"), cents).as("codes"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val q = queries.withColumn("adc",
      graft.plans.PqExprs.adcTable(col("qv"), cents))
    val scored = encoded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("neg_adc", negAdcCol)
    adcRerank(scored, emb, queries, nCandidates = 50)
  }

  /** IVF ∘ PQ — the composed 100 TB ANN shape (SURVEY §7 round-3
    * item): the coarse quantizer routes, the PQ codes score. The
    * index is ONE row per corpus vector: home cell id + 8 codes
    * (9 small ints + id — at scale this table is written partitioned
    * by cent_id, so a query's scan prunes to its probed cells'
    * partitions; here the broadcast equi-join on cent_id plays that
    * role: only rows whose cell matches a probed cell survive the
    * join, every other row is dropped at the scan). Queries probe
    * `nprobe` cells, ADC-score ONLY the probed cells' codes, keep a
    * bounded candidate set, and exact-re-rank just those. Cost per
    * query ≈ nprobe/16 of the corpus × 8 bytes — the IVF read
    * pruning and the PQ byte pruning multiply. Both index artifacts
    * are registry-shared with knnIvf/knnPq. Approximate → rows-only;
    * planted-twin recall asserted in DedupSpec. */
  def knnIvfPq(spark: SparkSession, dir: String, nprobe: Int = 2): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val cents = cellArrays(coarseModel(spark, dir, emb))
    val pqCents = centroidArrays(pqCodebooks(spark, dir, emb))
    // index build: one corpus scan — cell assignment, then codes
    val index = nearestCells(emb, cents, keep = 1)
      .select(col("vec_id"), col("cent_id"),
        graft.plans.PqExprs.codes(col("embedding"), pqCents).as("codes"))
    val queryCells = nearestCells(emb.filter(col("vec_id") < 10), cents, keep = nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("cent_id"))
      .withColumn("adc", graft.plans.PqExprs.adcTable(col("qv"), pqCents))
    // the probe join: query side is bounded (|queries|×nprobe) by
    // contract → broadcast is safe at any corpus scale
    val scored = index.join(broadcast(queryCells), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("neg_adc", negAdcCol)
    val queries = queryCells.select(col("query_id"), col("qv"), col("qnrm")).distinct()
    adcRerank(scored, emb, queries, nCandidates = 50)
  }

  /** The PERSISTED form of the q69 index — the actual 100 TB serving
    * layout: one parquet table, one row per corpus vector (codes +
    * id), PARTITIONED BY cent_id. Probing then is partition pruning:
    * the broadcast probe join on cent_id (|queries|×nprobe rows by
    * contract) becomes a dynamic partition filter on the index scan,
    * built from the SAME broadcast, so the scan touches ONLY the
    * probed cells' directories (~nprobe/16 of the index bytes) with
    * no driver round-trip and no per-call literal (DedupSpec asserts
    * the pruning, the partitions read and result parity against the
    * in-memory q69 path). Written once per (session, corpus); a warm
    * probe reads it through the artifact's held relation, with no
    * file listing and no schema inference. */
  def knnIvfPqPersisted(spark: SparkSession, dir: String,
      nprobe: Int = 2): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val cents = cellArrays(coarseModel(spark, dir, emb))
    val pqCents = centroidArrays(pqCodebooks(spark, dir, emb))
    val index = graft.SessionRegistry.artifact(spark, "ivfpq", dir)(
      nearestCells(emb, cents, keep = 1)
        .select(col("vec_id"),
          graft.plans.PqExprs.codes(col("embedding"), pqCents).as("codes"),
          col("cent_id"))
        .write.partitionBy("cent_id").parquet(_)).read()
    val queryCells = nearestCells(emb.filter(col("vec_id") < 10), cents, keep = nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("cent_id"))
      .withColumn("adc", graft.plans.PqExprs.adcTable(col("qv"), pqCents))
    val scored = index.join(broadcast(queryCells), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("neg_adc", negAdcCol)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    adcRerank(scored, emb, queries, nCandidates = 50)
  }

  /** Embedding-space DIVERSITY sampling: the q78 stratified-balance
    * rule keyed by the learned IVF cell instead of a metadata column
    * — the embedding-side curation step that keeps a training set
    * from being dominated by one dense region. Cell assignment is
    * the same row-local codegen kernel as q41/q69, the coarse
    * quantizer comes from the SAME registry artifact, and the keep
    * decision is a pure map-side multiplicative-hash rate filter
    * (no per-cell window/sort at any corpus size). Rows-only: cell
    * ids depend on the seeded KMeans fit. */
  def cellBalance(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val cents = cellArrays(coarseModel(spark, dir, emb))
    val cells = nearestCells(emb.select(col("vec_id"), col("embedding")), cents, keep = 1)
      .select(col("vec_id"), col("cent_id"))
    val counts = cells.groupBy(col("cent_id")).agg(count(lit(1)).as("n_before"))
    val target = counts.agg(min(col("n_before")).as("target"))
    // SAME hash family as q78 (compile-time link, not a copy)
    val pr = graft.operators.CorpusOps.sampleHash(col("vec_id"))
    cells.select(col("vec_id"), col("cent_id"), pr.as("pr"))
      .join(broadcast(counts.crossJoin(broadcast(target))), Seq("cent_id"))
      .withColumn("keep", col("pr") % col("n_before") < col("target"))
      .groupBy(col("cent_id"))
      .agg(
        first(col("n_before")).as("n_before"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("vec_id")).otherwise(0L)).as("kept_id_sum"))
      .orderBy(col("cent_id"))
  }

  /** q102: INCREMENTAL ANN index maintenance — the steady-state form
    * of q74's serving layout. The index is bootstrapped once from the
    * STORE vectors (q86's batch/store hash split, applied to vec_id
    * with the shared hash family); the arriving batch's vectors are
    * encoded ROW-LOCALLY (NearestCells home cell + PqCodes codes, the
    * same registry-shared quantizers — no retraining at ingest, the
    * standard IVF serving discipline) and APPENDED into the same
    * cell-partitioned parquet layout: an upsert touches only the new
    * rows' cell directories, never rewrites the index, and readers
    * keep partition-pruning as before. Registered output: per-cell
    * accounting after the upsert (rows-only: cell ids come from the
    * seeded KMeans fit); append integrity — content equality with a
    * one-shot full-corpus encode, batch-count reconciliation — is
    * spec-asserted. */
  /** q86's membership rule, same hash family, keyed on vec_id. */
  private[graft] def isBatchVec =
    graft.operators.CorpusOps.sampleHash(col("vec_id")) % 10 === 3

  /** (vec_id, codes, cent_id) for a vector frame — the index row
    * encoding (row-local NearestCells + PqCodes kernels). */
  private def encodedRows(spark: SparkSession, dir: String,
      rows: DataFrame): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val cents = cellArrays(coarseModel(spark, dir, emb))
    val pqCents = centroidArrays(pqCodebooks(spark, dir, emb))
    nearestCells(rows, cents, keep = 1)
      .select(col("vec_id"),
        graft.plans.PqExprs.codes(col("embedding"), pqCents).as("codes"),
        col("cent_id"))
  }

  /** The upserted index contents (exposed for the spec's content-
    * equality assert against [[oneShotEncoded]]): the written
    * [[indexUpsert]] index (separate from the q74 dir: this one is
    * bootstrapped from the STORE split only and then mutated by the
    * append), write-once per (session, corpus). */
  private[graft] def upsertedRows(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "ivfpq_upsert", dir) { out =>
      val emb = embWithNorm(spark, dir)
      // opt r09: encode the corpus ONCE — the row-local cell+code
      // kernels (and the embeddings scan under them) previously ran
      // once per split because each write re-derived its own encode
      // subtree. isBatchVec is row-local on vec_id, so filtering the
      // ENCODED rows is value-identical to encoding the filtered
      // rows; the bootstrap write and the separate append COMMIT (the
      // upsert contract the spec asserts) are unchanged. The encoded
      // table is the slim (vec_id, codes, cent_id) projection —
      // persisted only until both commits land.
      graft.SessionRegistry.withPersisted(encodedRows(spark, dir, emb)) { enc =>
        enc.filter(!isBatchVec).write.partitionBy("cent_id").parquet(out)
        enc.filter(isBatchVec).write
          .mode("append").partitionBy("cent_id").parquet(out)
      }
    }.read()

  /** What the index would be if built from the whole corpus in one
    * shot — the spec's ground truth for append integrity. */
  private[graft] def oneShotEncoded(spark: SparkSession, dir: String): DataFrame =
    encodedRows(spark, dir, embWithNorm(spark, dir))

  def indexUpsert(spark: SparkSession, dir: String): DataFrame =
    upsertedRows(spark, dir)
      .groupBy(col("cent_id"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(isBatchVec, 1L).otherwise(0L)).as("n_new"))
      .orderBy(col("cent_id"))

  /** q114: ANN INDEX COMPACTION — q113's maintenance discipline for
    * the q102 serving layout: every upsert batch appends one file
    * set per touched cell directory, and at steady state the
    * per-cell file count grows with batch count, not data — probes
    * become footer-bound. One read + `repartition(cent_id)` rewrite
    * → one file per cell, per-cell write parallelism preserved,
    * partition pruning unchanged for readers. Content invariance vs
    * the upserted layout plus the file accounting are spec-asserted
    * (cell ids come from the seeded KMeans fit → rows-only). */
  def indexCompact(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "ivfpq_compact", dir)(
      upsertedRows(spark, dir)
        .repartition(col("cent_id"))
        .write.partitionBy("cent_id").parquet(_)).read()
      .groupBy(col("cent_id"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(isBatchVec, 1L).otherwise(0L)).as("n_new"))
      .orderBy(col("cent_id"))

  /** DimensionReductionModel.fit (dimension_reduction_model.py:21):
    * per-dimension importance = Σ v². Values are quantized to 1e-6 so
    * the aggregation is exact integer math — order-independent under
    * any partitioning (and engine-portable). posexplode keeps the
    * shuffle key space at |dims|, with map-side partial sums. */
  def dimReduction(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")))
      .toDF("dim", "v")
      .select(col("dim").cast("long").as("dim"), VecFns.quantize(col("v")).as("q"))
      .groupBy(col("dim"))
      .agg(sum(col("q") * col("q")).as("importance"))
      .orderBy(col("importance").desc, col("dim"))
      .limit(16)

  // ---- q186 embedding-space outlier report ------------------------

  /** Embedding dimensionality of the corpus (the `embeddings` table
    * ships 64-d vectors; the wide-agg pattern below generates one
    * column per dimension, the Summarizer-style shape CLAUDE.md
    * prescribes over posexplode-per-dimension). */
  private[graft] val EmbDim = 64

  /** q186 fixed-point scale: components clamp to [−1, 1] and quantize
    * to 1e−4 resolution via floor(x·S + 0.5) — a rule both engines
    * evaluate on IDENTICAL doubles (float→double cast is exact,
    * ·S/+0.5/floor are single correctly-rounded IEEE ops), unlike any
    * decimal CAST of a float (measured: DuckDB casts FLOAT→DECIMAL by
    * rounding in FLOAT precision — 567/128k components split from
    * Spark's BigDecimal path at scale 6 on this corpus). The +S
    * offset makes every value non-negative so integer division below
    * is floor==trunc in both engines. */
  private[graft] val EmbFixS = 10000L

  /** Outlier rule: d² > τ · mean(d²), τ = 3 (the "3× the average
    * squared distance" heuristic; compared cross-multiplied in exact
    * integers, never as a float ratio). */
  private[graft] val OutlierTau = 3L

  private def vFix(i: Int) =
    (floor(least(greatest(element_at(col("embedding"), i).cast("double"),
      lit(-1.0d)), lit(1.0d)) * lit(EmbFixS.toDouble) + lit(0.5d)) +
      lit(EmbFixS)).as(s"v$i")

  /** q186: embedding-space outlier report per label — the vector-
    * quality gate of embedding-curated corpora (SemDeDup/SSL-prune
    * style: points far from their class centroid are mislabeled or
    * junk and get pruned before training; Abbas et al. 2023). For
    * each label: vector count, count of outliers (squared distance to
    * the label centroid > [[OutlierTau]]× the label mean), the worst
    * vector and its distance, and the quantized mean squared
    * distance.
    *
    * EXACT at every step, so the whole report sits on the oracle
    * gate: components quantize by the portable floor rule
    * ([[EmbFixS]]); the centroid is the half-up INTEGER mean per
    * dimension ((2s+n) div 2n on non-negative ints — trunc==floor
    * both engines; lever (m)'s fixed-point renormalization); per-row
    * d² = Σ(vᵢ−cᵢ)² ≤ 64·(2S)² = 2.6e10 — int64 at ANY corpus size;
    * the τ compare and the sums run in DECIMAL(38,0)/HUGEINT (exact
    * at any n); outputs are all int64 (lever (n): wide decimals never
    * reach the result schema). Centroid quantization error (≤ 0.5e−4
    * per dim) is part of the DECLARED rule, not a float accident.
    *
    * Scale shape: one scan builds the wide per-dimension fixed-point
    * columns (row-local codegen, no posexplode — the wide-agg rule);
    * the centroid agg is map-side partial to a |labels|-row table
    * that broadcasts back; d² is a row-local 64-term codegen chain;
    * both rollups move |labels|-sized rows. The slim (vec_id, label,
    * d²) frame feeds its two consumers (stats + flag count) from one
    * label exchange. */
  /** The shared q186/q190 building blocks, one def each (copies
    * drift): fixed-point vector columns, integer centroid, row-local
    * d² against a broadcast centroid table. */
  private[graft] def fixedVectors(df: DataFrame): DataFrame = {
    val dims = 1 to EmbDim
    df.select(col("vec_id") +: col("label") +: dims.map(vFix): _*)
  }

  /** Per-label fixed-point component sums — the |labels|-row table
    * every centroid derives from (q207's global centroid re-rolls
    * THESE sums rather than scanning the corpus twice). */
  private[graft] def labelSums(base: DataFrame): DataFrame = {
    val dims = 1 to EmbDim
    base.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        dims.map(i => sum(col(s"v$i")).as(s"s$i")): _*)
  }

  /** Half-up integer centroid from a sums table ((2s+n) div 2n on
    * non-negative ints — trunc==floor both engines). */
  private[graft] def centroidFromSums(ct: DataFrame): DataFrame = {
    val dims = 1 to EmbDim
    ct.select(col("label") +: col("n") +:
      dims.map(i => expr(s"(2 * s$i + n) div (2 * n)").as(s"c$i")): _*)
  }

  private[graft] def centroidOf(base: DataFrame): DataFrame =
    centroidFromSums(labelSums(base))

  private[graft] def d2Col: Column =
    (1 to EmbDim).map { i =>
      val d = col(s"v$i") - col(s"c$i")
      d * d
    }.reduce(_ + _)

  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val base = fixedVectors(Tables.embeddings(spark, dir))
    val cent = centroidOf(base)
    val d2f = base.join(broadcast(cent), Seq("label"))
      .select(col("label"), col("vec_id"), d2Col.as("d2"))
      // slim per-vector (label, id, d2) projection — feeds BOTH the
      // per-label stats agg and the outlier filter below, through ONE
      // label exchange (the 64-wide distance kernel runs once)
      .repartition(col("label"))
    val stats = d2f.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d2").cast("decimal(38,0)")).as("sd2"),
        max(struct(col("d2"), (-col("vec_id")).as("nv"))).as("w"))
    val flags = d2f.join(broadcast(stats.select(col("label"), col("n_vecs"),
        col("sd2"))), Seq("label"))
      .filter(col("d2").cast("decimal(38,0)") * col("n_vecs") >
        lit(OutlierTau) * col("sd2"))
      .groupBy(col("label")).agg(count(lit(1)).as("n_outliers"))
    stats.join(flags, Seq("label"), "left")
      .select(col("label"), col("n_vecs"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"),
        (-col("w.nv")).as("worst_vec_id"),
        col("w.d2").as("worst_d2"),
        expr("(2 * sd2 + n_vecs) div (2 * n_vecs)").cast("long").as("mean_d2"))
      .orderBy(col("label"))
  }

  // The q186/q190 generated-SQL fragments, one def each (shared by
  // both oracles — the lever-(a)/(t) discipline).
  private def embedVColsSql: String = (1 to EmbDim).map(i =>
    s"CAST(floor(least(greatest(CAST(embedding[$i] AS DOUBLE), -1.0), 1.0) " +
      s"* $EmbFixS.0 + 0.5) AS BIGINT) + $EmbFixS AS v$i").mkString(",\n    ")
  private def embedSColsSql: String =
    (1 to EmbDim).map(i => s"CAST(SUM(v$i) AS BIGINT) AS s$i").mkString(", ")
  private def embedCColsSql: String =
    (1 to EmbDim).map(i => s"(2 * s$i + n) // (2 * n) AS c$i").mkString(", ")
  private def embedD2Sql: String =
    (1 to EmbDim).map(i => s"(v$i - c$i) * (v$i - c$i)").mkString(" + ")

  /** The q186 oracle, GENERATED over the [[EmbDim]] dimensions from
    * the operator's own constants (lever (a)). */
  private[graft] def embedOutliersOracleSql: String = {
    val vCols = embedVColsSql
    val sCols = embedSColsSql
    val cCols = embedCColsSql
    val d2 = embedD2Sql
    s"""WITH e AS (
      |  SELECT vec_id, label,
      |    $vCols
      |  FROM embeddings),
      |ct AS (SELECT label, COUNT(*) AS n, $sCols FROM e GROUP BY label),
      |cc AS (SELECT label, n, $cCols FROM ct),
      |d AS (
      |  SELECT e.vec_id, e.label, $d2 AS d2
      |  FROM e JOIN cc ON e.label = cc.label),
      |st AS (
      |  SELECT label, COUNT(*) AS n_vecs, CAST(SUM(d2) AS HUGEINT) AS sd2,
      |    MAX(d2) AS worst_d2
      |  FROM d GROUP BY label),
      |wv AS (
      |  SELECT d.label, MIN(d.vec_id) AS worst_vec_id
      |  FROM d JOIN st ON d.label = st.label AND d.d2 = st.worst_d2
      |  GROUP BY d.label),
      |fl AS (
      |  SELECT d.label, COUNT(*) AS n_outliers
      |  FROM d JOIN st ON d.label = st.label
      |  WHERE CAST(d.d2 AS HUGEINT) * st.n_vecs > $OutlierTau * st.sd2
      |  GROUP BY d.label)
      |SELECT st.label, st.n_vecs,
      |  COALESCE(fl.n_outliers, 0) AS n_outliers,
      |  wv.worst_vec_id, st.worst_d2,
      |  CAST((2 * sd2 + st.n_vecs) // (2 * st.n_vecs) AS BIGINT) AS mean_d2
      |FROM st JOIN wv ON st.label = wv.label
      |     LEFT JOIN fl ON st.label = fl.label
      |ORDER BY st.label""".stripMargin
  }

  // ---- q190 embedding admission at ingest --------------------------

  /** The store's per-label gate artifact: integer centroid + vector
    * count + exact Σd² over the STORE vectors (q86's residue split
    * keyed on vec_id). |labels|-row bounded — the broadcast/stream-
    * static side of every admission. */
  private[graft] def embedStoreStats(spark: SparkSession, dir: String): DataFrame = {
    val store = fixedVectors(
      Tables.embeddings(spark, dir).filter(!isBatchVec))
    val cent = centroidOf(store)
    val sd2 = store.join(broadcast(cent), Seq("label"))
      .select(col("label"), d2Col.as("d2"))
      .groupBy(col("label"))
      .agg(sum(col("d2").cast("decimal(38,0)")).as("sd2"))
    cent.join(sd2, Seq("label"))
  }

  /** THE admission projection, one def (batch report + ingest twin —
    * copies drift): each vector's exact d² against the store's
    * centroid and the fail-closed verdict — admitted iff its label
    * HAS store stats AND d²·n_store ≤ τ·Σd²_store (the q186 rule with
    * thresholds frozen from the store). Row-local after the bounded
    * stats join, so it runs unchanged on a vector stream
    * (StreamOps.embedAdmitStream). */
  private[graft] def embedAdmitProjection(vecs: DataFrame,
      stats: DataFrame): DataFrame =
    fixedVectors(vecs)
      .join(broadcast(stats), Seq("label"), "left")
      .select(col("vec_id"), col("label"),
        when(col("n").isNull, lit(null).cast("long"))
          .otherwise(d2Col).as("d2"),
        when(col("n").isNull, lit(false))
          .otherwise(d2Col.cast("decimal(38,0)") * col("n") <=
            lit(OutlierTau) * col("sd2")).as("admitted"))

  /** q190: embedding ADMISSION at ingest — q186's quality gate in
    * steady state (q96/q92's shape on the vector side): arriving
    * vectors (q86's residue split on vec_id) are gated against the
    * STORE's frozen centroid statistics, never against themselves —
    * a batch of correlated junk must not be able to vouch for itself
    * by dragging the centroid toward it. Fail-closed: a label the
    * store has never seen is rejected (a compliance stance, not an
    * optimization — cf. the suppression-list and q170 gates).
    *
    * Exactness: the store artifact and every per-vector d² are the
    * q186 integer pipeline unchanged, and the admission compare runs
    * in DECIMAL(38,0)/HUGEINT — the whole steady-state gate is
    * oracle-checked. Scale shape: the artifact is |labels| rows; the
    * batch side is one scan + broadcast join + row-local d²; nothing
    * batch-sized shuffles before the presentation ORDER BY. */
  def embedAdmit(spark: SparkSession, dir: String): DataFrame =
    embedAdmitProjection(
      Tables.embeddings(spark, dir).filter(isBatchVec),
      embedStoreStats(spark, dir))
      .orderBy(col("vec_id"))

  /** q192: embedding DRIFT report — per label, how far the arriving
    * batch's centroid sits from the store's (the vector-side twin of
    * q140's PSI gate: a retrained encoder, a new crawl domain, or a
    * poisoning attempt all show up as centroid shift before any
    * downstream metric moves). Purely descriptive — counts, the
    * exact integer shift² between the two integer centroids
    * (≤ 64·(2S)², int64 at any scale), each side's quantized mean
    * d², and shift²/store_mean_d² as one raw IEEE division. FULL
    * join: a label seen on only one side reports with nulls — the
    * appearance/disappearance of a label IS drift.
    *
    * Exactness: both centroids and both mean d²'s are the shared
    * q186/q190 integer defs; every output is int64 or one division
    * of identically-cast doubles — oracle-gated end to end. */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    def sideStats(pred: Column, p: String): DataFrame = {
      // examined, not persisted (opt r08): consumed by the centroid
      // agg and the scatter join, but the frame carries the full
      // quantized-vector payload — the labeledEmb rule (payload-sized
      // frames re-scan, only slim/bounded frames persist)
      val side = fixedVectors(
        Tables.embeddings(spark, dir).filter(pred))
      val cent = centroidOf(side)
      val md2 = side.join(broadcast(cent), Seq("label"))
        .select(col("label"), d2Col.as("d2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(col("d2").cast("decimal(38,0)")).as("sd2"))
        .select(col("label"), col("n").as(s"n_$p"),
          expr("(2 * sd2 + n) div (2 * n)").cast("long").as(s"mean_d2_$p"))
      cent.select(col("label") +:
        (1 to EmbDim).map(i => col(s"c$i").as(s"${p}_c$i")): _*)
        .join(md2, Seq("label"))
    }
    val st = sideStats(!isBatchVec, "store")
    val ba = sideStats(isBatchVec, "batch")
    val shift = (1 to EmbDim).map { i =>
      val d = col(s"store_c$i") - col(s"batch_c$i")
      d * d
    }.reduce(_ + _)
    st.join(ba, Seq("label"), "full")
      .select(col("label"), col("n_store"), col("n_batch"),
        shift.as("shift_d2"),
        col("mean_d2_store"), col("mean_d2_batch"),
        when(col("mean_d2_store").isNull || col("mean_d2_batch").isNull ||
          col("mean_d2_store") === 0L, lit(null).cast("double"))
          .otherwise(shift.cast("double") /
            col("mean_d2_store").cast("double")).as("drift_ratio"))
      .orderBy(col("label"))
  }

  /** The q192 oracle: the shared generated fragments instantiated
    * for both residue sides, FULL JOIN mirrored. */
  private[graft] def embedDriftOracleSql: String = {
    import graft.operators.CorpusOps.{SampleHashC, SampleHashP}
    def side(p: String, cond: String): String = {
      val cAlias = (1 to EmbDim).map(i => s"c$i AS ${p}_c$i").mkString(", ")
      s"""${p}v AS (SELECT * FROM e WHERE $cond),
        |${p}ct AS (SELECT label, COUNT(*) AS n, $embedSColsSql FROM ${p}v GROUP BY label),
        |${p}cc AS (SELECT label, n, $embedCColsSql FROM ${p}ct),
        |${p}md AS (
        |  SELECT v.label, COUNT(*) AS n, CAST(SUM($embedD2Sql) AS HUGEINT) AS sd2
        |  FROM ${p}v v JOIN ${p}cc cc ON v.label = cc.label GROUP BY v.label),
        |${p}s AS (
        |  SELECT cc.label, $cAlias, md.n AS n_$p,
        |    CAST((2 * md.sd2 + md.n) // (2 * md.n) AS BIGINT) AS mean_d2_$p
        |  FROM ${p}cc cc JOIN ${p}md md ON cc.label = md.label)""".stripMargin
    }
    val shift = (1 to EmbDim)
      .map(i => s"(store_c$i - batch_c$i) * (store_c$i - batch_c$i)")
      .mkString(" + ")
    s"""WITH e AS (
      |  SELECT vec_id, label,
      |    ((vec_id % $SampleHashP) * $SampleHashC) % $SampleHashP % 10 = 3 AS is_batch,
      |    $embedVColsSql
      |  FROM embeddings),
      |${side("store", "NOT is_batch")},
      |${side("batch", "is_batch")}
      |SELECT COALESCE(s.label, b.label) AS label, n_store, n_batch,
      |  $shift AS shift_d2, mean_d2_store, mean_d2_batch,
      |  CASE WHEN mean_d2_store IS NULL OR mean_d2_batch IS NULL
      |         OR mean_d2_store = 0 THEN NULL
      |    ELSE CAST($shift AS DOUBLE) / CAST(mean_d2_store AS DOUBLE) END
      |    AS drift_ratio
      |FROM stores s FULL JOIN batchs b ON s.label = b.label
      |ORDER BY label""".stripMargin
  }

  /** The q190 oracle: the shared generated fragments with the store/
    * batch residue split; LEFT JOIN keeps the fail-closed rule. */
  private[graft] def embedAdmitOracleSql: String = {
    import graft.operators.CorpusOps.{SampleHashC, SampleHashP}
    s"""WITH e AS (
      |  SELECT vec_id, label,
      |    ((vec_id % $SampleHashP) * $SampleHashC) % $SampleHashP % 10 = 3 AS is_batch,
      |    $embedVColsSql
      |  FROM embeddings),
      |st AS (SELECT * FROM e WHERE NOT is_batch),
      |ct AS (SELECT label, COUNT(*) AS n, $embedSColsSql FROM st GROUP BY label),
      |cc AS (SELECT label, n, $embedCColsSql FROM ct),
      |sd AS (
      |  SELECT st.label, CAST(SUM($embedD2Sql) AS HUGEINT) AS sd2
      |  FROM st JOIN cc ON st.label = cc.label GROUP BY st.label),
      |ba AS (SELECT * FROM e WHERE is_batch),
      |d AS (
      |  SELECT ba.vec_id, ba.label, cc.n, sd.sd2,
      |    CASE WHEN cc.n IS NULL THEN NULL ELSE $embedD2Sql END AS d2
      |  FROM ba LEFT JOIN cc ON ba.label = cc.label
      |          LEFT JOIN sd ON ba.label = sd.label)
      |SELECT vec_id, label, d2,
      |  CASE WHEN n IS NULL THEN FALSE
      |    ELSE CAST(d2 AS HUGEINT) * n <= $OutlierTau * sd2 END AS admitted
      |FROM d ORDER BY vec_id""".stripMargin
  }

  // ---- q209/q210: contrastive mining + label-noise vote -------------

  /** Neighborhood size for the label vote; q209 shares the top-5
    * contract with q40. */
  private[graft] val VoteK = 5

  /** The probe/eval-query id roster bound of the labeled-kNN family
    * (q209/q210 queries, q216's compromised-probe report, q218's
    * leak gate and its stream twin, and every oracle fragment
    * stating the roster): ids below the bound are the frozen eval
    * probes, ids at or above it are gated train vectors. ONE named
    * constant (lever (s)) — the four coupled occurrences were
    * hand-maintained literals (round-7 ADVICE), and the >=/<
    * complement means a drift FLIPS semantics rather than shifting
    * a boundary. */
  private[graft] val ProbeIdBound = 10L

  // Examined, not persisted (opt r08): q209/q210 consume this frame
  // 3–7×, but it carries the FULL vector payload — at 100 TB a
  // persist materializes the corpus into cache (write + evict churn)
  // where the re-executions are column-pruned scans + row-local norm
  // recompute, and locally the redundant subtrees run concurrently
  // (probe: persist was ~0.2 s SLOWER warm). Payload-sized frames
  // re-scan; only slim/bounded frames persist.
  private def labeledEmb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        VecFns.norm(col("embedding")).as("nrm"))

  private def labeledQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < ProbeIdBound)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv"), col("nrm").as("qnrm"))

  private def labeledScored(emb: DataFrame, q: DataFrame): DataFrame =
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(
        VecFns.ratio(VecFns.dot(col("embedding"), col("qv")),
          col("nrm") * col("qnrm")), 6))

  /** q209: HARD-NEGATIVE MINING — per query vector, the top-5 nearest
    * neighbors carrying a DIFFERENT label: the contrastive-training
    * staple (DPR/SimCSE-style — the negatives that actually move an
    * encoder are the near-miss ones, not random draws), and the
    * natural companion of q196's noise table on the vector side.
    * Same scale shape as q40 (bounded query set broadcasts, the
    * corpus streams once, bounded TopKByKey heaps — no window, no
    * global sort); the label filter prunes BEFORE scoring, and the
    * 50-row result joins back to the slim (vec_id, label) projection
    * for the negative's label. Float discipline: q40's rounded
    * cosine + id tie-breaks (lever (i)). */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = labeledEmb(spark, dir)
    val scored = labeledScored(emb, labeledQueries(emb))
      .filter(col("label") =!= col("qlabel"))
    topKSelect(scored, VoteK)
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("neg_label")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("neg_label").cast("long").as("neg_label"),
        col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q210: kNN LABEL-NOISE VOTE — for each query vector, its top-K
    * neighbors vote on the label (Confident-Learning-style sampled
    * audit): a vector whose neighborhood majority disagrees with its
    * own label is a labeling suspect, and a corpus whose suspect
    * rate is high fails q207's separation gate for a REASON. Exact:
    * the vote counts are ints over q40's deterministic top-K; the
    * majority argmax breaks count ties toward the smaller label
    * (struct-max == the oracle's rank window). */
  def labelVote(spark: SparkSession, dir: String): DataFrame = {
    val emb = labeledEmb(spark, dir)
    val q = labeledQueries(emb)
    val neigh = topKSelect(labeledScored(emb, q), VoteK)
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), Seq("neighbor_id"))
    val votes = neigh.groupBy(col("query_id"), col("nlabel"))
      .agg(count(lit(1)).as("cnt"))
    val majority = votes.groupBy(col("query_id"))
      .agg(max(struct(col("cnt"), (-col("nlabel")).as("nn"))).as("w"))
      .select(col("query_id"), (-col("w.nn")).cast("long").as("majority_label"))
    val agree = neigh.join(q.select(col("query_id"), col("qlabel")), Seq("query_id"))
      .groupBy(col("query_id"), col("qlabel"))
      .agg(sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
        .as("n_agree"))
    agree.join(majority, Seq("query_id"))
      .select(col("query_id"), col("qlabel").cast("long").as("own_label"),
        col("n_agree"), col("majority_label"),
        (col("majority_label") =!= col("qlabel").cast("long")).as("suspect"))
      .orderBy(col("query_id"))
  }

  /** The shared labeled-kNN CTE front (e with label + norm, bounded
    * query set) — q209's and q210's oracles both interpolate it. */
  private def knnLabeledCteSql: String =
    s"""e AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(len(embedding)),
      |        i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE))),
      |      (acc, v) -> acc + v)) AS nrm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qv, nrm AS qnrm
      |      FROM e WHERE vec_id < $ProbeIdBound),
      |c AS (
      |  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label AS nlabel,
      |    round(
      |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(len(e.embedding)),
      |          i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(q.qv[i+1] AS DOUBLE))),
      |        (acc, v) -> acc + v) / (e.nrm * q.qnrm), 6) AS cosine
      |  FROM e, q WHERE e.vec_id != q.query_id)""".stripMargin

  private[graft] def hardNegativesOracleSql: String =
    s"""WITH $knnLabeledCteSql,
       |r AS (
       |  SELECT query_id, neighbor_id, CAST(nlabel AS BIGINT) AS neg_label, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
       |  FROM c WHERE nlabel <> qlabel)
       |SELECT query_id, neighbor_id, neg_label, cosine, "rank"
       |FROM r WHERE "rank" <= $VoteK
       |ORDER BY query_id, "rank"""".stripMargin

  private[graft] def labelVoteOracleSql: String =
    s"""WITH $knnLabeledCteSql,
       |r AS (
       |  SELECT query_id, qlabel, nlabel,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM c),
       |n AS (SELECT query_id, qlabel, nlabel FROM r WHERE rn <= $VoteK),
       |v AS (SELECT query_id, nlabel, COUNT(*) AS cnt FROM n GROUP BY 1, 2),
       |m AS (
       |  SELECT query_id, CAST(nlabel AS BIGINT) AS majority_label
       |  FROM (SELECT query_id, nlabel,
       |          ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cnt DESC, nlabel) AS mr FROM v)
       |  WHERE mr = 1),
       |a AS (
       |  SELECT query_id, CAST(qlabel AS BIGINT) AS own_label,
       |    CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM n GROUP BY 1, 2)
       |SELECT a.query_id, a.own_label, a.n_agree, m.majority_label,
       |  m.majority_label <> a.own_label AS suspect
       |FROM a JOIN m ON a.query_id = m.query_id
       |ORDER BY a.query_id""".stripMargin

  // ---- q221: SQ8 distortion card -------------------------------------

  /** q221 error-energy quantization unit (lever (w)): e²·10⁹ as
    * int64 — per-vector energies ~1e-2 quantize to ~1e7, summing
    * exactly to ~1e11 over gate corpora, far inside int64. */
  private[graft] val SqErrScale = 1000000000L

  /** The generated SQ8 bounds + reconstruction CTE prefix (d → s →
    * e, per-vector dq list with the original embedding carried) —
    * the SQL mirror of plans/SqExprs exists ONCE; the q116 and q221
    * oracles both interpolate it (shared-rule discipline). */
  private[graft] def sq8DequantCteSql: String =
    """d AS (
      |  SELECT CAST(generate_subscripts(embedding,1) AS INT) AS dim, unnest(embedding) AS x
      |  FROM embeddings),
      |s AS (
      |  SELECT list(CAST(mn AS DOUBLE) ORDER BY dim) AS mns,
      |         list(CAST(mx AS DOUBLE) ORDER BY dim) AS mxs
      |  FROM (SELECT dim, min(x) AS mn, max(x) AS mx FROM d GROUP BY dim)),
      |e AS (
      |  SELECT vec_id, label, embedding,
      |    list_transform(range(1, len(embedding)+1), i ->
      |      CASE WHEN s.mxs[i] = s.mns[i] THEN s.mns[i]
      |        ELSE s.mns[i] + floor((CAST(embedding[i] AS DOUBLE) - s.mns[i]) / (s.mxs[i] - s.mns[i]) * 255 + 0.5)
      |             * (s.mxs[i] - s.mns[i]) / 255 END) AS dq
      |  FROM embeddings, s)""".stripMargin

  /** q221: SQ8 DISTORTION CARD — the fidelity price of the 4×
    * compression knob, next to q204's IVF recall curve and q188's
    * LSH S-curve (every approximate structure in the serving family
    * now carries a measured price table): per label, the exact
    * reconstruction-error energy of q116's quantizer — total, mean
    * per component, and the worst vector. A label whose distortion
    * is an outlier occupies the corners of the bound box (its
    * serving recall under SQ8 will trail the corpus), which is the
    * go/no-go a deployment reads before switching the layout to int8.
    *
    * Scale shape: ONE scan; quantize → reconstruct → measure happens
    * in ONE codegen kernel per row (plans/SqExprs.SqErr2Q — the
    * error never materializes a second corpus-width array; bounds
    * ride as reference objects); the rollup is |labels|-row. Float
    * discipline: the kernel leaves the energy as a lever-(w)
    * quantized int64, so sums are EXACT and partition-order-
    * independent; mean = one IEEE division of exact int64s (lever
    * (c)); max is an exact integer value pick. */
  def sq8Distortion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (mins, maxs) = sqBounds(spark, dir, emb)
    emb.select(col("label"),
        graft.plans.SqExprs.err2q(col("embedding"), mins, maxs, SqErrScale)
          .as("e2q"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("e2q")).cast("long").as("sum_err2_q"),
        max(col("e2q")).cast("long").as("max_err2_q"))
      .withColumn("mean_err2_q",
        col("sum_err2_q").cast("double") /
          (col("n_vecs") * EmbDim).cast("double"))
      .select(col("label"), col("n_vecs"), col("sum_err2_q"),
        col("max_err2_q"), col("mean_err2_q"))
      .orderBy(col("label"))
  }

  /** The q221 oracle — the shared SQ8 reconstruction prefix + the
    * same (dq−x)² fold and lever-(w) quantizer, scale and dim
    * interpolated. */
  private[graft] def sq8DistortionOracleSql: String =
    s"""WITH $sq8DequantCteSql,
       |er AS (
       |  SELECT label,
       |    CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(len(dq)), i ->
       |        (dq[i+1] - CAST(embedding[i+1] AS DOUBLE)) * (dq[i+1] - CAST(embedding[i+1] AS DOUBLE)))),
       |      (acc, v) -> acc + v) * $SqErrScale + 0.5) AS BIGINT) AS e2q
       |  FROM e)
       |SELECT label, COUNT(*) AS n_vecs,
       |  CAST(SUM(e2q) AS BIGINT) AS sum_err2_q,
       |  CAST(MAX(e2q) AS BIGINT) AS max_err2_q,
       |  CAST(CAST(SUM(e2q) AS BIGINT) AS DOUBLE) /
       |    CAST(COUNT(*) * $EmbDim AS DOUBLE) AS mean_err2_q
       |FROM er GROUP BY label ORDER BY label""".stripMargin

  // ---- q225: PQ distortion card --------------------------------------

  /** q225: PQ DISTORTION CARD — q221's question asked of the TRAINED
    * quantizer: per label, the reconstruction-error energy of the
    * q67 codebooks (8 subspaces × 16 centroids = 8-byte codes, an
    * 8× deeper compression than SQ8's 64 bytes — and the measured
    * price of those bytes is exactly this table; DedupSpec pins the
    * fidelity ordering PQ ≥ SQ8 per label). Encoding a vector and
    * measuring its error are the SAME per-subspace argmin loop, so
    * the kernel (plans/PqExprs.PqErr2Q) reuses the codes kernel's
    * structure and accumulates the minimized distances — one scan,
    * row-local, |labels|-row rollup, codebooks as reference objects.
    * Rows-only (seeded KMeans codebooks); the lever-(w) int64
    * energies keep the rollup exact and order-independent, and the
    * spec replays the kernel driver-side from the same codebook
    * arrays. */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = centroidArrays(pqCodebooks(spark, dir, emb))
    emb.select(col("label"),
        graft.plans.PqExprs.err2q(col("embedding"), cents, SqErrScale)
          .as("e2q"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("e2q")).cast("long").as("sum_err2_q"),
        max(col("e2q")).cast("long").as("max_err2_q"))
      .withColumn("mean_err2_q",
        col("sum_err2_q").cast("double") /
          (col("n_vecs") * EmbDim).cast("double"))
      .select(col("label"), col("n_vecs"), col("sum_err2_q"),
        col("max_err2_q"), col("mean_err2_q"))
      .orderBy(col("label"))
  }

  /** Codebook arrays for the spec's driver-side kernel replay. */
  private[graft] def pqCentroidsFor(spark: SparkSession,
      dir: String): graft.plans.PqExprs.Centroids =
    centroidArrays(pqCodebooks(spark, dir, Tables.embeddings(spark, dir)))

  // ---- q216: embedding-space eval contamination ---------------------

  /** q216 leak threshold: a train vector this cosine-close to an
    * eval probe is treated as the same underlying content. Chosen to
    * bind on BOTH sides at every gate scale (leaked and clean probes
    * exist at sf0.001/0.01/0.1); the rounded cosine is an identical
    * double in both engines, so the raw threshold compare is exact
    * (lever (c)). */
  private[graft] val EmbedContamTau = 0.39

  /** q216: EMBEDDING-SPACE EVAL CONTAMINATION — q214's clean-eval
    * report in the vector modality: n-gram decontamination (q76/
    * q173/q214) misses paraphrases and cross-format copies, so
    * retrieval/rerank benchmarks are additionally swept in embedding
    * space (the e5/BEIR hygiene step: an eval probe whose nearest
    * train vector is "too close" is compromised — the model has
    * effectively seen the answer). Per eval probe: the max train
    * cosine, the argmax train vector (the leaking item, for the
    * removal audit), how many train vectors sit inside τ, and the
    * leaked verdict; the clean-benchmark roster is `NOT leaked`.
    *
    * Scale shape: q40's exact contract — the bounded probe set
    * broadcasts, the corpus streams once map-side and is NEVER
    * shuffled; everything after the scan is one partial-aggregable
    * per-probe fold (max struct + conditional count), so the shuffle
    * carries |probes| rows. Argmax = struct max with min-id
    * tie-break (the oracle may STATE it as a rank window, lever
    * (h)). Shares the q209/q210 scored frame def — one cosine rule,
    * one SQL fragment, no drift surface. */
  def embedContam(spark: SparkSession, dir: String): DataFrame = {
    val emb = labeledEmb(spark, dir)
    val scored = labeledScored(emb, labeledQueries(emb))
    scored.groupBy(col("query_id"))
      .agg(
        max(struct(col("cosine"), (-col("vec_id")).as("neg"))).as("b"),
        sum(when(col("cosine") >= EmbedContamTau, 1L).otherwise(0L))
          .as("n_within_tau"))
      .select(col("query_id"), col("b.cosine").as("max_cosine"),
        (-col("b.neg")).as("nearest_id"), col("n_within_tau"),
        (col("b.cosine") >= EmbedContamTau).as("leaked"))
      .orderBy(col("query_id"))
  }

  /** The q216 oracle — the SAME shared labeled-kNN CTE front as
    * q209/q210 (the labels ride along unused), the argmax stated as
    * a rank window (lever (h)), τ interpolated. */
  private[graft] def embedContamOracleSql: String =
    s"""WITH $knnLabeledCteSql,
       |r AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM c),
       |n AS (
       |  SELECT query_id,
       |    CAST(SUM(CASE WHEN cosine >= $EmbedContamTau THEN 1 ELSE 0 END) AS BIGINT) AS n_within_tau
       |  FROM c GROUP BY 1)
       |SELECT r.query_id, r.cosine AS max_cosine, r.neighbor_id AS nearest_id,
       |  n.n_within_tau, r.cosine >= $EmbedContamTau AS leaked
       |FROM r JOIN n USING (query_id) WHERE rn = 1
       |ORDER BY r.query_id""".stripMargin

  // ---- q218: eval-leak gate at the vector ingest boundary ----------

  /** Probe artifact registry: the |probes|-row (id, vector, norm)
    * table collected once per (session, corpus) — scheduler-metadata
    * sized (10 rows), the documented bounded-collect pattern (q98/
    * q99 class). */
  private val probeCache = graft.SessionRegistry
    .cache[(SparkSession, String), (Array[Long], Array[Array[Double]])]()

  private[graft] def evalProbes(spark: SparkSession,
      dir: String): (Array[Long], Array[Array[Double]]) =
    probeCache.getOrElseUpdate((spark, dir), {
      val rows = Tables.embeddings(spark, dir)
        .filter(col("vec_id") < ProbeIdBound)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .sortBy(_.getLong(0))
      (rows.map(_.getLong(0)),
        rows.map(_.getSeq[Float](1).toArray.map(_.toDouble)))
    })

  /** THE per-vector leak rule, in one def (shared-rule discipline):
    * each vector scores against the bounded probe artifact inside
    * ONE codegen kernel (plans/CellExprs.MaxCosine — probes ride in
    * as reference objects, never literal trees or UDF closures) and
    * is flagged when any probe cosine reaches [[EmbedContamTau]].
    * Pure row-local projection → runs unchanged on a streaming
    * vector frame (the q83/q190 twin discipline); probe rows
    * themselves (vec_id < ProbeIdBound) are excluded from gating. */
  private[graft] def embedLeakProjection(vecs: DataFrame,
      probes: (Array[Long], Array[Array[Double]])): DataFrame = {
    val mc = graft.plans.CellExprs.maxCosine(
      col("embedding"), probes._1, probes._2)
    vecs.filter(col("vec_id") >= ProbeIdBound)
      .withColumn("mc", mc)
      .select(col("vec_id"), col("mc.sim").as("max_cosine"),
        col("mc.pid").as("nearest_probe"),
        (col("mc.sim") >= EmbedContamTau).as("leaked"))
  }

  /** q218: EVAL-LEAK GATE — q216's verdict enforced at the INGEST
    * boundary, from the vector side: q216 reports which eval probes
    * are ALREADY compromised; this op keeps the situation from
    * getting worse by flagging each arriving train vector whose
    * cosine to ANY frozen eval probe reaches τ (quarantine before it
    * reaches an index or a training shard — the embedding-side
    * sibling of q83's contamination flag and the forward half of the
    * q174 suppression discipline). Registered as the BATCH
    * presentation over the full corpus; StreamOps.embedLeakStream
    * runs the IDENTICAL shared projection on arriving vectors
    * (parity spec).
    *
    * Scale shape: one scan, everything row-local in one codegen
    * kernel (per-row latency on the stream; a narrow map stage in
    * batch — no join, no shuffle, no window anywhere). Float
    * discipline: the kernel replays the declarative chain exactly —
    * float→double casts, left-to-right dot fold, HALF_UP round(·,6),
    * (cosine DESC, id ASC) argmax — so the oracle states the same
    * values through the shared q209/q210 CTE fragment. */
  def leakGate(spark: SparkSession, dir: String): DataFrame =
    embedLeakProjection(
      Tables.embeddings(spark, dir), evalProbes(spark, dir))
      .orderBy(col("vec_id"))

  /** The q218 oracle — the shared labeled-kNN fragment with the
    * argmax flipped to the VECTOR side (probe-probe pairs excluded by
    * the id roster rule), stated as a rank window (lever (h)). */
  private[graft] def leakGateOracleSql: String =
    s"""WITH $knnLabeledCteSql,
       |r AS (
       |  SELECT neighbor_id AS vec_id, query_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY neighbor_id
       |      ORDER BY cosine DESC, query_id) AS rn
       |  FROM c WHERE neighbor_id >= $ProbeIdBound)
       |SELECT vec_id, cosine AS max_cosine, query_id AS nearest_probe,
       |  cosine >= $EmbedContamTau AS leaked
       |FROM r WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  // ---- q207: embedding class-separation report ---------------------

  /** q207: per-label CLASS SEPARATION in embedding space — Fisher's
    * question before any label-conditioned curation is trusted: is
    * the label structure REAL here? between_d2 = squared distance
    * from the label centroid to the GLOBAL centroid vs
    * within_mean_d2 = the label's mean squared scatter (q186's exact
    * rule); a label whose separation ratio ~ 0 is indistinguishable
    * from the blend, so q186's outlier pruning and q190's admission
    * gate (both label-conditioned) are operating on noise for it —
    * this report is the go/no-go those gates should be conditioned
    * on. EXACT end to end, so it joins the embedding family on the
    * oracle gate: same portable quantizer / half-up integer
    * centroids / row-local d² chains as q186 (every def shared); the
    * GLOBAL centroid re-rolls the |labels|-row sums table — the
    * corpus is scanned ONCE for sums and once for the within pass
    * (q186's documented two-consumer shape); between_d2 is row-local
    * on the |labels|-row join of per-label and global centroids;
    * separation = one IEEE division of exact int64s, null on a
    * degenerate zero-scatter label (levers (c)/(q)). */
  def embedSeparation(spark: SparkSession, dir: String): DataFrame = {
    val dims = 1 to EmbDim
    val base = fixedVectors(Tables.embeddings(spark, dir))
    val ct = labelSums(base) // |labels|-row; two consumers share its exchange
    val cents = centroidFromSums(ct)
    val glob = ct
      .agg(sum(col("n")).as("gn"),
        dims.map(i => sum(col(s"s$i")).as(s"gs$i")): _*)
      .select(col("gn") +:
        dims.map(i => expr(s"(2 * gs$i + gn) div (2 * gn)").as(s"g$i")): _*)
    val between = cents.crossJoin(broadcast(glob))
      .select(col("label"),
        dims.map { i =>
          val d = col(s"c$i") - col(s"g$i")
          d * d
        }.reduce(_ + _).as("between_d2"))
    val within = base.join(broadcast(cents), Seq("label"))
      .select(col("label"), d2Col.as("d2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d2").cast("decimal(38,0)")).as("sd2"))
      .select(col("label"), col("n_vecs"),
        expr("(2 * sd2 + n_vecs) div (2 * n_vecs)").cast("long")
          .as("within_mean_d2"))
    within.join(between, Seq("label"))
      .select(col("label"), col("n_vecs"), col("within_mean_d2"),
        col("between_d2"),
        when(col("within_mean_d2") === 0L, lit(null).cast("double"))
          .otherwise(col("between_d2").cast("double") /
            col("within_mean_d2").cast("double")).as("separation"))
      .orderBy(col("label"))
  }

  /** The q207 oracle — the q186 generated fragments plus a global
    * stage over the per-label sums (the same re-roll, never a second
    * corpus pass). */
  private[graft] def embedSeparationOracleSql: String = {
    val dims = 1 to EmbDim
    val gSums = dims.map(i => s"CAST(SUM(s$i) AS BIGINT) AS gs$i").mkString(", ")
    val gCents = dims.map(i => s"(2 * gs$i + gn) // (2 * gn) AS g$i").mkString(", ")
    val btw = dims.map(i => s"(c$i - g$i) * (c$i - g$i)").mkString(" + ")
    s"""WITH e AS (
      |  SELECT vec_id, label,
      |    $embedVColsSql
      |  FROM embeddings),
      |ct AS (SELECT label, COUNT(*) AS n, $embedSColsSql FROM e GROUP BY label),
      |cc AS (SELECT label, n, $embedCColsSql FROM ct),
      |g AS (SELECT CAST(SUM(n) AS BIGINT) AS gn, $gSums FROM ct),
      |gc AS (SELECT gn, $gCents FROM g),
      |bt AS (SELECT cc.label, $btw AS between_d2 FROM cc CROSS JOIN gc),
      |d AS (
      |  SELECT e.label, $embedD2Sql AS d2
      |  FROM e JOIN cc ON e.label = cc.label),
      |w AS (
      |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |    CAST((2 * CAST(SUM(d2) AS HUGEINT) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
      |      AS within_mean_d2
      |  FROM d GROUP BY label)
      |SELECT w.label, w.n_vecs, w.within_mean_d2,
      |  CAST(bt.between_d2 AS BIGINT) AS between_d2,
      |  CASE WHEN w.within_mean_d2 = 0 THEN NULL
      |    ELSE CAST(bt.between_d2 AS DOUBLE) / CAST(w.within_mean_d2 AS DOUBLE)
      |  END AS separation
      |FROM w JOIN bt ON w.label = bt.label
      |ORDER BY w.label""".stripMargin
  }

  // ---- q204: IVF recall-vs-nprobe tuning curve --------------------

  /** Probe levels swept by q204 (the max equals ivfCells, so the
    * deepest level is exhaustive and its recall is EXACTLY 1 — the
    * spec pins that identity) and the @K of the recall. */
  private[graft] val RecallProbes = Seq(1, 2, 4, 8, 16)
  private[graft] val RecallK = 5

  /** q204: the IVF TUNING CURVE — recall@5 vs candidates-scanned at
    * each nprobe level, measured against q40's exact baseline: the
    * table an ANN deployment reads to pick its operating point
    * (probe 1/16th of the corpus and accept X% recall, or pay more).
    * q41 exposes the knob; this measures it — the word_item app's
    * "how approximate can serving afford to be" question made a
    * report (reference serves exact gensim most_similar; the knob is
    * the scale path it never needed).
    *
    * Scale shape: ONE index pass (cell assignment, the q41 plan) and
    * ONE probe join at the DEEPEST level with the probe rank kept
    * (posexplode of the ordered cell list); per-(query, probe-rank)
    * bounded top-K heaps reduce the candidate stream to
    * |queries|·maxProbe·K rows (read twice through one exchange), and every
    * shallower level's exact top-K is re-derived from those heaps
    * alone (a level's true top-K member is necessarily top-K within
    * its own probe rank), so the curve costs one corpus pass, not
    * one per level. The exact baseline is q40's plan (one streamed
    * corpus pass, no shuffle). Approximate (seeded KMeans cells) →
    * rows-only; the spec pins monotonicity and the exhaustive-level
    * identity. */
  def ivfRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val cents = cellArrays(coarseModel(spark, dir, emb))
    val maxP = RecallProbes.max
    val corpusCells = nearestCells(emb, cents, keep = 1)
    val cellsCol = graft.plans.CellExprs.nearestCells(col("embedding"), cents, maxP)
    val queryCells = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), posexplode(cellsCol).as(Seq("cr", "cent_id")))
    val scored = corpusCells.join(broadcast(queryCells), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(
        VecFns.ratio(VecFns.dot(col("embedding"), col("qv")),
          col("nrm") * col("qnrm")), 6))
    val perCr = scored.groupBy(col("query_id"), col("cr"))
      .agg(graft.plans.TopKByKey.topK(RecallK)(col("vec_id"), col("cosine"))
          .as("top"),
        count(lit(1)).as("n_cand"))
    // perCr (|queries|·maxProbe rows) is read twice below, through
    // its one exchange; the 50-row exact baseline is read twice (the query count and the
    // left_semi build), both in the one returned plan, so the two
    // reads share knnBrute's query_id exchange: ONE corpus pass
    val exact = knnBrute(spark, dir)
      .select(col("query_id").as("xq"), col("neighbor_id").as("xn"))
    val nq = exact.agg(countDistinct(col("xq")).cast("double").as("nq"))
    // ONE pass for all five levels (opt r08): the old per-level loop
    // unioned five arms, each re-aggregating the heaps and re-joining
    // the baseline — ~35 one-task stages whose per-stage scheduling
    // latency dominated at any scale where the heaps are tiny (and at
    // 100 TB five arms re-read the persisted heap frame five times).
    // Instead the 5-row level table LEFT-joins the heaps on cr < nprobe
    // (left outer keeps a level with zero candidates — the 1-vector
    // corpus — at n_scanned = 0, exactly the old coalesce(sum, 0)), and
    // BOTH reductions group by nprobe: per-level values are identical
    // because the join replicates each heap row into every qualifying
    // level and TopKByKey is encounter-order-free with the same
    // (score desc, id asc) order the per-level arms used.
    import spark.implicits._
    val levels = RecallProbes.map(_.toLong).toDF("nprobe")
    val cand = broadcast(levels)
      .join(perCr, col("cr") < col("nprobe"), "left")
    val scanned = cand.groupBy(col("nprobe"))
      .agg(coalesce(sum(col("n_cand")), lit(0L)).as("n_scanned"))
    val hits = cand.filter(col("query_id").isNotNull)
      .select(col("nprobe"), col("query_id"), explode(col("top")).as("e"))
      .groupBy(col("nprobe"), col("query_id"))
      .agg(graft.plans.TopKByKey.topK(RecallK)(
        col("e.id"), col("e.score")).as("top"))
      .select(col("nprobe"), col("query_id"), explode(col("top")).as("e"))
      .join(exact, col("query_id") === col("xq") &&
        col("e.id") === col("xn"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    scanned.join(hits, Seq("nprobe"), "left")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("nprobe"),
        col("n_hits"),
        (col("n_hits").cast("double") / (col("nq") * RecallK.toDouble))
          .as("recall_at_5"),
        (col("n_scanned").cast("double") / col("nq")).as("avg_candidates"))
      .orderBy(col("nprobe"))
  }

  // ---- q195: Matryoshka dim-truncation quality -------------------

  /** Truncation levels probed by q195 — oracle fragments are
    * GENERATED from this list (lever (a)). */
  private[graft] val TruncDims = Seq(8, 16, 32)

  /** q195: DIMENSION-TRUNCATION quality report (the Matryoshka
    * question: how much ranking fidelity survives if ANN reads only
    * the first-T prefix of each vector?). At 100 TB the answer
    * decides the serving layout — a T=16 prefix scan reads 1/4 of
    * the bytes, and the standard pattern is prefix-ANN then exact
    * re-rank of the shortlist; this query measures the top-1 cost of
    * that move per truncation level against q40's exact full-dim
    * baseline. Scale shape: ONE corpus scan — per-side prefix norms
    * are computed once per row BEFORE the broadcast cross join
    * (q40's norms-not-per-pair rule), all four cosines per pair are
    * row-local codegen folds, and the single shuffle carries four
    * bounded TopKByKey heaps in one aggregation (≤ 1 row per query
    * per heap per partition; no window over candidates — lever (h)).
    * Float discipline: left-to-right double folds (VecExprs ==
    * list_reduce), round(,6) before ranking with doc-id tie-breaks
    * (lever (i)); output is IDs and booleans only — no derived-float
    * aggregate leaves the query. Reference analogue: the
    * word-item similarity app serves fixed-dim gensim vectors
    * (app/word_item_similarity/); truncated serving is the scale
    * path it never needed. */
  def dimTruncation(spark: SparkSession, dir: String): DataFrame = {
    def norms(v: Column, p: String): Seq[Column] =
      VecFns.norm(v).as(s"${p}f") +:
        TruncDims.map(t => VecFns.norm(slice(v, 1, t)).as(s"$p$t"))
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val emb = base.select(Seq(col("vec_id"), col("embedding")) ++
      norms(col("embedding"), "n"): _*)
    val q = base.filter(col("vec_id") < 10)
      .select(Seq(col("vec_id").as("query_id"), col("embedding").as("qv")) ++
        norms(col("embedding"), "qn"): _*)
    def cosT(t: Int): Column = round(VecFns.ratio(
      VecFns.dot(slice(col("embedding"), 1, t), slice(col("qv"), 1, t)),
      col(s"n$t") * col(s"qn$t")), 6)
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("vec_id"),
        round(VecFns.ratio(VecFns.dot(col("embedding"), col("qv")),
          col("nf") * col("qnf")), 6).as("cf")) ++
        TruncDims.map(t => cosT(t).as(s"c$t")): _*)
    val agg = scored.groupBy(col("query_id")).agg(
      graft.plans.TopKByKey.topK(1)(col("vec_id"), col("cf")).as("tf"),
      TruncDims.map(t =>
        graft.plans.TopKByKey.topK(1)(col("vec_id"), col(s"c$t")).as(s"t$t")): _*)
    agg.select(col("query_id"), col("tf").getItem(0).getField("id").as("full_top1"),
        explode(array(TruncDims.map(t => struct(
          lit(t.toLong).as("t"),
          col(s"t$t").getItem(0).getField("id").as("tt"))): _*)).as("e"))
      .select(col("e.t").as("t"), col("query_id"), col("full_top1"),
        col("e.tt").as("trunc_top1"),
        (col("e.tt") === col("full_top1")).as("agree"))
      .orderBy(col("t"), col("query_id"))
  }

  /** The q195 oracle, generated from [[TruncDims]] and q40's verified
    * cosine fragment parameterized by prefix length. */
  private[graft] def dimTruncationOracleSql: String = {
    def fold(side: String, vcol: String, other: String, ocol: String, t: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range($t), " +
        s"i -> CAST($side.$vcol[i+1] AS DOUBLE) * CAST($other.$ocol[i+1] AS DOUBLE))), " +
        "(acc, v) -> acc + v)"
    def cosSql(t: String) =
      s"round(${fold("e", "embedding", "q", "qv", t)} / " +
        s"(sqrt(${fold("e", "embedding", "e", "embedding", t)}) * " +
        s"sqrt(${fold("q", "qv", "q", "qv", t)})), 6)"
    val cosCols = (s"    ${cosSql("len(e.embedding)")} AS cf" +:
      TruncDims.map(t => s"    ${cosSql(t.toString)} AS c$t")).mkString(",\n")
    def rankCte(name: String, c: String) =
      s"$name AS (SELECT query_id, nid AS top1 FROM (SELECT query_id, nid, " +
        s"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY $c DESC, nid) AS rn FROM c) WHERE rn = 1)"
    val rankCtes = (rankCte("f", "cf") +:
      TruncDims.map(t => rankCte(s"t$t", s"c$t"))).mkString(",\n")
    val unions = TruncDims.map(t =>
      s"SELECT CAST($t AS BIGINT) AS t, f.query_id, f.top1 AS full_top1, " +
        s"t$t.top1 AS trunc_top1, t$t.top1 = f.top1 AS agree " +
        s"FROM f JOIN t$t USING (query_id)").mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 10),
       |c AS (
       |  SELECT q.query_id, e.vec_id AS nid,
       |$cosCols
       |  FROM e, q WHERE e.vec_id != q.query_id),
       |$rankCtes
       |SELECT * FROM (
       |$unions)
       |ORDER BY t, query_id""".stripMargin
  }
}
