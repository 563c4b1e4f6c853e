package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionRegistry.Artifact
import graft.Tables
import graft.functions.TextFns
import graft.plans.WordNGrams

/** Corpus-curation operator block — the training-data pipeline steps
  * downstream of cleaning (TextOps) and dedup (Dedup): benchmark
  * contamination detection, context-window chunking, deterministic
  * stratified sampling, n-gram LM quality scoring, and duplicate-
  * cluster representative selection. These extend the reference's
  * data-prep surface (redshells feeds cleaned/deduped text into its
  * training tasks, e.g. /root/reference/redshells/train/
  * train_dictionary.py) with the curation ops a modern LLM corpus
  * pipeline runs at 100 TB.
  *
  * Every op follows the block's scale rules: row-local array math
  * until the first aggregation, native codegen n-grams (WordNGrams),
  * map-side-combining two-level aggregations, broadcast only for
  * genuinely bounded tables (the eval-benchmark gram set, per-stratum
  * rate tables).
  */
object CorpusOps {

  private def toks = TextFns.tokens(col("text"))

  /** Library-surface pipeline parameters. The compile-time defaults
    * are the driver-contract values every registered query and oracle
    * pins (changing them changes oracle hashes — don't); a library
    * user composing the shared rules on their own corpus passes a
    * different config instead of editing constants.
    *
    * @param evalSource  source treated as the held-out benchmark for
    *   contamination checks. In production this is the eval-suite
    *   text, which is bounded (MBs, not TBs) — that bound is what
    *   justifies broadcasting its gram set.
    * @param contamN     contamination n-gram order.
    * @param batchResidue hash residue (of 10) marking the arriving
    *   batch in the incremental q86/q92/q96/q99 operators. */
  case class PipelineConfig(
      evalSource: String = "src0",
      contamN: Int = 5,
      batchResidue: Int = 3)
  object PipelineConfig { val default: PipelineConfig = PipelineConfig() }

  private[graft] val EvalSource = PipelineConfig.default.evalSource
  private[graft] val ContamN = PipelineConfig.default.contamN

  /** Benchmark contamination check (the n-gram-overlap decontamination
    * step every LLM corpus pipeline runs; cf. GPT-3 appendix C /
    * Gopher §A2): a training doc is contaminated if it shares any
    * word 5-gram with the eval set. Eval grams are DISTINCT and
    * bounded by eval-suite size, so they broadcast (unlike a corpus
    * table, this side cannot grow with the training data); the
    * training side stays a single codegen scan — per-doc distinct
    * grams via the native WordNGrams Expression, exploded once, left
    * semi-ish counted via a broadcast join. Per-source rollup only
    * shuffles |sources| rows. */
  /** The eval-suite's distinct word 5-grams — the bounded static side
    * of every contamination check (batch q76, doc-level q83, and the
    * ingest stream). */
  private[graft] def evalGrams(spark: SparkSession, dir: String,
      cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    Tables.documents(spark, dir).filter(col("source") === cfg.evalSource)
      .select(explode(WordNGrams(toks, cfg.contamN)).as("g")).distinct()

  /** Per-doc distinct 5-gram projection of a doc frame — the shared
    * train side of the contamination rule (works on batch frames AND
    * the streaming source: it is pure row-local codegen). */
  private[graft] def docGrams(docs: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    docs.filter(col("source") =!= cfg.evalSource)
      .select(col("doc_id"), col("source"),
        explode(WordNGrams(toks, cfg.contamN)).as("g"))

  /** THE contamination-hit rule, in one place: per-doc count of
    * distinct eval 5-grams. q76 rolls it up per source, q83 emits it
    * per doc, q85 folds it into the funnel, q106 subtracts it — all
    * oracles gate the same pipeline.
    *
    * DISK artifact per (session, corpus, cfg) — the round-6/lever-(kk)
    * discipline (opt r08): four oracle-gated consumers otherwise each
    * re-run the corpus gram-explode + broadcast join + rollup per
    * call; the hit table is hit-mass-bounded (docs with ≥1 eval
    * collision), not corpus-sized. */
  private[graft] def contamHits(spark: SparkSession, dir: String,
      cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    graft.SessionRegistry.artifact(spark, "contam_hits",
        (dir, cfg.evalSource, cfg.contamN))(
      docGrams(Tables.documents(spark, dir), cfg)
        .join(broadcast(evalGrams(spark, dir, cfg)), Seq("g"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_hit"))
        .write.parquet(_)).read()

  def contamination(spark: SparkSession, dir: String): DataFrame =
    contamination(spark, dir, PipelineConfig.default)

  def contamination(spark: SparkSession, dir: String,
      cfg: PipelineConfig): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(col("source") =!= cfg.evalSource)
    train.select(col("doc_id"), col("source"))
      .join(contamHits(spark, dir, cfg).drop("source"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_hit")).as("total_hits"),
        max(col("n_hit")).as("max_hits"))
      .orderBy(col("source"))
  }

  /** q173 fuzzy-contamination admission threshold: a train doc whose
    * best eval-doc Jaccard reaches this is flagged contaminated. */
  private[graft] val FuzzyTau = 0.5
  /** Hot-shingle df cap on the TRAIN posting side (q31's rule — the
    * eval side is suite-bounded and never capped). */
  private[graft] val FuzzyMaxDf = Dedup.defaultMaxDf

  /** q173: FUZZY eval-set contamination — the near-duplicate variant
    * of q76's exact n-gram rule (GPT-3 App. C / Dolma-style fuzzy
    * decontamination: a train doc is tainted if it is NEARLY a copy
    * of some eval doc, even when no exact 5-gram survives edits).
    * Verdict = best bipartite 3-shingle Jaccard between each train
    * doc and any eval-suite doc, with the argmax eval doc reported so
    * removal decisions can be audited per leaked example.
    *
    * Scale shape: one corpus scan → shingle explode (side marker
    * rides along) → ONE posting table per shingle holding BOTH sides'
    * id lists; only shingles present on both sides survive (a huge
    * prune — the eval suite's shingle space is suite-bounded, so the
    * bipartite index is eval-sized, not corpus-sized); the train side
    * is df-capped (q31's hot-posting rule). Cross-pair explosion is
    * |train df| × |eval df| per shingle — never a corpus self-join —
    * and everything past the explode moves (id, id) pairs only. Best
    * match per doc is ONE partial-aggregable max over the
    * (jaccard, −eval_id) struct — exact value pick on round(,6)
    * values, min eval id on ties, no window (lever (h)).
    * Oracle: q31's verified pair CTE restricted bipartite, τ and the
    * df cap interpolated from these constants. */
  def fuzzyContam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val shAll = docs
      .select(col("doc_id"), col("source"),
        TextFns.wordShingles(toks, 3).as("shingles"))
      .select(col("doc_id"), col("source"),
        size(col("shingles")).cast("long").as("n_sh"),
        explode(col("shingles")).as("sh"))
    // the 100 TB move: shingles that never occur in the eval suite
    // can't form a bipartite pair, so prune them BEFORE the posting
    // shuffle with a broadcast semi-join against the (suite-bounded)
    // eval shingle set — the exchange then carries eval-present
    // shingles only, not the corpus's whole shingle stream. Values
    // unchanged: the dropped shingles died at the both-sides filter.
    val evalSh = shAll.filter(col("source") === lit(EvalSource))
      .select(col("sh")).distinct()
    val sh = shAll.join(broadcast(evalSh), Seq("sh"), "left_semi")
    val postings = sh.groupBy(col("sh"))
      .agg(
        sort_array(collect_list(when(col("source") =!= lit(EvalSource),
          struct(col("doc_id").as("id"), col("n_sh").as("w"))))).as("tr"),
        sort_array(collect_list(when(col("source") === lit(EvalSource),
          struct(col("doc_id").as("id"), col("n_sh").as("w"))))).as("ev"))
      .filter(size(col("ev")) > 0 && size(col("tr")) > 0 &&
        size(col("tr")) <= FuzzyMaxDf)
    val pairs = postings
      .select(explode(col("tr")).as("t"), col("ev"))
      .select(col("t"), explode(col("ev")).as("e"))
      .groupBy(col("t.id").as("doc_id"), col("e.id").as("eval_doc_id"))
      .agg(count(lit(1)).as("inter"),
        first(col("t.w")).as("na"), first(col("e.w")).as("nb"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
    pairs
      .groupBy(col("doc_id"))
      .agg(max(struct(col("jaccard"), (-col("eval_doc_id")).as("neg"))).as("b"))
      .select(col("doc_id"), (-col("b.neg")).as("eval_doc_id"),
        col("b.jaccard").as("jaccard"),
        (col("b.jaccard") >= FuzzyTau).as("contaminated"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("eval_doc_id"),
        col("jaccard"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q214: EVAL-SIDE DECONTAMINATION — the flip side of q76: instead
    * of flagging TRAIN docs to drop, report which EVAL examples are
    * compromised by training-set overlap (GPT-3 Appendix C publishes
    * exactly this: per-benchmark "clean" subsets built by removing
    * eval examples that collide with the training corpus — when the
    * train side is too valuable to cut, you trim the benchmark
    * instead). Per eval doc: its distinct n-gram count, how many of
    * those grams occur in ANY train doc, how many distinct train
    * docs touch it (review-priority: one mirror page vs systemic
    * leakage), gram coverage, and the compromised verdict — the
    * clean-eval roster is the `NOT compromised` slice.
    *
    * Scale shape: the eval (doc, gram) pair table is suite-bounded
    * and BROADCASTS; the train side is the SHARED docGrams projection
    * (one corpus scan, row-local codegen n-grams) streamed past it —
    * the q76 join shape with the eval doc id carried. Both distinct
    * counts come from ONE aggregation over the HIT pair table (the
    * EXPAND doubles hit-sized rows, never corpus rows — the q135
    * concern doesn't apply at leak mass). Float discipline: coverage
    * divides exact longs (lever (c)); zero-gram eval docs short-
    * circuit by CASE (q94's rule). */
  def evalDecontam(spark: SparkSession, dir: String): DataFrame = {
    val cfg = PipelineConfig.default
    val docs = Tables.documents(spark, dir)
    val evalPairs = docs.filter(col("source") === cfg.evalSource)
      .select(col("doc_id").as("eval_doc_id"),
        explode(WordNGrams(toks, cfg.contamN)).as("g"))
    val hits = docGrams(docs, cfg)
      .join(broadcast(evalPairs), Seq("g"))
      .groupBy(col("eval_doc_id"))
      .agg(countDistinct(col("g")).as("n_hit_grams"),
        countDistinct(col("doc_id")).as("n_train_docs"))
    docs.filter(col("source") === cfg.evalSource)
      .select(col("doc_id").as("eval_doc_id"),
        size(WordNGrams(toks, cfg.contamN)).cast("long").as("n_grams"))
      .join(hits, Seq("eval_doc_id"), "left")
      .na.fill(0L, Seq("n_hit_grams", "n_train_docs"))
      .withColumn("coverage",
        when(col("n_grams") > 0L,
          col("n_hit_grams").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("compromised", col("n_hit_grams") > 0L)
      .orderBy(col("eval_doc_id"))
  }

  /** The q214 oracle — q76's verified gram fragment with the rollup
    * flipped to the eval side; coverage = raw IEEE quotient of exact
    * longs (lever (c)). */
  private[graft] def evalDecontamOracleSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, source,
      |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] || ' ' ||
      |    toks[CAST(i AS BIGINT)+2] || ' ' || toks[CAST(i AS BIGINT)+3] || ' ' ||
      |    toks[CAST(i AS BIGINT)+4] AS g
      |  FROM t, UNNEST(range(1, len(toks)-3)) AS u(i)),
      |ev AS (SELECT DISTINCT doc_id AS eval_doc_id, g FROM g WHERE source = '$EvalSource'),
      |tg AS (SELECT DISTINCT doc_id, g FROM g WHERE source <> '$EvalSource'),
      |p AS (SELECT ev.eval_doc_id, tg.doc_id, ev.g FROM tg JOIN ev ON tg.g = ev.g),
      |rep AS (
      |  SELECT eval_doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_hit_grams,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_train_docs
      |  FROM p GROUP BY 1),
      |ros AS (
      |  SELECT t.doc_id AS eval_doc_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_grams
      |  FROM t LEFT JOIN (SELECT doc_id, COUNT(DISTINCT g) AS n FROM g GROUP BY 1) c
      |    ON t.doc_id = c.doc_id
      |  WHERE t.source = '$EvalSource')
      |SELECT r.eval_doc_id, r.n_grams,
      |  CAST(COALESCE(rep.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
      |  CAST(COALESCE(rep.n_train_docs, 0) AS BIGINT) AS n_train_docs,
      |  CASE WHEN r.n_grams > 0
      |    THEN CAST(COALESCE(rep.n_hit_grams, 0) AS DOUBLE) / CAST(r.n_grams AS DOUBLE)
      |    ELSE 0.0 END AS coverage,
      |  COALESCE(rep.n_hit_grams, 0) > 0 AS compromised
      |FROM ros r LEFT JOIN rep ON r.eval_doc_id = rep.eval_doc_id
      |ORDER BY r.eval_doc_id""".stripMargin

  private[graft] val ChunkSize = 64

  /** Context-window chunking: split each doc into fixed-size token
    * windows (the packing step before tokenizer/loader handoff).
    * Chunk count and boundaries are row-local arithmetic on the token
    * array — the only explode is `sequence(0, n_chunks-1)`, linear in
    * OUTPUT size; each chunk row carries its token count and an md5
    * over the chunk text for downstream exact-dedup at chunk
    * granularity. No shuffle at all until a consumer aggregates. */
  def chunkPack(spark: SparkSession, dir: String): DataFrame =
    chunks(spark, dir)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"), col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The chunk frame shared by q77 (dump) and q81 (chunk-level
    * dedup) — still zero-shuffle; `source` rides along for rollups. */
  private def chunks(spark: SparkSession, dir: String): DataFrame = {
    val sz = lit(ChunkSize)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), toks.as("t"))
      .select(col("doc_id"), col("source"), col("t"), size(col("t")).as("n_tok"))
      .select(col("doc_id"), col("source"), col("t"), col("n_tok"),
        explode(sequence(lit(0L), (ceil(col("n_tok") / ChunkSize.toDouble) - 1).cast("long")))
          .as("chunk_idx"))
      .select(
        col("doc_id"),
        col("source"),
        col("chunk_idx"),
        least(sz, col("n_tok") - col("chunk_idx") * sz).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", slice(col("t"), (col("chunk_idx") * sz + 1).cast("int"), lit(ChunkSize))))
          .as("chunk_hash"))
  }

  /** q212 context-length grid. [[ChunkSize]] is the grid's floor so
    * the curve prices the SHIPPED setting against its alternatives
    * (CorpusOpsSpec reconciles that level against the q77 chunk
    * frame row-for-row). */
  private[graft] val PackGrid: Seq[Long] = Seq(64L, 128L, 256L, 512L)

  /** q212: PACKING-EFFICIENCY curve — the knob-pricing table for the
    * context length (the q204/q205/q206 move applied to q77's
    * ChunkSize): per (context_len, source), how many fixed-size
    * windows the corpus packs into and what fraction of the padded
    * token budget is real text. Training pipelines pay for PADDED
    * tokens (every window is context_len wide on the accelerator —
    * the last window of each doc pads out unless sequences are
    * concatenated), so efficiency = n_tokens / (n_chunks ·
    * context_len) is the utilization a max_len choice buys; the
    * reference's fixed-window packing has exactly this hidden cost
    * knob (redshells feeds gensim fixed-length batches,
    * train/utils/token_iterator.py).
    *
    * Scale shape (lever (gg) degenerate case): the whole grid costs
    * ONE corpus scan — per-doc token count is one row-local int, each
    * level's chunk count is integer arithmetic ((n_tok + L−1) div L)
    * on that int inside the SAME |sources|-row wide aggregation, and
    * the grid explode runs over the AGGREGATED table (|sources| rows
    * → |grid|·|sources|). Float discipline: efficiency is ONE IEEE
    * division of exact longs (lever (c)) — no rounding step needed;
    * all other columns are exact integer arithmetic. */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val aggs =
      Seq(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens")) ++
      PackGrid.map(l =>
        sum(expr(s"(n_tok + ${l - 1}) div $l")).cast("long").as(s"c$l"))
    val per = Tables.documents(spark, dir)
      .select(col("source"), TextFns.tokenCount(col("text")).as("n_tok"))
      .groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
    per
      .select(col("source"), col("n_docs"), col("n_tokens"),
        explode(array(PackGrid.map(l =>
          struct(lit(l).as("context_len"), col(s"c$l").as("n_chunks"))): _*))
          .as("lv"))
      .select(col("lv.context_len").as("context_len"), col("source"),
        col("n_docs"), col("n_tokens"), col("lv.n_chunks").as("n_chunks"),
        (col("lv.n_chunks") * col("lv.context_len")).as("padded_tokens"))
      .withColumn("waste_tokens", col("padded_tokens") - col("n_tokens"))
      .withColumn("efficiency",
        col("n_tokens").cast("double") / col("padded_tokens").cast("double"))
      .orderBy(col("context_len"), col("source"))
  }

  /** The q212 oracle, GENERATED from [[PackGrid]] (lever (a)): the
    * per-level chunk counts as integer `//` sums in the same one
    * per-source aggregation, the grid as a generated UNION over the
    * aggregated table; efficiency = the raw IEEE quotient of exact
    * longs (lever (c)). */
  private[graft] def packEfficiencyOracleSql: String = {
    val sums = PackGrid.map(l =>
      s"CAST(SUM((n_tok + ${l - 1}) // $l) AS BIGINT) AS c$l")
      .mkString(",\n      |    ")
    val union = PackGrid.map(l =>
      s"SELECT CAST($l AS BIGINT) AS context_len, source, n_docs, n_tokens, c$l AS n_chunks FROM per")
      .mkString("\nUNION ALL\n")
    s"""WITH d AS (
      |  SELECT source,
      |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |per AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |    $sums
      |  FROM d GROUP BY source),
      |g AS (
      |$union)
      |SELECT context_len, source, n_docs, n_tokens, n_chunks,
      |  n_chunks * context_len AS padded_tokens,
      |  n_chunks * context_len - n_tokens AS waste_tokens,
      |  CAST(n_tokens AS DOUBLE) / CAST(n_chunks * context_len AS DOUBLE) AS efficiency
      |FROM g ORDER BY context_len, source""".stripMargin
  }

  /** q175 anchor rule: a token whose poly-31 hash ≡ [[CdcRem]]
    * (mod [[CdcMod]]) closes the current chunk → expected chunk
    * length = CdcMod tokens. */
  private[graft] val CdcMod = 16L
  private[graft] val CdcRem = 7L

  /** THE generated CDC chunk CTE chain (tok → anchor → chunk index →
    * chunk fp), in one producer — the q175/q176/q180 oracles all
    * interpolate this fragment, so the SQL mirror of the kernel
    * exists exactly once (shared-rule discipline, lever (a)).
    * `src` must expose (doc_id, $textExpr); emits `${p}ch` with
    * (doc_id, chunk_idx, n_tok, fp). */
  private[graft] def cdcChunkCteSql(src: String, textExpr: String,
      p: String): String = {
    val mod = graft.plans.RollingHash.Mod
    // nfc_normalize mirrors TextFns.tokens' NFC front (identity on
    // ASCII; OracleDisciplineSpec pairs every split with it)
    val split = "string_split_regex(trim(nfc_normalize(" + textExpr + ")), '\\s+')"
    s"""${p}tok AS (
       |  SELECT doc_id, unnest($split) AS tok,
       |         generate_subscripts($split, 1) AS pos
       |  FROM $src),
       |${p}a AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN list_reduce(
       |        list_prepend(CAST(0 AS BIGINT),
       |          list_transform(list_filter(string_split(tok, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))),
       |        (acc, c) -> (acc * 31 + c) % $mod)
       |      % $CdcMod = $CdcRem THEN 1 ELSE 0 END AS anchor
       |  FROM ${p}tok),
       |${p}cidx AS (
       |  SELECT doc_id, pos, tok,
       |    SUM(anchor) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - anchor AS chunk_idx
       |  FROM ${p}a),
       |${p}ch AS (
       |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |    CAST(COUNT(*) AS BIGINT) AS n_tok,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(list_filter(string_split(string_agg(tok, ' ' ORDER BY pos), ''), fc -> fc != ''),
       |          c -> CAST(ord(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % $mod) AS fp
       |  FROM ${p}cidx GROUP BY doc_id, chunk_idx)""".stripMargin
  }

  /** q175: CONTENT-DEFINED chunking + chunk-level dedup — the
    * edit-robust complement to q81's fixed windows. Fixed-window
    * chunking loses every downstream window after one inserted
    * token; CDC boundaries are decided by token content (anchor
    * tokens), so an edit perturbs only the chunks touching it and
    * every later boundary re-synchronizes — shared passages keep
    * identical fingerprints across edited copies (spec-asserted).
    * Scale shape: the whole segmentation (anchor test + running
    * chunk poly-31 fingerprint) is ONE codegen kernel per doc row
    * ([[graft.plans.CdcChunks]]) — zero shuffle before the
    * fingerprint groupBy, which moves (fp, ids) only; keep-first
    * rule is q30's min-struct pick. Oracle: anchors + running chunk
    * index as exact-integer window sums, chunk fp via the verified
    * q26 poly-31 fragment over the space-rejoined chunk text,
    * constants interpolated. */
  /** THE content-defined chunk frame, in one def — q175, both sides
    * of q176, and the chunk-at-ingest stream twin all derive from it
    * (shared-rule discipline: copies WILL drift). Pure row-local
    * codegen, so it runs unchanged on streaming frames. */
  private[graft] def cdcChunkFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.plans.CdcChunks(toks, CdcMod, CdcRem)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.n_tok").as("n_tok"), col("c.fp").as("fp"))

  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    // one fp exchange, shared by the copies agg and the join back
    val ch = cdcChunkFrame(Tables.documents(spark, dir)).repartition(col("fp"))
    val copies = ch.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    ch.join(copies, Seq("fp"))
      .withColumn("kept",
        struct(col("doc_id"), col("chunk_idx")) === col("keeper"))
      .select(col("doc_id"), col("chunk_idx"), col("n_tok"), col("fp"),
        col("n_copies"), col("kept"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** q176: INCREMENTAL CDC dedup — the ingest-time form of q175
    * (q86's delta discipline for the chunk family): an arriving
    * batch's content-defined chunks are deduped against the STORE's
    * chunk-fingerprint set, never by re-chunking the whole corpus.
    * Each batch chunk gets a decision: `dup_store` (fp already in
    * the store), `dup_batch` (first seen earlier IN this batch —
    * q30's min-struct keeper rule), else `new`; the per-doc rollup
    * (chunks by decision + net-new token volume) is the ingest
    * accounting a dedup-aware writer needs. This is the borg/restic
    * write path at corpus scale: CDC boundaries mean an edited
    * re-crawl of a stored doc contributes ONLY its edited chunks as
    * new bytes. Scale shape: both sides are the row-local kernel;
    * the store side collapses to DISTINCT fps before the fp-keyed
    * equi-join (ids never fan out); batch-side keeper is a
    * partial-agg struct min; everything after the kernel moves
    * (fp, ids) only. */
  def incrementalCdc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBatch = batchPredicate()
    val storeFps = cdcChunkFrame(docs.filter(!isBatch))
      .select(col("fp")).distinct().withColumn("in_store", lit(true))
    val batchCh = cdcChunkFrame(docs.filter(isBatch))
    val keepers = batchCh.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    batchCh
      .join(keepers, Seq("fp"))
      .join(storeFps, Seq("fp"), "left")
      .withColumn("decision",
        when(col("in_store"), lit("dup_store"))
          .when(struct(col("doc_id"), col("chunk_idx")) =!= col("keeper"),
            lit("dup_batch"))
          .otherwise(lit("new")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("decision") === "dup_store", 1L).otherwise(0L))
          .as("n_store_dup"),
        sum(when(col("decision") === "dup_batch", 1L).otherwise(0L))
          .as("n_batch_dup"),
        sum(when(col("decision") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("decision") === "new", col("n_tok")).otherwise(0L))
          .as("new_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q181: ERASURE PROPAGATION to the derived chunk index — GDPR
    * Art. 17 reaches DERIVED artifacts, not just the store: after
    * q174 erases documents, every chunk-index row of a forgotten doc
    * must go, and the dedup substrate changes shape — a fingerprint
    * whose only copies lived in forgotten docs VANISHES, and a
    * fingerprint whose keep-first KEEPER was forgotten must
    * RE-ELECT its keeper among survivors (the subtle maintenance
    * case a naive "delete the rows" job misses: downstream
    * keep-decisions pinned to the old keeper are now dangling).
    * Per-source audit: chunks/tokens dropped, fps vanished, keepers
    * re-elected — attributed to the OLD keeper's source. Scale
    * shape: one kernel pass + an id-keyed slim source join; the fp
    * rollup moves (fp, ids) only; the report is |sources|-bounded.
    * Oracle: the shared generated chunk CTE + the interpolated
    * forget rule; keeper = min struct, forgotten-ness re-derived
    * row-locally. */
  def indexForget(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Sources.{ForgetMod, ForgetRem}
    val fg = col("doc_id") % ForgetMod === ForgetRem
    val ch = cdcChunkFrame(Tables.documents(spark, dir))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .withColumn("fg", fg)
      // one fp exchange, shared by the fp agg and the drop rollup
      .repartition(col("fp"))
    val dropped = ch.filter(col("fg"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("chunks_dropped"),
        sum(col("n_tok")).as("tokens_dropped"))
    val perFp = ch.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"), col("source")))
          .as("ok"),
        count(lit(1)).as("n_total"),
        sum(when(col("fg"), 1L).otherwise(0L)).as("n_fg"))
      .filter(col("ok.doc_id") % ForgetMod === ForgetRem)
    val cls = perFp
      .select(col("ok.source").as("source"),
        when(col("n_fg") === col("n_total"), 1L).otherwise(0L).as("vanished"),
        when(col("n_fg") < col("n_total"), 1L).otherwise(0L).as("reelected"))
      .groupBy(col("source"))
      .agg(sum(col("vanished")).as("fps_vanished"),
        sum(col("reelected")).as("keepers_reelected"))
    dropped.join(cls, Seq("source"), "full_outer")
      .na.fill(0L, Seq("chunks_dropped", "tokens_dropped",
        "fps_vanished", "keepers_reelected"))
      .select(col("source"), col("chunks_dropped"), col("tokens_dropped"),
        col("fps_vanished"), col("keepers_reelected"))
      .orderBy(col("source"))
  }

  /** Chunk-level exact dedup: near-dup DOCS often share exact
    * 64-token windows even when doc-level hashes differ — dedup at
    * chunk granularity catches boilerplate and quoted passages
    * doc-level dedup can't. Same shuffle discipline as q30: only
    * (hash, id) pairs move, never chunk text; the digest groupBy
    * combines map-side. Keep-rule: first copy in (doc_id, chunk_idx)
    * order survives. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    // one chunk_hash exchange, shared by the copies agg and the join
    // back: the corpus text is scanned and chunk-hashed once
    val ch = chunks(spark, dir)
      .select(col("doc_id"), col("source"), col("chunk_idx"), col("chunk_hash"))
      .repartition(col("chunk_hash"))
    val copies = ch.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    ch.join(copies, Seq("chunk_hash"))
      .withColumn("kept",
        col("doc_id") === col("keeper.doc_id") &&
          col("chunk_idx") === col("keeper.chunk_idx"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_in_dup_groups"),
        max(col("n_copies")).as("max_copies"))
      .orderBy(col("source"))
  }

  private[graft] val WinSize = 32
  private[graft] val WinStride = 8

  /** Duplicated-span detection (the exact-SUBSTRING dedup axis of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"): overlapping token windows (32 tokens, stride
    * 8) are hashed; a window whose hash occurs in >1 document is a
    * duplicated span. Reported per source: the share of duplicated
    * windows and how many docs are mostly-duplicate (>50% of their
    * windows shared). Linear in corpus tokens (windows/doc =
    * n_tok/stride); the window groupBy shuffles (hash, count)
    * partials only — map-side combined, never window text (the md5
    * digest stands in for the window). Catches copied passages
    * INSIDE otherwise-distinct docs, which doc- and chunk-level
    * dedup both miss. */
  /** THE overlapping-window digest grid (32 tokens, stride 8; tail
    * windows clip), one def — q84's dup-span detection and q185's
    * cross-source overlap both consume exactly these rows (and both
    * oracles the generated [[windowCteSql]] fragment). */
  private[graft] def windowDigests(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), toks.as("t"))
      .select(col("doc_id"), col("source"), col("t"),
        explode(sequence(lit(0L),
          greatest(ceil((size(col("t")) - WinSize) / WinStride.toDouble), lit(0L))
            .cast("long"))).as("wi"))
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ",
          slice(col("t"), (col("wi") * WinStride + 1).cast("int"), lit(WinSize))))
          .as("wh"))

  /** The window grid's oracle fragment (CTE blocks `t`, `w`),
    * GENERATED from [[WinSize]]/[[WinStride]] so the two engines
    * cannot drift (lever (a)). */
  private[graft] def windowCteSql: String =
    s"""t AS (
      |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
      |w AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(toks[CAST(wi*$WinStride+1 AS BIGINT):CAST(wi*$WinStride+$WinSize AS BIGINT)], ' ')) AS wh
      |  FROM t, UNNEST(range(0, CAST(greatest(ceil((len(toks)-$WinSize)/$WinStride.0), 0) AS BIGINT)+1)) AS u(wi))""".stripMargin

  def windowDedup(spark: SparkSession, dir: String): DataFrame = {
    // one wh exchange, shared by the shared-hash agg and the join
    val wins = windowDigests(spark, dir).repartition(col("wh"))
    val shared = wins.groupBy(col("wh"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
    val perDoc = wins.join(shared, Seq("wh"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_win"),
        sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_bps",
        round(col("n_dup") * lit(10000.0) / col("n_win"), 0).cast("long"))
    perDoc.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_win")).as("n_windows"),
        sum(col("n_dup")).as("n_dup_windows"),
        sum(when(col("dup_bps") > 5000, 1L).otherwise(0L)).as("n_mostly_dup"))
      .orderBy(col("source"))
  }

  private[graft] val PackBudget = 2048L

  /** Token-budget bin packing (the loader-handoff step that
    * concatenates docs into fixed context windows): docs are packed
    * in deterministic (doc_id) order per SOURCE; a doc's bin is
    * floor(exclusive-running-token-sum / budget) — the streaming-
    * concatenation packing LLM loaders use (docs may straddle a bin
    * boundary; the budget governs where cuts land). The window is
    * PARTITIONED BY source, so packing parallelizes across sources
    * at any scale — there is no global sequential pass. */
  def packBins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextFns.tokenCount(col("text")).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin_id", floor((col("cum") - col("n_tok")) / PackBudget))
    binned.groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
      .orderBy(col("source"), col("bin_id"))
  }

  private[graft] val SampleHashC = 2654435761L
  private[graft] val SampleHashP = 1000000007L

  /** THE engine-reproducible multiplicative sampling hash, one def:
    * the key reduces mod p BEFORE the multiply (q157's overflow
    * rule — Spark silently wraps past 2^63 while DuckDB raises a
    * BIGINT range error, so an unreduced key·C diverges once ids
    * reach ~3.5e9 — i.e. at 100 TB). (p−1)·C ≈ 2.65e18 < 2^63;
    * values unchanged for ids < p. */
  private[graft] def sampleHash(key: Column): Column =
    pmod(pmod(key, lit(SampleHashP)) * SampleHashC, lit(SampleHashP))

  /** Deterministic stratified down-sampling to a balanced language
    * mix. Two phases, both scale-flat: (1) a tiny per-lang count
    * aggregate fixes the target (the smallest stratum) and each
    * stratum's keep-rate; (2) a pure MAP-SIDE filter keeps a doc iff
    * its multiplicative hash falls under the stratum's rate — no
    * global sort, no per-stratum window, so the corpus is never
    * shuffled (the alternative exact-quota row_number ranks every doc
    * per stratum = a corpus-wide sort at 100 TB). The hash is seeded
    * arithmetic on doc_id, so the sample is reproducible across
    * engines and runs; kept counts concentrate at rate·n per stratum
    * without being exact quotas. */
  def sampleBalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
    val target = counts.agg(min(col("n_before")).as("target"))
    val rates = counts.crossJoin(broadcast(target))
    val pr = sampleHash(col("doc_id"))
    docs.select(col("doc_id"), col("lang"), pr.as("pr"))
      .join(broadcast(rates), Seq("lang"))
      .withColumn("keep", col("pr") % col("n_before") < col("target"))
      .groupBy(col("lang"))
      .agg(
        first(col("n_before")).as("n_before"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
      .orderBy(col("lang"))
  }

  /** q128: deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis 2006 priority sampling): per source, the k
    * docs with the smallest priority −ln(u)/w, where w = n_chars
    * (longer docs proportionally likelier) and u ∈ (0,1) is the
    * doc's uniform from q78's SampleHash family (shared constants) —
    * the reference's seeded `df.sample` made engine-reproducible and
    * weight-aware. Scale shape: priorities are row-local arithmetic;
    * selection is the bounded-heap TopKByKey aggregate — map-side
    * partial top-k, at most k rows per (partition × source) cross
    * the shuffle, and NOTHING is ever sorted per source (the
    * window-rank formulation the oracle states would sort every doc
    * per source at 100 TB; plan-asserted window-free). Float
    * discipline: u is the same exact rational in both engines
    * (literal 1000000008.0 divisor); ln()'s 1-ulp cross-engine risk
    * is absorbed by round(,12) BEFORE ranking; ties break on doc_id
    * (round-before-rank rule). */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val pr = sampleHash(col("doc_id"))
    val u = (pr.cast("double") + lit(1.0)) / lit(1000000008.0)
    val prio = round(-log(u) / col("n_chars").cast("double"), 12)
    Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("source"), prio.as("prio"))
      .groupBy(col("source"))
      // score = −prio: TopKAgg keeps score desc = prio asc, tie id asc
      .agg(graft.plans.TopKByKey.topK(k)(col("doc_id"), -col("prio")).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"),
        (col("pos") + 1).cast("long").as("smp_rank"),
        col("col.id").as("doc_id"),
        (-col("col.score")).as("prio"))
      .orderBy(col("source"), col("smp_rank"))
  }

  /** Bigram-LM quality scoring (the CCNet-style "perplexity under a
    * corpus LM" quality axis, reduced to an add-one-smoothed bigram
    * model the corpus itself defines): per-doc mean negative log2
    * probability of its bigrams, rolled up per source. The corpus
    * shuffles twice on small keys (bigram counts, first-token
    * counts); the model tables are vocab²-bounded and broadcast back
    * against the doc bigram stream. Float discipline: per-bigram nll
    * is rounded then summed as DECIMAL so the per-doc and per-source
    * means are order-independent (CLAUDE.md oracle-parity rules). */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    docNll(spark, dir).groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        // source-level sums GROW with the corpus, so re-scale to
        // DECIMAL(18,6) before the double cast (q104's rule — DuckDB's
        // wide DECIMAL(38,6)→DOUBLE can land 1 ulp off nearest) and
        // emit the RAW quotient of exact operands (levers (c)/(k); a
        // round(,4) would add the half-boundary split risk for free)
        (sum(col("doc_nll")).cast("decimal(18,6)").cast("double") /
          count(lit(1)).cast("double")).as("avg_nll"),
        round(max(col("doc_nll")).cast("double"), 4).as("max_nll"))
      .orderBy(col("source"))

  /** THE per-doc bigram-LM score, in one place — q79 rolls it up per
    * source, q95 ranks it into CCNet buckets; both oracles gate this
    * same frame (shared-rule discipline). The degenerate model ==
    * score case of [[bigramModelNll]]: every gram is in the model, so
    * the OOV smoothing never fires and the q79/q95 inner-join oracles
    * stay value-exact. */
  /** Per-(session, corpus) doc-NLL DISK artifact registry (the
    * round-6 disk-artifact rule): FOUR oracle-gated queries consume
    * the same per-doc LM score (q79's rollup, q95/q178's buckets,
    * q215's labels, q217's audit), and each re-derived the whole
    * bigram pyramid per call once a clearCache() dropped it.
    * The artifact is the slim (doc_id, source, doc_nll) projection —
    * |docs| rows × 3 columns, the q91 corpus-parquet precedent; a
    * re-read is scan-cheap and survives cache clears. In kind this
    * is the reference's gokart task artifact for the trained LM's
    * scores. */
  private[graft] def docNll(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "docnll", dir) { p =>
      val docs = Tables.documents(spark, dir)
      bigramModelNll(docs, docs).write.parquet(p)
    }.read()

  /** The add-one bigram LM's model tables (c2 bigram counts, c1
    * first-token counts, 1-row vocab size) — THE model definition,
    * consumed by batch scoring ([[bigramModelNll]]) and the ingest
    * stream (StreamOps.ccnetNllStream). All bounded by observed-
    * bigram count → broadcast. */
  private[graft] def bigramModel(model: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val mg = model.select(explode(WordNGrams(toks, 2, distinct = false)).as("g"))
    // c1 folds out of c2 (opt r08): c1's count of first tokens over
    // the raw gram stream == Σ c2 grouped by the bigram's first token
    // (exact longs), so one plan reading both tables shares c2's gram
    // exchange and runs ONE gram-explode pass. Both tables stay
    // observed-bigram-bounded.
    val c2 = mg.groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val c1 = c2
      .select(substring_index(col("g"), " ", 1).as("w1"), col("c2"))
      .groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = model.select(explode(toks).as("w")).agg(countDistinct(col("w")).as("v"))
    (c2, c1, vocab)
  }

  /** Add-one-smoothed bigram-LM scoring of `score` docs under the
    * model the `model` docs define. Grams unseen by the model get
    * the smoothed floor ((0+1)/(0+v)) via left joins — the OOV path
    * that makes the model usable on docs OUTSIDE its training set
    * (q96 admission scoring; the ingest stream shares the same
    * left-join shape statelessly). Float discipline: per-gram nll
    * rounded then summed as DECIMAL (order-independent). */
  private[graft] def bigramModelNll(model: DataFrame, score: DataFrame): DataFrame =
    scoreUnderModel(bigramModel(model), score)

  /** Scoring against ALREADY-BUILT model tables — q96 builds the
    * store model once and threads it into both the threshold pass
    * and the batch scoring pass. */
  private[graft] def scoreUnderModel(
      model: (DataFrame, DataFrame, DataFrame), score: DataFrame): DataFrame = {
    val (c2, c1, vocab) = model
    val sg = score.select(col("doc_id"), col("source"),
      explode(WordNGrams(toks, 2, distinct = false)).as("g"))
    sg
      .join(broadcast(c2), Seq("g"), "left")
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(broadcast(c1), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("nll",
        round(-log2((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v"))), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"), col("source"))
      .agg(round(sum(col("nll")).cast("double") / count(lit(1)), 6)
        .cast("decimal(18,6)").as("doc_nll"))
  }

  /** THE FLAGSHIP COMPOSITION: the full training-corpus curation
    * funnel as one declarative plan — every stage is the exact rule
    * of its standalone query, so the funnel is DuckDB-oracle-gated
    * end to end. Stages, in pipeline order, counted per source over
    * the training split (eval source excluded):
    *
    *   raw → dedup (q30's corpus-wide exact keep-first rule AND not
    *   a non-representative member of a q35 near-dup cluster, rep =
    *   q80's keep-best rule) → quality (q72's four Gopher rules) →
    *   clean (q76: zero eval 5-gram hits) → sampled (q78's
    *   multiplicative-hash rate rule, rates computed over the CLEAN
    *   set) → chunks (q77's 64-token grid over the sampled set).
    *
    *   Scale shape: one slim per-doc flag frame, materialized as a
    *   DISK artifact per (session, corpus) — it has THREE consumers
    *   (q85's rollup, q91's sink, q109's append bootstrap), so an
    *   in-memory persist would be silently dropped by a caller's
    *   clearCache() and every consumer would re-derive
    *   the full dedup/cluster/contamination pyramid (the round-6
    *   lever, CLAUDE.md); the dedup/cluster/contamination inputs are
    *   the same bounded artifacts the standalone queries use (digest
    *   groups, dup-rate-bounded cluster table, broadcast eval
    *   grams). */
  private[graft] def funnelFlags(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "flags", dir)(
      writeFlagsArtifact(spark, dir, _)).read()

  private def writeFlagsArtifact(spark: SparkSession, dir: String, out: String): Unit = {
    val docsAll = Tables.documents(spark, dir)
    // corpus-wide exact-dup keepers (q30's rule)
    val hashed = docsAll.select(col("doc_id"), md5(Dedup.normText).as("h"))
    val exactKeep = hashed
      .join(hashed.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id")), Seq("h"))
      .select(col("doc_id"), (col("doc_id") === col("keep_id")).as("exact_keep"))
    // near-dup cluster members that are NOT the keep-best rep
    val members = Dedup.clusters(spark, dir)
      .select(explode(split(col("members"), ",").cast("array<long>")).as("doc_id"))
    val ndDrop = members
      .join(clusterBest(spark, dir).select(col("rep_doc_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .withColumn("nd_drop", lit(true))
    // per-doc eval-gram hits (the shared q76/q83 rule)
    val hits = contamHits(spark, dir).select(col("doc_id"), col("n_hit"))
    // row-local quality signals + rules — SHARED with q72 (TextOps)
    val signals = docsAll.filter(col("source") =!= EvalSource)
      .select(Seq(col("doc_id"), col("source"), col("lang")) ++
        TextOps.gopherSignalCols: _*)
    val base = signals
      .select(Seq(col("doc_id"), col("source"), col("lang"), col("n_words")) ++
        TextOps.gopherRuleCols: _*)
      .join(exactKeep, Seq("doc_id"))
      .join(ndDrop, Seq("doc_id"), "left").na.fill(false, Seq("nd_drop"))
      .join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("n_hit"))
      .withColumn("dedup_keep", col("exact_keep") && !col("nd_drop"))
      .withColumn("quality", col("dedup_keep") && TextOps.gopherPass)
      .withColumn("clean", col("quality") && col("n_hit") === 0)
      .withColumn("pr", sampleHash(col("doc_id")))
    // base feeds the rates agg AND the write below
    graft.SessionRegistry.withPersisted(base) { base =>
      val rates = base.filter(col("clean"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_cnt"))
      val target = rates.agg(min(col("n_cnt")).as("target"))
      base
        .join(broadcast(rates.crossJoin(broadcast(target))), Seq("lang"), "left")
        .withColumn("sampled",
          col("clean") && col("pr") % col("n_cnt") < col("target"))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** The funnel report (q85): per-source stage counts over the
    * per-doc flag frame. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelFlags(spark, dir).groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("dedup_keep"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("sampled"),
          ceil(col("n_words") / ChunkSize.toDouble).cast("long")).otherwise(0L))
          .as("n_chunks"))
      .orderBy(col("source"))

  /** The funnel as a PIPELINE RUN, not just a report: the sampled
    * (curated) docs are WRITTEN to parquet partitioned by source —
    * the handoff layout a loader consumes (and prunes by source) —
    * then the registered result is read back FROM THE SINK. The
    * oracle is the funnel CTE restricted to surviving sources, so
    * write+read fidelity is hash-checked against the same SQL that
    * gates q85. Write-once per (session, corpus); partitioned by
    * source so a per-source consumer touches one directory. */
  def curatedSink(spark: SparkSession, dir: String): DataFrame =
    readCurated(graft.SessionRegistry.artifact(spark, "curated", dir)(
      graft.Tables.writePartitionedKeepSchema(funnelFlags(spark, dir)
        .filter(col("sampled"))
        .select(col("doc_id"), col("lang"), col("n_words"), col("source")),
        "overwrite", "source", "__schema__", _)))

  /** q111: TEMPERATURE-BASED SOURCE MIXING — the data-mix planning
    * step of an LLM pretrain pipeline (the τ-weighted source
    * sampling of XLM-R/mT5-style mixes): per-source token counts →
    * τ=2 weights w_s ∝ tokens^(1/τ) → token targets against a
    * pinned budget → per-source sampling rates. One corpus scan +
    * one |sources|-row aggregation; the Σ over sources goes through
    * DECIMAL (associative) so the weight denominator is
    * partition-order-independent, and each derived float is rounded
    * before it feeds the next step so both engines walk the same
    * IEEE values (oracle-exact). */
  def mixWeights(spark: SparkSession, dir: String): DataFrame =
    mixWeights(spark, dir, budget = 100000L)

  def mixWeights(spark: SparkSession, dir: String, budget: Long): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col("text"))).as("n_tokens"))
      .withColumn("sq",
        sqrt(col("n_tokens").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    // Σ of DECIMAL(18,6) widens (Spark DECIMAL(28,6), DuckDB (38,6));
    // re-scale to DECIMAL(18,6) BEFORE the double cast in both
    // engines — DuckDB's wide-decimal→double cast can be one ulp off
    // nearest (the q104 hazard; CLAUDE.md float-parity rules).
    // The denominator is a WINDOW over the |sources|-bounded table
    // (lever (g); opt r09) — the old agg + crossJoin consumed `per`
    // twice, re-running the corpus tokenCount scan for every mix
    // consumer (q111/q112/q117/q213/q217: 2 corpus scans → 1); the
    // single-partition window sees |sources| rows.
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    per
      .withColumn("tot", sum(col("sq")).over(all)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .withColumn("weight",
        round(col("sq").cast("double") / col("tot").cast("double"), 6))
      .withColumn("token_target",
        floor(lit(budget) * col("weight")).cast("long"))
      .withColumn("rate",
        round(least(lit(1.0),
          col("token_target").cast("double") / col("n_tokens")), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("weight"), col("token_target"), col("rate"))
      .orderBy(col("source"))
  }

  /** Partition-sizing constants (POWERS OF TWO on purpose: dividing
    * an exact integer-valued double by 2^k is exact, so the ceil-div
    * is bit-identical cross-engine with no integer-div operator
    * gymnastics): Spark's own defaults — 128 MiB scan splits
    * (spark.sql.files.maxPartitionBytes), 64 MiB shuffle-partition
    * target. */
  private[graft] val ScanPartBytes = 128L << 20
  private[graft] val ShufflePartBytes = 64L << 20

  /** q236: PARTITION PLAN — the cluster-sizing card a 100 TB run
    * publishes before it launches: per source (and the `_all` rollup
    * row) the byte/token mass, the scan partition count at the
    * 128 MiB split target, and the shuffle-partition count a
    * same-sized shuffle should set (the spark.sql.shuffle.partitions
    * input — sizing partitions to fit executor memory is the
    * SURVEY §5 spill rule, and this is the table that rule reads).
    *
    * Scale shape: ONE corpus scan into a ROLLUP agg (q104's shape);
    * everything after is row-local integer arithmetic on the
    * |sources|+1 rollup. Ceil-divs via floor of an exact
    * power-of-two division (see constants); avg_doc_bytes = one IEEE
    * division (lever (c)). */
  def partitionPlan(spark: SparkSession, dir: String): DataFrame = {
    def ceilDiv(c: org.apache.spark.sql.Column, p: Long) =
      greatest(lit(1L),
        floor((c + lit(p - 1)).cast("double") / lit(p.toDouble)).cast("long"))
    Tables.documents(spark, dir)
      .select(col("source"),
        octet_length(col("text")).cast("long").as("b"),
        graft.functions.TextFns.tokenCount(col("text")).as("t"))
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("b")).as("n_bytes"),
        sum(col("t")).as("n_tokens"))
      .select(coalesce(col("source"), lit("_all")).as("source"),
        col("n_docs"), col("n_bytes"), col("n_tokens"))
      .withColumn("scan_partitions", ceilDiv(col("n_bytes"), ScanPartBytes))
      .withColumn("shuffle_partitions", ceilDiv(col("n_bytes"), ShufflePartBytes))
      .withColumn("avg_doc_bytes",
        col("n_bytes").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))
  }

  /** The q236 oracle — the same rollup + integer ceil-divs from the
    * SAME constants. */
  private[graft] def partitionPlanOracleSql: String =
    s"""WITH per AS (
       |  SELECT COALESCE(source, '_all') AS source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
       |    CAST(SUM(len(string_split_regex(trim(nfc_normalize(text)), '\\s+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY ROLLUP(source))
       |SELECT source, n_docs, n_bytes, n_tokens,
       |  GREATEST(CAST(1 AS BIGINT), CAST((n_bytes + ${ScanPartBytes - 1}) // $ScanPartBytes AS BIGINT)) AS scan_partitions,
       |  GREATEST(CAST(1 AS BIGINT), CAST((n_bytes + ${ShufflePartBytes - 1}) // $ShufflePartBytes AS BIGINT)) AS shuffle_partitions,
       |  CAST(n_bytes AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_doc_bytes
       |FROM per ORDER BY source""".stripMargin

  /** q233: TEMPERATURE-SAMPLED source mix — the α-sweep price table
    * for multinomial temperature sampling, weight_s ∝ n_tokens_s^α
    * (Conneau & Lample 2019 §3.1; XLM-R/mT5 ship exactly this table
    * when picking α): per (source, α ∈ {0.25, 0.5, 0.75, 1.0}) the
    * normalized weight, token target under the shared budget, and
    * effective epochs (>1 ⇒ the source is UPSAMPLED — the
    * low-resource repetition cost the knob trades against diversity).
    * q111's fixed sqrt plan is the α = 0.5 row of this table.
    *
    * Cross-engine exactness with NO libm and NO rounding bridges:
    * the α grid is chosen so every power is composed from IEEE
    * correctly-rounded ops (lever (x)) — x^0.25 = sqrt(sqrt(x)),
    * x^0.5 = sqrt(x), x^0.75 = sqrt(x)·sqrt(sqrt(x)) (one multiply
    * of two exact values), x^1 = x — on int64→double casts, so both
    * engines hold bit-identical raw weights. The cross-source sum
    * then goes through lever (w)'s portable quantizer
    * (floor(w·10⁴ + 0.5) as int64; max w ≈ 10¹³ tokens at 100 TB ⇒
    * w·10⁴ < 2⁶³, and the α = 1 total is corpus-total-bounded, not
    * source-count-bounded) — exact integer sums, then single IEEE
    * divisions for weight/epochs (lever (c)).
    *
    * Scale shape: ONE corpus scan (the per-source token rollup);
    * everything after runs on the |sources|×4 grid with a window
    * normalizer (lever (g) — no totals self-join). */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val budget = 100000.0
    val per = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col("text"))).as("n_tokens"))
    val x = col("n_tokens").cast("double")
    val powers = Seq(
      (0.25, sqrt(sqrt(x))),
      (0.5, sqrt(x)),
      (0.75, sqrt(x) * sqrt(sqrt(x))),
      (1.0, x))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("alpha"))
    per
      .select(col("source"), col("n_docs"), col("n_tokens"),
        explode(array(powers.map { case (a, p) =>
          struct(lit(a).as("alpha"), p.as("wr")) }: _*)).as("g"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("g.alpha").as("alpha"),
        floor(col("g.wr") * lit(10000.0) + lit(0.5)).as("wq"))
      .withColumn("weight",
        col("wq").cast("double") / sum(col("wq")).over(w).cast("double"))
      .withColumn("token_target", floor(lit(budget) * col("weight")))
      .withColumn("eff_epochs",
        col("token_target").cast("double") / col("n_tokens").cast("double"))
      .withColumn("upsampled", col("eff_epochs") > lit(1.0))
      .select(col("source"), col("alpha"), col("n_docs"), col("n_tokens"),
        col("weight"), col("token_target"), col("eff_epochs"), col("upsampled"))
      .orderBy(col("alpha"), col("source"))
  }

  /** The q233 oracle — the identical IEEE chain spelled in DuckDB;
    * the power composition is interpolated per α from the SAME grid
    * so the two sides cannot drift. */
  private[graft] def temperatureMixOracleSql: String = {
    val powSql = Map(
      "0.25" -> "sqrt(sqrt(CAST(n_tokens AS DOUBLE)))",
      "0.5" -> "sqrt(CAST(n_tokens AS DOUBLE))",
      "0.75" -> "sqrt(CAST(n_tokens AS DOUBLE)) * sqrt(sqrt(CAST(n_tokens AS DOUBLE)))",
      "1.0" -> "CAST(n_tokens AS DOUBLE)")
    val grid = Seq("0.25", "0.5", "0.75", "1.0")
      .map(a => s"SELECT source, n_docs, n_tokens, CAST($a AS DOUBLE) AS alpha, " +
        s"CAST(floor(${powSql(a)} * 10000.0 + 0.5) AS BIGINT) AS wq FROM per")
      .mkString(" UNION ALL ")
    s"""WITH per AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split_regex(trim(nfc_normalize(text)), '\\s+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |g AS ($grid),
       |t AS (SELECT *, CAST(SUM(wq) OVER (PARTITION BY alpha) AS BIGINT) AS totq FROM g),
       |r AS (SELECT *, CAST(wq AS DOUBLE) / CAST(totq AS DOUBLE) AS weight FROM t),
       |tt AS (SELECT *, CAST(floor(100000.0 * weight) AS BIGINT) AS token_target FROM r)
       |SELECT source, alpha, n_docs, n_tokens, weight, token_target,
       |  CAST(token_target AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS eff_epochs,
       |  CAST(token_target AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 1.0 AS upsampled
       |FROM tt ORDER BY alpha, source""".stripMargin
  }

  /** q112: the mix EXECUTED — q111's plan applied as deterministic
    * per-source hash sampling (the q78 hash family at doc
    * granularity, scaled to each source's rate), reporting achieved
    * vs planned tokens. The rate table broadcasts (|sources| rows);
    * the corpus side is one scan + map-side filter — no shuffle
    * until the |sources|-row rollup. Budget 10 000 so the sampling
    * is REAL (rates < 1) at the sf0.01 gate and above; the fill
    * ratio divides two already-exact longs, so the oracle chain
    * stays IEEE-identical. */
  def mixApply(spark: SparkSession, dir: String): DataFrame =
    mixAdmitDocs(Tables.documents(spark, dir), mixRates(spark, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_sampled"),
        sum(col("n_tok")).as("n_tokens_sampled"),
        min(col("token_target")).as("token_target"))
      .withColumn("fill",
        round(col("n_tokens_sampled").cast("double") /
          col("token_target"), 3))
      .orderBy(col("source"))

  /** THE generated τ-mix CTE chain (per → w → t → mix, budget
    * interpolated) — the SQL mirror of [[mixWeights]] in ONE
    * producer; the q111/q112/q117/q213/q217 oracles all interpolate
    * it (shared-rule discipline, lever (a): the chain had drifted
    * into five hand-kept copies before round 15 consolidated it).
    * `mix` carries the full column set; consumers project. */
  private[graft] def mixChainCteSql(budget: Long): String =
    s"""per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(len(string_split_regex(trim(nfc_normalize(text)), '\\s+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS (SELECT *, CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,6)) AS sq FROM per),
       |t AS (SELECT CAST(SUM(sq) AS DECIMAL(18,6)) AS tot FROM w),
       |mix AS (
       |  SELECT source, n_docs, n_tokens,
       |    round(CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS weight,
       |    CAST(floor($budget * round(CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE), 6)) AS BIGINT) AS token_target,
       |    round(least(1.0,
       |      CAST(CAST(floor($budget * round(CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE), 6)) AS BIGINT) AS DOUBLE)
       |        / n_tokens), 6) AS rate
       |  FROM w, t)""".stripMargin

  /** The admitted-docs chain ([[mixChainCteSql]] + the doc
    * projection + the q78-family hash filter), emitting
    * `adm(doc_id, source, n_tok)` — q112/q117/q217 interpolate it. */
  private[graft] def mixAdmitCteSql(budget: Long): String =
    s"""${mixChainCteSql(budget)},
       |d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |adm AS (
       |  SELECT d.doc_id, d.source, d.n_tok
       |  FROM d JOIN mix ON d.source = mix.source
       |  WHERE ((d.doc_id % $SampleHashP * $SampleHashC) % $SampleHashP) % 1000000
       |        < CAST(floor(mix.rate * 1000000) AS BIGINT))""".stripMargin

  /** q111's plan at the q112 budget, slimmed to the columns the
    * admission rule consumes (shared by q112, q117 and the ingest
    * stream). */
  private[graft] def mixRates(spark: SparkSession, dir: String): DataFrame =
    mixWeights(spark, dir, budget = 10000L)
      .select(col("source"), col("token_target"), col("rate"))

  /** THE per-doc mix-admission rule, in one place (shared-rule
    * discipline): row-local token count, broadcast join against the
    * |sources|-row rate table, q78-family hash admission. Pure
    * row-local projection + stream-static broadcast join → runs
    * unchanged on a streaming doc frame (the q83 pattern). */
  private[graft] def mixAdmitDocs(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
        TextFns.tokenCount(col("text")).as("n_tok"))
      .join(broadcast(rates), Seq("source"))
      .withColumn("pr",
        sampleHash(col("doc_id")) % 1000000L)
      .filter(col("pr") < floor(col("rate") * 1000000.0).cast("long"))

  /** q117: the mix admission at DOC level — the training-shard
    * manifest q112 only reports on (which docs, with their token
    * counts, make the τ-mix cut). Doc-level view of the SAME shared
    * rule, so the q112 rollup and this manifest cannot drift; the
    * ingest-stream twin (StreamOps.mixSampleStream) runs the
    * identical rule on arriving docs. One corpus scan, no
    * shuffle after the broadcast join (the ORDER BY is presentation
    * only). */
  def mixAdmit(spark: SparkSession, dir: String): DataFrame =
    mixAdmitDocs(Tables.documents(spark, dir), mixRates(spark, dir))
      .select(col("doc_id"), col("source"), col("n_tok"))
      .orderBy(col("doc_id"))

  /** q213 repeat ceiling — Muennighoff et al. 2023 ("Scaling
    * Data-Constrained Language Models"): repeating unique data is
    * nearly as good as fresh data for ~4 epochs, then returns decay
    * rapidly. A mix plan asking a source for more than EpochCap
    * passes over its UNIQUE tokens is demanding data that doesn't
    * exist. */
  private[graft] val EpochCap = 4L

  /** q213: EPOCH/REPEAT PLAN — the data-constrained feasibility
    * check of the mix block: q111's τ-mix hands each source a token
    * TARGET, but a target is only trainable if the source can supply
    * it, and after exact dedup (q30's keep-first rule — the tokens a
    * loader can actually draw without re-serving byte-identical
    * docs) the supply is unique_tokens, not n_tokens. epochs =
    * target / unique supply is the repeat factor the plan implies;
    * over_cap marks sources the plan would push past the ~4-epoch
    * usefulness ceiling, and deficit_tokens is the mass that must
    * come from elsewhere (re-weighting, new crawls) — the planning
    * card read next to q111/q151/q189.
    *
    * Scale shape: the dedup side is q30's exact plan (one digest
    * shuffle moving (hash, id, n_tok) — text never enters an
    * exchange; keep-first via left_semi against the min-id group
    * table); the mix side is q111's one |sources|-row aggregation;
    * the closing join moves |sources| rows. Float discipline:
    * epochs = ONE IEEE division of exact longs (lever (c));
    * over_cap and deficit are pure int64 arithmetic — no float
    * enters either verdict. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(Dedup.normText).as("content_hash"),
        TextFns.tokenCount(col("text")).as("n_tok"))
    // keep-first per digest as ONE window pass over the slim digest
    // projection (NFC-normalize + md5 + tokenCount run once; was a
    // min-id agg semi-joined back, which also dropped null digests)
    val uniq = docs
      .withColumn("keep_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash"))))
      .filter(col("doc_id") === col("keep_id") && col("content_hash").isNotNull)
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).cast("long").as("unique_tokens"))
    mixWeights(spark, dir, budget = 100000L)
      .select(col("source"), col("n_tokens"), col("token_target"))
      .join(uniq, Seq("source"), "left")
      .na.fill(0L, Seq("unique_tokens"))
      .withColumn("dup_tokens", col("n_tokens") - col("unique_tokens"))
      .withColumn("epochs",
        when(col("unique_tokens") > 0L,
          col("token_target").cast("double") /
            col("unique_tokens").cast("double")))
      .withColumn("over_cap",
        col("token_target") > col("unique_tokens") * EpochCap)
      .withColumn("deficit_tokens",
        greatest(lit(0L),
          col("token_target") - col("unique_tokens") * EpochCap))
      .select(col("source"), col("n_tokens"), col("unique_tokens"),
        col("dup_tokens"), col("token_target"), col("epochs"),
        col("over_cap"), col("deficit_tokens"))
      .orderBy(col("source"))
  }

  /** The q213 oracle — q111's verified weight chain (budget
    * interpolated) joined to q30's verified keep-first rule rolled
    * to per-source unique supply; epochs is the raw IEEE quotient
    * (lever (c)), the cap verdicts pure integer arithmetic with
    * [[EpochCap]] interpolated. */
  private[graft] def epochPlanOracleSql: String =
    s"""WITH ${mixChainCteSql(100000L)},
      |hd AS (
      |  SELECT doc_id, source,
      |    ${Dedup.normTextDigestSql} AS content_hash,
      |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |k AS (SELECT content_hash, MIN(doc_id) AS doc_id FROM hd GROUP BY content_hash),
      |uniq AS (
      |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS unique_tokens
      |  FROM hd JOIN k USING (content_hash, doc_id) GROUP BY source)
      |SELECT m.source, m.n_tokens,
      |  COALESCE(u.unique_tokens, 0) AS unique_tokens,
      |  m.n_tokens - COALESCE(u.unique_tokens, 0) AS dup_tokens,
      |  m.token_target,
      |  CASE WHEN COALESCE(u.unique_tokens, 0) > 0
      |    THEN CAST(m.token_target AS DOUBLE) / CAST(u.unique_tokens AS DOUBLE) END AS epochs,
      |  m.token_target > COALESCE(u.unique_tokens, 0) * $EpochCap AS over_cap,
      |  GREATEST(0, m.token_target - COALESCE(u.unique_tokens, 0) * $EpochCap) AS deficit_tokens
      |FROM mix m LEFT JOIN uniq u USING (source)
      |ORDER BY m.source""".stripMargin

  /** q109: the steady-state funnel's WRITE side, completing q91+q92 —
    * bootstrap the curated store from the funnel's sampled docs
    * RESTRICTED to the store split (the batch residue is excluded:
    * it hasn't "arrived" yet), then APPEND the arriving batch's
    * admitted docs (q92's verdict) into the same source-partitioned
    * parquet layout, and read the combined layout back. Each batch's
    * append touches only the batch-sized admitted rows — the store
    * is never rewritten (at 100 TB the append is the only write that
    * scales). The oracle is the q85 funnel CTE (store side) UNION ALL
    * the q92 admission CTE chain — read-back fidelity of the merged
    * layout is hash-checked against the same SQL fragments that gate
    * the two pipelines it composes. */
  def curatedAppend(spark: SparkSession, dir: String): DataFrame =
    readCurated(appendLayout(spark, dir))

  /** q109's bootstrap+append layout, write-once per (session, corpus). */
  private def appendLayout(spark: SparkSession, dir: String): Artifact =
    graft.SessionRegistry.artifact(spark, "curated_append", dir) { path =>
      graft.Tables.writePartitionedKeepSchema(funnelFlags(spark, dir)
        .filter(col("sampled") && !batchPredicate())
        .select(col("doc_id"), col("lang"), col("n_words"), col("source")),
        "overwrite", "source", "__schema__", path)
      incrementalOutcomes(spark, dir, PipelineConfig.default)
        .filter(col("outcome") === "admitted")
        .join(Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            graft.functions.TextFns.tokenCount(col("text")).as("n_words")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_words"), col("source"))
        .write.mode("append").partitionBy("source").parquet(path)
    }

  /** Per-source rollup of a curated layout (q85's sink, q109, q113). */
  private def readCurated(layout: Artifact): DataFrame =
    layout.read()
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(ceil(col("n_words") / ChunkSize.toDouble).cast("long")).as("n_chunks"))
      .orderBy(col("source"))

  /** q113: LAYOUT COMPACTION — the maintenance op every append-based
    * lakehouse layout needs: q109's bootstrap+append leaves one file
    * set per write per partition, and at steady state (thousands of
    * batches) the small-files problem makes every scan
    * footer-bound. Compaction reads the layout once and rewrites
    * each source partition as ONE file (`repartition(source)` +
    * maxRecordsPerFile unset — per-partition parallelism preserved,
    * output file count = |sources|). CONTENT IS INVARIANT: the
    * registered query re-reads the compacted layout with q109's
    * aggregation and is gated by the SAME composed oracle — the
    * compaction is hash-checked to change nothing but the file
    * layout; the spec additionally asserts the file count shrank to
    * one per partition. */
  def curatedCompact(spark: SparkSession, dir: String): DataFrame =
    // compact the q109 layout, write-once per (session, corpus)
    readCurated(graft.SessionRegistry.artifact(spark, "curated_compact", dir)(
      graft.Tables.writePartitionedKeepSchema(
        appendLayout(spark, dir).read().repartition(col("source")),
        "overwrite", "source", "__schema__", _)))

  /** Dedup-AWARE train/test split (leakage guard): a plain hash
    * split leaks — near-identical docs land on opposite sides and
    * the eval set rewards memorization (the Lee et al. 2021 failure
    * mode). Here the split unit is the NEAR-DUP CLUSTER: every
    * member of a cluster inherits the cluster's hash decision
    * (singletons hash on their own id), so no q31 pair can ever
    * cross the boundary. Same multiplicative hash family as q78;
    * 80/20. The cluster table is the shared dup-rate-bounded
    * artifact — the corpus-side work is one left join against it.
    * Output: per-source counts plus cross_pairs, which this
    * construction forces to 0 (the oracle recomputes it from the
    * pair list, so the guarantee is hash-checked, not asserted). */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val members = Dedup.clusters(spark, dir)
      .select(col("cluster_id"),
        explode(split(col("members"), ",").cast("array<long>")).as("doc_id"))
    val docs = Tables.documents(spark, dir)
      .join(members, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("is_train",
        sampleHash(col("split_key")) % 10 < 8)
    val pairs = Dedup.jaccardPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val sides = docs.select(col("doc_id"), col("is_train"))
    val cross = pairs
      .join(sides.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("is_train", "ta"), Seq("doc_a"))
      .join(sides.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("is_train", "tb"), Seq("doc_b"))
      .filter(col("ta") =!= col("tb"))
      .agg(count(lit(1)).as("cross_pairs"))
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_test"))
      .crossJoin(broadcast(cross))
      .orderBy(col("source"))
  }

  /** INCREMENTAL dedup — the ingest-time form of q30/q31: an
    * arriving batch is deduped AGAINST THE STORE, never by
    * re-scanning the whole corpus (at 100 TB you dedup the delta,
    * not the lake). Deterministic split here: hash residue 3 of the
    * q78 multiplicative hash marks the arriving batch (~10%, spread
    * across every source — a plain doc_id % 10 degenerates on this
    * corpus because ids are blocked by source), the rest is the
    * store. Each batch doc gets
    * a decision: `exact_dup` (q30's normalized digest matches a
    * store doc), `near_dup` (word-3-shingle Jaccard ≥ 0.5 against
    * some store doc — q31's exact rule, computed via the inverted-
    * index join: batch shingles ⋈ store shingles on the shingle,
    * ids-only shuffle), else `new`; ref_id = the matched store doc
    * (min digest-match for exact; best-Jaccard, tie-min for near;
    * -1 for new). Cost is |batch| × dup-rate shaped — store text is
    * touched only for shingles of matched candidates. */
  /** The arriving-batch membership rule shared by q86/q92 (and
    * their oracles): hash residue `batchResidue` (default 3) → ~10%
    * of docs, every source. */
  private[graft] def batchPredicate(
      cfg: PipelineConfig = PipelineConfig.default): Column =
    sampleHash(col("doc_id")) % 10 === cfg.batchResidue

  def incrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedup(spark, dir, PipelineConfig.default)

  def incrementalDedup(spark: SparkSession, dir: String,
      cfg: PipelineConfig): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBatch = batchPredicate(cfg)
    val store = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val exactRef = batch.select(col("doc_id"), md5(Dedup.normText).as("h"))
      .join(store.select(md5(Dedup.normText).as("h"), col("doc_id").as("sid")), Seq("h"))
      .groupBy(col("doc_id")).agg(min(col("sid")).as("exact_ref"))
    val bSh = batch.select(col("doc_id"), Dedup.shinglesCol.as("shs"))
      .select(col("doc_id"), size(col("shs")).as("nb"), explode(col("shs")).as("sh"))
    val sSh = store.select(col("doc_id").as("sid"), Dedup.shinglesCol.as("shs"))
      .select(col("sid"), size(col("shs")).as("ns"), explode(col("shs")).as("sh"))
    val nearBest = bSh.join(sSh, Seq("sh"))
      .groupBy(col("doc_id"), col("sid"))
      .agg(count(lit(1)).as("inter"), first(col("nb")).as("nb"), first(col("ns")).as("ns"))
      .withColumn("j", round(col("inter").cast("double") /
        (col("nb") + col("ns") - col("inter")), 6))
      .filter(col("j") >= 0.5)
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("j")).as("nj"), col("sid"))).as("best"))
      .select(col("doc_id"), col("best.sid").as("near_ref"))
    batch.select(col("doc_id"))
      .join(exactRef, Seq("doc_id"), "left")
      .join(nearBest, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_ref").isNotNull, "exact_dup")
          .when(col("near_ref").isNotNull, "near_dup")
          .otherwise("new").as("decision"),
        coalesce(col("exact_ref"), col("near_ref"), lit(-1L)).as("ref_id"))
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL curation (q85 ∘ q86): the full admission verdict
    * for an arriving batch against an existing curated store — the
    * steady-state form of the funnel (you bootstrap a corpus with
    * q85 once, then every ingest batch flows through THIS). Each
    * batch doc gets one outcome, in pipeline precedence order:
    * `dup` (q86's exact-digest or store-Jaccard rule), `low_quality`
    * (q72's four Gopher rules), `contaminated` (≥1 eval 5-gram hit;
    * the eval suite lives in the STORE), else `admitted`. Per-source
    * outcome counts; every stage is batch-sized work against bounded
    * store artifacts (digest groups, shingle postings, broadcast
    * eval grams). */
  def incrementalFunnel(spark: SparkSession, dir: String): DataFrame =
    incrementalFunnel(spark, dir, PipelineConfig.default)

  /** The per-doc admission verdict behind q92 (and the q109 append):
    * one row per batch doc with its pipeline outcome. */
  private[graft] def incrementalOutcomes(spark: SparkSession, dir: String,
      cfg: PipelineConfig): DataFrame = {
    val isBatch = batchPredicate(cfg)
    val docs = Tables.documents(spark, dir)
    val batchDocs = docs.filter(isBatch && col("source") =!= cfg.evalSource)
    val dedup = incrementalDedup(spark, dir, cfg)
      .select(col("doc_id"), col("decision"))
    val qual = batchDocs
      .select(col("doc_id") +: TextOps.gopherSignalCols: _*)
      .select(col("doc_id") +: TextOps.gopherRuleCols: _*)
      .withColumn("q_ok", TextOps.gopherPass)
      .select(col("doc_id"), col("q_ok"))
    val storeEvalGrams = docs.filter(col("source") === cfg.evalSource && !isBatch)
      .select(explode(WordNGrams(toks, cfg.contamN)).as("g")).distinct()
    val hits = batchDocs
      .select(col("doc_id"), explode(WordNGrams(toks, cfg.contamN)).as("g"))
      .join(broadcast(storeEvalGrams), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    batchDocs.select(col("doc_id"), col("source"))
      .join(dedup, Seq("doc_id"))
      .join(qual, Seq("doc_id"))
      .join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("n_hit"))
      .withColumn("outcome",
        when(col("decision") =!= "new", "dup")
          .when(!col("q_ok"), "low_quality")
          .when(col("n_hit") > 0, "contaminated")
          .otherwise("admitted"))
      .select(col("doc_id"), col("source"), col("outcome"))
  }

  def incrementalFunnel(spark: SparkSession, dir: String,
      cfg: PipelineConfig): DataFrame =
    incrementalOutcomes(spark, dir, cfg)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("outcome") === "dup", 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("outcome") === "low_quality", 1L).otherwise(0L)).as("n_low_quality"),
        sum(when(col("outcome") === "contaminated", 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("outcome") === "admitted", 1L).otherwise(0L)).as("n_admitted"))
      .orderBy(col("source"))

  /** Duplicate-cluster representative selection ("keep best"): for
    * each near-dup cluster, keep the longest member (ties to the
    * smallest id) and count the rest as drops — the final step that
    * turns a cluster table into a deduplicated corpus. Consumes the
    * SAME cached cluster artifact as q35 (shared-artifact registry;
    * the cluster table is dup-rate-bounded, so the explode and the
    * per-cluster argmax are near-dup-sized, not corpus-sized), then
    * one broadcast-able join to the doc table for the length signal. */
  def clusterBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = Dedup.clusters(spark, dir)
      .select(col("cluster_id"), col("cluster_size"),
        explode(split(col("members"), ",").cast("array<long>")).as("doc_id"))
    // Rep signal = CANONICAL content length (length of normText, the
    // dedup unit), not raw n_chars: any exact twin of a candidate rep
    // ties on the signal and loses the min-doc_id tiebreak, so the
    // chosen rep is PROVABLY its exact-group's keep-first doc — the
    // funnel's (exact_keep AND NOT nd_drop) conjunction can never
    // annihilate a whole cluster. Raw n_chars could split
    // canonically-equal encodings (NFC: "café" composed vs decomposed
    // differ by one char) and pick a rep the exact rule then drops —
    // NfcIngestSpec plants exactly that corpus.
    val sized = members.join(
      Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"),
        length(Dedup.normText).as("norm_len")),
      Seq("doc_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("norm_len").desc, col("doc_id"))
    sized
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("cluster_size"),
        col("doc_id").as("rep_doc_id"), col("n_chars").as("rep_n_chars"),
        (col("cluster_size") - 1).cast("long").as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  /** Boilerplate grams are grams seen in at least this many docs.
    * An absolute floor (not a corpus fraction) so the rule has teeth
    * at every tested SF — the planted dup clusters push gram df to
    * 5–25 while organic grams stay ≤4; production pipelines tune this
    * per corpus (C4 uses a 3-sentence absolute rule the same way). */
  private[graft] val BoilerMinDf = 5

  /** q94: boilerplate detection by gram document frequency (the
    * C4/CCNet "remove lines repeated across many pages" axis, at
    * 3-gram granularity since the corpus is single-line). Per doc:
    * how much of its distinct-3-gram mass is corpus-boilerplate, and
    * a keep verdict. Scale shape: the doc's total gram count is
    * row-local (array length of the codegen WordNGrams — no
    * aggregation needed); only the boilerplate-hit counting shuffles,
    * as a gram-keyed equi-join between the exploded distinct grams
    * and the df-filtered gram table (same two-level aggregation shape
    * as TF-IDF; the df table combines map-side). No broadcast hint:
    * the hot-gram table is df-bounded per gram but its cardinality
    * grows with the corpus, so AQE must pick the strategy. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = docs.select(col("doc_id"), explode(WordNGrams(toks, 3)).as("g"))
    val boiler = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerMinDf)
      .select(col("g"))
    val hits = grams.join(boiler, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    docs
      .select(col("doc_id"), size(WordNGrams(toks, 3)).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
      .withColumn("boiler_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_boiler").cast("double") / col("n_grams"), 6)))
      .withColumn("keep",
        when(col("boiler_frac") < 0.5, 1L).otherwise(0L))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        col("boiler_frac"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** q95: CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3:
    * split each language's corpus into head/middle/tail by LM
    * perplexity terciles). The per-doc score is EXACTLY q79's
    * bigram-LM doc_nll (shared fragment, already oracle-verified);
    * the rank is percent_rank per source with a deterministic
    * (doc_nll, doc_id) tie-break. Both engines compute the identical
    * (rank-1)/(n-1) double, so the raw threshold compare is exact —
    * no rounding needed before the bucket decision. Scale shape: the
    * window partitions by source, so ranking parallelizes across
    * sources; within a source it is a sort of slim (doc_id, nll)
    * rows, not documents. */
  /** THE generated CCNet per-doc NLL CTE chain (t → g → c2/c1/v →
    * nll → pd, ending in per-doc `doc_nll`) — the SQL mirror of
    * docNll in ONE producer; the q95, q178, and q215 oracles all
    * interpolate this fragment (shared-rule discipline, lever (a):
    * the chain had been hand-kept twice before round 15). */
  private[graft] def nllDocCteSql: String =
    """t AS (
      |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\s+') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, source, toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] AS g,
      |    toks[CAST(i AS BIGINT)] AS w1
      |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
      |c2 AS (SELECT g, COUNT(*) AS c2 FROM g GROUP BY g),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM g GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM t)),
      |nll AS (
      |  SELECT g.doc_id, g.source,
      |    CAST(round(-log2(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v)), 6) AS DECIMAL(18,6)) AS nll
      |  FROM g JOIN c2 ON g.g = c2.g JOIN c1 ON g.w1 = c1.w1, v),
      |pd AS (
      |  SELECT doc_id, source,
      |    CAST(round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(18,6)) AS doc_nll
      |  FROM nll GROUP BY 1, 2)""".stripMargin

  /** THE per-doc quality-bucket rule, in one def — q95 presents it,
    * q178's curriculum planner phases on it (shared-rule
    * discipline). percent_rank = (rank−1)/(n−1) is the same IEEE
    * double in both engines, so the raw tercile compares are exact
    * (lever (c)). */
  private[graft] def nllBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("doc_nll").asc, col("doc_id").asc)
    docNll(spark, dir)
      .withColumn("pr", percent_rank().over(w))
      .withColumn("bucket",
        when(col("pr") <= 0.3, "head")
          .when(col("pr") <= 0.7, "middle")
          .otherwise("tail"))
  }

  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    nllBuckets(spark, dir)
      .select(col("doc_id"), col("source"),
        round(col("doc_nll").cast("double"), 6).as("doc_nll"), col("bucket"))
      .orderBy(col("doc_id"))

  /** q215 per-(source, label) export quota. */
  private[graft] val TrainsetK = 5

  /** q215: QUALITY-CLASSIFIER TRAINING SET — the labeled-data export
    * behind every learned quality filter (GPT-3's WebText-vs-Common-
    * Crawl logistic classifier, CCNet's LM-filter bootstrap,
    * FineWeb-Edu's scored seed set): positives = docs that pass ALL
    * Gopher rules AND sit in the CCNet head bucket (two independent
    * verified quality axes agreeing), negatives = rule failures;
    * docs between the two verdicts (pass but not head) are excluded
    * as ambiguous. A deterministic K-per-(source, label) sample by
    * the shared q78-family hash (balanced across sources so the
    * classifier can't learn source priors; reproducible across
    * runs/engines/cluster sizes — q211's reviewer property), each
    * row carrying the signal features a downstream classifier
    * trains on (n_words, mean word length, TTR, doc NLL).
    *
    * Scale shape: signals and rules are the SHARED row-local Gopher
    * defs; the bucket is the SHARED q95 rank (slim (doc_id, nll)
    * windows parallel across sources); the sample rank is a window
    * over the slim labeled frame — corpus text never shuffles, and
    * the feature columns ride the slim rows so no corpus join-back
    * is needed after selection. Docs too short to carry a bigram
    * have no LM score and are excluded with q95's semantics. Float
    * discipline: mean_wlen/ttr are raw IEEE quotients of exact ints
    * (lever (c)); doc_nll is q95's rounded decimal. */
  def qualityTrainset(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("source")) ++ TextOps.gopherSignalCols: _*)
    val flags = sig.select(
      Seq(col("doc_id"), col("source"), col("n_words"), col("mean_wlen"),
        col("ttr")) ++ TextOps.gopherRuleCols: _*)
    val bk = nllBuckets(spark, dir)
      .select(col("doc_id"),
        round(col("doc_nll").cast("double"), 6).as("doc_nll"), col("bucket"))
    val lab = flags.join(bk, Seq("doc_id"))
      .withColumn("label",
        when(!TextOps.gopherPass, lit("neg"))
          .when(col("bucket") === "head", lit("pos")))
      .filter(col("label").isNotNull)
      .select(col("source"), col("label"), col("doc_id"), col("n_words"),
        col("mean_wlen"), col("ttr"), col("doc_nll"))
    val w = Window.partitionBy(col("source"), col("label"))
      .orderBy(sampleHash(col("doc_id")).asc, col("doc_id").asc)
    lab.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= TrainsetK)
      .select(col("source"), col("label"), col("doc_id"), col("sample_rank"),
        col("n_words"), col("mean_wlen"), col("ttr"), col("doc_nll"))
      .orderBy(col("source"), col("label"), col("sample_rank"))
  }

  /** The q215 oracle — the gopher doc chain and the q95 bucket chain
    * composed as parenthesized derived tables (lever (ff)), the
    * label rule and the hash sample window interpolated from the
    * operator's constants. */
  private[graft] def qualityTrainsetOracleSql: String =
    s"""WITH lab AS (
      |  SELECT gp.doc_id, gp.source, gp.n_words, gp.mean_wlen, gp.ttr, bk.doc_nll,
      |    CASE WHEN NOT (gp.words_ok AND gp.wlen_ok AND gp.ttr_ok AND gp.stop_ok) THEN 'neg'
      |         WHEN bk.bucket = 'head' THEN 'pos' END AS label
      |  FROM (
      |    WITH ${TextOps.gopherDocCteSql}
      |    SELECT d.doc_id, d.source, d.n_words, d.mean_wlen, d.ttr,
      |      r.words_ok, r.wlen_ok, r.ttr_ok, r.stop_ok
      |    FROM d JOIN r USING (doc_id, source) ) gp
      |  JOIN (
      |    WITH $nllDocCteSql,
      |    rk AS (
      |      SELECT doc_id, doc_nll,
      |        percent_rank() OVER (PARTITION BY source ORDER BY doc_nll ASC, doc_id ASC) AS pr
      |      FROM pd)
      |    SELECT doc_id, round(CAST(doc_nll AS DOUBLE), 6) AS doc_nll,
      |      CASE WHEN pr <= 0.3 THEN 'head' WHEN pr <= 0.7 THEN 'middle' ELSE 'tail' END AS bucket
      |    FROM rk ) bk
      |    ON gp.doc_id = bk.doc_id),
      |k AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source, label
      |      ORDER BY (doc_id % $SampleHashP * $SampleHashC) % $SampleHashP, doc_id)
      |    AS BIGINT) AS sample_rank
      |  FROM lab WHERE label IS NOT NULL)
      |SELECT source, label, doc_id, sample_rank, n_words, mean_wlen, ttr, doc_nll
      |FROM k WHERE sample_rank <= $TrainsetK
      |ORDER BY source, label, sample_rank""".stripMargin

  /** q217: MIX-QUALITY AUDIT — what quality does the sampled mix
    * actually ship? q111 plans rates, q112 executes them, q178
    * orders the result — but a sampler only preserves the corpus's
    * quality COMPOSITION if it is unbiased w.r.t. the quality signal
    * (the per-source hash here is; a head-biased or recency-biased
    * sampler is not), so the admitted set's head/middle/tail token
    * shares per source are the audit that closes the mix block:
    * compare against q95's 30/40/30 design terciles before training
    * on the shards. Composition of TWO verified rules — q112's
    * admission def and q95's bucket def — so this report and the ops
    * it audits cannot drift.
    *
    * Scale shape: the admission side is q112's one scan + broadcast
    * rate join (map-side filter); the bucket side is q95's slim
    * per-source rank; the join moves (doc_id, n_tok, bucket) only;
    * the share normalizer is a window over the AGGREGATED
    * (≤ |sources|·3)-row table (lever (g)), never the corpus. Docs
    * too short to carry a bigram have no LM bucket and are excluded
    * with q95's semantics. token_share = one IEEE division of exact
    * longs (lever (c)). */
  def mixQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adm = mixAdmitDocs(Tables.documents(spark, dir), mixRates(spark, dir))
      .select(col("doc_id"), col("source"), col("n_tok"))
    val bkt = nllBuckets(spark, dir).select(col("doc_id"), col("bucket"))
    adm.join(bkt, Seq("doc_id"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      .withColumn("token_share",
        col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(Window.partitionBy(col("source")))
            .cast("double"))
      .orderBy(col("source"), col("bucket"))
  }

  /** The q217 oracle — q112's verified admission chain and the
    * shared q95 bucket chain composed as derived tables (lever
    * (ff)); the share normalizer is a window over the aggregated
    * rows (lever (g)). */
  private[graft] def mixQualityOracleSql: String =
    s"""WITH ${mixAdmitCteSql(10000L)},
      |bkt AS (
      |  SELECT * FROM (
      |    WITH $nllDocCteSql,
      |    rk AS (
      |      SELECT doc_id,
      |        percent_rank() OVER (PARTITION BY source ORDER BY doc_nll ASC, doc_id ASC) AS pr
      |      FROM pd)
      |    SELECT doc_id,
      |      CASE WHEN pr <= 0.3 THEN 'head' WHEN pr <= 0.7 THEN 'middle' ELSE 'tail' END AS bucket
      |    FROM rk )),
      |j AS (
      |  SELECT a.source, b.bucket, COUNT(*) AS n_docs,
      |    CAST(SUM(a.n_tok) AS BIGINT) AS n_tokens
      |  FROM adm a JOIN bkt b ON a.doc_id = b.doc_id
      |  GROUP BY 1, 2)
      |SELECT source, bucket, n_docs, n_tokens,
      |  CAST(n_tokens AS DOUBLE) /
      |    CAST(CAST(SUM(n_tokens) OVER (PARTITION BY source) AS BIGINT) AS DOUBLE) AS token_share
      |FROM j ORDER BY source, bucket""".stripMargin

  /** q178 loader-shard fan-out. */
  private[graft] val CurriculumShards = 8L

  /** q178: CURRICULUM SHARD PLAN — the data-ORDERING planner that
    * completes the mix block (q111 plans rates, q112 applies them,
    * q151 budgets, this orders): staged pretraining feeds clean text
    * first and the noisy tail last, so docs are phased by the
    * VERIFIED CCNet quality bucket (head→1, middle→2, tail→3) and
    * spread across [[CurriculumShards]] loader shards by the shared
    * deterministic sampling hash — every shard of a phase sees the
    * same quality mix, and the assignment is reproducible across
    * engines, runs, and cluster sizes (no RNG, no global sort).
    * Scale shape: phase is q95's per-source rank window (the one
    * existing pass), shard is row-local arithmetic, the plan is a
    * (3 × shards)-bounded rollup, and shard_share normalizes via a
    * window over the AGGREGATED table — never a corpus totals
    * self-join (lever (g)). Exact ints through one IEEE division. */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksCnt = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tok"))
    nllBuckets(spark, dir)
      .select(col("doc_id"),
        when(col("bucket") === "head", 1L)
          .when(col("bucket") === "middle", 2L)
          .otherwise(3L).as("phase"))
      .join(toksCnt, Seq("doc_id"))
      .withColumn("shard",
        sampleHash(col("doc_id")) % CurriculumShards)
      .groupBy(col("phase"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("phase_tokens",
        sum(col("n_tokens")).over(Window.partitionBy(col("phase"))))
      .select(col("phase"), col("shard"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("phase_tokens").cast("double"))
          .as("shard_share"))
      .orderBy(col("phase"), col("shard"))
  }

  /** The batch/store digest frames and the store-bloom prefiltered
    * batch — q99's pieces, exposed for the spec's pruning asserts.
    * Digests: xxhash64(norm) feeds the bloom (long probes, codegen);
    * md5(norm) is the exact-match key (q30/q86's rule). At 100 TB
    * the store digest frame is a materialized artifact of the store,
    * not a rescan — here it is derived inline (store-sized, slim). */
  /** q99's store side, built once per (session, corpus): the store
    * digest frame is a held artifact (one store scan; it backs the
    * sizing count, the bloom build and the exact join), and the built
    * filter is registry-held per fpp (in production both are
    * published alongside the store, not rebuilt per batch). */
  private val bloomCache = graft.SessionRegistry
    .cache[(SparkSession, String, Double), org.apache.spark.util.sketch.BloomFilter]()

  private[graft] def bloomPrefiltered(spark: SparkSession, dir: String,
      fpp: Double = 0.01): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val isBatch = batchPredicate()
    val store = graft.SessionRegistry.held(spark, "bloom_store", dir)(_ => Seq(
      "" -> docs.filter(!isBatch).select(
        col("doc_id").as("sid"),
        xxhash64(Dedup.normText).as("h64"), md5(Dedup.normText).as("h")))).read()
    val bloom = bloomCache.getOrElseUpdate((spark, dir, fpp), {
      val n = store.count()
      // an EMPTY store must yield an explicit empty bloom: the
      // zero-row stat.bloomFilter aggregate returns a filter with a
      // null bit buffer that NPEs inside the codegen probe (the
      // empty-corpus sweep class); an empty created bloom answers
      // false everywhere — correct, nothing can be a store dup
      if (n == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else store.stat.bloomFilter("h64", n, fpp)
    })
    val batch = docs.filter(isBatch).select(
      col("doc_id"),
      xxhash64(Dedup.normText).as("h64"), md5(Dedup.normText).as("h"))
    val pref = batch.filter(graft.plans.BloomExprs.mightContain(col("h64"), bloom))
    (store, batch, pref)
  }

  /** q99: bloom-prefiltered incremental exact dedup — q86's exact
    * stage with the 100 TB accelerator in front: a bloom filter over
    * the STORE's digests (bounded bits: ~1.2 MB per 10⁶ store docs at
    * 1% fpp) rides into codegen as a reference object and prunes the
    * arriving batch MAP-SIDE, before any shuffle. Most batch docs are
    * new, so the exact join's shuffle input drops from |batch| to
    * ~|dups| + fpp·|batch|. Bloom has NO false negatives, so the
    * final decisions are bit-identical with or without the prefilter
    * — which is why a probabilistic structure can sit on the DuckDB
    * oracle gate (the oracle expresses only the exact join). */
  def bloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val (store, batch, pref) = bloomPrefiltered(spark, dir)
    val dec = pref
      .join(store.select(col("h"), col("sid")), Seq("h"))
      .groupBy(col("doc_id")).agg(min(col("sid")).as("ref"))
    batch.select(col("doc_id"))
      .join(dec, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ref").isNotNull, "exact_dup").otherwise("new").as("decision"),
        coalesce(col("ref"), lit(-1L)).as("ref_id"))
      .orderBy(col("doc_id"))
  }

  /** q106: curation by SET ALGEBRA — (quality ∩ non-boilerplate) ∖
    * contaminated, composing three already-verified per-doc rules
    * through Spark's INTERSECT/EXCEPT operators (each plans as a
    * distinct-aggregated semi/anti join — no driver-side set math at
    * any scale). The rules are THE shared defs (Gopher flags via
    * StreamOps.qualityFlags, q94's boilerplate keep, q76's
    * contamination hits), so the oracle reassembles their verified
    * SQL fragments and set-operates on them identically. */
  def setAlgebra(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val qual = graft.streaming.StreamOps.qualityFlags(docs)
      .filter(col("pass")).select(col("doc_id"))
    val keep = boilerplate(spark, dir)
      .filter(col("keep") === 1).select(col("doc_id"))
    val contam = contamHits(spark, dir).select(col("doc_id"))
    qual.intersect(keep).except(contam).orderBy(col("doc_id"))
  }

  /** q96: steady-state CCNet admission (q95 ∘ q86's batch/store
    * split) — the arriving batch is scored under the STORE's bigram
    * LM (OOV grams smoothed via [[bigramModelNll]]'s left joins) and
    * bucketed against the store's per-source nll terciles. This is
    * how perplexity routing actually runs in production: the model
    * and thresholds are artifacts of the existing corpus; new data
    * is scored against them, never against itself. Threshold compare
    * is DECIMAL-to-DECIMAL (exact in both engines). Scale shape: the
    * model tables and the |sources|-row threshold table broadcast;
    * everything batch-sized stays one scan + one shuffle on doc_id. */
  def ccnetAdmission(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val isBatch = batchPredicate()
    val store = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val model = bigramModel(store) // built ONCE, both passes share it
    val w = Window.partitionBy(col("source"))
      .orderBy(col("doc_nll").asc, col("doc_id").asc)
    val th = scoreUnderModel(model, store)
      .withColumn("pr", percent_rank().over(w))
      .groupBy(col("source"))
      .agg(
        max(when(col("pr") <= 0.3, col("doc_nll"))).as("t30"),
        max(when(col("pr") <= 0.7, col("doc_nll"))).as("t70"))
    scoreUnderModel(model, batch)
      .join(broadcast(th), Seq("source"))
      .withColumn("bucket",
        when(col("doc_nll") <= col("t30"), "head")
          .when(col("doc_nll") <= col("t70"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("source"),
        round(col("doc_nll").cast("double"), 6).as("doc_nll"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Span-dedup gram width: a token position is removed when it is
    * covered by a SpanK-gram that also occurs in another document
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" ExactSubstr semantics, at token granularity with
    * a cross-document-only rule; their suffix-array threshold of 50
    * BPE tokens scales down to 8 words for this ~50-token corpus).
    * The oracle SQL is GENERATED from this constant, so operator and
    * oracle cannot drift (CLAUDE.md promote-to-oracle lever a). */
  private[graft] val SpanK = 8

  /** q119: exact substring-span dedup — the third dedup granularity
    * next to whole-doc (q30) and chunk (q81): every token position
    * covered by a SpanK-gram occurring in ≥2 distinct docs is cut,
    * and the doc is reassembled from the surviving tokens in order.
    * Scale shape: grams are row-local codegen (WordNGrams with
    * positions via posexplode — no self-join, no suffix array); the
    * duplicated-gram table is one gram-keyed partial-agg shuffle;
    * cover positions travel back as GRAM-START lists per doc (≤ dup
    * grams per doc, k× smaller than exploded positions) and expand
    * row-local (flatten∘transform∘sequence); the rewrite itself is a
    * row-local indexed filter — the corpus is never joined to
    * itself. DuckDB mirrors with 1-based toks[i] slices (verified
    * q76 fragment) — each engine's coverage set is self-consistent,
    * and the reassembled text + counts are engine-independent. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val k = SpanK
    val docs = Tables.documents(spark, dir)
    val grams = docs.select(col("doc_id"),
      posexplode(WordNGrams(toks, k, distinct = false)).as(Seq("pos", "g")))
    val dup = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    val covStarts = grams.join(dup, Seq("g"))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("starts"))
    spanRewrite(docs, covStarts)
  }

  /** Shared q119/q123 rewrite: expand per-doc cover-START lists
    * row-local (flatten∘transform∘sequence, k× cheaper on the wire
    * than exploded positions) and cut the covered tokens with an
    * indexed filter — one doc_id-keyed join, everything else
    * row-local. */
  private def spanRewrite(docs: DataFrame, covStarts: DataFrame): DataFrame =
    docs.join(covStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), toks.as("t"),
        coalesce(
          array_distinct(flatten(transform(col("starts"),
            s => sequence(s, s + lit(SpanK - 1))))),
          array().cast("array<int>")).as("cov"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        array_join(
          filter(col("t"), (w, i) => !array_contains(col("cov"), i)),
          " ").as("clean_text"))
      .orderBy(col("doc_id"))

  /** q123: INCREMENTAL span dedup — q119's scrub in steady state
    * (the q86/q92/q96 division): arriving batch docs are cut against
    * the STORE's gram set, never against themselves and never
    * re-scanning the lake per batch. Any store occurrence is
    * cross-document by construction, so the store side is the
    * per-doc-distinct gram SET (no df threshold); the batch side
    * keeps positions. The gram-keyed equi join is the only
    * corpus-sized shuffle; AQE picks the strategy (the store-gram
    * table grows with the lake — never broadcast it). The stream
    * twin ([[graft.streaming.StreamOps.spanCoverStream]]) emits the
    * same cover starts per arriving doc; parity asserted in
    * MlStreamSpec. */
  def incrementalSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val k = SpanK
    val docs = Tables.documents(spark, dir)
    val isBatch = batchPredicate()
    val store = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val storeGrams = store.select(explode(WordNGrams(toks, k)).as("g")).distinct()
    val covStarts = batch
      .select(col("doc_id"),
        posexplode(WordNGrams(toks, k, distinct = false)).as(Seq("pos", "g")))
      .join(storeGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("starts"))
    spanRewrite(batch, covStarts)
  }

  /** The q119 oracle, generated from [[SpanK]]: the verified q76
    * 1-based toks[i] gram fragment at width k, df≥2 over distinct
    * docs, k-offset coverage expansion, anti-join rewrite with an
    * ordered string_agg. */
  /** Shared 1-based toks[i] gram chain of the generated span
    * oracles. */
  private def spanGramSql: String = (0 until SpanK).map {
    case 0 => "toks[CAST(i AS BIGINT)]"
    case j => s"toks[CAST(i AS BIGINT)+$j]"
  }.mkString(" || ' ' || ")

  private[graft] def spanDedupOracleSql: String = {
    val k = SpanK
    val gram = spanGramSql
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, $gram AS g
       |  FROM t, UNNEST(range(1, len(toks)-${k - 2})) AS u(i)),
       |dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
       |cov AS (
       |  SELECT DISTINCT g.doc_id, g.pos + CAST(off AS BIGINT) AS pos
       |  FROM g JOIN dup USING (g), UNNEST(range(0, $k)) AS o(off)),
       |tok AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS pos, toks[CAST(p AS BIGINT)] AS w
       |  FROM t, UNNEST(range(1, len(toks)+1)) AS u(p)),
       |kept AS (
       |  SELECT tok.doc_id, tok.pos, tok.w
       |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
       |  WHERE cov.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    string_agg(w, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY 1)
       |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(toks) AS BIGINT) - COALESCE(agg.n_kept, 0) AS n_removed,
       |  COALESCE(agg.clean_text, '') AS clean_text
       |FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** The q123 oracle: q119's chain with the store gram SET replacing
    * the df≥2 table, generated from SpanK + the batch-residue
    * constants. */
  private[graft] def incrementalSpanOracleSql: String = {
    val k = SpanK
    val gram = spanGramSql
    val res = PipelineConfig.default.batchResidue
    val hash = s"((doc_id % $SampleHashP) * $SampleHashC) % $SampleHashP % 10"
    s"""WITH tb AS (
       |  SELECT doc_id, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
       |  FROM documents WHERE $hash = $res),
       |ts AS (
       |  SELECT string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
       |  FROM documents WHERE $hash <> $res),
       |sg AS (
       |  SELECT DISTINCT $gram AS g
       |  FROM ts, UNNEST(range(1, len(toks)-${k - 2})) AS u(i)),
       |bg AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, $gram AS g
       |  FROM tb, UNNEST(range(1, len(toks)-${k - 2})) AS u(i)),
       |cov AS (
       |  SELECT DISTINCT bg.doc_id, bg.pos + CAST(off AS BIGINT) AS pos
       |  FROM bg JOIN sg USING (g), UNNEST(range(0, $k)) AS o(off)),
       |tok AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS pos, toks[CAST(p AS BIGINT)] AS w
       |  FROM tb, UNNEST(range(1, len(toks)+1)) AS u(p)),
       |kept AS (
       |  SELECT tok.doc_id, tok.pos, tok.w
       |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
       |  WHERE cov.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    string_agg(w, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY 1)
       |SELECT tb.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(toks) AS BIGINT) - COALESCE(agg.n_kept, 0) AS n_removed,
       |  COALESCE(agg.clean_text, '') AS clean_text
       |FROM tb LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** q140: PSI (Population Stability Index) DRIFT per source vs the
    * rest of the corpus — the distribution-drift gate a training
    * pipeline runs on every new ingest (did this source's length
    * profile shift away from the corpus?). Spark shape: ONE corpus
    * scan → a (source × bucket)-bounded count table; source/corpus
    * marginals are windows over that bounded table (never a totals
    * self-join — lever (g)); the PSI fold runs on |sources|·|buckets|
    * rows. Floats: bucket shares are add-0.5-smoothed divisions of
    * exact values (correctly-rounded IEEE, bit-identical both
    * engines); only ln carries 1-ulp cross-engine risk, and the PSI
    * sum has ≤ [[PsiBuckets]] terms, so round(,6) absorbs it (the
    * q136 boundedness argument). */
  private[graft] val PsiBuckets = 12
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source"))
    val overall = Window.partitionBy(lit(1))
    val counts = Tables.documents(spark, dir)
      .select(col("source"),
        least(floor(col("n_chars") / 50L), lit(PsiBuckets - 1L)).cast("long")
          .as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_sb"))
      // dense bucket grid per source: missing buckets must contribute
      // their smoothed share, so expand to the full 0..B-1 domain
      // (bounded: |sources|·B rows) before the marginals
    val grid = Tables.documents(spark, dir).select(col("source")).distinct()
      .crossJoin(broadcast(
        spark.range(0, PsiBuckets.toLong).select(col("id").as("bucket"))))
    val dense = grid.join(counts, Seq("source", "bucket"), "left")
      .na.fill(0L, Seq("n_sb"))
    val withMarginals = dense
      .withColumn("n_s", sum(col("n_sb")).over(bySrc))
      .withColumn("n_b", sum(col("n_sb")).over(Window.partitionBy(col("bucket"))))
      .withColumn("n", sum(col("n_sb")).over(overall))
    // p_s = smoothed in-source share of the bucket; p_r = smoothed
    // rest-of-corpus share. All inputs exact integers (+0.5) →
    // divisions are correctly-rounded IEEE on identical operands.
    val pS = (col("n_sb").cast("double") + 0.5d) /
      (col("n_s").cast("double") + 0.5d * PsiBuckets)
    val pR = ((col("n_b") - col("n_sb")).cast("double") + 0.5d) /
      ((col("n") - col("n_s")).cast("double") + 0.5d * PsiBuckets)
    withMarginals
      .withColumn("term", (pS - pR) * log(pS / pR))
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_docs"),
        round(sum(col("term")), 6).as("psi"))
      .orderBy(col("source"))
  }

  /** q162: the DATASET CARD — the per-source datasheet every corpus
    * release ships (Gebru et al. 2021's "Datasheets for Datasets"
    * made executable): volume (docs, tokens, language coverage),
    * duplication share, quality pass rate, benchmark-contamination
    * share, and LM quality — one row per source, every number the
    * exact rule of its standalone query. Composition, not
    * recomputation: the dedup/quality/contamination flags come from
    * the SHARED funnel flag DISK artifact (q85/q91/q109's frame) and
    * the LM score is q79's docNll rule — so the card's oracle is the
    * verified funnel CTE joined to the verified NLL chain (lever (d):
    * the fragments' CTE names are disjoint). Shares are RAW quotients
    * of exact ints (lever (k)); avg_nll crosses q79's exact
    * round(,4) expression. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val flags = funnelFlags(spark, dir)
    val nll = docNll(spark, dir).select(col("doc_id"), col("doc_nll"))
    val n = count(lit(1))
    flags.join(nll, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        n.as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (sum(when(!col("dedup_keep"), 1L).otherwise(0L)).cast("double") /
          n.cast("double")).as("dup_share"),
        (sum(when(col("quality"), 1L).otherwise(0L)).cast("double") /
          n.cast("double")).as("quality_rate"),
        (sum(when(col("n_hit") > 0L, 1L).otherwise(0L)).cast("double") /
          n.cast("double")).as("contam_share"),
        // q79's avg_nll rule exactly (rescaled decimal sum, raw
        // quotient — see bigramLm's scale note)
        (sum(col("doc_nll")).cast("decimal(18,6)").cast("double") /
          n.cast("double")).as("avg_nll"))
      .orderBy(col("source"))
  }

  /** q171 checksum display modulus (the exact decimal sum reduced to
    * a BIGINT both engines print identically). */
  private[graft] val ChecksumMod = 1000000000000000000L

  /** q171: RELEASE MANIFEST — the reproducible integrity record a
    * corpus drop ships next to q162's dataset card: per-source and
    * __total__ rows with exact volumes and an ORDER-INVARIANT
    * content checksum (sum of q26's per-doc poly-31 fingerprints —
    * integer addition commutes, so any replica verifies the drop
    * with ONE unordered scan; no global sort, no canonical file
    * order needed at 100 TB). Distinct-fingerprint count rides along
    * (a replica that duplicated rows at copy time sums the same mod
    * only with vanishing probability, and its n_docs/n_distinct_fp
    * split flags it regardless). One ROLLUP scan produces leaves and
    * total together (q104's discipline); the checksum sum is exact
    * DECIMAL(38,0) reduced mod [[ChecksumMod]] — identical integer
    * math in both engines. */
  def releaseManifest(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.documents(spark, dir)
      .select(col("source"),
        graft.plans.RollingHash(col("text")).as("fp"),
        TextFns.tokenCount(col("text")).as("tok"))
    f.rollup(col("source"))
      .agg(
        grouping(col("source")).cast("long").as("is_total"),
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        // sum as DECIMAL(38,0), not as long-then-cast: a long sum of
        // ~1e9-sized fingerprints overflows past ~1e10 docs (ANSI
        // error at scale); the decimal sum is exact to 10^38
        (sum(col("fp").cast("decimal(38,0)")) % lit(ChecksumMod))
          .cast("long").as("content_checksum"),
        countDistinct(col("fp")).as("n_distinct_fp"))
      .select(coalesce(col("source"), lit("__total__")).as("source_key"),
        col("is_total"), col("n_docs"), col("n_tokens"),
        col("content_checksum"), col("n_distinct_fp"))
      .orderBy(col("is_total"), col("source_key"))
  }

  /** q151 per-source token budget. Small enough that truncation
    * binds at every test SF; a production budget is per-domain
    * token caps in the billions — the plan shape is identical. */
  private[graft] val BudgetTokens = 512L

  /** q151: per-source token-budget admission — every source
    * contributes documents in priority order (longest first, doc_id
    * tie-break) until its token budget is exhausted; the per-domain
    * cap step of corpus mixing (the hard-cap complement of q111's
    * proportional mix weights). Scale shape: one shuffle clusters
    * the corpus by source; the running total is a window cumsum over
    * that clustering (per-doc token counts are row-local array
    * lengths — the text itself never shuffles). A single pathological
    * domain serializes into one task here; the two-pass
    * per-partition-offset pattern (q98 stable ids) is the documented
    * fallback at that scale. */
  /** THE longest-first per-source cumulative-token frame — q151's
    * rule in one def; q151 presents it per doc, q224 prices the
    * budget grid over it (shared-rule discipline). */
  private[graft] def budgetCum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextFns.tokenCount(col("text")).as("tok"))
      .withColumn("cum_tok", sum(col("tok")).over(w))
  }

  /** The SQL mirror of [[budgetCum]] (d → w with `cum_tok`) — the
    * q151 and q224 oracles both interpolate it. */
  private[graft] def budgetCumCteSql: String =
    """d AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS BIGINT) AS tok
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, source, tok,
      |    CAST(SUM(tok) OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
      |  FROM d)""".stripMargin

  def tokenBudget(spark: SparkSession, dir: String): DataFrame =
    budgetCum(spark, dir)
      .withColumn("admitted", col("cum_tok") <= BudgetTokens)
      .select(col("doc_id"), col("source"), col("tok"), col("cum_tok"),
        col("admitted"))
      .orderBy(col("source"), col("doc_id"))

  /** q224 budget grid — [[BudgetTokens]] sits in the grid so the
    * curve prices the shipped setting against its alternatives
    * (CorpusOpsSpec reconciles that level with q151 row-for-row). */
  private[graft] val BudgetGrid: Seq[Long] = Seq(256L, 512L, 1024L, 2048L)

  /** q224: TOKEN-BUDGET CURVE — the budget knob priced (the
    * q212/q205/q206 move applied to q151's per-source hard cap): per
    * (budget, source), docs and tokens the longest-first rule
    * admits, and the budget utilization. What a budget buys is the
    * planning question q151 answers only at one point.
    *
    * Scale shape (lever (gg)): the whole grid costs the ONE q151
    * cumsum pass — each level is a conditional sum over the SAME
    * cumulative column inside one |sources|-row wide aggregation
    * (admission at budget b is cum_tok ≤ b, monotone in b by
    * construction), and the grid explode runs over the aggregated
    * table. fill = one IEEE division of exact longs (lever (c)). */
  def budgetCurve(spark: SparkSession, dir: String): DataFrame = {
    val aggs =
      Seq(count(lit(1)).as("n_docs"),
        sum(col("tok")).cast("long").as("n_tokens")) ++
      BudgetGrid.flatMap(b => Seq(
        sum(when(col("cum_tok") <= b, 1L).otherwise(0L)).as(s"d$b"),
        sum(when(col("cum_tok") <= b, col("tok")).otherwise(0L)).cast("long")
          .as(s"t$b")))
    budgetCum(spark, dir)
      .groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        explode(array(BudgetGrid.map(b =>
          struct(lit(b).as("budget"), col(s"d$b").as("n_admitted"),
            col(s"t$b").as("admitted_tokens"))): _*)).as("lv"))
      .select(col("lv.budget").as("budget"), col("source"), col("n_docs"),
        col("n_tokens"), col("lv.n_admitted").as("n_admitted"),
        col("lv.admitted_tokens").as("admitted_tokens"))
      .withColumn("fill",
        col("admitted_tokens").cast("double") / col("budget").cast("double"))
      .orderBy(col("budget"), col("source"))
  }

  /** The q224 oracle — the shared [[budgetCumCteSql]] chain + grid
    * sums generated from [[BudgetGrid]] (q212's generated-union
    * shape). */
  private[graft] def budgetCurveOracleSql: String = {
    val sums = BudgetGrid.map(b =>
      s"""CAST(SUM(CASE WHEN cum_tok <= $b THEN 1 ELSE 0 END) AS BIGINT) AS d$b,
         |    CAST(SUM(CASE WHEN cum_tok <= $b THEN tok ELSE 0 END) AS BIGINT) AS t$b""".stripMargin)
      .mkString(",\n    ")
    val union = BudgetGrid.map(b =>
      s"SELECT CAST($b AS BIGINT) AS budget, source, n_docs, n_tokens, d$b AS n_admitted, t$b AS admitted_tokens FROM per")
      .mkString("\nUNION ALL\n")
    s"""WITH $budgetCumCteSql,
       |per AS (
       |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
       |    $sums
       |  FROM w GROUP BY source),
       |g AS (
       |$union)
       |SELECT budget, source, n_docs, n_tokens, n_admitted, admitted_tokens,
       |  CAST(admitted_tokens AS DOUBLE) / CAST(budget AS DOUBLE) AS fill
       |FROM g ORDER BY budget, source""".stripMargin
  }

  /** q152: per-document eval-overlap COVERAGE — the fraction of a
    * doc's distinct 5-grams that appear in the benchmark set, with a
    * severity class on top (q76 counts hits per source; audits need
    * the per-doc ratio: a 3-hit 500-gram doc is noise, a 3-hit
    * 5-gram doc is a leak). Same shared rule as q76/q83/q85
    * ([[docGrams]] × broadcast [[evalGrams]]) folded into ONE
    * corpus scan: the broadcast join carries a hit marker instead of
    * inner-joining, so gram totals and hit counts come out of the
    * same aggregation. Docs shorter than 5 tokens have no grams and
    * are definitionally out of scope (stated in the oracle too).
    * Coverage divides exact integers (identical IEEE); threshold
    * compares run on the rounded value. */
  def ngramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val eg = evalGrams(spark, dir).withColumn("hit", lit(1L))
    docGrams(Tables.documents(spark, dir))
      .join(broadcast(eg), Seq("g"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("coverage",
        round(col("n_hit").cast("double") / col("n_grams").cast("double"), 6))
      .withColumn("severity",
        when(col("n_hit") === 0L, lit("clean"))
          .when(col("coverage") < 0.2d, lit("low"))
          .when(col("coverage") < 0.5d, lit("medium"))
          .otherwise(lit("high")))
      .orderBy(col("doc_id"))
  }

  // ---- q149 DSIR-style hashed-bigram importance weights ----------

  /** Hashed-gram bucket count (DSIR; Xie et al. 2023 use 10k buckets
    * over hashed n-grams — 128 keeps the oracle's unrolled hash
    * evaluation cheap while binding collisions at test scale). */
  private[graft] val DsirBuckets = 128
  /** Admission cap per source (top-k by importance weight). */
  private[graft] val DsirAdmit = 5

  /** q149: data-selection importance weights via hashed bigram
    * language-model ratios (the DSIR recipe: score raw docs by how
    * target-like their hashed n-gram distribution is, admit top-k
    * per source). Target = the eval source's docs, raw = the rest;
    * bucket(g) = poly-31 rolling hash mod [[DsirBuckets]] (the q26
    * family, reproduced bit-for-bit in DuckDB); λ[b] = ln of the
    * add-half-smoothed target/raw bucket-probability ratio; doc
    * weight = mean λ over its (non-distinct) bigrams.
    *
    * Scale shape: the λ table is a [[DsirBuckets]]-bounded broadcast
    * built from ONE gram scan's two filtered aggregations (map-side
    * partials; the grid join is against a 128-row range); scoring is
    * a second scan with a broadcast join and a two-level agg — no
    * corpus-sized shuffle carries text. Float discipline: per-bucket
    * λ is round(,6)-ed decimal (bounded ln, PSI precedent); per-doc
    * sums are exact decimal sums re-scaled to DECIMAL(18,6) before
    * the double division (q104 wide-decimal rule); ranking runs on
    * the rounded weight with doc_id tie-breaks. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(WordNGrams(toks, 2, distinct = false)).as("g"))
      .withColumn("bucket", graft.plans.RollingHash(col("g")) % DsirBuckets)
    // ONE conditional aggregation for both sides (opt r08): the
    // separate ct/cr subtrees each re-ran the corpus gram-explode
    // pass (sum(when) over the same rows == count over the filtered
    // slice, exact longs)
    // the densified table feeds BOTH the totals agg and the λ
    // projection; the two share the bucket agg's exchange, so the
    // corpus bucket count runs once; the table is DsirBuckets-bounded
    val bucketCounts = grams.groupBy(col("bucket")).agg(
      sum(when(col("source") === EvalSource, 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= EvalSource, 1L).otherwise(0L)).as("cr"))
    val dense = spark.range(0, DsirBuckets.toLong)
      .select(col("id").as("bucket"))
      .join(bucketCounts, Seq("bucket"), "left")
      .na.fill(0L, Seq("ct", "cr"))
    val tot = dense.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val pT = (col("ct").cast("double") + 0.5d) /
      (col("nt").cast("double") + 0.5d * DsirBuckets)
    val pR = (col("cr").cast("double") + 0.5d) /
      (col("nr").cast("double") + 0.5d * DsirBuckets)
    val lam = dense.crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(log(pT / pR), 6).cast("decimal(18,6)").as("lam"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("weight").desc, col("doc_id"))
    grams.filter(col("source") =!= EvalSource)
      .join(broadcast(lam), Seq("bucket"))
      .groupBy(col("doc_id"), col("source"))
      // weight stays the RAW quotient (lever c): both operands are
      // exact (decimal sum, count), so one correctly-rounded IEEE
      // division is bit-identical cross-engine — while round(,6)
      // would REINTRODUCE divergence (Spark rounds the shortest
      // decimal repr via BigDecimal.valueOf, DuckDB the full binary
      // value; a quotient at a 6th-decimal half-boundary splits
      // them — found live at sf0.1)
      .agg(count(lit(1)).as("n_grams"),
        (sum(col("lam")).cast("decimal(18,6)").cast("double") /
          count(lit(1))).as("weight"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("admitted", col("rank") <= DsirAdmit)
      .orderBy(col("source"), col("rank"))
  }

  /** q149 oracle, GENERATED from the operator's own constants
    * (bucket count, smoothing, admission cap, eval source, and the
    * q26-verified rolling-hash fragment) — the hash family and every
    * threshold share one source of truth with the Spark plan. */
  private[graft] def dsirOracleSql: String = {
    val b = DsirBuckets
    val hash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(list_filter(string_split(g, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))), " +
      s"(acc, c) -> (acc * 31 + c) % 1000000007) % $b"
    s"""WITH tok AS (
       |  SELECT doc_id, source, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
       |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, source, tok || ' ' || lead1 AS g FROM (
       |    SELECT doc_id, source, tok,
       |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1
       |    FROM tok) WHERE lead1 IS NOT NULL),
       |bk AS (SELECT doc_id, source, $hash AS bucket FROM bg),
       |ctr AS (SELECT bucket, COUNT(*) AS c FROM bk WHERE source = '$EvalSource' GROUP BY 1),
       |crr AS (SELECT bucket, COUNT(*) AS c FROM bk WHERE source <> '$EvalSource' GROUP BY 1),
       |grid AS (SELECT CAST(u.b AS BIGINT) AS bucket FROM UNNEST(range($b)) AS u(b)),
       |dense AS (
       |  SELECT grid.bucket, COALESCE(ctr.c, 0) AS ct, COALESCE(crr.c, 0) AS cr
       |  FROM grid LEFT JOIN ctr USING (bucket) LEFT JOIN crr USING (bucket)),
       |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM dense),
       |lam AS (
       |  SELECT bucket, CAST(round(ln(
       |    ((CAST(ct AS DOUBLE) + 0.5) / (CAST(nt AS DOUBLE) + 0.5 * $b)) /
       |    ((CAST(cr AS DOUBLE) + 0.5) / (CAST(nr AS DOUBLE) + 0.5 * $b))), 6)
       |    AS DECIMAL(18,6)) AS lam
       |  FROM dense, tot),
       |sc AS (
       |  SELECT bk.doc_id, bk.source, COUNT(*) AS n_grams,
       |    CAST(CAST(SUM(lam) AS DECIMAL(18,6)) AS DOUBLE) / COUNT(*) AS weight
       |  FROM bk JOIN lam USING (bucket) WHERE bk.source <> '$EvalSource'
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT doc_id, source, CAST(n_grams AS BIGINT) AS n_grams, weight,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY weight DESC, doc_id) AS rank
       |  FROM sc)
       |SELECT doc_id, source, n_grams, weight, rank, rank <= $DsirAdmit AS admitted
       |FROM r ORDER BY source, rank""".stripMargin
  }

  /** q150: per-source bigram CONDITIONAL entropy H(next|cur) — the
    * information-theoretic repetitiveness gauge (low H = templated/
    * boilerplate-heavy source, high H = diverse text; complements
    * q79's likelihood under a global LM and q73's surface repetition
    * ratios). H = Σ_g p(g)·ln(c1(w1)/c2(g)) over the per-source
    * bigram count table. Scale shape: one corpus scan → (source,
    * gram) counts with map-side partials; the first-token marginal
    * and the source total are WINDOWS over that aggregated table
    * (lever g — never a self-join that would re-derive the scan);
    * output is |sources| rows. Floats: every division has exact
    * integer operands (correctly-rounded IEEE, identical engines);
    * the per-gram term is round(,6)-ed then decimal-summed
    * (order-independent), re-scaled before the final double cast. */
  def condEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c2 = Tables.documents(spark, dir)
      .select(col("source"),
        explode(WordNGrams(toks, 2, distinct = false)).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val wW1 = Window.partitionBy(col("source"), col("w1"))
    // H = (1/N)·Σ_g c2·ln(c1/c2): the 1/N factors OUT of the sum, so
    // the source total never needs its own window pass — it IS the
    // final aggregation's n_bigrams
    c2
      .withColumn("c1", sum(col("c2")).over(wW1))
      .withColumn("term",
        round(col("c2").cast("double") *
          log(col("c1").cast("double") / col("c2").cast("double")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("source"))
      .agg(
        sum(col("c2")).as("n_bigrams"),
        count(lit(1)).as("n_types"),
        // raw quotient of exact operands (lever c) — round(,6) here
        // risks Spark's shortest-repr-vs-full-binary rounding split
        (sum(col("term")).cast("decimal(18,6)").cast("double") /
          sum(col("c2")).cast("double")).as("cond_entropy"))
      .orderBy(col("source"))
  }

  // ---- q182 PII scrub (detect + redact + audit) ------------------

  /** PII regex family — deliberately restricted to syntax whose
    * semantics are IDENTICAL in Java regex (Spark) and RE2 (DuckDB):
    * ASCII character classes, bounded/greedy quantifiers, `\b` word
    * boundaries, no alternation / backreferences / lookaround (where
    * leftmost-first vs leftmost-longest engines could diverge). */
  private[graft] val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiIpv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PiiPhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Deterministic PII planting residues (the synthetic corpus is
    * PII-free by construction, so the scrubber would be vacuously
    * green on raw testdata — both engines derive the SAME dirty
    * corpus from doc_id arithmetic and the regex machinery is then
    * genuinely exercised and value-checked; in production the scrub
    * runs on raw crawl text directly and this stage does not exist). */
  private[graft] val PiiEmailMod = 7L
  private[graft] val PiiIpMod = 11L
  private[graft] val PiiPhoneMod = 13L

  /** The dirty-crawl simulation: append synthetic PII to docs picked
    * by doc_id residue. All modular arithmetic reduces doc_id BEFORE
    * multiplying (the q157/sampleHash overflow rule — (a·b) mod m ==
    * ((a mod m)·b) mod m, and the reduced form cannot wrap at any id
    * scale). Row-local codegen; mirrored verbatim in the oracle. */
  private[graft] def piiPlant(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % PiiEmailMod === 0L,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % PiiIpMod === 0L,
        concat(lit(" from 10."), (col("doc_id") % 256L).cast("string"),
          lit(".0."),
          (((col("doc_id") % 256L) * 7L) % 256L).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % PiiPhoneMod === 0L,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 1000L).cast("string"), 3, "0"), lit("-"),
          lpad((((col("doc_id") % 10000L) * 3L) % 10000L).cast("string"),
            4, "0"))).otherwise(lit(""))))

  /** THE redaction rule, in one place (batch report + ingest twin —
    * copies drift): fixed replacement order email → IPv4 → phone.
    * Email first because its placeholder is digit-free, so a
    * replaced span can never re-match a later pattern; IPv4 (dots)
    * and phone (dashes) are structurally disjoint. Pure codegen
    * regexp_replace chain — no UDF, no shuffle. */
  private[graft] def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmailRe, "<EMAIL>"),
        PiiIpv4Re, "<IP>"),
      PiiPhoneRe, "<PHONE>")

  private def piiCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast("long")

  /** The shared per-doc scrub projection (batch == stream, one def):
    * doc_id, source, per-type match counts, the redacted text, and
    * chars_removed. Row-local, so it runs unchanged on the document
    * stream — the ingest twin is free (StreamOps.piiScrubStream). */
  private[graft] def piiProjection(docs: DataFrame): DataFrame = {
    val planted = piiPlant(docs)
    planted.select(col("doc_id"), col("source"),
      piiCount(col("text"), PiiEmailRe).as("n_email"),
      piiCount(col("text"), PiiIpv4Re).as("n_ipv4"),
      piiCount(col("text"), PiiPhoneRe).as("n_phone"),
      piiScrub(col("text")).as("scrubbed"),
      (length(col("text")) - length(piiScrub(col("text"))))
        .cast("long").as("chars_removed"))
  }

  /** q182: PII scrub + per-source audit — the redaction stage every
    * crawl pipeline runs before text may enter a training corpus
    * (C4 §2.2 drops pages with blocklisted strings; Dolma/FineWeb
    * mask emails/IPs/phones in place, which this follows: masking
    * preserves the surrounding training signal, dropping wastes it).
    * No reference analogue (redshells never ingests raw crawl text);
    * cf. /root/reference/redshells/data/data_frame_utils.py for the
    * frame-utility family this audit extends.
    *
    * Per source: docs, docs flagged, match counts per PII type,
    * chars removed by redaction, and an order-invariant poly-31
    * checksum of the REDACTED text (the q171 discipline) — so the
    * oracle value-checks the actual redacted bytes, not just match
    * counts. Scale shape: one scan, row-local regex inside
    * WholeStageCodegen, partial-aggregable rollup moving |sources|
    * rows; text never enters an exchange. */
  def piiScrubReport(spark: SparkSession, dir: String): DataFrame =
    piiProjection(Tables.documents(spark, dir))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_email") + col("n_ipv4") + col("n_phone") > 0L, 1L)
          .otherwise(0L)).as("n_flagged"),
        sum(col("n_email")).as("n_email"),
        sum(col("n_ipv4")).as("n_ipv4"),
        sum(col("n_phone")).as("n_phone"),
        sum(col("chars_removed")).as("chars_removed"),
        // exact DECIMAL(38,0) sum reduced mod the poly-31 modulus
        // (q171: a long sum wraps past ~1e10 docs; decimal is exact)
        (sum(graft.plans.RollingHash(col("scrubbed")).cast("decimal(38,0)")) %
          lit(graft.plans.RollingHash.Mod))
          .cast("long").as("scrub_checksum"))
      .orderBy(col("source"))

  // ---- q189 dedup savings card ------------------------------------

  /** q189: the dedup ROI card — removable token volume at each
    * exact-dedup granularity in ONE report: whole-doc (q30's
    * normText digest), fixed 64-token chunks (q77/q81's grid), and
    * content-defined chunks (q175's kernel). The planning question
    * dedup ordering starts from: which granularity pays for its pass
    * at this corpus? (Overlapping-WINDOW spans are deliberately
    * absent — overlapping units double-count tokens; q119's span
    * cover is the non-overlapping span accounting and reports
    * per-source already.)
    *
    * Accounting per granularity: units, duplicate units beyond each
    * group's keeper, total tokens, and tokens removable (keeper
    * stays; equal content ⇒ equal token counts within a group, so
    * removed = Σ(group_sum − group_min)). savings_pct = one raw IEEE
    * division of exact longs (lever (c)).
    *
    * Scale shape: three one-scan pipelines, each shuffling (digest,
    * count-partials) only — the q30/q81/q175 shapes unchanged — into
    * a 3-row union. Every rule is the SAME shared def its standalone
    * query gates (normText, chunks, cdcChunkFrame). */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    def rollup(keyed: DataFrame, gran: String): DataFrame =
      keyed
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"), sum(col("nt")).as("snt"),
          min(col("nt")).as("mnt"))
        .agg(sum(col("cnt")).as("n_units"),
          sum(col("cnt") - 1L).as("n_dup_units"),
          sum(col("snt")).as("tokens_total"),
          sum(col("snt") - col("mnt")).as("tokens_removed"))
        .select(lit(gran).as("granularity"), col("n_units"),
          col("n_dup_units"), col("tokens_total"), col("tokens_removed"))
    val doc = rollup(Tables.documents(spark, dir)
      .select(md5(Dedup.normText).as("k"),
        graft.functions.TextFns.tokenCount(col("text")).as("nt")), "doc")
    val ch64 = rollup(chunks(spark, dir)
      .select(col("chunk_hash").as("k"), col("chunk_tokens").as("nt")),
      "chunk64")
    val cdc = rollup(cdcChunkFrame(Tables.documents(spark, dir))
      .select(col("fp").cast("string").as("k"), col("n_tok").as("nt")), "cdc")
    doc.unionByName(ch64).unionByName(cdc)
      .select(col("granularity"), col("n_units"), col("n_dup_units"),
        col("tokens_total"), col("tokens_removed"),
        (col("tokens_removed").cast("double") /
          col("tokens_total").cast("double")).as("savings_pct"))
      .orderBy(col("granularity"))
  }

  /** The q189 oracle: the three verified granularity fragments (q30
    * digest, the [[ChunkSize]]-generated chunk grid, the generated
    * [[cdcChunkCteSql]] chain) composed into one WITH (lever (d)). */
  private[graft] def dedupSavingsOracleSql: String = {
    val roll = "COUNT(*) AS c, CAST(SUM(nt) AS BIGINT) AS s, MIN(nt) AS m"
    val card = "CAST(SUM(c) AS BIGINT) AS n_units, " +
      "CAST(SUM(c - 1) AS BIGINT) AS n_dup_units, " +
      "CAST(SUM(s) AS BIGINT) AS tokens_total, " +
      "CAST(SUM(s - m) AS BIGINT) AS tokens_removed"
    s"""WITH dh AS (
      |  SELECT md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS k,
      |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS BIGINT) AS nt
      |  FROM documents),
      |dg AS (SELECT k, $roll FROM dh GROUP BY k),
      |d AS (SELECT 'doc' AS granularity, $card FROM dg),
      |ct AS (SELECT doc_id, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
      |       FROM documents),
      |cc AS (
      |  SELECT md5(array_to_string(
      |      toks[CAST(ci*$ChunkSize+1 AS BIGINT):CAST(ci*$ChunkSize+$ChunkSize AS BIGINT)], ' ')) AS k,
      |    CAST(least($ChunkSize, len(toks) - ci*$ChunkSize) AS BIGINT) AS nt
      |  FROM ct, UNNEST(range(0, CAST(ceil(len(toks) / $ChunkSize.0) AS BIGINT))) AS u(ci)),
      |cg AS (SELECT k, $roll FROM cc GROUP BY k),
      |c AS (SELECT 'chunk64' AS granularity, $card FROM cg),
      |${cdcChunkCteSql("documents", "text", "z")},
      |zg AS (SELECT CAST(fp AS VARCHAR) AS k, n_tok AS nt FROM zch),
      |zr AS (SELECT k, $roll FROM zg GROUP BY k),
      |z AS (SELECT 'cdc' AS granularity, $card FROM zr)
      |SELECT granularity, n_units, n_dup_units, tokens_total, tokens_removed,
      |  CAST(tokens_removed AS DOUBLE) / CAST(tokens_total AS DOUBLE) AS savings_pct
      |FROM (SELECT * FROM d UNION ALL SELECT * FROM c UNION ALL SELECT * FROM z)
      |ORDER BY granularity""".stripMargin
  }

  // ---- q185 cross-source overlap matrix --------------------------

  /** q185: cross-source duplicated-SPAN overlap matrix — for every
    * source pair, how much content (q84's shared window-digest grid,
    * ONE def) the two sources share. The provenance question mix
    * planning (q111/q112) and dedup-ordering need answered first: a
    * source that largely re-crawls another should not get
    * independent mix weight, and deduping the copier against the
    * copied loses nothing (cf. the measured inter-snapshot overlaps
    * behind FineWeb's per-snapshot dedup choice). Span granularity
    * (not whole-doc digests) because partial copying — quoted
    * passages, syndicated fragments — is what actually crosses
    * source boundaries.
    *
    * Per unordered pair (src_a < src_b): distinct window digests
    * present in BOTH, each side's distinct digest count, and the
    * overlap fraction of each side (raw IEEE divisions of exact
    * longs, lever (c)).
    *
    * Scale shape: the distinct (digest, source) table is corpus-
    * sized but slim (a 128-bit hash + a small string — window text
    * never shuffles); the self equi-join on the digest is the q31
    * bucket shape (each digest's group is ≤ |sources| rows, no
    * blow-up; a viral span's skew splits under AQE); the rollup
    * output is |sources|²-bounded and the per-source counts ride a
    * |sources|-row broadcast. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // one wh exchange, shared by the distinct, the per-source counts
    // and both sides of the self-join
    val c = windowDigests(spark, dir)
      .select(col("source"), col("wh")).repartition(col("wh")).distinct()
    val perSource = c.groupBy(col("source"))
      .agg(count(lit(1)).as("n_win"))
    val shared = c.as("a")
      .join(c.as("b"), col("a.wh") === col("b.wh") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_windows"))
    shared
      .join(broadcast(perSource.select(col("source").as("src_a"),
        col("n_win").as("windows_a"))), Seq("src_a"))
      .join(broadcast(perSource.select(col("source").as("src_b"),
        col("n_win").as("windows_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_windows"),
        col("windows_a"), col("windows_b"),
        (col("shared_windows").cast("double") / col("windows_a").cast("double"))
          .as("frac_a"),
        (col("shared_windows").cast("double") / col("windows_b").cast("double"))
          .as("frac_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ---- q198: CDC anchor-rate health --------------------------------

  /** q198: ANCHOR-RATE health check for the CDC chunking family
    * (q175/q176/q179/q180) — the operational tripwire for the
    * content-defined segmentation itself: the anchor rule fires on
    * hash(token) ≡ [[CdcRem]] (mod [[CdcMod]]), so a healthy source
    * anchors at rate p = 1/CdcMod; a source whose token distribution
    * is adversarial to the hash (one boilerplate token repeated, or
    * binary-ish tokens) drifts off p and its chunks balloon or
    * shatter — dedup recall and store write-amplification both hinge
    * on this rate, so it is checked per ingest source BEFORE chunk
    * stats go bad. Flag = |rate − p| > 3σ with σ = sqrt(p(1−p)/n),
    * the binomial bound. Float discipline: rate is one exact-int
    * division; p and σ are chains of single correctly-rounded IEEE
    * ops on exact operands (lever (x)) — no rounding step, and the
    * 3σ compare is exact cross-engine. Scale shape: one scan →
    * explode → row-local codegen hash (plans/RollingHash — the SAME
    * base hash the chunk kernel uses, so this audits the real rule)
    * → |sources|-row partial-agg rollup. */
  def anchorHealth(spark: SparkSession, dir: String): DataFrame =
    anchorHealthFromCounts(Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("tok"))
      .select(col("source"),
        (graft.plans.RollingHash(col("tok")) % CdcMod === CdcRem).as("anchor"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("anchor"), 1L).otherwise(0L)).as("n_anchors")))

  /** THE binomial anchor test over a (source, n_tokens, n_anchors)
    * count table — q198 derives the counts itself; q203's scorecard
    * feeds the anchor marginal of its shared token cube.
    *
    * Two reference rates, two different questions: `expected` =
    * 1/CdcMod is the DESIGN rate (mean chunk = CdcMod tokens) —
    * reported so the global calibration drift is visible (this
    * corpus's poly-31 token hash lands residue 7 at ~0.035, not
    * 0.0625: real English tokens are not uniform mod 16, so actual
    * chunks run ~2× the design size — a calibration fact, not a
    * per-source disease). The per-source FLAG therefore tests
    * against the CORPUS BLEND (`corpus_rate`), not the design rate:
    * a vocabulary-level hash bias moves every source together, while
    * the adversarial source this tripwire exists for (boilerplate
    * repetition, binary-ish tokens) moves ALONE — testing against
    * the blend catches it without alarm-storming on the shared bias
    * (an earlier design tested against 1/CdcMod and flagged 18/20
    * healthy sources). The blend is a window over the
    * |sources|-bounded rollup (lever (g): never a second scan). */
  private[graft] def anchorHealthFromCounts(agg0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    agg0
      .withColumn("rate",
        col("n_anchors").cast("double") / col("n_tokens").cast("double"))
      .withColumn("expected", lit(1.0) / lit(CdcMod.toDouble))
      .withColumn("corpus_rate",
        sum(col("n_anchors")).over(all).cast("double") /
          sum(col("n_tokens")).over(all).cast("double"))
      .withColumn("sigma",
        sqrt(col("corpus_rate") * (lit(1.0) - col("corpus_rate")) /
          col("n_tokens").cast("double")))
      .withColumn("healthy",
        abs(col("rate") - col("corpus_rate")) <= lit(3.0) * col("sigma"))
      .orderBy(col("source"))
  }

  /** The q198 oracle — the anchor test through the same codepoint
    * fold fragment the q175 oracle family uses (byte == codepoint on
    * the ASCII gate corpora, the documented q175/q87 precedent);
    * constants interpolated. */
  private[graft] def anchorHealthOracleSql: String = {
    val mod = graft.plans.RollingHash.Mod
    s"""WITH t0 AS (
      |  SELECT source, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok
      |  FROM documents),
      |a AS (
      |  SELECT source,
      |    CASE WHEN list_reduce(
      |        list_prepend(CAST(0 AS BIGINT),
      |          list_transform(list_filter(string_split(tok, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))),
      |        (acc, c) -> (acc * 31 + c) % $mod)
      |      % $CdcMod = $CdcRem THEN 1 ELSE 0 END AS anchor
      |  FROM t0),
      |g AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(SUM(anchor) AS BIGINT) AS n_anchors
      |  FROM a GROUP BY source),
      |r AS (
      |  SELECT source, n_tokens, n_anchors,
      |    CAST(n_anchors AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS rate,
      |    CAST(1 AS DOUBLE) / $CdcMod AS expected,
      |    CAST(SUM(n_anchors) OVER () AS DOUBLE)
      |      / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS corpus_rate
      |  FROM g)
      |SELECT source, n_tokens, n_anchors, rate, expected, corpus_rate,
      |  sqrt(corpus_rate * (1 - corpus_rate) / CAST(n_tokens AS DOUBLE)) AS sigma,
      |  abs(rate - corpus_rate) <=
      |    3 * sqrt(corpus_rate * (1 - corpus_rate) / CAST(n_tokens AS DOUBLE)) AS healthy
      |FROM r ORDER BY source""".stripMargin
  }

  // ---- q206: decontamination n-gram sensitivity curve ---------------

  /** n-gram orders swept by q206 — the production rule (ContamN = 5)
    * sits inside the grid so the curve contextualizes it; oracle CTEs
    * are generated per order. */
  private[graft] val ContamNGrid = Seq(3, 5, 8, 13)

  /** q206: DECONTAMINATION SENSITIVITY — how strict is the
    * eval-overlap rule as a function of the n-gram order? Short
    * grams flag aggressively (common phrases collide), long grams
    * only catch verbatim inclusions; the curve (eval-suite matching
    * surface, flagged docs, total hits, flag rate per n) is the
    * evidence behind choosing ContamN, next to q205's jaccard-τ
    * table (q76 RUNS the rule at n=5; this prices the KNOB — the
    * Gopher/GPT-3 appendices each picked different n for exactly
    * this tradeoff). Scale shape: ONE corpus scan per side — the
    * four orders ride one tagged-gram stream (explode an array of
    * (n, grams) structs, then the per-order gram arrays; both
    * generators codegen, no interpreted lambda); eval side stays
    * eval-suite-bounded × |grid| and broadcasts (the q76 shape);
    * per-(n, doc) hit counts roll to a |grid|-row report. Float
    * discipline: flag_rate = one IEEE division of exact longs
    * (lever (c)); zero-hit orders survive via the grid left-join
    * (lever (q)). WordNGrams emits per-doc DISTINCT grams, so the
    * hit accounting matches q76's n_hit semantics exactly. */
  def contamSensitivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tagged = array(ContamNGrid.map(n =>
      struct(lit(n.toLong).as("n"),
        graft.plans.WordNGrams(toks, n).as("grams"))): _*)
    def gramRows(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+ explode(tagged).as("s"): _*)
        .select(keep ++ Seq(col("s.n").as("n"), explode(col("s.grams")).as("g")): _*)
    // feeds the per-n gram counts AND the hit broadcast, which share
    // the distinct's exchange (the eval n-gram explode runs once); the
    // table is eval-suite-bounded
    val ev = gramRows(docs.filter(col("source") === EvalSource), Seq.empty)
      .distinct()
    val evCounts = ev.groupBy(col("n")).agg(count(lit(1)).as("n_eval_grams"))
    val train = docs.filter(col("source") =!= EvalSource)
    val hits = gramRows(train, Seq(col("doc_id")))
      .join(broadcast(ev), Seq("n", "g"))
      .groupBy(col("n"), col("doc_id")).agg(count(lit(1)).as("h"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_flagged_docs"),
        sum(col("h")).cast("long").as("total_hits"))
    ContamNGrid.map(_.toLong).toDF("n")
      .join(evCounts, Seq("n"), "left")
      .join(hits, Seq("n"), "left")
      .na.fill(0L, Seq("n_eval_grams", "n_flagged_docs", "total_hits"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("n_train_docs"))))
      // lazily-evaluated zero-denominator guard (ANSI division — an
      // EMPTY train slice must yield NULL, not DIVIDE_BY_ZERO; the
      // empty-corpus sweep class, mirrored in the oracle)
      .withColumn("flag_rate",
        when(col("n_train_docs") =!= 0L,
          col("n_flagged_docs").cast("double") / col("n_train_docs").cast("double")))
      .orderBy(col("n"))
  }

  /** The q206 oracle — per-order CTE pairs generated from
    * [[ContamNGrid]] with the q76 gram-construction fragment
    * (1-based inclusive slices, range(1, len−(n−2)) empty on short
    * docs — both engines agree, the documented precedent). */
  private[graft] def contamSensitivityOracleSql: String = {
    def gram(n: Int) = (0 until n).map {
      case 0 => "toks[CAST(i AS BIGINT)]"
      case j => s"toks[CAST(i AS BIGINT)+$j]"
    }.mkString(" || ' ' || ")
    val blocks = ContamNGrid.map { n =>
      s"""e${n}g AS (
         |  SELECT DISTINCT ${gram(n)} AS g
         |  FROM evt, UNNEST(range(1, len(toks)-${n - 2})) AS u(i)),
         |t${n}g AS (
         |  SELECT DISTINCT doc_id, ${gram(n)} AS g
         |  FROM trt, UNNEST(range(1, len(toks)-${n - 2})) AS u(i)),
         |h$n AS (
         |  SELECT CAST($n AS BIGINT) AS n,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e${n}g) AS n_eval_grams,
         |    CAST(COUNT(DISTINCT j.doc_id) AS BIGINT) AS n_flagged_docs,
         |    CAST(COUNT(*) AS BIGINT) AS total_hits
         |  FROM (SELECT t.doc_id FROM t${n}g t JOIN e${n}g e USING (g)) j)"""
        .stripMargin
    }.mkString(",\n")
    val unions = ContamNGrid.map(n => s"SELECT * FROM h$n").mkString("\nUNION ALL\n")
    s"""WITH trt AS (
       |  SELECT doc_id, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
       |  FROM documents WHERE source <> '$EvalSource'),
       |evt AS (
       |  SELECT doc_id, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
       |  FROM documents WHERE source = '$EvalSource'),
       |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train_docs FROM trt),
       |$blocks
       |SELECT u.n, u.n_eval_grams, u.n_flagged_docs, u.total_hits,
       |  ntr.n_train_docs,
       |  CASE WHEN ntr.n_train_docs != 0 THEN
       |    CAST(u.n_flagged_docs AS DOUBLE) / CAST(ntr.n_train_docs AS DOUBLE)
       |  END AS flag_rate
       |FROM ($unions) u CROSS JOIN ntr
       |ORDER BY u.n""".stripMargin
  }

  // ---- q203: per-source data-contract scorecard ---------------------

  /** Contract thresholds (both rates are exact-int divisions, so the
    * raw compares against these literals are exact cross-engine —
    * the percent_rank precedent, lever (c)); both pass AND fail
    * branches fire on the gate corpora (src5/src12 fail the anchor
    * test at sf0.01, several sources sit on either side of each rate
    * bound). */
  private[graft] val ScorePassMin = 0.4
  private[graft] val ScoreMismatchMax = 0.6

  /** q203: the per-source DATA-CONTRACT SCORECARD — the nightly
    * dashboard a multi-source ingest pipeline actually reads: FOUR
    * verified audits joined into one verdict row per source —
    * Gopher quality pass rate (q72), declared-vs-predicted language
    * mismatch (q194), token-length KS drift (q197), CDC anchor-rate
    * health (q198) — and one composite `contract_ok`. A source that
    * fails ANY axis is quarantined from the mix BEFORE its docs
    * reach dedup/sampling (q85/q111 read per-source rates; this is
    * the gate those rates should be conditioned on).
    *
    * Scale shape: TWO corpus scans instead of the four the
    * standalone audits would pay — (1) a doc-row scan computing the
    * SHARED row-local projections (gopherSignalCols/gopherRuleCols/
    * gopherPass + langPredCol — the same defs q72/q194 gate, so the
    * counts cannot drift) into one |sources|-row agg; (2) a token
    * scan into ONE (source, wlen, anchor) count cube (bounded:
    * |sources|·|lengths|·2 rows; its two consumers share its
    * exchange, so the explode runs once — lever (g)), whose wlen marginal
    * feeds THE q197 KS machinery (tokenLenKsFromCounts) and whose
    * anchor marginal feeds THE q198 binomial test
    * (anchorHealthFromCounts). Every rate is one IEEE division of
    * exact longs. The oracle composes the four verified oracle
    * fragments VERBATIM as derived tables (no z-renaming needed —
    * CTE scopes are subquery-local), so the scorecard is
    * value-anchored to the standalone audits by construction. */
  def sourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextOps => T}
    val docAgg = Tables.documents(spark, dir)
      .select(Seq(col("source"), col("lang"),
        T.langPredCol.as("pred")) ++ T.gopherSignalCols: _*)
      .select(Seq(col("source"), col("lang"), col("pred")) ++
        T.gopherRuleCols: _*)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(T.gopherPass, 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("pred") =!= col("lang") && col("pred") =!= "unknown", 1L)
          .otherwise(0L)).as("n_mismatch"))
    val cube = Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("tok"))
      .select(col("source"), length(col("tok")).cast("long").as("wlen"),
        (graft.plans.RollingHash(col("tok")) % CdcMod === CdcRem).as("anchor"))
      .groupBy(col("source"), col("wlen"), col("anchor"))
      .agg(count(lit(1)).as("c"))
      // (source × wlen × anchor)-bounded rollup — feeds both the KS
      // reduction and the anchor-health reduction below, which share
      // its exchange
    val ks = T.tokenLenKsFromCounts(
        cube.groupBy(col("source"), col("wlen")).agg(sum(col("c")).as("c")))
      .select(col("source"), col("ks"), col("drifted"))
    val ah = anchorHealthFromCounts(cube.groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          sum(when(col("anchor"), col("c")).otherwise(0L)).cast("long")
            .as("n_anchors")))
      .select(col("source"), col("rate").as("anchor_rate"),
        col("healthy").as("anchor_healthy"))
    docAgg
      .withColumn("gopher_pass_rate",
        col("n_pass").cast("double") / col("n_docs").cast("double"))
      .withColumn("lang_mismatch_rate",
        col("n_mismatch").cast("double") / col("n_docs").cast("double"))
      .join(ks, Seq("source")).join(ah, Seq("source"))
      .select(col("source"), col("n_docs"),
        col("gopher_pass_rate"), col("lang_mismatch_rate"),
        col("ks"), col("drifted").as("ks_drifted"),
        col("anchor_rate"), col("anchor_healthy"),
        (col("gopher_pass_rate") >= ScorePassMin &&
          col("lang_mismatch_rate") <= ScoreMismatchMax &&
          !col("drifted") && col("anchor_healthy")).as("contract_ok"))
      .orderBy(col("source"))
  }

  /** The q203 oracle — the four verified fragments composed verbatim
    * as derived tables, thresholds interpolated. */
  private[graft] def sourceScorecardOracleSql: String =
    s"""SELECT g.source, g.n_docs,
       |  CAST(g.n_pass AS DOUBLE) / CAST(g.n_docs AS DOUBLE) AS gopher_pass_rate,
       |  m.mismatch_rate AS lang_mismatch_rate,
       |  k.ks, k.drifted AS ks_drifted,
       |  a.rate AS anchor_rate, a.healthy AS anchor_healthy,
       |  (CAST(g.n_pass AS DOUBLE) / CAST(g.n_docs AS DOUBLE) >= $ScorePassMin
       |    AND m.mismatch_rate <= $ScoreMismatchMax
       |    AND NOT k.drifted AND a.healthy) AS contract_ok
       |FROM (${graft.operators.TextOps.gopherRulesOracleSql}) g
       |JOIN (${graft.operators.TextOps.langMismatchOracleSql}) m ON g.source = m.source
       |JOIN (${graft.operators.TextOps.tokenLenKsOracleSql}) k ON g.source = k.source
       |JOIN ($anchorHealthOracleSql) a ON g.source = a.source
       |ORDER BY g.source""".stripMargin
}
