package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionRegistry.Scope
import graft.Tables
import graft.functions.{TextFns, VecFns}
import graft.plans.SimHash64

/** Deduplication operator block over the `documents` corpus — the
  * large-scale training-data ops (exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding-cosine). The reference dedups driver-side with
  * pandas keep-first (/root/reference/redshells/data/
  * data_frame_utils.py:31,47); here every variant is a distributed
  * plan whose joins are inverted-index/bucket joins, never O(n²)
  * cross products.
  */
object Dedup {

  /** Canonical text form shared by exact-dedup variants (and the
    * curation funnel's dedup stage). NFC normalization runs FIRST
    * (the q193 kernel) — without it every dedup family silently
    * treats composed vs decomposed encodings of the same string as
    * distinct documents (DedupSpec plants such a pair); oracles
    * mirror with `nfc_normalize`, identity on the ASCII gate. */
  private[graft] def normText: Column =
    regexp_replace(
      lower(trim(graft.plans.NfcExprs.nfcNormalize(col("text")))),
      "\\s+", " ")

  /** THE digest rule's SQL mirror (one expression string) — the q30
    * oracle and q213's unique-supply chain interpolate it
    * (shared-rule discipline). */
  private[graft] val normTextDigestSql: String =
    """md5(regexp_replace(lower(trim(nfc_normalize(text))), '\s+', ' ', 'g'))"""

  private def toks = TextFns.tokens(col("text"))

  /** Exact dedup: hash-groupBy on normalized text. Keeps the min
    * doc_id per cluster (deterministic keep-first). One shuffle on
    * the 128-bit digest; at 100 TB the shuffle carries (hash, id)
    * pairs, never the text. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(normText).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("cluster_size"))
      .orderBy(col("content_hash"))

  /** Per-doc distinct word-3-shingle set (the unit of Jaccard). */
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.wordShingles(toks, 3).as("shingles"))

  // Posting-array pair explosion is the native PairExprs.postingPairs
  // codegen kernel — the nested transform/slice lambda form it
  // replaces was the last INTERPRETED loop on the q31 hot path (one
  // invocation per distinct corpus shingle; CLAUDE.md perf rules).

  /** Stop-shingle posting cap: shingles shared by more than this many
    * docs are dropped from the inverted index before pair generation.
    * Non-binding at test SFs (max df = 25 at sf0.1) so the q31 oracle
    * is exact; at web scale it bounds the worst posting array — one
    * boilerplate phrase otherwise yields an O(df²) pair explosion.
    * Dropping a shingle only LOWERS a pair's computed intersection,
    * so capped output is always a subset of the uncapped output
    * (precision stays 1; the recall cost is asserted in DedupSpec). */
  val defaultMaxDf = 256

  /** n-gram Jaccard near-dup via shingle inverted index: one scan →
    * explode shingles (n_sh carried along) → group postings per
    * shingle → drop hot postings (df > maxDf) → pair generation from
    * the posting array (no self-join, no recomputation) → per-pair
    * intersection counts → Jaccard from |A|+|B|−|A∩B|. Two shuffles
    * total. */
  def jaccard(spark: SparkSession, dir: String,
      maxDf: Int = defaultMaxDf): DataFrame = {
    val sh = shingled(spark, dir)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"),
        explode(col("shingles")).as("sh"))
    val postings = sh.groupBy(col("sh"))
      .agg(sort_array(collect_list(
        struct(col("doc_id").as("id"), col("n_sh").as("w")))).as("docs"))
      .filter(size(col("docs")) <= maxDf)
    postings
      .select(explode(graft.plans.PairExprs.postingPairs(col("docs"))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("p.na")).as("na"), first(col("p.nb")).as("nb"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The q31 oracle — ONE fragment (shingle → df-capped posting →
    * pair → rounded jaccard ≥ 0.5), composed verbatim into q205's
    * threshold curve. */
  private[graft] def jaccardOracleSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
      |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
      |    SELECT doc_id, tok,
      |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
      |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
      |    FROM tok) WHERE lead2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |keep AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= $defaultMaxDf),
      |shc AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON pairs.doc_a = sa.doc_id
      |JOIN sizes sb ON pairs.doc_b = sb.doc_id
      |WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q205: dedup threshold-aggressiveness curve ------------------

  /** Jaccard thresholds swept by q205 (the pair artifact is floored
    * at 0.5, so the grid starts there; oracle VALUES are generated
    * from this list). */
  private[graft] val JacGrid = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** q205: the DEDUP AGGRESSIVENESS CURVE — at each jaccard
    * threshold τ, how many near-dup pairs survive, how many docs the
    * keep-smallest-id rule would remove (a doc is removed iff it has
    * ANY smaller-id neighbor at ≥ τ — the MinHash-dedup convention
    * q93's exact pipeline applies), and how many tokens that
    * removal frees: the planning table behind choosing a dedup τ
    * (q189 prices GRANULARITIES at fixed rules; this prices the
    * THRESHOLD). Scale shape: the τ sweep never touches the corpus —
    * it rides the dup-rate-bounded q31 pair DISK artifact crossed
    * with the 5-row grid; the only corpus touch is the slim
    * (doc_id, n_tok) projection joined to the removed-doc ids
    * (removed-set-sized equi-join). Float discipline: jaccard is the
    * q31 rounded value; τ compares are rounded-vs-literal, exact
    * cross-engine (lever (c)); counts exact longs. */
  def dedupThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = jaccardPairs(spark, dir)
    val grid = JacGrid.toDF("tau")
    val docTok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
    val flagged = pairs.crossJoin(broadcast(grid))
      .filter(col("jaccard") >= col("tau"))
    val pairCounts = flagged.groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pairs"))
    val removedStats = flagged.select(col("tau"), col("doc_b").as("doc_id"))
      .distinct()
      .join(docTok, Seq("doc_id"))
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_docs_removed"),
        sum(col("n_tok")).cast("long").as("tokens_removed"))
    grid.join(pairCounts, Seq("tau"), "left")
      .join(removedStats, Seq("tau"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_removed", "tokens_removed"))
      .orderBy(col("tau"))
  }

  /** The q205 oracle — q31's verified fragment composed verbatim
    * (lever (ff)), grid generated from [[JacGrid]]. */
  private[graft] def dedupThresholdCurveOracleSql: String = {
    val vals = JacGrid.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
    s"""WITH g(tau) AS (VALUES $vals),
       |d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |f AS (
       |  SELECT g.tau, p.doc_a, p.doc_b
       |  FROM ($jaccardOracleSql) p CROSS JOIN g WHERE p.jaccard >= g.tau),
       |pc AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM f GROUP BY 1),
       |rm AS (SELECT DISTINCT tau, doc_b FROM f),
       |rs AS (
       |  SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_docs_removed,
       |    CAST(SUM(n_tok) AS BIGINT) AS tokens_removed
       |  FROM rm JOIN d ON rm.doc_b = d.doc_id GROUP BY 1)
       |SELECT g.tau,
       |  CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(rs.n_docs_removed, 0) AS BIGINT) AS n_docs_removed,
       |  CAST(COALESCE(rs.tokens_removed, 0) AS BIGINT) AS tokens_removed
       |FROM g LEFT JOIN pc USING (tau) LEFT JOIN rs USING (tau)
       |ORDER BY tau""".stripMargin
  }

  /** q219 reviewer quota per jaccard band. */
  private[graft] val PairReviewK = 3

  /** q219: NEAR-DUP REVIEW QUEUE — q211's sibling for the DEDUP
    * knob: q205 prices each τ in pairs/docs/tokens, but a threshold
    * owner decides by LOOKING at borderline merges (is 0.5 merging
    * true rewrites or just shared boilerplate?), so this op deals a
    * deterministic K-pair sample per jaccard band ([[JacGrid]]'s
    * half-open bands) from the SAME verified pair list. Sampled by
    * the shared q78-family hash over both pair ids, so a reviewer
    * sees the same pairs tomorrow unless the data changed (q211's
    * reproducibility contract).
    *
    * Scale shape: rides the q31 pair DISK artifact — the sweep never
    * touches the corpus; the band column is row-local; the rank
    * window runs over the near-dup-sized pair frame per band and is
    * WindowGroupLimit-pushed (per-partition top-K heaps). Band
    * compares are exact: rounded jaccard vs the grid's double
    * literals (lever (c)). */
  def dedupReviewQueue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.CorpusOps.{sampleHash, SampleHashP}
    val bandCol = JacGrid.reverse.tail
      .foldLeft(when(col("jaccard") >= JacGrid.last, lit(JacGrid.last))) {
        case (acc, t) => acc.when(col("jaccard") >= t, lit(t))
      }
    val key = (sampleHash(col("doc_a")) + sampleHash(col("doc_b"))) % SampleHashP
    val w = Window.partitionBy(col("band"))
      .orderBy(key.asc, col("doc_a").asc, col("doc_b").asc)
    jaccardPairs(spark, dir)
      .withColumn("band", bandCol)
      .withColumn("review_rank", row_number().over(w).cast("long"))
      .filter(col("review_rank") <= PairReviewK)
      .select(col("band"), col("review_rank"), col("doc_a"), col("doc_b"),
        col("jaccard"))
      .orderBy(col("band"), col("review_rank"))
  }

  /** The q219 oracle — q31's verified pair fragment as a derived
    * table (lever (ff)), the band CASE generated from [[JacGrid]],
    * the sample stated as a hash rank window (lever (h)). */
  private[graft] def dedupReviewQueueOracleSql: String = {
    import graft.operators.CorpusOps.{SampleHashC, SampleHashP}
    val bands = JacGrid.reverse.map(t =>
      s"WHEN jaccard >= CAST($t AS DOUBLE) THEN CAST($t AS DOUBLE)")
      .mkString(" ")
    s"""WITH b AS (
       |  SELECT doc_a, doc_b, jaccard, CASE $bands END AS band
       |  FROM ($jaccardOracleSql)),
       |k AS (
       |  SELECT band, doc_a, doc_b, jaccard,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY band
       |      ORDER BY (((doc_a % $SampleHashP * $SampleHashC) % $SampleHashP)
       |              + ((doc_b % $SampleHashP * $SampleHashC) % $SampleHashP)) % $SampleHashP,
       |        doc_a, doc_b) AS BIGINT) AS review_rank
       |  FROM b)
       |SELECT band, review_rank, doc_a, doc_b, jaccard
       |FROM k WHERE review_rank <= $PairReviewK
       |ORDER BY band, review_rank""".stripMargin
  }

  /** Candidate support floor for [[editDedup]]: a pair must share at
    * least this many distinct 3-shingles before the quadratic
    * levenshtein verify runs on it. */
  private[graft] val EditMinShingles = 3L
  /** Near-dup admission: edit distance ≤ this fraction of the longer
    * text. */
  private[graft] val EditMaxRatio = 0.3d

  /** q148: EDIT-DISTANCE near-dup pairs — the candidate-then-verify
    * shape every expensive pairwise metric takes at scale: cheap
    * recall-oriented blocking (the q31 shingle inverted index with
    * the same hot-posting df cap) proposes pairs, and only those with
    * ≥ [[EditMinShingles]] shared shingles pay the O(len²)
    * levenshtein verify (Spark's codegen'd built-in). The verify
    * joins are two id-keyed equi-joins that move text ONLY for the
    * near-dup-bounded candidate set — never a corpus self-join.
    * Floats: dist and lengths are exact ints, the ratio is one
    * correctly-rounded IEEE division → the admitted pair SET is
    * exact cross-engine (threshold compare on identical doubles);
    * round(,6) on the emitted ratio is presentation only.
    *
    * Disk-artifact wrapper ([[jaccardPairs]]'s discipline): the
    * verified pair list is written once per (session, corpus) and
    * re-read thereafter — a caller's clearCache() never
    * re-run the posting pyramid + levenshtein verify. The
    * deterministic ORDER BY is re-applied on read (parquet re-reads
    * don't preserve row order). */
  def editDedup(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "editpairs", dir)(
      editDedupDerive(spark, dir).write.parquet(_))
      .read().orderBy(col("doc_a"), col("doc_b"))

  private[graft] def editDedupDerive(spark: SparkSession, dir: String,
      maxDf: Int = defaultMaxDf): DataFrame = {
    val sh = shingled(spark, dir)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val postings = sh.groupBy(col("sh"))
      .agg(sort_array(collect_list(
        struct(col("doc_id").as("id"), lit(0L).as("w")))).as("docs"))
      .filter(size(col("docs")) <= maxDf)
    val cand = postings
      .select(explode(graft.plans.PairExprs.postingPairs(col("docs"))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= EditMinShingles)
    val texts = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // BANDED levenshtein: any admitted pair has dist <= ratio*mlen <=
    // ratio*maxLen =: T, so computing the O(len*T) banded DP with the
    // corpus-max threshold (one bounded driver scalar) returns the
    // EXACT distance for every admitted pair and -1 (filtered) for
    // pairs the full O(len^2) DP would reject anyway — same admitted
    // set and values, quadratic cost only within the band
    val maxLenRow = Tables.documents(spark, dir)
      .agg(max(length(col("text")))).head
    // max() over an empty corpus is NULL — guard instead of NPE
    val maxLen = if (maxLenRow.isNullAt(0)) 0 else maxLenRow.getInt(0)
    val band = math.ceil(EditMaxRatio * maxLen).toInt
    cand
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("text_a")),
        Seq("doc_a"))
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("text_b")),
        Seq("doc_b"))
      .withColumn("dist",
        levenshtein(col("text_a"), col("text_b"), band).cast("long"))
      .withColumn("mlen",
        greatest(length(col("text_a")), length(col("text_b"))).cast("long"))
      .filter(col("dist") >= 0L &&
        col("dist").cast("double") / col("mlen").cast("double")
        <= EditMaxRatio)
      .select(col("doc_a"), col("doc_b"), col("dist"),
        round(col("dist").cast("double") / col("mlen").cast("double"), 6)
          .as("edit_ratio"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q156 admission threshold on the tf·idf cosine. */
  private[graft] val TfidfCosThreshold = 0.3d

  /** q156: TF·IDF-WEIGHTED COSINE near-dup pairs over the 3-shingle
    * vector space — the weighted complement of q31's set Jaccard
    * (repeated shingles count, rare shingles count MORE; the classic
    * sparse all-pairs similarity / DISCO shape). One (doc, shingle)
    * tf agg → df join (shingle-keyed SMJ; the df table is
    * corpus-scaled, never broadcast) with the q31 df cap → posting
    * arrays carrying micro-scaled integer weights through the SAME
    * codegen PostingPairs kernel (pairs share every posting, so the
    * dot product is one grouped sum — the corpus is never
    * self-joined). Float discipline: weights round(,6) (bm25's
    * per-term convention), then the WHOLE dot product runs in exact
    * integer math — micro-scaled long weights multiply as
    * DECIMAL(38,0) (no long overflow, no per-term float round whose
    * shortest-repr HALF_UP can split the engines at an 8th-decimal
    * half-boundary — the lever-(k) hazard round 5's advisor
    * flagged), sum exactly, and scale down ONCE with an explicit
    * half-up integer rule ((s + 5000) div 10^4; products are
    * nonnegative); the final double is one exact-int-over-1e8
    * division, cosine = RAW quotient of identically-derived doubles
    * (lever (k)) with a raw threshold compare (lever (c)) — the
    * admitted pair SET is exact at any scale.
    *
    * Disk-artifact wrapper (jaccardPairs's discipline) — the admitted
    * pair list is written once per (session, corpus), deterministic
    * ORDER BY re-applied on read. */
  def tfidfCosine(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "cospairs", dir)(
      tfidfCosineDerive(spark, dir).write.parquet(_))
      .read().orderBy(col("doc_a"), col("doc_b"))

  private[graft] def tfidfCosineDerive(spark: SparkSession, dir: String,
      maxDf: Int = defaultMaxDf): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.plans.WordNGrams(toks, 3, distinct = false)).as("sh"))
    val tf = sh.groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val n = sh.agg(countDistinct(col("doc_id")).as("n"))
    val w = tf.join(dfT, Seq("sh")).filter(col("df") <= maxDf)
      .crossJoin(broadcast(n))
      .withColumn("w",
        round(col("tf") * log2(col("n").cast("double") / col("df")), 6))
      .withColumn("wm", round(col("w") * lit(1000000.0d), 0).cast("long"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(round(col("w") * col("w"), 8).cast("decimal(18,8)"))
        .cast("decimal(18,8)").cast("double")).as("nrm"))
    val dot = w
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(
        struct(col("doc_id").as("id"), col("wm").as("w")))).as("docs"))
      .select(explode(graft.plans.PairExprs.postingPairs(col("docs"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        (col("p.na").cast("decimal(19,0)") * col("p.nb").cast("decimal(19,0)"))
          .as("prod")) // exact micro² (1e-12-unit) integer product
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("prod")).cast("decimal(38,0)").as("s"))
      .select(col("doc_a"), col("doc_b"),
        (expr("(s + 5000) div 10000").cast("double") / lit(1e8d)).as("dot"))
    dot
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("n_a")),
        Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("n_b")),
        Seq("doc_b"))
      .withColumn("cosine", col("dot") / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= TfidfCosThreshold)
      .select(col("doc_a"), col("doc_b"), col("dot"), col("cosine"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash + LSH (Broder 1997): K=64 signature from one xxhash64
    * base hash per shingle expanded by 64 affine derivations; 16
    * bands × 4 rows; docs sharing a band bucket become candidates;
    * candidates verified with exact set Jaccard (array_intersect on
    * the per-doc shingle arrays — row-local, no second shuffle pass
    * over the corpus). Probabilistic → rows-only check; recall vs
    * exact Jaccard asserted in DedupSpec. */
  // MinHash family constants, shared by the batch operator and the
  // streaming candidate detector (identical keys on both paths).
  // Base hash reduced mod p so the affine family (2i+1)·x + i·c stays
  // within long range under ANSI arithmetic (no overflow).
  private[graft] val minhashK = 64
  private[graft] val minhashR = 4 // rows per band → 16 bands
  private[graft] val minhashP = 1000000007L
  private[graft] val minhashC = 2654435761L

  /** ROW-LOCAL K-min signature from a shingle array — the streaming
    * path (one doc per row, no shuffle), as the native codegen
    * MinHashSigExpr kernel. The batch operator computes the SAME
    * mins via explode + codegen'd grouped min-aggregates
    * ([[groupedSig]]); DedupSpec asserts the two signatures are
    * identical on the corpus — which also pins the kernel's XXH64 to
    * Spark's xxhash64. */
  private[graft] def sigCol(shingles: Column): Column =
    graft.plans.MinHashSigExpr(shingles, minhashK, minhashP, minhashC)

  /** 16 (band, key) structs from a signature column, row-local. */
  private[graft] def bandKeysCol(sig: Column): Column =
    array((0 until minhashK / minhashR).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * minhashR + 1, minhashR)).as("key"))
    }: _*)

  /** Per-doc word-3-shingle array column (shared with streaming). */
  private[graft] def shinglesCol: Column = TextFns.wordShingles(toks, 3)

  /** BATCH K-min signature table (doc_id, sig): K wide min-aggregates
    * — fully codegen'd hash aggregation with map-side partials, one
    * shuffle on doc_id carrying 64 longs per partial group, NO K-fold
    * row blowup, no object aggregation. The corpus-scan formulation
    * of [[sigCol]] (64 interpreted lambdas per row measured ~25 ms/
    * 1000 docs×row — fine per arriving event, 100× too slow as a
    * scan); DedupSpec asserts the two produce identical signatures. */
  private[graft] def groupedSig(spark: SparkSession, dir: String): DataFrame = {
    // the signature TABLE is the materialized artifact every real
    // minhash deployment keeps next to the corpus (it is what makes
    // re-dedup incremental); disk per (session, corpus) like the
    // pair/cluster artifacts — survives cache clears, shared by
    // q32/q71/q75's batch twins
    graft.SessionRegistry.artifact(spark, "sigs", dir) { p =>
      val sh = shingled(spark, dir)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .withColumn("x", pmod(xxhash64(col("sh")), lit(minhashP)))
      val minCols = (0 until minhashK).map(i =>
        min(pmod(col("x") * (2L * i + 1L) + i.toLong * minhashC, lit(minhashP))).as(s"m$i"))
      sh.groupBy(col("doc_id"))
        .agg(minCols.head, minCols.tail: _*)
        .select(col("doc_id"),
          array((0 until minhashK).map(i => col(s"m$i")): _*).as("sig"))
        .write.parquet(p)
    }.read()
  }

  def minhash(spark: SparkSession, dir: String): DataFrame = {
    // examined, not persisted (opt r08): the verify step joins the
    // shingle table on both pair sides, but the frame carries the
    // full shingle-array payload — persisting it materializes
    // corpus-sized arrays into cache where the re-execution is a
    // pruned scan + row-local shingling (the labeledEmb rule)
    val docs = shingled(spark, dir)
    val sig = groupedSig(spark, dir)
    // 16 band keys per doc, row-local from the signature array
    val bandCols = bandKeysCol(col("sig"))
    // Band-bucket cap (same rationale as the shingle posting cap): a
    // bucket of B docs yields B²/2 candidates; at 100 TB a boilerplate-
    // heavy corpus can put millions of near-identical docs in one
    // bucket. Dropped pairs there are overwhelmingly exact dups, which
    // the exact pass (Dedup.exact) already collapses. Non-binding at
    // test SFs, so DedupSpec recall/precision asserts are unaffected.
    val buckets = sig
      .select(col("doc_id"), explode(bandCols).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) <= defaultMaxDf)
    val cand = buckets
      .select(explode(graft.plans.PairExprs.postingPairs(col("docs"))).as("p"))
      .select(col("p.id_a").as("doc_a"), col("p.id_b").as("doc_b"))
      .distinct()
    // exact re-verification: plain equi-joins against the corpus
    // shingle table. NO broadcast hint — at test SF Catalyst/AQE pick
    // broadcast from stats; at 100 TB the shingle table is tens of GB
    // and the same plan degrades gracefully to a shuffle join keyed on
    // doc id (the candidate side is near-dup-sized either way).
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("sha")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("shb")), "doc_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-dup: 64-bit signature per doc via the native
    * SimHash64 Expression, then 4×16-bit band bucketing (pigeonhole:
    * Hamming ≤ 3 ⟹ at least one equal band) and an exact Hamming
    * check on candidates. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairsFrom(Tables.documents(spark, dir)
      .select(col("doc_id"), SimHash64(toks).as("sig")))

  /** THE simhash band/verify pipeline over a (doc_id, sig) frame —
    * shared by q33 (FNV family) and q199 (oracle-mirrorable poly
    * family): 4×16-bit band bucketing (pigeonhole: Hamming ≤ 3 ⟹ at
    * least one equal band) and an exact Hamming check on candidates. */
  private def simhashPairsFrom(sigs: DataFrame): DataFrame = {
    val bandCols = array((0 until 4).map { j =>
      struct(lit(j).as("band"),
        shiftrightunsigned(col("sig"), j * 16).bitwiseAND(lit(0xffffL)).as("key"))
    }: _*)
    val bands = sigs
      .select(col("doc_id"), col("sig"), explode(bandCols).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("band_key"))
      // ONE exchange on the join keys, shared by both sides of the
      // band self-join: the per-token signature fold runs once
      .repartition(col("band"), col("band_key"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("a.sig").as("sig_a"),
        col("b.doc_id").as("doc_b"), col("b.sig").as("sig_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q199: SimHash near-dup pairs PROMOTED TO THE ORACLE GATE — the
    * q93 lever applied to the q33 family: token bits come from two
    * 32-bit polynomial folds (plans/PolySimHash, bases 31/37 mod
    * 2^32 — every intermediate int64-exact), so DuckDB replays the
    * fold, the 64 votes, the sign bits, the band buckets, and the
    * Hamming verify VALUE-FOR-VALUE (the oracle works on the 64-char
    * bitstring — lever (o), bijective with the long). Same banding +
    * verify pipeline as q33 (shared def); q33 keeps the FNV family
    * as the rows-only variant with its recall spec. Scale shape
    * unchanged: one scan, row-local codegen signature, band-key
    * equi-join on 16-bit buckets — never a corpus self-join. */
  def simhashExact(spark: SparkSession, dir: String): DataFrame =
    simhashPairsFrom(Tables.documents(spark, dir)
      .select(col("doc_id"), graft.plans.PolySimHash(toks).as("sig")))

  /** The q199 oracle, GENERATED from PolySimHash's constants: per-
    * token dual folds → 64 vote sums → sign bitstring (bit 63 first)
    * → 16-char band substrings → pigeonhole join → character-level
    * Hamming verify. */
  private[graft] def simhashExactOracleSql: String = {
    import graft.plans.PolySimHash.{BaseHi, BaseLo, HalfMod}
    def foldSql(base: Long) =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(list_filter(string_split(tok, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))), " +
        s"(a, c) -> (a * $base + c) % $HalfMod)"
    val voteCols = (0 until 64).map { j =>
      val (half, sh) = if (j < 32) ("lo", j) else ("hi", j - 32)
      s"CAST(SUM(CASE WHEN ($half // ${1L << sh}) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$j"
    }.mkString(",\n      |    ")
    val bitConcat = (63 to 0 by -1)
      .map(j => s"CASE WHEN v$j > 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")
    s"""WITH t0 AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    ${foldSql(BaseHi)} AS hi,
      |    ${foldSql(BaseLo)} AS lo
      |  FROM t0),
      |v AS (
      |  SELECT doc_id,
      |    $voteCols
      |  FROM h GROUP BY doc_id),
      |s AS (SELECT doc_id, $bitConcat AS bits FROM v),
      |b AS (
      |  SELECT doc_id, bits, off, substr(bits, off, 16) AS key
      |  FROM s, UNNEST([1, 17, 33, 49]) AS u(off)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, a.bits AS ba,
      |    b2.doc_id AS doc_b, b2.bits AS bb
      |  FROM b a JOIN b b2 ON a.off = b2.off AND a.key = b2.key
      |    AND a.doc_id < b2.doc_id),
      |ham AS (
      |  SELECT doc_a, doc_b,
      |    CAST(len(list_filter(range(1, 65), i -> ba[i] != bb[i])) AS BIGINT) AS hamming
      |  FROM cand)
      |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Embedding-cosine near-dup via multi-table random-hyperplane LSH:
    * 12 tables × 6 hyperplanes → 12 6-bit bucket keys per vector;
    * pairs colliding in ANY table become candidates; only candidates
    * get the exact cosine. Multi-table trades a constant factor of
    * shuffle volume for recall — at a real near-dup threshold
    * (cos ≥ 0.9, sign-agreement p ≈ 0.9) recall is ≈1−(1−p⁶)¹² > 0.99;
    * the synthetic corpus is near-orthogonal (max cos ≈ 0.5) so the
    * spec asserts recall against the brute-force baseline instead of
    * an oracle. */
  // Embedding-LSH table geometry + seed, in ONE place — consumed by
  // batch q34/q100 and the q101 ingest stream (identical buckets on
  // both paths by construction).
  private[graft] val embTables = 12
  private[graft] val embBits = 6
  private[graft] lazy val embPlanes: Array[Array[Double]] =
    hyperplanes(nPlanes = embTables * embBits, dim = 64, seed = 42)

  /** All 72 plane projections in ONE codegen kernel (the plane table
    * rides as a reference object — no 4.6k-literal expression tree,
    * PlaneExprs). */
  private[graft] def embPlaneCodes: Column =
    graft.plans.PlaneExprs.planeCodes(col("embedding"), embPlanes, embTables, embBits)

  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val codes = embPlaneCodes
    // candidate generation shuffles ONLY (table, bucket, id) — the
    // 64-float embeddings never ride through the pair explosion; they
    // are joined back per candidate with UNHINTED equi-joins (AQE
    // broadcasts at this scale from stats; at 100 TB the embedding
    // table is too big to broadcast and the same plan shuffle-joins
    // on vec id — the pair set is near-dup-sized either way).
    val cand = emb
      .select(col("vec_id"), posexplode(codes).as(Seq("t", "bucket")))
      .groupBy(col("t"), col("bucket"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .select(explode(graft.plans.PairExprs.postingPairs(col("ids"))).as("p"))
      .select(col("p.id_a").as("vec_a"), col("p.id_b").as("vec_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("cos", round(VecFns.cosine(col("ea"), col("eb")), 6))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Session-keyed disk artifact for the jaccard near-dup PAIR LIST — the
    * shared-artifact pattern (the reference shares computed outputs
    * between tasks through gokart task artifacts; the model
    * registries in MlOps play the same role). clusters() consumes
    * the exact pair list a user materializes with [[jaccard]];
    * without the registry every clusters() call re-scans and
    * re-shingles the whole corpus to re-derive edges it already
    * computed. Keyed by (session, dir): a restarted session must
    * never see a dead session's frame. */
  private[graft] def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // DISK artifact, not an in-memory persist: the pair list is the
    // reference's gokart FILE artifact in kind, and a parquet
    // re-read (~near-dup-sized) survives spark.catalog.clearCache(),
    // so consumers never re-run the shingle-join pyramid within a
    // session even across a caller's cache clears
    graft.SessionRegistry.artifact(spark, "pairs", dir)(
      jaccard(spark, dir).write.parquet(_)).read()
  }

  /** Near-dup CLUSTERS from the Jaccard pair list: connected
    * components by iterative min-label propagation (the standard
    * large-graph CC — rounds ≈ component diameter). Each round is ONE
    * job over the cached graph: the neighbor-min join and the
    * converged? flag are computed in the same cached frame, so there
    * is no separate driver-side comparison join per round. The pair
    * graph is near-dup-sized (bounded by the dup rate, orders of
    * magnitude smaller than the corpus), so it is materialized once
    * and collapsed to a few partitions — per-round work then costs
    * scheduler time, not shuffle time; at a 100 TB dup-heavy corpus
    * the same plan simply keeps more partitions. */
  /** Edge-count bound for the single-task union-find path: 10M
    * symmetric edges ≈ 160 MB in one task — comfortably within an
    * executor; above it the label-propagation loop takes over. */
  val smallGraphEdges = 10000000L

  /** Cluster-table artifact — same shared-artifact pattern as
    * [[jaccardPairs]]: the cluster table is a pipeline artifact
    * consumed by multiple downstream ops (q35's rollup, q80's
    * representative selection), and it is near-dup-sized, so one
    * disk copy per (session, corpus) is the right lifetime. */
  def clusters(spark: SparkSession, dir: String): DataFrame = {
    // same disk-artifact discipline as [[jaccardPairs]]
    graft.SessionRegistry.artifact(spark, "clusters", dir)(p =>
      graft.SessionRegistry.persisting(
        clusters(spark, dir, _, smallGraphEdges).write.parquet(p))).read()
  }

  private[graft] def clusters(spark: SparkSession, dir: String, scope: Scope,
      smallGraphMax: Long): DataFrame =
    componentsOf(spark,
      jaccardPairs(spark, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      scope, smallGraphMax)

  /** Connected components over ANY (src, dst) pair frame — the
    * cluster machinery factored off its edge source so every pair
    * generator (shingle Jaccard q35, embedding LSH q100) shares one
    * implementation: size-adaptive single-task union-find for
    * dup-rate-bounded graphs, min-label propagation above the
    * threshold. The edge list and every label round stay persisted in
    * `scope`, so the caller writes or collects the cluster table
    * inside it. */
  private[graft] def componentsOf(spark: SparkSession, edges: DataFrame,
      scope: Scope, smallGraphMax: Long = smallGraphEdges): DataFrame = {
    // materialize the symmetric edge list ONCE (the pair scan never
    // re-runs) and shrink it: the graph is tiny relative to the corpus
    val sym = scope.persisted(edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(4))
    val nEdges = sym.count()
    if (nEdges <= smallGraphMax) {
      // The near-dup graph is dup-rate-bounded — orders of magnitude
      // smaller than the corpus — so the COMMON case fits one task:
      // coalesce the edge list and run union-find inside a single
      // executor task (ONE job, no per-round scheduling; still the
      // distributed API, nothing comes to the driver). The loop
      // below is the arbitrarily-large-graph path; DedupSpec runs
      // both and asserts identical clusters.
      import spark.implicits._
      val labels = sym.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // root = min member by construction (always parent to the min)
        parent.keysIterator.map(id => (id, find(id)))
      }.toDF("id", "label")
      return clusterRollup(labels)
    }
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var changed = 1L
    var rounds = 0
    val maxRounds = 30 // >= diameter of any plausible near-dup chain
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = sym.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr"))
        .withColumnRenamed("src", "id")
      // new label + per-row changed flag in one frame; `least` skips
      // the null nbr of rows with no lower-labeled neighbor
      val prop = scope.persisted(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), col("nbr")).as("label"),
          (col("nbr") < col("label")).as("ch")))
      changed = prop.filter(col("ch")).count() // the round's only action
      labels = prop.select(col("id"), col("label"))
      rounds += 1
    }
    // fail loudly rather than emit silently-split components
    require(changed == 0,
      s"connected components did not converge in $maxRounds rounds")
    clusterRollup(labels)
  }

  /** (id, label) → the cluster table (min-label id, size, members). */
  private def clusterRollup(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sort_array(collect_list(col("id"))).as("members"))
      .select(col("cluster_id"), col("cluster_size"),
        concat_ws(",", col("members")).as("members"))
      .orderBy(col("cluster_id"))

  /** q234: CLUSTER-SIZE DISTRIBUTION of the near-dup graph — per
    * size: cluster count, doc mass, docs a keep-one rule removes,
    * and the corpus fraction, INCLUDING the size-1 row (docs in no
    * cluster). The power-law audit every dedup report leads with
    * (Lee et al. 2021 §4 bucket duplicates by cluster size before
    * deciding policy): a removal mass dominated by a few mega-
    * clusters is a template/boilerplate symptom with a different fix
    * (q94) than a long tail of pairs, and the singleton row is the
    * denominator that makes "X% of the corpus is near-duplicated"
    * honest.
    *
    * Scale shape: rides the q35 cluster DISK artifact (dup-rate-
    * bounded — no corpus pass beyond the 1-row total count); the
    * distribution is a |distinct sizes|-row agg, the normalizer an
    * unpartitioned window over it (bounded-survivor class), the
    * singleton row a scalar cross of two 1-row aggs (the q213
    * shape). Counts exact longs; corpus_frac = one IEEE division
    * (lever (c)). Oracle: q35's verified recursive chain closed by
    * the size histogram (lever (ff) — whole fragment as a derived
    * producer), so every cluster boundary behind the card is
    * value-checked. */
  def clusterSizeDist(spark: SparkSession, dir: String): DataFrame = {
    val dist = clusters(spark, dir)
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("cluster_size") - 1L).as("n_removed"))
    val singletons = graft.Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(
        dist.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_clustered"))))
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"),
        lit(0L).as("n_removed"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dist.unionByName(singletons)
      // zero-denominator guard: an EMPTY corpus has total 0 (ANSI
      // errors on double x/0 too — the empty-corpus sweep class)
      .withColumn("corpus_frac",
        when(sum(col("n_docs")).over(w) =!= 0L,
          col("n_docs").cast("double") / sum(col("n_docs")).over(w).cast("double")))
      .orderBy(col("cluster_size"))
  }

  /** The verified q35 cluster chain (shingle → Jaccard ≥ 0.5 →
    * symmetric edges → recursive reachable-label closure → min-label
    * per id) as a shared WITH-prefix (lever (t)): ONE producer, two
    * consumers — q35's member rollup and q234's size histogram. */
  private[graft] def clusterChainSql: String =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS tok,
      |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\s+'), 1) AS ord
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
      |    SELECT doc_id, tok,
      |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
      |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
      |    FROM tok) WHERE lead2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT doc_a, doc_b
      |  FROM cand
      |  JOIN sizes sa ON cand.doc_a = sa.doc_id
      |  JOIN sizes sb ON cand.doc_b = sb.doc_id
      |  WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM jac
      |  UNION ALL
      |  SELECT doc_b, doc_a FROM jac),
      |cc(id, label) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, cc.label FROM edges e JOIN cc ON e.dst = cc.id),
      |lab AS (SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id)""".stripMargin

  /** The q35 oracle: the shared chain closed by the member rollup. */
  private[graft] def clustersOracleSql: String =
    clusterChainSql + """
      |SELECT cluster_id, COUNT(*) AS cluster_size,
      |  STRING_AGG(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
      |FROM lab GROUP BY cluster_id
      |ORDER BY cluster_id""".stripMargin

  /** The q234 oracle: the SAME chain closed by the size histogram +
    * the singleton row + the window normalizer. */
  private[graft] def clusterSizeDistOracleSql: String =
    clusterChainSql + """,
      |cl AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM lab GROUP BY cluster_id),
      |dist AS (
      |  SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |    CAST(SUM(sz) AS BIGINT) AS n_docs, CAST(SUM(sz - 1) AS BIGINT) AS n_removed
      |  FROM cl GROUP BY sz),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |clu AS (SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) AS c FROM dist),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS cluster_size, tot.n - clu.c AS n_clusters,
      |    tot.n - clu.c AS n_docs, CAST(0 AS BIGINT) AS n_removed
      |  FROM tot, clu),
      |u AS (SELECT * FROM dist UNION ALL SELECT * FROM s1)
      |SELECT cluster_size, n_clusters, n_docs, n_removed,
      |  CASE WHEN CAST(SUM(n_docs) OVER () AS BIGINT) != 0 THEN
      |    CAST(n_docs AS DOUBLE) / CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE)
      |  END AS corpus_frac
      |FROM u ORDER BY cluster_size""".stripMargin

  /** q238: DEDUP-ORDERING ROI — the pipeline-design card for the
    * classic "filter before dedup, or dedup before filter" question:
    * exact-dup mass among ALL docs vs among quality-PASS docs only.
    * Filtering first shrinks the dedup working set (the saved
    * fraction this card reports) but forfeits cluster evidence from
    * failed twins (cf. the NfcIngestSpec conjunction-annihilation
    * class); pipelines pick an order with this table, not by
    * convention. Digest = THE q30 rule (normText→md5, one def);
    * pass = THE q72 rule family.
    *
    * Scale shape: one scan computing digest + the row-local rule
    * columns, one slim (digest, counts) shuffle, a 1-row rollup.
    * saved_frac = one IEEE division of exact longs, zero-denominator
    * guarded (levers (c)/(q)). Oracle: the verified q30 digest and
    * q72 rule fragments composed (lever (ff)). */
  def dedupOrderRoi(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextOps => T}
    val flags = Tables.documents(spark, dir)
      .select(Seq(md5(normText).as("k")) ++ T.gopherSignalCols: _*)
      .select(col("k"), T.gopherPassAt(T.GopherMinWords, T.GopherTtrMin).as("pass"))
    flags.groupBy(col("k"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("pc"))
      .agg(sum(col("c")).as("n_docs"),
        sum(col("pc")).as("n_pass"),
        sum(col("c") - 1L).as("n_dup_all"),
        sum(when(col("pc") > 0L, col("pc") - 1L).otherwise(0L))
          .as("n_dup_after_filter"))
      .withColumn("dedup_saved_frac",
        when(col("n_dup_all") > 0L,
          lit(1.0) - col("n_dup_after_filter").cast("double")
            / col("n_dup_all").cast("double")))
  }

  /** The q238 oracle — the q30 digest and q72 rule fragments
    * composed into one chain. */
  private[graft] def dedupOrderRoiOracleSql: String = {
    val (w, ml, tr, st) = graft.operators.TextOps.gopherRulePredsSql(
      graft.operators.TextOps.GopherMinWords,
      graft.operators.TextOps.GopherTtrMin)
    s"""WITH ${graft.operators.TextOps.gopherSignalCteSql},
       |h AS (
       |  SELECT doc_id,
       |    md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS k
       |  FROM documents),
       |j AS (
       |  SELECT h.k, ($w AND $ml AND $tr AND $st) AS pass
       |  FROM h JOIN d USING (doc_id)),
       |g AS (
       |  SELECT k, CAST(COUNT(*) AS BIGINT) AS c,
       |    CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS pc
       |  FROM j GROUP BY k)
       |SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
       |  CAST(SUM(pc) AS BIGINT) AS n_pass,
       |  CAST(SUM(c - 1) AS BIGINT) AS n_dup_all,
       |  CAST(SUM(CASE WHEN pc > 0 THEN pc - 1 ELSE 0 END) AS BIGINT) AS n_dup_after_filter,
       |  CASE WHEN CAST(SUM(c - 1) AS BIGINT) > 0 THEN
       |    1.0 - CAST(CAST(SUM(CASE WHEN pc > 0 THEN pc - 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |      / CAST(CAST(SUM(c - 1) AS BIGINT) AS DOUBLE)
       |  END AS dedup_saved_frac
       |FROM g""".stripMargin
  }

  /** q172: cross-source DUPLICATE-FLOW matrix — which sources share
    * near-duplicate content with which (the corpus-governance
    * diagnostic behind source-level dedup budgeting and "is source X
    * scraping source Y" audits; the source-level rollup of q31's
    * verified pair list). Scale shape: the near-dup pair DISK
    * artifact ([[jaccardPairs]]) joined twice to the slim (id,
    * source) projection — id-keyed equi-joins of a dup-rate-bounded
    * table, then a |sources|²-bounded rollup; the corpus is never
    * rescanned. Unordered source pair normalized via least/greatest
    * so (a,b) and (b,a) flows collapse. max over round(,6) values is
    * an exact pick → oracle-gated through q31's verified CTE. */
  def dupFlow(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    jaccardPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_x"),
        greatest(col("sa"), col("sb")).as("source_y"), col("jaccard"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .withColumn("cross_source", col("source_x") =!= col("source_y"))
      .select(col("source_x"), col("source_y"), col("cross_source"),
        col("n_pairs"), col("max_jaccard"))
      .orderBy(col("source_x"), col("source_y"))
  }

  /** Seed-fixed pseudo-random unit-free hyperplanes (deterministic
    * across JVMs: scala.util.Random is a fixed LCG). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  // --- q93: MinHash+LSH promoted to the DuckDB oracle gate ---------
  // The q32 pipeline keys on Spark's xxhash64, which no other engine
  // reproduces, so it can only ever be spec-checked (recall/precision
  // vs exact Jaccard). This variant swaps ONLY the base hash: the
  // q26 polynomial rolling hash (poly-31 over bytes mod 1e9+7), which
  // the oracle computes with a list_reduce over ord(c) — ASCII corpus,
  // so bytes == codepoints. Everything downstream (affine K-perm
  // family, banding, bucket pair generation, exact re-verify) is the
  // same distributed shape as q32, so the oracle now certifies the
  // WHOLE LSH pipeline: signature build, band bucketing, candidate
  // generation, and verification, value-exact.
  private[graft] val pmhK = 16 // perms: 4 bands × 4 rows
  private[graft] val pmhR = 4

  /** MinHash+LSH near-dup with a cross-engine-deterministic hash
    * family (Broder 1997 resemblance sketch; reference dedup
    * semantics as in data_frame_utils.py:31). Distributed shape:
    * corpus scanned once (codegen RollingHash on exploded distinct
    * shingles), K=16 codegen'd min-aggregates → one shuffle on
    * doc_id; band key = the 4-long signature slice itself (grouping
    * on the array value — no second hash, so the oracle can express
    * the key); posting-array pair explosion per bucket (no corpus
    * self-join); exact-Jaccard re-verify via plain equi-joins (no
    * broadcast hint — AQE decides from stats, degrades to shuffle
    * join at 100 TB).
    *
    * Disk-artifact wrapper (jaccardPairs discipline): q93's verified
    * pair list is written once per (session, corpus) — it now has
    * TWO consumers (the q93 query and q158's quality report). */
  def minhashExact(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "pmhpairs", dir)(
      minhashExactDerive(spark, dir).write.parquet(_))
      .read().orderBy(col("doc_a"), col("doc_b"))

  /** q158: LSH INDEX QUALITY report — every exact near-dup pair
    * (q31's Jaccard ≥ 0.5 rule) classified by whether the
    * deterministic MinHash-LSH index (q93) surfaced it. Both inputs
    * are deterministic AND independently oracle-verified, so the
    * quality report itself sits on the oracle gate — the recall
    * console every LSH deployment watches (precision needs no
    * report: q93 verifies candidates exactly, so it is 1 by
    * construction). Scale shape: a left join of two near-dup-sized
    * disk artifacts — no corpus scan at all. */
  def lshQuality(spark: SparkSession, dir: String): DataFrame = {
    val exact = jaccardPairs(spark, dir)
    val lsh = minhashExact(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("f"))
    exact.join(lsh, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("f").isNotNull.as("found"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q188: LSH CALIBRATION — predicted vs measured S-curve for the
    * deployed (bands, rows) parametrization. Theory says a pair of
    * similarity s becomes a candidate with P = 1−(1−s^r)^b (Broder/
    * LSH S-curve; Leskovec-Rajaraman-Ullman ch.3); this report bins
    * q158's verified found/missed pairs by similarity and puts the
    * measured hit rate next to that prediction — the console a
    * deployment tunes (b, r) against before re-indexing 100 TB
    * (prediction far off measurement = the hash family or the banding
    * is broken, not the tuning).
    *
    * Float discipline: s is the already-verified round(,6) Jaccard,
    * bit-identical cross-engine; the S-curve is a PURE IEEE multiply
    * chain in a pinned association order (s⁴ left-assoc, then
    * square-of-square — NO pow(), whose libm differs per engine), so
    * every per-pair probability is bit-identical; per-pair p rounds
    * to DECIMAL(18,6) for the order-invariant bucket sum (the float-
    * aggregate convention); rates are raw IEEE divisions.
    *
    * Scale shape: consumes the two near-dup-sized DISK artifacts via
    * [[lshQuality]] — no corpus scan at all; the bucket rollup is
    * ≤ 11 rows. */
  def lshCalibration(spark: SparkSession, dir: String): DataFrame = {
    val s = col("jaccard")
    // exponents from the deployed constants (one family, lever (s));
    // left-associated multiply chains — the oracle emits the same
    def chain(c: Column, n: Int): Column = Seq.fill(n)(c).reduce(_ * _)
    val q = lit(1.0d) - chain(s, pmhR)
    val p = lit(1.0d) - chain(q, pmhK / pmhR)
    lshQuality(spark, dir)
      .select(floor(s * 20).cast("long").as("bucket"),
        col("found"),
        round(p, 6).cast("decimal(18,6)").as("p"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("found"), 1L).otherwise(0L)).as("n_found"),
        sum(col("p")).cast("decimal(18,6)").cast("double")
          .as("expected_found"))
      .select(col("bucket"), col("n_pairs"), col("n_found"),
        col("expected_found"),
        (col("n_found").cast("double") / col("n_pairs").cast("double"))
          .as("found_rate"),
        (col("expected_found") / col("n_pairs").cast("double"))
          .as("expected_rate"))
      .orderBy(col("bucket"))
  }

  private[graft] def minhashExactDerive(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(spark, dir)
    val sh = docs
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .withColumn("x", graft.plans.RollingHash(col("sh")))
    val minCols = (0 until pmhK).map(i =>
      min((col("x") * (2L * i + 1L) + i.toLong * minhashC) % minhashP).as(s"m$i"))
    val sig = sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandCols = array((0 until pmhK / pmhR).map { b =>
      struct(lit(b).as("band"),
        array((0 until pmhR).map(r => col(s"m${b * pmhR + r}")): _*).as("key"))
    }: _*)
    val buckets = sig
      .select(col("doc_id"), explode(bandCols).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= defaultMaxDf)
    val cand = buckets
      .select(explode(graft.plans.PairExprs.postingPairs(col("docs"))).as("p"))
      .select(col("p.id_a").as("doc_a"), col("p.id_b").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("sha")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("shb")), "doc_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q100: SEMANTIC dedup clusters (SemDeDup, Abbas et al. 2023):
    * embedding-space near-dup groups — re-phrasings and
    * re-encodings that share no n-grams, invisible to every lexical
    * dedup axis. Edge source = q34's hyperplane-LSH cosine pairs
    * (ids-only shuffle, exact cosine verify); components = the SAME
    * size-adaptive union-find as q35 ([[componentsOf]]). Rows-only
    * (seeded hyperplanes + float cosine threshold); the cluster
    * structure is spec-asserted against a driver union-find over the
    * same pair list. */
  /** Session-keyed disk artifact for the embedding near-dup pair list —
    * q100's counterpart of [[jaccardPairs]]: componentsOf consumes
    * the edge frame twice (symmetrization), so the LSH + exact-cosine
    * pipeline must not re-execute per consumption. */
  private[graft] def embedPairs(spark: SparkSession, dir: String): DataFrame = {
    // disk artifact like [[jaccardPairs]] — survives cache clears
    graft.SessionRegistry.artifact(spark, "embpairs", dir)(
      embedNearDup(spark, dir).write.parquet(_)).read()
  }

  def semanticClusters(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "semclusters", dir)(p =>
      graft.SessionRegistry.persisting(scope => componentsOf(spark,
        embedPairs(spark, dir)
          .select(col("vec_a").as("src"), col("vec_b").as("dst")), scope)
        .write.parquet(p))).read()
}
