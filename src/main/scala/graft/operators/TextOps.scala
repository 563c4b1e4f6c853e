package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.TextFns
import graft.plans.{RollingHash, SkipGramPairs}

/** Text-analysis operator block — the Spark-native re-expression of
  * the reference's dictionary/TF-IDF stack
  * (/root/reference/redshells/train/train_dictionary.py,
  * /root/reference/redshells/model/tfidf.py) plus the text-quality /
  * language-ID / fingerprint ops a training-data pipeline needs.
  */
object TextOps {

  private def toks = TextFns.tokens(col("text"))

  /** Merge steps q115 trains (shared with the generated oracle SQL —
    * the lever-(a) discipline: one constant, two engines). */
  private[graft] val BpeSteps = 8

  /** Trained merge tables are scalar-sized (BpeSteps rows) →
    * collected-rows registry entries (the q107 pattern): immune to
    * clearCache, never re-fit warm. */
  private val bpeCache = graft.SessionRegistry
    .cache[(SparkSession, String), Seq[(Long, String, String, Long)]]()

  /** q115: BPE MERGE-RULE TRAINING — the tokenizer-training step of
    * an LLM data pipeline (Sennrich et al. 2016; the reference's
    * train_dictionary.py builds the analogous vocabulary artifact for
    * its gensim stack). Classic corpus-level BPE: each word becomes a
    * char-symbol sequence with a `</w>` end marker, and each step
    * merges the (count-max, tie-break lexicographic) adjacent symbol
    * pair across the corpus, counts weighted by word frequency.
    *
    * Scale shape: the ONLY corpus-sized stage is the first word-count
    * scan; everything after runs on the VOCAB table (bounded — ~1M
    * rows at web scale), repartition(1)'d per the tiny-input rule so
    * the 2×BpeSteps jobs don't pay 32-task scheduling. Per step, one
    * bounded argmax row is collected (scheduler-metadata-sized driver
    * work, the q98/q99 class) and re-enters the plan as literals in
    * the merge-apply lambda. The greedy left-to-right merge is a fold
    * over the symbol array — interpreted HOF, acceptable off the
    * corpus path — and the SAME fold, token-for-token, is what the
    * generated DuckDB oracle runs (bpeOracleSql), so the whole
    * trainer is ORACLE-GATED: selection, tie-breaks, and application
    * cannot drift between engines.
    *
    * Output: (step, pair, merged, pair_count) — the merge table a
    * tokenizer ships as its vocab artifact. */
  /** The symbolized word-frequency table BPE training starts from —
    * ONE def shared by q115's trainer and q232's merge-budget curve
    * (shared-rule discipline): (sym, freq), vocab-sized, one corpus
    * scan. */
  private def bpeVocab0(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(concat(concat_ws(" ",
          filter(split(col("word"), ""), c => length(c) > 0)),
        lit(" </w>")).as("sym"), col("freq"))
      .repartition(1)

  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    // each step's vocab stays persisted until training ends: the next
    // step's argmax and merge read it, never its fold lineage
    val rows = bpeCache.getOrElseUpdate((spark, dir), graft.SessionRegistry.persisting { scope =>
      var vocab = scope.persisted(bpeVocab0(spark, dir))
      val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      var step = 1
      var exhausted = false
      while (step <= BpeSteps && !exhausted) {
        val s = split(col("sym"), " ")
        // A fully-merged word has ONE symbol: sequence(0, -1) would
        // DESCEND ([0, -1] → element_at(s, 0), an ANSI error), so pair
        // generation must be empty below 2 symbols — exactly what the
        // oracle's range(1, len) yields (empty for len = 1).
        val best = vocab
          .select(explode(when(size(s) >= 2,
            transform(sequence(lit(0), size(s) - 2),
              j => concat(element_at(s, j + 1), lit(" "), element_at(s, j + 2))))
            .otherwise(array()))
            .as("pr"), col("freq"))
          .groupBy(col("pr")).agg(sum(col("freq")).as("c"))
          .orderBy(col("c").desc, col("pr"))
          .limit(1).collect().headOption
        best match {
          case None => exhausted = true // every word fully merged
          case Some(row) =>
            val pr = row.getString(0)
            val Array(a, b) = pr.split(" ", 2)
            merges += ((step.toLong, pr, a + b, row.getLong(1)))
            vocab = scope.persisted(vocab
              .select(bpeMergeFold(col("sym"), a, b, a + b).as("sym"), col("freq")))
        }
        step += 1
      }
      merges.toSeq
    })
    import spark.implicits._
    rows.toDF("step", "pair", "merged", "pair_count").orderBy(col("step"))
  }

  /** Greedy left-to-right single-rule merge over a space-joined
    * symbol string: fold symbols, merging when the accumulated tail
    * symbol is `a` and the incoming one is `b`. A just-merged `ab`
    * tail never re-merges (it no longer equals `a`), which is exactly
    * the one-pass BPE application order. Mirrored token-for-token by
    * the oracle's list_reduce lambda — including the SEED: DuckDB's
    * list_reduce starts acc = first element (no sentinel), so the
    * Spark fold must too. An `acc === ""` not-started sentinel
    * collides with a legitimately EMPTY first symbol (the '' word's
    * " </w>" symbolization) and silently drops a piece — found by
    * the degenerate-corpus full-surface sweep (q118/q229 split while
    * q115's merge table matched). */
  private def bpeMergeFold(sym: org.apache.spark.sql.Column, a: String,
      b: String, ab: String): org.apache.spark.sql.Column = {
    val arr = split(sym, " ")
    aggregate(slice(arr, lit(2), size(arr) - 1), element_at(arr, 1),
      (acc, v) =>
        when((acc === a || acc.endsWith(" " + a)) && v === b,
            when(acc === a, lit(ab))
              .otherwise(concat(
                acc.substr(lit(1), length(acc) - lit(a.length + 1)),
                lit(" " + ab))))
          .otherwise(concat(acc, lit(" "), v)))
  }

  /** q118: THE TRAINED TOKENIZER APPLIED — per-source subword
    * compression stats under q115's merge table. The scale-correct
    * apply never tokenizes corpus text directly: the 8 merge folds
    * run once per VOCAB word (bounded table, the only place the
    * interpreted fold executes), and the corpus explode joins the
    * broadcast word→piece-count map — one scan, row-local, no
    * per-occurrence re-encoding. pieces_per_word divides two exact
    * longs (identical IEEE both engines). Piece counts include the
    * `</w>` end marker's symbol. Oracle: the q115 generated chain
    * carrying `word` through the merge CTEs (bpeEncodeOracleSql) —
    * training AND application value-checked end to end. */
  /** The trained word→piece-count map: q115's learned merges applied
    * to the DISTINCT vocab (bounded table — the only place the
    * interpreted fold runs). ONE def shared by q118's compression
    * stats and q229's fertility audit (shared-rule discipline). */
  private[graft] def bpePieces(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeTrain(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    var vocab = Tables.documents(spark, dir)
      .select(explode(toks).as("word"))
      .distinct()
      .select(col("word"), concat(concat_ws(" ",
          filter(split(col("word"), ""), c => length(c) > 0)),
        lit(" </w>")).as("sym"))
      .repartition(1)
    merges.foreach { case (pr, ab) =>
      val Array(a, b) = pr.split(" ", 2)
      vocab = vocab.select(col("word"), bpeMergeFold(col("sym"), a, b, ab).as("sym"))
    }
    vocab.select(col("word"),
      size(split(col("sym"), " ")).cast("long").as("n_pieces"))
  }

  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("word"))
      .join(broadcast(bpePieces(spark, dir)), Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_pieces"))
      .withColumn("pieces_per_word",
        round(col("n_pieces").cast("double") / col("n_words").cast("double"), 6))
      .orderBy(col("source"))

  /** q229: tokenizer FERTILITY audit under the LEARNED merges —
    * per (source, lang): pieces-per-word (fertility) and
    * bytes-per-piece, the multilingual-equity table every tokenizer
    * change ships with (a fertility spike on an underserved language
    * is the standard tokenizer regression; cf. the fertility tables
    * of the SentencePiece/BPE literature). q115/q118's consumer
    * surface (round-7 verdict item 8).
    *
    * Scale shape: the fold runs on the bounded vocab only (shared
    * bpePieces map, broadcast); the corpus contributes ONE
    * column-pruned scan whose explode joins the broadcast map —
    * row-local, two-level agg with map-side combine. Fertility and
    * bytes-per-piece are single IEEE divisions of exact longs
    * (lever (c) — no rounding needed). */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"), explode(toks).as("word"))
      .join(broadcast(bpePieces(spark, dir)), Seq("word"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(octet_length(col("word")).cast("long")).as("n_bytes"))
      .withColumn("fertility",
        col("n_pieces").cast("double") / col("n_words").cast("double"))
      .withColumn("bytes_per_piece",
        col("n_bytes").cast("double") / col("n_pieces").cast("double"))
      .orderBy(col("source"), col("lang"))

  /** The shared generated prefix of the q118/q229 oracles (lever
    * (t)): q115's merge chain with `word` carried through every CTE,
    * closed by the word→piece-count map `enc` — one producer, two
    * consumers. */
  private def bpeEncChainSql: String = {
    val mergeLambda = bpeMergeLambdaSql
    val blocks = scala.collection.mutable.ArrayBuffer(
      """v0 AS (
        |  SELECT word, array_to_string(string_split(word,''), ' ') || ' </w>' AS sym,
        |    CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS word FROM documents)
        |  GROUP BY 1)""".stripMargin)
    for (i <- 1 to BpeSteps) {
      blocks += s"""p$i AS (
        |  SELECT pr, CAST(SUM(freq) AS BIGINT) AS c FROM (
        |    SELECT unnest(list_transform(range(1, len(string_split(sym,' '))),
        |      j -> string_split(sym,' ')[j] || ' ' || string_split(sym,' ')[j+1])) AS pr, freq
        |    FROM v${i - 1}) GROUP BY pr)""".stripMargin
      blocks += s"b$i AS (SELECT pr, c FROM p$i ORDER BY c DESC, pr LIMIT 1)"
      blocks += s"v$i AS (SELECT word, $mergeLambda AS sym, freq FROM v${i - 1}, b$i)"
    }
    "WITH " + blocks.mkString(",\n") +
      s"\n, enc AS (SELECT word, CAST(len(string_split(sym,' ')) AS BIGINT) AS n_pieces FROM v$BpeSteps)"
  }

  /** The q118 oracle: the shared chain closed by the corpus join +
    * per-source rollup. */
  private[graft] def bpeEncodeOracleSql: String =
    bpeEncChainSql + s"""
      |, d AS (SELECT source, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS word FROM documents)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(enc.n_pieces) AS BIGINT) AS n_pieces,
      |  round(CAST(CAST(SUM(enc.n_pieces) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE), 6) AS pieces_per_word
      |FROM d JOIN enc ON d.word = enc.word
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** The q229 oracle: the SAME shared chain, rolled up per (source,
    * lang) with byte mass — fertility and bytes-per-piece as raw
    * quotients of exact longs (lever (c)). */
  private[graft] def tokenizerFertilityOracleSql: String =
    bpeEncChainSql + s"""
      |, d AS (SELECT source, lang, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS word FROM documents)
      |SELECT d.source, d.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(enc.n_pieces) AS BIGINT) AS n_pieces,
      |  CAST(SUM(strlen(d.word)) AS BIGINT) AS n_bytes,
      |  CAST(CAST(SUM(enc.n_pieces) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS fertility,
      |  CAST(CAST(SUM(strlen(d.word)) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(SUM(enc.n_pieces) AS BIGINT) AS DOUBLE) AS bytes_per_piece
      |FROM d JOIN enc ON d.word = enc.word
      |GROUP BY d.source, d.lang ORDER BY d.source, d.lang""".stripMargin

  /** q232: BPE MERGE-BUDGET curve — corpus piece mass, fertility and
    * compression at EVERY merge level k ∈ 0..BpeSteps from ONE chain
    * (lever (gg)): level k's mass is the trained fold replayed on
    * the SAME vocab-sized (sym, freq) table the trainer ran
    * (bpeVocab0 — one def), weighted by corpus word frequency. This
    * is the "how many merges do we buy" price table every tokenizer
    * budget discussion starts from (Sennrich et al. 2016 §5 report
    * exactly this curve); the reference's train_dictionary.py
    * analogously exposes its vocab-size knob
    * (/root/reference/redshells/train/train_dictionary.py:14).
    *
    * Scale shape: the corpus contributes ONE word-frequency scan;
    * the BpeSteps+1 fold levels run on the bounded vocab table and
    * the final agg is ONE row exploded to BpeSteps+1 output rows.
    * n_words is level-invariant (merges never change word count), so
    * fertility_k = pieces_k / n_words and saved_frac_k =
    * 1 − pieces_k / pieces_0 are raw IEEE quotients of exact longs
    * (lever (c) — bit-identical cross-engine, no rounding). Oracle:
    * generated from the SAME chain (bpeMergeCurveOracleSql), so every
    * level's mass — i.e. every merge decision's corpus-wide effect —
    * is value-checked. */
  def bpeMergeCurve(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeTrain(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    var v = bpeVocab0(spark, dir)
      .withColumn("p0", size(split(col("sym"), " ")).cast("long"))
    merges.zipWithIndex.foreach { case ((pr, ab), i) =>
      val Array(a, b) = pr.split(" ", 2)
      v = v.withColumn("sym", bpeMergeFold(col("sym"), a, b, ab))
        .withColumn(s"p${i + 1}", size(split(col("sym"), " ")).cast("long"))
    }
    val levels = 0 to merges.length
    val aggCols = sum(col("freq")).as("n_words") +:
      levels.map(k => sum(col(s"p$k") * col("freq")).as(s"pieces_$k"))
    v.agg(aggCols.head, aggCols.tail: _*)
      .select(col("n_words"), col("pieces_0"),
        explode(array(levels.map(k =>
          struct(lit(k.toLong).as("step"),
            col(s"pieces_$k").as("n_pieces"))): _*)).as("lv"))
      .select(col("lv.step").as("step"), col("n_words"),
        col("lv.n_pieces").as("n_pieces"),
        (col("lv.n_pieces").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (lit(1.0) - col("lv.n_pieces").cast("double")
          / col("pieces_0").cast("double")).as("saved_frac"))
      .orderBy(col("step"))
  }

  /** The q232 oracle, generated from the same constants as
    * bpeOracleSql's chain — with `AS MATERIALIZED` levels (lever
    * (l)): each v_i here has THREE consumers (p_{i+1}, v_{i+1}, its
    * own level rollup), so an inlined chain re-evaluates its prefix
    * exponentially. */
  private[graft] def bpeMergeCurveOracleSql: String = {
    val mergeLambda = bpeMergeLambdaSql
    val blocks = scala.collection.mutable.ArrayBuffer(
      """v0 AS MATERIALIZED (
        |  SELECT array_to_string(string_split(word,''), ' ') || ' </w>' AS sym,
        |    CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS word FROM documents)
        |  GROUP BY 1)""".stripMargin)
    for (i <- 1 to BpeSteps) {
      blocks += s"""p$i AS (
        |  SELECT pr, CAST(SUM(freq) AS BIGINT) AS c FROM (
        |    SELECT unnest(list_transform(range(1, len(string_split(sym,' '))),
        |      j -> string_split(sym,' ')[j] || ' ' || string_split(sym,' ')[j+1])) AS pr, freq
        |    FROM v${i - 1}) GROUP BY pr)""".stripMargin
      blocks += s"b$i AS (SELECT pr, c FROM p$i ORDER BY c DESC, pr LIMIT 1)"
      blocks += s"v$i AS MATERIALIZED (SELECT $mergeLambda AS sym, freq FROM v${i - 1}, b$i)"
    }
    val union = (0 to BpeSteps)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, " +
        s"CAST(SUM(freq * len(string_split(sym,' '))) AS BIGINT) AS n_pieces FROM v$i")
      .mkString(" UNION ALL ")
    "WITH " + blocks.mkString(",\n") + s""",
      |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_words,
      |  CAST(SUM(freq * len(string_split(sym,' '))) AS BIGINT) AS p0 FROM v0),
      |lv AS ($union)
      |SELECT lv.step, tot.n_words, lv.n_pieces,
      |  CAST(lv.n_pieces AS DOUBLE) / CAST(tot.n_words AS DOUBLE) AS fertility,
      |  1.0 - CAST(lv.n_pieces AS DOUBLE) / CAST(tot.p0 AS DOUBLE) AS saved_frac
      |FROM lv, tot ORDER BY lv.step""".stripMargin
  }

  /** The shared merge-apply lambda fragment of both generated
    * oracles. */
  private def bpeMergeLambdaSql: String =
    "list_reduce(string_split(sym,' '), (acc,v) -> " +
      "CASE WHEN (acc = split_part(pr,' ',1) OR ends_with(acc, ' ' || split_part(pr,' ',1))) " +
      "AND v = split_part(pr,' ',2) " +
      "THEN CASE WHEN acc = split_part(pr,' ',1) THEN replace(pr,' ','') " +
      "ELSE left(acc, len(acc)-len(split_part(pr,' ',1))-1) || ' ' || replace(pr,' ','') END " +
      "ELSE acc || ' ' || v END)"

  /** The q115 oracle, GENERATED from the same constants the operator
    * runs (BpeSteps, the symbolization, the fold): k unrolled
    * (pair-count → argmax → merge-apply) CTE blocks. Hash-matching
    * this SQL value-checks every merge decision the trainer made. */
  private[graft] def bpeOracleSql: String = {
    val mergeLambda = bpeMergeLambdaSql
    val blocks = scala.collection.mutable.ArrayBuffer(
      """v0 AS (
        |  SELECT array_to_string(string_split(word,''), ' ') || ' </w>' AS sym,
        |    CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS word FROM documents)
        |  GROUP BY 1)""".stripMargin)
    for (i <- 1 to BpeSteps) {
      blocks += s"""p$i AS (
        |  SELECT pr, CAST(SUM(freq) AS BIGINT) AS c FROM (
        |    SELECT unnest(list_transform(range(1, len(string_split(sym,' '))),
        |      j -> string_split(sym,' ')[j] || ' ' || string_split(sym,' ')[j+1])) AS pr, freq
        |    FROM v${i - 1}) GROUP BY pr)""".stripMargin
      blocks += s"b$i AS (SELECT pr, c FROM p$i ORDER BY c DESC, pr LIMIT 1)"
      blocks += s"v$i AS (SELECT $mergeLambda AS sym, freq FROM v${i - 1}, b$i)"
    }
    val union = (1 to BpeSteps)
      .map(i => s"SELECT $i AS step, pr AS pair, replace(pr,' ','') AS merged, c AS pair_count FROM b$i")
      .mkString(" UNION ALL ")
    "WITH " + blocks.mkString(",\n") +
      s"\nSELECT CAST(step AS BIGINT) AS step, pair, merged, pair_count FROM ($union) ORDER BY step"
  }

  /** Per-language token statistics. No explode: token counts are
    * array lengths computed row-local, then a tiny groupBy on lang. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), TextFns.tokenCount(col("text")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("lang"))

  /** Quality scoring per source: stopword ratio (pooled — exact
    * integer sums, one final division, so the result is
    * order-independent) and short-doc counts. Everything before the
    * final small groupBy is row-local higher-order functions. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir).select(
      col("source"),
      TextFns.tokenCount(col("text")).as("n_tok"),
      TextFns.countIn(toks, TextFns.Stopwords).as("n_stop"))
    perDoc.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        (sum(col("n_stop")).cast("double") / sum(col("n_tok"))).as("stop_ratio"),
        sum(when(col("n_tok") < 60, 1L).otherwise(0L)).as("n_short"))
      .orderBy(col("source"))
  }

  /** Corpus term statistics (tf + df) — the one place explode is the
    * right tool; two-level aggregation combines map-side so the
    * shuffle carries (term, partial) not (term, doc). */
  def topTerms(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(20)

  /** TrainDictionary (train/train_dictionary.py:9, gensim
    * filter_extremes): vocabulary filtered to df ∈ [5, 0.9·N], ids
    * assigned deterministically by (df desc, term asc) through
    * [[FrameOps.globalRank]] (the vocab is its "vocab" artifact) — at
    * a 10⁸-term multilingual web vocab a single-task sort was the
    * round-7 verdict's watch item. The oracle statement (ROW_NUMBER
    * OVER (ORDER BY df DESC, term)) is unchanged. */
  def dictionary(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    FrameOps.globalRank(spark, "vocab", dir, Seq(col("df").desc, col("term").asc))(
      docs.select(col("doc_id"), explode(toks).as("term"))
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") >= 5 && col("df") <= lit(0.9) * col("n_docs"))
        .select(col("term"), col("df")))._1
      .select(col("term"), col("df"), (col("rank") - 1).cast("long").as("token_id"))
      .orderBy(col("token_id"))
  }

  /** Tfidf.apply (model/tfidf.py:19): tf·idf with gensim's
    * log2(N/df) idf and the keep-top-rate cut re-expressed as a
    * per-doc top-3 rank. df/idf is a vocab-sized table broadcast back
    * against the (doc, term) tf aggregate — the corpus shuffles once,
    * on (doc_id, term). Values rounded to 6dp so ranking and output
    * are stable across engines. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val terms = docs.select(col("doc_id"), explode(toks).as("term"))
    // df folds out of tf (opt r08): tf holds exactly one row per
    // (doc, term), so count(*) per term == the old
    // countDistinct(doc_id) over the raw token stream; tf's two
    // readers share its (doc_id, term) exchange, so the corpus is
    // tokenized once (3 tokenizing scans → 1).
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df.crossJoin(broadcast(nDocs))), Seq("term"))
      .withColumn("tfidf",
        round(col("tf") * log2(col("n_docs").cast("double") / col("df")), 6))
    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** BM25 ranked retrieval (Robertson/Lucene formulation, k1=1.2,
    * b=0.75) for a fixed keyword query — the search-scoring
    * counterpart of tf·idf. All model statistics (df per term, N,
    * avgdl) are exact integers aggregated once and broadcast; the
    * corpus shuffles only (doc, term) tf partials for the query's
    * terms (filter pushed below the explode). Float discipline:
    * per-TERM contributions are rounded to 8 dp and summed as
    * DECIMAL, so a doc's score is independent of term-addition order
    * (CLAUDE.md parity rules); final scores round to 6 dp before
    * ranking. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "table", "join", "data", "query")
    val k1 = 1.2
    val b = 0.75
    // the postings are held state, built once per (session, corpus):
    // tf (doc_id, term, dl, tf over the query terms) and the one-row
    // (n_docs, total_dl); a request probes them. ONE tokenizing corpus
    // pass builds both: dl and the query-term postings come out of the
    // SAME projection — explode(filter(toks, isin)) is the same
    // multiset as explode(toks).filter(isin) — and dl rides the tf
    // groupBy keys (functionally dependent on doc_id), so no
    // corpus-keyed contrib⋈dl join exists. df folds to count(*) over
    // tf (one row per (doc, term) ⇒ count == countDistinct(doc_id),
    // the q24 fold).
    val postings = graft.SessionRegistry.held(spark, "bm25_postings", dir) { scope =>
      val perDoc = scope.persisted(Tables.documents(spark, dir).select(col("doc_id"),
        TextFns.tokenCount(col("text")).as("dl"),
        filter(toks, t => t.isin(terms.map(x => x: Any): _*)).as("qt")))
      Seq(
        "tf" -> perDoc.select(col("doc_id"), col("dl"), explode(col("qt")).as("term"))
          .groupBy(col("doc_id"), col("term"), col("dl"))
          .agg(count(lit(1)).as("tf")),
        "stats" -> perDoc.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl")))
    }
    val tf = postings.read("tf")
    val stats = postings.read("stats")
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("c",
        // 2.2 as a LITERAL, not k1+1: 1.2+1.0 rounds to a different
        // double than the literal 2.2 the oracle parses
        round(col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 8)
          .cast("decimal(18,8)"))
    // round the exact DECIMAL sum, then cast: both engines round a
    // decimal half away from zero, but not a double's shortest form
    val scored = contrib.groupBy(col("doc_id"))
      .agg(round(sum(col("c")), 6).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
    scored.select(col("doc_id"), col("score"),
      row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
        .cast("long").as("rank"))
      .orderBy(col("rank"))
  }

  /** BPE-ish token counting: the subword-style regex pass (runs of
    * letters, runs of digits, single punctuation) a training pipeline
    * uses for budget accounting. regexp_count is codegen'd — one scan,
    * no explode; per-source totals only shuffle the tiny group keys. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long")
          .as("n_bpe"),
        TextFns.tokenCount(col("text")).as("n_ws"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).as("total_bpe_tokens"),
        sum(col("n_ws")).as("total_ws_tokens"),
        (sum(col("n_bpe")).cast("double") / sum(col("n_ws"))).as("bpe_per_word"))
      .orderBy(col("source"))

  /** Language-ID by stopword-profile vote: profile table is broadcast
    * against exploded tokens; prediction = argmax hits per doc;
    * output is the lang × predicted confusion matrix. Rows-only check
    * (the heuristic itself isn't ANSI-SQL-portable). */
  /** THE language-ID stopword profiles — q25's explode+join chain,
    * q194's row-local argmax, and BOTH their generated oracles all
    * interpolate this one constant (shared-rule discipline). */
  private[graft] val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "la", "de", "y", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val profiles = LangProfiles
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }
      .toDF("plang", "word")
    val docs = Tables.documents(spark, dir)
    val hits = docs.select(col("doc_id"), col("lang"), explode(toks).as("word"))
      .join(broadcast(profiles), Seq("word"))
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(count(lit(1)).as("hits"))
    val best = hits.withColumn("rn",
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("hits").desc, col("plang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("plang").as("predicted"))
    docs.select(col("doc_id"), col("lang"))
      .join(best.drop("lang"), Seq("doc_id"), "left")
      .na.fill("unknown", Seq("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** The per-doc language prediction as ONE ROW-LOCAL column — the
    * 100 TB shape of q25's explode+join+window chain: per profile
    * language, hits = a higher-order count over the token array (no
    * explode, so no row multiplication), argmax folded as a when-
    * chain with q25's exact tie-break (hits desc, language asc —
    * profiles are pre-sorted so keeping the incumbent on ties IS the
    * alphabetical rule), zero hits everywhere → 'unknown' (q25's
    * left-join semantics). TextOpsSpec asserts row-for-row parity
    * with q25's chain; being row-local it runs unchanged on
    * Structured Streaming frames (the q72/q112 twin discipline). */
  private[graft] def langPredCol: Column = {
    val t = toks
    val hits = LangProfiles.sortBy(_._1)
      .map { case (l, ws) => (l, TextFns.countIn(t, ws)) }
    val (bestLang, bestHits) = hits.tail.foldLeft((lit(hits.head._1), hits.head._2)) {
      case ((bl, bh), (l, h)) =>
        (when(h > bh, lit(l)).otherwise(bl), when(h > bh, h).otherwise(bh))
    }
    when(bestHits > 0L, bestLang).otherwise(lit("unknown"))
  }

  /** q194: per-source LANGUAGE-CONSISTENCY AUDIT — the ops check a
    * multilingual pipeline runs before trusting its `lang` metadata
    * (a crawler that mislabels a source poisons every lang-keyed
    * sampling/mixing decision downstream, q85/q112's lang rates
    * included). Declared vs predicted language per doc via the
    * row-local [[langPredCol]]; per source: doc counts, agreement,
    * unknowns, mismatches, and the mismatch rate (exact-int
    * division — one correctly-rounded IEEE op, bit-identical
    * cross-engine, lever (c)). Scale shape: ONE corpus scan, all
    * signals row-local in WholeStageCodegen, |sources|-row partial
    * agg; no explode, no join, no window anywhere — this is the plan
    * q25 cannot have (its oracle states the declarative chain; this
    * op's generated oracle replays the row-local rule itself). */
  def langMismatch(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"), langPredCol.as("pred"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("pred") === "unknown", 1L).otherwise(0L)).as("n_unknown"),
        sum(when(col("pred") =!= col("lang") && col("pred") =!= "unknown", 1L)
          .otherwise(0L)).as("n_mismatch"))
      .withColumn("mismatch_rate",
        col("n_mismatch").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))

  /** The q194 oracle, GENERATED from [[LangProfiles]] (lever (a)):
    * per-language hit counts as list_filter/list_contains over the
    * token array, argmax as a greatest + CASE chain in language-asc
    * order — the same row-local rule, replayed. */
  private[graft] def langMismatchOracleSql: String = {
    val profs = LangProfiles.sortBy(_._1)
    val hitCols = profs.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, w -> list_contains($lst, w))) AS h_$l"
    }.mkString(",\n      |    ")
    val m = profs.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
    val argmax = profs.map { case (l, _) => s"WHEN h_$l = m THEN '$l'" }
      .mkString(" ")
    s"""WITH t AS (
      |  SELECT source, lang,
      |    string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
      |  FROM documents),
      |h AS (
      |  SELECT source, lang,
      |    $hitCols
      |  FROM t),
      |p AS (
      |  SELECT source, lang,
      |    CASE WHEN m = 0 THEN 'unknown' $argmax END AS pred
      |  FROM (SELECT *, $m AS m FROM h))
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
      |  CAST(SUM(CASE WHEN pred = 'unknown' THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown,
      |  CAST(SUM(CASE WHEN pred <> lang AND pred <> 'unknown' THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
      |  CAST(SUM(CASE WHEN pred <> lang AND pred <> 'unknown' THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS mismatch_rate
      |FROM p GROUP BY source ORDER BY source""".stripMargin
  }

  /** Gopher-style quality RULE filter (Rae et al. 2021 §A1.1 — the
    * published rule set LLM-corpus cleaning starts from), reduced to
    * the signals this corpus can express: word-count bounds, mean
    * word length band, type-token-ratio floor (repetition proxy),
    * and stopword presence. Every signal is ROW-LOCAL array math —
    * no explode, no shuffle until the tiny per-source breakdown —
    * so at 100 TB this is a single map-side pass over the corpus
    * ending in a |sources|-row aggregate. */
  /** The per-doc Gopher quality SIGNALS, in one place — q72's report
    * and q85's funnel both build on exactly these columns (and both
    * oracles gate them). */
  private[graft] def gopherSignalCols: Seq[org.apache.spark.sql.Column] = {
    val t = toks
    val stopArr = array(TextFns.Stopwords.map(lit): _*)
    // codegen built-ins only: an interpreted lambda would re-evaluate
    // the tokenizer `t` it captures once per element it visits. The
    // joined length is the summed word length; array_intersect counts
    // the distinct stopwords present (0 for null text)
    Seq(
      TextFns.tokenCount(col("text")).as("n_words"),
      (length(array_join(t, "")).cast("double") / size(t)).as("mean_wlen"),
      (size(array_distinct(t)).cast("double") / size(t)).as("ttr"),
      coalesce(size(array_intersect(stopArr, t)), lit(0)).as("n_stop_kinds"))
  }

  /** The Gopher rule BOUNDS as named constants — interpolated into
    * both the Column rules and the SQL fragment (one source of
    * truth), and the knobs q220's change-impact report re-binds. */
  private[graft] val GopherMinWords = 50L
  private[graft] val GopherMaxWords = 100000L
  private[graft] val GopherWlenLo = 3L
  private[graft] val GopherWlenHi = 10L
  private[graft] val GopherTtrMin = 0.2
  private[graft] val GopherStopMin = 2L

  /** The four Gopher predicates at arbitrary (minWords, ttrMin)
    * bounds, UNALIASED — the one source both the aliased rule
    * columns and the pass conjunction are built from (the production
    * set is [[gopherRuleCols]]; q220 instantiates a PROPOSED tighter
    * set from the same def). */
  private[graft] def gopherRulePreds(minWords: Long,
      ttrMin: Double): Seq[org.apache.spark.sql.Column] = Seq(
    col("n_words") >= minWords && col("n_words") <= GopherMaxWords,
    col("mean_wlen") >= GopherWlenLo && col("mean_wlen") <= GopherWlenHi,
    col("ttr") >= ttrMin,
    col("n_stop_kinds") >= GopherStopMin)

  private[graft] val GopherRuleNames =
    Seq("words_ok", "wlen_ok", "ttr_ok", "stop_ok")

  private[graft] def gopherRuleColsAt(minWords: Long,
      ttrMin: Double): Seq[org.apache.spark.sql.Column] =
    gopherRulePreds(minWords, ttrMin).zip(GopherRuleNames)
      .map { case (c, n) => c.as(n) }

  /** The pass conjunction at arbitrary bounds (same predicate def). */
  private[graft] def gopherPassAt(minWords: Long,
      ttrMin: Double): org.apache.spark.sql.Column =
    gopherRulePreds(minWords, ttrMin).reduce(_ && _)

  /** The four Gopher RULES over the signal columns (shared with the
    * funnel's quality stage). */
  private[graft] def gopherRuleCols: Seq[org.apache.spark.sql.Column] =
    gopherRuleColsAt(GopherMinWords, GopherTtrMin)

  /** THE pass verdict over the four rule columns — one def for q72's
    * report, the funnel's quality stage (batch + incremental), the
    * ingest stream twin, and q203's scorecard (shared-rule
    * discipline: the conjunction had drifted into four hand-kept
    * copies before round 14). */
  private[graft] def gopherPass: org.apache.spark.sql.Column =
    col("words_ok") && col("wlen_ok") && col("ttr_ok") && col("stop_ok")

  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("source") +: gopherSignalCols: _*)
    val rules = perDoc.select(col("source") +: gopherRuleCols: _*)
    rules.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(gopherPass, 1L).otherwise(0L)).as("n_pass"),
        sum(when(!col("words_ok"), 1L).otherwise(0L)).as("n_fail_words"),
        sum(when(!col("wlen_ok"), 1L).otherwise(0L)).as("n_fail_wlen"),
        sum(when(!col("ttr_ok"), 1L).otherwise(0L)).as("n_fail_ttr"),
        sum(when(!col("stop_ok"), 1L).otherwise(0L)).as("n_fail_stop"))
      .orderBy(col("source"))
  }

  /** The four signal EXPRESSIONS over a `toks` list — the one SQL
    * body every Gopher-signal CTE instantiates (q72's chain below,
    * q235's per-version store states). */
  private[graft] val gopherSignalExprsSql: String =
    """CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks) AS mean_wlen,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
      |    len(list_filter(['the','a','of','and','to','in','is'], s -> list_contains(toks, s))) AS n_stop_kinds""".stripMargin

  /** The per-doc Gopher SIGNAL CTE chain (t → d, doc_id carried) —
    * the rule-free prefix of [[gopherDocCteSql]]; q220's A/B report
    * evaluates TWO bound sets over the same `d`. */
  private[graft] def gopherSignalCteSql: String =
    s"""t AS (
      |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
      |d AS (
      |  SELECT doc_id, source,
      |    $gopherSignalExprsSql
      |  FROM t)""".stripMargin

  /** The four rule predicates at (minWords, ttrMin) — the SQL mirror
    * of [[gopherRuleColsAt]], bounds interpolated from the SAME
    * constants. */
  private[graft] def gopherRulePredsSql(minWords: Long, ttrMin: Double)
      : (String, String, String, String) =
    (s"(n_words >= $minWords AND n_words <= $GopherMaxWords)",
      s"(mean_wlen >= $GopherWlenLo AND mean_wlen <= $GopherWlenHi)",
      s"(ttr >= $ttrMin)",
      s"(n_stop_kinds >= $GopherStopMin)")

  /** The per-DOC Gopher rule CTE chain (t → d → r, doc_id carried) —
    * ONE fragment serving the q72 rollup, q203's scorecard, and
    * q211's review queue (the same list-lambda signals, the same
    * rule bounds, generated from the named constants). */
  private[graft] def gopherDocCteSql: String = {
    val (w, ml, tr, st) = gopherRulePredsSql(GopherMinWords, GopherTtrMin)
    s"""$gopherSignalCteSql,
      |r AS (
      |  SELECT doc_id, source,
      |    $w AS words_ok,
      |    $ml AS wlen_ok,
      |    $tr AS ttr_ok,
      |    $st AS stop_ok
      |  FROM d)""".stripMargin
  }

  /** The q72 oracle — the shared per-doc chain + the per-source
    * rollup. */
  private[graft] def gopherRulesOracleSql: String =
    s"""WITH $gopherDocCteSql
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN words_ok AND wlen_ok AND ttr_ok AND stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |  CAST(SUM(CASE WHEN NOT words_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
      |  CAST(SUM(CASE WHEN NOT wlen_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wlen,
      |  CAST(SUM(CASE WHEN NOT ttr_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_ttr,
      |  CAST(SUM(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Repetition metrics (the other Gopher §A1.1 axis): per-doc share
    * of the most frequent word 2-gram, flagged above 5%. The
    * non-distinct n-gram explosion uses the native WordNGrams
    * Expression (counting mode); counts combine map-side on
    * (doc, gram) — the same two-level aggregation shape as TF-IDF,
    * linear in corpus token count at any scale. Docs under two
    * tokens have no 2-grams and drop out (same rule in the oracle). */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.WordNGrams
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(WordNGrams(toks, 2, distinct = false)).as("g"))
    val perDoc = grams
      .groupBy(col("doc_id"), col("source"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_grams"))
      .withColumn("share", col("top_c").cast("double") / col("n_grams"))
      .withColumn("bps", round(col("share") * 10000, 0).cast("long"))
    perDoc.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("share") > 0.05, 1L).otherwise(0L)).as("n_repetitive"),
        (sum(col("bps")).cast("double") / count(lit(1))).as("avg_top2_bps"),
        max(col("bps")).as("max_top2_bps"))
      .orderBy(col("source"))
  }

  /** Document fingerprinting with the native rolling-hash Expression
    * (plans/RollingHash.scala) — codegen'd polynomial hash, plus the
    * duplicate-cluster size per fingerprint. */
  // ---- q228 Gopher repetition battery -----------------------------

  /** Gopher §A1.1 thresholds (Rae et al. 2021 Table A1), as the
    * occurrence-share analogs this battery measures. Named constants
    * feeding ONE predicate def that generates the Spark columns AND
    * the SQL fragments (lever (jj)) — the thresholds cannot drift
    * between the filter and its oracle. */
  private[graft] val RepDupLineMax = 0.30
  private[graft] val RepDupParaMax = 0.30
  private[graft] val RepTopNgram = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private[graft] val RepDupNgram =
    Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** The battery's per-doc FAIL flags from the kernel's 22-slot count
    * array: (rule name, numerator slot, denominator slot, threshold).
    * Shares are single IEEE divisions of exact longs (lever (c)), so
    * a raw `share > threshold` compare is engine-exact; a zero
    * denominator never fails the rule (both engines guard it). */
  private[graft] def repRules: Seq[(String, Int, Int, Double)] =
    Seq(("dup_line", 1, 0, RepDupLineMax), ("dup_para", 3, 2, RepDupParaMax)) ++
      RepTopNgram.zipWithIndex.map { case ((n, t), i) =>
        (s"top$n", 4 + 2 * i, 5 + 2 * i, t) } ++
      RepDupNgram.zipWithIndex.map { case ((n, t), i) =>
        (s"dup$n", 10 + 2 * i, 11 + 2 * i, t) }

  /** q228: the COMPLETE Gopher §A1.1 repetition battery (q73 covered
    * the top-2-gram share only) — duplicate-line / duplicate-paragraph
    * occurrence fractions, top-n-gram share for n ∈ {2,3,4} and
    * duplicate-n-gram mass for n ∈ {5..10}, each flagged against its
    * Table-A1 threshold and rolled up per source with the pass
    * conjunction (funnel-ready, the q72 predicate-family shape).
    *
    * Scale shape: the ENTIRE battery is ONE row-local codegen kernel
    * pass per doc (plans/RepExprs — exact string counting, no lossy
    * hash) + one |sources|-bounded rollup; the naive form is 9 corpus
    * explosions each shuffling a gram stream. The oracle's per-n
    * UNNEST chains value-check the kernel itself (lever (ii)). */
  /** THE per-doc battery projection — kernel stats + one boolean fail
    * flag per rule + the pass conjunction, all row-local, so the
    * batch rollup (q228) and the ingest stream twin
    * (StreamOps.repFlagStream) ride the SAME def (the
    * qualityFlags/langFlags twin discipline). */
  private[graft] def repFlags(docs: DataFrame): DataFrame = {
    val stats = docs
      .select(col("doc_id"), col("source"),
        graft.plans.RepExprs.repStats(toks,
          graft.plans.NfcExprs.nfcNormalize(col("text"))).as("rs"))
    def share(num: Int, den: Int) =
      element_at(col("rs"), num + 1).cast("double") /
        element_at(col("rs"), den + 1).cast("double")
    // CaseWhen evaluates the taken branch only — a doc shorter than n
    // has zero n-grams and must not reach the ANSI division (the
    // degenerate-input class; planted in TextOpsSpec/DegenerateInputSpec)
    val fails = repRules.map { case (name, num, den, thr) =>
      name -> when(element_at(col("rs"), den + 1) > 0L,
        share(num, den) > lit(thr)).otherwise(lit(false))
    }
    stats.select(Seq(col("doc_id"), col("source")) ++
      fails.map { case (name, f) => f.as(s"fail_$name") } :+
      fails.map(!_._2).reduce(_ && _).as("rep_pass"): _*)
  }

  def repetitionBattery(spark: SparkSession, dir: String): DataFrame = {
    val flags = repFlags(Tables.documents(spark, dir))
    val aggs = sum(when(col("rep_pass"), 1L).otherwise(0L)).as("n_pass") +:
      repRules.map { case (name, _, _, _) =>
        sum(when(col(s"fail_$name"), 1L).otherwise(0L)).as(s"n_fail_$name") }
    flags.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
      .orderBy(col("source"))
  }

  /** Generated q228 oracle: per-n gram CTE chains (the q73/q184
    * UNNEST pattern, 1-based inclusive slices), line/paragraph splits
    * of the NFC text, all LEFT-joined onto the doc roster with
    * COALESCE(0) so gram-less short docs carry zero counts — exactly
    * the kernel's max(len-n+1, 0). Thresholds interpolate from the
    * SAME constants as the Spark predicate. */
  private[graft] def repetitionBatteryOracleSql: String = {
    def gramExpr(n: Int): String =
      (0 until n).map {
        case 0 => "toks[CAST(i AS BIGINT)]"
        case j => s"toks[CAST(i AS BIGINT)+$j]"
      }.mkString(" || ' ' || ")
    val gramCtes = (RepTopNgram.map(_._1) ++ RepDupNgram.map(_._1)).map { n =>
      val agg =
        if (n <= 4) "MAX(c) AS num"
        else "CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS num"
      s"""g$n AS (
        |  SELECT doc_id, ${gramExpr(n)} AS g
        |  FROM t, UNNEST(range(1, len(toks) - ${n - 2})) AS u(i)),
        |c$n AS (SELECT doc_id, g, COUNT(*) AS c FROM g$n GROUP BY 1, 2),
        |s$n AS (SELECT doc_id, $agg, CAST(SUM(c) AS BIGINT) AS den FROM c$n GROUP BY 1)""".stripMargin
    }
    val segCtes = Seq(
      ("sl", "string_split(nfc_normalize(text), chr(10))"),
      ("sp", "string_split(nfc_normalize(text), chr(10) || chr(10))")).map {
      case (nm, splitExpr) =>
        s"""${nm}e AS (
          |  SELECT doc_id, seg FROM (SELECT doc_id, $splitExpr AS segs FROM documents) x,
          |    UNNEST(segs) AS u(seg) WHERE len(seg) > 0),
          |${nm}c AS (SELECT doc_id, seg, COUNT(*) AS c FROM ${nm}e GROUP BY 1, 2),
          |$nm AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS num,
          |  CAST(SUM(c) AS BIGINT) AS den FROM ${nm}c GROUP BY 1)""".stripMargin
    }
    val joins =
      Seq("sl", "sp").map(nm => s"LEFT JOIN $nm ON $nm.doc_id = t.doc_id") ++
        (RepTopNgram.map(_._1) ++ RepDupNgram.map(_._1))
          .map(n => s"LEFT JOIN s$n ON s$n.doc_id = t.doc_id")
    val ruleCols = repRules.zip(Seq("sl", "sp") ++
      (RepTopNgram.map(_._1) ++ RepDupNgram.map(_._1)).map(n => s"s$n"))
      .map { case ((name, _, _, thr), cte) =>
        (name,
          s"(COALESCE($cte.den, 0) > 0 AND CAST(COALESCE($cte.num, 0) AS DOUBLE) / COALESCE($cte.den, 0) > $thr)")
      }
    val passExpr = ruleCols.map(r => s"NOT ${r._2}").mkString(" AND ")
    val failSums = ruleCols.map { case (name, cond) =>
      s"CAST(SUM(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_$name"
    }
    s"""WITH t AS (
      |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
      |${(segCtes ++ gramCtes).mkString(",\n")}
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN $passExpr THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |  ${failSums.mkString(",\n  ")}
      |FROM t ${joins.mkString(" ")}
      |GROUP BY source ORDER BY source""".stripMargin
  }

  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"), RollingHash(col("text")).as("fp"))
    val clusters = fp.groupBy(col("fp")).agg(count(lit(1)).as("cluster_size"))
    fp.join(clusters, Seq("fp"))
      .select(col("doc_id"), col("fp"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** q97: heavy-hitter 3-grams via a per-partition Misra–Gries
    * summary (Misra & Gries 1982; the mergeable-summaries form of
    * Agarwal et al. 2012). The exact gram-frequency table (q22's
    * shape) costs a corpus-wide shuffle of every distinct gram; at
    * 100 TB the gram dictionary is itself huge, and a pipeline that
    * only needs the heavy tail (boilerplate candidates, stop-phrase
    * lists) shouldn't pay it. Here each partition keeps at most
    * `mgK` counters (bounded memory, one corpus scan, no shuffle of
    * the full dictionary); only the ≤ mgK×partitions surviving
    * (gram, weight) rows shuffle for the merge. MG guarantees
    * estimate ∈ [true − n/k, true] per partition, summed over
    * partitions — so true heavy hitters always survive and weights
    * are lower bounds; both properties are spec-asserted against the
    * exact counts (eviction order is arrival-order dependent →
    * rows-only query, like the HLL/quantile sketches). */
  def heavyHitterGrams(spark: SparkSession, dir: String, mgK: Int = 32,
      topN: Int = 20): DataFrame = {
    import spark.implicits._
    import graft.plans.WordNGrams
    val grams = Tables.documents(spark, dir)
      .select(explode(WordNGrams(toks, 3, distinct = false)).as("g"))
      .as[String]
    val partial = grams.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { g =>
        if (counters.contains(g) || counters.size < mgK) {
          counters(g) = counters.getOrElse(g, 0L) + 1L
        } else {
          // decrement-all step; drop zeroed counters
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.keysIterator.foreach { k =>
            val c = counters(k) - 1L
            if (c == 0L) dead += k else counters(k) = c
          }
          dead.foreach(counters.remove)
        }
      }
      counters.iterator.map { case (g, c) => (g, c) }
    }.toDF("g", "w")
    partial.groupBy(col("g"))
      .agg(sum(col("w")).as("est_count"))
      .orderBy(col("est_count").desc, col("g"))
      .limit(topN)
  }

  /** q121 constants; the oracle SQL is generated from these (lever a:
    * window/min-count/top-k cannot drift between engines). */
  private[graft] val PmiWindow = 3
  private[graft] val PmiMinCount = 5
  private[graft] val PmiTopK = 50

  /** q121: PMI collocation mining (Church & Hanks 1990) — the corpus
    * statistic behind word2vec window co-occurrence and phrase
    * detection (word2phrase): for unordered token pairs within a
    * ±PmiWindow skip-gram window, pmi = ln(p(ab)/(p(a)p(b))) from
    * exact corpus counts; top-PmiTopK by (rounded) PMI among pairs
    * seen ≥ PmiMinCount times. Scale shape: pair generation is the
    * row-local codegen [[SkipGramPairs]] loop (never a positional
    * self-join); pair counting is one partial-agg shuffle; the
    * unigram table is vocab-bounded so both count joins broadcast;
    * N/P totals are row-local array lengths summed into one scalar
    * row, cross-joined broadcast. The single-partition rank window
    * runs on the ≥MinCount survivors — vocab²-bounded, not
    * corpus-bounded. Float parity: counts are exact longs, the PMI
    * ratio is one left-to-right double chain in both engines, and
    * rounding precedes ranking (CLAUDE.md float rules; ln() 1-ulp
    * risk absorbed by round(,6) as in q89's BM25). */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val pairCol = SkipGramPairs(toks, PmiWindow)
    val cab = docs.select(explode(pairCol).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_pair"))
    // uni feeds TWO broadcast join sides (w1, w2), which share its
    // exchange: the corpus tokenize pass runs once for both; the
    // table is vocab-bounded.
    val uni = docs.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    // totals are ROW-LOCAL (opt r08): the skip-gram pair count is
    // purely positional (i + j <= len for j in 1..W — the oracle's
    // range predicate), so per doc it is Σ_j max(0, len−j), an exact
    // integer identity with COUNT(*) over the exploded pairs — the
    // old totals re-ran the heavy pair-explode subtree (and a second
    // tokenize pass) just to size-sum it. One cheap scan now; the
    // oracle keeps stating COUNT(*) over p (same value).
    val lenC = size(toks).cast("long")
    val pairCnt = (1 to PmiWindow)
      .map(j => greatest(lenC - lit(j.toLong), lit(0L)))
      .reduce(_ + _)
    val totals = docs.select(lenC.as("l"), pairCnt.as("pc"))
      .agg(sum(col("l")).cast("long").as("n_tok"),
        sum(col("pc")).cast("long").as("n_pairs"))
    val scored = cab.filter(col("n_pair") >= PmiMinCount)
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .withColumn("w2", split(col("pair"), " ").getItem(1))
      .join(broadcast(uni.select(col("w").as("w1"), col("n_w").as("n_a"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("n_w").as("n_b"))), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("n_pair").cast("double") * col("n_tok").cast("double") * col("n_tok").cast("double")) /
          (col("n_pairs").cast("double") * col("n_a").cast("double") * col("n_b").cast("double"))), 6))
      .select(col("pair"), col("n_pair"), col("pmi"))
    // cutTop reads `scored` TWICE (K-th score agg + the filter); both
    // reads share cab's pair exchange and the broadcasts, so the
    // pair-explode pyramid runs once and only the slim ≥MinCount
    // projection above it runs twice
    // round 8: the rank window's input is pre-cut to the rows that
    // can rank ≤ K (bounded-heap K-th score as a broadcast scalar) —
    // the ≥MinCount survivor table is vocab²-bounded but at a
    // multilingual web vocab that bound is still hours in one window
    // task; the oracle keeps stating the plain window (lever (h))
    graft.plans.TopKByKey.cutTop(scored, col("pmi"), PmiTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("pair"))).cast("long"))
      .filter(col("rank") <= PmiTopK)
      .orderBy(col("rank"))
  }

  /** The q121 oracle, generated from the same constants. */
  private[graft] def pmiOracleSql: String = {
    val w = PmiWindow
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
       |p AS (
       |  SELECT least(toks[CAST(i AS BIGINT)], toks[CAST(i AS BIGINT)+CAST(j AS BIGINT)])
       |    || ' ' ||
       |    greatest(toks[CAST(i AS BIGINT)], toks[CAST(i AS BIGINT)+CAST(j AS BIGINT)]) AS pair
       |  FROM t, UNNEST(range(1, len(toks)+1)) AS u(i), UNNEST(range(1, $w+1)) AS v(j)
       |  WHERE i + j <= len(toks)),
       |cab AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pair FROM p GROUP BY 1),
       |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
       |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
       |tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_tok,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_pairs FROM t),
       |s AS (
       |  SELECT cab.pair, cab.n_pair,
       |    round(ln(
       |      (CAST(cab.n_pair AS DOUBLE) * CAST(tot.n_tok AS DOUBLE) * CAST(tot.n_tok AS DOUBLE)) /
       |      (CAST(tot.n_pairs AS DOUBLE) * CAST(a.n_w AS DOUBLE) * CAST(b.n_w AS DOUBLE))), 6) AS pmi
       |  FROM cab
       |  JOIN uni a ON a.w = split_part(cab.pair, ' ', 1)
       |  JOIN uni b ON b.w = split_part(cab.pair, ' ', 2)
       |  CROSS JOIN tot
       |  WHERE cab.n_pair >= $PmiMinCount),
       |r AS (
       |  SELECT pair, n_pair, pmi,
       |    CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, pair) AS BIGINT) AS "rank"
       |  FROM s)
       |SELECT pair, n_pair, pmi, "rank" FROM r WHERE "rank" <= $PmiTopK ORDER BY "rank"""".stripMargin
  }

  /** q122 per-source keyness depth; oracle generated from it. */
  private[graft] val KeynessTopK = 10

  /** q122: corpus keyness — per-source distinctive vocabulary by
    * Dunning's G² log-likelihood ratio (Dunning 1993), the
    * significance-based complement to q22's raw frequencies and
    * q24's TF-IDF weighting: for each (source, word) 2×2 contingency
    * cell {in-source, elsewhere} × {word, other}, G² = 2·Σ k·ln(k·N /
    * (R·C)), restricted to overrepresented words (a/Ns > cw/N), top
    * KeynessTopK per source. The domain-mix diagnostic a 100 TB
    * curation run reads per ingest source. Scale shape: one
    * (source, word)-keyed partial-agg shuffle for the cell counts;
    * the global word table and per-source totals are vocab-/
    * source-bounded → broadcast joins; the rank window partitions by
    * source over ≤vocab rows. Float parity: all four cells are exact
    * longs; each engine walks the identical four-term double chain
    * (0-cells short-circuit to 0 by CASE, never reach ln), rounds,
    * then ranks; the overrepresentation cut compares exact-valued
    * doubles (<2^53). */
  def keyness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // cells feeds FOUR consumers (word totals, source totals, the
    // grand total, and the scored join), which share its exchange: the
    // corpus tokenize+explode runs once; the table is
    // (vocab × |sources|)-bounded
    val cells = docs.select(col("source"), explode(toks).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("a"))
    val wordTot = cells.groupBy(col("w")).agg(sum(col("a")).as("cw"))
    val srcTot = cells.groupBy(col("source")).agg(sum(col("a")).as("ns"))
    val nTot = cells.agg(sum(col("a")).as("n"))
    def term(k: Column, r: Column, c: Column, n: Column): Column =
      when(k === 0, lit(0.0)).otherwise(
        k.cast("double") * log(k.cast("double") * n.cast("double") /
          (r.cast("double") * c.cast("double"))))
    val scored = cells
      .join(broadcast(wordTot), Seq("w"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(nTot))
      .filter(col("a").cast("double") * col("n").cast("double") >
        col("cw").cast("double") * col("ns").cast("double"))
      .withColumn("k12", col("cw") - col("a"))
      .withColumn("k21", col("ns") - col("a"))
      .withColumn("k22", col("n") - col("ns") - col("cw") + col("a"))
      .withColumn("g2", round(lit(2.0) * (
        term(col("a"), col("cw"), col("ns"), col("n")) +
          term(col("k12"), col("cw"), col("n") - col("ns"), col("n")) +
          term(col("k21"), col("n") - col("cw"), col("ns"), col("n")) +
          term(col("k22"), col("n") - col("cw"), col("n") - col("ns"), col("n"))), 6))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("g2").desc, col("w"))).cast("long"))
      .filter(col("rank") <= KeynessTopK)
      .select(col("source"), col("w").as("term"), col("a").as("n_in_source"),
        col("g2"), col("rank"))
      .orderBy(col("source"), col("rank"))
  }

  /** The q122 oracle, generated from [[KeynessTopK]] — the identical
    * four-term G² chain with CASE-guarded zero cells. */
  private[graft] def keynessOracleSql: String = {
    def term(k: String, r: String, c: String): String =
      s"CASE WHEN $k = 0 THEN 0.0 ELSE CAST($k AS DOUBLE) * ln(CAST($k AS DOUBLE) * CAST(n AS DOUBLE) / (CAST($r AS DOUBLE) * CAST($c AS DOUBLE))) END"
    s"""WITH t AS (
       |  SELECT source, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS w FROM documents),
       |cells AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a FROM t GROUP BY 1, 2),
       |wt AS (SELECT w, CAST(SUM(a) AS BIGINT) AS cw FROM cells GROUP BY 1),
       |st AS (SELECT source, CAST(SUM(a) AS BIGINT) AS ns FROM cells GROUP BY 1),
       |nt AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM cells),
       |k AS (
       |  SELECT cells.source, cells.w, cells.a, wt.cw, st.ns, nt.n,
       |    wt.cw - cells.a AS k12, st.ns - cells.a AS k21,
       |    nt.n - st.ns - wt.cw + cells.a AS k22
       |  FROM cells JOIN wt USING (w) JOIN st USING (source) CROSS JOIN nt
       |  WHERE CAST(cells.a AS DOUBLE) * CAST(nt.n AS DOUBLE) >
       |        CAST(wt.cw AS DOUBLE) * CAST(st.ns AS DOUBLE)),
       |s AS (
       |  SELECT source, w, a,
       |    round(2.0 * (
       |      ${term("a", "cw", "ns")} +
       |      ${term("k12", "cw", "n - ns")} +
       |      ${term("k21", "n - cw", "ns")} +
       |      ${term("k22", "n - cw", "n - ns")}), 6) AS g2
       |  FROM k),
       |r AS (
       |  SELECT source, w AS term, a AS n_in_source, g2,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY g2 DESC, w) AS BIGINT) AS "rank"
       |  FROM s)
       |SELECT source, term, n_in_source, g2, "rank" FROM r WHERE "rank" <= $KeynessTopK
       |ORDER BY source, "rank"""".stripMargin
  }

  // ---- q183 Zipf rank-frequency slope -----------------------------

  /** Head size for the Zipf fit — rank-frequency fits run on the
    * distribution's head, where the power law holds and the count
    * estimates are tight (the standard practice; the tail is
    * dominated by hapax noise). Also the SCALE lever: the fit input
    * is (|sources| × ZipfTopK)-bounded no matter how large the
    * vocabulary grows. */
  private[graft] val ZipfTopK = 100

  /** q183: Zipf slope per source — the corpus-health diagnostic next
    * to q162's dataset card (natural text shows slope ≈ −1; a
    * templated/spammy source flattens, a boilerplate-heavy source
    * steepens; Piantadosi 2014 reviews the law). OLS of ln(freq) on
    * ln(rank) over the top-[[ZipfTopK]] terms.
    *
    * Scale shape: term counts are a two-level aggregate (map-side
    * partials on (source, term)); the head is selected by the
    * bounded-heap TopKByKey aggregate — NO window ever touches the
    * vocab-sized table (lever (h)), and the fit runs on ≤ K rows per
    * source. Tie order inside an equal-count block is engine-dependent
    * (TopKByKey breaks ties by term hash, the oracle by term), but the
    * (rank, count) MULTISET — the only thing the sums consume — is
    * tie-invariant: tied terms share one count, and the top-K count
    * multiset is unique. Counts ride a double score (exact to 2^53;
    * a single term above 9e15 occurrences is beyond any corpus).
    *
    * Float discipline: x = round(ln rank, 6), y = round(ln count, 6)
    * as DECIMAL(18,6) (lever (i): bounded-ln rounding absorbs the
    * cross-engine ulp) then scaled ×10⁶ into EXACT int64 fixed-point
    * (lever (m)): the OLS combination n·Σxy − Σx·Σy runs entirely in
    * int64 — found live at sf0.01: a downscaling decimal cast of the
    * scale-12 combination is NOT engine-portable (DuckDB truncates
    * DECIMAL(30,12)→(18,6) where Spark rounds HALF_UP, splitting num
    * by 1e-6). Overflow bound: y6 ≤ ln(9e15)·10⁶ < 3.7e7 (counts ride
    * doubles, exact to 2^53), x6 ≤ ln(K)·10⁶, so |num| ≤
    * n·Σ|x6·y6| + |Σx6·Σy6| < 3.4e18 < 2^63 at K=100 for ANY corpus.
    * int64→double is correctly rounded identically in both engines,
    * so the slope is ONE raw IEEE division of identical doubles
    * (lever (c)). */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    def fix6(c: Column): Column =
      (round(c, 6).cast("decimal(18,6)") * lit(1000000L)).cast("long")
    val ranked = counts
      .groupBy(col("source"))
      .agg(graft.plans.TopKByKey.topK(ZipfTopK)(
        xxhash64(col("term")), col("cnt").cast("double")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("source"),
        fix6(log(col("pos").cast("double") + lit(1.0d))).as("x6"),
        fix6(log(col("e.score"))).as("y6"))
    val agg = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
        sum(col("x6") * col("y6")).as("sxy"),
        sum(col("x6") * col("x6")).as("sxx"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    agg.select(col("source"), col("n").cast("long").as("n_terms"),
      when(den === lit(0L), lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .as("zipf_slope"))
      .orderBy(col("source"))
  }

  // ---- q184 distinct-n diversity ----------------------------------

  /** q184: n-gram type/token ratios per source for n ∈ {1,2,3} — the
    * distinct-n diversity diagnostic (Li et al. 2016's distinct-n,
    * standard in corpus QA next to q73's repetition rules: a source
    * whose bigram TTR collapses is templated/boilerplate even when
    * individual docs pass quality filters).
    *
    * Scale shape: one column-pruned scan per gram order (the fused
    * single-scan alternative needs a higher-order transform over the
    * gram arrays, which runs INTERPRETED — SURVEY §8 — and costs more
    * than the extra two scans of one string column); each order is a
    * two-level aggregate — map-side partials on (source, g), then a
    * |sources|-sized rollup. No EXPAND (q135's cost), no window, no
    * join. TTR is one raw IEEE division of exact longs (lever (c)). */
  def distinctNgrams(spark: SparkSession, dir: String): DataFrame = {
    val byN = Seq(1, 2, 3).map { n =>
      Tables.documents(spark, dir)
        .select(col("source"),
          explode(graft.plans.WordNGrams(toks, n, distinct = false)).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_grams"),
          count(lit(1)).as("n_types"))
        .withColumn("n", lit(n))
    }
    byN.reduce(_.unionByName(_))
      .select(col("source"), col("n"), col("n_grams"), col("n_types"),
        (col("n_types").cast("double") / col("n_grams").cast("double"))
          .as("ttr"))
      .orderBy(col("source"), col("n"))
  }

  // ---- q193 unicode normalization at ingest ------------------------

  /** q193 planting residues + strings (shared verbatim with the
    * oracle — one def each). The synthetic corpus is pure ASCII, on
    * which NFC is the identity — so the planting stage derives the
    * SAME decomposed-unicode dirty corpus in both engines
    * (q182's discipline) and the normalizer is genuinely exercised
    * and value-checked. Both plants use BMP combining marks
    * (é/ï/Å/ö) whose NFC compositions are stable across every
    * Unicode version either engine could ship. */
  private[graft] val NfcMod1 = 17L
  private[graft] val NfcPlant1 = " café naïve"
  private[graft] val NfcMod2 = 19L
  private[graft] val NfcPlant2 = " Ångström"

  /** q193: NFC normalization at ingest — the step every text
    * pipeline runs FIRST (CCNet/Dolma normalize before filtering:
    * a pipeline that skips it dedups "café" ≠ "café" forever
    * after). Spark has no normalization function, so this is a
    * native codegen Expression pair (plans/NfcExprs): NFC via the
    * JDK's UAX#15 implementation, and a CODEPOINT poly-31 checksum —
    * the byte-folding RollingHash agrees with the oracle's `ord`
    * fragment only on ASCII, and normalization is precisely about
    * the non-ASCII case.
    *
    * Per source: docs, docs changed by NFC, codepoints saved, and
    * the codepoint checksum of the NORMALIZED text (the q171/q182
    * discipline — the oracle value-checks the actual normalized
    * codepoints, not just counts). Scale shape: one scan, row-local
    * kernels in WholeStageCodegen, |sources|-row partial-agg
    * rollup; text never enters an exchange. */
  def unicodeNorm(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.NfcExprs
    val planted = Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % NfcMod1 === 0L, lit(NfcPlant1)).otherwise(lit("")),
        when(col("doc_id") % NfcMod2 === 0L, lit(NfcPlant2)).otherwise(lit(""))))
    planted
      .select(col("source"), col("text"),
        NfcExprs.nfcNormalize(col("text")).as("norm"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("text"), 1L).otherwise(0L))
          .as("n_changed"),
        (sum(length(col("text"))) - sum(length(col("norm"))))
          .cast("long").as("cp_saved"),
        (sum(NfcExprs.codepointHash(col("norm")).cast("decimal(38,0)")) %
          lit(RollingHash.Mod)).cast("long").as("norm_checksum"))
      .orderBy(col("source"))
  }

  /** The q193 oracle, planting strings and residues interpolated
    * from the SAME constants; checksum = the codepoint ord fragment
    * over the normalized text. */
  private[graft] def unicodeNormOracleSql: String = {
    val mod = RollingHash.Mod
    s"""WITH planted AS (
      |  SELECT doc_id, source,
      |    text ||
      |    CASE WHEN doc_id % $NfcMod1 = 0 THEN '$NfcPlant1' ELSE '' END ||
      |    CASE WHEN doc_id % $NfcMod2 = 0 THEN '$NfcPlant2' ELSE '' END AS text
      |  FROM documents),
      |n AS (SELECT source, text, nfc_normalize(text) AS norm FROM planted)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(SUM(len(text)) - SUM(len(norm)) AS BIGINT) AS cp_saved,
      |  CAST(SUM(list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(string_split(norm, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % $mod)) % $mod AS BIGINT) AS norm_checksum
      |FROM n GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- q187 quality-signal correlation (calibration) ---------------

  /** Per-source sample cap for the correlation fit: correlations are
    * a diagnostic, not a transform, so they run on a DETERMINISTIC
    * per-source sample (the W2vFitDocCap fit-sample discipline) —
    * which is ALSO what keeps the Pearson combination n·Σxy − Σx·Σy
    * int64-EXACT at any corpus size (the n² factor kills raw int64
    * around 7e4 docs/source). 100 binds at the bench scale (250 docs/source), so the
    * selection path is exercised by the gate. */
  private[graft] val CorrSampleK = 100
  /** Signal clamps keeping every sum bounded: x = words ≤ 3e4,
    * y = TTR‰ ≤ 1000 by construction, z = mean-word-length‰ ≤ 1e5.
    * Worst combination ≤ 2·K²·x_max·z_max ≈ 2.4e16 ≪ 2^63. */
  private[graft] val CorrMaxWords = 30000L
  private[graft] val CorrMaxWlenPm = 100000L

  /** q187: pairwise Pearson correlation between per-doc quality
    * signals, per source — the "do our filters agree" calibration
    * check run before trusting any single signal as an admission
    * rule (two highly-correlated signals gate the same docs twice; a
    * sign flip between sources exposes a source where a heuristic
    * breaks). Signals (all row-local, one scan, shared tokenizer):
    * doc length x (words, clamped), type-token ratio y (‰, the exact
    * fixed-point twin of q72's ttr signal), mean word length z (‰).
    *
    * Sample selection = the K smallest sampling-hash docs per source
    * via the bounded TopKByKey heap (score = −hash, ties by doc_id)
    * — window-free at any corpus size; the ORACLE states the same
    * set as a rank window (lever (h)).
    *
    * Float discipline: every signal is exact int64 fixed-point with
    * explicit half-up integer division on non-negative operands
    * (trunc==floor both engines); all ten sums and both Pearson
    * combinations stay int64-exact under the documented clamps; and
    * r = num / sqrt(dx·dy) is int64→double casts (correctly rounded
    * identically), one IEEE multiply, one IEEE sqrt (correctly
    * rounded BY THE STANDARD, unlike ln/exp), one IEEE division —
    * bit-identical cross-engine with no rounding step at all. */
  def signalCorr(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusOps
    val docs = Tables.documents(spark, dir)
    val sel = docs.select(col("doc_id"), col("source"))
      .groupBy(col("source"))
      .agg(graft.plans.TopKByKey.topK(CorrSampleK)(col("doc_id"),
        -CorpusOps.sampleHash(col("doc_id")).cast("double")).as("top"))
      .select(col("source"), explode(col("top")).as("e"))
      .select(col("source"), col("e.id").as("doc_id"))
    // Join the (|sources|·K)-row selection onto the corpus BEFORE
    // computing any signal: Catalyst won't push a join below a
    // computing Project, so the projection order IS the plan — this
    // way tokenize + the interpreted char-count fold run on at most
    // K·|sources| surviving rows, never the whole corpus
    // (PlanShapeSpec pins the order; values are unchanged because
    // the signals are row-local).
    val sig = docs.select(col("doc_id"), col("source"), col("text"))
      .join(broadcast(sel), Seq("source", "doc_id"))
      .select(col("doc_id"), col("source"), toks.as("t"))
      .select(col("doc_id"), col("source"),
        size(col("t")).cast("long").as("nw"),
        size(array_distinct(col("t"))).cast("long").as("nd"),
        aggregate(col("t"), lit(0L), (acc, w) => acc + length(w)).as("tc"))
      .filter(col("nw") > 0L)
    val xyz = sig
      .select(col("source"),
        least(col("nw"), lit(CorrMaxWords)).as("x"),
        expr("(1000 * nd + nw div 2) div nw").as("y"),
        least(expr("(1000 * tc + nw div 2) div nw"), lit(CorrMaxWlenPm))
          .as("z"))
    val a = xyz.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"),
      sum(col("y") * col("z")).as("syz"))
    def num(sab: Column, sa: Column, sb: Column) =
      col("n") * sab - sa * sb
    def den(saa: Column, sa: Column) = col("n") * saa - sa * sa
    def r(nm: Column, d1: Column, d2: Column): Column =
      when(d1 === 0L || d2 === 0L, lit(null).cast("double"))
        .otherwise(nm.cast("double") /
          sqrt(d1.cast("double") * d2.cast("double")))
    val (dx, dy, dz) = (den(col("sxx"), col("sx")),
      den(col("syy"), col("sy")), den(col("szz"), col("sz")))
    a.select(col("source"), col("n").cast("long").as("n_sample"),
      r(num(col("sxy"), col("sx"), col("sy")), dx, dy).as("r_len_ttr"),
      r(num(col("sxz"), col("sx"), col("sz")), dx, dz).as("r_len_wlen"),
      r(num(col("syz"), col("sy"), col("sz")), dy, dz).as("r_ttr_wlen"))
      .orderBy(col("source"))
  }

  /** The q187 oracle, generated from the operator's constants (the
    * sampling-hash family, K, the clamps). */
  private[graft] def signalCorrOracleSql: String = {
    import graft.operators.CorpusOps.{SampleHashC, SampleHashP}
    s"""WITH sel AS (
      |  SELECT doc_id, source FROM (
      |    SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY ((doc_id % $SampleHashP) * $SampleHashC) % $SampleHashP, doc_id) AS rk
      |    FROM documents) WHERE rk <= $CorrSampleK),
      |t AS (SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
      |      FROM documents),
      |sig AS (
      |  SELECT doc_id, source,
      |    CAST(len(toks) AS BIGINT) AS nw,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(toks, w -> CAST(len(w) AS BIGINT))),
      |      (a, b) -> a + b) AS tc
      |  FROM t WHERE len(toks) > 0),
      |xyz AS (
      |  SELECT sig.source,
      |    least(nw, $CorrMaxWords) AS x,
      |    (1000 * nd + nw // 2) // nw AS y,
      |    least((1000 * tc + nw // 2) // nw, $CorrMaxWlenPm) AS z
      |  FROM sig JOIN sel ON sig.doc_id = sel.doc_id AND sig.source = sel.source),
      |a AS (
      |  SELECT source, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(z) AS BIGINT) AS sz,
      |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
      |    CAST(SUM(z*z) AS BIGINT) AS szz,
      |    CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*z) AS BIGINT) AS sxz,
      |    CAST(SUM(y*z) AS BIGINT) AS syz
      |  FROM xyz GROUP BY source),
      |b AS (
      |  SELECT source, n,
      |    n * sxy - sx * sy AS nxy, n * sxz - sx * sz AS nxz,
      |    n * syz - sy * sz AS nyz,
      |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
      |    n * szz - sz * sz AS dz
      |  FROM a)
      |SELECT source, CAST(n AS BIGINT) AS n_sample,
      |  CASE WHEN dx = 0 OR dy = 0 THEN NULL
      |    ELSE CAST(nxy AS DOUBLE) / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) END AS r_len_ttr,
      |  CASE WHEN dx = 0 OR dz = 0 THEN NULL
      |    ELSE CAST(nxz AS DOUBLE) / sqrt(CAST(dx AS DOUBLE) * CAST(dz AS DOUBLE)) END AS r_len_wlen,
      |  CASE WHEN dy = 0 OR dz = 0 THEN NULL
      |    ELSE CAST(nyz AS DOUBLE) / sqrt(CAST(dy AS DOUBLE) * CAST(dz AS DOUBLE)) END AS r_ttr_wlen
      |FROM b ORDER BY source""".stripMargin
  }

  // ---- q196: word2vec negative-sampling table ---------------------

  /** Vocabulary floor (== the shared Word2Vec fit's minCount — the
    * sampling table serves the same trainer) and the fixed-point
    * quantization scale for the weights. Count clamp keeps cnt³
    * inside int64 on BOTH engines (2e6³ = 8e18 < 2^63). */
  private[graft] val NegMinCount = 5L
  private[graft] val NegCntCap = 2000000L
  private[graft] val NegWScale = 1024L

  /** q196: the NEGATIVE-SAMPLING distribution word2vec training draws
    * noise words from — unigram count^(3/4), the published smoothing
    * (Mikolov et al. 2013 §2.2; gensim builds this table inside the
    * trainer the reference wraps, train/train_word2vec.py:10). As a
    * standalone table it also serves contrastive-pair mining for any
    * embedding fit. Float discipline (lever (x) composition): x^0.75
    * NEVER calls libm pow — cnt³ is exact int64 (clamped), the
    * int64→double cast and the two nested sqrts are all IEEE
    * correctly-rounded, so the weight double is bit-identical
    * cross-engine; it is then fixed-point-quantized
    * (floor(w·S + 0.5), the lever-(w) portable quantizer) so the
    * total and cumulative ranges are EXACT integer sums — the
    * sampling contract (draw u ∈ [0, total), walk cum) is integer-
    * exact and engine-portable. Scale shape: one corpus scan →
    * map-side-combined (word) counts; everything after is
    * vocab-bounded, incl. the rank/cum window (the q121 bounded-
    * survivor class). */
  def negSampling(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(toks).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= NegMinCount)
    val c = least(col("cnt"), lit(NegCntCap))
    val w = sqrt(sqrt((c * c * c).cast("double")))
    val wq = floor(w * NegWScale + lit(0.5)).cast("long")
    val byW = Window.orderBy(col("wq").desc, col("word"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    counts.select(col("word"), col("cnt"), wq.as("wq"))
      .withColumn("cum_wq", sum(col("wq")).over(byW))
      .withColumn("share",
        col("wq").cast("double") / sum(col("wq")).over(all).cast("double"))
      .orderBy(col("cum_wq"), col("word"))
  }

  // ---- q197: token-length KS drift --------------------------------

  /** KS alarm threshold: a source whose token-length distribution
    * sits more than this sup-distance from the corpus blend gets
    * flagged (the tokenizer-drift tripwire: a source that suddenly
    * ships URLs/base64/minified text moves this statistic first,
    * before any quality rule fires). */
  private[graft] val KsTau = 0.10

  /** q197: per-source Kolmogorov–Smirnov distance between the
    * source's word-length distribution and the whole-corpus blend —
    * the cheap distribution-drift check run per ingest batch (the
    * PSI report q140 buckets DOC lengths; this is the TOKEN-level
    * complement with a sup-norm statistic). Float discipline: every
    * CDF point is one exact-int division (identical doubles both
    * engines, lever (c)); the KS sup is max over |identical −
    * identical| — no rounding anywhere, and the τ compare is exact.
    * Scale shape: one scan → explode → map-side-combined
    * (source, wlen) counts (the TF-IDF aggregation shape); the CDFs
    * and the sup run over the (|sources|·|lengths|)-bounded rollup
    * table — window over aggregated rows, never over the corpus. */
  def tokenLenKs(spark: SparkSession, dir: String): DataFrame =
    tokenLenKsFromCounts(Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("w"))
      .select(col("source"), length(col("w")).cast("long").as("wlen"))
      .groupBy(col("source"), col("wlen")).agg(count(lit(1)).as("c")))

  /** THE KS machinery over a (source, wlen, c) count table — q197
    * derives the counts itself; q203's scorecard feeds the wlen
    * marginal of its shared token cube (one rule, one grid). */
  private[graft] def tokenLenKsFromCounts(lens: DataFrame): DataFrame = {
    val tot = lens.groupBy(col("source")).agg(sum(col("c")).as("n_src"))
    val corpus = lens.groupBy(col("wlen")).agg(sum(col("c")).as("cc"))
    val nAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // dense grid: every (source, wlen) pair, zero-filled, so both
    // CDFs step at every length the corpus has seen
    val grid = tot.select(col("source"), col("n_src"))
      .crossJoin(corpus.select(col("wlen"), col("cc"),
        sum(col("cc")).over(nAll).as("n_all")))
      .join(lens, Seq("source", "wlen"), "left")
      .na.fill(0L, Seq("c"))
    val bySrc = Window.partitionBy(col("source")).orderBy(col("wlen"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cdf_src",
        sum(col("c")).over(bySrc).cast("double") / col("n_src").cast("double"))
      .withColumn("cdf_all",
        sum(col("cc")).over(bySrc).cast("double") / col("n_all").cast("double"))
      .withColumn("d", abs(col("cdf_src") - col("cdf_all")))
      .groupBy(col("source"))
      .agg(first(col("n_src")).as("n_tokens"), max(col("d")).as("ks"))
      .withColumn("drifted", col("ks") > KsTau)
      .orderBy(col("source"))
  }

  /** The q197 oracle — the same dense grid and exact-int CDFs. */
  private[graft] def tokenLenKsOracleSql: String =
    s"""WITH l0 AS (
      |  SELECT source, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS w
      |  FROM documents),
      |l AS (SELECT source, len(w) AS wlen FROM l0),
      |c AS (SELECT source, CAST(wlen AS BIGINT) AS wlen, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM l GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM c GROUP BY 1),
      |corp AS (SELECT wlen, CAST(SUM(c) AS BIGINT) AS cc FROM c GROUP BY 1),
      |nall AS (SELECT CAST(SUM(cc) AS BIGINT) AS n_all FROM corp),
      |grid AS (
      |  SELECT tot.source, tot.n_src, corp.wlen, corp.cc, nall.n_all,
      |    COALESCE(c.c, 0) AS c
      |  FROM tot CROSS JOIN corp CROSS JOIN nall
      |  LEFT JOIN c ON c.source = tot.source AND c.wlen = corp.wlen),
      |k AS (
      |  SELECT source, n_src,
      |    abs(CAST(SUM(c) OVER w AS DOUBLE) / CAST(n_src AS DOUBLE) -
      |        CAST(SUM(cc) OVER w AS DOUBLE) / CAST(n_all AS DOUBLE)) AS d
      |  FROM grid
      |  WINDOW w AS (PARTITION BY source ORDER BY wlen
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT source, CAST(MAX(n_src) AS BIGINT) AS n_tokens, MAX(d) AS ks,
      |  MAX(d) > $KsTau AS drifted
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  /** The q196 oracle — same exact-IEEE chain, constants
    * interpolated. */
  private[graft] def negSamplingOracleSql: String =
    s"""WITH t AS (
      |  SELECT unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS word
      |  FROM documents),
      |c AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM t GROUP BY 1 HAVING COUNT(*) >= $NegMinCount),
      |w AS (
      |  SELECT word, cnt,
      |    CAST(floor(sqrt(sqrt(CAST(least(cnt, $NegCntCap) * least(cnt, $NegCntCap) *
      |      least(cnt, $NegCntCap) AS DOUBLE))) * $NegWScale + 0.5) AS BIGINT) AS wq
      |  FROM c)
      |SELECT word, cnt, wq,
      |  CAST(SUM(wq) OVER (ORDER BY wq DESC, word
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_wq,
      |  CAST(wq AS DOUBLE) / CAST(SUM(wq) OVER () AS DOUBLE) AS share
      |FROM w ORDER BY cum_wq, word""".stripMargin

  // ---- q211: quality-filter review queue ---------------------------

  /** Reviewer quota per (source, failed rule); the oracle window
    * interpolates it. */
  private[graft] val ReviewK = 3

  /** The queue's axis names, paired with their rule columns —
    * generated into both the Spark explode and the oracle's UNION. */
  private[graft] val ReviewAxes: Seq[(String, String)] = Seq(
    "words_ok" -> "words", "wlen_ok" -> "wlen",
    "ttr_ok" -> "ttr", "stop_ok" -> "stopwords")

  /** q211: the HUMAN-REVIEW QUEUE for the quality filter — per
    * (source, failed rule), a deterministic K-doc sample of the
    * failures: the nightly QA artifact a filter-threshold owner
    * actually reads (rules are tuned by LOOKING at what they reject;
    * Gopher §A2 describes exactly this loop). The sample is the K
    * smallest sampling-hash docs (the shared q78 family hash), so
    * the queue is reproducible across runs, engines, and cluster
    * sizes — a reviewer sees the same docs tomorrow unless the data
    * changed. Scale shape: one scan → the SHARED per-doc rule
    * projection → explode only the FAILED axes (≤ 4 rows per bad
    * doc, zero for clean docs) → bounded TopKByKey heaps per
    * (source, axis) — no window over the corpus (lever (h)); output
    * is \|sources\|·\|axes\|·K rows. */
  def reviewQueue(spark: SparkSession, dir: String): DataFrame = {
    val flags = Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("source")) ++ gopherSignalCols: _*)
      .select(Seq(col("doc_id"), col("source")) ++ gopherRuleCols: _*)
    val axisCol = explode(array(ReviewAxes.map { case (c, name) =>
      when(!col(c), lit(name))
    }: _*)).as("axis")
    flags.select(col("doc_id"), col("source"), axisCol)
      .filter(col("axis").isNotNull)
      .groupBy(col("source"), col("axis"))
      .agg(graft.plans.TopKByKey.topK(ReviewK)(col("doc_id"),
        -CorpusOps.sampleHash(col("doc_id")).cast("double")).as("top"))
      .select(col("source"), col("axis"),
        posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("source"), col("axis"), col("e.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("review_rank"))
      .orderBy(col("source"), col("axis"), col("review_rank"))
  }

  /** The q211 oracle — the shared per-doc gopher chain, axes
    * generated from [[ReviewAxes]], the sample stated as a rank
    * window over the interpolated hash (lever (h)). */
  private[graft] def reviewQueueOracleSql: String = {
    import CorpusOps.{SampleHashC, SampleHashP}
    val unions = ReviewAxes.map { case (c, name) =>
      s"SELECT doc_id, source, '$name' AS axis FROM r WHERE NOT $c"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${gopherDocCteSql},
       |f AS (
       |$unions),
       |k AS (
       |  SELECT source, axis, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source, axis
       |      ORDER BY (doc_id % $SampleHashP * $SampleHashC) % $SampleHashP, doc_id)
       |      AS BIGINT) AS review_rank
       |  FROM f)
       |SELECT source, axis, doc_id, review_rank
       |FROM k WHERE review_rank <= $ReviewK
       |ORDER BY source, axis, review_rank""".stripMargin
  }

  // ---- q220: quality-rule change-impact report ---------------------

  /** q220's PROPOSED tighter bounds: raise the word floor to 80 and
    * the TTR floor to 0.3 — both bind on the gate corpora (the
    * report must show a real delta to be exercised). */
  private[graft] val ProposedMinWords = 80L
  private[graft] val ProposedTtrMin = 0.3

  /** q220: RULE-CHANGE IMPACT — the A/B report run before any
    * quality-threshold change ships: per source, pass counts under
    * the CURRENT Gopher bounds vs a PROPOSED tighter set, the newly
    * rejected docs and the token mass they carry (the most common
    * pipeline change is a threshold turn, and the owner needs "what
    * breaks, where, how much" before flipping it — then q211's queue
    * shows WHICH docs). Both rule sets are instantiations of the ONE
    * shared predicate def ([[gopherRulePreds]] / the interpolated
    * SQL mirror), so the A/B and the production filter cannot drift.
    *
    * Scale shape: ONE corpus scan — both verdicts are row-local
    * columns over the same signal projection, the rollup is
    * |sources|-row. The proposed set is strictly tighter, so
    * newly_rejected = pass_now − pass_proposed (spec-asserted).
    * Rates are raw IEEE quotients of exact longs (lever (c)). */
  def ruleChangeImpact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("source")) ++ gopherSignalCols: _*)
      .select(col("source"), col("n_words"),
        gopherPassAt(GopherMinWords, GopherTtrMin).as("p_now"),
        gopherPassAt(ProposedMinWords, ProposedTtrMin).as("p_prop"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p_now"), 1L).otherwise(0L)).as("n_pass_now"),
        sum(when(col("p_prop"), 1L).otherwise(0L)).as("n_pass_proposed"),
        sum(when(col("p_now") && !col("p_prop"), 1L).otherwise(0L))
          .as("n_newly_rejected"),
        sum(when(col("p_now") && !col("p_prop"), col("n_words")).otherwise(0L))
          .as("tokens_lost"))
      .withColumn("pass_rate_now",
        col("n_pass_now").cast("double") / col("n_docs").cast("double"))
      .withColumn("pass_rate_proposed",
        col("n_pass_proposed").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))

  /** The q220 oracle — the shared signal chain with BOTH bound sets
    * interpolated from the same predicate def. */
  private[graft] def ruleChangeImpactOracleSql: String = {
    val (w1, m1, t1, s1) = gopherRulePredsSql(GopherMinWords, GopherTtrMin)
    val (w2, m2, t2, s2) = gopherRulePredsSql(ProposedMinWords, ProposedTtrMin)
    s"""WITH $gopherSignalCteSql,
      |p AS (
      |  SELECT source, n_words,
      |    ($w1 AND $m1 AND $t1 AND $s1) AS p_now,
      |    ($w2 AND $m2 AND $t2 AND $s2) AS p_prop
      |  FROM d)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN p_now THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_now,
      |  CAST(SUM(CASE WHEN p_prop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_proposed,
      |  CAST(SUM(CASE WHEN p_now AND NOT p_prop THEN 1 ELSE 0 END) AS BIGINT) AS n_newly_rejected,
      |  CAST(SUM(CASE WHEN p_now AND NOT p_prop THEN n_words ELSE 0 END) AS BIGINT) AS tokens_lost,
      |  CAST(SUM(CASE WHEN p_now THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pass_rate_now,
      |  CAST(SUM(CASE WHEN p_prop THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pass_rate_proposed
      |FROM p GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- q200: term burstiness (Church & Gale 1995) -----------------

  /** DF floor (burstiness is a statement about RECURRING terms — a
    * df-1 term's tf/df is just its count) and head size; the q200
    * oracle interpolates both. */
  private[graft] val BurstMinDf = 3L
  private[graft] val BurstTopK = 50

  /** q200: TERM BURSTINESS — Church & Gale (1995): content words
    * arrive in bursts (high occurrences-per-containing-doc), function
    * words spread evenly, and pathologically bursty terms mark
    * template/boilerplate/spam content. burst = tf/df, the mean
    * within-document repetition of a term, with the per-doc peak
    * (max_in_doc) alongside — the corpus-linguistics input to
    * stopword and boilerplate rules (q94's block list, q22/q23's
    * dictionary weighting; the reference's tfidf.py weights by the
    * df side only — this is the complementary statistic).
    *
    * Scale shape: one scan → (term, doc) counts with map-side
    * combine (the TF-IDF aggregation shape) → vocab-bounded (term)
    * rollup → the global head via orderBy(...).limit(K), which Spark
    * plans as TakeOrderedAndProject: per-partition bounded heaps +
    * a K-row merge on the driver — NO window, NO global sort, NO
    * single-partition exchange at any vocab size. Float discipline:
    * burst = one IEEE division of exact longs (lever (c)); the
    * (burst desc, term asc) ranking is a strict total order (term is
    * unique), so the K-cut is deterministic cross-engine. */
  def termBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("term"))
      .agg(sum(col("c")).cast("long").as("tf"),
        count(lit(1)).as("df"),
        max(col("c")).cast("long").as("max_in_doc"))
      .filter(col("df") >= BurstMinDf)
      .withColumn("burst",
        col("tf").cast("double") / col("df").cast("double"))
      .orderBy(col("burst").desc, col("term"))
      .limit(BurstTopK)
  }

  /** The q200 oracle, generated from [[BurstMinDf]]/[[BurstTopK]]. */
  private[graft] def termBurstinessOracleSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS term
      |  FROM documents),
      |pd AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
      |a AS (
      |  SELECT term, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df,
      |    CAST(MAX(c) AS BIGINT) AS max_in_doc
      |  FROM pd GROUP BY term HAVING COUNT(*) >= $BurstMinDf)
      |SELECT term, tf, df, max_in_doc,
      |  CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS burst
      |FROM a ORDER BY burst DESC, term LIMIT $BurstTopK""".stripMargin
}
