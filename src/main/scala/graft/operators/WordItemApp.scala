package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** The reference's word_item_similarity application surface
  * (/root/reference/redshells/app/word_item_similarity/), re-expressed
  * as distributed plans:
  * - FindItemKeywordByMatching (find_item_keyword_by_matching.py:12)
  * - MakeClickTrainData (make_click_train_data.py:14)
  * - MakeSimilarityData (make_similarity_data.py:13)
  * (CalculateWordItemSimilarity two-stage search lives in
  * MlOps.wordItemSearch — it needs trained embeddings.)
  */
object WordItemApp {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Keyword→item matching: a small keyword list (a task parameter in
    * the reference) broadcast against tokenized item names; per
    * keyword: match count + price stats. */
  def keywordMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kws = Seq("widget", "bolt", "anvil", "gear", "red", "blue").toDF("keyword")
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_retailprice"),
        explode(split(col("p_name"), " ")).as("tok"))
      .join(broadcast(kws), col("tok") === col("keyword"))
      .groupBy(col("keyword"))
      .agg(
        count(lit(1)).as("n_items"),
        min(col("p_partkey")).as("first_part"),
        (sum(dec(col("p_retailprice"))).cast("double") / count(lit(1))).as("avg_price"))
      .orderBy(col("keyword"))
  }

  /** Clicked item id from the event props payload — get_json_object
    * is null on a missing key (an empty-string regexp_extract would
    * THROW on the long cast under Spark 4's default ANSI mode). */
  private def itemFromProps: Column =
    get_json_object(col("props"), "$.k").cast("long")

  /** MakeClickTrainData: positives = observed (user, item) clicks;
    * negatives = deterministic hash-sample of the unclicked
    * (user, item) cross space (reproducible at any cluster size — the
    * reference samples with numpy on the driver). The sampling rule
    * (user·31 + item) % 20 == 0 is solved for the item residue, so
    * negatives come from an EQUI-join of users to the matching item
    * residue class: the work is exactly the output size (1/20 of the
    * cross space), never the O(|users|×|items|) cross join a
    * post-join filter would scan. */
  def clickTrainData(spark: SparkSession, dir: String): DataFrame = {
    val clicks = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), itemFromProps.as("item"))
      .filter(col("item").isNotNull)
      // slim (user, item) projection with per-row JSON extraction —
      // consumed by pos, users and items through ONE user_id
      // exchange, so the event log is scanned and props-parsed once
      .repartition(col("user_id"))
    // distinct-pair-bounded aggregate; feeds the negative anti-join
    // AND the positive stats row
    val pos = clicks.groupBy(col("user_id"), col("item"))
      .agg(count(lit(1)).as("n_clicks"))
    val users = clicks.select(col("user_id")).distinct()
    val items = clicks.select(col("item")).distinct()
    // (u·31 + i) % 20 == 0  ⟺  i % 20 == (20 − (u·31 % 20)) % 20
    val neg = users
      .withColumn("resid", pmod(lit(20) - pmod(col("user_id") * 31, lit(20)), lit(20)))
      .join(items.withColumn("resid", pmod(col("item"), lit(20))), Seq("resid"))
      .drop("resid")
      .join(pos, Seq("user_id", "item"), "left_anti")
    val posStats = pos.agg(
      count(lit(1)).as("n_examples"),
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("item")).as("n_items"),
      sum(col("n_clicks")).as("total_clicks")).withColumn("split", lit("pos"))
    val negStats = neg.agg(
      count(lit(1)).as("n_examples"),
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("item")).as("n_items"),
      lit(0L).as("total_clicks")).withColumn("split", lit("neg"))
    posStats.unionByName(negStats)
      .select(col("split"), col("n_examples"), col("n_users"),
        col("n_items"), col("total_clicks"))
      .orderBy(col("split"))
  }

  /** THE timestamped click-event stream (user, item, tsec, event_id)
    * — the single item-extraction rule, with event time kept at the
    * established second granularity (the unix_timestamp(date_trunc)
    * ↔ epoch(date_trunc) parity pattern every event oracle uses).
    * q201's temporal split reads it directly; [[userItemClicks]] is
    * its distinct (user, item) projection. */
  private[operators] def clickEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), itemFromProps.as("item"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsec"),
        col("event_id"))
      .filter(col("item").isNotNull)

  /** THE distinct (user, item) click set, as rows — the base of the
    * consumers that need rows (q153's HITS edges, recScored's split).
    * The pair consumers read [[clickPostings]] instead. */
  private[operators] def userItemClicks(spark: SparkSession, dir: String): DataFrame =
    clickEvents(spark, dir)
      .select(col("user_id"), col("item"))
      .distinct()

  /** THE per-user posting arrays: each user's sorted distinct clicked
    * items. `collect_set` over the raw click stream is exactly
    * `collect_list` over the DISTINCT (user, item) set (set equality;
    * sort_array pins the order), so the build is ONE user-keyed
    * shuffle with map-side partial set-collect. Both the co-click
    * pairs and q142's item marginals derive from it (shared-rule
    * discipline: the pair list and the marginals cannot drift). Held
    * serving state, built once per (session, corpus) like q89's BM25
    * postings: the postings (`read()`) and each item's user count
    * (`read("item_users")`, q142's marginals |U_a|) — a request
    * probes them and never scans or JSON-parses the click log again. */
  private def clickPostings(spark: SparkSession, dir: String): graft.SessionRegistry.Artifact =
    graft.SessionRegistry.held(spark, "click_postings", dir) { scope =>
      val postings = scope.persisted(clickEvents(spark, dir)
        .select(col("user_id"), col("item"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_set(col("item"))).as("items")))
      Seq("" -> postings,
        "item_users" -> postings.select(explode(col("items")).as("item"))
          .groupBy(col("item")).agg(count(lit(1)).as("n_users")))
    }

  /** Co-click support of each (item_a < item_b) pair: the codegen
    * pair kernel over the posting arrays, never a self-join of the
    * click log. */
  private def pairSupport(postings: DataFrame): DataFrame =
    postings
      .select(explode(graft.plans.PairExprs.postingPairs(col("items"))).as("p"))
      .groupBy(col("p.id_a").as("item_a"), col("p.id_b").as("item_b"))
      .agg(count(lit(1)).as("support"))

  /** THE co-click pair rule (q48, q142 and GraphOps' click-graph
    * queries share it). */
  private[operators] def coClickPairs(spark: SparkSession, dir: String): DataFrame =
    pairSupport(clickPostings(spark, dir).read())

  /** MakeSimilarityData: co-click item pairs with support. */
  def similarityData(spark: SparkSession, dir: String): DataFrame =
    coClickPairs(spark, dir)
      .filter(col("support") >= 2)
      .orderBy(col("item_a"), col("item_b"))

  /** q142: co-click COSINE item similarity — the count-based
    * item-item similarity the reference computes from MF factors
    * (calculate_similarity_with_matrix_factorization.py:21) expressed
    * directly on the interaction sets: cos(a,b) = |U_a ∩ U_b| /
    * √(|U_a|·|U_b|) over distinct click sets. Scale shape: the
    * intersection counts are the co-click pairs and the per-item
    * marginals |U_a| are an explode-count of the SAME per-user
    * posting arrays ([[clickPostings]]), held beside them and
    * broadcast onto the pair table — a warm request reads no click
    * log.
    * Floats: |U_a|·|U_b| is an exact integer, √ and ÷ are
    * correctly-rounded IEEE on identical operands → bit-identical
    * cross-engine with no decimal bridge; round(,6) only for
    * presentation. */
  def coClickCosine(spark: SparkSession, dir: String): DataFrame = {
    val held = clickPostings(spark, dir)
    val itemCounts = held.read("item_users")
    pairSupport(held.read())
      .filter(col("support") >= 2)
      .join(broadcast(itemCounts.select(col("item").as("item_a"),
        col("n_users").as("n_a"))), Seq("item_a"))
      .join(broadcast(itemCounts.select(col("item").as("item_b"),
        col("n_users").as("n_b"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("support"),
        col("n_a"), col("n_b"),
        round(col("support").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")), 6).as("cosine"))
      .orderBy(col("item_a"), col("item_b"))
  }

  /** q157 constants: candidate list depth and recommendation cutoff.
    * The q157 oracle SQL is GENERATED from these + the split-hash
    * constants below (one source of truth — the engines cannot
    * drift when a constant changes). */
  private[graft] val RecTopM = 20
  private[graft] val RecK = 10
  /** Split-hash family for the held-out eval split: EVERY operand is
    * reduced mod [[SplitP]] before it multiplies — user_id before
    * the 1009 key-mix ((p−1)·1009 ≈ 1e12, + item stays far under
    * 2^63 for any item id the mix can see after its own magnitudes),
    * and the mixed key before the 2654435761 scatter
    * ((p−1)·C ≈ 2.65e18 < 2^63) — because Spark silently wraps on
    * long overflow while DuckDB raises a BIGINT range error, so any
    * unreduced product diverges (error vs wrapped split) once ids
    * are large enough. Values are unchanged for ids < p. */
  private[graft] val SplitP = 1000000007L
  private[graft] val SplitC = 2654435761L
  private[graft] val SplitMod = 5L

  /** q157: OFFLINE RECOMMENDER EVALUATION — precision@K / recall@K /
    * hit-rate of a popularity recommender against a held-out click
    * split (the evaluate-before-ship loop around the reference's
    * similarity/MF apps; its validate/optimize utilities,
    * train/utils/utils.py:40, assume exactly this harness). Split =
    * q78's multiplicative-hash family on the (user, item) key —
    * deterministic, engine-reproducible, leakage-free by key. The
    * top-M candidate list is an item-vocabulary-bounded broadcast;
    * per-user filtering (drop already-clicked), ranking, and hit
    * counting ride ONE user-keyed clustering of the bounded
    * users×M candidate frame — the click log itself is scanned
    * once. Float discipline: per-user precision/recall divide exact
    * ints (identical IEEE), round(,6)-ed then decimal-summed; the
    * macro means are RAW quotients of exact operands (lever (k)). */
  /** The SHARED q157/q191 scored-candidate frame (one def — the two
    * eval queries must grade the same recommendations): per test
    * user, the ≤[[RecK]] popularity-ranked unseen candidates with
    * the test-hit flag and the user's test size.
    *
    * DISK artifact per (session, corpus) — the round-6/lever-(kk)
    * discipline (opt r08): two oracle-gated consumers otherwise
    * re-derive the whole split+rank+join pyramid per call once a
    * clearCache() drops it; the frame is test-users×K-bounded. */
  private[graft] def recScored(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "rec_scored", dir)(
      recScoredBuild(spark, dir).write.parquet(_)).read()

  private def recScoredBuild(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clicks = userItemClicks(spark, dir)
    val isTest =
      ((col("user_id") % SplitP * 1009L + col("item")) % SplitP) * SplitC %
        SplitP % SplitMod === 0L
    val train = clicks.filter(!isTest)
    val test = clicks.filter(isTest)
    // round 8: the popularity rank window's input is pre-cut to the
    // rows that can rank ≤ M (bounded-heap M-th count as a broadcast
    // scalar) — at 10⁸ items the |items| table must not serialize
    // through one window task; the oracle keeps the plain window
    // cutTop consumes its input twice (the M-th count agg + the
    // filter); both reads share the item agg's exchange, so the
    // click-log groupBy pyramid runs once; the table is |items|-bounded
    val counts = train.groupBy(col("item")).agg(count(lit(1)).as("n_clicks"))
    val topM = graft.plans.TopKByKey.cutTop(counts, col("n_clicks"), RecTopM)
      .withColumn("pop_rank", row_number().over(
        Window.orderBy(col("n_clicks").desc, col("item"))).cast("long"))
      .filter(col("pop_rank") <= RecTopM)
    val users = test.select(col("user_id")).distinct()
    val recs = users.crossJoin(broadcast(topM))
      .join(train.withColumn("in_train", lit(1L)),
        Seq("user_id", "item"), "left")
      .filter(col("in_train").isNull)
      .withColumn("rec_rank", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("pop_rank"))).cast("long"))
      .filter(col("rec_rank") <= RecK)
    recs
      .join(test.withColumn("hit", lit(1L)), Seq("user_id", "item"), "left")
      .join(test.groupBy(col("user_id")).agg(count(lit(1)).as("n_test")),
        Seq("user_id"))
      .select(col("user_id"), col("item"), col("rec_rank"),
        coalesce(col("hit"), lit(0L)).as("hit"), col("n_test"))
  }

  def recEval(spark: SparkSession, dir: String): DataFrame = {
    val perUser = recScored(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rec"),
        sum(col("hit")).as("n_hit"),
        min(col("n_test")).as("n_test"))
      .withColumn("p_u",
        round(col("n_hit").cast("double") / col("n_rec").cast("double"), 6)
          .cast("decimal(18,6)"))
      .withColumn("r_u",
        round(col("n_hit").cast("double") / col("n_test").cast("double"), 6)
          .cast("decimal(18,6)"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("n_hit") > 0L, 1L).otherwise(0L)).as("n_users_hit"),
      sum(col("n_hit")).as("total_hits"),
      (sum(when(col("n_hit") > 0L, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("hit_rate"),
      (sum(col("p_u")).cast("decimal(18,6)").cast("double") /
        count(lit(1)).cast("double")).as("macro_precision"),
      (sum(col("r_u")).cast("decimal(18,6)").cast("double") /
        count(lit(1)).cast("double")).as("macro_recall"))
  }

  /** q191: RANKING quality for the same recommendations — nDCG@K and
    * MRR@K macro-averaged over test users (hit_rate/precision/recall
    * in q157 say WHETHER the list contains test items; these say
    * WHERE — the metric a ranker is actually tuned on; Järvelin &
    * Kekäläinen 2002). Binary gains: DCG = Σ_hits 1/log2(rank+1),
    * ideal DCG from min(n_test, K) leading ranks, RR = 1/first-hit
    * rank.
    *
    * Float discipline: log2 is the one 1-ulp-risky op → each gain
    * term rounds to DECIMAL(18,6) before the ≤K-term exact sums
    * (lever (i), PSI's boundedness argument); the IDCG table is a
    * K-row cumulative-sum broadcast built from the SAME rounded
    * gain expression; ndcg_u = one IEEE division of identically-
    * derived doubles; macro means follow q157's round→decimal→raw-
    * quotient pattern. 1/rank at 6 decimals has no half-boundary for
    * rank ≤ K (verified by enumeration: .333333|3, .142857|1, …).
    *
    * Scale shape: rides the SAME shared scored frame as q157 (the
    * users×K-bounded candidate table); the gains table is K rows;
    * one user-keyed agg + one broadcast join. */
  def recNdcg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def gain(rank: Column): Column =
      round(lit(1.0d) / log2(rank.cast("double") + lit(1.0d)), 6)
        .cast("decimal(18,6)")
    val gains = spark.range(1, RecK + 1)
      .select(col("id").as("i"), gain(col("id")).as("g"))
      .withColumn("idcg", sum(col("g")).over(
        Window.orderBy(col("i")).rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("decimal(18,6)"))
      .select(col("i").as("k"), col("idcg"))
    val perUser = recScored(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("hit") === 1L, gain(col("rec_rank")))
          .otherwise(lit(0).cast("decimal(18,6)")))
          .cast("decimal(18,6)").as("dcg"),
        min(when(col("hit") === 1L, col("rec_rank"))).as("first_hit"),
        min(col("n_test")).as("n_test"))
      .withColumn("k", least(col("n_test"), lit(RecK.toLong)))
      .join(broadcast(gains), Seq("k"))
      .withColumn("ndcg",
        col("dcg").cast("double") / col("idcg").cast("double"))
      .withColumn("rr", when(col("first_hit").isNull, lit(0.0d))
        .otherwise(round(lit(1.0d) / col("first_hit").cast("double"), 6)))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("first_hit").isNotNull, 1L).otherwise(0L))
        .as("n_users_hit"),
      (sum(round(col("ndcg"), 6).cast("decimal(18,6)"))
        .cast("decimal(18,6)").cast("double") /
        count(lit(1)).cast("double")).as("macro_ndcg"),
      (sum(col("rr").cast("decimal(18,6)")).cast("decimal(18,6)")
        .cast("double") /
        count(lit(1)).cast("double")).as("macro_mrr"))
  }

  // ---- q201: temporal train/eval split audit ----------------------

  /** Boundary position: train takes the first [[SplitNum]]/[[SplitDen]]
    * of the log's time span (exact integer arithmetic on epoch
    * seconds — both engines derive the identical boundary; the q201
    * oracle interpolates these). */
  private[graft] val SplitNum = 4L
  private[graft] val SplitDen = 5L

  /** q201: TEMPORAL split audit for the interaction log — the eval
    * hygiene the recommender metrics (q157/q191) and every fit on
    * the click graph (q47/q52/q65/q107) depend on: a RANDOM split of
    * events leaks future interactions into training (the model
    * "predicts" clicks it was shown), so the honest protocol is
    * train-before / eval-after a time boundary. This query runs that
    * split and reports its cost: per granularity (user / item), how
    * many eval events involve an entity NEVER seen in train — the
    * cold-start mass a temporal eval must score without history
    * (q06's random-split counterpart on the event log; the reference
    * splits interaction frames with sklearn, utils/train_test_split
    * semantics, which is exactly the leak this audit quantifies).
    *
    * Scale shape: the boundary is ONE bounded agg action (two epoch
    * scalars — the documented q145/q153 driver-scalar pattern) over
    * the slim shared [[clickEvents]] projection (4 columns, filter
    * pushed to the scan); per granularity, train keys are a DISTINCT
    * on a bounded entity space joined back as an equi-join (AQE
    * broadcasts it at gate scales; at 10^9 users it degrades to a
    * shuffle join on the slim frame — never a corpus-width
    * exchange); the rollup is 2 rows. Float discipline: rate = one
    * IEEE division of exact longs (lever (c)); empty-side guard via
    * coalesced sums + null rate (lever (q)). */
  def temporalSplit(spark: SparkSession, dir: String): DataFrame = {
    // slim click projection (user, item, tsec, event_id) — consumed
    // by the boundary scalar and the per-granularity audits; bounded
    // by the click-event mass. The 2-row report is collected inside
    // the scope, so nothing reads `ev` after its release.
    graft.SessionRegistry.withPersisted(clickEvents(spark, dir)) { ev =>
      // one bounded action: the span scalars (null on an empty log —
      // then every coalesced count below is 0 and the rate is null)
      val b = ev.agg(min(col("tsec")).as("mn"), max(col("tsec")).as("mx")).head
      val boundary =
        if (b.isNullAt(0)) 0L
        else b.getLong(0) + (b.getLong(1) - b.getLong(0)) * SplitNum / SplitDen
      def audit(key: String, label: String): DataFrame = {
        val trainKeys = ev.filter(col("tsec") < boundary)
          .select(col(key)).distinct().withColumn("seen", lit(true))
        val cold = col("tsec") >= boundary && col("seen").isNull
        ev.join(trainKeys, Seq(key), "left")
          .agg(
            coalesce(sum(when(col("tsec") < boundary, 1L).otherwise(0L)), lit(0L))
              .as("n_train"),
            coalesce(sum(when(col("tsec") >= boundary, 1L).otherwise(0L)), lit(0L))
              .as("n_eval"),
            coalesce(sum(when(cold, 1L).otherwise(0L)), lit(0L)).as("n_cold_events"),
            countDistinct(when(cold, col(key))).as("n_cold_keys"))
          .select(lit(label).as("granularity"), col("n_train"), col("n_eval"),
            col("n_cold_events"), col("n_cold_keys"),
            when(col("n_eval") === 0L, lit(null).cast("double"))
              .otherwise(col("n_cold_events").cast("double") /
                col("n_eval").cast("double")).as("cold_event_rate"))
      }
      val out = audit("user_id", "user").unionByName(audit("item", "item"))
        .orderBy(col("granularity"))
      spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    }
  }

  /** The q201 oracle, generated from [[SplitNum]]/[[SplitDen]] — the
    * identical integer boundary, LEFT-JOIN cold detection (never
    * NOT IN — null semantics), per-granularity CTE pair unioned. */
  private[graft] def temporalSplitOracleSql: String = {
    def side(key: String, label: String, p: String) =
      s"""${p}t AS (SELECT DISTINCT $key FROM e2, b WHERE tsec < bd),
         |${p}a AS (
         |  SELECT '$label' AS granularity,
         |    CAST(COALESCE(SUM(CASE WHEN tsec < bd THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_train,
         |    CAST(COALESCE(SUM(CASE WHEN tsec >= bd THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_eval,
         |    CAST(COALESCE(SUM(CASE WHEN tsec >= bd AND seen IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cold_events,
         |    CAST(COUNT(DISTINCT CASE WHEN tsec >= bd AND seen IS NULL THEN e2.$key END) AS BIGINT) AS n_cold_keys,
         |    CASE WHEN COALESCE(SUM(CASE WHEN tsec >= bd THEN 1 ELSE 0 END), 0) = 0 THEN NULL
         |      ELSE CAST(COALESCE(SUM(CASE WHEN tsec >= bd AND seen IS NULL THEN 1 ELSE 0 END), 0) AS DOUBLE)
         |        / CAST(SUM(CASE WHEN tsec >= bd THEN 1 ELSE 0 END) AS DOUBLE) END AS cold_event_rate
         |  FROM e2 CROSS JOIN b
         |  LEFT JOIN (SELECT $key, TRUE AS seen FROM ${p}t) s ON e2.$key = s.$key)""".stripMargin
    s"""WITH e AS (
       |  SELECT user_id,
       |    CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS BIGINT) AS item,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec
       |  FROM events WHERE event_type = 'click'),
       |e2 AS (SELECT * FROM e WHERE item IS NOT NULL),
       |b AS (SELECT MIN(tsec) + ((MAX(tsec) - MIN(tsec)) * $SplitNum) // $SplitDen AS bd FROM e2),
       |${side("user_id", "user", "u")},
       |${side("item", "item", "i")}
       |SELECT * FROM (SELECT * FROM ua UNION ALL SELECT * FROM ia)
       |ORDER BY granularity""".stripMargin
  }
}
