package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.clustering.{GaussianMixture, LDA}
import org.apache.spark.ml.feature.{CountVectorizer, Word2Vec}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.graftshim.SummaryShim.dropSummary
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.ml.regression.FMRegressor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.LocalDirShim

import graft.SessionRegistry.{Artifact, Scope, persisting, withPersisted}
import graft.Tables
import graft.functions.TextFns

/** MLlib-backed model operators — the Spark-native re-expression of
  * the reference's training tasks:
  * train_word2vec.py / train_fasttext.py → MLlib Word2Vec,
  * train_lda_model.py → MLlib LDA,
  * contrib/train_matrix_factorization.py → MLlib ALS,
  * contrib/factorization_machine.py → MLlib FMRegressor,
  * train_classification_model.py → MLlib LogisticRegression,
  * model/scdv.py → Word2Vec + GaussianMixture + idf composite.
  *
  * All models are seed-fixed; outputs are compact summaries
  * (top-k synonyms, topic terms, recommendations, eval metrics) —
  * model training is not ANSI-SQL-expressible, so these are
  * rows-only queries by design.
  */
object MlOps {

  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tokens"))

  /** Per-JVM model registry for the shared word2vec base model: the
    * word-item app trains ONE word-embedding model and feeds every
    * downstream task with it (the reference pipelines share the
    * trained artifact through gokart task outputs; here the registry
    * plays that role). Seed-fixed, so a cache hit is byte-identical
    * to a retrain. */
  // Registry keys include the SparkSession: a cached model's factor/
  // vector DataFrames are bound to the session that fit it, so a
  // restarted session in the same JVM must never see another
  // session's (possibly dead) model.
  private val w2vCache =
    graft.SessionRegistry.cache[(SparkSession, String, Int), org.apache.spark.ml.feature.Word2VecModel]()

  private val gmmCache =
    graft.SessionRegistry.cache[(SparkSession, String), org.apache.spark.ml.clustering.GaussianMixtureModel]()

  /** Word2vec training is single-partition (determinism) and linear
    * in tokens, so the FIT input is capped at [[W2vFitDocCap]] docs
    * chosen by the stable doc_id hash — the 100 TB design: the
    * vocabulary model is fit on a bounded deterministic sample and
    * the full corpus is only TRANSFORMED (distributed broadcast
    * lookup). At or under the cap (sf0.001/sf0.01 — the oracle-gate
    * scales) the sample is the whole corpus, so nothing changes
    * there; the count is one bounded scalar per registry fit. MLlib
    * Word2Vec reads its fit input twice (learnVocab + the sentence
    * build), so each fit runs `withPersisted` on it: one tokenize,
    * released when the fit returns (model bytes unchanged). */
  private val W2vFitDocCap = 1000L
  private def w2vFitInput(spark: SparkSession, dir: String): DataFrame = {
    val docs = tokenized(spark, dir)
    val n = docs.count()
    if (n <= W2vFitDocCap) docs
    else {
      val stride = (n + W2vFitDocCap - 1) / W2vFitDocCap
      docs.filter(pmod(xxhash64(col("doc_id")), lit(stride)) === 0)
    }
  }

  private def word2vecModel(spark: SparkSession, dir: String,
      vectorSize: Int): org.apache.spark.ml.feature.Word2VecModel =
    w2vCache.getOrElseUpdate((spark, dir, vectorSize),
      withPersisted(w2vFitInput(spark, dir))(
        new Word2Vec()
          .setInputCol("tokens").setOutputCol("vec")
          .setVectorSize(vectorSize).setMinCount(5).setSeed(42L)
          .setNumPartitions(1).setMaxIter(1)
          .fit(_)))

  /** fastText's capability delta over word2vec (reference
    * train/train_fasttext.py:14 — MLlib ships no fastText, and the
    * no-new-dependencies rule bars the gensim path): SUBWORD
    * embeddings for OUT-OF-VOCABULARY words, JOINTLY trained. The
    * capped w2v fit stream is augmented in place — each word token is
    * immediately followed by its namespaced boundary-marked
    * char-3..5-grams — so gram vectors train in the SAME skip-gram
    * contexts as their word (the fastText objective's gram/context
    * co-occurrence, Bojanowski et al. 2017 §3.2, inside MLlib's
    * Word2Vec). A word's representation is the mean of its word
    * vector and its trained gram vectors (§3.2's sum, scale-free
    * under cosine); an OOV word's is the mean of its known gram
    * vectors. Everything downstream of the fit is vocab-sized:
    * composition is one explode+join+groupBy over the vector table,
    * probes broadcast, the neighbor scan is one vocab pass — no
    * corpus access after the shared fit (fit-sample, transform-all
    * is the 100 TB design). Output: top-3 vocab neighbors per
    * synthesized OOV probe. */
  def subwordOov(spark: SparkSession, dir: String): DataFrame =
    subwordOovFor(spark, dir,
      Seq("spark", "table", "join", "data", "query"))

  /** Spec hook: the shared 32-dim model, for building vocab-derived
    * probe lists without re-fitting. */
  private[graft] def word2vecModelForSpec(spark: SparkSession, dir: String) =
    word2vecModel(spark, dir, 32)

  /** Boundary-marked char n-grams (n = 3..5) of a word, namespaced
    * with '#' so gram tokens can never collide with corpus tokens
    * (interior grams like "par" otherwise ARE words, which would
    * corrupt both vectors). ONE def feeds the fit-stream
    * augmentation, the vocab composition and the OOV composition —
    * the shared-rule discipline. */
  private[graft] val FtGramSizes: Seq[Int] = 3 to 5
  private[graft] def ftGrams(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val padded = concat(lit("<"), c, lit(">"))
    val perN = FtGramSizes.map { n =>
      when(length(padded) >= n,
        transform(sequence(lit(1), length(padded) - (n - 1)),
          i => concat(lit("#"), padded.substr(i, lit(n)))))
        .otherwise(array())
    }
    concat(perN: _*)
  }

  private val ftCache = graft.SessionRegistry
    .cache[(SparkSession, String), org.apache.spark.ml.feature.Word2VecModel]()

  /** The joint fit: same W2vFitDocCap discipline and determinism
    * contract as the word model (single partition, fixed seed), over
    * the gram-augmented stream. Sequence length grows ~×(1 + grams
    * per word) but the input is the BOUNDED fit sample, never the
    * corpus. */
  private[graft] def fastTextModel(spark: SparkSession,
      dir: String): org.apache.spark.ml.feature.Word2VecModel =
    ftCache.getOrElseUpdate((spark, dir),
      withPersisted(w2vFitInput(spark, dir).select(
          flatten(transform(col("tokens"),
            w => concat(array(w), ftGrams(w)))).as("tokens")))(
        new Word2Vec()
          .setInputCol("tokens").setOutputCol("vec")
          .setVectorSize(32).setMinCount(5).setSeed(42L)
          .setNumPartitions(1).setMaxIter(1)
          .fit(_)))

  /** The synthesis parameterized by base-word list — q110 probes the
    * 5 fixed words; MlStreamSpec sweeps a ~40-word vocabulary sample
    * to pin the joint model's top-1 quality RATE, not just the
    * hand-picked cases. */
  private[graft] def subwordOovFor(spark: SparkSession, dir: String,
      baseWords: Seq[String]): DataFrame = {
    import org.apache.spark.ml.stat.Summarizer
    val all = fastTextModel(spark, dir).getVectors
    val words = all.filter(!col("word").startsWith("#"))
    val gramVecs = all.filter(col("word").startsWith("#"))
      .select(col("word").as("g"), col("vector").as("gv"))
    // composed in-vocab representation: mean of the word vector and
    // its trained gram vectors (both sides of the ranking use the
    // same composition rule, as in the reference's scoring)
    val composed = words.select(col("word"), col("vector").as("v"))
      .unionByName(words
        .select(col("word"), explode(ftGrams(col("word"))).as("g"))
        .join(gramVecs, Seq("g"))
        .select(col("word"), col("gv").as("v")))
      .groupBy(col("word"))
      .agg(vector_to_array(Summarizer.mean(col("v"))).as("wv"))
    // deterministic OOV probes: perturbed forms of in-vocab words
    // (suffix + interior insertion); keep only true OOVs
    val probes = words.filter(col("word").isInCollection(baseWords))
      .select(col("word").as("base"),
        explode(array(concat(col("word"), lit("ish")),
          concat(substring(col("word"), 1, 3), lit("z"),
            substring(col("word"), 4, 100)))).as("probe"))
      .join(words.select(col("word").as("probe")), Seq("probe"), "left_anti")
    val probeVecs = probes
      .select(col("base"), col("probe"), explode(ftGrams(col("probe"))).as("g"))
      .join(gramVecs, Seq("g"))
      .groupBy(col("base"), col("probe"))
      .agg(vector_to_array(Summarizer.mean(col("gv"))).as("pv"))
    // one vocab scan: cosine against every composed word, top-3/probe
    import org.apache.spark.sql.expressions.Window
    val scored = composed
      .crossJoin(broadcast(probeVecs))
      .withColumn("cos",
        round(graft.functions.VecFns.cosine(col("pv"), col("wv")), 4))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("probe"))
        .orderBy(col("cos").desc, col("word"))))
      .filter(col("rank") <= 3)
      .select(col("probe"), col("base"), col("rank").cast("long").as("rank"),
        col("word").as("neighbor"), col("cos"))
      .orderBy(col("probe"), col("rank"))
  }

  /** Pseudo-token stride of the PV-DBOW-shaped doc2vec fit: the doc
    * token is interleaved every [[D2vStride]] words, so with MLlib's
    * default window (5) every skip-gram window of a doc contains its
    * tag — the paragraph-vector role of gensim's TaggedDocument. */
  private[graft] val D2vStride = 1

  private val d2vCache = graft.SessionRegistry
    .cache[(SparkSession, String), org.apache.spark.ml.feature.Word2VecModel]()

  /** TrainDoc2Vec (train/train_doc2vec.py:10 — gensim Doc2Vec over
    * TaggedDocument; MLlib ships no doc2vec and the no-new-
    * dependencies rule bars gensim): JOINTLY-trained paragraph
    * vectors inside MLlib Word2Vec. The capped fit stream is
    * interleaved with a namespaced per-doc pseudo-token (every
    * [[D2vStride]] words), so the doc token trains against every
    * context of its doc — the PV-DBOW objective's doc/word
    * co-occurrence. Doc vector = the TRAINED pseudo-token vector.
    * Trained vectors exist for the FIT SAMPLE (gensim's contract
    * too: docs must be present at train time; inference for unseen
    * docs is a gradient step neither engine runs here) — the
    * corpus-scale embedding remains q44's mean pooling
    * (fit-sample, transform-all). */
  private[graft] def doc2vecModel(spark: SparkSession,
      dir: String): org.apache.spark.ml.feature.Word2VecModel =
    d2vCache.getOrElseUpdate((spark, dir),
      withPersisted(w2vFitInput(spark, dir).select(
          flatten(transform(col("tokens"), (w, i) =>
            when(pmod(i, lit(D2vStride)) === 0,
              array(concat(lit("@"), col("doc_id")), w))
              .otherwise(array(w)))).as("tokens")))(
        new Word2Vec()
          .setInputCol("tokens").setOutputCol("vec")
          .setVectorSize(32).setMinCount(5).setSeed(42L)
          // doc tokens see only their own doc's contexts, so they need
          // more passes than the corpus-wide word vocab (gensim's
          // Doc2Vec defaults to 10+ epochs for the same reason); the
          // fit input is the BOUNDED sample, so extra passes are
          // sample-sized work, not corpus-sized (and the sentence RDD
          // is cached inside MLlib across iterations)
          .setNumPartitions(1).setMaxIter(15).setWindowSize(8)
          .fit(_)))

  /** Trained doc vectors: the '@'-namespaced pseudo-token rows of the
    * joint model's vector table — fit-sample-sized by construction. */
  private[graft] def docVecs(spark: SparkSession, dir: String): DataFrame =
    doc2vecModel(spark, dir).getVectors
      .filter(col("word").startsWith("@"))
      .select(substring(col("word"), 2, 100).cast("long").as("doc_id"),
        vector_to_array(col("vector")).as("dv"))

  /** q227: top-3 nearest trained-paragraph-vector neighbors for the 5
    * smallest trained doc ids (the TrainDoc2Vec consumer surface —
    * doc-level similarity from JOINT vectors rather than q44's pooled
    * means). The scan side is the fit-sample-sized trained table;
    * probes broadcast. */
  def doc2vecNeighbors(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dv = docVecs(spark, dir)
    val probes = dv.orderBy(col("doc_id")).limit(5)
      .select(col("doc_id").as("probe_id"), col("dv").as("pv"))
    dv.crossJoin(broadcast(probes))
      .filter(col("doc_id") =!= col("probe_id"))
      .withColumn("cos",
        round(graft.functions.VecFns.cosine(col("pv"), col("dv")), 4))
      .withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("doc_id"))))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("doc_id").as("neighbor_id"), col("cos"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Shared CountVectorizer+LDA fit (q51 topics and q59 doc-topics
    * use the same seed-fixed model — same registry idea as w2vCache). */
  private val ldaCache = graft.SessionRegistry
    .cache[(SparkSession, String), (org.apache.spark.ml.feature.CountVectorizerModel,
      org.apache.spark.ml.clustering.LDAModel)]()

  private def ldaModels(spark: SparkSession, dir: String) =
    ldaCache.getOrElseUpdate((spark, dir), {
      val docs = tokenized(spark, dir)
      // loud empty-fit contract (the empty-corpus sweep turned this
      // into an opaque `head of empty array` deep in MLlib; gensim's
      // trainer raises on an empty corpus too — make_empty.py)
      require(!docs.isEmpty,
        "LDA fit (q51/q59): empty fit input — a zero-doc corpus cannot train topics")
      val cv = new CountVectorizer()
        .setInputCol("tokens").setOutputCol("features")
        .setMinDF(5).setVocabSize(1000)
        .fit(docs)
      val lda = new LDA()
        .setK(5).setMaxIter(10).setSeed(42L).setOptimizer("em")
        .fit(cv.transform(docs))
      (cv, lda)
    })

  /** Per-doc mean word vector (shared by docEmbedding, wordItemSearch,
    * filterBySimilarity and featureAggSimilarity — the
    * document-embedding base table, the reference's shared
    * CalculateDocumentEmbedding task output). DISK artifact per
    * (session, corpus), NOT an in-memory persist: a caller's
    * clearCache() unpersists registry-held frames, which silently sent
    * its four consumers (q44/q45/q49/q64) back through the corpus
    * explode+join+agg every call (the round-6 lever; found applied
    * everywhere but here in round 7). */
  private def itemVecs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "itemvecs", dir) { p =>
      import org.apache.spark.ml.stat.Summarizer
      val w2v = word2vecModel(spark, dir, 16)
      tokenized(spark, dir)
        .select(col("doc_id"), explode(col("tokens")).as("word"))
        .join(broadcast(w2v.getVectors), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(vector_to_array(Summarizer.mean(col("vector"))).as("iv"))
        .write.parquet(p)
    }.read()

  /** TrainWord2Vec (train/train_word2vec.py:10): skip-gram embeddings
    * over the corpus; output = top-3 synonyms for 5 probe words.
    * numPartitions=1 + fixed seed → deterministic vectors. */
  def word2vec(spark: SparkSession, dir: String): DataFrame = {
    val model = word2vecModel(spark, dir, 32)
    // findSynonyms throws on out-of-vocabulary words: probe only the
    // words the corpus actually trained. The membership check filters
    // the DISTRIBUTED vector table down to the 5 probe words before
    // collecting (never the whole vocabulary — web-corpus vocab is
    // 10⁷+ rows).
    val candidates = Seq("spark", "table", "join", "data", "query")
    val probes = model.getVectors
      .filter(col("word").isInCollection(candidates))
      .select(col("word")).collect().map(_.getString(0)).toSeq.sorted
    require(probes.nonEmpty, "no probe word in the trained vocabulary")
    probes.map { w =>
      model.findSynonyms(w, 3)
        .withColumn("probe", lit(w))
        .withColumn("similarity", round(col("similarity"), 4))
    }.reduce(_ unionByName _)
      .select(col("probe"), col("word"), col("similarity"))
      .orderBy(col("probe"), col("similarity").desc, col("word"))
  }

  /** TrainLdaModel (train/train_lda_model.py:11, model/lda_model.py):
    * CountVectorizer → LDA(EM), k=5; output = top-5 terms per topic. */
  def lda(spark: SparkSession, dir: String): DataFrame = {
    val (cv, ldaModel) = ldaModels(spark, dir)
    val vocab = cv.vocabulary
    import spark.implicits._
    ldaModel.describeTopics(5).select(col("topic"), posexplode(col("termIndices")))
      .toDF("topic", "pos", "term_idx")
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, vocab(r.getInt(2))))
      .toDF("topic", "pos", "term")
      .orderBy(col("topic"), col("pos"))
  }

  /** LdaModel.get_document_topics + log_perplexity
    * (model/lda_model.py:37,34): per-document dominant topic with its
    * weight, plus the corpus perplexity attached to every row (the
    * reference logs it per fit). */
  def ldaDocTopics(spark: SparkSession, dir: String): DataFrame = {
    val (cv, ldaModel) = ldaModels(spark, dir)
    val vectorized = cv.transform(tokenized(spark, dir))
    val perplexity = math.rint(
      ldaModel.asInstanceOf[org.apache.spark.ml.clustering.DistributedLDAModel]
        .toLocal.logPerplexity(vectorized) * 1000) / 1000
    ldaModel.transform(vectorized)
      .select(col("doc_id"), vector_to_array(col("topicDistribution")).as("td"))
      .select(col("doc_id"),
        expr("array_position(td, array_max(td)) - 1").cast("long").as("topic"),
        round(array_max(col("td")), 4).as("weight"),
        lit(perplexity).as("log_perplexity"))
      .orderBy(col("doc_id"))
  }

  /** Ratings matrix for MF-family models: customer × part implicit
    * strength from ordered quantities (lineitem ⋈ orders shuffles once
    * on the order key; the aggregate shuffles on the (user,item)
    * composite — both partial-agg friendly). Materialized once per
    * (session, corpus) — the reference's TrainMatrixFactorization
    * INPUT artifact; five query families consume it. A disk
    * artifact, not a persist (CLAUDE.md lever: shared cross-query
    * artifacts must survive cache clears). */
  def ratings(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "ratings", dir)(
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
        .agg(sum(col("l_quantity")).cast("float").as("rating"))
        .write.parquet(_)).read()

  /** Shared seed-fixed ALS fit (q52 recommendations, MF-factor item
    * similarity and the GCMC convolution all consume the same trained
    * factors — the reference shares the TrainMatrixFactorization
    * artifact through gokart task outputs). */
  private val alsCache = graft.SessionRegistry
    .cache[(SparkSession, String), org.apache.spark.ml.recommendation.ALSModel]()

  private def alsModel(spark: SparkSession, dir: String) =
    alsCache.getOrElseUpdate((spark, dir),
      new ALS()
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setRank(8).setMaxIter(8).setSeed(42L).setImplicitPrefs(true)
        .setNumBlocks(4)
        .fit(ratings(spark, dir)))

  /** TrainMatrixFactorization (contrib/train/train_matrix_factorization
    * .py:12) → ALS; output = top-3 item recommendations for the first
    * 10 users. ALS's block-partitioned factors ARE the scale design
    * (no driver-side factor matrices, unlike the reference). */
  def alsRecommend(spark: SparkSession, dir: String): DataFrame = {
    val r = ratings(spark, dir)
    val model = alsModel(spark, dir)
    import spark.implicits._
    val users = r.select(col("user")).distinct().filter(col("user") < 10)
    model.recommendForUserSubset(users, 3)
      .select(col("user"), posexplode(col("recommendations")))
      .toDF("user", "rank", "rec")
      .select(col("user"), (col("rank") + 1).cast("long").as("rank"),
        col("rec.item").as("item"), round(col("rec.rating"), 4).as("score"))
      .orderBy(col("user"), col("rank"))
  }

  /** Lever (f) generalized (q107's trained-experiment registry,
    * SURVEY §8's documented warm-median convention, same artifact
    * discipline as the reference's gokart task cache): a
    * DETERMINISTIC (seed-fixed, hash-split) fit+eval experiment
    * whose output is scalar-sized is run once per (session, corpus)
    * and served as collected rows thereafter — immune to a caller's
    * clearCache() and to re-execution cost. Only
    * experiments whose output is a bounded eval/summary table go
    * through here; corpus-shaped outputs never do. `run` gets a
    * persisting scope that lasts until its output is collected. */
  private val expCache = graft.SessionRegistry.cache[(SparkSession, String, String),
    (org.apache.spark.sql.types.StructType, java.util.List[org.apache.spark.sql.Row])]()

  /** Registry-ceiling observability (PropertySpec): per-entry row
    * counts of the collected experiment tables held for the session. */
  private[graft] def collectedRegistryRows(spark: SparkSession): Seq[Int] =
    expCache.liveValues(spark).map(_._2.size)

  private def experiment(spark: SparkSession, dir: String, name: String)(
      run: Scope => DataFrame): DataFrame = {
    val (schema, rows) = expCache.getOrElseUpdate((spark, dir, name), persisting { scope =>
      val df = run(scope)
      (df.schema, java.util.Arrays.asList(df.collect(): _*))
    })
    spark.createDataFrame(rows, schema)
  }

  /** TrainFactorizationMachine (contrib/model/factorization_machine
    * .py) → MLlib FMRegressor on the embeddings table (label as
    * regression target); output = one eval-summary row. */
  def fmRegression(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q53")(_ => fmRegressionRun(spark, dir))

  /** Uniform loud empty-fit guard for the embeddings-backed
    * experiment runs — otherwise an empty corpus surfaces as opaque
    * MLlib internals ("Nothing has been added to this summarizer",
    * "head of empty array", a mid-job task failure); the reference's
    * trainers raise on empty fit input too (empty-corpus contract,
    * tools/make_empty.py). */
  private def requireFit(spark: SparkSession, dir: String, what: String): Unit =
    require(!Tables.embeddings(spark, dir).isEmpty,
      s"$what: empty embeddings fit input")

  private def fmRegressionRun(spark: SparkSession, dir: String): DataFrame = {
    requireFit(spark, dir, "FM regression fit (q53)")
    val data = Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding")).as("features"),
        col("label").cast("double").as("label"),
        col("vec_id"))
    val train = data.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val test = data.filter(pmod(col("vec_id"), lit(5)) === 0)
    val model = new FMRegressor()
      .setFeaturesCol("features").setLabelCol("label")
      .setFactorSize(4).setMaxIter(20).setSeed(42L)
      .fit(train)
    model.transform(test)
      .select(((col("prediction") - col("label")) * (col("prediction") - col("label"))).as("se"))
      .agg(count(lit(1)).as("n_test"), round(sqrt(avg(col("se"))), 4).as("rmse"))
  }

  /** TrainBinaryClassificationModel (train/train_binary_clasification_
    * model.py:12) through the ModelFactory (factory/
    * prediction_model_factory.py): factory-built estimator, binary
    * target, deterministic split, eval summary. The `auc` column is
    * the reference's calculate_auc (model/utils.py:9, sklearn
    * roc_curve+auc) as MLlib's distributed areaUnderROC. */
  def binaryClassify(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q58")(_ => binaryClassifyRun(spark, dir))

  private def binaryClassifyRun(spark: SparkSession, dir: String): DataFrame = {
    requireFit(spark, dir, "binary classification fit (q58)")
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    val data = Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding")).as("features"),
        pmod(col("label"), lit(2)).cast("double").as("label"), col("vec_id"))
    val train = data.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val test = data.filter(pmod(col("vec_id"), lit(5)) === 0)
    val model = dropSummary(ModelFactory.create("logistic_regression")
      .asInstanceOf[LogisticRegression]
      .fit(train))
    val scored = model.transform(test)
    val auc = math.rint(new BinaryClassificationEvaluator()
      .setMetricName("areaUnderROC").evaluate(scored) * 10000) / 10000
    scored
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("prediction") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("auc", lit(auc))
      .orderBy(col("label"))
  }

  /** q222: QUALITY-CLASSIFIER FIT/EVAL — the consumer that closes
    * q215's loop (the reference's train-a-prediction-model step,
    * train/train_clasification_model.py:12, pointed at the quality
    * task every LLM pipeline actually trains: GPT-3's WebText-vs-CC
    * logistic classifier): fit LogisticRegression on q215's exported
    * (signal features, pos/neg label) seed set, evaluate on a
    * deterministic hash holdout, and report per-class holdout
    * accuracy + AUC. The experiment is scalar-sized output +
    * deterministic fit (single-partition LBFGS — the q45 tiny-input
    * rule) → the lever-(j) registry serves collected rows after the
    * first run. Scale: the trainset is K·|sources|·2 rows by
    * construction (fit-sample discipline — the CLASSIFIER then
    * scores the full corpus row-locally, which is q72/q85's existing
    * admission path with learned weights). */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q222")(qualityClassifierRun(spark, dir, _))

  /** The q215 seed set as (features, label, doc_id) — ONE def for
    * the q222 fit/eval and q223's model registry. */
  private def qualitySeed(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.qualityTrainset(spark, dir)
      .select(
        array_to_vector(array(col("n_words").cast("double"),
          col("mean_wlen"), col("ttr"), col("doc_nll"))).as("features"),
        when(col("label") === "pos", 1.0).otherwise(0.0).as("label"),
        col("doc_id"))

  /** Trained quality-filter model registry: fit ONCE per (session,
    * corpus) on the q215 hash-split train slice (single-partition
    * LBFGS on the K·|sources|·2-row seed — deterministic), shared by
    * q222's eval and q223's corpus-wide application (the reference's
    * gokart model-artifact reuse). */
  private val qmodelCache = graft.SessionRegistry
    .cache[(SparkSession, String),
      org.apache.spark.ml.classification.LogisticRegressionModel]()

  private[graft] def qualityModel(spark: SparkSession,
      dir: String): org.apache.spark.ml.classification.LogisticRegressionModel =
    qualityModelFrom(spark, dir, qualitySeed(spark, dir))

  /** Fit threaded with a caller-supplied seed frame so a caller that
    * already persisted the seed (q222's eval) doesn't pay the q215
    * pipeline twice (round-7 ADVICE item); the registry still
    * guarantees one fit per (session, corpus). */
  private def qualityModelFrom(spark: SparkSession, dir: String,
      seed: => DataFrame): org.apache.spark.ml.classification.LogisticRegressionModel =
    qmodelCache.getOrElseUpdate((spark, dir), {
      val train = seed
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .repartition(1)
      // loud empty-fit contract (otherwise an opaque "Nothing has
      // been added to this summarizer" — the empty-corpus sweep
      // class, make_empty.py)
      require(!train.isEmpty,
        "quality-filter fit (q222/q223/q230): empty train slice — the q215 seed set is empty")
      dropSummary(new LogisticRegression().setMaxIter(20).setRegParam(0.01).fit(train))
    })

  private def qualityClassifierRun(spark: SparkSession, dir: String,
      scope: Scope): DataFrame = {
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    // seed-table-bounded; feeds the fit and the holdout transform
    val data = scope.persisted(qualitySeed(spark, dir))
    data.count()
    val test = data.filter(pmod(col("doc_id"), lit(5)) === 0)
    val model = qualityModelFrom(spark, dir, data)
    val scored = model.transform(test)
    val auc = math.rint(new BinaryClassificationEvaluator()
      .setMetricName("areaUnderROC").evaluate(scored) * 10000) / 10000
    val out = scored
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("prediction") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("auc", lit(auc))
      .orderBy(col("label"))
    out
  }

  /** q230: CALIBRATION CURVE of the learned quality filter — the
    * reliability-diagram data (DeGroot & Fienberg 1983; Guo et al.
    * 2017) for q222's model on its held-out slice: per
    * predicted-probability decile, the holdout count, mean predicted
    * probability, actual positive rate, and |gap|. The go/no-go card
    * BEFORE q223 deploys the scores corpus-wide: an admission
    * threshold on a mis-calibrated probability admits a different
    * corpus than the one the offline eval graded. Deterministic
    * (shared model registry + hash holdout), 10-row output → the
    * lever-(j) experiment registry. Completes the learned-filter
    * loop q215 → q222 → q230 → q223. */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q230")(classifierCalibrationRun(spark, dir, _))

  private def classifierCalibrationRun(spark: SparkSession,
      dir: String, scope: Scope): DataFrame = {
    // seed-table-bounded; feeds the fit and the holdout transform
    val data = scope.persisted(qualitySeed(spark, dir))
    data.count()
    val test = data.filter(pmod(col("doc_id"), lit(5)) === 0)
    val model = qualityModelFrom(spark, dir, data)
    val p = element_at(vector_to_array(col("probability")), 2)
    val out = model.transform(test)
      .select(col("label"), p.as("p"))
      .withColumn("decile", least(floor(col("p") * 10).cast("long"), lit(9L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("p")), 6).as("mean_pred"),
        round(avg(col("label")), 6).as("pos_rate"))
      .withColumn("gap", round(abs(col("mean_pred") - col("pos_rate")), 6))
      .orderBy(col("decile"))
    out
  }

  /** q223: LEARNED-FILTER ADMISSION — q222's model DEPLOYED over the
    * corpus (the FineWeb/GPT-3 serving step: the classifier trained
    * on the seed set scores every document), reported as the
    * per-source confusion against the rule-based Gopher gate it
    * would replace: where the two disagree is exactly the review
    * surface (q211/q219's loop) a migration reads before switching
    * admission to the learned rule.
    *
    * Scale shape: scoring is ROW-LOCAL literal arithmetic — the 4
    * learned weights ride in as literals (margin = w·x + b, no UDF,
    * no vector assembly, no model broadcast), signals are the shared
    * Gopher defs, doc_nll is the q95 disk artifact read — one slim
    * join, |sources|-row rollup. This is q72's admission path with
    * learned weights, which is why the learned filter deploys at
    * 100 TB for free. Docs without a bigram LM score are out of
    * scope (q215's training semantics). */
  def learnedAdmission(spark: SparkSession, dir: String): DataFrame = {
    val m = qualityModel(spark, dir)
    val w = m.coefficients.toArray
    val sig = Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("source")) ++
        graft.operators.TextOps.gopherSignalCols: _*)
    val flags = sig.select(Seq(col("doc_id"), col("source"), col("n_words"),
      col("mean_wlen"), col("ttr")) ++
      graft.operators.TextOps.gopherRuleCols: _*)
    flags
      .join(graft.operators.CorpusOps.docNll(spark, dir)
        .select(col("doc_id"),
          round(col("doc_nll").cast("double"), 6).as("doc_nll")),
        Seq("doc_id"))
      .withColumn("margin",
        lit(w(0)) * col("n_words").cast("double") +
          lit(w(1)) * col("mean_wlen") + lit(w(2)) * col("ttr") +
          lit(w(3)) * col("doc_nll") + lit(m.intercept))
      .withColumn("learned_admit", col("margin") > 0.0)
      .withColumn("rule_pass", graft.operators.TextOps.gopherPass)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rule_pass"), 1L).otherwise(0L)).as("n_rule_pass"),
        sum(when(col("learned_admit"), 1L).otherwise(0L)).as("n_learned_admit"),
        sum(when(col("rule_pass") === col("learned_admit"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_rate",
        col("n_agree").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))
  }

  /** TrainClassificationModel (train/train_clasification_model.py:12)
    * → multinomial LogisticRegression on embeddings with a
    * deterministic key-hash split; output = per-label test counts and
    * hits. */
  def classify(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q54")(_ => classifyRun(spark, dir))

  private def classifyRun(spark: SparkSession, dir: String): DataFrame = {
    requireFit(spark, dir, "classification fit (q54)")
    val data = Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding")).as("features"),
        col("label").cast("double").as("label"), col("vec_id"))
    val train = data.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val test = data.filter(pmod(col("vec_id"), lit(5)) === 0)
    val model = dropSummary(new LogisticRegression()
      .setMaxIter(50).setRegParam(0.01)
      .fit(train))
    model.transform(test)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("prediction") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .orderBy(col("label"))
  }

  /** TrainPairwiseSimilarityModel (train/train_pairwise_similarity_
    * model.py:14): a classifier over item-pair features. Pairs are
    * candidate-bucketed (never all-pairs), features are the
    * element-wise product of the two embeddings (the reference's
    * `item_embeddings * word_embedding` trick,
    * calculate_word_item_similarity.py:52), label = same class.
    * Output = one eval-summary row. */
  def pairwiseSimilarity(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q43")(_ => pairwiseSimilarityRun(spark, dir))

  private def pairwiseSimilarityRun(spark: SparkSession, dir: String): DataFrame = {
    requireFit(spark, dir, "pairwise-similarity fit (q43)")
    val emb = Tables.embeddings(spark, dir)
    // bucket count scales with the corpus (expected width stays
    // bounded — see Pairing); == 25 at every test SF
    val k = graft.operators.Pairing.buckets(emb.count())
    val pairs = emb.as("a")
      .join(emb.as("b"),
        pmod(col("a.vec_id"), lit(k)) === pmod(col("b.vec_id"), lit(k)) &&
          col("a.vec_id") < col("b.vec_id"))
      .select(
        // codegen element products (identical IEEE values to the
        // zip_with cast-and-multiply formulation, no interpreted
        // per-element allocation) — this runs once per candidate PAIR
        graft.plans.VecExprs.elemProduct(
          col("a.embedding"), col("b.embedding")).as("prod"),
        when(col("a.label") === col("b.label"), 1.0).otherwise(0.0).as("label"),
        col("a.vec_id").as("va"))
      .select(array_to_vector(col("prod")).as("features"), col("label"), col("va"))
    val train = pairs.filter(pmod(col("va"), lit(5)) =!= 0)
    val test = pairs.filter(pmod(col("va"), lit(5)) === 0)
    val model = dropSummary(new LogisticRegression().setMaxIter(30).setRegParam(0.01)
      .fit(train))
    model.transform(test)
      .agg(
        count(lit(1)).as("n_test"),
        sum(when(col("prediction") === col("label"), 1L).otherwise(0L)).as("n_correct"),
        round(sum(col("label")), 2).as("n_positive"))
  }

  /** CalculateDocumentEmbedding (app/word_item_similarity/
    * calculate_document_embedding.py:12): per-doc mean of word
    * vectors. The vocabulary-sized word-vector table is broadcast
    * against the exploded corpus; output = per-doc summary. */
  def docEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val docs = tokenized(spark, dir)
    val w2v = word2vecModel(spark, dir, 16)
    import spark.implicits._
    itemVecs(spark, dir)
      .select(col("doc_id"),
        round(sqrt(aggregate(col("iv"), lit(0.0), (acc, v) => acc + v * v)), 4)
          .as("l2_norm"),
        size(col("iv")).cast("long").as("n_dims"))
      .orderBy(col("doc_id"))
  }

  /** CalculateWordItemSimilarity (app/word_item_similarity/
    * calculate_word_item_similarity.py:14): the two-stage search —
    * dot-product PREQUERY (top-20 per word, `_filter` at :56) then
    * model re-rank (`_predict` at :52, prob of class 1 over
    * word⊙item features) keeping top-5. Words = probe vocabulary
    * vectors from word2vec; items = mean-token doc embeddings. The
    * word set broadcasts; the corpus streams once per stage. */
  def wordItemSearch(spark: SparkSession, dir: String): DataFrame =
    // seed-fixed fit + eval with a |words|×5-row output → trained-
    // experiment registry (lever (j)); each warm call was re-running
    // the LBFGS fit and the corpus prequery (~1.9 s at sf0.1)
    experiment(spark, dir, "q45")(wordItemSearchRun(spark, dir, _))

  private def wordItemSearchRun(spark: SparkSession, dir: String,
      scope: Scope): DataFrame = {
    import spark.implicits._
    val docs = tokenized(spark, dir)
    val w2v = word2vecModel(spark, dir, 16)
    val wordVecs = w2v.getVectors
      .select(col("word"), vector_to_array(col("vector")).as("wv"))
    val items = itemVecs(spark, dir)
    val probes = wordVecs.filter(col("word").isin("spark", "table", "join", "data", "query"))
    // stage 1: dot-product prequery, top-20 per word
    val pre = items.crossJoin(broadcast(probes))
      .withColumn("dot", graft.plans.VecExprs.dot(col("iv"), col("wv")))
      .withColumn("prerank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("word"))
          .orderBy(col("dot").desc, col("doc_id"))))
      .filter(col("prerank") <= 20)
    // stage 2: model re-rank on word⊙item features (label: does the
    // word occur in the doc), keep top-5
    val feats = pre.select(col("word"), col("doc_id"), col("dot"),
      array_to_vector(zip_with(col("iv"), col("wv"), (x, y) => x * y)).as("features"))
    val labels = docs.select(col("doc_id"), col("tokens"))
    // the re-rank set is prequery-sized (|words|×20 rows by design,
    // at any corpus scale): persist it so the corpus prequery runs
    // ONCE (fit + transform would otherwise each recompute it), and
    // repartition(1) — a shuffle barrier, so the prequery above it
    // stays parallel — makes each LBFGS iteration a single task
    // instead of one per shuffle partition.
    val training = scope.persisted(feats.join(labels, Seq("doc_id"))
      .withColumn("label", when(array_contains(col("tokens"), col("word")), 1.0).otherwise(0.0))
      .drop("tokens")
      .repartition(1))
    val model = dropSummary(new LogisticRegression().setMaxIter(10).setRegParam(0.01)
      .fit(training))
    model.transform(training)
      .withColumn("score", round(element_at(vector_to_array(col("probability")), 2), 4))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("word"))
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("word"), col("doc_id").as("item"), col("score"), col("rank"))
      .orderBy(col("word"), col("rank"))
  }

  /** FilterItemByWordSimilarity (app/word_item_similarity/
    * filter_item_by_word_similarity.py:12): keep only items whose
    * embedding is similar enough to ANY keyword embedding. Keyword
    * vectors broadcast; one pass over the items, greatest-of-dots
    * filter, no shuffle until the output ordering. */
  def filterBySimilarity(spark: SparkSession, dir: String): DataFrame = {
    val w2v = word2vecModel(spark, dir, 16)
    val wordVecs = w2v.getVectors
      .select(col("word"), vector_to_array(col("vector")).as("wv"))
    val kws = wordVecs.filter(col("word").isin("spark", "join"))
      .select(col("word").as("kw"), col("wv"))
    // synthetic doc means are all near the word-vector centroid, so
    // the discriminating threshold sits high (median best_sim ≈ .994)
    val threshold = 0.994
    itemVecs(spark, dir).crossJoin(broadcast(kws))
      .withColumn("cos", graft.functions.VecFns.cosine(col("iv"), col("wv")))
      .groupBy(col("doc_id"))
      .agg(round(max(col("cos")), 4).as("best_sim"))
      .filter(col("best_sim") >= threshold)
      .orderBy(col("doc_id"))
  }

  /** Optuna-style model selection (factory/optuna_param_factory.py →
    * grid search over the same hyperparameter space): MLlib
    * TrainValidationSplit over LR regParam; output one row per
    * candidate with its validation metric. */
  def cvTuning(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q57")(_ => cvTuningRun(spark, dir))

  private def cvTuningRun(spark: SparkSession, dir: String): DataFrame = {
    requireFit(spark, dir, "CV tuning fits (q57)")
    import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit}
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import spark.implicits._
    val data = Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding")).as("features"),
        col("label").cast("double").as("label"))
    val lr = new LogisticRegression().setMaxIter(25)
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.001, 0.01, 0.1))
      .build()
    val tvs = new TrainValidationSplit()
      .setEstimator(lr)
      .setEvaluator(new MulticlassClassificationEvaluator().setMetricName("accuracy"))
      .setEstimatorParamMaps(grid)
      .setTrainRatio(0.8).setSeed(42L)
      .fit(data)
    tvs.getEstimatorParamMaps.zip(tvs.validationMetrics).toSeq
      .map { case (pm, m) => (pm.get(lr.regParam).get, math.rint(m * 10000) / 10000) }
      .toDF("reg_param", "accuracy")
      .orderBy(col("reg_param"))
  }

  /** ADAPTIVE hyperparameter search (factory/optuna_param_factory.py
    * + train/utils/utils.py:40 `optimize_model` — TPE with pruning):
    * the search-strategy gap q57's exhaustive grid leaves open,
    * closed without new dependencies as seeded-random sampling +
    * SUCCESSIVE HALVING. A seeded random space (log-uniform regParam
    * × uniform elasticNet, 8 candidates — richer than the 3-point
    * grid) is raced in rungs of growing iteration budget; each rung
    * keeps the top half by validation accuracy (ties broken by
    * candidate id, so the whole search is deterministic). Cheap
    * rungs prune — the optuna pruner's role — so the budget
    * concentrates on survivors. Fits within a rung are independent
    * and run concurrently (the q67 Futures pattern); the prequery-
    * sized splits are repartition(1)-capped (tiny-fit scheduler
    * mitigation) and persisted across all rungs. Output = one row
    * per (rung, candidate) with its metric and survival. */
  def adaptiveTuning(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q108")(adaptiveTuningRun(spark, dir, _))

  private def adaptiveTuningRun(spark: SparkSession, dir: String,
      scope: Scope): DataFrame = {
    requireFit(spark, dir, "adaptive tuning fits (q108)")
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import spark.implicits._
    val data = Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding")).as("features"),
        col("label").cast("double").as("label"))
    // the same seeded 80/20 split TrainValidationSplit(seed=42) uses,
    // so q57's grid metrics and these are on one scale (the spec
    // compares them within ε)
    val Array(trainRaw, validRaw) = data.randomSplit(Array(0.8, 0.2), 42L)
    val train = scope.persisted(trainRaw.repartition(1))
    val valid = scope.persisted(validRaw.repartition(1))
    val rnd = new scala.util.Random(42L)
    // (id, regParam ∈ 10^[-4, 0] log-uniform, elasticNet ∈ [0, 1]
    // biased low — L1 is rarely the winner but worth probing). Two
    // ANCHOR candidates seed the space with the library defaults
    // (optuna's enqueue-default-params practice): the adaptive search
    // must never do worse than the defaults it extends.
    val space = Seq((0L, 0.001, 0.0), (1L, 0.01, 0.0)) ++
      (2 until 8).map { i =>
        (i.toLong, math.pow(10.0, -4.0 + 4.0 * rnd.nextDouble()),
          math.pow(rnd.nextDouble(), 2.0))
      }
    val evaluator = new MulticlassClassificationEvaluator().setMetricName("accuracy")
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Double, Long, Double, Boolean)]()
    var alive = space
    val rungs = Seq(5L, 15L, 40L)
    rungs.zipWithIndex.foreach { case (iters, rung) =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(alive.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val scored =
        try Await.result(Future.sequence(alive.map { case (id, reg, el) =>
          Future {
            val m = dropSummary(new LogisticRegression()
              .setMaxIter(iters.toInt).setRegParam(reg).setElasticNetParam(el)
              .fit(train))
            (id, reg, el,
              math.rint(evaluator.evaluate(m.transform(valid)) * 1e4) / 1e4)
          }
        }), Duration.Inf)
        finally pool.shutdown()
      // top half survives; deterministic tie-break on candidate id
      val keep = scored.sortBy { case (id, _, _, acc) => (-acc, id) }
        .take(math.max(1, alive.size / 2))
        .map(_._1).toSet
      scored.foreach { case (id, reg, el, acc) =>
        rows += ((rung.toLong, id, reg, el, iters,
          acc, keep.contains(id) || rung == rungs.size - 1))
      }
      alive = alive.filter(c => keep.contains(c._1))
    }
    rows.toSeq
      .map { case (rung, id, reg, el, iters, acc, kept) =>
        (rung, id, math.rint(reg * 1e6) / 1e6, math.rint(el * 1e6) / 1e6,
          iters, acc, kept)
      }
      .toDF("rung", "cand_id", "reg_param", "elastic_net", "max_iter",
        "accuracy", "survived")
      .orderBy(col("rung"), col("cand_id"))
  }

  /** q169: TPE-style MODEL-BASED sequential search — the surrogate
    * half of the reference's optuna factory (factory/
    * optuna_param_factory.py builds TPESampler studies;
    * train/utils/utils.py:40 optimize_model runs them), which q108's
    * successive halving does not cover: halving PRUNES a fixed
    * candidate set, TPE PROPOSES new candidates from the trials seen
    * so far. Deterministic re-expression of Bergstra et al. 2011
    * (Algorithms for Hyper-Parameter Optimization): after a seeded
    * startup block, each step splits observed trials into good (top
    * γ) / bad, models both sets with fixed-bandwidth Gaussian KDEs
    * over (log10 regParam, elasticNet), proposes seeded candidates
    * around good trials, and evaluates the argmax of the l(x)/g(x)
    * acquisition — optuna's exact shape with the RNG pinned, so the
    * whole study is reproducible on any cluster. Scale shape: the
    * KDE/acquisition math is driver-side over ≤[[TpeTrials]] scalar
    * trials (scheduler-metadata-sized, the documented bounded
    * pattern); every EVALUATION is a distributed MLlib fit on the
    * shared repartition(1)-capped split (tiny-fit mitigation, q108's
    * discipline; at real scale the same fits simply keep their
    * partitions). Output: one row per trial with the running best —
    * deterministic → experiment registry; MlStreamSpec asserts the
    * study shape (startup + TPE trial counts, monotone running
    * best) and that the TPE study never loses to q57's exhaustive
    * grid by more than ε. */
  private[graft] val TpeStartup = 4
  private[graft] val TpeTrials = 10

  /** The MIXED search space's categorical dimension (round 7):
    * estimator family, from the same registry the classification
    * tasks use (ModelFactory ↔ factory/prediction_model_factory.py).
    * Restricted to the multiclass-capable members (the embeddings
    * label space has 10 classes; GBT/FM are binary-only in MLlib).
    * Bergstra's categorical form: the KDE over a categorical is the
    * SMOOTHED FREQUENCY of each category in the good/bad trial sets
    * — (count+1)/(n+|C|) — and the acquisition multiplies the
    * per-dimension l/g ratios (optuna's default independent-dims
    * TPE). The continuous dims are a FIXED-SPACE relaxation of the
    * conditional space: for the forest family, elastic_net re-reads
    * as the depth knob and reg_param is inert — the categorical KDE
    * learns which family wins while the continuous KDEs keep their
    * meaning within the winning family. */
  private[graft] val TpeFamilies = Seq("logistic_regression", "random_forest")

  /** Smoothed categorical frequency — Bergstra's categorical KDE. */
  private[graft] def catWeight(c: String, set: Seq[String]): Double =
    (set.count(_ == c) + 1.0) / (set.size + TpeFamilies.size)

  def tpeTuning(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q169")(tpeTuningRun(spark, dir, _))

  private def tpeTuningRun(spark: SparkSession, dir: String, scope: Scope): DataFrame = {
    requireFit(spark, dir, "TPE tuning fits (q169)")
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import spark.implicits._
    val data = Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding")).as("features"),
        col("label").cast("double").as("label"))
    // q108's exact split, so all three searches score on one scale
    val Array(trainRaw, validRaw) = data.randomSplit(Array(0.8, 0.2), 42L)
    val train = scope.persisted(trainRaw.repartition(1))
    val valid = scope.persisted(validRaw.repartition(1))
    val evaluator = new MulticlassClassificationEvaluator().setMetricName("accuracy")
    def evalAt(fam: String, logReg: Double, el: Double): Double = {
      val est: org.apache.spark.ml.Estimator[_] = fam match {
        case "logistic_regression" =>
          new LogisticRegression().setMaxIter(25)
            .setRegParam(math.pow(10.0, logReg)).setElasticNetParam(el)
        case "random_forest" =>
          // conditional-space relaxation: el re-reads as depth in
          // [2, 5]; logReg is inert for this family
          new org.apache.spark.ml.classification.RandomForestClassifier()
            .setSeed(42L).setNumTrees(10)
            .setMaxDepth(2 + math.round(3 * el).toInt)
      }
      val m = dropSummary(est.fit(train).asInstanceOf[org.apache.spark.ml.Transformer])
      math.rint(evaluator.evaluate(m.transform(valid)) * 1e4) / 1e4
    }
    val rnd = new scala.util.Random(43L)
    def clamp(x: Double, lo: Double, hi: Double) = math.min(hi, math.max(lo, x))
    // (id, family, log10 reg ∈ [-4, 0], elastic ∈ [0, 1], acc)
    val trials = scala.collection.mutable.ArrayBuffer[(Int, String, Double, Double, Double)]()
    (0 until TpeStartup).foreach { i =>
      val fam = TpeFamilies(i % TpeFamilies.size) // startup covers every family
      val u1 = -4.0 + 4.0 * rnd.nextDouble()
      val u2 = rnd.nextDouble()
      trials += ((i, fam, u1, u2, evalAt(fam, u1, u2)))
    }
    // fixed kernel bandwidths per axis (span/8): the deterministic
    // stand-in for optuna's adaptive Parzen widths
    val (h1, h2) = (0.5, 0.125)
    // 1-D KDEs — independent-dims TPE (optuna's default): the
    // acquisition is the PRODUCT of per-dimension l/g ratios
    def kde1(pts: Seq[Double], h: Double, x: Double): Double =
      if (pts.isEmpty) 1.0
      else pts.map(p => math.exp(-0.5 * math.pow((x - p) / h, 2))).sum / pts.size + 1e-12
    (TpeStartup until TpeTrials).foreach { t =>
      val ranked = trials.sortBy { case (id, _, _, _, acc) => (-acc, id) }.toSeq
      val nGood = math.max(1, math.ceil(0.25 * trials.size).toInt)
      val good = ranked.take(nGood)
      val bad = ranked.drop(nGood)
      val (goodF, badF) = (good.map(_._2), bad.map(_._2))
      // 16 seeded proposals: family from the good set's SMOOTHED
      // frequencies (Bergstra's categorical form), continuous dims
      // perturbed around good trials; argmax of the product l/g.
      // maxBy keeps the FIRST max → deterministic under score ties.
      val cands = (0 until 16).map { _ =>
        val u = rnd.nextDouble()
        val cum = TpeFamilies.scanLeft(0.0)(_ + catWeight(_, goodF))
        val total = cum.last
        val fam = TpeFamilies(
          cum.tail.indexWhere(c => u * total <= c) match {
            case -1 => TpeFamilies.size - 1; case k => k
          })
        val g = good(rnd.nextInt(good.size))
        (fam,
          clamp(g._3 + h1 * rnd.nextGaussian(), -4.0, 0.0),
          clamp(g._4 + h2 * rnd.nextGaussian(), 0.0, 1.0))
      }
      val (cf, c1, c2) = cands.maxBy { case (f, x1, x2) =>
        (catWeight(f, goodF) / catWeight(f, badF)) *
          (kde1(good.map(_._3), h1, x1) / kde1(bad.map(_._3), h1, x1)) *
          (kde1(good.map(_._4), h2, x2) / kde1(bad.map(_._4), h2, x2))
      }
      trials += ((t, cf, c1, c2, evalAt(cf, c1, c2)))
    }
    var best = 0.0
    trials.toSeq.map { case (id, fam, u1, u2, acc) =>
      best = math.max(best, acc)
      (id.toLong, if (id < TpeStartup) "startup" else "tpe", fam,
        math.rint(math.pow(10.0, u1) * 1e6) / 1e6, math.rint(u2 * 1e6) / 1e6,
        acc, best)
    }.toDF("trial", "phase", "family", "reg_param", "elastic_net",
        "accuracy", "best_acc")
      .orderBy(col("trial"))
  }

  /** SCDV (model/scdv.py:15, arXiv:1612.06778): word2vec word
    * embeddings → GaussianMixture soft clustering → idf-weighted
    * word-topic-vectors → per-doc sparse composite vectors. The
    * word-level model is vocabulary-sized (broadcast join back to the
    * corpus); only the doc aggregation touches corpus scale. Output =
    * per-doc vector summary (L2 norm + nnz after sparsification). */
  def scdv(spark: SparkSession, dir: String): DataFrame = {
    val docs = tokenized(spark, dir)
    val w2v = word2vecModel(spark, dir, 16)
    val wordVecs = w2v.getVectors // (word, vector[16])
    // vocab is tiny but each EM iteration is a distributed job:
    // bound iterations + loosen tol AND collapse the vocab-sized fit
    // input to one partition (15 iterations × 32 near-empty tasks
    // was ~15 s of pure scheduling at sf0.1), then registry-share
    // the fitted model like every other seed-fixed model artifact
    val gmm = gmmCache.getOrElseUpdate((spark, dir),
      dropSummary(new GaussianMixture()
        .setK(3).setSeed(42L).setFeaturesCol("vector")
        .setMaxIter(15).setTol(0.01)
        .fit(wordVecs.repartition(1))))
    val probs = gmm.transform(wordVecs)
      .select(col("word"), col("vector"), col("probability"))
    import spark.implicits._
    // idf over the corpus vocabulary
    val nDocs = docs.count().toDouble
    val idf = docs.select(explode(col("tokens")).as("word"), col("doc_id"))
      .groupBy(col("word")).agg(countDistinct(col("doc_id")).as("df"))
      .withColumn("idf", log2(lit(nDocs) / col("df")))
    // word-topic-vector: idf * concat_k(p_k * wv)  (k*16 = 48 dims)
    val wtv = probs.as[(String, org.apache.spark.ml.linalg.Vector, org.apache.spark.ml.linalg.Vector)]
      .map { case (word, vec, prob) =>
        val flat = Array.tabulate(prob.size * vec.size) { i =>
          prob(i / vec.size) * vec(i % vec.size)
        }
        (word, flat)
      }.toDF("word", "wcv")
      .join(broadcast(idf), Seq("word"))
      .select(col("word"),
        transform(col("wcv"), v => v * col("idf")).as("wtv"))
    // doc vector = Σ_tokens wtv: element-wise vector sum via ML
    // Summarizer — ONE shuffle on doc_id, no |dims|-fold row blowup.
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val docVecs = docs.select(col("doc_id"), explode(col("tokens")).as("word"))
      .join(broadcast(wtv), Seq("word"))
      .select(col("doc_id"), array_to_vector(col("wtv")).as("wv"))
      .groupBy(col("doc_id"))
      .agg(vector_to_array(Summarizer.sum(col("wv"))).as("dv"))
    // sparsify at 2.5% of max |v| per doc (scdv.py sparsity
    // threshold), then summarize — all row-local array ops.
    docVecs
      .withColumn("vmax", array_max(transform(col("dv"), v => abs(v))))
      .withColumn("vs", transform(col("dv"),
        v => when(abs(v) >= col("vmax") * 0.025, v).otherwise(lit(0.0))))
      .select(
        col("doc_id"),
        round(sqrt(aggregate(col("vs"), lit(0.0), (acc, v) => acc + v * v)), 4)
          .as("l2_norm"),
        size(filter(col("vs"), v => v =!= 0.0)).cast("long").as("nnz"))
      .orderBy(col("doc_id"))
  }

  /** CalculateSimilarityWithMatrixFactorization (contrib/app/
    * word_item_similarity/calculate_similarity_with_matrix_
    * factorization.py:21): item-item similarity over trained MF item
    * factors, L2-normalized (the `normalize` param at :27 — normalized
    * dot ≡ cosine; pass normalize=false for the raw dot). The
    * reference materializes ALL upper-triangle pairs in driver-side
    * numpy batches; here the factor table stays distributed: the probe
    * set broadcasts against it and the bounded TopKByKey aggregator
    * keeps k rows per probe — at 100 TB the factor table streams once,
    * nothing quadratic ever materializes. */
  def mfItemSimilarity(spark: SparkSession, dir: String,
      normalize: Boolean = true): DataFrame = {
    val factors = mfItemSimilarityFactors(spark, dir)
      .withColumn("nrm", graft.plans.VecExprs.norm(col("features")))
    val probes = factors.filter(col("item") < 10)
      .select(col("item").as("query_id"), col("features").as("qf"),
        col("nrm").as("qnrm"))
    val dotCol = graft.plans.VecExprs.dot(col("features"), col("qf"))
    val simCol = if (normalize) graft.functions.VecFns.ratio(dotCol, col("nrm") * col("qnrm"))
                 else dotCol
    val scored = factors.crossJoin(broadcast(probes))
      .filter(col("item") =!= col("query_id"))
      .withColumn("similarity", round(simCol, 6))
    scored.groupBy(col("query_id"))
      .agg(graft.plans.TopKByKey.topK(5)(col("item"), col("similarity")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .toDF("query_id", "pos", "e")
      .select(col("query_id").as("item_id_0"), col("e.id").as("item_id_1"),
        col("e.score").as("similarity"), (col("pos") + 1).cast("long").as("rank"))
      .orderBy(col("item_id_0"), col("rank"))
  }

  /** Trained item-factor table (id, features) — shared by
    * mfItemSimilarity and its spec's driver-side cross-check. */
  private[graft] def mfItemSimilarityFactors(spark: SparkSession, dir: String): DataFrame =
    alsModel(spark, dir).itemFactors
      .select(col("id").cast("long").as("item"), col("features"))

  /** FeatureAggregationSimilarityModel (contrib/model/
    * feature_aggregation_similarity_model.py:120-165 graph, train task
    * contrib/train/train_feature_aggregation_similarity_model.py:14):
    * item embedding = masked AVERAGE of its feature embeddings
    * (`Average` layer :80), similarity = clip(cosine(x,y) + bias_x +
    * bias_y, [-1,1]) (:160-163), fit to pair scores by MSE.
    * Spark re-expression: features are the document's tokens and the
    * feature-embedding table is the shared word2vec fit (broadcast,
    * vocabulary-sized); the per-item average is ONE grouped Summarizer
    * mean (itemVecs); the per-item bias is the closed-form MSE
    * coordinate step b_i = mean over i's pairs of (score − cosine)/2
    * — a single grouped aggregation over the pair list instead of an
    * SGD epoch, same loss surface. Pairs are candidate-bucketed (no
    * all-pairs); score = 1 if same source else 0. Output = top pairs
    * by model similarity; the MSE-improves-over-cosine-alone claim is
    * asserted in FeatureAggSpec. */
  def featureAggSimilarity(spark: SparkSession, dir: String): DataFrame =
    // the ORDER BY + LIMIT live INSIDE the experiment so the registry
    // holds 25 rows, not the corpus-scaled pair table (collecting the
    // full pair list was linear-in-corpus — against the registry's
    // scalar-output rule — and re-sorted it per rep)
    experiment(spark, dir, "q64")(_ => featureAggScored(spark, dir)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 6).as("cos"),
        round(col("sim"), 6).as("sim"), col("score"))
      .orderBy(col("sim").desc, col("doc_a"), col("doc_b"))
      .limit(25))

  /** Shared pair-scoring pipeline for featureAggSimilarity and its
    * spec: (doc_a, doc_b, cos, sim, score) for every candidate pair. */
  private[graft] def featureAggScored(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val emb = itemVecs(spark, dir).join(docs, Seq("doc_id"))
      .withColumn("nrm", graft.plans.VecExprs.norm(col("iv")))
    // candidate pairs from hash buckets — corpus-scaled bucket count
    // keeps the candidate set linear (see Pairing); == 25 at test SFs
    val k = graft.operators.Pairing.buckets(docs.count())
    val pairs = emb.as("a").join(emb.as("b"),
        pmod(col("a.doc_id"), lit(k)) === pmod(col("b.doc_id"), lit(k)) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.VecFns.ratio(
          graft.plans.VecExprs.dot(col("a.iv"), col("b.iv")),
          col("a.nrm") * col("b.nrm")).as("cos"),
        when(col("a.source") === col("b.source"), 1.0).otherwise(0.0).as("score"))
    // closed-form bias step: b_i = mean_{pairs ∋ i} (score − cos) / 2
    val residuals = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"),
      ((col("score") - col("cos")) / 2).as("resid"))
    val bias = residuals.groupBy(col("doc_id"))
      .agg(avg(col("resid")).as("bias"))
    pairs
      .join(bias.select(col("doc_id").as("doc_a"), col("bias").as("bias_a")), Seq("doc_a"))
      .join(bias.select(col("doc_id").as("doc_b"), col("bias").as("bias_b")), Seq("doc_b"))
      .withColumn("sim", greatest(lit(-1.0), least(lit(1.0),
        col("cos") + col("bias_a") + col("bias_b"))))
  }

  /** Iterative training with EarlyStopping (contrib/model/
    * early_stopping.py:13 via graph_convolutional_matrix_completion
    * .py's fit loop): each round continues training (more LBFGS
    * iterations) and scores validation log-loss; the stopper
    * checkpoints improving rounds to real storage, restores the best
    * on plateau, decays the rate (LBFGS has no step size — the
    * decayed rate drives the regularization path, the same
    * plateau-escape role) and stops once patience is exhausted.
    * Output = one row per round plus the restored-best row. */
  def earlyStopTrain(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "q66")(earlyStopTrainRun(spark, dir, _))

  private def earlyStopTrainRun(spark: SparkSession, dir: String,
      scope: Scope): DataFrame = {
    requireFit(spark, dir, "early-stopping fits (q66)")
    import org.apache.spark.ml.classification.LogisticRegressionModel
    import spark.implicits._
    val data = Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding")).as("features"),
        pmod(col("label"), lit(2)).cast("double").as("label"), col("vec_id"))
    // one parquet scan each for the whole training loop (6 fits + a
    // validation aggregation per round would otherwise re-read)
    val train = scope.persisted(data.filter(pmod(col("vec_id"), lit(5)) =!= 0))
    val valid = scope.persisted(data.filter(pmod(col("vec_id"), lit(5)) === 0))
    // a fresh path per call under the context's artifact root: two
    // concurrent runs must not overwrite each other's best checkpoint
    // (a plateau restore would load the other run's model)
    val ckpt = graft.SessionRegistry.scratchPath(spark, "earlystop")
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Double, String)]()
    try {
      val stopper = new EarlyStopping[LogisticRegressionModel](
        tryCount = 2, initialLearningRate = 0.1, decaySpeed = 2.0,
        threshold = 1e-4, savePath = Some(ckpt),
        reader = LogisticRegressionModel.load)
      def logLoss(m: LogisticRegressionModel): Double = {
        val p = element_at(vector_to_array(col("probability")), 2)
        val eps = lit(1e-15)
        math.rint(m.transform(valid)
          .agg(avg(-(col("label") * log(greatest(p, eps)) +
            (lit(1.0) - col("label")) * log(greatest(lit(1.0) - p, eps)))))
          .head().getDouble(0) * 1e6) / 1e6
      }
      var stopped = false
      var round = 1
      while (!stopped && round <= 6) {
        val reg = stopper.learningRate
        val m = dropSummary(new LogisticRegression()
          .setMaxIter(4 * round).setRegParam(reg).setTol(1e-9)
          .fit(train))
        val loss = logLoss(m)
        stopped = stopper.doesStop(loss, m)
        rows += ((round.toLong, (4 * round).toLong, reg, loss,
          if (stopped) "stop" else "continue"))
        round += 1
      }
      val best = stopper.restore()
      rows += ((round.toLong, best.getMaxIter.toLong, best.getRegParam,
        logLoss(best), "restored"))
    } finally LocalDirShim.deleteRecursively(new java.io.File(ckpt))
    rows.toSeq
      .toDF("round", "max_iter", "reg_param", "val_logloss", "decision")
      .orderBy(col("round"))
  }

  /** GCMC graph convolution (contrib/model/graph_convolutional_matrix_
    * completion.py:80-110: the per-rating-class normalized adjacency ×
    * feature products `item_cx`/`user_cx` feeding the encoder). The
    * TF graph multiplies a degree-normalized sparse adjacency slice
    * per rating class by the embedding matrix; that product IS a
    * grouped neighborhood aggregation, so here it's expressed as one:
    * bucket each rating edge into its class, join edges to the
    * (block-partitioned) ALS item factors, and take the per
    * (user, class) Summarizer MEAN — mean = Σ/deg = the reference's
    * left normalization (`user_adjustment`, :66). One shuffle on the
    * (user, class) composite with partial aggregation; the factor
    * table joins by item id. Completes the documented GCMC delta of
    * q56 (bias term) + q52 (low-rank ALS). */
  def gcmcConv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.stat.Summarizer
    val r = ratings(spark, dir)
    // 3 rating classes by fixed quantity thresholds (the reference
    // enumerates the observed rating values; quantities here are
    // continuous so they are bucketed)
    val edges = r.select(col("user"), col("item"),
      when(col("rating") < 20, 0).when(col("rating") < 45, 1).otherwise(2)
        .cast("long").as("rating_class"))
    val factors = alsModel(spark, dir).itemFactors
      .select(col("id").as("item"), array_to_vector(col("features")).as("fv"))
    edges.join(factors, Seq("item"))
      .groupBy(col("user"), col("rating_class"))
      .agg(count(lit(1)).as("degree"),
        vector_to_array(Summarizer.mean(col("fv"))).as("conv"))
      .filter(col("user") < 10)
      .select(col("user"), col("rating_class"), col("degree"),
        round(graft.plans.VecExprs.norm(col("conv")), 6).as("conv_l2"))
      .orderBy(col("user"), col("rating_class"))
  }

  /** END-TO-END composed GCMC rating prediction (contrib/model/
    * graph_convolutional_matrix_completion.py — `fit` :249, `predict`
    * :295): the three decomposed pieces validated separately — q56
    * closed-form biases, q52 ALS low-rank factors, q65 per-rating-
    * class graph convolution — assembled into one prediction
    *
    *   r̂(u,i) = μ + b_u + b_i + α·⟨p_u, q_i⟩ + β·⟨conv_u, q_i⟩
    *
    * where (p, q) are seed-fixed ALS factors fit on the FIT slice's
    * residuals, conv_u is the class-balanced mean of the per-(user,
    * rating-class) neighborhood convolutions (q65's shape over the
    * fit edges only — no leakage), and (α, β) is the EXACT 2×2
    * least-squares solution on a CALIBRATION slice disjoint from
    * the ALS fit — the reference's validation-driven fit loop in
    * miniature. Five scalar aggregates → one normal-equation solve
    * on the driver (scheduler-metadata-sized, the documented
    * legitimate kind). Because α=β=0 is in the search space and LS
    * minimizes calibration SSE, the composed model is ≤ the bias
    * baseline on the calibration slice BY CONSTRUCTION (RecModelsSpec
    * asserts it), and the test rows report honest held-out RMSE for
    * both models. */
  /** Trained-experiment registry: the whole q107 run (fit + calibrate
    * + eval) is deterministic per (session, corpus) and its output is
    * four scalar rows — the same shared-artifact discipline as the
    * other model registries (SURVEY §8's documented warm-median
    * convention). */
  private val gcmcCache = graft.SessionRegistry
    .cache[(SparkSession, String), Seq[(String, String, Long, Double)]]()

  def gcmcPredict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gcmcCache.getOrElseUpdate((spark, dir), gcmcPredictRun(spark, dir))
      .toDF("split", "model", "n_rows", "rmse")
      .orderBy(col("split"), col("model"))
  }

  /** ALS rank of the GCMC low-rank term — shared between the q107 fit
    * and the q226 feature→factor map (lever (s): one named constant
    * per family; a drift here silently truncates the synthesized
    * cold-item factors). */
  private[graft] val GcmcRank = 4

  /** Trained GCMC model: the fit + calibration half of q107, shared
    * between the composed evaluation (q107) and the item-cold-start
    * prediction (q226) — ONE fit, two consumers (the shared-rule
    * discipline; the reference shares the trained TF session across
    * `predict` and `predict_with_new_items`). The users/items-sized
    * frames (bu/bi/pU/qI/convU) are the tables of one
    * per-(session, corpus) DISK artifact so they survive a caller's
    * clearCache(); the scalars (μ, α, β) ride the case
    * class. */
  private[graft] case class GcmcFit(tables: Artifact, mu: Double,
      alpha: Double, beta: Double) {
    def bu: DataFrame = tables.read("bu")
    def bi: DataFrame = tables.read("bi")
    def pU: DataFrame = tables.read("pU")
    def qI: DataFrame = tables.read("qI")
    def convU: DataFrame = tables.read("convU")
  }

  private val gcmcFitCache = graft.SessionRegistry.cache[(SparkSession, String), GcmcFit]()

  private[graft] def gcmcFitFor(spark: SparkSession, dir: String): GcmcFit =
    gcmcFitCache.getOrElseUpdate((spark, dir), persisting(gcmcFitRun(spark, dir, _)))

  /** 60/20/20 fit / calibration / test on the deterministic key hash
    * — the single split def both the fit and the q107 eval consume. */
  private def gcmcSliced(spark: SparkSession, dir: String): DataFrame =
    ratings(spark, dir)
      .withColumn("slice", pmod(col("user") * 31 + col("item"), lit(10)))

  /** Feature columns for a rating-pair side against the trained
    * artifacts: missing factors/biases → 0 term (q107's degradation
    * contract for ids unseen at fit time). */
  private def gcmcFeatured(mu: Double, bu: DataFrame, bi: DataFrame,
      pU: DataFrame, qI: DataFrame, convU: DataFrame)(
      side: DataFrame): DataFrame = side
    .join(bu, Seq("user"), "left").join(bi, Seq("item"), "left")
    .join(pU, Seq("user"), "left").join(qI, Seq("item"), "left")
    .join(convU, Seq("user"), "left")
    .select(col("user"), col("item"), col("rating"),
      coalesce(col("b_u"), lit(0.0)).as("b_u"),
      coalesce(col("b_i"), lit(0.0)).as("b_i"),
      coalesce(graft.plans.VecExprs.dot(col("p_u"), col("q_i")), lit(0.0)).as("f1"),
      coalesce(graft.plans.VecExprs.dot(col("conv_u"), col("q_i")), lit(0.0)).as("f2"))
    .withColumn("resid", col("rating") - lit(mu) - col("b_u") - col("b_i"))

  private def gcmcFitRun(spark: SparkSession, dir: String, scope: Scope): GcmcFit = {
    import org.apache.spark.ml.stat.Summarizer
    // ratings-slice-bounded; every fit stage below re-reads it
    val r = scope.persisted(gcmcSliced(spark, dir))
    val train = r.filter(col("slice") < 8) // fit ∪ calibration
    val fit = r.filter(col("slice") < 6)
    val cal = r.filter(col("slice") >= 6 && col("slice") < 8)

    // --- bias closed form (q56's algebra, user + item) on full train ---
    // bu/bi/factors/conv are users- and items-sized and consumed by
    // every downstream pyramid (resid, conv, featured) — persist
    // or each action re-runs the ratings join+agg from scratch
    val mu = train.agg(avg(col("rating"))).head().getDouble(0)
    val bu = scope.persisted(train.groupBy(col("user"))
      .agg((avg(col("rating")) - lit(mu)).as("b_u")))
    val bi = scope.persisted(train.join(bu, Seq("user"))
      .groupBy(col("item"))
      .agg(avg(col("rating") - lit(mu) - col("b_u")).as("b_i")))

    // --- low-rank term: seed-fixed ALS on the fit slice's residuals ---
    val resid = fit.join(bu, Seq("user")).join(bi, Seq("item"))
      .select(col("user"), col("item"),
        (col("rating") - lit(mu) - col("b_u") - col("b_i"))
          .cast("float").as("rating"))
    val als = new ALS()
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setRank(GcmcRank).setMaxIter(5).setRegParam(0.5).setSeed(42L)
      .setImplicitPrefs(false).setNumBlocks(4)
      .fit(resid)
    val pU = scope.persisted(
      als.userFactors.select(col("id").as("user"), col("features").as("p_u")))
    val qI = scope.persisted(
      als.itemFactors.select(col("id").as("item"), col("features").as("q_i")))

    // --- conv term: q65's per-(user, class) neighborhood mean over
    //     FIT edges, collapsed class-balanced into one user vector ---
    val classConv = fit
      .select(col("user"), col("item"),
        when(col("rating") < 20, 0).when(col("rating") < 45, 1).otherwise(2)
          .cast("long").as("rating_class"))
      .join(qI, Seq("item"))
      .groupBy(col("user"), col("rating_class"))
      .agg(Summarizer.mean(array_to_vector(col("q_i"))).as("cv"))
    val convU = scope.persisted(classConv.groupBy(col("user"))
      .agg(vector_to_array(Summarizer.mean(col("cv"))).as("conv_u")))

    // exact least squares for (α, β) on the CALIBRATION slice (held
    // out from the ALS fit, so memorized residual noise can't buy
    // calibration weight): normal equations from ONE agg
    val fcal = gcmcFeatured(mu, bu, bi, pU, qI, convU)(cal)
    val g = fcal.agg(
      sum(col("f1") * col("f1")).as("s11"), sum(col("f1") * col("f2")).as("s12"),
      sum(col("f2") * col("f2")).as("s22"),
      sum(col("f1") * col("resid")).as("b1"),
      sum(col("f2") * col("resid")).as("b2")).head()
    val (s11, s12, s22, b1, b2) =
      (g.getDouble(0), g.getDouble(1), g.getDouble(2), g.getDouble(3), g.getDouble(4))
    val det = s11 * s22 - s12 * s12
    val (alpha, beta) =
      if (math.abs(det) > 1e-9) (( s22 * b1 - s12 * b2) / det,
                                 (-s12 * b1 + s11 * b2) / det)
      else if (s11 > 1e-9) (b1 / s11, 0.0) // degenerate: f2 ∝ f1 (or zero)
      else (0.0, 0.0)

    val tables = graft.SessionRegistry.artifact(spark, "gcmc", dir) { base =>
      Seq("bu" -> bu, "bi" -> bi, "pU" -> pU, "qI" -> qI, "convU" -> convU)
        .foreach { case (n, df) => df.write.parquet(s"$base/$n") }
    }
    GcmcFit(tables, mu, alpha, beta)
  }

  private def gcmcPredictRun(spark: SparkSession,
      dir: String): Seq[(String, String, Long, Double)] = {
    val f = gcmcFitFor(spark, dir)
    val r = gcmcSliced(spark, dir)
    val featured = gcmcFeatured(f.mu, f.bu, f.bi, f.pU, f.qI, f.convU) _
    val fcal = featured(r.filter(col("slice") >= 6 && col("slice") < 8))
    val ftest = featured(r.filter(col("slice") >= 8))

    // both models' RMSE (and the row count) in ONE pass per split
    def rmses(side: DataFrame): (Long, Double, Double) = {
      val base = lit(f.mu) + col("b_u") + col("b_i")
      val comp = base + lit(f.alpha) * col("f1") + lit(f.beta) * col("f2")
      val row = side.agg(
        count(lit(1)),
        sqrt(avg((base - col("rating")) * (base - col("rating")))),
        sqrt(avg((comp - col("rating")) * (comp - col("rating"))))).head()
      (row.getLong(0),
        math.rint(row.getDouble(1) * 1e6) / 1e6,
        math.rint(row.getDouble(2) * 1e6) / 1e6)
    }
    val (nCal, calBias, calComp) = rmses(fcal)
    val (nTest, testBias, testComp) = rmses(ftest)
    val out = Seq(
      ("calibration", "bias_baseline", nCal, calBias),
      ("calibration", "gcmc_composed", nCal, calComp),
      ("test", "bias_baseline", nTest, testBias),
      ("test", "gcmc_composed", nTest, testComp))
    out
  }

  /** Item side-feature vector, the q226 analogue of the reference's
    * `item_features` input (contrib/model/gcmc_dataset.py:24 — a
    * per-item dense feature array fed alongside the adjacency):
    * [intercept, p_size, p_retailprice/100] from the part table.
    * Row-local projection of a dimension table — no shuffle. */
  private[graft] val GcmcFeatDim = 3
  private[graft] def gcmcItemFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.part(spark, dir).select(
      col("p_partkey").as("item"),
      array(lit(1.0), col("p_size").cast("double"),
        col("p_retailprice") / 100.0).as("feat"))

  /** Cold items are re-keyed past the live item-id space — the
    * reference's new item 236 > n_items=233 in `test_item_cold_start`
    * — so they are absent from the fit BY CONSTRUCTION. */
  private[graft] val GcmcColdIdOffset = 1000000L

  /** Solve the d×d system G·x = rhs_j for each right-hand side by
    * Gaussian elimination with partial pivoting. G is the bounded
    * feature Gram (d = GcmcFeatDim) — driver-side by design
    * (scheduler-metadata-sized, the documented legitimate kind). */
  private[graft] def solveGram(g0: Array[Array[Double]],
      rhs0: Array[Array[Double]]): Array[Array[Double]] = {
    val d = g0.length
    val a = g0.map(_.clone())
    val r = rhs0.map(_.clone())
    for (p <- 0 until d) {
      val piv = (p until d).maxBy(i => math.abs(a(i)(p)))
      if (piv != p) { val t = a(p); a(p) = a(piv); a(piv) = t
        r.foreach { v => val s = v(p); v(p) = v(piv); v(piv) = s } }
      require(math.abs(a(p)(p)) > 1e-12, "singular feature Gram")
      for (i <- p + 1 until d) {
        val m = a(i)(p) / a(p)(p)
        for (j <- p until d) a(i)(j) -= m * a(p)(j)
        r.foreach(v => v(i) -= m * v(p))
      }
    }
    r.map { v =>
      val x = new Array[Double](d)
      for (i <- (d - 1) to 0 by -1) {
        var s = v(i)
        for (j <- i + 1 until d) s -= a(i)(j) * x(j)
        x(i) = s / a(i)(i)
      }
      x
    }
  }

  /** GCMC item COLD-START prediction via side features (contrib/model/
    * graph_convolutional_matrix_completion.py:304
    * `predict_with_new_items`; gcmc_dataset.py item_features; tested
    * at test/contrib/model/test_graph_convolutional_matrix_completion
    * .py:50 `test_item_cold_start` — new item 236, absent from
    * training, gets a real prediction from its feature vector).
    *
    * Spark design: the trained q107 model is REUSED unchanged (shared
    * gcmcFit artifacts — warm-pair predictions are byte-stable vs
    * q107); cold items' factors and bias are SYNTHESIZED from their
    * side features through exact least-squares feature→factor /
    * feature→bias maps learned on WARM items: one bounded agg builds
    * the d×d Gram + cross moments (d = GcmcFeatDim), the normal
    * equations solve on the driver, and the maps deploy as literal
    * column arithmetic — the reference's feature-side encoder path
    * without retraining. Request roster = 4 smallest fully-warm users
    * × (3 smallest warm items + 3 re-keyed cold items); prediction =
    * μ + b_u + b̂_i + α·⟨p_u, q̂_i⟩ + β·⟨conv_u, q̂_i⟩. Output is
    * roster-sized → the lever-(j) experiment registry. */
  def gcmcColdStart(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "gcmc_cold_start")(_ => gcmcColdStartRun(spark, dir))

  /** The exact least-squares feature→factor / feature→bias maps
    * learned on WARM items — ONE def shared by the q226 cold-start
    * prediction and the q231 feature extraction (shared-rule
    * discipline). Returns (wMap, wBias): wMap(c)(a) is the weight of
    * feature a for factor component c. */
  private def gcmcItemMaps(spark: SparkSession, dir: String,
      f: GcmcFit): (Array[Array[Double]], Array[Double]) = {
    val warm = gcmcItemFeatures(spark, dir)
      .join(f.qI, Seq("item")).join(f.bi, Seq("item"))
    val fa = (0 until GcmcFeatDim).map(a => element_at(col("feat"), a + 1))
    val qc = (0 until GcmcRank).map(c =>
      element_at(col("q_i"), c + 1).cast("double"))
    val aggs =
      (for { a <- 0 until GcmcFeatDim; b <- a until GcmcFeatDim }
        yield sum(fa(a) * fa(b)).as(s"g_${a}_$b")) ++
      (for { a <- 0 until GcmcFeatDim; c <- 0 until GcmcRank }
        yield sum(fa(a) * qc(c)).as(s"x_${a}_$c")) ++
      (0 until GcmcFeatDim).map(a => sum(fa(a) * col("b_i")).as(s"bb_$a"))
    val m = warm.agg(aggs.head, aggs.tail: _*).head()
    def d(name: String): Double = m.getDouble(m.fieldIndex(name))
    val gram = Array.tabulate(GcmcFeatDim, GcmcFeatDim)((a, b) =>
      if (a <= b) d(s"g_${a}_$b") else d(s"g_${b}_$a"))
    val rhs = Array.tabulate(GcmcRank)(c =>
      Array.tabulate(GcmcFeatDim)(a => d(s"x_${a}_$c"))) :+
      Array.tabulate(GcmcFeatDim)(a => d(s"bb_$a"))
    val sols = solveGram(gram, rhs)
    (sols.take(GcmcRank), sols(GcmcRank))
  }

  /** The synthesized-factor column: w·feat as literal arithmetic. */
  private def gcmcLin(w: Array[Double]) =
    (0 until GcmcFeatDim).map(a => lit(w(a)) * element_at(col("feat"), a + 1))
      .reduce(_ + _)

  /** q231: GCMC FEATURE EXTRACTION — the reference's
    * `get_user_feature` / `get_item_feature` (+ `_with_new_items`)
    * surface (contrib/model/graph_convolutional_matrix_completion
    * .py:313-330, tested at test_graph_convolutional_matrix_completion
    * .py:86/:117): the trained encoder representation served for a
    * requested roster. User feature = [p_u ∥ conv_u] (the low-rank
    * embedding plus the per-class neighborhood convolution — the
    * model's user-side encoder inputs); warm item feature = q_i;
    * NEW-item feature = the synthesized W·f factors through the
    * q226 least-squares feature map. Roster-sized → the lever-(j)
    * experiment registry. */
  def gcmcFeatures(spark: SparkSession, dir: String): DataFrame =
    experiment(spark, dir, "gcmc_features")(_ => gcmcFeaturesRun(spark, dir))

  private def gcmcFeaturesRun(spark: SparkSession, dir: String): DataFrame = {
    val f = gcmcFitFor(spark, dir)
    val bu = f.bu; val pU = f.pU
    val qI = f.qI; val convU = f.convU
    val feats = gcmcItemFeatures(spark, dir)
    val (wMap, _) = gcmcItemMaps(spark, dir, f)
    val r6 = (v: org.apache.spark.sql.Column) => transform(v, x => round(x, 6))
    val users = bu.join(pU, Seq("user")).join(convU, Seq("user"))
      .orderBy(col("user")).limit(4)
      .select(lit("user").as("kind"), col("user").as("id"),
        lit(false).as("is_cold"),
        r6(concat(col("p_u").cast("array<double>"), col("conv_u"))).as("feature"))
    val warmItems = feats.join(qI, Seq("item"))
      .orderBy(col("item")).limit(3)
      .select(lit("item").as("kind"), col("item").as("id"),
        lit(false).as("is_cold"),
        r6(col("q_i").cast("array<double>")).as("feature"))
    val coldItems = feats.orderBy(col("item").desc).limit(3)
      .select(lit("item").as("kind"),
        (col("item") + lit(GcmcColdIdOffset)).as("id"),
        lit(true).as("is_cold"),
        r6(array((0 until GcmcRank).map(c => gcmcLin(wMap(c))): _*)).as("feature"))
    users.unionByName(warmItems).unionByName(coldItems)
      .select(col("kind"), col("id"), col("is_cold"),
        size(col("feature")).cast("long").as("n_dims"),
        round(graft.plans.VecExprs.norm(col("feature")), 6).as("l2"),
        // declared output carries the vector as a deterministic
        // fixed-6dp CSV string, not a raw array<double>: the driver's
        // rows comparator sorts output columns and an array column is
        // unsortable there (r08 verdict item 1). Components are
        // already round(,6)-ed, so %.6f is the exact decimal repr;
        // the 10-row frame makes the interpreted transform free.
        concat_ws(",",
          transform(col("feature"), x => format_string("%.6f", x)))
          .as("feature"))
      .orderBy(col("kind"), col("id"))
  }

  private def gcmcColdStartRun(spark: SparkSession, dir: String): DataFrame = {
    val f = gcmcFitFor(spark, dir)
    val bu = f.bu; val bi = f.bi
    val pU = f.pU; val qI = f.qI; val convU = f.convU
    val feats = gcmcItemFeatures(spark, dir)
    val (wMap, wBias) = gcmcItemMaps(spark, dir, f)

    // --- request roster (the reference's predict_with_new_items call
    //     shape): bounded user/item lists ---
    val users = bu.join(pU, Seq("user")).join(convU, Seq("user"))
      .orderBy(col("user")).limit(4)
      .select(col("user"), col("b_u"), col("p_u"), col("conv_u"))
    val warmItems = feats.join(qI, Seq("item")).join(bi, Seq("item"))
      .orderBy(col("item")).limit(3)
      .select(col("item"), lit(false).as("is_cold"), col("b_i"),
        col("q_i").cast("array<double>").as("q_eff"))
    val coldItems = feats.orderBy(col("item").desc).limit(3)
      .select((col("item") + lit(GcmcColdIdOffset)).as("item"),
        lit(true).as("is_cold"), gcmcLin(wBias).as("b_i"),
        array((0 until GcmcRank).map(c => gcmcLin(wMap(c))): _*).as("q_eff"))

    users.crossJoin(warmItems.unionByName(coldItems)) // 4 × 6, both bounded
      .select(col("user"), col("item"), col("is_cold"),
        round(col("b_i"), 6).as("item_bias"),
        round(lit(f.mu) + col("b_u") + col("b_i")
          + lit(f.alpha) * graft.plans.VecExprs.dot(col("p_u"), col("q_eff"))
          + lit(f.beta) * graft.plans.VecExprs.dot(col("conv_u"), col("q_eff")), 6)
          .as("prediction"))
      .orderBy(col("user"), col("item"))
  }
}
