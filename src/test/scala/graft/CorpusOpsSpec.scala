package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusOps, Dedup}

/** Invariant specs for the corpus-curation block (q76–q80). The
  * DuckDB oracle is the exact-value gate for all five; these specs
  * assert the semantic invariants the oracle's hash can't express
  * directly (reconstruction, membership, rate bounds). */
class CorpusOpsSpec extends AnyFunSuite {
  import SparkTest._

  test("contamination excludes the eval source and bounds its counters") {
    val out = CorpusOps.contamination(spark, sf).collect()
    assert(out.nonEmpty)
    assert(!out.map(_.getString(0)).contains(CorpusOps.EvalSource))
    out.foreach { r =>
      val (nDocs, nContam, total, mx) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nContam <= nDocs)
      assert(total >= nContam) // each contaminated doc has >= 1 hit
      assert(mx <= total)
    }
    // the synthetic corpus shares phrasing across sources — the check
    // must actually fire somewhere or the spec is vacuous
    assert(out.map(_.getLong(2)).sum > 0)
  }

  test("chunks reconstruct each doc's token count; only tails are short") {
    val chunks = CorpusOps.chunkPack(spark, sf)
    val perDoc = chunks.groupBy("doc_id")
      .agg(sum("chunk_tokens").as("n"), max("chunk_idx").as("last"),
        count(lit(1)).as("n_chunks"))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    // token counts reconstruct exactly
    assert(perDoc.join(docs, "doc_id")
      .filter(col("n") =!= col("n_tok")).count() == 0)
    // chunk_idx is dense 0..n_chunks-1
    assert(perDoc.filter(col("last") =!= col("n_chunks") - 1).count() == 0)
    // every non-final chunk is exactly ChunkSize tokens
    val short = chunks.join(perDoc.select(col("doc_id"), col("last")), "doc_id")
      .filter(col("chunk_idx") < col("last") &&
        col("chunk_tokens") =!= CorpusOps.ChunkSize)
    assert(short.count() == 0)
  }

  test("balanced sample keeps a subset at ~the smallest stratum's size") {
    val out = CorpusOps.sampleBalance(spark, sf).collect()
    val target = out.map(_.getLong(1)).min
    out.foreach { r =>
      val (before, kept) = (r.getLong(1), r.getLong(2))
      assert(kept <= before)
      // hash-rate sampling concentrates near the target; allow wide
      // slack on a tiny fixture but catch a broken predicate (keeping
      // everything or nothing in a stratum that should be thinned)
      if (before > 2 * target) assert(kept < before)
      assert(kept > 0)
    }
  }

  test("bigram LM scores are positive and avg <= max per source") {
    val out = CorpusOps.bigramLm(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (avg, mx) = (r.getDouble(2), r.getDouble(3))
      assert(avg > 0 && mx > 0 && avg <= mx)
    }
  }

  test("chunk dedup keeps exactly one copy per duplicate group") {
    val out = CorpusOps.chunkDedup(spark, sf).collect()
    assert(out.nonEmpty)
    val (chunks, kept, inDup) =
      (out.map(_.getLong(1)).sum, out.map(_.getLong(2)).sum,
        out.map(_.getLong(3)).sum)
    assert(kept <= chunks)
    // kept = total minus the non-keeper members of dup groups; with
    // G dup groups of total membership D, kept == chunks - D + G
    assert(chunks - kept < inDup || inDup == 0)
    // the synthetic corpus has exact-dup docs => dup chunks must exist
    assert(inDup > 0)
    out.foreach(r => assert(r.getLong(4) >= 1))
  }

  test("bins reconstruct token totals and respect the packing rule") {
    val bins = CorpusOps.packBins(spark, sf)
    val perSource = bins.groupBy("source")
      .agg(sum("bin_tokens").as("packed"), sum("n_docs").as("n"))
    val docs = Tables.documents(spark, sf)
      .select(col("source"), size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("total"), count(lit(1)).as("nd"))
    val j = perSource.join(docs, "source")
    assert(j.filter(col("packed") =!= col("total") || col("n") =!= col("nd")).count() == 0)
    // bin ids are dense from 0 within each source
    val dense = bins.groupBy("source")
      .agg(min("bin_id").as("lo"), max("bin_id").as("hi"), count(lit(1)).as("k"))
    assert(dense.filter(col("lo") =!= 0 || col("k") =!= col("hi") + 1).count() == 0)
  }

  test("window dedup finds the spans exact-dup docs share") {
    val out = CorpusOps.windowDedup(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2)) // dup windows <= windows
      assert(r.getLong(4) <= r.getLong(1)) // mostly-dup docs <= docs
    }
    // exact-dup docs exist in the corpus => every one of their
    // windows is duplicated, so mostly-dup docs must appear
    assert(out.map(_.getLong(4)).sum > 0)
    // window grid is linear in token count: windows ≈ ceil(tok/stride)
    val nWin = out.map(_.getLong(2)).sum
    val nTok = Tables.documents(spark, sf)
      .select(size(split(trim(col("text")), "\\s+"))).collect().map(_.getInt(0).toLong).sum
    assert(nWin <= nTok / CorpusOps.WinStride + out.map(_.getLong(1)).sum)
  }

  test("curation funnel stages are monotone and consistent with the standalone ops") {
    val out = CorpusOps.curationFunnel(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val cols = (1 to 5).map(r.getLong) // raw, dedup, quality, clean, sampled
      cols.sliding(2).foreach { case Seq(a, b) => assert(a >= b, r.toString) }
      assert(r.getLong(6) >= r.getLong(5)) // >=1 chunk per sampled doc
    }
    // the funnel's raw count == the corpus minus the eval source
    val nTrain = Tables.documents(spark, sf)
      .filter(col("source") =!= CorpusOps.EvalSource).count()
    assert(out.map(_.getLong(1)).sum == nTrain)
    // dedup stage drops exactly the docs the standalone rules drop
    val exactDrops = graft.operators.Dedup.exact(spark, sf)
      .agg(sum(col("cluster_size") - 1)).head.getLong(0)
    val totalDropped = nTrain - out.map(_.getLong(2)).sum
    assert(totalDropped >= 0 && (exactDrops == 0 || totalDropped > 0))
  }

  test("curated sink: totals match the funnel and source reads prune partitions") {
    val sink = CorpusOps.curatedSink(spark, sf)
    val funnel = CorpusOps.curationFunnel(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap // source -> n_sampled
    sink.collect().foreach { r =>
      assert(funnel(r.getString(0)) == r.getLong(1),
        s"sink count drifted from funnel for ${r.getString(0)}")
    }
    // a per-source consumer must touch ONE partition directory
    val someSource = sink.head.getString(0)
    val plan = spark.read.parquet(
      SessionRegistry.builtArtifact(spark, "curated", sf).map(_.path).get)
      .filter(col("source") === someSource)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(source"), plan)
  }

  test("curated append: layout = store-side sampled + admitted batch; reads prune") {
    val merged = CorpusOps.curatedAppend(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent recompute of both write legs
    val boot = CorpusOps.funnelFlags(spark, sf)
      .filter(col("sampled") && !CorpusOps.batchPredicate())
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val adm = CorpusOps
      .incrementalOutcomes(spark, sf, CorpusOps.PipelineConfig.default)
      .filter(col("outcome") === "admitted")
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == (boot.keySet ++ adm.keySet))
    merged.foreach { case (src, n) =>
      assert(n == boot.getOrElse(src, 0L) + adm.getOrElse(src, 0L),
        s"$src: merged $n != bootstrap ${boot.get(src)} + admitted ${adm.get(src)}")
    }
    assert(adm.values.sum > 0, "no admitted docs — the append leg is vacuous")
    // a per-source consumer of the merged layout touches ONE partition
    val someSource = merged.keySet.min
    val plan = spark.read.parquet(
      SessionRegistry.builtArtifact(spark, "curated_append", sf).map(_.path).get)
      .filter(col("source") === someSource)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(source"), plan)
  }

  test("compaction: content invariant, one file per source partition") {
    val before = CorpusOps.curatedAppend(spark, sf).collect().map(_.toString).toSet
    val after = CorpusOps.curatedCompact(spark, sf).collect().map(_.toString).toSet
    assert(after == before, "compaction changed layout content")
    def parquetFiles(root: String): Map[String, Int] = {
      val base = java.nio.file.Paths.get(root)
      java.nio.file.Files.list(base).toArray.map(_.toString)
        .filter(_.contains("source=")).map { p =>
          val n = java.nio.file.Files.list(java.nio.file.Paths.get(p)).toArray
            .map(_.toString).count(_.endsWith(".parquet"))
          p.substring(p.lastIndexOf('=') + 1) -> n
        }.toMap
    }
    val srcFiles = parquetFiles(
      SessionRegistry.builtArtifact(spark, "curated_append", sf).map(_.path).get)
    val cpFiles = parquetFiles(
      SessionRegistry.builtArtifact(spark, "curated_compact", sf).map(_.path).get)
    assert(cpFiles.keySet == srcFiles.keySet)
    cpFiles.foreach { case (src, n) =>
      assert(n == 1, s"partition $src has $n files after compaction")
    }
    // the append layout has ≥2 files where both legs wrote — the
    // compaction must actually merge somewhere
    assert(srcFiles.values.sum > cpFiles.values.sum,
      s"nothing merged: $srcFiles vs $cpFiles")
  }

  test("leakage split: no near-dup pair crosses the train/test boundary") {
    val out = CorpusOps.leakageSplit(spark, sf).collect()
    assert(out.nonEmpty)
    // the construction forces zero leakage — and both engines hash it
    out.foreach(r => assert(r.getLong(4) == 0L, "near-dup pair crossed the split"))
    out.foreach(r => assert(r.getLong(1) == r.getLong(2) + r.getLong(3)))
    val (train, test) = (out.map(_.getLong(2)).sum, out.map(_.getLong(3)).sum)
    assert(train > 0 && test > 0) // both sides populated at 80/20
  }

  test("incremental dedup: one decision per batch doc, refs point into the store") {
    val out = CorpusOps.incrementalDedup(spark, sf)
    val batchN = Tables.documents(spark, sf)
      .filter(CorpusOps.batchPredicate()).count()
    assert(out.count() == batchN)
    // refs are store docs (never batch docs, never self) except the -1 sentinel
    assert(out.filter(col("ref_id") =!= -1L &&
      CorpusOps.sampleHash(col("ref_id")) % 10 === 3)
      .count() == 0)
    assert(out.filter(col("decision") === "new" && col("ref_id") =!= -1L).count() == 0)
    assert(out.filter(col("decision") =!= "new" && col("ref_id") === -1L).count() == 0)
    // the synthetic corpus has planted dups — the op must find some
    assert(out.filter(col("decision") =!= "new").count() > 0)
  }

  test("cell-balanced embedding sample is a deterministic per-cell subset") {
    val op = graft.operators.SimilaritySearch.cellBalance(spark, sf)
    val out = op.collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // kept <= before
      assert(r.getLong(2) >= 0)
    }
    // deterministic: a second run returns the identical sample
    assert(graft.operators.SimilaritySearch.cellBalance(spark, sf)
      .collect().toSeq.map(_.toString) == out.toSeq.map(_.toString))
    // a stratum well above the target must actually be thinned
    val target = out.map(_.getLong(1)).min
    out.filter(_.getLong(1) > 2 * target)
      .foreach(r => assert(r.getLong(2) < r.getLong(1)))
  }

  test("cluster representatives are the longest member of their cluster") {
    val best = CorpusOps.clusterBest(spark, sf)
    val members = Dedup.clusters(spark, sf)
      .select(col("cluster_id"),
        explode(split(col("members"), ",").cast("array<long>")).as("doc_id"))
      .join(Tables.documents(spark, sf).select("doc_id", "n_chars"), "doc_id")
    val maxLen = members.groupBy("cluster_id").agg(max("n_chars").as("max_chars"))
    val joined = best.join(maxLen, "cluster_id")
    assert(joined.filter(col("rep_n_chars") =!= col("max_chars")).count() == 0)
    // rep is an actual member, and exactly one rep per cluster
    assert(best.join(members,
      best("cluster_id") === members("cluster_id") &&
        best("rep_doc_id") === members("doc_id")).count() == best.count())
    assert(best.groupBy("cluster_id").count().filter(col("count") > 1).count() == 0)
    assert(best.filter(col("n_dropped") =!= col("cluster_size") - 1).count() == 0)
  }

  test("boilerplate: planted dup docs carry the boilerplate mass; accounting holds") {
    val bp = CorpusOps.boilerplate(spark, sf)
    // every doc gets a verdict
    assert(bp.count() == Tables.documents(spark, sf).count())
    // accounting: 0 <= n_boiler <= n_grams, frac in [0,1], keep == (frac < 0.5)
    assert(bp.filter(col("n_boiler") > col("n_grams") || col("n_boiler") < 0).count() == 0)
    assert(bp.filter(col("boiler_frac") < 0 || col("boiler_frac") > 1).count() == 0)
    assert(bp.filter(
      (col("keep") === 1) =!= (col("boiler_frac") < 0.5)).count() == 0)
    // the planted exact-dup clusters (>= BoilerMinDf members) are the
    // boilerplate source: each such member's every gram has df >= the
    // floor, so its boiler_frac is 1 and it is dropped
    val bigClusterReps = Dedup.exact(spark, sf)
      .filter(col("cluster_size") >= CorpusOps.BoilerMinDf)
      .select(col("keep_doc_id").as("doc_id"))
    if (bigClusterReps.count() > 0) {
      val dropped = bp.join(bigClusterReps, "doc_id")
      assert(dropped.filter(col("boiler_frac") < 1.0).count() == 0)
    }
  }

  test("bloom prefilter: keeps every true dup, prunes most of the batch") {
    val (store, batch, pref) = CorpusOps.bloomPrefiltered(spark, sf)
    val nBatch = batch.count()
    val prefIds = pref.select("doc_id").collect().map(_.getLong(0)).toSet
    // no false negatives: every doc the exact join would match survives
    val trueDups = batch.as("b")
      .join(store.as("s"), col("b.h") === col("s.h"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(trueDups.subsetOf(prefIds),
      s"bloom dropped true dups: ${trueDups -- prefIds}")
    // effective pruning: survivors ≈ dups + fpp·batch (generous 5% slack)
    assert(prefIds.size <= trueDups.size + math.max(5, (0.05 * nBatch).toLong),
      s"bloom pruned poorly: ${prefIds.size} of $nBatch survive, ${trueDups.size} dups")
    // and the registered query's decisions agree with the exact sets
    val out = CorpusOps.bloomDedup(spark, sf)
    assert(out.count() == nBatch)
    val dupDecisions = out.filter(col("decision") === "exact_dup")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dupDecisions == trueDups)
  }

  test("ccnet buckets: tercile shares and within-source nll ordering") {
    val b = CorpusOps.ccnetBuckets(spark, sf)
    // head <= middle <= tail in nll within every source
    val agg = b.groupBy("source", "bucket").agg(
      count(lit(1)).as("n"),
      min("doc_nll").as("lo"), max("doc_nll").as("hi"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val sources = agg.keys.map(_._1).toSet
    for (s <- sources) {
      val head = agg.get((s, "head")); val tail = agg.get((s, "tail"))
      for (h <- head; t <- tail) assert(h._3 <= t._2 + 1e-9,
        s"source $s: head max ${h._3} > tail min ${t._2}")
      // tercile shares: head ~30%, middle ~40%, tail ~30% (percent_rank
      // boundaries are exact, so shares are deterministic given n)
      val n = agg.collect { case ((`s`, _), (c, _, _)) => c }.sum.toDouble
      for (h <- head) assert(math.abs(h._1 / n - 0.3) <= 0.12,
        s"source $s head share ${h._1 / n}")
    }
  }

  test("dsir: eval excluded, ranks dense, weights monotone, admission capped") {
    val out = CorpusOps.dsirWeights(spark, sf).collect()
    assert(out.nonEmpty)
    assert(!out.map(_.getString(1)).contains(CorpusOps.EvalSource))
    out.groupBy(_.getString(1)).foreach { case (s, rows) =>
      val sorted = rows.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq == (1L to rows.length).toSeq,
        s"source $s ranks not dense")
      val ws = sorted.map(_.getDouble(3))
      ws.zip(ws.tail).foreach { case (a, b) => assert(a >= b, s"source $s") }
      assert(rows.count(_.getBoolean(5)) <= CorpusOps.DsirAdmit)
      assert(rows.filter(_.getBoolean(5)).map(_.getLong(4)).forall(_ <= CorpusOps.DsirAdmit))
    }
  }

  test("conditional entropy is within [0, ln n_types] per source") {
    val out = CorpusOps.condEntropy(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val h = r.getDouble(3)
      assert(h >= 0.0, s"${r.getString(0)}: H=$h")
      assert(h <= math.log(r.getLong(2).toDouble) + 1e-6,
        s"${r.getString(0)}: H=$h exceeds ln(n_types)")
    }
  }

  test("token budget admits a priority-order prefix that stops at the budget") {
    val out = CorpusOps.tokenBudget(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (s, rows) =>
      val admitted = rows.filter(_._5)
      assert(admitted.nonEmpty, s"source $s admits nothing")
      // the admitted set's token mass is its own max cumsum and obeys
      // the budget; every rejected doc's cumsum exceeds it
      assert(admitted.map(_._3).sum == admitted.map(_._4).max)
      assert(admitted.map(_._4).max <= CorpusOps.BudgetTokens)
      rows.filterNot(_._5).foreach { r =>
        assert(r._4 > CorpusOps.BudgetTokens, s"source $s doc ${r._1}")
      }
    }
  }

  test("ngram coverage agrees with the contamination hit rule doc for doc") {
    val cov = CorpusOps.ngramCoverage(spark, sf).collect()
    cov.foreach { r =>
      val (grams, hit, c) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(hit <= grams && c >= 0.0 && c <= 1.0)
    }
    val covHits = cov.filter(_.getLong(3) > 0)
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val q83 = graft.streaming.StreamOps.contamFlagBatch(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hit")).toMap
    assert(covHits == q83)
  }

  test("q171 checksum: additive over sources and invariant to row order/partitioning") {
    import SparkTest._
    val m = CorpusOps.releaseManifest(spark, sf).collect()
    val leaves = m.filter(_.getLong(1) == 0L)
    val total = m.filter(_.getLong(1) == 1L)
    assert(total.length == 1 && leaves.nonEmpty)
    // volumes roll up exactly
    assert(leaves.map(_.getLong(2)).sum == total.head.getLong(2))
    assert(leaves.map(_.getLong(3)).sum == total.head.getLong(3))
    // ADDITIVITY: Σ leaf checksums ≡ total checksum (mod M) — what
    // lets a drop be verified shard-by-shard and combined
    val mod = BigInt(CorpusOps.ChecksumMod)
    val leafSum = leaves.map(r => BigInt(r.getLong(4))).sum.mod(mod)
    assert(leafSum == BigInt(total.head.getLong(4)))
    // ORDER/PARTITIONING INVARIANCE: a replica that reads the same
    // rows in any order/layout computes the same checksum
    val replica = Tables.documents(spark, sf)
      .repartition(13).sortWithinPartitions(col("doc_id").desc)
      .select(graft.plans.RollingHash(col("text")).as("fp"))
      .agg(sum(col("fp").cast("decimal(38,0)")).as("s"))
      .head.getDecimal(0)
    assert(BigInt(replica.toBigInteger).mod(mod) == BigInt(total.head.getLong(4)))
  }

  test("manifest-at-ingest matches the q171 batch leaves exactly") {
    import SparkTest._
    val staged = SparkTest.tempDir("manifest")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = graft.streaming.StreamOps.manifestStream(spark, staged.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("manifest_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("manifest_test").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = CorpusOps.releaseManifest(spark, sf).collect()
        .filter(_.getLong(1) == 0L) // leaves only
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("cdc chunking: boundaries re-synchronize after an edit") {
    import spark.implicits._
    // the property fixed windows (q81) cannot have: one inserted
    // token perturbs ONLY the chunk containing it — every other
    // chunk fingerprint survives the edit verbatim
    def polyHash(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    def chunkFps(toks: Seq[String]): Seq[(Long, Long, Long)] =
      Seq(Tuple1(toks.mkString(" "))).toDF("text")
        .select(explode(graft.plans.CdcChunks(
          split(trim(col("text")), "\\s+"), CorpusOps.CdcMod, CorpusOps.CdcRem)).as("c"))
        .select(col("c.chunk_idx"), col("c.n_tok"), col("c.fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(_._1)
    val base = (1 to 200).map(i => s"w${i % 37}x$i")
    val isAnchor = (t: String) => polyHash(t) % CorpusOps.CdcMod == CorpusOps.CdcRem
    val nonAnchor = (1 to 1000).map(i => s"ins$i").find(t => !isAnchor(t)).get
    val anchorTok = (1 to 10000).map(i => s"ins$i").find(isAnchor).get
    val mid = base.length / 2
    val b = chunkFps(base)
    // chunk table is well-formed: contiguous indices, token counts
    // reconstruct the doc
    assert(b.map(_._1) == b.indices.map(_.toLong))
    assert(b.map(_._2).sum == base.length)
    // non-anchor insert: same chunk count, exactly ONE fp changes
    val e1 = chunkFps((base.take(mid) :+ nonAnchor) ++ base.drop(mid))
    assert(e1.length == b.length)
    assert(b.zip(e1).count { case (x, y) => x._3 != y._3 } == 1)
    // anchor insert: the edited chunk splits in two; every chunk
    // after it keeps its fingerprint (shifted by one index)
    val e2 = chunkFps((base.take(mid) :+ anchorTok) ++ base.drop(mid))
    assert(e2.length == b.length + 1)
    val k = b.zip(e2).indexWhere { case (x, y) => x._3 != y._3 }
    assert(k >= 0)
    assert(e2.drop(k + 2).map(_._3) == b.drop(k + 1).map(_._3))
  }

  test("q182 pii scrub: exact planted counts, nothing survives redaction, idempotent") {
    val ids = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
    val report = CorpusOps.piiScrubReport(spark, sf).collect()
    // the planting arithmetic is the ground truth: each planted item
    // is exactly one regex match, and the base corpus contributes
    // zero — so equality also PROVES no accidental matches exist
    assert(report.map(_.getLong(3)).sum == ids.count(_ % CorpusOps.PiiEmailMod == 0))
    assert(report.map(_.getLong(4)).sum == ids.count(_ % CorpusOps.PiiIpMod == 0))
    assert(report.map(_.getLong(5)).sum == ids.count(_ % CorpusOps.PiiPhoneMod == 0))
    report.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // n_flagged <= n_docs
      assert(r.getLong(6) > 0L)            // redaction removed chars
    }
    assert(report.map(_.getLong(2)).sum > 0)
    // nothing survives: every per-doc count over the SCRUBBED text is 0
    val proj = CorpusOps.piiProjection(Tables.documents(spark, sf))
    val survivors = proj.select(
      (size(regexp_extract_all(col("scrubbed"), lit(CorpusOps.PiiEmailRe), lit(0))) +
        size(regexp_extract_all(col("scrubbed"), lit(CorpusOps.PiiIpv4Re), lit(0))) +
        size(regexp_extract_all(col("scrubbed"), lit(CorpusOps.PiiPhoneRe), lit(0))))
        .as("n"))
      .filter(col("n") > 0).count()
    assert(survivors == 0L)
    // idempotence: a second scrub pass is the identity on scrubbed text
    val changed = proj.filter(
      CorpusOps.piiScrub(col("scrubbed")) =!= col("scrubbed")).count()
    assert(changed == 0L)
  }

  test("q189 dedup savings: each granularity row matches its standalone query's accounting") {
    val rows = CorpusOps.dedupSavings(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(rows.keySet == Set("doc", "chunk64", "cdc"))
    rows.values.foreach { case (n, d, t, rm, pct) =>
      assert(d < n && rm < t)
      assert(pct >= 0.0 && pct < 1.0)
    }
    // doc == q30: dup units = sum(cluster_size - 1)
    val q30dups = Dedup.exact(spark, sf).collect()
      .map(r => r.getLong(2) - 1).sum
    assert(rows("doc")._2 == q30dups)
    // chunk64 == q81: dup units = sum(n_chunks - n_kept)
    val q81 = CorpusOps.chunkDedup(spark, sf).collect()
    assert(rows("chunk64")._2 == q81.map(r => r.getLong(1) - r.getLong(2)).sum)
    // cdc == q175: dup units = chunks where kept = false
    val q175 = CorpusOps.cdcChunks(spark, sf).collect()
    assert(rows("cdc")._2 == q175.count(!_.getBoolean(5)))
    assert(rows("cdc")._4 == q175.filter(!_.getBoolean(5)).map(_.getLong(2)).sum)
  }

  test("q185 source overlap: bounds, non-vacuous, and consistent with the window rule") {
    val rows = CorpusOps.sourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty) // cross-source spans exist at every SF
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (sh, wa, wb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(a < b)                       // unordered pairs, one row each
      assert(sh >= 1 && sh <= math.min(wa, wb))
      assert(r.getDouble(5) > 0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(6) > 0 && r.getDouble(6) <= 1.0)
    }
    // a digest shared by k sources yields C(k,2) pair contributions:
    // total pair count is bounded by the shared-window census from
    // q84's rule on the SAME shared grid
    val multi = CorpusOps.windowDigests(spark, sf)
      .select(col("source"), col("wh")).distinct()
      .groupBy(col("wh")).agg(countDistinct(col("source")).as("k"))
      .filter(col("k") > 1)
      .select(sum(col("k") * (col("k") - 1) / 2).cast("long")).head.getLong(0)
    assert(rows.map(_.getLong(2)).sum == multi)
  }

  test("q198 anchor flag fires on a planted adversarial source, blend absorbs shared bias") {
    // "by" IS an anchor token (poly-31 % 16 == 7), "aa" is not
    // (residue 0). Five organic sources are engineered to anchor at
    // EXACTLY the design rate 1/16 (15 aa + 1 by per group); the
    // small "tpl" source is pure "by" (rate 1.0). The blend-relative
    // 3-sigma test must flag tpl ALONE — the design-rate test this
    // replaced alarm-stormed on healthy sources instead, and a
    // blend POISONED by a dominant adversarial source would flag the
    // organics too (tpl is token-mass-bounded here, as a real
    // boilerplate source is against a crawl).
    import spark.implicits._
    val d = SparkTest.tempDir("anchor_plant").toString
    val group = (("aa " * 15) + "by ")
    val organic = for (s <- 0 until 5; i <- 0 until 4) yield
      ((s * 10 + i).toLong, (group * 5).trim, "en", s"web$s")
    val tpl = Seq((100L, (1 to 64).map(_ => "by").mkString(" "), "en", "tpl"))
    (organic ++ tpl).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = CorpusOps.anchorHealth(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("tpl").getDouble(3) == 1.0) // every token anchors
    assert(out("web0").getDouble(3) == 1.0 / 16.0) // design-rate organics
    assert(!out("tpl").getBoolean(7), "adversarial source not flagged")
    (0 until 5).foreach(s => assert(out(s"web$s").getBoolean(7),
      s"organic source web$s must stay healthy"))
  }

  test("q206 sensitivity curve: monotone in n and anchored to q76 at the production order") {
    val rows = CorpusOps.contamSensitivity(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == CorpusOps.ContamNGrid.map(_.toLong).toSet)
    // a longer gram is strictly harder to match: every n-gram hit
    // contains all its sub-grams, so flagged docs and hits can only
    // shrink as n grows (eval surface shrinks too: fewer positions)
    val ordered = CorpusOps.ContamNGrid.map(n => rows(n.toLong))
    Seq[((Long, Long, Long)) => Long](_._1, _._2, _._3).foreach { f =>
      val xs = ordered.map(f)
      assert(xs == xs.sorted.reverse, s"not monotone in n: $ordered")
    }
    // the n == ContamN row must reproduce q76's accounting exactly
    val q76 = CorpusOps.contamination(spark, sf).collect()
    val (flagged, hits) =
      (q76.map(_.getLong(2)).sum, q76.map(_.getLong(3)).sum)
    assert(rows(CorpusOps.ContamN.toLong)._2 == flagged)
    assert(rows(CorpusOps.ContamN.toLong)._3 == hits)
  }

  test("q203 scorecard columns equal the standalone audits value-for-value") {
    // the composition contract: the fused two-scan plan must land on
    // EXACTLY the numbers the four standalone (oracle-gated) audits
    // produce — join and compare every shared column
    val sc = CorpusOps.sourceScorecard(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val g = graft.operators.TextOps.gopherRules(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(2).toDouble / r.getLong(1))).toMap
    val m = graft.operators.TextOps.langMismatch(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    val k = graft.operators.TextOps.tokenLenKs(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    val a = CorpusOps.anchorHealth(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(3), r.getBoolean(7)))).toMap
    assert(sc.keySet == g.keySet)
    sc.foreach { case (s, r) =>
      assert(r.getDouble(2) == g(s), s"$s gopher_pass_rate")
      assert(r.getDouble(3) == m(s), s"$s lang_mismatch_rate")
      assert((r.getDouble(4), r.getBoolean(5)) == k(s), s"$s ks")
      assert((r.getDouble(6), r.getBoolean(7)) == a(s), s"$s anchor")
    }
    // both verdict branches must be exercised by the gate corpus
    val verdicts = sc.values.map(_.getBoolean(8)).toSet
    assert(verdicts == Set(true, false), s"contract_ok branches: $verdicts")
  }

  test("q212 packing curve: reconciles with q77 at ChunkSize, monotone along the doubling grid") {
    val out = CorpusOps.packEfficiency(spark, sf).collect()
    assert(out.length == CorpusOps.PackGrid.length * 20)
    // the L = ChunkSize level must reproduce the q77 chunk frame's
    // per-source row counts exactly (same rule, two presentations)
    val q77 = CorpusOps.chunkPack(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.filter(_.getLong(0) == CorpusOps.ChunkSize.toLong).foreach { r =>
      assert(r.getLong(4) == q77(r.getString(1)),
        s"${r.getString(1)}: curve n_chunks != q77 chunk count")
    }
    // waste accounting closes; efficiency non-increasing along the
    // doubling grid (ceil(n/2L)·2L >= ceil(n/L)·L per doc)
    out.foreach { r =>
      assert(r.getLong(5) == r.getLong(4) * r.getLong(0))
      assert(r.getLong(6) == r.getLong(5) - r.getLong(3))
      assert(r.getLong(6) >= 0L)
    }
    out.groupBy(_.getString(1)).foreach { case (s, rs) =>
      val eff = rs.sortBy(_.getLong(0)).map(_.getDouble(7))
      eff.sliding(2).foreach { w =>
        assert(w(0) >= w(1), s"$s: efficiency not monotone: ${eff.mkString(",")}")
      }
    }
  }

  test("q214 eval decontam: same bipartite hit relation as q76, other rollup") {
    val ev = CorpusOps.evalDecontam(spark, sf).collect()
    ev.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "hit grams bounded by gram count")
      assert((r.getLong(2) > 0L) == r.getBoolean(5), "verdict consistent")
      assert((r.getLong(2) > 0L) == (r.getLong(3) > 0L))
    }
    // both verdict branches fire organically on the gate corpus
    assert(ev.exists(_.getBoolean(5)) && ev.exists(!_.getBoolean(5)))
    // recompute the (train, eval) hit relation once; its TRAIN-side
    // rollup must equal q76's flagged-doc accounting and its
    // EVAL-side rollup must equal this report's
    val docs = Tables.documents(spark, sf)
    val eg = docs.filter(col("source") === CorpusOps.EvalSource)
      .select(col("doc_id").as("eval_doc_id"),
        explode(graft.plans.WordNGrams(
          graft.functions.TextFns.tokens(col("text")), CorpusOps.ContamN)).as("g"))
    val pairs = CorpusOps.docGrams(docs).join(eg, Seq("g"))
      .select("doc_id", "eval_doc_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val q76Flagged = CorpusOps.contamination(spark, sf).collect()
      .map(_.getLong(2)).sum
    assert(pairs.map(_._1).distinct.length.toLong == q76Flagged,
      "train-side rollup must reproduce q76")
    assert(pairs.map(_._2).distinct.length == ev.count(_.getBoolean(5)),
      "eval-side rollup must reproduce the report's compromised count")
    assert(pairs.length.toLong == ev.map(_.getLong(3)).sum,
      "n_train_docs sums to the distinct pair count")
  }

  test("q224 budget curve: reconciles with q151 at the shipped budget, monotone in budget") {
    val rows = CorpusOps.budgetCurve(spark, sf).collect()
    assert(rows.length == CorpusOps.BudgetGrid.length * 20)
    // the shipped level reproduces q151's admission accounting
    val q151 = CorpusOps.tokenBudget(spark, sf).collect()
      .groupBy(_.getString(1)).map { case (s, g) =>
        val adm = g.filter(_.getBoolean(4))
        s -> ((adm.length.toLong, adm.map(_.getLong(2)).sum))
      }
    rows.filter(_.getLong(0) == CorpusOps.BudgetTokens).foreach { r =>
      assert((r.getLong(4), r.getLong(5)) == q151(r.getString(1)),
        s"${r.getString(1)}: curve != q151")
    }
    rows.foreach { r =>
      assert(r.getLong(5) <= math.min(r.getLong(0), r.getLong(3)),
        "admitted tokens bounded by budget and supply")
      assert(r.getDouble(6) == r.getLong(5).toDouble / r.getLong(0).toDouble)
    }
    // admission monotone along the budget grid, per source
    rows.groupBy(_.getString(1)).foreach { case (s, g) =>
      val byB = g.sortBy(_.getLong(0))
      byB.map(_.getLong(4)).sliding(2).foreach(w => assert(w(0) <= w(1), s"$s docs"))
      byB.map(_.getLong(5)).sliding(2).foreach(w => assert(w(0) <= w(1), s"$s tokens"))
    }
  }

  test("q217 mix quality recomposes exactly from q117's manifest and q95's buckets") {
    val expect = CorpusOps.mixAdmit(spark, sf)
      .join(CorpusOps.ccnetBuckets(spark, sf).select(col("doc_id"), col("bucket")),
        Seq("doc_id"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n"), sum("n_tok").as("tok"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val rows = CorpusOps.mixQuality(spark, sf).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet == expect.keySet)
    val bySource = rows.groupBy(_.getString(0))
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert((r.getLong(2), r.getLong(3)) == expect(k), s"$k accounting")
      val tot = bySource(r.getString(0)).map(_.getLong(3)).sum
      assert(r.getDouble(4) == r.getLong(3).toDouble / tot.toDouble, s"$k share")
    }
    // the hash sampler is quality-unbiased: every source ships all
    // three buckets at the gate scale (the audit's null hypothesis)
    bySource.foreach { case (s, g) =>
      assert(g.map(_.getString(1)).toSet.subsetOf(Set("head", "middle", "tail")), s)
    }
  }

  test("q215 trainset: every label verified against its standalone rules, quotas bound") {
    val out = CorpusOps.qualityTrainset(spark, sf).collect()
    assert(out.nonEmpty)
    // both classes present (a one-class export trains nothing)
    val labels = out.map(_.getString(1)).toSet
    assert(labels == Set("pos", "neg"), s"labels: $labels")
    // quota + rank shape per (source, label)
    out.groupBy(r => (r.getString(0), r.getString(1))).foreach { case (k, rs) =>
      assert(rs.length <= CorpusOps.TrainsetK, s"$k over quota")
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length).toSeq, s"$k ranks")
    }
    // label rule recomputed from the two standalone verified ops:
    // pos ⇒ gopher pass AND head bucket; neg ⇒ gopher fail
    val docs = Tables.documents(spark, sf)
    val pass = docs
      .select(Seq(col("doc_id")) ++ graft.operators.TextOps.gopherSignalCols: _*)
      .select(Seq(col("doc_id")) ++ graft.operators.TextOps.gopherRuleCols: _*)
      .withColumn("p", graft.operators.TextOps.gopherPass)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    val bucket = CorpusOps.ccnetBuckets(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    out.foreach { r =>
      val (id, lab) = (r.getLong(2), r.getString(1))
      if (lab == "pos") assert(pass(id) && bucket(id) == "head", s"doc $id mislabeled pos")
      else assert(!pass(id), s"doc $id mislabeled neg")
    }
    // determinism: the reviewer-stability property (q211's contract)
    val again = CorpusOps.qualityTrainset(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q213 epoch plan: planted dup-farm goes over cap, cross-source dup zeroes the mirror") {
    // TESTDATA-independent planting (lever (hh)): the gate corpora
    // have no exact duplicates, so dup_tokens/deficit/null-epochs
    // branches must be exercised here. Three sources: fresh (unique
    // docs), dupfarm (4 byte-identical copies), mirror (one copy of a
    // fresh doc with a LARGER doc_id — keep-first attributes the
    // content to fresh, so mirror's unique supply is zero).
    val d = SparkTest.tempDir("epoch_corpus").toString
    val freshDoc = (1 to 60).map(i => f"fresh$i%03d").mkString(" ")
    val dupDoc = (1 to 60).map(i => f"dup$i%03d").mkString(" ")
    val rows = Seq(
      (1L, freshDoc, "en", "fresh"),
      (2L, (1 to 60).map(i => f"other$i%03d").mkString(" "), "en", "fresh"),
      (10L, dupDoc, "en", "dupfarm"), (11L, dupDoc, "en", "dupfarm"),
      (12L, dupDoc, "en", "dupfarm"), (13L, dupDoc, "en", "dupfarm"),
      (20L, freshDoc, "en", "mirror"))
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = CorpusOps.epochPlan(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val dup = out("dupfarm")
    assert(dup.getLong(1) == 240L && dup.getLong(2) == 60L && dup.getLong(3) == 180L)
    assert(dup.getBoolean(6), "dupfarm must be over the epoch cap")
    assert(dup.getLong(7) == dup.getLong(4) - 4L * 60L, "deficit accounting")
    assert(dup.getDouble(5) == dup.getLong(4).toDouble / 60.0, "epochs quotient")
    // mirror's only doc is a keep-first loser to fresh's doc 1 →
    // zero unique supply, epochs undefined (null), full deficit
    val mir = out("mirror")
    assert(mir.getLong(2) == 0L && mir.getLong(3) == mir.getLong(1))
    assert(mir.isNullAt(5), "epochs must be NULL at zero unique supply")
    assert(mir.getBoolean(6) && mir.getLong(7) == mir.getLong(4))
    // fresh keeps everything it authored (including the mirrored doc)
    assert(out("fresh").getLong(3) == 0L)
  }
}
