package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata. The container has no codec
  * libraries, so the DEFAULT codec is a clearly-marked deterministic
  * fake — but the decode boundary is a pluggable trait and the
  * Spark-side plumbing (binary columns, typed mapPartitions decode
  * with case-class Encoders, partition-sized batches, metadata
  * pushdown-friendly schema) is real and tested.
  */
object Multimodal {

  /** Pluggable decode boundary. A real deployment drops in an
    * ffmpeg/ImageIO-backed implementation; operators never change.
    * Implementations are constructed driver-side and shipped to
    * executors (hence Serializable); heavyweight native state should
    * be lazy so it initializes once per executor, and the operators
    * call through once per partition — the decoder-per-partition
    * batch shape of a Pandas-UDF/mapInPandas decode. */
  trait AssetCodec extends Serializable {
    /** Full decode: payload → (width, height, row-major interleaved
      * RGB pixel buffer of length width*height*3). The real-codec
      * analogue of an ImageIO/ffmpeg frame decode. */
    def decodePixels(payload: Array[Byte]): (Int, Int, Array[Byte])

    /** Summary decode → (width, height, mean channel value over the
      * full plane). Derived from [[decodePixels]]; codecs with a
      * cheaper closed form may override, but the value must equal
      * the derived one (spec-checked for the default codec). */
    def decode(payload: Array[Byte]): (Long, Long, Double) = {
      val (w, h, px) = decodePixels(payload)
      var sum = 0L
      var i = 0
      while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
      (w.toLong, h.toLong, if (px.isEmpty) 0.0 else sum.toDouble / px.length)
    }

    /** Nearest-neighbor resize of a decoded plane (codec-independent
      * pixel math, so it lives on the trait): output pixel (x, y)
      * copies source pixel (x*w/w2, y*h/h2), floor mapping. Identity
      * at equal dims; downsampling by a*b equals downsampling by a
      * then b when the dims divide evenly. */
    def resize(px: Array[Byte], w: Int, h: Int, w2: Int, h2: Int): Array[Byte] = {
      require(px.length == w * h * 3, s"plane is ${px.length}B, expected ${w * h * 3}")
      val out = new Array[Byte](w2 * h2 * 3)
      var y = 0
      while (y < h2) {
        val sy = (y.toLong * h / h2).toInt
        var x = 0
        while (x < w2) {
          val sx = (x.toLong * w / w2).toInt
          var c = 0
          while (c < 3) {
            out(3 * (y * w2 + x) + c) = px(3 * (sy * w + sx) + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      out
    }

    /** Perceptual average-hash (aHash) of the decoded asset —
      * codec-independent pixel math, so it lives on the trait: resize
      * the plane to 8×8, integer gray per pixel (mean of the three
      * channels), bit i set iff gray(i) > plane mean. Near-duplicate
      * assets (same dims, small pixel deltas) keep the hash while the
      * exact byte fingerprint changes; a real codec inherits this
      * unchanged on top of its own decodePixels. */
    def aHash(payload: Array[Byte]): Long = {
      val (w, h, px) = decodePixels(payload)
      val small = resize(px, w, h, 8, 8)
      val gray = new Array[Int](64)
      var sum = 0L
      var i = 0
      while (i < 64) {
        gray(i) = ((small(3 * i) & 0xff) + (small(3 * i + 1) & 0xff) +
          (small(3 * i + 2) & 0xff)) / 3
        sum += gray(i)
        i += 1
      }
      val mean = sum.toDouble / 64
      var hsh = 0L
      i = 0
      while (i < 64) { if (gray(i) > mean) hsh |= (1L << i); i += 1 }
      hsh
    }

    /** Sample every `every`-th frame of a video payload → per-frame
      * (frame_idx, byte offset, frame bytes, luma). */
    def sampleFrames(payload: Array[Byte], every: Int,
        frameSize: Int): Iterator[(Long, Long, Long, Double)]

    /** Content fingerprint of the frame at [off, off+len) — a real
      * codec overrides this with a PERCEPTUAL hash (near-dup frames
      * collide); the default is an exact byte hash, so only exact-dup
      * frames collide. The hash family is q26's poly-31 mod 1e9+7
      * rolling hash (plans/RollingHash) rather than FNV: the SAME
      * value is expressible in DuckDB via the verified list_reduce
      * fragment, which puts q87's whole frame-dedup rollup on the
      * oracle gate (CLAUDE.md lever (a)). Both engines agree
      * bit-for-bit, so even the rare mod-1e9+7 collision is counted
      * identically on both sides. */
    def frameFingerprint(payload: Array[Byte], off: Int, len: Int): Long = {
      var h = 0L
      var i = off
      val end = math.min(off + len, payload.length)
      while (i < end) { h = (h * 31 + (payload(i) & 0xff)) % 1000000007L; i += 1 }
      h
    }
  }

  /** Deterministic stand-in codec (the container ships no codec libs —
    * replace with a real implementation when the runtime has one).
    * The pixel MODEL is fully specified, so decode is a verifiable
    * transform, not just plumbing:
    *
    *   - dims: w = 64 + n mod 512, h = 64 + 7n mod 512 (n = payload
    *     length; empty payload → 64×64 black frame)
    *   - content: the byte stream TILED CYCLICALLY over the plane,
    *     channel i (row-major interleaved RGB) = payload(i mod n)
    *
    * Consequences the specs assert: the first n plane bytes recover
    * the payload exactly (content-preserving for n ≤ w*h*3); the
    * summary mean has a closed form (q·S + prefix(r))/L for
    * L = q·n + r, which must equal the materialized plane mean. */
  object DeterministicFakeCodec extends AssetCodec {
    override def decodePixels(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val n = payload.length
      val w = 64 + n % 512
      val h = 64 + (n * 7) % 512
      val px = new Array[Byte](w * h * 3)
      if (n > 0) {
        var i = 0
        while (i < px.length) { px(i) = payload(i % n); i += 1 }
      }
      (w, h, px)
    }

    /** Closed form of the derived mean — O(n) instead of O(w·h):
      * the tiled plane of length L = q·n + r sums to q·S + prefix(r).
      * Value is EXACTLY the trait's materialized derivation (integer
      * sums are equal, the final division identical); spec-checked. */
    override def decode(payload: Array[Byte]): (Long, Long, Double) = {
      val n = payload.length
      val w = 64 + n % 512
      val h = 64 + (n * 7) % 512
      val plane = w.toLong * h * 3
      if (n == 0) return (w.toLong, h.toLong, 0.0)
      var total = 0L
      var i = 0
      while (i < n) { total += (payload(i) & 0xff); i += 1 }
      val q = plane / n
      val r = (plane % n).toInt
      var prefix = 0L
      i = 0
      while (i < r) { prefix += (payload(i) & 0xff); i += 1 }
      (w.toLong, h.toLong, (q * total + prefix).toDouble / plane)
    }

    /** Closed form of the trait's aHash — O(192) instead of O(w·h·3):
      * the 8×8 resize reads exactly 192 plane positions, and under
      * the tiling model plane(i) = payload(i mod n), so the sampled
      * gray values are computed directly without materializing the
      * plane (the full-plane derivation allocates ~1 MB per asset and
      * was the whole suite's slowest query). Bit-identical to the
      * trait derivation — same positions, same integer gray math,
      * same mean threshold; spec-checked against a derivation-only
      * codec. */
    override def aHash(payload: Array[Byte]): Long = {
      val n = payload.length
      val w = 64 + n % 512
      val h = 64 + (n * 7) % 512
      val gray = new Array[Int](64)
      var sum = 0L
      var y = 0
      while (y < 8) {
        val sy = (y.toLong * h / 8).toInt
        var x = 0
        while (x < 8) {
          val sx = (x.toLong * w / 8).toInt
          val base = 3 * (sy * w + sx)
          val g =
            if (n == 0) 0
            else (((payload(base % n) & 0xff) + (payload((base + 1) % n) & 0xff) +
              (payload((base + 2) % n) & 0xff)) / 3)
          gray(y * 8 + x) = g
          sum += g
          x += 1
        }
        y += 1
      }
      val mean = sum.toDouble / 64
      var hsh = 0L
      var i = 0
      while (i < 64) { if (gray(i) > mean) hsh |= (1L << i); i += 1 }
      hsh
    }

    override def sampleFrames(payload: Array[Byte], every: Int,
        frameSize: Int): Iterator[(Long, Long, Long, Double)] = {
      val nFrames = payload.length / frameSize
      (0 until nFrames by every).iterator.map { f =>
        val off = f * frameSize
        var sum = 0L
        var i = off
        while (i < off + frameSize) { sum += (payload(i) & 0xff); i += 1 }
        (f.toLong, off.toLong, frameSize.toLong,
          math.rint(sum.toDouble / frameSize * 100) / 100)
      }
    }
  }

  /** Typed decode output (what a real image decoder would emit). */
  case class AssetFeature(doc_id: Long, source: String, n_bytes: Long,
      width: Long, height: Long, feat_mean: Double)

  /** Asset table: payload as binary + derived typed metadata. The
    * metadata formulas are deterministic fakes standing in for a real
    * header parse; aggregation over them per source is oracle-exact. */
  def assetMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("source"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        (lit(64) + pmod(col("n_chars"), lit(512))).cast("long").as("width"),
        (lit(64) + pmod(col("n_chars") * 7, lit(512))).cast("long").as("height"),
        (lit(1) + pmod(col("doc_id"), lit(30))).cast("long").as("frames"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).as("total_bytes"),
        (sum(col("width")).cast("double") / count(lit(1))).as("avg_width"),
        max(col("frames")).as("max_frames"))
      .orderBy(col("source"))

  /** Decode pipeline: binary payload → per-asset features via typed
    * mapPartitions (the Scala analogue of a Pandas-UDF/mapInPandas
    * batch decode — one decoder reference per partition, stream of
    * rows through it, no per-row setup cost). Codec is pluggable;
    * default is the declared deterministic stub. */
  def decodeFeatures(spark: SparkSession, dir: String,
      codec: AssetCodec = DeterministicFakeCodec): DataFrame = {
    import spark.implicits._
    val assets = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        col("text").cast("binary").as("payload"))
      .as[(Long, String, Array[Byte])]
    assets.mapPartitions { it =>
      // one codec reference per partition: a real implementation
      // initializes its native state here, once
      val c = codec
      it.map { case (id, source, payload) =>
        val (w, h, mean) = c.decode(payload)
        AssetFeature(id, source, payload.length.toLong, w, h,
          math.rint(mean * 10000) / 10000)
      }
    }.toDF()
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_assets"),
        round(avg(col("feat_mean")), 4).as("avg_feat"),
        max(col("width")).as("max_width"))
      .orderBy(col("source"))
  }

  /** Per-frame record emitted by the frame sampler. */
  case class Frame(doc_id: Long, frame_idx: Long, offset: Long,
      frame_bytes: Long, luma: Double)

  /** Frame sampling / resize plumbing: treat the payload as a video
    * (fixed-size "frames" over the byte stream under the stub codec),
    * sample every k-th frame, and emit per-frame features.
    * flatMap-over-partitions shape: one decoder per partition, 0..n
    * output rows per input row — the real pattern for video corpora
    * where frames explode row counts. */
  def frameSample(spark: SparkSession, dir: String,
      codec: AssetCodec = DeterministicFakeCodec): DataFrame = {
    import spark.implicits._
    val every = 4
    val frameSize = 32
    val assets = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    assets.mapPartitions { it =>
      val c = codec
      it.flatMap { case (id, payload) =>
        c.sampleFrames(payload, every, frameSize).map {
          case (idx, off, nb, luma) => Frame(id, idx, off, nb, luma)
        }
      }
    }.toDF()
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_sampled_frames"),
        round(avg(col("luma")), 2).as("avg_luma"))
      .orderBy(col("doc_id"))
  }

  /** Fingerprinted frame record. */
  case class FrameFp(doc_id: Long, frame_idx: Long, fhash: Long)

  /** Cross-asset FRAME dedup (q84's duplicated-span idea lifted to
    * the multimodal column): every sampled frame is fingerprinted at
    * the codec boundary (pluggable — perceptual hash in a real
    * deployment, exact byte FNV under the stub), and a frame whose
    * fingerprint appears in more than one asset is a duplicated
    * frame. Only (fingerprint, id) pairs shuffle — frame bytes never
    * leave their scan partition; the rollup joins the asset table's
    * source only. At 100 TB this is how near-identical video assets
    * (re-encodes, intros, stock footage) surface without any
    * pairwise asset comparison. */
  def frameDedup(spark: SparkSession, dir: String,
      codec: AssetCodec = DeterministicFakeCodec): DataFrame = {
    import spark.implicits._
    val every = 4
    val frameSize = 32
    val assets = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    // the slim fingerprint frame is consumed twice (the shared-hash
    // agg and the join back); both read ONE fhash exchange, so the
    // codec decode pass, the dominant cost under a real codec, runs
    // once
    val frames = assets.mapPartitions { it =>
      val c = codec
      it.flatMap { case (id, payload) =>
        c.sampleFrames(payload, every, frameSize).map {
          case (idx, off, nb, _) =>
            FrameFp(id, idx, c.frameFingerprint(payload, off.toInt, nb.toInt))
        }
      }
    }.toDF().repartition(col("fhash"))
    val shared = frames.groupBy(col("fhash"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
    frames.join(shared, Seq("fhash"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_dup_frames"),
        countDistinct(when(col("n_docs_with") > 1, col("doc_id"))).as("n_assets_with_dup"))
      .orderBy(col("source"))
  }

  /** Per-asset perceptual + exact hash pair. */
  case class AssetHashes(doc_id: Long, source: String, ahash: Long, fp: Long)

  /** Core of q126 on an explicit asset frame (specs plant near-dup
    * twins here): one decode pass emits (aHash, exact FNV fingerprint)
    * per asset — pixel bytes never leave the scan partition. */
  def perceptualHashes(spark: SparkSession, assets: DataFrame,
      codec: AssetCodec): DataFrame = {
    import spark.implicits._
    assets.select(col("doc_id"), col("source"),
        col("payload").cast("binary").as("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        val c = codec
        it.map { case (id, source, payload) =>
          AssetHashes(id, source, c.aHash(payload),
            c.frameFingerprint(payload, 0, payload.length))
        }
      }.toDF()
  }

  /** q126: perceptual ASSET dedup (the image-corpus analogue of
    * aHash dedup in any large crawl pipeline; lifts q30's exact digest
    * groupBy to a lossy perceptual key): every asset is hashed once
    * into (aHash, exact fingerprint); assets sharing an aHash with
    * another asset are perceptual duplicates, assets sharing the byte
    * fingerprint are exact duplicates — perceptual ⊇ exact by
    * construction under any codec (equal bytes ⇒ equal pixels ⇒ equal
    * aHash). Per-source rollup of both counts. Scale shape: one
    * decode pass over the scan, then only 32-byte hash rows shuffle —
    * two slim groupBys and a join back; no pairwise comparison
    * anywhere, no pixel bytes past the scan partition. */
  def perceptualDedup(spark: SparkSession, dir: String,
      codec: AssetCodec = DeterministicFakeCodec): DataFrame = {
    val assets = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text").as("payload"))
    // consumed by both cluster-size aggs and the join back, all
    // above ONE ahash exchange (the decode pass, dominant under a
    // real codec, runs once)
    val hashes = perceptualHashes(spark, assets, codec).repartition(col("ahash"))
    val byAhash = hashes.groupBy(col("ahash"))
      .agg(countDistinct(col("doc_id")).as("n_docs_ahash"))
    val byFp = hashes.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs_fp"))
    hashes
      .join(byAhash, Seq("ahash"))
      .join(byFp, Seq("fp"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_assets"),
        countDistinct(col("ahash")).as("n_hash_values"),
        sum(when(col("n_docs_ahash") > 1, 1L).otherwise(0L)).as("n_perceptual_dup"),
        sum(when(col("n_docs_fp") > 1, 1L).otherwise(0L)).as("n_exact_dup"))
      .orderBy(col("source"))
  }

  /** q179 Rabin window / anchor rule: a byte position whose trailing
    * [[CdcWindow]]-byte rolling hash ≡ [[CdcByteRem]] (mod
    * [[CdcByteMod]]) closes the chunk → expected chunk ≈ CdcByteMod
    * bytes. */
  private[graft] val CdcWindow = 8
  private[graft] val CdcByteMod = 32L
  private[graft] val CdcByteRem = 11L

  /** q179: BYTE-LEVEL content-defined chunking of the binary asset
    * payloads + the storage-savings report — the LBFS/restic/borg
    * write path applied to the MULTIMODAL column: a re-encode or
    * re-crawl of a stored asset whose bytes shift by an insertion
    * still re-synchronizes on the same Rabin anchors, so shared
    * byte runs dedup at chunk granularity with no pairwise asset
    * comparison (the token-CDC q175's argument, an octave lower —
    * boundaries from a true sliding w-byte window hash, not token
    * content). Scale shape: segmentation is one row-local codegen
    * kernel (constant-time window slide); payload bytes never leave
    * their scan partition — only (fp, ids, sizes) shuffle; keeper =
    * q30's min-struct pick; per-source rollup is |sources|-bounded.
    * bytes_saved = what a chunk store would NOT write again.
    * Oracle: every window hash recomputed from the char slice via
    * the verified poly-31 fragment (ASCII payloads: byte ==
    * codepoint, q87's precedent), chunk fps from substr slices,
    * constants interpolated. */
  def assetCdc(spark: SparkSession, dir: String): DataFrame = {
    val ch = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.plans.CdcChunks.bytes(col("text").cast("binary"),
          CdcWindow, CdcByteMod, CdcByteRem)).as("c"))
      .select(col("doc_id"), col("source"),
        col("c.chunk_idx").as("chunk_idx"),
        col("c.n_tok").as("n_bytes"), col("c.fp").as("fp"))
      .repartition(col("fp")) // one exchange for the keeper agg and the join
    val keepers = ch.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    ch.join(keepers, Seq("fp"))
      .withColumn("kept",
        struct(col("doc_id"), col("chunk_idx")) === col("keeper"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(!col("kept"), col("n_bytes")).otherwise(0L)).as("bytes_saved"))
      .orderBy(col("source"))
  }
}
