package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video travel as opaque
  * `binary` columns with typed metadata, and per-asset compute runs as
  * batched partition-level functions (the Scala analog of PySpark's
  * `mapInPandas`: one iterator per partition, library handles loaded
  * once per partition, not per row).
  *
  * Two codec tiers. The byte-fixture tier (`DecodeStub`) treats the
  * payload bytes themselves as samples — it backs the entries whose
  * oracle twins are defined over raw byte values. The REAL tier
  * (`ImageCodec`, round 12) decodes genuine uncompressed containers —
  * 24-bit BMP and binary PPM, pure Scala, jar-free — and backs the
  * `multimodal_decode` / `image_dup_decoded` entries: real header
  * parse, stride/padding, row order and channel order, gate-verified
  * byte-for-byte. Compressed formats (JPEG/WebP/H.264) slot in behind
  * the same `ImageCodec.decode` dispatch with a JNI/javacv call.
  *
  * Scale notes: binary payloads ride the normal columnar path (parquet
  * binary); feature extraction is a narrow mapPartitions — no shuffle;
  * downstream ANN over the produced embeddings reuses Similarity.
  */
object Multimodal {

  /** Typed rows at the package boundary. */
  case class MediaAsset(asset_id: Long, media: Array[Byte],
      format: String, width: Int, height: Int)
  case class MediaFeatures(asset_id: Long, format: String,
      n_bytes: Int, mean_luma: Double, features: Array[Float])

  /** Byte-fixture codec: payload bytes ARE the 8-bit samples (the
    * identity decode). Kept alongside the real `ImageCodec` because
    * the byte-fixture gate entries' DuckDB twins are defined over raw
    * byte values; the real-container entries dispatch through
    * `ImageCodec.decode` instead. */
  object DecodeStub {
    val FeatureDim = 16

    /** Identity decode: interpret payload bytes as 8-bit samples.
      * Real container bytes go through `ImageCodec.decode`. */
    def decode(bytes: Array[Byte]): Array[Int] = bytes.map(_ & 0xff)

    /** Fixed-dim pooled features from decoded samples: per-bucket mean
      * of a FeatureDim-way stripe — a stand-in for a CNN embedding,
      * deterministic for tests. */
    def features(samples: Array[Int]): Array[Float] = {
      val acc = new Array[Double](FeatureDim)
      val cnt = new Array[Int](FeatureDim)
      var i = 0
      while (i < samples.length) {
        val b = i % FeatureDim
        acc(b) += samples(i); cnt(b) += 1; i += 1
      }
      Array.tabulate(FeatureDim)(b =>
        if (cnt(b) == 0) 0f else (acc(b) / cnt(b)).toFloat)
    }
  }

  /** Build a binary media column from the documents table — fixture
    * encoder: payload = UTF-8 text bytes, metadata derived
    * deterministically. (Stands in for real image bytes.) */
  def toAssets(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      encode(col("text"), "UTF-8").as("media"),
      element_at(array(lit("png"), lit("jpeg"), lit("webp")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"),
      (col("n_chars") % 640 + 16).cast("int").as("width"),
      (col("n_chars") % 480 + 16).cast("int").as("height"))

  /** Partition-batched decode + featurize (mapInPandas analog): the
    * per-partition iterator amortizes codec setup; rows stream through
    * without materializing the partition. */
  def extractFeatures(spark: SparkSession, assets: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    assets.as[MediaAsset].mapPartitions { it =>
      // per-partition one-time codec init would go here
      it.map { a =>
        val samples = DecodeStub.decode(a.media)
        val f = DecodeStub.features(samples)
        MediaFeatures(a.asset_id, a.format, a.media.length,
          if (samples.isEmpty) 0.0 else samples.sum.toDouble / samples.length,
          f)
      }
    }
  }

  /** End-to-end: documents → binary assets → decoded features, ready
    * for Similarity.lshTopK over the `features` column. `mean_luma` is
    * emitted UNROUNDED: it is one IEEE division of two exact integers
    * (byte sum / byte count), so any engine reproduces the double
    * bit-for-bit — rounding would only add a boundary-case hazard. */
  def pipeline(spark: SparkSession, docs: DataFrame): DataFrame =
    extractFeatures(spark, toAssets(docs)).toDF()
      .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_luma"))

  case class ResizedAsset(asset_id: Long, media: Array[Byte],
      format: String, width: Int, height: Int)

  /** Resize: decode → box-filter downsample to (outW × outH) → re-emit
    * as a binary column. On the stub codec "pixels" are the payload
    * bytes in row-major (width-strided) order; the box filter averages
    * each source cell that maps to an output cell — the same pooling a
    * real `java.awt.Image.getScaledInstance`/swscale call does, so only
    * `DecodeStub.decode` and the byte re-encode swap out for real
    * media. Narrow per-partition map, no shuffle; output payload is
    * outW·outH bytes regardless of input size — the standard
    * storage-shrink step before shipping training shards. */
  def resize(spark: SparkSession, assets: DataFrame,
      outW: Int = 8, outH: Int = 8): Dataset[ResizedAsset] = {
    import spark.implicits._
    assets.as[MediaAsset].map { a =>
      val px = DecodeStub.decode(a.media)
      val w = math.max(a.width, 1)
      val h = math.max((px.length + w - 1) / w, 1)
      val out = new Array[Byte](outW * outH)
      var oy = 0
      while (oy < outH) {
        var ox = 0
        while (ox < outW) {
          // source box [x0,x1) × [y0,y1) feeding output cell (ox,oy)
          val x0 = ox * w / outW; val x1 = math.max((ox + 1) * w / outW, x0 + 1)
          val y0 = oy * h / outH; val y1 = math.max((oy + 1) * h / outH, y0 + 1)
          var acc = 0L; var n = 0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val i = y * w + x
              if (i < px.length) { acc += px(i); n += 1 }
              x += 1
            }
            y += 1
          }
          out(oy * outW + ox) = (if (n == 0) 0 else (acc / n).toInt).toByte
          ox += 1
        }
        oy += 1
      }
      ResizedAsset(a.asset_id, out, a.format, outW, outH)
    }
  }

  /** Oracle-checkable resize digest: metadata plus the byte sum of the
    * resized payload (`luma_sum`), which depends on every output byte —
    * pure integer arithmetic over the input bytes, so a SQL engine can
    * recompute the whole box filter and verify the content (vs. an
    * engine-specific content hash, which is rows-only checkable). */
  def resizeSummary(spark: SparkSession, assets: DataFrame,
      outW: Int = 8, outH: Int = 8): DataFrame = {
    import spark.implicits._
    resize(spark, assets, outW, outH)
      .map(r => (r.asset_id, r.format, r.width, r.height,
        r.media.length, r.media.map(_ & 0xff).sum.toLong))
      .toDF("asset_id", "format", "width", "height", "n_bytes", "luma_sum")
  }

  /** Frame sampling: treat a video payload as a sequence of fixed-size
    * frames and keep every `stride`-th one (uniform temporal
    * subsampling — the standard video-to-training-frames step). Emits
    * one row per kept frame `(asset_id, frame_no, frame)` via a
    * per-partition iterator — rows stream out, the full frame list is
    * never materialized; no shuffle. `frameBytes` is the decoded frame
    * size (real media: width·height·channels from the container
    * header). */
  def frameSample(spark: SparkSession, assets: DataFrame,
      frameBytes: Int = 64, stride: Int = 4): DataFrame = {
    import spark.implicits._
    assets.as[MediaAsset].mapPartitions { it =>
      it.flatMap { a =>
        val nFrames = a.media.length / frameBytes
        (0 until nFrames).iterator
          .filter(_ % stride == 0)
          .map(f => (a.asset_id, f,
            java.util.Arrays.copyOfRange(a.media, f * frameBytes, (f + 1) * frameBytes)))
      }
    }.toDF("asset_id", "frame_no", "frame")
  }

  /** Perceptual-hash (average-hash) near-duplicate image candidates —
    * the image-side dedup tier every multimodal pipeline runs before
    * training (re-hosted thumbnails, recompressed copies, watermarked
    * variants survive byte-level dedup but collapse under aHash): each
    * asset is box-resized to 8×8, hashed to 64 bits (bit i set iff
    * pixel_i exceeds the thumbnail mean — computed as the EXACT
    * integer comparison `px_i·64 > Σpx`, no double rounding), and
    * near-hash pairs within `maxHamming` surface through the same
    * 16-bit-chunk pigeonhole blocking as `Dedup.simhashPairsPortable`
    * (sound for maxHamming ≤ 3; the require in the shared joiner
    * enforces it).
    *
    * IDENTICAL hashes collapse to one representative GROUP before the
    * join — this is load-bearing, not cosmetic: popular images (logos,
    * blank thumbnails, template banners) put millions of assets on ONE
    * hash value, and a pairwise join would emit |group|² rows for mass
    * that is really one exact-dup cluster (the first cut did exactly
    * that; the ScaleProbe trajectory went quadratic — 448M pairs at
    * 64×, 692 s — and this collapse restored linearity). Output rows
    * are representative pairs (a_id, b_id, hamming, n_a, n_b): the
    * pair stands for n_a·n_b asset pairs, and within-group exact dups
    * are the n ≥ 2 group sizes themselves (hamming 0 by definition,
    * never emitted pairwise).
    *
    * The decode inside `resize` is the stubbed codec seam — with a
    * real decoder this IS aHash image dedup; everything after the
    * thumbnail is engine arithmetic the oracle recomputes.
    *
    * Scale shape: hash = narrow per-partition map (no shuffle); the
    * group collapse is one map-combinable groupBy on the 64-bit hash;
    * candidates = the chunk-blocked self-join over DISTINCT hash
    * values (bounded by hash diversity, not corpus size); verify =
    * exact bit_count on the sliver; group sizes join back on the
    * representative key. */
  def imageDupCandidates(spark: SparkSession, assets: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    // hash = the native codegen expression over the codec seam's
    // thumbnail bytes (was a second typed Dataset.map pixel loop —
    // one encoder round-trip per asset; AHash64 fuses into the
    // projection that drains the seam)
    val hashed = resize(spark, assets).toDF()
      .select(col("asset_id"),
        graft.functions.AHash64.ahash64(col("media")).as("ahash"))
    // materialized ONCE (r18): the collapsed groups table has 4
    // consumers (the chunk-blocked pair join's two sides + the two
    // size joins) and Catalyst plans each as an independent
    // resize→hash→agg chain — the decode pass (the operator's whole
    // cost) ran 4× per invocation (4 × ~19 s executor time at sf0.1,
    // measured). The collapse output is the SMALL side by design
    // (one row per distinct hash), so pinning it is scale-safe.
    val groups = Pin.eager(hashed.groupBy(col("ahash"))
      .agg(min(col("asset_id")).as("rep_id"),
        count(lit(1)).as("n_members")))
    val pairs = Dedup.simhashPairsFrom(
      groups.select(col("rep_id").as("doc_id"), col("ahash").as("simhash")),
      maxHamming)
    val sizes = groups.select(col("rep_id"), col("n_members"))
    pairs
      .join(sizes.toDF("a_id", "n_a"), "a_id")
      .join(sizes.toDF("b_id", "n_b"), "b_id")
      .select(col("a_id"), col("b_id"), col("hamming"),
        col("n_a"), col("n_b"))
  }

  /** VERIFIED image dedup pairs — the image-side analogue of
    * `Dedup.dedupCorpusVerified`'s sketch-recall → exact-precision
    * chain, with the hash-collapse blind spot MEASURED instead of
    * silently trusted:
    *
    *  1. identical-hash group collapse (the quadratic-mass protection
    *     `imageDupCandidates` established — retained unchanged; a
    *     first cut collapsed on exact thumbnails instead and
    *     ScaleProbe measured the pair space going quadratic, 75M rows
    *     / 237 s at 64× vs flat here: near-identical-but-distinct
    *     thumbnails are plentiful in any real corpus, and only the
    *     hash collapse bounds their pair mass);
    *  2. WITHIN each group, a LINEAR verification pass — every member
    *     thumbnail against its group representative, Σ|cell diffs| ≤
    *     `maxSumDiff` — whose per-group count rides the output as
    *     `n_a_verified`/`n_b_verified`: an aHash bit only says
    *     above/below the mean, so equal-brightness-pattern
    *     different-contrast images collide in hash; this audit column
    *     is where that collision shows up (n_verified < n_members);
    *  3. ACROSS groups, the chunk-blocked candidate pairs verify
    *     rep-vs-rep with the same integer predicate — sketch false
    *     positives (hamming ≤ 3, different content) are rejected
    *     before they merge asset groups.
    *
    * Scale shape: one cached resize feeds hashing and verification;
    * the member pass is linear (each asset joins its rep once); the
    * O(64) diff runs on members + the candidate pair sliver only.
    * Typed maps sit at the codec seam (house rule). */
  def imageDupVerified(spark: SparkSession, assets: DataFrame,
      maxHamming: Int = 3, maxSumDiff: Long = 1024L): DataFrame = {
    import spark.implicits._
    // The three shared frames are each materialized ONCE, eagerly
    // (r18): a lazy .cache() did NOT dedup the decode — AQE
    // materializes the px/groups/audit branches concurrently, the
    // branches race before any cache partition lands, and the
    // decode+hash pass ran 4× per invocation (4 × ~20 s executor time
    // at sf0.1, measured; 12× cold-wall win from pinning). All three
    // are lightweight proxies of the corpus (64-byte thumbnail + hash
    // per asset; 64 ints per asset; one row per distinct hash), so
    // pinning is scale-safe — the heavy media bytes are never
    // materialized.
    val rs = Pin.eager(resize(spark, assets).toDF()
      .select(col("asset_id"), col("media"),
        graft.functions.AHash64.ahash64(col("media")).as("ahash")))
    val px = Pin.eager(rs.select(col("asset_id"), col("media"))
      .as[(Long, Array[Byte])]
      .map { case (id, m) => (id, m.map(b => b & 0xff)) }
      .toDF("asset_id", "px"))
    val groups = Pin.eager(rs.groupBy(col("ahash"))
      .agg(min(col("asset_id")).as("rep_id"), count(lit(1)).as("n_members")))
    def mad(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => abs(x - y)),
        lit(0L), (acc, v) => acc + v.cast("long"))
    // linear member-vs-rep audit: how much of each group's collapsed
    // mass actually verifies against its representative
    val audit = rs.select(col("ahash"), col("asset_id"))
      .join(groups, "ahash")
      .join(px.toDF("asset_id", "pm"), "asset_id")
      .join(px.toDF("rep_id", "pr"), "rep_id")
      .groupBy(col("rep_id"))
      .agg(min(col("n_members")).as("n_members"),
        sum(when(mad(col("pm"), col("pr")) <= maxSumDiff, 1L)
          .otherwise(0L)).as("n_verified"))
    val pairs = Dedup.simhashPairsFrom(
      groups.select(col("rep_id").as("doc_id"), col("ahash").as("simhash")),
      maxHamming)
    pairs
      .join(audit.toDF("a_id", "n_a", "n_a_verified"), "a_id")
      .join(audit.toDF("b_id", "n_b", "n_b_verified"), "b_id")
      .join(px.toDF("a_id", "pa"), "a_id")
      .join(px.toDF("b_id", "pb"), "b_id")
      .withColumn("sum_abs_diff", mad(col("pa"), col("pb")))
      .where(col("sum_abs_diff") <= maxSumDiff)
      .select(col("a_id"), col("b_id"), col("hamming"),
        col("sum_abs_diff"), col("n_a"), col("n_a_verified"),
        col("n_b"), col("n_b_verified"))
  }

  // ---- real-codec tier (round 12: the codec seam, closed) ----------
  //
  // ImageCodec decodes genuine container bytes — 24-bit BMP (header
  // parse, BGR order, 4-byte row padding, bottom-up rows) and binary
  // PPM — so this tier exercises the REAL decode path end-to-end:
  // synthesize deterministic images, serialize them through a real
  // format, parse them back, and compute pixel statistics the DuckDB
  // gate re-derives from first principles. A wrong stride, a BGR/RGB
  // swap, or a missed bottom-up flip all change `luma_wsum` (position-
  // weighted) and hash-fail the gate.

  /** Deterministic synthetic image for doc text: width 32 (the 2-D
    * fixture rule — n_chars-wide layouts collapse to single-row
    * thumbnails), height ceil(len/32); pixel i (top-down row-major)
    * draws channels from the text bytes with wrap-around so the full
    * rectangle is covered with no zero-pad special case:
    * r = b(i mod len), g = (r + x) mod 256, b = (r + y) mod 256 —
    * channels deliberately differ so a BGR/RGB confusion in either
    * codec direction changes the luma. */
  private[graft] def synthImage(text: String): ImageCodec.Image = {
    val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val w = 32
    val h = math.max((tb.length + w - 1) / w, 1)
    val argb = new Array[Int](w * h)
    var i = 0
    while (i < argb.length) {
      val bi = tb(i % tb.length) & 0xff
      val x = i % w; val y = i / w
      argb(i) = (bi << 16) | (((bi + x) % 256) << 8) | ((bi + y) % 256)
      i += 1
    }
    ImageCodec.Image(w, h, argb)
  }

  case class ImageAsset(asset_id: Long, media: Array[Byte], format: String)

  /** documents → real image payloads: even doc_ids serialize as BMP,
    * odd as PPM (both decoders exercised on half the corpus each).
    * Narrow typed map, no shuffle. */
  def toImageAssets(spark: SparkSession, docs: DataFrame): Dataset[ImageAsset] = {
    import spark.implicits._
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val img = synthImage(text)
        if (id % 2 == 0) ImageAsset(id, ImageCodec.encodeBmp(img), "bmp")
        else ImageAsset(id, ImageCodec.encodePpm(img), "ppm")
      }
  }

  /** Decode statistics over real container bytes: the gate entry that
    * proves the decoder. `luma_wsum` = Σ (i+1)·luma_i over top-down
    * row-major pixel order is position-sensitive — row flips, stride
    * errors, and channel swaps cannot cancel out of it. Per-partition
    * decode, no shuffle; the decoded image lives only inside the
    * task. */
  def decodeStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    toImageAssets(spark, docs).map { a =>
      val img = ImageCodec.decode(a.media)
      var lsum = 0L; var wsum = 0L
      var i = 0
      while (i < img.argb.length) {
        val l = ImageCodec.lumaOf(img.argb(i))
        lsum += l; wsum += (i + 1).toLong * l
        i += 1
      }
      (a.asset_id, a.format, img.width, img.height,
        img.argb.length.toLong, lsum, wsum)
    }.toDF("asset_id", "format", "width", "height", "n_px",
      "luma_sum", "luma_wsum")
  }

  /** Row shape of `decodeStatsRobust`: stats columns are null when the
    * payload failed to decode (`ok = false`). */
  case class RobustStats(asset_id: Long, format: String, ok: Boolean,
    width: Option[Int], height: Option[Int], n_px: Option[Long],
    luma_sum: Option[Long], luma_wsum: Option[Long])

  /** The dirty-corpus decode tier (round 13): all THREE container
    * formats (BMP / P6 PPM / P5 PGM by doc_id mod 3 — the grayscale
    * P5 arm is luma-exact, see `ImageCodec.encodePgm`) with
    * deterministic malformed payloads injected: doc_id ≡ 0 (mod 7)
    * truncates the container at half its bytes (raster — or header —
    * cut short), doc_id ≡ 1 (mod 7) corrupts the magic byte. Malformed
    * rows survive as `ok = false` with NULL stats instead of failing
    * the task (`ImageCodec.decodeOpt`) — the production failure mode a
    * 100 TB asset scan hits on byte one. Same narrow per-task map as
    * `decodeStats`: no shuffle, one decoded image in memory at a time. */
  def decodeStatsRobust(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val img0 = synthImage(text)
        val m3 = (id % 3).toInt
        val enc =
          if (m3 == 0) ImageCodec.encodeBmp(img0)
          else if (m3 == 1) ImageCodec.encodePpm(img0)
          else ImageCodec.encodePgm(img0)
        val fmt = if (m3 == 0) "bmp" else if (m3 == 1) "ppm" else "pgm"
        val m7 = (id % 7).toInt
        val media =
          if (m7 == 0) java.util.Arrays.copyOf(enc, enc.length / 2)
          else if (m7 == 1) { val b = enc.clone(); b(0) = 'X'.toByte; b }
          else enc
        ImageCodec.decodeOpt(media) match {
          case Some(img) =>
            var lsum = 0L; var wsum = 0L; var i = 0
            while (i < img.argb.length) {
              val l = ImageCodec.lumaOf(img.argb(i))
              lsum += l; wsum += (i + 1).toLong * l
              i += 1
            }
            RobustStats(id, fmt, ok = true, Some(img.width),
              Some(img.height), Some(img.argb.length.toLong),
              Some(lsum), Some(wsum))
          case None =>
            RobustStats(id, fmt, ok = false, None, None, None, None, None)
        }
      }.toDF()
  }

  /** Row shape of `decodeStatsImageIo`: `luma_sum` is exact for the
    * lossless PNG arm and NULL for JPEG; `luma_close` is the lossy
    * arm's tolerance verdict. */
  case class ImageIoStats(asset_id: Long, format: String, ok: Boolean,
    width: Option[Int], height: Option[Int], n_px: Option[Long],
    luma_sum: Option[Long], luma_close: Option[Boolean])

  /** Compressed-format decode tier (round 14, the r13 verdict's №2
    * gap): the same deterministic synthetic image per doc serialized
    * through REAL compressed containers via JDK ImageIO — PNG for even
    * ids, JPEG for odd — with the robust tier's corruption injection
    * (doc_id ≡ 0 mod 7 truncates at half, ≡ 1 mod 7 corrupts the
    * magic). Oracle strategy per arm:
    *  - PNG is LOSSLESS: decoded pixels must be bit-identical to the
    *    synthesized ones, so the exact integer `luma_sum` is emitted
    *    and the DuckDB twin re-derives it from the text formula —
    *    any codec defect hash-fails.
    *  - JPEG is LOSSY (decoder-deterministic, not spec-exact), so the
    *    entry emits `luma_close` = |decoded mean luma − source mean
    *    luma| <= 4 instead of raw sums — true for any sane codec
    *    (JPEG preserves DC averages far tighter than ±4), hash-stable
    *    across JREs, and still falsified by channel-order or row-order
    *    defects, which shift the mean by whole channel deltas.
    * Scale shape: narrow per-task typed map, one encoded+decoded image
    * in memory at a time, no shuffle — identical to the BMP/PPM tier. */
  def decodeStatsImageIo(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val img0 = synthImage(text)
        val fmt = if (id % 2 == 0) "png" else "jpeg"
        val enc = ImageCodec.encodeImageIo(img0, fmt)
        val m7 = (id % 7).toInt
        val media =
          if (m7 == 0) java.util.Arrays.copyOf(enc, enc.length / 2)
          else if (m7 == 1) { val b = enc.clone(); b(0) = 'X'.toByte; b }
          else enc
        ImageCodec.decodeOpt(media) match {
          case Some(img) =>
            var lsum = 0L; var i = 0
            while (i < img.argb.length) {
              lsum += ImageCodec.lumaOf(img.argb(i)); i += 1
            }
            var src = 0L; i = 0
            while (i < img0.argb.length) {
              src += ImageCodec.lumaOf(img0.argb(i)); i += 1
            }
            if (fmt == "png")
              ImageIoStats(id, fmt, ok = true, Some(img.width),
                Some(img.height), Some(img.argb.length.toLong),
                Some(lsum), Some(lsum == src))
            else {
              val n = img.argb.length
              val close = n == img0.argb.length &&
                math.abs(lsum - src).toDouble / n <= 4.0
              ImageIoStats(id, fmt, ok = true, Some(img.width),
                Some(img.height), Some(n.toLong), None, Some(close))
            }
          case None =>
            ImageIoStats(id, fmt, ok = false, None, None, None, None, None)
        }
      }.toDF()
  }

  /** Deterministic synthetic audio clip for doc text — the audio
    * analogue of `synthImage`: `2·len` frames at 16 kHz, mono for even
    * ids / interleaved stereo for odd; sample at frame i, channel c is
    * `((b(i mod len)·257 + i·31 + c·8191) mod 65536) − 32768` — pure
    * integer arithmetic the DuckDB twin re-derives byte-for-byte, with
    * the byte term making the waveform text-dependent, the `i` term
    * sweeping phase, and the channel term decorrelating stereo (an
    * interleaving defect in either codec direction changes every
    * statistic). */
  private[graft] def synthClip(text: String, channels: Int): AudioCodec.Clip = {
    val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val frames = 2 * tb.length
    val samples = new Array[Short](frames * channels)
    var j = 0
    while (j < samples.length) {
      val i = j / channels; val c = j % channels
      val bi = tb(i % tb.length) & 0xff
      samples(j) = (((bi * 257 + i * 31 + c * 8191) % 65536) - 32768).toShort
      j += 1
    }
    AudioCodec.Clip(channels, 16000, samples)
  }

  /** Deterministic synthetic multi-frame clip for doc text — the VIDEO
    * analogue of `synthImage`: 4 + (len mod 5) grayscale frames of
    * 32×8 (above the JDK GIF writer's sub-64-pixel quirk), frame f
    * pixel i = gray `(b((i + 13·f) mod len) + 7·f) mod 256` — the
    * 13·f byte shift and the +7·f brightness drift make every frame
    * distinct, so a frame-order or frame-count defect in either
    * direction changes the sampled statistics. */
  private[graft] def synthFrames(text: String): Seq[ImageCodec.Image] = {
    val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = 4 + (tb.length % 5)
    (0 until n).map { f =>
      val argb = Array.tabulate(32 * 8) { i =>
        val g = ((tb((i + 13 * f) % tb.length) & 0xff) + 7 * f) % 256
        (g << 16) | (g << 8) | g
      }
      ImageCodec.Image(32, 8, argb)
    }
  }

  /** Video frame sampling over a REAL multi-frame container (round 14
    * — the third modality): every doc synthesizes a deterministic
    * grayscale animation, serializes it as one animated GIF (lossless:
    * 256 grays fit the palette exactly), decodes the frames back
    * through ImageIO's sequence reader, and emits every `stride`-th
    * frame's exact luma sum — the keyframe-extraction shape of a video
    * pipeline. The DuckDB twin re-derives each sampled frame's sum
    * from the formula, so frame-order, frame-count and palette defects
    * hash-fail. Narrow per-task typed flatMap: one decoded animation
    * in memory at a time, no shuffle. */
  def videoFrameLuma(spark: SparkSession, docs: DataFrame,
      stride: Int = 2): DataFrame = {
    import spark.implicits._
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val frames = ImageCodec.decodeGifFrames(
          ImageCodec.encodeGifAnim(synthFrames(text)))
        frames.zipWithIndex.collect {
          case (img, f) if f % stride == 0 =>
            var lsum = 0L; var i = 0
            while (i < img.argb.length) {
              lsum += ImageCodec.lumaOf(img.argb(i)); i += 1
            }
            (id, f, frames.length, img.width, img.height, lsum)
        }
      }.toDF("asset_id", "frame_no", "n_frames", "width", "height",
        "luma_sum")
  }

  /** Row shape of `audioStats`: stats are NULL when decode failed. */
  case class AudioStats(asset_id: Long, channels_exp: Int, ok: Boolean,
    channels: Option[Int], sample_rate: Option[Int], n_samples: Option[Long],
    amp_sum: Option[Long], abs_sum: Option[Long], max_abs: Option[Int],
    zero_cross: Option[Long])

  /** Audio decode tier (round 14 — the second real modality): every
    * doc synthesizes a deterministic PCM waveform, serializes through
    * a REAL WAV container (mono for even ids, stereo for odd — both
    * channel layouts exercised), takes the robust tier's corruption
    * injection (doc_id ≡ 0 mod 7 truncates at half, ≡ 1 mod 7
    * corrupts the magic), and decodes back through the permissive
    * path. Exact integer statistics over the DECODED interleaved
    * stream — Σs, Σ|s|, max|s|, sign crossings — so any chunk-walk,
    * endianness or interleaving defect in either codec direction
    * hash-fails against the twin's first-principles rederivation.
    * Scale shape: narrow per-task typed map, one clip in memory at a
    * time, no shuffle. */
  def audioStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val channels = if (id % 2 == 0) 1 else 2
        val enc = AudioCodec.encodeWav(synthClip(text, channels))
        val m7 = (id % 7).toInt
        val media =
          if (m7 == 0) java.util.Arrays.copyOf(enc, enc.length / 2)
          else if (m7 == 1) { val b = enc.clone(); b(0) = 'X'.toByte; b }
          else enc
        AudioCodec.decodeOpt(media) match {
          case Some(clip) =>
            var amp = 0L; var abs = 0L; var mx = 0; var zc = 0L
            var j = 0
            while (j < clip.samples.length) {
              val s = clip.samples(j).toInt
              amp += s; abs += math.abs(s)
              if (math.abs(s) > mx) mx = math.abs(s)
              if (j > 0 && ((s < 0) != (clip.samples(j - 1) < 0))) zc += 1
              j += 1
            }
            AudioStats(id, channels, ok = true, Some(clip.channels),
              Some(clip.sampleRate), Some(clip.samples.length.toLong),
              Some(amp), Some(abs), Some(mx), Some(zc))
          case None =>
            AudioStats(id, channels, ok = false, None, None, None, None,
              None, None, None)
        }
      }.toDF()
  }

  /** Per-window energy over the decoded interleaved stream — the
    * frame-level feature pass of an audio pipeline (VAD, loudness
    * normalization, silence trimming all start here): non-overlapping
    * 256-sample windows, energy = Σ s² as an exact long. Emitted as
    * (asset_id, frame_idx, energy) rows — the explode keeps the op a
    * scan-side projection; at 100 TB the only exchange is whatever the
    * CONSUMER does with the frames. Clean encode (no corruption arm —
    * the windowing is the subject; the dirty path is `audioStats`). */
  def audioFrameEnergy(spark: SparkSession, docs: DataFrame,
      window: Int = 256): DataFrame = {
    import spark.implicits._
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val channels = if (id % 2 == 0) 1 else 2
        val clip = AudioCodec.decodeWav(
          AudioCodec.encodeWav(synthClip(text, channels)))
        val full = clip.samples.length / window
        (0 until full).map { w =>
          var e = 0L; var j = w * window
          val end = j + window
          while (j < end) {
            val s = clip.samples(j).toLong; e += s * s; j += 1
          }
          (id, w, e)
        }
      }.toDF("asset_id", "frame_idx", "energy")
  }

  /** Cross-modality training manifest (round 14) — the row shape a
    * multimodal training job actually consumes: ONE row per document
    * joining the image tier's robust decode (BMP/PPM/PGM by the mod-3
    * rule, corruption by mod-7), the audio tier's decoded-stream
    * stats, and the video tier's frame count. Each arm keeps its own
    * quarantine semantics (a corrupt image nulls the image columns,
    * nothing else), so a downstream packer can filter per modality.
    * Scale shape: three narrow typed maps joined on the id — at 100 TB
    * the only exchange is the 3-way id join, and every arm's decode
    * stays scan-side. */
  def multimodalManifest(spark: SparkSession, docs: DataFrame): DataFrame = {
    val img = decodeStatsRobust(spark, docs)
      .select(col("asset_id"), col("ok").as("img_ok"),
        col("luma_sum").as("img_luma_sum"))
    val aud = audioStats(spark, docs)
      .select(col("asset_id"), col("ok").as("aud_ok"),
        col("abs_sum").as("aud_abs_sum"))
    val vid = videoFrameLuma(spark, docs)
      .groupBy(col("asset_id"))
      .agg(first(col("n_frames")).as("n_frames"),
        count(lit(1)).cast("int").as("n_sampled"))
    img.join(aud, "asset_id").join(vid, "asset_id")
  }

  /** aHash near-dup candidates over DECODED real images — the full
    * production chain on real pixel bytes: synthesize (plus the
    * injected near-variant per doc), serialize through BMP/PPM,
    * decode back, collapse to luma, then the existing thumbnail →
    * aHash → group-collapse → chunk-blocked pair chain unchanged.
    * The decode-to-luma step is a narrow typed map; everything
    * downstream keeps `imageDupCandidates`' scale shape. */
  def decodedDupCandidates(spark: SparkSession, docs: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val base = docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
    val variants = base.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      expr("concat(upper(substring(text, 1, 12)), substring(text, 13))")
        .as("text"))
    val lumaAssets = toImageAssets(spark, base.unionByName(variants))
      .map { a =>
        val (w, h, luma) = ImageCodec.decodeLuma(a.media)
        (a.asset_id, luma, a.format, w, h)
      }.toDF("asset_id", "media", "format", "width", "height")
    imageDupCandidates(spark, lumaAssets, maxHamming)
  }
}
