package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) pipeline plumbing.
  *
  * The container has no media codecs, so the DECODE STEP IS A STUB
  * ([[DeterministicFakeDecoder]]) — but everything Spark-side is real
  * and tested: the opaque-binary + typed-metadata schema, the
  * per-partition batched execution shape (the Scala analogue of a
  * batched pandas UDF: decode cost amortized over `batchSize` records,
  * no per-row JVM<->codec churn), and the feature-vector output
  * contract that downstream similarity search consumes.
  *
  * Scale design: decode/featurize is a map-only pass — linear in input
  * splits, no shuffle; `repartition(n)` upstream controls decode
  * parallelism when blobs are few-but-huge (video) vs many-but-small
  * (thumbnails).
  */
object Multimodal {

  // Memory-backed ImageIO streams, scoped PER OPERATION (r22, ADVICE):
  // ImageIO's default stream cache backs every read/write with a
  // synchronized temp FILE — under the repartitioned 32-thread
  // encode/decode the lock + file churn ballooned the image chain's
  // executor task time ~8x (9.9 -> 77 s measured at sf0.1, r21). The
  // r21 fix was a JVM-global `ImageIO.setUseCache(false)` in this
  // object's initializer — a mutable global that also silently changed
  // co-resident code and relied on initialization order. Both call
  // sites ([[encodePng]], [[ImageIODecoder]]) now hand ImageIO an
  // explicit MemoryCacheImageInput/OutputStream, which bypasses the
  // file cache for exactly these operations and nothing else; blobs
  // here are KB-sized, so the memory trade is nil.

  case class MediaRecord(
      id: Long,
      modality: String,
      blob: Array[Byte],
      source: String)

  case class MediaFeatures(
      id: Long,
      modality: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      features: Array[Float])

  case class Decoded(width: Int, height: Int, nFrames: Int, payload: Array[Byte])

  /** The pluggable decode seam. A production deployment binds an
    * actual codec here; the BATCH signature is the real contract — a
    * codec amortizes model/context setup across the whole batch (the
    * same reason pandas UDFs are batched), so the per-record method is
    * only the default degenerate case.
    */
  trait MediaDecoder extends Serializable {
    def decode(modality: String, blob: Array[Byte]): Decoded
    def decodeBatch(batch: Seq[(String, Array[Byte])]): Seq[Decoded] =
      batch.map { case (m, b) => decode(m, b) }
  }

  /** STUB decoder — deterministic fake standing in for the absent
    * image/audio libraries. "Dimensions" derive from the blob hash,
    * the "decoded payload" is the blob itself; stable across runs so
    * tests can pin outputs.
    */
  object DeterministicFakeDecoder extends MediaDecoder {
    override def decode(modality: String, blob: Array[Byte]): Decoded = {
      val h = java.util.Arrays.hashCode(blob)
      val w = 16 + math.floorMod(h, 16)
      val hgt = 16 + math.floorMod(h >> 8, 16)
      val frames = if (modality == "video") 1 + math.floorMod(h >> 16, 8) else 1
      Decoded(w, hgt, frames, blob)
    }
  }

  /** REAL image decoder over the in-JDK codec (`javax.imageio`, public
    * `java.desktop` API — zero external deps, works headless): PNG or
    * JPEG bytes → BufferedImage → (width, height, per-pixel luminance
    * bytes). Luminance = integer mean of the raster bands (exact for
    * the grayscale fixtures; an RGBA source would fold alpha in — bind
    * a weighted-RGB variant for photographic corpora). Runs inside the
    * same batched [[extractFeatures]] seam as any production codec.
    */
  object ImageIODecoder extends MediaDecoder {
    override def decode(modality: String, blob: Array[Byte]): Decoded = {
      // explicit memory-backed stream (not ImageIO.read(InputStream),
      // which consults the global use-cache flag); read(ImageInputStream)
      // closes the stream itself
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(blob)))
      require(img != null, s"undecodable $modality blob (${blob.length} bytes)")
      val w = img.getWidth
      val h = img.getHeight
      val raster = img.getRaster
      val bands = raster.getNumBands
      val out = new Array[Byte](w * h)
      // NOTE (r22, measured wash): a bulk per-band getSamples spelling
      // of this loop was A/B'd single-JVM on the exact synthetic PNG
      // population (tools/DecodeBench, outputs byte-equal) — the whole
      // pixel loop is ~0.2 s for 5,000 images either way; the image
      // chain's cost is the PNG codec round-trip (reader lookup,
      // inflate/deflate), not this loop. Kept in the simpler spelling.
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var s = 0
          var b = 0
          while (b < bands) { s += raster.getSample(x, y, b); b += 1 }
          out(y * w + x) = (s / bands).toByte
          x += 1
        }
        y += 1
      }
      Decoded(w, h, 1, out)
    }
  }

  /** Grayscale PNG encode of a generated pixel pattern (row-major
    * index -> 0..255 value) via `javax.imageio`. Executor-side work:
    * the synthetic-image corpus is built distributed, never on the
    * driver.
    */
  def encodePng(width: Int, height: Int, pixel: Int => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        raster.setSample(x, y, 0, pixel(y * width + x) & 0xff)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    // explicit memory-backed stream (see the object note): write(…,
    // OutputStream) would route through the global-use-cache factory
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try require(javax.imageio.ImageIO.write(img, "png", ios),
      "no ImageIO writer claimed the PNG image")
    finally ios.close() // flushes the cache buffer into bos
    bos.toByteArray
  }

  /** Deterministic synthetic image corpus keyed off the documents
    * table: per doc a real PNG blob (dims and pixels are pure
    * functions of doc_id — width 16+id%16, height 16+(id/16)%16,
    * pixel(i) = (id*31+i)%256), so an arithmetic oracle can predict
    * everything a REAL decode recovers. Map-only; blobs are encoded on
    * executors.
    */
  def syntheticImages(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    spreadIds(spark, docs).as[(Long, String)]
      .map { case (id, src) =>
        val w = (16 + id % 16).toInt
        val h = (16 + (id / 16) % 16).toInt
        MediaRecord(id, "image", encodePng(w, h, i => ((id * 31 + i) % 256).toInt), src)
      }
  }

  /** The (doc_id, source) projection spread across the session's full
    * parallelism BEFORE the per-record encode/decode maps (r21):
    * documents.parquet is a sub-MB single scan split at every test
    * scale, so without this every synthetic-media pipeline — PNG
    * encode + ImageIO decode, PCM synth, frame generation — ran its
    * whole per-record compute in ONE task (measured: the image-chain
    * carrier at 8.6 s wall on 9.9 s task — parallelism 1.15 on 32
    * cores). The exchange moves two tiny columns; the expensive blob
    * work happens after it. Round-robin (not hash-of-id) for an even
    * spread; Spark's sort-before-repartition keeps it retry-safe; the
    * partition count follows the session's parallelism, not a local
    * constant.
    */
  private def spreadIds(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long"), col("source"))
      .repartition(spark.sparkContext.defaultParallelism)

  /** PCM "decoder": an 8-bit waveform blob IS its decoded payload —
    * width carries the sample count, height 1 (audio is the 1-D
    * degenerate case of the image contract, which is exactly why
    * [[resize]] doubles as the resampler below). Arithmetic-trivial
    * by design so the oracle predicts everything.
    */
  object PcmDecoder extends MediaDecoder {
    override def decode(modality: String, blob: Array[Byte]): Decoded =
      Decoded(blob.length, 1, 1, blob)
  }

  /** Deterministic synthetic audio corpus keyed off the documents
    * table: per doc a fake 8-bit PCM blob — n_samples = 256 + id%512,
    * sample(i) = (id*17 + i*7) % 256 — pure functions of doc_id, so
    * an arithmetic oracle predicts the resampled histogram exactly
    * (the [[syntheticImages]] stance for the audio modality).
    */
  def syntheticAudio(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    spreadIds(spark, docs).as[(Long, String)]
      .map { case (id, src) =>
        val n = (256 + id % 512).toInt
        MediaRecord(id, "audio",
          Array.tabulate(n)(i => ((id * 17 + i * 7) % 256).toByte), src)
      }
  }

  /** Batched per-partition RESAMPLE (to num/den of the source rate,
    * nearest-neighbor — [[resize]] on the 1-D payload) + featurize
    * for audio-modality records. Same mapPartitions seam and 16-bin
    * histogram contract as [[extractFeatures]]; the emitted `width`
    * is the post-resample sample count.
    */
  def resampleFeatures(
      ds: Dataset[MediaRecord],
      num: Int,
      den: Int,
      decoder: MediaDecoder = PcmDecoder,
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    require(num >= 1 && den >= 1, s"bad resample ratio $num/$den")
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val decoded = decoder.decodeBatch(batch.map(r => (r.modality, r.blob)))
          .map { d =>
            val dst = math.max(1L,
              d.payload.length.toLong * num / den).toInt
            resize(d, dst, 1)
          }
        batch.zip(decoded).map { case (r, d) =>
          val hist = new Array[Float](16)
          d.payload.foreach(b => hist((b & 0xff) >> 4) += 1f)
          val n = math.max(d.payload.length, 1).toFloat
          MediaFeatures(
            r.id, r.modality, r.blob.length.toLong,
            d.width, d.height, d.nFrames,
            hist.map(_ / n))
        }
      }
    }
  }

  /** Deterministic nearest-neighbor "resize" of a decoded payload to
    * target dimensions — the byte-level stand-in for the image resize
    * a codec-backed deployment slots between decode and featurize.
    * Source indexes follow exact NN resampling (src = i*len/dstLen),
    * payload length rescales with the pixel-count ratio.
    */
  def resize(d: Decoded, targetW: Int, targetH: Int): Decoded = {
    if (d.payload.isEmpty) return Decoded(targetW, targetH, d.nFrames, d.payload)
    val srcPixels = math.max(1L, d.width.toLong * d.height)
    val dstLen = math.max(1L,
      d.payload.length.toLong * (targetW.toLong * targetH) / srcPixels).toInt
    val out = Array.tabulate(dstLen)(i =>
      d.payload(((i.toLong * d.payload.length) / dstLen).toInt))
    Decoded(targetW, targetH, d.nFrames, out)
  }

  /** Batched per-partition decode [+ resize] + featurize (the
    * mapInPandas shape). The 16-bin byte histogram is the
    * deterministic stand-in for a model-based feature extractor.
    */
  def extractFeatures(
      ds: Dataset[MediaRecord],
      decoder: MediaDecoder = DeterministicFakeDecoder,
      batchSize: Int = 64,
      resizeTo: Option[(Int, Int)] = None): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val decoded = decoder.decodeBatch(batch.map(r => (r.modality, r.blob)))
          .map(d => resizeTo.fold(d) { case (w, h) => resize(d, w, h) })
        batch.zip(decoded).map { case (r, d) =>
          val hist = new Array[Float](16)
          d.payload.foreach(b => hist((b & 0xff) >> 4) += 1f)
          val n = math.max(d.payload.length, 1).toFloat
          MediaFeatures(
            r.id, r.modality, r.blob.length.toLong,
            d.width, d.height, d.nFrames,
            hist.map(_ / n))
        }
      }
    }
  }

  /** Perceptual AVERAGE-HASH (aHash) of each media record: decode,
    * NN-resize to 8×8, threshold each of the 64 resampled pixels
    * against the grid mean (exact integer comparison p·64 > Σp — no
    * float mean), pack the bits MSB-first into a 16-hex-char key.
    * Images that differ by scale or mild brightness noise share a
    * key; the downstream dedup is then the exact-hash groupBy — the
    * image-side mirror of the text pipeline's md5 tier, with the
    * same 100 TB shape (map-only hashing; one shuffle on a 16-char
    * key). Batched per-partition like [[extractFeatures]] (the
    * mapInPandas seam).
    */
  def aHash(
      ds: Dataset[MediaRecord],
      decoder: MediaDecoder = DeterministicFakeDecoder,
      batchSize: Int = 64): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val decoded = decoder.decodeBatch(batch.map(r => (r.modality, r.blob)))
          .map(d => resize(d, 8, 8))
        batch.zip(decoded).map { case (r, d) =>
          val v = d.payload.map(_ & 0xff)
          val s = v.foldLeft(0L)(_ + _)
          val sb = new java.lang.StringBuilder(v.length / 4)
          var acc = 0L // the same bits packed MSB-first into one long
          var k = 0
          while (k < v.length / 8) {
            var b = 0
            var j = 0
            while (j < 8) {
              b = (b << 1) | (if (v(8 * k + j).toLong * v.length > s) 1 else 0)
              j += 1
            }
            sb.append(f"$b%02x")
            acc = (acc << 8) | b
            k += 1
          }
          (r.id, sb.toString, acc)
        }
      }
    }.toDF("doc_id", "ahash", "abits")
  }

  /** Near-duplicate IMAGE pairs by Hamming distance on the aHash —
    * the perceptual analogue of the text simhash tier, and it IS the
    * text machinery: [[graft.pipeline.Dedup.simhashPairs64From]] run
    * on the packed 64-bit hash (8×8-bit banded equi-join, exhaustive
    * to hamming ≤ 7 by pigeonhole — never all-pairs).
    */
  def aHashPairs(
      hashes: DataFrame, maxHamming: Int = 7): DataFrame =
    Dedup.simhashPairs64From(
      hashes.select(col("doc_id"), col("abits").as("simhash")),
      maxHamming, bands = 8)

  /** Deterministic synthetic VIDEO corpus keyed off the documents
    * table, built so near-duplicate structure is REAL: docs group into
    * series of four (series = doc_id / 4), each series owns a pool of
    * 11 source frames, and variant v = doc_id % 4 takes the 8-frame
    * sliding window starting at v — the "edits of one source" shape
    * (re-cuts sharing most of their footage) that frame-fingerprint
    * dedup exists to catch. Variants d apart share 8−d of their 8+d
    * union frames (Jaccard 7/9, 3/5, 5/11 at d = 1, 2, 3 — the 0.5
    * threshold keeps d <= 2). Each frame is a 64-byte 8-bit sawtooth,
    * sample(i) = (off + stride·i) % 256 with off = series*29 + s*17
    * and stride = 1 + 2·((series*13 + s*5) % 64) — TWO frame-keyed
    * parameters, not offset alone: an offset-only family collapses to
    * 256 distinct waveforms corpus-wide, every hash blows the
    * consumer's df-cap at sf0.1, and the dedup goes vacuous (measured
    * — 0 pairs). The 256·64 (offset, stride) family keeps expected
    * frame-hash df bounded (~24 at sf0.1) while staying pure doc_id
    * arithmetic the oracle predicts ([[syntheticImages]]' stance).
    * The family is periodic: series 256 apart reuse identical frame
    * waveforms, so past 1024 docs the corpus also contains EXACT
    * re-uploads (Jaccard-1.0 alias pairs) and near-dups across aliased
    * series — the other real video-dedup population, found by the same
    * hash join (sf0.1: 31,398 pairs = in-series re-cuts + alias
    * re-uploads).
    * Frame records pack (doc_id, f) into id = doc_id*16 + f;
    * frames-per-video < 16 keeps it reversible. Map-only; frames are
    * generated on executors.
    */
  def syntheticVideoFrames(
      spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    spreadIds(spark, docs).as[(Long, String)]
      .flatMap { case (id, src) =>
        val series = id / 4
        (0 until 8).map { f =>
          val s = id % 4 + f
          val stride = 1 + 2 * ((series * 13 + s * 5) % 64)
          val bytes = Array.tabulate(64)(i =>
            ((series * 29 + s * 17 + stride * i) % 256).toByte)
          MediaRecord(id * 16 + f, "video", bytes, src)
        }
      }
  }

  /** Frame-fingerprint VIDEO near-dup: Jaccard over each video's SET
    * of frame aHashes — the frame-sampling dedup a video corpus runs
    * (near-dup videos are re-cuts/re-encodes sharing most frames, and
    * per-frame perceptual hashes survive re-encoding where byte hashes
    * don't). Input is [[aHash]] output over frame records with
    * id = video*16 + frame.
    *
    * Scale shape: sets and sizes are one groupBy each (map-side
    * combine); candidate pairs come from an equi-join on the frame
    * hash, DF-CAPPED at `dfCap` — a frame shared by more videos than
    * the cap (black frames, intro cards, test patterns: the media
    * hub keys) is dropped from PAIR GENERATION while still counted in
    * set sizes, exactly the winnowing df-cap stance. Miss mode: a
    * pair sharing ONLY ubiquitous frames — which is not a near-dup
    * pair, it is two videos quoting the same stock footage. Never
    * all-pairs; jaccard is exact integer micro math on the candidate
    * set.
    */
  def videoDupPairs(
      frameHashes: DataFrame,
      minJaccardMicro: Long = 500000L,
      dfCap: Long = 64L): DataFrame =
    videoDupPairsFromSets(
      frameHashes
        .select(expr("doc_id DIV 16").as("video_id"), col("ahash"))
        .distinct()
        .persist(), // read by sizes, df, and the pair join
      minJaccardMicro, dfCap)

  /** [[videoDupPairs]] over a pre-distinct (video_id, ahash) SET frame
    * (r22): the distinct set table is the tier's shared intermediate —
    * the pair graph, the incremental consumer (whose base ∪ delta IS
    * this frame) and the representatives' set sizes each re-derived it
    * per query; a chain caller stages it once ([[VideoChain.sets]])
    * and every consumer projects from it. The caller owns the frame's
    * persistence (this method reads it three times).
    */
  def videoDupPairsFromSets(
      sets: DataFrame,
      minJaccardMicro: Long = 500000L,
      dfCap: Long = 64L): DataFrame = {
    val sizes = sets.groupBy("video_id").agg(count(lit(1)).as("sz"))
    val hashDf = sets.groupBy("ahash").agg(count(lit(1)).as("df"))
    val frontier = sets
      .join(hashDf.where(col("df") <= dfCap), Seq("ahash"))
      .select(col("ahash"), col("video_id"))
    val shared = frontier.as("a")
      .join(frontier.as("b"),
        col("a.ahash") === col("b.ahash") &&
          col("a.video_id") < col("b.video_id"))
      .groupBy(col("a.video_id").as("id_a"), col("b.video_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    jaccardTail(shared, sizes, minJaccardMicro)
  }

  /** Shared Jaccard tail of [[videoDupPairs]] and
    * [[videoDupPairsIncremental]]: set-size joins + exact integer
    * micro Jaccard + threshold.
    */
  private def jaccardTail(
      shared: DataFrame, sizes: DataFrame,
      minJaccardMicro: Long): DataFrame =
    shared
      .join(sizes.select(col("video_id").as("id_a"), col("sz").as("sa")), Seq("id_a"))
      .join(sizes.select(col("video_id").as("id_b"), col("sz").as("sb")), Seq("id_b"))
      .withColumn("n_union", col("sa") + col("sb") - col("n_shared"))
      .withColumn("jaccard_micro",
        floor(col("n_shared") * 1000000.0 / col("n_union") + 0.5).cast("bigint"))
      .where(col("jaccard_micro") >= minJaccardMicro)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_union"),
        col("jaccard_micro"))

  /** INCREMENTAL video near-dup — only pairs touching the delta (the
    * ingest-time maintenance read, [[graft.pipeline.Dedup
    * .incrementalCandidatePairs]]' stance for frame sets): the base
    * corpus contributes its stored (video_id, ahash) SETS (in
    * production a served state table — the per-frame decode is never
    * re-paid), the delta hashes its own frames, the df-cap is
    * recomputed over base ∪ delta (a hub frame must stay a hub when
    * the delta makes it one), and the pair join runs delta × all
    * instead of all × all. CONTRACT, spec-pinned: the result equals
    * the full [[videoDupPairs]] rebuild restricted to pairs with at
    * least one delta endpoint — incremental maintenance and a
    * from-scratch pass can never disagree.
    */
  def videoDupPairsIncremental(
      baseSets: DataFrame,
      deltaFrameHashes: DataFrame,
      minJaccardMicro: Long = 500000L,
      dfCap: Long = 64L): DataFrame = {
    val dSets = deltaFrameHashes
      .select(expr("doc_id DIV 16").as("video_id"), col("ahash"))
      .distinct()
    val all = baseSets.select(col("video_id"), col("ahash")).union(dSets)
      .persist() // read by sizes, the df-cap, and the pair join
    videoDupPairsIncrementalFromSets(all, dSets, minJaccardMicro, dfCap)
  }

  /** [[videoDupPairsIncremental]] over a pre-built base ∪ delta SET
    * frame (r22): when base and delta partition one corpus whose
    * distinct set table is already staged ([[VideoChain.sets]]),
    * `all` IS that frame and `dSets` a filter of it — re-deriving the
    * union + distinct per query was a second pass over the tier's own
    * staged artifact. The caller owns `all`'s persistence; `dSets`
    * must be exactly the delta videos' rows of `all` (the contract —
    * and the spec-pinned full-rebuild equality — is unchanged).
    */
  def videoDupPairsIncrementalFromSets(
      all: DataFrame,
      dSets: DataFrame,
      minJaccardMicro: Long = 500000L,
      dfCap: Long = 64L): DataFrame = {
    val sizes = all.groupBy("video_id").agg(count(lit(1)).as("sz"))
    val keep = all.groupBy("ahash").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap).select("ahash")
    val dK = dSets.join(keep, Seq("ahash"))
    val allK = all.join(keep, Seq("ahash"))
    val shared = dK.select(col("video_id").as("d_id"), col("ahash"))
      .join(allK.select(col("video_id").as("o_id"), col("ahash")), Seq("ahash"))
      .where(col("d_id") =!= col("o_id"))
      .select(
        least(col("d_id"), col("o_id")).as("id_a"),
        greatest(col("d_id"), col("o_id")).as("id_b"),
        col("ahash"))
      // a delta-delta pair surfaces from both directions of the join;
      // per-hash dedup before counting
      .distinct()
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
    jaccardTail(shared, sizes, minJaccardMicro)
  }

  /** Served base-side index for the video-dedup STREAM
    * ([[graft.streaming.Streaming.videoDedupStream]]): df-capped
    * (ahash → base video) rows carrying each base video's FULL set
    * size — the cap gates pair generation, sizes stay uncapped,
    * exactly as in [[videoDupPairs]]. Streaming caveat (batch owns
    * the correction): the cap here is base-only — a delta that turns
    * a frame into a hub is re-adjudicated at the next batch pass,
    * where the [[videoDupPairsIncremental]] contract recomputes the
    * cap over base ∪ delta.
    */
  def videoServedIndex(
      frameHashes: DataFrame, dfCap: Long = 64L): DataFrame = {
    val sets = frameHashes
      .select(expr("doc_id DIV 16").as("video_id"), col("ahash"))
      .distinct()
      .persist()
    val sizes = sets.groupBy("video_id").agg(count(lit(1)).as("sz"))
    val keep = sets.groupBy("ahash").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap).select("ahash")
    sets.join(keep, Seq("ahash")).join(sizes, Seq("video_id"))
      .select(col("ahash"), col("video_id"), col("sz"))
  }

  /** Frame sampling for video-modality records: keep every k-th frame
    * index (metadata-level; real decoders sample before featurizing).
    */
  def sampleFrameIndexes(features: DataFrame, everyK: Int): DataFrame =
    features.withColumn(
      "sampled_frames",
      filter(sequence(lit(0), col("n_frames") - 1), i => i % everyK === 0))

  /** The synthetic corpus' image pixel count as a column — the same
    * pure id→(w,h) function [[syntheticImages]] encodes into each PNG
    * header, exposed so manifest queries can rank cluster members by
    * resolution without a second decode pass. Production images carry
    * width/height as stored metadata columns next to the blob; this
    * is that metadata for the synthetic corpus.
    */
  def imagePixels(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((lit(16) + docId % 16) * (lit(16) + floor(docId / lit(16)) % 16)).cast("long")

  /** Documents table viewed as a media corpus (text blobs), the
    * driver-testable stand-in for an image/audio table.
    */
  def fromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("id"),
      lit("text").as("modality"),
      col("text").cast("binary").as("blob"),
      col("source"))
      .as[MediaRecord]
  }
}

/** Session-staged video-tier chain — the [[AHashChain]] stance for
  * frame fingerprints: the per-frame decode+hash pass and the CC
  * labels each build once per (session, dir), and the four video
  * consumers (pairs, incremental, clusters, representatives) take
  * joins/prefixes of the staged frames.
  */
object VideoChain {
  import org.apache.spark.sql.SparkSession

  private[graft] val stage = new Staged.Chain("VideoChain", Staged.PerRun)

  /** The per-frame aHash table (packed id = video·16 + frame). */
  def frameHashes(
      s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "vhashes"))(
      Multimodal.aHash(
        Multimodal.syntheticVideoFrames(s, docs),
        Multimodal.PcmDecoder))

  /** The distinct (video_id, ahash) SET table over the staged frame
    * hashes, staged r22: the pair graph, the incremental consumer
    * (whose base ∪ delta is exactly this frame) and the
    * representatives' set sizes each re-ran the distinct per query —
    * the per-video frame-set table is the tier's shared state, the
    * thing a production video-dedup store persists next to the hashes.
    */
  def sets(
      s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "vsets"))(
      frameHashes(s, dir, docs)
        .select(expr("doc_id DIV 16").as("video_id"), col("ahash"))
        .distinct())

  /** The df-capped video near-dup pair graph over the staged frame
    * hashes, staged r21: both `multimodal_video_dedup` and the CC
    * consumer ([[clusterLabels]]) re-ran the frame-set Jaccard join.
    * r22: derives from the staged [[sets]] stage.
    */
  def dupPairs(
      s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "vpairs"))(
      Multimodal.videoDupPairsFromSets(sets(s, dir, docs)))

  /** CC labels (doc_id, cluster_id, is_canonical) over the df-capped
    * video near-dup pair graph.
    */
  def clusterLabels(
      s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "vclusters"))(
      Dedup.clusters(
        dupPairs(s, dir, docs)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))))

  def release(s: SparkSession): Unit = stage.release(s)
}

/** Session-staged image-hash frame — the DedupChain stance applied to
  * the perceptual tier: both declared consumers (exact-hash dedup and
  * the banded-Hamming pair graph) read the SAME (doc_id, ahash,
  * abits) frame, and the expensive part is the codec round-trip, not
  * the hash — so the decode+hash pass runs once per (session, dir)
  * and is checkpointed. At 100 TB this is the only sane shape: you
  * hash each image once and serve every downstream dedup/cluster/
  * audit question from the stored hashes.
  */
object AHashChain {
  import org.apache.spark.sql.SparkSession

  private[graft] val stage = new Staged.Chain("AHashChain", Staged.PerRun)

  def imageHashes(
      s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "hashes"))(
      Multimodal.aHash(
        Multimodal.syntheticImages(s, docs),
        Multimodal.ImageIODecoder))

  /** The CC labels (doc_id, cluster_id, is_canonical) over the
    * banded-Hamming pair graph, staged once per (session, dir): both
    * cluster consumers (`multimodal_phash_clusters` and the
    * `media_representatives` manifest) read the SAME component
    * structure — before staging, each re-ran the pair join + CC
    * rounds (~4.4 s apiece in-bench at sf0.1). O(clustered docs)
    * rows, the same stance as DedupChain's label stage.
    */
  def clusterLabels(
      s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "clusters"))(
      Dedup.clusters(
        Multimodal.aHashPairs(imageHashes(s, dir, docs), maxHamming = 3)
          .select(col("doc_a"), col("doc_b"))))

  /** The per-audio-blob aHash table — the audio twin of
    * [[imageHashes]], staged r21: four declared consumers
    * (`multimodal_audio_pairs`, `multimodal_audio_clusters`,
    * `multimodal_audio_dedup`, `media_dedup_report`) each re-ran the
    * PCM synth + decode + resample + hash pass for the same
    * (doc_id, ahash) frame.
    */
  def audioHashes(
      s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "audiohashes"))(
      Multimodal.aHash(
        Multimodal.syntheticAudio(s, docs),
        Multimodal.PcmDecoder))

  /** The banded-Hamming audio pair graph over the staged hashes —
    * shared by the pair query and the CC consumer (each re-ran the
    * 8-band self-join before r21). O(near-dup pairs) rows.
    */
  def audioPairs(
      s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "audiopairs"))(
      Multimodal.aHashPairs(audioHashes(s, dir, docs), maxHamming = 3))

  def release(s: SparkSession): Unit = stage.release(s)
}
