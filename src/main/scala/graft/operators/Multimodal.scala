package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column handling: image/audio/video as opaque `binary` payloads
  * with typed metadata, processed by per-partition batch UDFs.
  *
  * No real media fixtures or codec libraries exist in this environment, so —
  * per the builder brief — the DECODE step is a clearly-marked deterministic
  * STUB (`stubDecode`), while everything Spark-side is real and tested: the
  * binary+struct schema, the mapPartitions batch shape (the Scala analog of a
  * pandas `mapInPandas` iterator-of-batches UDF), partition-parallel
  * execution, explode-based frame sampling, and columnar feature outputs.
  * Swapping `stubDecode` for a JNI/javacv decoder changes no plumbing.
  *
  * 100 TB: payloads stay opaque bytes end-to-end (no driver collect, no
  * per-row JVM object churn beyond the decode buffer); metadata lives in a
  * separate struct column so pruning drops the heavy bytes for
  * metadata-only queries.
  */
object Multimodal {

  /** Synthesized asset table over `documents`: payload = the utf-8 bytes of
    * the text (standing in for an encoded media blob), media_type cycles
    * image/audio/video, metadata derived deterministically from doc fields.
    */
  def assets(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("payload"),
      struct(
        (col("n_chars") % 64 + 8).cast("int").as("width"),
        (col("n_chars") % 48 + 6).cast("int").as("height"),
        (col("n_chars") % 30 + 1).cast("int").as("n_frames"),
        col("source").as("origin")).as("meta"))

  /** STUB decode: deterministic pseudo-pixels from the payload bytes — a
    * rolling hash seeds a per-pixel value in [0,1). Stands in for a real
    * image decoder; same signature, same batch shape.
    */
  def stubDecode(payload: Array[Byte], w: Int, h: Int): Array[Float] = {
    var hsh = 1125899906842597L
    var i = 0
    while (i < payload.length) { hsh = hsh * 31L + (payload(i) & 0xffL); i += 1 }
    val out = new Array[Float](w * h)
    var p = 0
    while (p < out.length) {
      hsh = hsh * 6364136223846793005L + 1442695040888963407L
      out(p) = ((hsh >>> 40) & 0xffffL).toFloat / 65536.0f
      p += 1
    }
    out
  }

  /** Decoded-pixel row produced by the batch decode. */
  case class Decoded(asset_id: Long, media_type: String, width: Int, height: Int,
      pixels: Array[Float])

  /** mm_decode — batch decode via mapPartitions: one decoder instantiation
    * per partition (where a real codec would amortize native init), iterator
    * in / iterator out, nothing materialized per-partition beyond one row's
    * buffer.
    */
  def decode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir)
      .select(col("asset_id"), col("media_type"), col("payload"),
        col("meta.width").as("w"), col("meta.height").as("h"))
      .as[(Long, String, Array[Byte], Int, Int)]
      .mapPartitions { it =>
        // real decoder init would happen HERE, once per partition
        it.map { case (id, mt, payload, w, h) =>
          Decoded(id, mt, w, h, stubDecode(payload, w, h))
        }
      }
      .toDF()
  }

  /** mm_features — decode → per-asset feature extraction (mean/std/l2 over
    * pixels — the stub analog of an embedding model forward pass). All
    * numeric outputs are deterministic.
    */
  def features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decode(s, dir).as[Decoded].map { d =>
      val n = d.pixels.length
      var sum = 0.0; var sq = 0.0
      var i = 0
      while (i < n) { sum += d.pixels(i); sq += d.pixels(i) * d.pixels(i); i += 1 }
      val mean = sum / n
      (d.asset_id, d.media_type, d.width, d.height, n,
        mean, math.sqrt(math.max(0.0, sq / n - mean * mean)), math.sqrt(sq))
    }.toDF("asset_id", "media_type", "width", "height", "n_pixels",
      "mean_px", "std_px", "l2_norm")
  }

  /** Average-pool resize of a decoded pixel array (real array math — the
    * post-decode transform is NOT stubbed).
    */
  def resizePixels(px: Array[Float], w: Int, h: Int, ow: Int, oh: Int): Array[Float] = {
    val out = new Array[Float](ow * oh)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val x0 = ox * w / ow; val x1 = math.max(x0 + 1, (ox + 1) * w / ow)
        val y0 = oy * h / oh; val y1 = math.max(y0 + 1, (oy + 1) * h / oh)
        var acc = 0.0f; var c = 0
        var y = y0
        while (y < y1) { var x = x0; while (x < x1) { acc += px(y * w + x); c += 1; x += 1 }; y += 1 }
        out(oy * ow + ox) = acc / c
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** mm_resize — decode → fixed 8x8 thumbnail per asset. */
  def thumbnails(s: SparkSession, dir: String, ow: Int = 8, oh: Int = 8): DataFrame = {
    import s.implicits._
    decode(s, dir).as[Decoded].map { d =>
      (d.asset_id, ow, oh, resizePixels(d.pixels, d.width, d.height, ow, oh))
    }.toDF("asset_id", "width", "height", "thumb")
  }

  /** mm_thumbs — decode → average-pool resize → per-asset thumbnail stats.
    * Emits SCALAR columns (mean/min/max over the 8×8 thumb) so the driver
    * can hash the output; oracled since round 8 (the LCG decode + FLOAT
    * pooling replayed bit-exactly in DuckDB — see SparkEntry.mmThumbsSql),
    * and the full pixel-array path is asserted in MultimodalSpec.
    */
  def thumbStats(s: SparkSession, dir: String, ow: Int = 8, oh: Int = 8): DataFrame = {
    import s.implicits._
    decode(s, dir).as[Decoded].map { d =>
      val t = resizePixels(d.pixels, d.width, d.height, ow, oh)
      var mn = Float.MaxValue; var mx = Float.MinValue
      var sum = 0.0
      t.foreach { v => if (v < mn) mn = v; if (v > mx) mx = v; sum += v }
      (d.asset_id, ow, oh, sum / t.length, mn.toDouble, mx.toDouble)
    }.toDF("asset_id", "width", "height", "mean_px", "min_px", "max_px")
  }

  /** mm_frame_sample — video assets only: every `stride`-th frame index,
    * exploded to one row per sampled frame (the partition-parallel frame
    * sampler shape; a real impl would decode just those frames).
    */
  def frameSample(s: SparkSession, dir: String, stride: Int = 5): DataFrame =
    assets(s, dir)
      .filter(col("media_type") === "video")
      .select(col("asset_id"), col("meta.n_frames").as("n_frames"),
        explode(sequence(lit(0), col("meta.n_frames") - 1,
          lit(stride))).as("frame_idx"))

  /** Samples per analysis frame for [[audioVad]] (a real deployment uses
    * the codec's hop size, e.g. 160 samples at 16 kHz / 10 ms).
    */
  val AudioFrame = 16

  /** Frame-RMS activity threshold for [[audioVad]]. The stub samples are
    * uniform on [-1, 1) (RMS of a full random frame ≈ 1/√3 ≈ 0.577), so
    * 0.5 splits frames non-vacuously into active and silent.
    */
  val VadThreshold = 0.5

  /** mm_audio_vad — the AUDIO member of the decode family: stub PCM decode
    * (the same per-partition LCG stand-in as the image path — swapping in a
    * real codec changes no plumbing), samples centered to [-1, 1), then
    * framed voice-activity analysis: per [[AudioFrame]]-sample frame the
    * RMS energy, a frame is ACTIVE if rms > [[VadThreshold]], and the
    * per-asset outputs are the frame count, active-frame count, longest
    * consecutive active run, and the ordered sum of frame RMS values —
    * the silence-trim / speech-segment manifest a speech-data pipeline
    * computes before cutting training clips.
    *
    * Determinism: samples widen float→double exactly (the stub's
    * x/65536.0f is a power-of-two division, exact in both precisions), and
    * every subsequent operation — centering, squaring, the frame fold, the
    * sqrt, the RMS sum — is double IEEE in ascending sample order, so the
    * DuckDB recursive-CTE replay is bit-identical (the mm_features
    * pattern). One narrow scan, no shuffle: the analysis is a per-row fold.
    */
  def audioVad(s: SparkSession, dir: String,
      frame: Int = AudioFrame, threshold: Double = VadThreshold): DataFrame = {
    import s.implicits._
    assets(s, dir)
      .filter(col("media_type") === "audio")
      .select(col("asset_id"), col("payload"),
        col("meta.n_frames").as("n_frames"))
      .as[(Long, Array[Byte], Int)]
      .mapPartitions { it =>
        // real PCM decoder init would happen HERE, once per partition
        it.map { case (id, payload, nFrames) =>
          val n = nFrames * frame
          val px = stubDecode(payload, n, 1)
          var i = 0
          var frSq = 0.0
          var nActive = 0
          var run = 0
          var maxRun = 0
          var rmsSum = 0.0
          while (i < n) {
            val xm = 2.0 * px(i) - 1.0
            frSq += xm * xm
            if (i % frame == frame - 1) {
              val rms = math.sqrt(frSq / frame)
              rmsSum += rms
              if (rms > threshold) {
                run += 1
                nActive += 1
                if (run > maxRun) maxRun = run
              } else run = 0
              frSq = 0.0
            }
            i += 1
          }
          (id, nFrames, nActive, maxRun, rmsSum)
        }
      }
      .toDF("asset_id", "n_frames", "n_active", "max_run", "rms_sum")
  }

  /** Target shard payload bytes for [[shardManifest]] — fixture-sized so
    * every media type fills multiple shards at sf0.001; production uses
    * ~100 MB–1 GB tar shards.
    */
  val ShardBytes = 4096L

  /** mm_shard_manifest — webdataset-style shard layout: assign every asset
    * a (shard, byte offset) within its media type, walking assets in
    * asset_id order and cutting a new shard each [[ShardBytes]] payload
    * bytes. This is the manifest a sequential-tar packer consumes — the
    * step that turns a row-per-asset lake into the few-large-files layout
    * training loaders stream. An asset whose payload crosses a boundary
    * belongs wholly to the shard its offset falls in (shards overflow by
    * < 1 asset — the same prefix-fill contract as budget_sample).
    *
    * The answer is a PURE function of (media_type, asset_id, bytes): the
    * running byte total before each asset in the per-type id order. The
    * implementation computes it with a DISTRIBUTED TWO-PASS PREFIX SUM
    * rather than a `Window.partitionBy(media_type)` running sum — the
    * window form funnels each media type through ONE task (3 tasks total
    * however large the corpus), the classic per-key-window scale cliff.
    * Here: range-repartition on (media_type, asset_id), pass 1 folds each
    * partition's per-type subtotal (a few rows per partition — collected,
    * prefix-summed on the driver, broadcast back), pass 2 streams each
    * partition once more seeded with its types' global offsets. Both
    * passes are narrow scans; the only coordination is the tiny subtotal
    * table. At 100 TB this is the textbook distributed scan pattern —
    * parallelism stays at the partition count, not the type count.
    *
    * Everything is integral (byte counts, truncating div/mod), so the
    * DuckDB oracle — the declarative window formulation — compares
    * exactly; equality also proves the two formulations agree, i.e. the
    * two-pass rewrite is answer-invariant.
    */
  def shardManifest(s: SparkSession, dir: String,
      target: Long = ShardBytes, nParts: Int = 8): DataFrame = {
    import s.implicits._
    val sized = assets(s, dir)
      .select(col("asset_id"), col("media_type"),
        octet_length(col("payload")).cast("long").as("bytes"))
      .as[(Long, String, Long)]
    // pass 0: cached so the subtotal scan and the labeling scan iterate the SAME
    // materialized partition layout (pass 2's offset seeds are keyed by
    // pass 1's partition contents — see the fail-fast below)
    val part = graft.TransientCache.cache(
      sized.repartitionByRange(nParts, col("media_type"), col("asset_id"))
        .sortWithinPartitions("media_type", "asset_id").toDF())
      .as[(Long, String, Long)]
    // pass 1: per-partition, per-type subtotals, keyed by the partition's
    // FIRST row (not TaskContext.getPartitionId — a downstream coalesce
    // merges partitions into one task, where every merged parent reports
    // the same task partition id; the first (media_type, asset_id) pair
    // identifies a range partition under any such merging, because the
    // mapPartitions function still runs once per parent partition)
    val subtotals = part.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        val firstKey = (buf.head._2, buf.head._1)
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        buf.foreach { case (_, mt, b) => acc(mt) = acc.getOrElse(mt, 0L) + b }
        Iterator.single((firstKey, acc.toSeq))
      }
    }.collect()
    // driver prefix sum walking partitions in range order (the partitions'
    // first keys sort exactly like the range partitioning that made them)
    val offsets: Map[(String, Long), Map[String, Long]] = {
      val running = scala.collection.mutable.Map.empty[String, Long]
      subtotals.sortBy(_._1).map { case (firstKey, perType) =>
        val starts = perType.map { case (mt, total) =>
          val start = running.getOrElse(mt, 0L)
          running(mt) = start + total
          mt -> start
        }.toMap
        firstKey -> starts
      }.toMap
    }
    val bcOff = s.sparkContext.broadcast(offsets)
    // pass 2: stream each partition seeded with its types' global offsets.
    // A lookup miss can only mean pass 2 is iterating a DIFFERENT partition
    // layout than pass 1 summarized (e.g. the cached layout was dropped and
    // repartitionByRange re-sampled new boundaries) — silently defaulting
    // would restart running totals at 0 mid-type, so fail loudly instead
    part.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        val starts = bcOff.value.getOrElse((buf.head._2, buf.head._1),
          throw new IllegalStateException(
            s"shardManifest pass-2 partition starting at ${buf.head._2}/${buf.head._1} " +
              "has no pass-1 subtotal: the range-partition layout changed between passes"))
        val cum = scala.collection.mutable.Map.empty[String, Long] ++ starts
        buf.map { case (id, mt, b) =>
          val before = cum.getOrElse(mt, 0L)
          cum(mt) = before + b
          (id, mt, b, before / target, before % target)
        }
      }
    }.toDF("asset_id", "media_type", "bytes", "shard", "shard_offset")
  }

  // ------------------------------------------------- perceptual-hash dedup

  /** dHash thumbnail geometry: [[PhashW]]×[[PhashH]] average-pooled cells;
    * 8 horizontal comparisons per row × 8 rows = 64 bits.
    */
  val PhashW = 9
  val PhashH = 8

  /** Banding for the hamming-bucket join: 4 disjoint 16-bit bands. Two
    * hashes within hamming 3·(bands−1)/… — pragmatically, any pair whose
    * flipped bits avoid one band — collide on that band's bucket.
    */
  val PhashBands = 4

  /** Pairs survive at hamming ≤ this. 64-bit dHashes of unrelated images
    * sit near 32; real re-encodes land well under 10.
    */
  val PhashMaxHamming = 10

  /** Hot-bucket cap — the [[graft.operators.Dedup.MaxBucket]] rationale:
    * one degenerate bucket (every near-black image shares a dHash band) at
    * web scale would emit O(n²) pairs; drop buckets above the cap.
    */
  val PhashMaxBucket = 1000

  /** Replica augmentation for the planted near-dup structure (the fixture
    * corpus has no duplicate payloads — the dedup_incremental pattern):
    * image assets with id % 7 = 0 gain an EXACT replica (identical thumb ⇒
    * hamming 0) at id + [[PhashExactBase]]; assets with id % 11 = 0 gain a
    * PERTURBED variant at id + [[PhashVariantBase]] whose thumb cells at
    * index % [[PhashPerturbStep]] = 0 (cells {0, 29, 58}) are brightened
    * by [[PhashPerturbDelta]] — the deterministic stand-in for a
    * re-encoded/re-compressed copy. Each perturbed cell touches at most 2
    * horizontal comparisons (≤ 6 flipped bits total), and none of those
    * bit positions fall in band 1's range, so a variant is GUARANTEED to
    * band-collide with its original and survive at hamming ≤ 6.
    */
  val PhashExactBase = 2000000L
  val PhashVariantBase = 3000000L
  val PhashPerturbStep = 29
  val PhashPerturbDelta = 0.25f

  /** Decode + pool one image asset's phash thumb straight from its doc
    * fields (the [[assets]] geometry formulas) — shared by the streaming
    * twin, which sees raw document rows rather than [[decode]]'s frame.
    */
  def imageThumb(text: String, nChars: Long): Array[Float] = {
    val w = (nChars % 64 + 8).toInt
    val h = (nChars % 48 + 6).toInt
    resizePixels(stubDecode(text.getBytes("UTF-8"), w, h), w, h, PhashW, PhashH)
  }

  /** The planted replica augmentation (see the [[PhashExactBase]] doc) as
    * ONE function: batch [[imagePhashPairs]] and the streaming twin both
    * call this, so a change to the augmentation cannot drift them apart
    * (the one-`advanceBucket` discipline). The SQL oracle interpolates the
    * same constants; MultimodalSpec's straight-line replay deliberately
    * keeps its OWN copy — a differential that shares the code under test
    * stops being a differential.
    */
  def augmentThumbs(id: Long, t: Array[Float]): Iterator[(Long, Array[Float])] = {
    val out = scala.collection.mutable.ArrayBuffer((id, t))
    if (id % 7 == 0) out += ((id + PhashExactBase, t))
    if (id % 11 == 0) {
      val v = t.clone()
      var c = 0
      while (c < v.length) {
        if (c % PhashPerturbStep == 0) v(c) = v(c) + PhashPerturbDelta
        c += 1
      }
      out += ((id + PhashVariantBase, v))
    }
    out.iterator
  }

  /** Difference hash of a [[PhashW]]×[[PhashH]] thumb: bit (y, x) = 1 iff
    * cell (y, x+1) > cell (y, x), strictly, packed big-endian (first
    * comparison = MSB) into one signed Long — the standard 64-bit dHash.
    */
  def dhashBits(t: Array[Float]): Long = {
    var sig = 0L
    var y = 0
    while (y < PhashH) {
      var x = 0
      while (x < PhashW - 1) {
        sig = (sig << 1) |
          (if (t(y * PhashW + x + 1) > t(y * PhashW + x)) 1L else 0L)
        x += 1
      }
      y += 1
    }
    sig
  }

  /** mm_image_phash — IMAGE near-duplicate pairs by perceptual hash: stub
    * decode → [[PhashW]]×[[PhashH]] average-pool ([[resizePixels]], real
    * float math) → 64-bit dHash ([[dhashBits]]) → banded hamming-bucket
    * join → exact hamming verify at ≤ [[PhashMaxHamming]]. This is the
    * image-modality member of the near-dup family (MinHash/SimHash cover
    * text; this covers "same picture, different encode"), and the reason
    * dHash is the production pick: it is invariant to uniform brightness/
    * contrast shifts (only ORDER between neighboring cells matters) and
    * its hamming distance is a meaningful edit metric.
    *
    * 100 TB plan: identical shape to [[graft.operators.Dedup.minhash]] —
    * candidate generation is a hash-bucket EQUI-join (never all-pairs):
    * each 64-bit hash explodes to [[PhashBands]] 16-bit band keys, one
    * shuffle groups band buckets, hot buckets are capped
    * ([[PhashMaxBucket]]), pairs dedup before the exact-hamming verify
    * (one codegen'd xor + bit_count — no re-decode: the verify runs on
    * the 8-byte hashes riding the candidate rows). Decode + pool + hash
    * is one typed scan; everything after moves 12 bytes per asset.
    */
  def imagePhashPairs(s: SparkSession, dir: String,
      maxBucket: Int = PhashMaxBucket): DataFrame = {
    import s.implicits._
    val thumbs = decode(s, dir).as[Decoded]
      .filter(_.media_type == "image")
      .map(d => (d.asset_id,
        resizePixels(d.pixels, d.width, d.height, PhashW, PhashH)))
    val aug = thumbs.flatMap { case (id, t) => augmentThumbs(id, t) }
    // hashes feed the banding pass AND both candidate join sides
    val hashed = graft.TransientCache.cache(
      aug.map { case (id, t) => (id, dhashBits(t)) }.toDF("asset_id", "phash"))
    val banded = hashed.select(col("asset_id"), col("phash"),
      explode(array((0 until PhashBands).map(i =>
        struct(lit(i).as("band"),
          shiftrightunsigned(col("phash"), 16 * i)
            .bitwiseAND(lit(0xFFFFL)).as("bval"))): _*)).as("b"))
      .select(col("asset_id"), col("phash"), col("b.band"), col("b.bval"))
    val capped = banded
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("band", "bval")))
      .filter(col("bucket_n") <= maxBucket)
    val l = capped.select(col("band"), col("bval"),
      col("asset_id").as("asset1"), col("phash").as("h1"))
    val r = capped.select(col("band"), col("bval"),
      col("asset_id").as("asset2"), col("phash").as("h2"))
    l.join(r, Seq("band", "bval"))
      .filter(col("asset1") < col("asset2"))
      .select("asset1", "asset2", "h1", "h2")
      .distinct()
      .withColumn("hamming", expr("bit_count(h1 ^ h2)").cast("int"))
      .filter(col("hamming") <= PhashMaxHamming)
      .select(col("asset1"), col("asset2"), col("hamming"))
  }
}
