package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Multimodal plumbing: schema, determinism, batch decode shape, resize
  * math, frame sampling. The decode itself is a documented stub; what's
  * under test is everything around it.
  */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("assets: binary payload + typed metadata struct, one row per doc") {
    val df = Multimodal.assets(spark, Sf0001)
    val schema = df.schema
    assert(schema("payload").dataType.typeName == "binary")
    assert(schema("meta").dataType.typeName == "struct")
    assert(df.count() == graft.sources.Tables.documents(spark, Sf0001).count())
    val types = df.select("media_type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set("image", "audio", "video"))
  }

  test("metadata-only queries prune the payload column from the scan") {
    val metaOnly = Multimodal.assets(spark, Sf0001)
      .select("asset_id", "media_type")
    val scan = metaOnly.queryExecution.executedPlan.toString
    assert(!scan.contains("text"),
      s"payload source column still read for a metadata-only query:\n$scan")
  }

  test("decode is deterministic and pixel count == width*height") {
    val a = Multimodal.features(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        (r.getAs[Int]("n_pixels"), r.getAs[Double]("mean_px"))).toMap
    val b = Multimodal.features(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        (r.getAs[Int]("n_pixels"), r.getAs[Double]("mean_px"))).toMap
    assert(a == b) // same stub decode across runs
    Multimodal.decode(spark, Sf0001).collect().foreach { r =>
      assert(r.getSeq[Float](r.fieldIndex("pixels")).size ==
        r.getAs[Int]("width") * r.getAs[Int]("height"))
    }
  }

  test("resizePixels: average pool preserves global mean on exact divisors") {
    val px = Array.tabulate(16 * 8)(i => i.toFloat)
    val out = Multimodal.resizePixels(px, 16, 8, 4, 4)
    assert(out.length == 16)
    val meanIn = px.sum / px.length
    val meanOut = out.sum / out.length
    assert(math.abs(meanIn - meanOut) < 1e-3)
  }

  test("thumbnails are fixed-size") {
    Multimodal.thumbnails(spark, Sf0001).collect().foreach { r =>
      assert(r.getSeq[Float](r.fieldIndex("thumb")).size == 64)
    }
  }

  test("frameSample: stride-5 indices within range, video only") {
    val rows = Multimodal.frameSample(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Int]("n_frames")
      val idx = r.getAs[Int]("frame_idx")
      assert(idx >= 0 && idx < n && idx % 5 == 0)
      assert(r.getAs[Long]("asset_id") % 3 == 2) // video assets
    }
  }

  test("audioVad: driver replay bit-exact; activity split non-vacuous; audio only") {
    val got = Multimodal.audioVad(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[Int]("n_frames"),
        r.getAs[Int]("n_active"), r.getAs[Int]("max_run"),
        r.getAs[Double]("rms_sum")))
    assert(got.nonEmpty)
    // audio assets are exactly doc_id % 3 == 1 (the media_type cycle)
    assert(got.forall(_._1 % 3 == 1))
    // with uniform samples the 0.5 threshold must split frames both ways
    assert(got.exists(_._3 > 0), "no active frames anywhere — threshold vacuous")
    assert(got.exists(r => r._3 < r._2), "every frame active — threshold vacuous")
    // driver-side replay of decode → center → frame RMS → counters
    val assets = Multimodal.assets(spark, Sf0001)
      .filter(org.apache.spark.sql.functions.col("media_type") === "audio")
      .select("asset_id", "payload", "meta.n_frames").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getInt(2)))
    val expect = assets.map { case (id, payload, nFrames) =>
      val n = nFrames * Multimodal.AudioFrame
      val px = Multimodal.stubDecode(payload, n, 1)
      var frSq = 0.0; var nActive = 0; var run = 0; var maxRun = 0; var rmsSum = 0.0
      for (i <- 0 until n) {
        val xm = 2.0 * px(i) - 1.0
        frSq += xm * xm
        if (i % Multimodal.AudioFrame == Multimodal.AudioFrame - 1) {
          val rms = math.sqrt(frSq / Multimodal.AudioFrame)
          rmsSum += rms
          if (rms > Multimodal.VadThreshold) {
            run += 1; nActive += 1; if (run > maxRun) maxRun = run
          } else run = 0
          frSq = 0.0
        }
      }
      (id, nFrames, nActive, maxRun, rmsSum)
    }.toSet
    assert(got.toSet === expect)
  }

  test("shardManifest: two-pass prefix sum == driver replay; partition-count-invariant") {
    val rows = Multimodal.shardManifest(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[String]("media_type"),
        r.getAs[Long]("bytes"), r.getAs[Long]("shard"), r.getAs[Long]("shard_offset")))
    assert(rows.nonEmpty)
    // driver replay of the declared semantics: per-type asset_id order,
    // running byte total before each asset
    val target = Multimodal.ShardBytes
    val expected = rows.map(r => (r._1, r._2, r._3)).sortBy(r => (r._2, r._1))
      .groupBy(_._2).iterator.flatMap { case (_, as) =>
        var cum = 0L
        as.map { case (id, mt, b) =>
          val before = cum; cum += b
          (id, mt, b, before / target, before % target)
        }
      }.toSet
    assert(rows.toSet == expected)
    // every media type actually fills multiple shards, shard ids are the
    // contiguous range 0..max, and within each shard (ordered by asset_id)
    // offsets are exactly contiguous: each asset starts where the previous
    // one ended
    rows.groupBy(_._2).foreach { case (mt, as) =>
      val shards = as.map(_._4).distinct.sorted.toSeq
      assert(shards.length > 1, s"type $mt: expected >1 shard")
      assert(shards == (0L to shards.max), s"type $mt: shard ids not contiguous")
    }
    rows.groupBy(r => (r._2, r._4)).foreach { case ((mt, sh), as) =>
      val ordered = as.sortBy(_._1)
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        assert(b._5 == a._5 + a._3,
          s"shard ($mt,$sh): asset ${b._1} offset ${b._5} != ${a._5} + ${a._3}")
      }
      if (sh == 0L)
        assert(ordered.head._5 == 0L, s"type $mt: shard 0 must start at offset 0")
    }
    // the answer is partitioning-independent: 1 partition == 8 partitions
    val single = Multimodal.shardManifest(spark, Sf0001, nParts = 1).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[String]("media_type"),
        r.getAs[Long]("bytes"), r.getAs[Long]("shard"), r.getAs[Long]("shard_offset")))
    assert(single.toSet == rows.toSet)
    // and coalesce-robust: a downstream coalesce(1) (exactly what Verify's
    // single-file parquet dump does) merges all range partitions into one
    // task — the per-partition offset seeding must key off partition
    // CONTENT, not TaskContext ids, or every merged partition restarts at
    // zero (the round-8 regression this line exists for)
    val coalesced = Multimodal.shardManifest(spark, Sf0001).coalesce(1).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[String]("media_type"),
        r.getAs[Long]("bytes"), r.getAs[Long]("shard"), r.getAs[Long]("shard_offset")))
    assert(coalesced.toSet == rows.toSet)
    TransientCache.releaseAll(spark)
  }

  test("imagePhashPairs: pipeline == straight-line driver replay; planted " +
      "exact and perturbed replicas surface; hamming bounded") {
    val got = Multimodal.imagePhashPairs(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("asset1"), r.getAs[Long]("asset2"),
        r.getAs[Int]("hamming"))).toSet
    // straight-line replay: decode + pool + dhash + banding + cap + verify
    // with the SAME helpers but none of the distributed pipeline
    val assets = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .filter(_._1 % 3 == 0) // media_type image
    val hashes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    assets.foreach { case (id, text, nChars) =>
      val w = (nChars % 64 + 8).toInt
      val h = (nChars % 48 + 6).toInt
      val px = Multimodal.stubDecode(text.getBytes("UTF-8"), w, h)
      val t = Multimodal.resizePixels(px, w, h, Multimodal.PhashW, Multimodal.PhashH)
      hashes += ((id, Multimodal.dhashBits(t)))
      if (id % 7 == 0)
        hashes += ((id + Multimodal.PhashExactBase, Multimodal.dhashBits(t)))
      if (id % 11 == 0) {
        val v = t.clone()
        v.indices.foreach { c =>
          if (c % Multimodal.PhashPerturbStep == 0)
            v(c) = v(c) + Multimodal.PhashPerturbDelta
        }
        hashes += ((id + Multimodal.PhashVariantBase, Multimodal.dhashBits(v)))
      }
    }
    def bands(h: Long): Seq[Long] =
      (0 until Multimodal.PhashBands).map(i => (h >>> (16 * i)) & 0xFFFFL)
    val byBucket = hashes.flatMap { case (id, h) =>
      bands(h).zipWithIndex.map { case (bv, bi) => ((bi, bv), (id, h)) }
    }.groupBy(_._1).filter(_._2.size <= Multimodal.PhashMaxBucket)
    val expect = byBucket.values.flatMap { members =>
      val ms = members.map(_._2)
      for {
        (i1, h1) <- ms; (i2, h2) <- ms if i1 < i2
        ham = java.lang.Long.bitCount(h1 ^ h2)
        if ham <= Multimodal.PhashMaxHamming
      } yield (i1, i2, ham)
    }.toSet
    assert(got === expect)
    // planted structure is non-vacuous
    val exactPairs = got.filter { case (a, b, _) =>
      b == a + Multimodal.PhashExactBase }
    assert(exactPairs.nonEmpty, "no exact-replica pair surfaced")
    assert(exactPairs.forall(_._3 == 0), "exact replica must be hamming 0")
    val variantPairs = got.filter { case (a, b, _) =>
      b == a + Multimodal.PhashVariantBase }
    assert(variantPairs.nonEmpty, "no perturbed-variant pair surfaced")
    assert(variantPairs.forall(_._3 <= 6),
      s"variant hamming above the 3-cell bound: $variantPairs")
    assert(variantPairs.exists(_._3 > 0),
      "perturbation flipped no bits at fixture scale — raise the delta")
    assert(got.forall(_._3 <= Multimodal.PhashMaxHamming))
    TransientCache.releaseAll(spark)
  }

  test("imagePhashPairs: the hot-bucket cap actually bites on a degenerate corpus") {
    // 10 identical image docs (doc_id % 3 == 0 makes them images): every
    // hash is equal, so all members share every band bucket — the web-scale
    // boilerplate black hole the cap exists for
    val s = spark
    import s.implicits._
    val dir = scratchDir("phash-cap").toString
    val text = "the same picture rendered ten times over for the cap test"
    (0 until 10).map(i => (i * 3L, text, "en", "s0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // uncapped: every augmented member pairs with every other (hamming 0
    // for identical thumbs; perturbed variants stay within the bound)
    val open = Multimodal.imagePhashPairs(spark, dir).collect()
    assert(open.nonEmpty, "degenerate corpus produced no pairs uncapped")
    // capped below the bucket population: every bucket is dropped, no pairs
    val capped = Multimodal.imagePhashPairs(spark, dir, maxBucket = 5).collect()
    assert(capped.isEmpty,
      s"cap=5 should drop the degenerate buckets, got ${capped.length} pairs")
    TransientCache.releaseAll(spark)
  }
}
