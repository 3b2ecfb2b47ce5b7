package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Dedup operators on a constructed corpus with KNOWN duplicate structure
  * (the fixture documents table has only planted near-dups; here we control
  * ground truth exactly and cross-check the LSH path against brute force).
  */
class DedupSpec extends AnyFunSuite {
  import TestSpark._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val docs = Seq(
    (0L, base, "en", "src0", base.length.toLong),
    (1L, base + " extra", "en", "src1", (base.length + 6).toLong),
    (2L, "completely different content about spark shuffles and partitions working hard", "en", "src2", 79L),
    (3L, base, "en", "src3", base.length.toLong), // exact dup of 0
    (4L, "yet another unrelated document mentioning catalyst optimizer rules and codegen stages", "en", "src4", 86L))

  /** Writes the corpus as `documents.parquet` under a temp dir so the
    * operators' (session, dir) contract applies unchanged.
    */
  private lazy val dir: String = {
    val s = spark
    import s.implicits._
    val d = scratchDir("dedup-spec").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def tokSet(t: String) = t.split("\\s+").toSet
  private def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size.toDouble

  test("exact: identical texts collapse into one group, min id survives") {
    val groups = Dedup.exact(spark, dir).collect()
    assert(groups.length == 4) // 5 docs, one exact pair
    val dups = Dedup.exactDups(spark, dir).collect()
    assert(dups.length == 1)
    assert(dups.head.getAs[Long]("keep_id") == 0L)
    assert(dups.head.getAs[Long]("n_copies") == 2L)
  }

  test("incremental: every status class non-vacuous; store membership exact") {
    val rows = Dedup.incremental(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
        r.getAs[String]("status")))
    val byStatus = rows.groupBy(_._3).view.mapValues(_.length).toMap
    // the %7 replica augmentation must produce all three classes, else the
    // gate runs vacuously (the embedNearDup-threshold lesson)
    for (st <- Seq("kept", "dup_of_store", "dup_in_batch"))
      assert(byStatus.getOrElse(st, 0) > 0, s"status $st vacuous: $byStatus")
    // driver-side replay of the classification
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("doc_id", "md5(text) AS fp").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val hist = docs.filter(_._1 % 3 != 0).map(_._2).toSet
    val batch = docs.filter(_._1 % 3 == 0) ++
      docs.filter(_._1 % 7 == 0)
        .map { case (id, fp) => (id + Dedup.IncrementalReplicaBase, fp) }
    val firsts = batch.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val expect = batch.map { case (id, fp) =>
      val st =
        if (hist(fp)) "dup_of_store"
        else if (id != firsts(fp)) "dup_in_batch"
        else "kept"
      (id, fp, st)
    }.toSet
    assert(rows.toSet === expect)
  }

  test("incremental2: two-crawl replay — batch-1 kept docs become batch-2 " +
      "dup_of_store; retried union-back is idempotent") {
    val rows = Dedup.incremental2(spark, Sf0001).collect()
      .map(r => (r.getAs[Int]("batch"), r.getAs[Long]("doc_id"),
        r.getAs[String]("fp"), r.getAs[String]("status")))
    // driver-side replay of the full two-crawl lifecycle
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("doc_id", "md5(text) AS fp").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val store0 = docs.filter(_._1 % 3 != 0).map(_._2).toSet
    val b1 = docs.filter(_._1 % 6 == 0)
    val f1 = b1.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    def classify(batch: Seq[(Long, String)], store: Set[String],
        firsts: Map[String, Long]): Seq[(Long, String, String)] =
      batch.map { case (id, fp) =>
        val st =
          if (store(fp)) "dup_of_store"
          else if (id != firsts(fp)) "dup_in_batch"
          else "kept"
        (id, fp, st)
      }
    val c1 = classify(b1.toSeq, store0, f1)
    val store1 = store0 ++ c1.collect { case (_, fp, "kept") => fp }
    val b2 = docs.filter(_._1 % 6 == 3).toSeq ++
      (docs.filter(d => d._1 % 6 == 0 && d._1 % 7 == 0) ++
       docs.filter(d => d._1 % 6 == 3 && d._1 % 7 == 0))
        .map { case (id, fp) => (id + Dedup.IncrementalReplicaBase, fp) }
    val f2 = b2.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val c2 = classify(b2, store1, f2)
    val expect = c1.map { case (id, fp, st) => (1, id, fp, st) }.toSet ++
      c2.map { case (id, fp, st) => (2, id, fp, st) }
    assert(rows.toSet === expect)
    // the cross-crawl property is non-vacuous: batch 2 contains replicas of
    // batch-1 KEPT docs and classifies them dup_of_store — digests that
    // entered the store only via the union-back, never via history
    val kept1 = rows.collect { case (1, id, fp, "kept") => (id, fp) }
    val crossCrawlDups = rows.collect {
      case (2, id, fp, "dup_of_store")
        if !store0(fp) && kept1.exists(_._2 == fp) => id
    }
    assert(kept1.nonEmpty, "batch 1 kept nothing — fixture drifted")
    assert(crossCrawlDups.nonEmpty,
      "no batch-2 replica of a batch-1 kept doc classified dup_of_store")
    // the store lifecycle on a store of the spec's own: the union-back
    // takes the historical store to the replay's store1, and a retried
    // append is a no-op because the store is dedup-on-write
    val storeDir = scratchDir("dedup-union-back").toString
    Dedup.persistDigestStore(spark, Sf0001, storeDir)
    val s2 = spark
    import s2.implicits._
    def stored: Set[String] =
      spark.read.parquet(storeDir).as[String].collect().toSet
    assert(stored === store0)
    Dedup.unionBackKept(spark, storeDir, kept1.map(_._2).toSeq.toDF("fp"))
    assert(stored === store1, "union-back did not add batch 1's kept digests")
    val before = spark.read.parquet(storeDir).count()
    Dedup.unionBackKept(spark, storeDir,
      kept1.map(_._2).toSeq.toDF("fp"))
    val after = spark.read.parquet(storeDir).count()
    assert(after === before, "retried union-back appended duplicate digests")
    // and the store stays distinct
    assert(spark.read.parquet(storeDir).distinct().count() === after)
  }

  test("minhash LSH: finds exactly the near-dup pairs, with exact jaccard") {
    val pairs = Dedup.minhash(spark, dir, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(pairs.keySet == Set((0L, 1L), (0L, 3L), (1L, 3L)))
    assert(pairs((0L, 3L)) == 1.0)
    assert(pairs((0L, 1L)) > 0.85 && pairs((0L, 1L)) < 1.0)
  }

  test("dedupRecall: decile table equals driver-side replay of both sides") {
    // ground truth replayed brute-force from shingle sets; LSH side taken
    // from the operator's own minhash pairs (themselves pinned exact above)
    val sh = docs.map { case (id, t, _, _, _) => id -> Dedup.shingleSet(t).toSet }.toMap
    val truePairs = (for {
      (i, si) <- sh; (j, sj) <- sh if i < j
      ov = si.intersect(sj).size.toLong
      un = si.union(sj).size.toLong
      if ov.toDouble / un.toDouble >= 0.5
    } yield (i, j, ov, un)).toSeq
    assert(truePairs.nonEmpty)
    val lsh = Dedup.minhash(spark, dir, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"))).toSet
    val expected = truePairs
      .groupBy { case (_, _, ov, un) => (10L * ov) / un }
      .map { case (d, ps) =>
        val caught = ps.count { case (i, j, _, _) => lsh((i, j)) }.toLong
        (d, ps.size.toLong, caught, caught.toDouble / ps.size.toDouble)
      }.toSet
    val got = Dedup.dedupRecall(spark, dir).collect()
      .map(r => (r.getAs[Long]("j_decile"), r.getAs[Long]("n_true"),
        r.getAs[Long]("n_caught"), r.getAs[Double]("recall"))).toSet
    assert(got == expected)
    // non-vacuous: the constructed corpus populates more than one decile
    assert(got.size >= 2, s"decile table vacuous: $got")
  }

  test("dedupRecall sampled: 1/m hash filter lands on the scan, deciles match sampled replay") {
    // membership under the operator's own sample definition
    // (xxhash64(doc_id) % m == 0), read back per candidate modulus
    def sampled(m: Int): Set[Long] = spark.read
      .parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", s"pmod(xxhash64(doc_id), ${m}L) AS r")
      .collect().collect { case r if r.getLong(1) == 0L => r.getLong(0) }.toSet
    // smallest modulus whose sample still contains a true near-dup pair, so
    // the assertion below is non-vacuous regardless of hash placement
    val shs = docs.map { case (id, t, _, _, _) => id -> Dedup.shingleSet(t).toSet }.toMap
    def truePairsIn(ids: Set[Long]) = for {
      (i, si) <- shs; (j, sj) <- shs if i < j && ids(i) && ids(j)
      ov = si.intersect(sj).size.toLong; un = si.union(sj).size.toLong
      if ov.toDouble / un.toDouble >= 0.5
    } yield (i, j, ov, un)
    val m = (2 to 8).find(m => truePairsIn(sampled(m)).nonEmpty)
      .getOrElse(fail("no modulus in 2..8 keeps a near-dup pair — fixture drifted"))
    val ids = sampled(m)
    assert(ids.size < docs.size, "sample kept everything — modulus vacuous")
    val df = Dedup.dedupRecall(spark, dir, sampleMod = Some(m))
    // the deterministic sample filter sits in the scan stage of the plan
    // (before any shingling), not as a post-hoc pair filter. Since r16 the
    // recall harness's scan lives inside the checkpointed config-independent
    // artifact build (gset + group truth), so the query's own executed plan
    // reads checkpointed rows; the scan-stage property is asserted on
    // minhash's plan, which composes the SAME maybeSample(doc scan) frame
    // the harness wrapper feeds lshTuneOf.
    val plan = Dedup.minhash(spark, dir, threshold = 0.5, sampleMod = Some(m))
      .queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), s"sample filter missing from plan:\n$plan")
    val got = df.collect()
      .map(r => (r.getAs[Long]("j_decile"), r.getAs[Long]("n_true"),
        r.getAs[Long]("n_caught"), r.getAs[Double]("recall"))).toSet
    // replay: ground truth restricted to the sample; LSH side = the
    // operator's own sampled minhash pairs (pinned exact for the full
    // corpus above; sampling only shrinks its input)
    val lsh = Dedup.minhash(spark, dir, threshold = 0.5, sampleMod = Some(m))
      .collect().map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"))).toSet
    val expected = truePairsIn(ids).toSeq
      .groupBy { case (_, _, ov, un) => (10L * ov) / un }
      .map { case (d, ps) =>
        val caught = ps.count { case (i, j, _, _) => lsh((i, j)) }.toLong
        (d, ps.size.toLong, caught, caught.toDouble / ps.size.toDouble)
      }.toSet
    assert(got == expected)
    assert(got.nonEmpty, "sampled decile table vacuous")
  }

  test("minhashEstError: confusion matrix equals driver-side signature replay") {
    val got = Dedup.minhashEstError(spark, dir).collect()
      .map(r => (r.getAs[Long]("est_decile"), r.getAs[Long]("true_decile")) ->
        r.getAs[Long]("n_pairs")).toMap
    // driver model: every LSH candidate pair (some band key shared), then
    // estimate = matching signature slots, truth = exact shingle jaccard
    val sh = docs.map { case (id, t, _, _, _) => id -> Dedup.shingleSet(t) }.toMap
    val sig = sh.map { case (id, g) => id -> Dedup.signature(g) }
    val bands = sh.map { case (id, g) => id -> Dedup.bandKeys(g) }
    val ids = docs.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      if bands(a).zip(bands(b)).exists { case (x, y) => x == y }
    } yield {
      val est = sig(a).zip(sig(b)).count { case (x, y) => x == y }.toLong
      val ov = sh(a).toSet.intersect(sh(b).toSet).size.toLong
      val un = sh(a).toSet.union(sh(b).toSet).size.toLong
      ((10L * est) / Dedup.NumHashes, (10L * ov) / un)
    }).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == expected)
    // exact duplicates sit on the (10, 10) diagonal cell
    assert(got.contains((10L, 10L)))
  }

  test("lshTune: per-config decile recall equals a driver-side banding replay") {
    val got = Dedup.lshTune(spark, dir).collect()
      .map(r => (r.getAs[Long]("bands"), r.getAs[Long]("rows_per_band"),
        r.getAs[Long]("j_decile")) ->
        (r.getAs[Long]("n_true"), r.getAs[Long]("n_caught"))).toMap
    val sh = docs.map { case (id, t, _, _, _) => id -> Dedup.shingleSet(t) }.toMap
    val sig = sh.map { case (id, g) => id -> Dedup.signature(g) }
    val ids = docs.map(_._1)
    val truth = for {
      a <- ids; b <- ids if a < b
      ov = sh(a).toSet.intersect(sh(b).toSet).size.toLong
      un = sh(a).toSet.union(sh(b).toSet).size.toLong
      if ov.toDouble / un >= 0.5
    } yield (a, b, (10L * ov) / un)
    val expected = Dedup.TuneConfigs.flatMap { case (b, r) =>
      def caught(x: Long, y: Long) =
        Dedup.bandsOfSigR(sig(x), r).zip(Dedup.bandsOfSigR(sig(y), r))
          .exists { case (p, q) => p == q }
      truth.groupBy(_._3).map { case (dec, ps) =>
        (b.toLong, r.toLong, dec) ->
          (ps.size.toLong, ps.count(p => caught(p._1, p._2)).toLong)
      }
    }.toMap
    assert(got == expected)
    // the sweep is non-vacuous: every config sees the fixture's true pairs
    assert(got.keys.map(_._1).toSet == Dedup.TuneConfigs.map(_._1.toLong).toSet)
  }

  test("signature: slot minima are UNSIGNED minima of the remix stream") {
    // the DuckDB replay mins HUGEINT values in [0, 2^64); the Scala side
    // must order the same way or the replay picks different slot elements
    val g = Dedup.shingleSet(base)
    val hs = g.map(graft.functions.HashFunctions.fnv64)
    val got = Dedup.signature(g)
    (0 until Dedup.NumHashes).foreach { k =>
      val remixes = hs.map(h => Dedup.mix64(h + k * 0x9E3779B97F4A7C15L))
      val mn = remixes.reduce((a, b) =>
        if (java.lang.Long.compareUnsigned(a, b) <= 0) a else b)
      assert(got(k) == mn, s"slot $k: expected unsigned min")
    }
  }

  test("ngramJaccard: equals brute-force token-set jaccard at threshold") {
    val t = 0.8
    val expected = (for {
      i <- docs.indices; j <- docs.indices if i < j
      ji = jaccard(tokSet(docs(i)._2), tokSet(docs(j)._2)) if ji >= t
    } yield (docs(i)._1, docs(j)._1) -> ji).toMap
    val got = Dedup.ngramJaccard(spark, dir, threshold = t).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(got == expected)
    assert(got.nonEmpty) // sanity: the constructed corpus does contain pairs
  }

  test("ngramJaccard dense and prefix paths agree (vocab straddles the 64 cutoff)") {
    // 120-word vocabulary forces the prefix-filter path; the same docs
    // restricted to a 40-word vocabulary take the dense bitmask path.
    // Both must equal brute force.
    val s = spark
    import s.implicits._
    def corpus(vocabSize: Int): Seq[(Long, String)] =
      (0L until 60L).map { i =>
        val words = (0 until 20).map(j => s"w${(i * 7 + j * 3) % vocabSize}")
        (i, words.mkString(" "))
      } ++ Seq((60L, (0 until 20).map(j => s"w${(3L * 7 + j * 3) % vocabSize}").mkString(" ")))
    for (vs <- Seq(40, 120)) {
      val cs = corpus(vs)
      val d = scratchDir(s"dedup-path-$vs").toString
      cs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      val t = 0.6
      val expected = (for {
        i <- cs.indices; j <- cs.indices if i < j
        ji = jaccard(tokSet(cs(i)._2), tokSet(cs(j)._2)) if ji >= t
      } yield (cs(i)._1, cs(j)._1) -> ji).toMap
      val got = Dedup.ngramJaccard(spark, d, threshold = t).collect()
        .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")) -> r.getAs[Double]("jaccard"))
        .toMap
      assert(got == expected, s"vocab=$vs")
      assert(got.nonEmpty, s"vocab=$vs produced no pairs")
    }
  }

  private def shingles3(t: String): Set[String] = {
    val toks = t.trim.split("\\s+")
    if (toks.length >= 3)
      (0 to toks.length - 3).map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").toSet
    else Set(toks.mkString(" "))
  }

  test("jaccard3: equals brute-force shingle jaccard (exact recall, no S-curve)") {
    val t = 0.5
    val expected = (for {
      i <- docs.indices; j <- docs.indices if i < j
      ji = jaccard(shingles3(docs(i)._2), shingles3(docs(j)._2)) if ji >= t
    } yield (docs(i)._1, docs(j)._1) -> ji).toMap
    val got = Dedup.jaccard3(spark, dir, threshold = t).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("clusters: transitive closure of near-dup pairs, min label wins") {
    // docs 0,1,3 form one near-dup component (0~1, 0~3, 1~3); 2 and 4 are
    // singletons. Cluster ids must be the component-minimum doc_id.
    val got = Dedup.clusters(spark, dir, threshold = 0.5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 3L -> 0L, 2L -> 2L, 4L -> 4L))
  }

  test("canonical: longest member elected, kept rows are the deduplicated corpus") {
    val got = Dedup.canonical(spark, dir, threshold = 0.5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Long]("canonical_id"),
          r.getAs[Long]("n_members"), r.getAs[Boolean]("kept")))).toMap
    // component {0,1,3}: doc 1 (base + " extra") is the longest -> canonical
    assert(got(0L) == ((0L, 1L, 3L, false)))
    assert(got(1L) == ((0L, 1L, 3L, true)))
    assert(got(3L) == ((0L, 1L, 3L, false)))
    // singletons keep themselves
    assert(got(2L) == ((2L, 2L, 1L, true)))
    assert(got(4L) == ((4L, 4L, 1L, true)))
    // exactly one survivor per cluster — the kept set IS the deduped corpus
    val survivors = got.values.groupBy(_._1).map { case (c, vs) => c -> vs.count(_._4) }
    assert(survivors.values.forall(_ == 1))
  }

  test("clusters: a CHAIN a~b~c lands in one cluster even if a!~c") {
    val s = spark
    import s.implicits._
    // b shares half its shingles with a and the other half with c; a and c
    // share nothing — connectivity must come from propagation, not pairs
    val a = "one two three four five six seven eight nine ten"
    val c = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = a + " " + c
    val chain = Seq((10L, a), (11L, b), (12L, c),
      (13L, "totally unrelated words about spark physical plans here"))
    val d = scratchDir("dedup-chain").toString
    chain.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // chain threshold: J(a,b) ~ 8/17 ≈ 0.47, J(a,c) = 0
    val got = Dedup.clusters(spark, d, threshold = 0.4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 13L))
  }

  test("clusters: group-level propagation == doc-level propagation on a replica-deep corpus") {
    // the round-13 group-level CC must be bit-identical to propagating over
    // the full doc-level jaccard3 pair set — checked on the adversarial
    // shape it exists for: deep exact-duplicate groups (every replica pair
    // is an edge doc-level; group-level sees ONE node per distinct text)
    val s = spark
    import s.implicits._
    val base = Seq(
      "one two three four five six seven eight nine ten",
      "one two three four five six seven eight nine eleven", // near-dup of ^
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "words about catalyst physical plans and shuffle exchanges here")
    // 6 replicas of each text, entity-shifted ids (the ProbeData shape)
    val docs = for {
      (t, i) <- base.zipWithIndex; r <- 0 until 6
    } yield (100L * r + i, t)
    val d = scratchDir("dedup-groupcc").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val grouped = Dedup.clusters(spark, d, threshold = 0.5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val docLevel = Dedup.clusters(spark, d, threshold = 0.5,
        pairs = Some(Dedup.jaccard3(spark, d, threshold = 0.5)
          .select(col("doc1"), col("doc2")))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(grouped == docLevel)
    // texts 0 and 1 are near-dups: all 12 replicas share component min 0
    assert((0 until 6).flatMap(r => Seq(100L * r, 100L * r + 1))
      .forall(id => grouped(id) == 0L))
    // texts 2 and 3: replicas cluster to their own text's min id
    assert((0 until 6).forall(r => grouped(100L * r + 2) == 2L))
    assert((0 until 6).forall(r => grouped(100L * r + 3) == 3L))
    graft.TransientCache.releaseAll(spark)
  }

  test("memberFanOut deep branch: a past-cap group fans out via joins, pairs exact") {
    // FanOutDepthCap+6 identical docs force the membership-JOIN fan-out (the
    // nested explode would copy a >cap-long array per generated row — the
    // sf10 OOM shape); the output must be exactly every unordered pair at
    // jaccard 1.0, same as the shallow explode branch produces
    val s = spark
    import s.implicits._
    val n = Dedup.FanOutDepthCap + 6
    val d = scratchDir("dedup-deepfan").toString
    (0 until n).map(i => (500L + i, "alpha beta gamma", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Dedup.ngramJaccard(spark, d, threshold = 0.9)
    assert(got.count() == n.toLong * (n - 1) / 2)
    val sample = got.filter(col("doc1") === 500L && col("doc2") === 501L).collect()
    assert(sample.length == 1 && sample.head.getAs[Double]("jaccard") == 1.0)
    graft.TransientCache.releaseAll(spark)
  }

  test("minhash hot-bucket cap: a boilerplate black hole is dropped, exact pass catches it") {
    // MaxBucket+1 identical docs collapse into one LSH bucket in every band;
    // the cap must drop that bucket (no quadratic pair emission) while the
    // exact-dedup pass still reports the duplicate group — the documented
    // division of labor at 100 TB
    val s = spark
    import s.implicits._
    val n = Dedup.MaxBucket + 1
    val docs = (0 until n).map(i =>
      (1000L + i, "exactly the same boilerplate text repeated again and again", "en", "s", 57L))
    val d = scratchDir("dedup-hotbucket").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    assert(Dedup.minhash(spark, d).count() == 0)
    val dup = Dedup.exactDups(spark, d).collect()
    assert(dup.length == 1 && dup.head.getAs[Long]("n_copies") == n.toLong)
  }

  test("clusters: non-convergence within maxRounds fails loudly, not silently") {
    // 10-doc chain (only consecutive docs are similar): diameter 9 needs
    // ~9 propagation rounds; capping at 3 must throw, never return wrong ids
    val s = spark
    import s.implicits._
    val chain = (0 until 10).map { i =>
      (100L + i, (i until i + 10).map(j => s"w$j").mkString(" "))
    }
    val d = scratchDir("dedup-longchain").toString
    chain.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val e = intercept[IllegalStateException] {
      Dedup.clusters(spark, d, threshold = 0.7, maxRounds = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and with enough rounds the same chain resolves to one component
    val ok = Dedup.clusters(spark, d, threshold = 0.7, maxRounds = 20).collect()
      .map(r => r.getAs[Long]("cluster_id")).toSet
    assert(ok == Set(100L))
  }

  test("simhashPairs: complete at every maxHamming (derived chunk count)") {
    val sigs = Dedup.simhashSigs(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    for (mh <- Seq(0, 3, 5, 11)) {
      val expected = (for {
        i <- docs.indices; j <- docs.indices if i < j
        h = java.lang.Long.bitCount(sigs(docs(i)._1) ^ sigs(docs(j)._1)) if h <= mh
      } yield (docs(i)._1, docs(j)._1)).toSet
      val got = Dedup.simhashPairs(spark, dir, maxHamming = mh).collect()
        .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")))
        .toSet
      assert(got == expected, s"maxHamming=$mh: got $got expected $expected")
    }
  }

  test("simhash: identical docs at hamming 0; unrelated docs far apart") {
    val sigs = Dedup.simhashSigs(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(0L) == sigs(3L))
    val d02 = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    assert(d02 > 3, s"unrelated docs unexpectedly close: hamming $d02")
    val pairs = Dedup.simhashPairs(spark, dir, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")))
    assert(pairs.contains((0L, 3L)))
  }

  // ------------------------------------------------------------ sortedNeighborhood

  private def sortedPairs(d: String, window: Int = Dedup.SortedWindow) =
    Dedup.sortedNeighborhood(spark, d, window = window).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"))).toSet

  test("sortedNeighborhood: near-dups adjacent in length order are found; " +
      "pairs pushed out of the window by rank are not (the documented trade)") {
    val s = spark
    import s.implicits._
    val d = scratchDir("dedup-sorted").toString
    val nearA = base // length L
    val nearB = base + " x" // L+2: rank-adjacent to A
    // longer unrelated padding docs: they all sort AFTER the near-dup trio,
    // so A,B,C stay rank-consecutive and the pads are pure negatives
    val pads = (0 until 6).map { i =>
      (10L + i,
        s"pad document number $i with its own distinct words entirely unrelated" +
          " filler" * (i + 1))
    }
    val nearC = base + " y" // same LENGTH as nearB, same content family
    val rows = (Seq((0L, nearA), (1L, nearB), (2L, nearC)) ++ pads)
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // A(rank by len) < B == C in length; B and C tie-break by doc_id, so
    // A,B,C are rank-consecutive and all pads sort AFTER them: the window
    // finds all three pairs
    val got = sortedPairs(d)
    assert(got.contains((0L, 1L)) && got.contains((0L, 2L)) && got.contains((1L, 2L)))
    // window 1: each doc sees ONE predecessor — (0,1) and (1,2) survive,
    // the rank-distance-2 pair (0,2) is lost: recall is bounded by the
    // window, the sorted-neighborhood contract
    val w1 = sortedPairs(d, window = 1)
    assert(w1.contains((0L, 1L)) && w1.contains((1L, 2L)) && !w1.contains((0L, 2L)))
  }

  test("sortedNeighborhood: fixture matches a driver-side rank-window replay") {
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val hs = docs.map { case (id, _, t) =>
      id -> Dedup.shingleSet(t).map(graft.functions.HashFunctions.fnv64).distinct.toSet
    }.toMap
    val ranked = docs.sortBy(d => (d._2, d._1)).map(_._1)
    val expected = (for {
      i <- ranked.indices
      j <- math.max(0, i - Dedup.SortedWindow) until i
      a = ranked(j); b = ranked(i)
      ov = hs(a).intersect(hs(b)).size
      jac = ov.toDouble / (hs(a).size + hs(b).size - ov).toDouble
      if jac >= 0.5
    } yield (math.min(a, b), math.max(a, b))).toSet
    assert(sortedPairs(Sf0001) == expected)
    // the fixture's planted near-dups are length-adjacent: non-vacuous
    assert(expected.nonEmpty)
  }

  test("corpusOverlap: full source grid matches a driver-side shingle-set replay") {
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = docs.groupBy(_._1).map { case (src, ds) =>
      src -> ds.flatMap(d => Dedup.shingleSet(d._2)).toSet
    }
    val sources = bySource.keys.toSeq.sorted
    val expected = (for {
      a <- sources; b <- sources if a < b
      sa = bySource(a); sb = bySource(b)
      shared = sa.intersect(sb).size
    } yield (a, b, sa.size.toLong, sb.size.toLong, shared.toLong,
        shared.toDouble / (sa.size + sb.size - shared).toDouble)).toSet
    val got = Dedup.corpusOverlap(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got === expected)
    // every ordered pair is present (zero-overlap pairs included), and the
    // fixture's planted cross-source duplicates make at least one pair hot
    assert(got.size == sources.size * (sources.size - 1) / 2)
    assert(got.exists(_._5 > 0), "no source pair shares a shingle — vacuous")
    TransientCache.releaseAll(spark)
  }

  test("groupGraph exact-text collapse is lossless: collapse on/off produce " +
      "identical membership and edges on planted duplicate+near-dup corpora") {
    // The r15 sf1000 fix collapses identical texts on md5 BEFORE shingling.
    // The in-code argument (identical texts ⇒ identical shingle sets; gid =
    // min over rep ids = min over member ids) is pinned here differentially:
    // the collapsed path must equal the pre-collapse shape label-for-label,
    // not just on the oracle fixture's particular duplicate pattern. Three
    // seeded corpora, each with exact-duplicate clusters of varied depth
    // (incl. singletons), near-dup variants bridging clusters, and ids
    // assigned in shuffled order so min-id election is non-trivial.
    val s = spark
    import s.implicits._
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
      "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango",
      "uniform", "victor", "whiskey", "xray", "yankee", "zulu")
    for (seed <- Seq(7L, 41L, 1234L)) {
      val rnd = new scala.util.Random(seed)
      def text(n: Int): String =
        Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
      val bases = Seq.fill(6)(text(10 + rnd.nextInt(8)))
      val texts = scala.collection.mutable.Buffer[String]()
      bases.foreach { b =>
        val depth = 1 + rnd.nextInt(5) // exact-dup cluster, depth 1..5
        (0 until depth).foreach(_ => texts += b)
        if (rnd.nextBoolean()) texts += b + " " + text(2) // near-dup variant
      }
      (0 until 4).foreach(_ => texts += text(12)) // distinct background
      val ids = rnd.shuffle((0 until texts.size).map(_.toLong * 3 + 1).toVector)
      val docsDf = ids.zip(texts).toDF("doc_id", "text")
      def graphOf(collapse: Boolean): Set[(String, Long, Long)] =
        Dedup.groupGraphOf(spark, docsDf, 0.5, collapseExact = collapse)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val on = graphOf(true)
      val off = graphOf(false)
      assert(on == off, s"collapse on/off diverged at seed $seed: " +
        s"only-on=${(on -- off).take(5)} only-off=${(off -- on).take(5)}")
      // non-vacuous: the corpus actually has multi-member groups and at
      // least one verified cross-group edge somewhere in the three seeds
      assert(on.count(_._1 == "m") == texts.size,
        s"membership rows != docs at seed $seed")
    }
    TransientCache.releaseAll(spark)
  }

  test("minhash-family exact-text collapse is lossless: collapse on/off " +
      "produce identical pairs, confusion matrices and recall tables") {
    // Round 16 extends the groupGraph collapse (above) to minhash,
    // minhashEstError and lshTune/dedupRecall: shingling, signatures and
    // the skey shuffle run once per DISTINCT text. Same differential pin,
    // same planted-corpus recipe: exact-dup clusters of varied depth,
    // near-dup bridges, shuffled id assignment so min-id election is
    // non-trivial. The outputs must be bit-identical (doubles included —
    // both paths divide the same exact integers).
    val s = spark
    import s.implicits._
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
      "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    for (seed <- Seq(11L, 97L, 5150L)) {
      val rnd = new scala.util.Random(seed)
      def text(n: Int): String =
        Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
      val bases = Seq.fill(5)(text(10 + rnd.nextInt(8)))
      val texts = scala.collection.mutable.Buffer[String]()
      bases.foreach { b =>
        val depth = 1 + rnd.nextInt(5)
        (0 until depth).foreach(_ => texts += b)
        if (rnd.nextBoolean()) texts += b + " " + text(2)
      }
      (0 until 4).foreach(_ => texts += text(12))
      val ids = rnd.shuffle((0 until texts.size).map(_.toLong * 7 + 3).toVector)
      val docsDf = ids.zip(texts).toDF("doc_id", "text")
      def diff[A](name: String, on: Set[A], off: Set[A]): Unit =
        assert(on == off, s"$name collapse on/off diverged at seed $seed: " +
          s"only-on=${(on -- off).take(5)} only-off=${(off -- on).take(5)}")
      def mh(collapse: Boolean) =
        Dedup.minhashOf(spark, docsDf, 0.5, collapseExact = collapse)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val mhOn = mh(true)
      diff("minhash", mhOn, mh(false))
      assert(mhOn.exists(_._3 == 1.0),
        s"no exact-dup pair at seed $seed — collapse path vacuous")
      def ee(collapse: Boolean) =
        Dedup.minhashEstErrorOf(spark, docsDf, collapseExact = collapse)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val eeOn = ee(true)
      diff("minhashEstError", eeOn, ee(false))
      assert(eeOn.exists { case (e, t, _) => e == 10L && t == 10L },
        s"no (10,10) diagonal mass at seed $seed — exact dups missing")
      def lt(collapse: Boolean) =
        Dedup.lshTuneOf(spark, docsDf, 0.5, Dedup.TuneConfigs,
            collapseExact = collapse)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      diff("lshTune", lt(true), lt(false))
      TransientCache.releaseAll(spark)
    }
  }
}
