package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Corpus

/** Corpus-statistics operators: vocabulary build + dictionary encode,
  * bigram collocation mining, and exact per-source order statistics —
  * hand-computed semantics on planted corpora.
  */
class CorpusSpec extends AnyFunSuite {
  import TestSpark._

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = scratchDir("corpus").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars") // fixture n_chars is BIGINT
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // --------------------------------------------------------- vocabEncode

  test("vocabEncode: ids follow frequency rank with lexicographic ties, OOV -> -1") {
    // freqs: b=3, a=2, c=2, z=1. k=3 vocab: b->0, a->1 (ties a<c), c->2; z OOV
    val dir = writeDocs(Seq(
      (1L, "b a c b", "en", "s0"),
      (2L, "b c a z", "en", "s0")))
    val byId = Corpus.vocabEncode(spark, dir, k = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[String]("ids") == "0,1,2,0")
    assert(byId(1L).getAs[Long]("n_toks") == 4L)
    assert(byId(1L).getAs[Long]("oov_count") == 0L)
    assert(byId(2L).getAs[String]("ids") == "0,2,1,-1")
    assert(byId(2L).getAs[Long]("oov_count") == 1L)
  }

  test("vocabEncode: id order is position order, not value order") {
    // single doc, descending-frequency prefix ensures ids are NOT sorted
    val dir = writeDocs(Seq((7L, "x y x", "en", "s0")))
    val r = Corpus.vocabEncode(spark, dir, k = 2).collect().head
    // x freq 2 -> id 0, y freq 1 -> id 1; positions x y x -> "0,1,0"
    assert(r.getAs[String]("ids") == "0,1,0")
  }

  // ---------------------------------------------------------- collocLift

  test("collocLift: hand-computed lift on a planted fixed phrase") {
    // tokens: "new york" always adjacent; "big" scattered.
    // doc1: new york big        doc2: big new york
    // stream: N=6 tokens, pairs: (new,york) (york,big) (big,new) (new,york) -> np=4
    // counts: new=2 york=2 big=2; pair (new,york)=2
    // lift(new,york) = (2*6*6)/(4*2*2) = 72/16 = 4.5
    val dir = writeDocs(Seq(
      (1L, "new york big", "en", "s0"),
      (2L, "big new york", "en", "s0")))
    val rows = Corpus.collocLift(spark, dir, k = 10).collect()
    val ny = rows.find(r =>
      r.getAs[String]("w1") == "new" && r.getAs[String]("w2") == "york").get
    assert(ny.getAs[Long]("pair_cnt") == 2L)
    assert(ny.getAs[Long]("c1") == 2L && ny.getAs[Long]("c2") == 2L)
    assert(ny.getAs[Double]("lift") == 4.5)
    // the fixed phrase outranks every incidental pair
    assert(rows.head.getAs[String]("w1") == "new")
    assert(rows.head.getAs[String]("w2") == "york")
  }

  test("collocLift: single-token docs contribute unigrams but no pairs") {
    val dir = writeDocs(Seq(
      (1L, "solo", "en", "s0"),
      (2L, "a b", "en", "s0")))
    val rows = Corpus.collocLift(spark, dir, k = 10).collect()
    // only pair is (a,b): lift = (1*3*3)/(1*1*1) = 9 — N counts "solo" too
    assert(rows.length == 1)
    assert(rows.head.getAs[Double]("lift") == 9.0)
  }

  // ----------------------------------------------------- sourceQuantiles

  test("sourceQuantiles: discrete p50/p90 are the ceil-rank order statistics") {
    // source s0: lengths 1..10 (doc_id = length for tiebreak determinism)
    // p50 -> rank ceil(10*0.5)=5 -> value 5; p90 -> rank 9 -> value 9
    val docs = (1 to 10).map(i => (i.toLong, "x" * i, "en", "s0")) :+
      (99L, "yyy", "en", "s1") // singleton source: all stats = 3
    val dir = writeDocs(docs)
    val bysrc = Corpus.sourceQuantiles(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s0 = bysrc("s0")
    assert(s0.getAs[Long]("n_docs") == 10L)
    assert(s0.getAs[Long]("min_chars") == 1L && s0.getAs[Long]("max_chars") == 10L)
    assert(s0.getAs[Long]("p50_chars") == 5L)
    assert(s0.getAs[Long]("p90_chars") == 9L)
    val s1 = bysrc("s1")
    assert(s1.getAs[Long]("n_docs") == 1L)
    assert(s1.getAs[Long]("p50_chars") == 3L && s1.getAs[Long]("p90_chars") == 3L)
  }

  test("sourceQuantiles: duplicate lengths keep ranks unique via doc_id tiebreak") {
    // four docs all length 2: every rank formula still hits exactly one row
    val dir = writeDocs((1 to 4).map(i => (i.toLong, "ab", "en", "s0")))
    val r = Corpus.sourceQuantiles(spark, dir).collect().head
    assert(r.getAs[Long]("p50_chars") == 2L && r.getAs[Long]("p90_chars") == 2L)
  }

  // ------------------------------------------------------------ searchDocs

  test("searchDocs: conjunction requires every term, score is total hits") {
    val dir = writeDocs(Seq(
      (1L, "spark table fast spark", "en", "s0"),   // all 3 -> score 4
      (2L, "spark table table spark table", "en", "s0"), // missing fast
      (3L, "fast table spark fast fast", "en", "s0"),    // all 3 -> score 5
      (4L, "unrelated words only", "en", "s0")))
    val rows = Corpus.searchDocs(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score")))
    assert(rows.toSeq == Seq((3L, 5L), (1L, 4L)))
  }

  test("searchDocs: score ties rank by ascending doc_id, k caps the answer") {
    val dir = writeDocs((1 to 5).map(i => (i.toLong, "spark table fast", "en", "s0")))
    val rows = Corpus.searchDocs(spark, dir, k = 3).collect()
      .map(r => r.getAs[Long]("doc_id"))
    assert(rows.toSeq == Seq(1L, 2L, 3L))
  }

  // ------------------------------------------- randomized differentials

  private def randTexts(n: Int, seed: Long): Seq[String] = {
    import org.scalacheck.{Gen, rng}
    // small alphabet so frequencies collide and the OOV tail is real
    val word = Gen.choose(1, 3).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf('a' to 'f')).map(_.mkString))
    val text = Gen.choose(1, 60).flatMap(k => Gen.listOfN(k, word).map(_.mkString(" ")))
    Gen.listOfN(n, text).apply(Gen.Parameters.default, rng.Seed(seed))
      .getOrElse(fail("generator produced no sample"))
  }

  test("vocabEncode differential: ids == brute-force model on a random corpus") {
    val texts = randTexts(40, 31L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") })
    val k = 10
    val got = Corpus.vocabEncode(spark, dir, k = k).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("oov_count"), r.getAs[String]("ids")))
      .toMap
    val docToks = texts.zipWithIndex.map { case (t, i) => i.toLong -> t.trim.split("\\s+").toSeq }
    val freq = docToks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vid = freq.toSeq.sortBy { case (w, c) => (-c, w) }.take(k)
      .zipWithIndex.map { case ((w, _), i) => w -> i }.toMap
    val expected = docToks.map { case (id, toks) =>
      val ids = toks.map(t => vid.getOrElse(t, -1))
      id -> (toks.length.toLong, ids.count(_ == -1).toLong, ids.mkString(","))
    }.toMap
    assert(got == expected)
  }

  test("collocLift differential: top-k == brute-force model on a random corpus") {
    val texts = randTexts(30, 47L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") })
    val got = Corpus.collocLift(spark, dir, k = 15).collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"), r.getAs[Long]("pair_cnt"),
        r.getAs[Long]("c1"), r.getAs[Long]("c2"), r.getAs[Double]("lift"))).toSeq
    val docToks = texts.map(_.trim.split("\\s+").toSeq)
    val uni = docToks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = docToks.map(_.size).sum.toLong
    val bgs = docToks.flatMap(ts => ts.zip(ts.drop(1)))
    val np = bgs.size.toLong
    val expected = bgs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((w1, w2), pc) =>
        val lift = ((pc.toDouble * n.toDouble) * n.toDouble) /
          ((np.toDouble * uni(w1).toDouble) * uni(w2).toDouble)
        (w1, w2, pc, uni(w1), uni(w2), lift)
      }
      .sortBy { case (w1, w2, _, _, _, lift) => (-lift, w1, w2) }
      .take(15)
    assert(got == expected)
  }

  test("searchDocs differential: top-k == brute-force model on a random corpus") {
    val texts = randTexts(60, 59L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") })
    val terms = Seq("a", "b", "c") // single letters are common in the generator
    val got = Corpus.searchDocs(spark, dir, terms = terms, k = 7).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    val expected = texts.zipWithIndex.flatMap { case (t, i) =>
      val toks = t.split("[^\\p{L}]+").filter(_.nonEmpty)
      val hits = toks.filter(terms.contains)
      if (terms.forall(hits.contains)) Some((i.toLong, hits.length.toLong)) else None
    }.sortBy { case (id, sc) => (-sc, id) }.take(7)
    assert(got == expected)
  }

  test("bm25Search differential: scores == driver-side model, bit-exact") {
    val texts = randTexts(80, 83L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") })
    val terms = Seq("a", "b", "c")
    val got = Corpus.bm25Search(spark, dir, terms = terms, k = 12).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"), r.getAs[Double]("score")))
      .toSeq
    // model replicates the exact double expression tree and fold order
    val toks = texts.map(_.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq)
    val n = toks.count(_.nonEmpty)
    val avgdl = toks.map(_.length.toLong).sum.toDouble / n.toDouble
    val dfm = terms.map(t => t -> toks.count(_.contains(t))).toMap
    import Corpus.{Bm25B => b, Bm25K1 => k1}
    val expected = toks.zipWithIndex.flatMap { case (tk, i) =>
      val present = terms.filter(tk.contains).sorted
      if (present.isEmpty) None else {
        val score = present.foldLeft(0.0) { (acc, t) =>
          val tf = tk.count(_ == t).toDouble
          val idf = ((n.toDouble - dfm(t).toDouble) + 0.5) / (dfm(t).toDouble + 0.5)
          acc + idf * ((tf * (k1 + 1.0))
            / (tf + k1 * ((1.0 - b) + b * (tk.length.toDouble / avgdl))))
        }
        Some((i.toLong, present.length.toLong, score))
      }
    }.sortBy { case (id, _, s) => (-s, id) }.take(12)
    assert(got == expected)
  }

  test("bm25Search: rarer term outranks commoner term at equal tf and length") {
    // 'rare' appears in 2 docs, 'common' in 10; probes are same length/tf,
    // so only idf separates them — BM25 must rank the rare-term doc first
    val filler = (0 until 8).map(i => s"pad$i w x y z").toSeq
    val docs = Seq((0L, "rare one two three"), (1L, "common one two three")) ++
      (2L until 10L).map(i => (i, s"common ${filler((i - 2).toInt)}")) ++
      Seq((10L, s"rare ${filler(0)}"))
    val dir = writeDocs(docs.map { case (id, t) => (id, t, "en", "s") })
    val got = Corpus.bm25Search(spark, dir, terms = Seq("rare", "common"), k = 20)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(got(0L) > got(1L), s"rare-term doc must outrank: ${got(0L)} vs ${got(1L)}")
  }

  test("ragContextPack: prefix pack in rank order, budget cuts the pool") {
    // scores rank doc 0 > 1 > 2 (more query-term hits, same length); budget
    // admits ranks 1–2 (10 + 10 = 20 ≤ 25) and cuts rank 3 (30 > 25). The
    // packed rows carry the running total, and the pack never reorders.
    val pad = (1 to 7).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (0L, s"q q q $pad"),       // 10 toks, tf=3
      (1L, s"q q one $pad"),     // 10 toks, tf=2
      (2L, s"q one two $pad"),   // 10 toks, tf=1
      (3L, s"none here at all a b c d e f"))
    val dir = writeDocs(docs.map { case (id, t) => (id, t, "en", "s") })
    val got = Corpus.ragContextPack(spark, dir, terms = Seq("q"),
        poolK = 10, budget = 25)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("n_toks"), r.getAs[Long]("cum_toks"))).toSeq
    assert(got == Seq((0L, 1L, 10L, 10L), (1L, 2L, 10L, 20L)))
    // a poolK below the budget's reach truncates the pool first
    val one = Corpus.ragContextPack(spark, dir, terms = Seq("q"),
        poolK = 1, budget = 1000).collect()
    assert(one.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L))
  }

  test("qualityBandKeep differential: band == order-statistic model per source") {
    // two sources with different score distributions; keep iff
    // t_lo < score <= t_hi where t_p is the smallest score whose cumulative
    // count reaches ceil(n*p/100) within the doc's own source
    val texts = randTexts(90, 17L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", if (i % 3 == 0) "sA" else "sB") })
    val scores = Corpus.classifierScore(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score")).toMap
    val bySource = scores.toSeq.groupBy { case (id, _) =>
      if (id % 3 == 0) "sA" else "sB" }
    def thr(ss: Seq[Long], p: Int): Long = {
      val sorted = ss.sorted
      sorted((ss.length * p + 99) / 100 - 1)
    }
    val th = bySource.map { case (src, m) =>
      val ss = m.map(_._2)
      src -> (thr(ss, Corpus.BandLoPct), thr(ss, Corpus.BandHiPct))
    }
    val got = Corpus.qualityBandKeep(spark, dir).collect()
    assert(got.length == 90)
    got.foreach { r =>
      val (id, src) = (r.getAs[Long]("doc_id"), r.getAs[String]("source"))
      val (lo, hi) = th(src)
      assert(r.getAs[Long]("score") == scores(id), s"score mismatch for $id")
      assert(r.getAs[Boolean]("keep") == (scores(id) > lo && scores(id) <= hi),
        s"keep mismatch for doc $id (score ${scores(id)}, band ($lo, $hi])")
    }
    // the band actually separates: some kept, some dropped, in each source
    Seq("sA", "sB").foreach { src =>
      val ks = got.filter(_.getAs[String]("source") == src).map(_.getAs[Boolean]("keep"))
      assert(ks.contains(true) && ks.contains(false), s"degenerate band in $src")
    }
  }

  test("hashEmbed differential: vote sums == driver-side FNV model") {
    val texts = randTexts(50, 91L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
      // empty / whitespace-only docs must embed to the zero vector (no rows),
      // not cast a spurious fnv64("") vote
      ++ Seq((1000L, "", "en", "s"), (1001L, "   ", "en", "s")))
    val got = Corpus.hashEmbed(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("dim")) -> r.getAs[Long]("val"))
      .toMap
    val expected = texts.zipWithIndex.flatMap { case (t, i) =>
      t.trim.split("\\s+").filter(_.nonEmpty).map { tok =>
        val h = graft.functions.HashFunctions.fnv64(tok)
        ((h & 31L).toInt, if (((h >> 32) & 1L) == 0L) 1L else -1L)
      }.groupBy(_._1).map { case (dim, vs) => (i.toLong, dim) -> vs.map(_._2).sum }
    }.toMap.filter(_._2 != 0L)
    assert(got == expected)
    // sparse contract: no zero votes emitted, dims inside [0, 32)
    assert(got.values.forall(_ != 0L))
    assert(got.keys.forall { case (_, d) => d >= 0 && d < 32 })
    assert(!got.keys.exists(_._1 >= 1000L), "empty docs must emit no rows")
  }

  test("classifierScore differential: scores == driver-side fold of votes × weights") {
    val texts = randTexts(50, 137L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
      ++ Seq((1000L, "", "en", "s"), (1001L, "   ", "en", "s")))
    val w = Corpus.clsWeights(32)
    // the stand-in model must be non-degenerate: both signs present, no zeros
    assert(w.exists(_ > 0) && w.exists(_ < 0) && w.forall(_ != 0))
    val got = Corpus.classifierScore(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("score"), r.getAs[Boolean]("label")))).toMap
    val expected = (texts.zipWithIndex.map { case (t, i) =>
      val score = t.trim.split("\\s+").filter(_.nonEmpty).map { tok =>
        val h = graft.functions.HashFunctions.fnv64(tok)
        val vote = if (((h >> 32) & 1L) == 0L) 1L else -1L
        vote * w((h & 31L).toInt)
      }.sum
      i.toLong -> ((score, score > 0L))
    } ++ Seq(1000L -> ((0L, false)), 1001L -> ((0L, false)))).toMap
    assert(got == expected)
  }

  test("plan shapes: no unpartitioned window; search filter precedes the shuffle") {
    val dir = writeDocs(Seq((1L, "spark table fast", "en", "s0")))
    // vocab_encode must not reintroduce a single-partition WindowExec: the
    // id assignment is TakeOrdered + zipWithIndex by construction
    val vplan = Corpus.vocabEncode(spark, dir).queryExecution.executedPlan.toString
    assert(!vplan.contains("Window"), s"unexpected WindowExec in:\n$vplan")
    // search_docs: the term filter must sit below the exchange so the
    // shuffle carries only query-term postings. Match the term IN-filter
    // LINE specifically: a bare "Filter" search is unconditionally true
    // because the parquet scan line prints "PushedFilters:" below every
    // Exchange (sparkPlan has no exchanges yet — EnsureRequirements runs
    // in executedPlan, so line depth in that tree is the check)
    val lines = Corpus.searchDocs(spark, dir).queryExecution.executedPlan
      .toString.linesIterator.toIndexedSeq
    val exchangeAt = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val filterAt = lines.indexWhere(l => l.contains("Filter") && l.contains("IN (spark"))
    assert(exchangeAt >= 0, s"expected a shuffle in:\n${lines.mkString("\n")}")
    assert(filterAt > exchangeAt,
      s"term IN-filter (line $filterAt) is not below the exchange (line $exchangeAt):\n${
        lines.mkString("\n")}")
  }

  // ------------------------------------------------------- heavyHitters

  test("heavyHitters: exact top-k under real MG eviction pressure") {
    // counters=4 forces evictions (22 distinct tokens); guarantee holds:
    // n=100, floor n/(C+1)=20, and the 2nd-ranked count 30 > 20
    val junk = (1 to 20).map(i => s"junk$i")
    val text = (Seq.fill(50)("hot") ++ Seq.fill(30)("warm") ++ junk).mkString(" ")
    val dir = writeDocs(Seq((1L, text, "en", "s0")))
    val got = Corpus.heavyHitters(spark, dir, k = 2, counters = 4).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("cnt"), r.getAs[Int]("rank")))
    assert(got.toSeq == Seq(("hot", 50L, 1), ("warm", 30L, 2)))
  }

  test("mgFoldWeighted differential: == unit mgFold on the expanded stream") {
    // the weighted fold's δ-round (δ = min(w, smallest counter)) must be
    // EXACTLY a batch of δ unit rounds — same evictions, same insert point,
    // same final counters — because q60's live-sketch state folds weighted
    // combiner partials while the unit fold defines MG semantics everywhere
    // else. Randomized over seeds, eviction pressure forced (C = 4).
    def unitMap(stream: Seq[String], c: Int) = {
      val m = new java.util.HashMap[String, Array[Long]](c * 2)
      Corpus.mgFold(m, stream.iterator, c)
      m
    }
    def toScala(m: java.util.HashMap[String, Array[Long]]) = {
      import scala.jdk.CollectionConverters._
      m.entrySet().asScala.map(e => e.getKey -> e.getValue()(0)).toMap
    }
    var seed = 1234567L
    def next(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n) + n).toInt % n
    }
    for (_ <- 1 to 50) {
      val pairs = Seq.fill(20)((s"t${next(12)}", (next(7) + 1).toLong))
      val weighted = new java.util.HashMap[String, Array[Long]](8)
      // seed both maps with the same resident state
      val resident = Seq.fill(3)((s"r${next(5)}", (next(4) + 1).toLong))
        .distinctBy(_._1)
      resident.foreach { case (t, w) => weighted.put(t, Array(w)) }
      val expanded = resident.flatMap { case (t, w) => Seq.fill(w.toInt)(t) } ++
        pairs.flatMap { case (t, w) => Seq.fill(w.toInt)(t) }
      // build the unit map by replaying residents first (insert-order
      // parity), then the pairs
      val um = unitMap(expanded, 4)
      Corpus.mgFoldWeighted(weighted, pairs.iterator, 4)
      assert(toScala(weighted) === toScala(um),
        s"pairs=$pairs resident=$resident")
    }
  }

  test("heavyHitters differential: == brute-force top-k on a random corpus") {
    val texts = randTexts(40, 59L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") })
    val got = Corpus.heavyHitters(spark, dir, k = 12).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("cnt"), r.getAs[Int]("rank"))).toSeq
    val freq = texts.flatMap(t => operators.TextOps.wsTokens(t))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val expected = freq.sortBy { case (w, c) => (-c, w) }.take(12)
      .zipWithIndex.map { case ((w, c), i) => (w, c, i + 1) }
    assert(got == expected)
  }

  test("mgSurvivors: survivors are a superset of tokens above the MG floor") {
    // skewed stream: token t_i appears 2^i times, shuffled deterministically
    val stream = (0 until 10).flatMap(i => Seq.fill(1 << i)(s"t$i"))
    val shuffled = new scala.util.Random(13).shuffle(stream)
    val counters = 3
    val n = shuffled.size
    // split into 4 "partitions"; union of per-partition survivors
    val parts = shuffled.grouped((n + 3) / 4).toSeq
    val survivors = parts.flatMap(p => Corpus.mgSurvivors(p.iterator, counters)).toSet
    val freq = stream.groupBy(identity).view.mapValues(_.size).toMap
    val mustSurvive = freq.collect {
      case (t, c) if c.toLong * (counters + 1) > n => t
    }.toSet
    assert(mustSurvive.nonEmpty && mustSurvive.subsetOf(survivors))
  }

  test("heavyHitters: completeness guard fails loudly on a flat distribution") {
    // 30 distinct tokens, once each; counters=2 -> floor n/3 = 10 > every count
    val dir = writeDocs(Seq((1L, (1 to 30).map(i => s"w$i").mkString(" "), "en", "s0")))
    val e = intercept[IllegalArgumentException] {
      Corpus.heavyHitters(spark, dir, k = 5, counters = 2)
    }
    assert(e.getMessage.contains("completeness guarantee unmet"))
  }

  test("sourceQuantiles differential: rank formulas == brute-force model") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 200).map { i =>
      (i.toLong, "x" * (1 + rnd.nextInt(50)), "en", s"s${rnd.nextInt(5)}")
    }
    val dir = writeDocs(docs)
    val got = Corpus.sourceQuantiles(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("min_chars"), r.getAs[Long]("max_chars"),
          r.getAs[Long]("p50_chars"), r.getAs[Long]("p90_chars"))).toMap
    val expected = docs.groupBy(_._4).map { case (src, ds) =>
      val lens = ds.sortBy(d => (d._2.length, d._1)).map(_._2.length.toLong)
      val n = lens.length
      def at(p: Int) = lens((n * p + 99) / 100 - 1)
      src -> (n.toLong, lens.min, lens.max, at(50), at(90))
    }
    assert(got == expected)
  }

  // ------------------------------------------------------------- lmScore

  private def lmRows(dir: String): Map[Long, (Long, Long, Double)] =
    Corpus.lmScore(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_singleton"),
          r.getAs[Double]("sum_p")))).toMap

  test("lmScore: hand-computed bigram conditionals on a planted corpus") {
    // bigrams: doc1 (a,b)(b,a)(a,b); doc2 (a,b)(b,c); doc3 none.
    // c(a,b)=3 c(b,a)=1 c(b,c)=1; c(a,.)=3 c(b,.)=2.
    // doc1: 3/3 + 1/2 + 3/3 = 2.5, one singleton (b,a)
    // doc2: 3/3 + 1/2     = 1.5, one singleton (b,c)
    // doc3: explicit zero row (no bigrams)
    val dir = writeDocs(Seq(
      (1L, "a b a b", "en", "s0"),
      (2L, "a b c", "en", "s0"),
      (3L, "x", "en", "s0")))
    val got = lmRows(dir)
    assert(got(1L) == ((3L, 1L, 2.5)))
    assert(got(2L) == ((2L, 1L, 1.5)))
    assert(got(3L) == ((0L, 0L, 0.0)))
  }

  test("lmScore differential: fixture == driver-side bigram model, bit-exact") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    def toks(t: String) = graft.operators.TextOps.wsTokens(t)
    val bigrams = docs.flatMap { case (id, t) =>
      val w = toks(t)
      (0 until w.length - 1).map(i => (id, i, w(i), w(i + 1)))
    }
    val cxy = bigrams.groupBy(b => (b._3, b._4)).map { case (k, v) => k -> v.length.toLong }
    val cx = cxy.groupBy(_._1._1).map { case (x, m) => x -> m.values.sum }
    val expected = docs.map { case (id, t) =>
      val w = toks(t)
      val ps = (0 until w.length - 1).map { i =>
        (cxy((w(i), w(i + 1))), cx(w(i)))
      }
      // fold in position order — the same IEEE sequence the operator uses
      var sum = 0.0
      ps.foreach { case (c, n) => sum += c.toDouble / n.toDouble }
      id -> ((ps.length.toLong, ps.count(_._1 == 1L).toLong, sum))
    }.toMap
    assert(lmRows(TestSpark.Sf0001) == expected)
  }

  test("lmScore: predictable transitions outscore scattered ones") {
    // the quality-filter direction: a looped phrase's transitions are
    // certain (p=1); a head with many distinct continuations splits its
    // mass. NOTE a head occurring ONCE also gives p=1 under a train==score
    // corpus — uncertainty needs the head to recur with different tails,
    // which is what doc 2 plants ("one" → two/three/four).
    val dir = writeDocs(Seq(
      (1L, "spam spam spam spam spam spam", "en", "s0"),
      (2L, "one two one three one four", "en", "s0")))
    val got = lmRows(dir)
    val avg1 = got(1L)._3 / got(1L)._1
    val avg2 = got(2L)._3 / got(2L)._1
    assert(avg1 == 1.0) // five (spam,spam) bigrams, all mass on one tail
    assert(avg2 < 0.7) // (3×1/3 + 2×1) / 5 = 0.6
    assert(got(2L)._2 == got(2L)._1) // every doc-2 bigram is a singleton
  }

  private def edit1Pairs(dir: String): Set[(String, String)] =
    graft.operators.Corpus.wordEdit1(spark, dir).collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"))).toSet

  test("wordEdit1: deletion-key blocking finds every edit class, rejects distance 2") {
    // words < 5 chars dodge the augmentation, so the planted vocabulary is
    // exactly these tokens: substitution (cat/bat), deletion (cat/at),
    // insertion (cat/cart) all distance 1; act is a TRANSPOSITION of cat
    // (distance 2 — its deletion keys collide, the verify must reject it);
    // dog is isolated
    val dir = writeDocs(Seq((1L, "cat bat at cart act dog", "en", "web")))
    val got = edit1Pairs(dir)
    assert(got.contains(("bat", "cat"))) // substitution
    assert(got.contains(("at", "cat"))) // deletion
    assert(got.contains(("cart", "cat"))) // insertion
    assert(!got.contains(("act", "cat")) && !got.contains(("cat", "act")))
    assert(!got.exists(p => p._1 == "dog" || p._2 == "dog"))
    got.foreach { case (a, b) => assert(a < b, s"unordered pair ($a,$b)") }
  }

  test("wordEdit1: fixture matches brute-force all-pairs levenshtein") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("explode(split(text, '[^a-zA-Z]+')) AS w")
      .filter("w <> ''").distinct().collect().map(_.getString(0)).toSet
    val aug = vocab ++
      vocab.filter(_.length >= 5).map(_.drop(1)) ++
      vocab.filter(_.length >= 5).map(w => "x" + w.drop(1))
    val expected = (for {
      a <- aug; b <- aug if a < b && lev(a, b) == 1
    } yield (a, b)).toSet
    assert(edit1Pairs(Sf0001) == expected)
    assert(expected.nonEmpty) // augmentation keeps the query non-vacuous
  }

  // --------------------------------------------------------- skipgram

  test("skipgram: hand-computed ±2 window counts with boundary truncation") {
    // doc "a b c": windows — a:{b,c}, b:{a,c}, c:{a,b}; all pairs n=1
    val dir = writeDocs(Seq((1L, "a b c", "en", "s0")))
    val got = Corpus.skipgram(spark, dir).collect()
      .map(r => (r.getAs[String]("center"), r.getAs[String]("context")) ->
        r.getAs[Long]("n")).toMap
    assert(got == Map(
      ("a", "b") -> 1L, ("a", "c") -> 1L,
      ("b", "a") -> 1L, ("b", "c") -> 1L,
      ("c", "a") -> 1L, ("c", "b") -> 1L))
  }

  test("skipgramNeg: draw equals the driver-side fnv64 replay; vocab membership") {
    val dir = writeDocs(Seq((1L, "a b c", "en", "s0"), (2L, "b c d b", "en", "s0")))
    val got = Corpus.skipgramNeg(spark, dir).collect()
      .map(r => (r.getAs[String]("center"), r.getAs[String]("context"),
        r.getAs[Int]("j"), r.getAs[String]("neg_token"))).toSet
    // driver replay: vocab rank (freq desc, tok asc), fnv64 over UTF-16
    val toks = Seq("a", "b", "c", "b", "c", "d", "b")
    val freq = toks.groupBy(identity).view.mapValues(_.size).toMap
    val vocab = freq.keys.toSeq.sortBy(t => (-freq(t), t))
    def fnv(sct: String): Long = {
      var h = -3750763034362895579L // 14695981039346656037 as signed
      sct.foreach { c => h = (h ^ c.toLong) * 1099511628211L }
      h
    }
    val pairs = got.map(r => (r._1, r._2))
    assert(pairs.nonEmpty)
    val expect = pairs.flatMap { case (ce, cx) =>
      (0 until Corpus.NegSamples).map { j =>
        val idx = ((fnv(s"$ce\u0001$cx\u0001$j") & Long.MaxValue) % vocab.size).toInt
        (ce, cx, j, vocab(idx))
      }
    }
    assert(got === expect)
    assert(got.forall(r => vocab.contains(r._4)))
    // every pair carries exactly NegSamples negatives
    assert(got.groupBy(r => (r._1, r._2)).forall(_._2.size == Corpus.NegSamples))
  }

  test("skipgramNegWeighted: draw equals the driver-side cumulative-interval " +
      "replay; mass is proportional to freq^0.75") {
    val dir = writeDocs(Seq((1L, "a b c", "en", "s0"), (2L, "b c d b", "en", "s0")))
    val got = Corpus.skipgramNegWeighted(spark, dir).collect()
      .map(r => (r.getAs[String]("center"), r.getAs[String]("context"),
        r.getAs[Int]("j"), r.getAs[String]("neg_token"))).toSet
    val toks = Seq("a", "b", "c", "b", "c", "d", "b")
    val freq = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocab = freq.keys.toSeq.sortBy(t => (-freq(t), t))
    // the operator's exact integer weight: floor(sqrt(floor(sqrt(f^3)))),
    // f^3 in DOUBLE (never a Long product — wraps past f ~ 2.1M)
    def w75(f: Long): Long = {
      val fd = f.toDouble
      math.floor(math.sqrt(math.floor(math.sqrt(fd * fd * fd)))).toLong
    }
    val weights = vocab.map(t => w75(freq(t)))
    val cum = weights.scanLeft(0L)(_ + _)
    val totalW = cum.last
    // b:3 -> w=floor(27^0.25)=2; a,c... c:2 -> w=floor(8^0.25)=1; a,d:1 -> 1
    assert(weights === vocab.map(t => freq(t) match {
      case 3L => 2L; case 2L => 1L; case 1L => 1L
    }), s"weight table drifted: ${vocab.zip(weights)}")
    def fnv(sct: String): Long = {
      var h = -3750763034362895579L
      sct.foreach { c => h = (h ^ c.toLong) * 1099511628211L }
      h
    }
    val pairs = got.map(r => (r._1, r._2))
    assert(pairs.nonEmpty)
    val expect = pairs.flatMap { case (ce, cx) =>
      (0 until Corpus.NegSamples).map { j =>
        val u = (fnv(s"$ce\u0001$cx\u0001$j\u0001w") & Long.MaxValue) % totalW
        // cum has |V|+1 entries (scanLeft); token i owns [cum(i), cum(i+1)),
        // and u < W = cum(|V|) keeps the index in range
        val idx = cum.lastIndexWhere(_ <= u)
        (ce, cx, j, vocab(idx))
      }
    }
    assert(got === expect)
    // token i owns exactly w_i of the W hash slots — the distribution claim
    // is structural, not statistical
    assert(totalW === weights.sum)
  }

  test("skipgramNegWeighted: NegVocabCap truncates the sampling table and BITES") {
    val dir = writeDocs(Seq((1L, "a b c", "en", "s0"), (2L, "b c d b", "en", "s0")))
    val cap = 2
    // vocab (freq desc, tok asc) = [b:3, c:2, a:1, d:1] — cap 2 keeps [b, c]
    val got = Corpus.skipgramNegWeighted(spark, dir, vocabCap = cap).collect()
      .map(r => (r.getAs[String]("center"), r.getAs[String]("context"),
        r.getAs[Int]("j"), r.getAs[String]("neg_token"))).toSet
    assert(got.nonEmpty)
    // the cap bites: the raw vocabulary exceeds it, and every negative is
    // drawn from the truncated table only
    val fullVocab = Set("a", "b", "c", "d")
    assert(fullVocab.size > cap)
    assert(got.forall(r => Set("b", "c").contains(r._4)),
      s"negative outside the capped table: $got")
    // driver replay of the CAPPED cumulative table: weights [2, 1], W=3
    def fnv(sct: String): Long = {
      var h = -3750763034362895579L
      sct.foreach { c => h = (h ^ c.toLong) * 1099511628211L }
      h
    }
    val tbl = Seq(("b", 2L), ("c", 1L))
    val cum = tbl.map(_._2).scanLeft(0L)(_ + _)
    val totalW = cum.last
    val expect = got.map(r => (r._1, r._2)).flatMap { case (ce, cx) =>
      (0 until Corpus.NegSamples).map { j =>
        val u = (fnv(s"$ce\u0001$cx\u0001$j\u0001w") & Long.MaxValue) % totalW
        (ce, cx, j, tbl(cum.lastIndexWhere(_ <= u))._1)
      }
    }
    assert(got === expect)
    // and truncation actually CHANGED the draw vs the uncapped table
    // (different modulus + missing tail tokens), so the cap is observable
    val uncapped = Corpus.skipgramNegWeighted(spark, dir).collect()
      .map(r => (r.getAs[String]("center"), r.getAs[String]("context"),
        r.getAs[Int]("j"), r.getAs[String]("neg_token"))).toSet
    assert(got !== uncapped, "cap inert on the fixture — strengthen it")
  }

  test("skipgram: repeated tokens accumulate counts; window never crosses docs") {
    val dir = writeDocs(Seq(
      (1L, "a a a", "en", "s0"), // each a sees the other two: (a,a) n=6
      (2L, "b", "en", "s0")))    // singleton doc: no pairs, no cross-doc leak
    val got = Corpus.skipgram(spark, dir).collect()
      .map(r => (r.getAs[String]("center"), r.getAs[String]("context")) ->
        r.getAs[Long]("n")).toMap
    assert(got == Map(("a", "a") -> 6L))
  }

  test("skipgram: fixture matches a driver-side windowed replay") {
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("split(trim(text), '\\\\s+') AS toks").collect()
      .map(_.getSeq[String](0).toArray)
    val expected = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    docs.foreach { toks =>
      for {
        i <- toks.indices
        j <- math.max(0, i - 2) to math.min(toks.length - 1, i + 2) if j != i
      } expected((toks(i), toks(j))) += 1L
    }
    val got = Corpus.skipgram(spark, Sf0001).collect()
      .map(r => (r.getAs[String]("center"), r.getAs[String]("context")) ->
        r.getAs[Long]("n")).toMap
    assert(got === expected.toMap)
  }

  // --------------------------------------------------------- bpeMerges

  /** Canonical driver-side BPE reference: overlapping-position pair counts
    * weighted by word frequency; winner by (weight desc, left, right);
    * greedy-left merge application per word.
    */
  private def bruteBpe(words: Map[String, Long], rounds: Int): Seq[(Long, String, String, String, Long)] = {
    var syms: Map[List[String], Long] =
      words.map { case (w, f) => w.split("").toList -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      syms.foreach { case (l, f) =>
        l.zip(l.tail).foreach(p => counts(p) += f)
      }
      val ((lft, rgt), wgt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
      out += ((r.toLong, lft, rgt, lft + rgt, wgt))
      def apply(l: List[String]): List[String] = l match {
        case a :: b :: rest if a == lft && b == rgt => (a + b) :: apply(rest)
        case a :: rest => a :: apply(rest)
        case Nil => Nil
      }
      syms = syms.toSeq.map { case (l, f) => apply(l) -> f }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    }
    out.toSeq
  }

  private def mergeTable(dir: String, rounds: Int): Seq[(Long, String, String, String, Long)] =
    Corpus.bpeMerges(spark, dir, rounds).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("lft"), r.getAs[String]("rgt"),
        r.getAs[String]("merged"), r.getAs[Long]("weight")))
      .sortBy(_._1).toSeq

  test("bpeMerges: hand-computed merges incl. a multi-char merge and tie-break") {
    // freqs: "abab"×3, "ab"×2 → pairs: (a,b)=8 (overlap-counted twice in
    // abab), (b,a)=3. Round 1 merges ab; round 2: (ab,ab)=3 from abab
    val dir = writeDocs(Seq(
      (1L, "abab abab ab", "en", "s0"),
      (2L, "abab ab", "en", "s0")))
    val got = mergeTable(dir, 2)
    assert(got(0) == ((1L, "a", "b", "ab", 8L)))
    assert(got(1) == ((2L, "ab", "ab", "abab", 3L)))
  }

  test("bpeMerges: identical-pair runs merge floor(k/2) leftmost occurrences") {
    // "aaa"×4: pairs (a,a)=8 overlapping; after merging, each word is
    // [aa][a] so round 2's top pair is (aa, a) with weight 4
    val dir = writeDocs(Seq((1L, "aaa aaa aaa aaa", "en", "s0")))
    val got = mergeTable(dir, 2)
    assert(got(0) == ((1L, "a", "a", "aa", 8L)))
    assert(got(1) == ((2L, "aa", "a", "aaa", 4L)))
  }

  test("bpeMerges: non-alpha words are excluded from the vocabulary") {
    val dir = writeDocs(Seq((1L, "ab ab x9 ?! ab", "en", "s0")))
    val got = mergeTable(dir, 1)
    assert(got(0) == ((1L, "a", "b", "ab", 3L)))
  }

  test("bpeEncode: segmentation reflects the learned merges; frequencies preserved") {
    // after round 1 (a,b)->ab and round 2 (ab,ab)->abab:
    //   abab -> [abab], ab -> [ab], ba -> [b][a] (untouched pair order)
    val dir = writeDocs(Seq(
      (1L, "abab abab ab ba", "en", "s0"),
      (2L, "abab ab", "en", "s0")))
    val got = Corpus.bpeEncode(spark, dir, rounds = 2).collect()
      .map(r => r.getAs[String]("word") ->
        ((r.getAs[Long]("freq"), r.getAs[Long]("n_syms"), r.getAs[String]("toks")))).toMap
    assert(got("abab") == ((3L, 1L, "abab")))
    assert(got("ab") == ((2L, 1L, "ab")))
    assert(got("ba") == ((1L, 2L, "b a")))
  }

  test("bpeEncode: fixture — concatenated toks recover each word, counts shrink") {
    val rows = Corpus.bpeEncode(spark, Sf0001, Corpus.BpeRounds).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getAs[String]("word")
      val toks = r.getAs[String]("toks").split(" ")
      assert(toks.mkString == w, s"segmentation must tile $w")
      assert(r.getAs[Long]("n_syms") == toks.length.toLong)
      assert(toks.length <= w.length)
    }
    // the merges actually compress something on the fixture
    assert(rows.exists(r => r.getAs[Long]("n_syms") < r.getAs[String]("word").length))
  }

  test("bpe bracket encoding: literal replace == canonical greedy-left merge on random sequences") {
    // the engine-parity claim underlying bpe_merges: on the wrapped
    // encoding, Java/DuckDB left-to-right non-overlapping replace merges
    // exactly the occurrences canonical greedy-left BPE merges — including
    // runs of identical pairs and multi-char symbols from earlier rounds
    val rnd = new scala.util.Random(13)
    val alphabet = Vector("a", "b", "c", "ab", "aa", "ba", "abc")
    def canonical(seq: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < seq.length) {
        if (i + 1 < seq.length && seq(i) == l && seq(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += seq(i); i += 1 }
      }
      out.result()
    }
    (1 to 2000).foreach { _ =>
      val n = 1 + rnd.nextInt(10)
      val seq = Vector.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
      val l = alphabet(rnd.nextInt(alphabet.length))
      val r = alphabet(rnd.nextInt(alphabet.length))
      val wrapped = seq.mkString("[", "][", "]")
      val replaced = wrapped.replace(s"[$l][$r]", s"[$l$r]")
      val unwrapped = replaced.substring(1, replaced.length - 1)
        .split("\\]\\[").toVector
      assert(unwrapped == canonical(seq, l, r),
        s"seq=$seq merge=($l,$r) got=$unwrapped")
    }
  }

  test("bpeMerges: fixture matches the canonical driver-side reference") {
    val words = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("explode(split(trim(text), '\\\\s+')) AS w")
      .filter("w rlike '^[a-z]+$'")
      .collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(mergeTable(Sf0001, Corpus.BpeRounds) ===
      bruteBpe(words, Corpus.BpeRounds))
  }

  test("tokenFertility: group counts == driver-side replay over bpeEncode's table") {
    val segs = Corpus.bpeEncode(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("lang", "source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    val expected = docs.groupBy(d => (d._1, d._2)).map { case ((lang, src), ds) =>
      val words = ds.flatMap(d => d._4.trim.split("\\s+").map(w => (d._3, w)))
      val matched = words.filter(w => segs.contains(w._2))
      val nSub = matched.map(w => segs(w._2)).sum
      val nChars = matched.map(_._2.length.toLong).sum
      (lang, src, ds.map(_._3).distinct.length.toLong, words.length.toLong,
        matched.length.toLong, nSub, nChars,
        if (matched.isEmpty) 0.0 else nSub.toDouble / matched.length.toDouble,
        if (nSub == 0L) 0.0 else nChars.toDouble / nSub.toDouble)
    }.toSet
    val got = Corpus.tokenFertility(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7),
        r.getDouble(8))).toSet
    assert(got === expected)
    // the report is non-degenerate: merges fired, so somewhere a word costs
    // fewer subwords than characters, and OOV words exist (n_words gap)
    assert(got.exists(t => t._6 < t._7), "no group with n_subwords < n_chars")
    // vocab-matched words can never exceed the word total (the sf0.001
    // fixture happens to be 100% in-domain, so equality is legitimate)
    assert(got.forall(t => t._5 <= t._4))
    TransientCache.releaseAll(spark)
  }
}
