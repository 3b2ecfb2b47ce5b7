package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup}

/** Corpus-curation operators: benchmark decontamination, sequence packing,
  * domain caps, substring-level dedup — hand-computed semantics on planted
  * corpora, plus the BMP-corpus precondition the HUGEINT hash oracles in
  * SparkEntry rely on.
  */
class CurationSpec extends AnyFunSuite {
  import TestSpark._

  /** Temp documents.parquet with the columns the curation operators read. */
  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = scratchDir("curation").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source", "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ------------------------------------------------------------ spanCorrupt

  test("spanCorrupt: sentinel round-trip — input + target reconstruct the doc") {
    val texts = (0L until 40L).map(i =>
      i -> (0 until (5 + (i % 30)).toInt).map(j => s"w${(i + j) % 13}").mkString(" "))
    val dir = writeDocs(texts.map { case (id, t) => (id, t, "en", "s") })
    val got = graft.operators.Curation.spanCorrupt(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == 40)
    texts.foreach { case (id, text) =>
      val r = got(id)
      val toks = text.split(" ")
      val phase = (graft.functions.HashFunctions.fnv64(s"span:$id") & 15L).toInt
      val masked = toks.indices.filter(p => (p + phase) % 16 < 2)
      val starts = masked.filter(p => (p + phase) % 16 == 0 || p == 0)
      assert(r.getAs[Long]("n_tokens") == toks.length.toLong)
      assert(r.getAs[Long]("n_masked") == masked.size.toLong)
      assert(r.getAs[Long]("n_spans") == starts.size.toLong)
      // splicing each sentinel's target tokens back into the input at its
      // sentinel position reproduces the original document exactly
      val sentinels = starts.indices.map(n => s"<extra_id_$n>")
      val tgt = r.getAs[String]("target_text")
      val spans: Map[String, Seq[String]] =
        if (tgt.isEmpty) Map.empty
        else {
          val parts = tgt.split(" ").toSeq
          val idx = parts.zipWithIndex.filter(p => sentinels.contains(p._1))
          idx.zipWithIndex.map { case ((sent, at), i) =>
            val end = if (i + 1 < idx.length) idx(i + 1)._2 else parts.length
            sent -> parts.slice(at + 1, end)
          }.toMap
        }
      val rebuilt = r.getAs[String]("input_text").split(" ").toSeq
        .flatMap(p => if (sentinels.contains(p)) spans(p) else Seq(p))
      assert(rebuilt == toks.toSeq, s"doc $id: splice must reconstruct")
      // corruption actually happened somewhere in the fixture
    }
    assert(texts.exists { case (id, _) =>
      got(id).getAs[Long]("n_masked") > 0 })
    assert(texts.exists { case (id, _) =>
      got(id).getAs[Long]("n_masked") == 0 ||
        got(id).getAs[String]("input_text").contains("<extra_id_0>") })
  }

  // ------------------------------------------------------------ windowGrams

  test("typed tokenize passes survive a null-text row (drop, not NPE)") {
    // the parquet schema is nullable; a real crawl carries null text. The
    // round-14 typed rewrites must drop such rows (the declarative forms'
    // grouped outputs omitted them), never task-crash on them.
    val s = spark
    import s.implicits._
    val dir = scratchDir("nulltext").toString
    Seq[(Long, String, String, String)](
        (1L, "the quick brown fox the a of and one two three four", "en", "s"),
        (2L, null, "en", "s"),
        (3L, "a b the c", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "coalesce(length(text), 0) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(graft.operators.TextOps.textStats(spark, dir)) == Set(1L, 3L))
    assert(ids(graft.operators.TextOps.textQuality(spark, dir)) == Set(1L, 3L))
    assert(ids(graft.operators.Curation.spanCorrupt(spark, dir)) == Set(1L, 3L))
    assert(ids(graft.operators.Corpus.vocabEncode(spark, dir)) == Set(1L, 3L))
    // skipgram output is pair-keyed; surviving without an NPE and seeing
    // doc 1's pairs is the contract
    val pairs = graft.operators.Corpus.skipgram(spark, dir).collect()
    assert(pairs.nonEmpty)
  }

  test("windowGrams: short docs emit nothing, exact-length docs one window") {
    assert(Dedup.windowGrams("a b c", 8).isEmpty)
    assert(Dedup.windowGrams("a b c d e f g h", 8) == IndexedSeq("a b c d e f g h"))
    assert(Dedup.windowGrams("  a b  ", 2) == IndexedSeq("a b"))
  }

  test("windowGrams: sliding windows are distinct, in first-seen order") {
    // "x y x y x y" with w=2 -> windows: "x y","y x","x y","y x","x y" -> distinct 2
    assert(Dedup.windowGrams("x y x y x y", 2) == IndexedSeq("x y", "y x"))
  }

  // -------------------------------------------------------- substringDups

  test("substringDups finds the planted shared 8-token run and nothing else") {
    val boiler = "all rights reserved contact us terms of service"  // 8 tokens
    val dir = writeDocs(Seq(
      (1L, s"alpha beta gamma $boiler", "en", "src0"),
      (2L, s"$boiler delta epsilon", "en", "src1"),
      (3L, "totally unrelated words here nothing shared at all", "en", "src2")))
    val rows = Dedup.substringDups(spark, dir).collect()
    val hit = rows.filter(_.getAs[String]("gram") == boiler)
    assert(hit.length == 1)
    assert(hit.head.getAs[Long]("n_docs") == 2L)
    assert(hit.head.getAs[Long]("keep_id") == 1L)
    // doc 3 shares no 8-run with anyone; docs 1/2 share ONLY the exact run
    assert(rows.forall(_.getAs[String]("gram") == boiler))
  }

  // ------------------------------------------------------- substringScrub

  test("substringScrub: shared run removed everywhere but the first occurrence") {
    val boiler = "all rights reserved contact us terms of service" // 8 tokens
    val dir = writeDocs(Seq(
      (1L, s"alpha beta gamma $boiler", "en", "src0"),
      (2L, s"$boiler delta epsilon", "en", "src1"),
      (3L, "totally unrelated words here nothing shared at all", "en", "src2")))
    val got = Dedup.substringScrub(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"), r.getAs[Long]("n_removed"),
          r.getAs[String]("scrubbed_text")))).toMap
    // doc 1 is the first occurrence (min doc_id) — keeps everything
    assert(got(1L) == ((11L, 0L, s"alpha beta gamma $boiler")))
    // doc 2 loses exactly the 8 boilerplate tokens, keeps its own tail
    assert(got(2L) == ((10L, 8L, "delta epsilon")))
    // doc 3 shares nothing — untouched
    assert(got(3L) == ((8L, 0L, "totally unrelated words here nothing shared at all")))
  }

  test("substringScrub: overlapping shared runs union their coverage") {
    // docs 1 and 2 share a 9-token run -> two overlapping 8-windows in each;
    // doc 2 must lose all 9 tokens, not 8
    val run = "a b c d e f g h i" // 9 tokens
    val dir = writeDocs(Seq(
      (1L, s"$run tail1 tail2", "en", "s0"),
      (2L, s"front $run", "en", "s1")))
    val got = Dedup.substringScrub(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("scrubbed_text")))).toMap
    assert(got(1L) == ((0L, s"$run tail1 tail2")))
    assert(got(2L) == ((9L, "front")))
  }

  test("mergeCoverage: in-order runs compress, gaps/doc-changes/out-of-order flush, " +
      "and union semantics are order-independent") {
    def ivs(in: Seq[(Long, Int)], w: Int) = Dedup.mergeCoverage(in.iterator, w).toList
    // overlapping + touching starts of one doc merge to one interval
    assert(ivs(Seq((1L, 0), (1L, 1), (1L, 2)), 8) == List((1L, 0, 10)))
    // a gap past the open interval's end flushes
    assert(ivs(Seq((1L, 0), (1L, 20)), 8) == List((1L, 0, 8), (1L, 20, 28)))
    // doc change flushes even at the same start
    assert(ivs(Seq((1L, 0), (2L, 0)), 8) == List((1L, 0, 8), (2L, 0, 8)))
    // out-of-order arrival emits unmerged intervals whose UNION of covered
    // positions equals the sorted run's single interval
    val shuffled = ivs(Seq((1L, 2), (1L, 0), (1L, 1)), 8)
    val covered = shuffled.flatMap { case (_, s, e) => s until e }.toSet
    assert(covered == (0 until 10).toSet)
    // empty in, empty out
    assert(ivs(Seq.empty, 8).isEmpty)
  }

  test("substringScrub: huge-shared branch (equi-join + doc repartition) " +
      "matches the broadcast branch row-for-row") {
    val boiler = "all rights reserved contact us terms of service"
    val dir = writeDocs(Seq(
      (1L, s"alpha beta gamma $boiler", "en", "src0"),
      (2L, s"$boiler delta epsilon", "en", "src1"),
      (3L, s"front words $boiler tail words", "en", "src2"),
      (4L, "totally unrelated words here nothing shared at all", "en", "src3")))
    def rows(maxRows: Long) =
      Dedup.substringScrub(spark, dir, broadcastMaxRows = maxRows)
        .orderBy("doc_id").collect().toSeq
    // maxRows = 0 forces the non-broadcast branch on any non-empty shared set
    assert(rows(0L) == rows(Long.MaxValue))
    // non-vacuous: something was actually scrubbed in this fixture
    assert(rows(0L).exists(_.getAs[Long]("n_removed") > 0))
  }

  test("substringScrub: internal repetition without a second doc is NOT scrubbed") {
    val run = "w x y z p q r t" // 8 tokens, repeated inside one doc only
    val dir = writeDocs(Seq(
      (1L, s"$run $run", "en", "s0"),
      (2L, "some other totally different words go right here", "en", "s1")))
    val got = Dedup.substringScrub(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_removed")).toMap
    assert(got(1L) == 0L && got(2L) == 0L)
  }

  // --------------------------------------------------------- budgetSample

  test("budgetSample: coin-order prefix fill, overshoot at most one doc") {
    // 6 docs x 10 tokens in src0; budget 256 -> all fit. src1: 6 x 100
    // tokens, budget 256 -> first 2 fit fully, 3rd starts at 200 < 256
    // (overshoot), 4th starts at 300 -> dropped
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val hundred = (1 to 100).map(i => s"h$i").mkString(" ")
    val dir = writeDocs(
      (0L until 6L).map(i => (i, ten, "en", "src0")) ++
        (6L until 12L).map(i => (i, hundred, "en", "src1")))
    val got = Curation.budgetSample(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("n_toks"), r.getAs[Long]("cum")))
    assert(got.count(_._1 == "src0") == 6)
    val src1 = got.filter(_._1 == "src1").sortBy(_._4)
    assert(src1.length == 3) // 100+100 under budget, third overshoots, rest drop
    assert(src1.map(_._4).toSeq == Seq(100L, 200L, 300L))
    // the kept ids are the ones with the 3 smallest "budget:" coins
    val expectIds = (6L until 12L)
      .sortBy(id => md5hex(s"budget:$id")).take(3).toSet
    assert(src1.map(_._2).toSet == expectIds)
  }

  // ------------------------------------------------------------- decontam

  test("decontam: grams shared with the benchmark doc are counted, others zero") {
    // doc 0 (0 % 50 == 0) is the benchmark; doc 1 contains one of its
    // 3-grams verbatim; doc 2 shares nothing
    val dir = writeDocs(Seq(
      (0L, "one two three four", "en", "src0"),   // grams: "one two three","two three four"
      (1L, "zz one two three yy", "en", "src0"),  // shares "one two three"
      (2L, "pp qq rr ss tt", "en", "src0")))
    val byId = Curation.decontam(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!byId.contains(0L), "benchmark docs are excluded from the output")
    val d1 = byId(1L)
    assert(d1.getAs[Int]("n_grams") == 3)
    assert(d1.getAs[Long]("bench_hits") == 1L)
    assert(d1.getAs[Boolean]("contaminated"))
    assert(math.abs(d1.getAs[Double]("contamination") - 1.0 / 3.0) < 1e-15)
    val d2 = byId(2L)
    assert(d2.getAs[Long]("bench_hits") == 0L)
    assert(!d2.getAs[Boolean]("contaminated"))
  }

  // -------------------------------------------------------- packSequences

  test("packSequences: bins follow per-lang prefix sums of token counts") {
    // budget 5; en docs have 3,3,3 tokens -> starting offsets 0,3,6 -> bins 0,0,1
    // de doc independent stream -> bin 0
    val dir = writeDocs(Seq(
      (10L, "a b c", "en", "s"),
      (11L, "d e f", "en", "s"),
      (12L, "g h i", "en", "s"),
      (20L, "x y", "de", "s")))
    val got = Curation.packSequences(spark, dir, budget = 5).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("n_toks"), r.getAs[Long]("seq_id"))).toSet
    assert(got == Set(
      ("en", 10L, 3, 0L), ("en", 11L, 3, 0L), ("en", 12L, 3, 1L),
      ("de", 20L, 2, 0L)))
  }

  test("packSequences is deterministic under repartitioning") {
    val dir = writeDocs((0L until 40L).map(i =>
      (i, ("tok " * (i.toInt % 7 + 1)).trim, if (i % 2 == 0) "en" else "de", "s")))
    val a = Curation.packSequences(spark, dir, budget = 8).collect().toSet
    val b = Curation.packSequences(spark, dir, budget = 8).collect().toSet
    assert(a == b)
  }

  // ------------------------------------------------------------ domainCap

  test("domainCap keeps the longest docs per source with doc_id tiebreak") {
    val dir = writeDocs(Seq(
      (1L, "aaaa", "en", "big"),   // 4 chars
      (2L, "bbbbbb", "en", "big"), // 6 chars  -> rank 1
      (3L, "cccc", "en", "big"),   // 4 chars, ties with doc 1 -> doc 1 wins rank 2
      (4L, "d", "en", "small")))
    val got = Curation.domainCap(spark, dir, cap = 2).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"), r.getAs[Int]("rn"))).toSet
    assert(got == Set(("big", 2L, 1), ("big", 1L, 2), ("small", 4L, 1)))
  }

  // ------------------------------------------------------ textCommonness

  test("textCommonness: hand-computed corpus frequencies") {
    // corpus: "a a b" + "a c" -> freqs: a=3, b=1, c=1
    val dir = writeDocs(Seq(
      (1L, "a a b", "en", "s"),
      (2L, "a c", "en", "s")))
    val byId = Curation.textCommonness(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = byId(1L) // tokens a,a,b -> freqs 3,3,1
    assert(d1.getAs[Long]("n_toks") == 3L)
    assert(d1.getAs[Long]("freq_sum") == 7L)
    assert(d1.getAs[Long]("rarest_freq") == 1L)
    assert(d1.getAs[Double]("mean_freq") == 7.0 / 3.0)
    val d2 = byId(2L) // tokens a,c -> freqs 3,1
    assert(d2.getAs[Long]("freq_sum") == 4L)
    assert(d2.getAs[Long]("rarest_freq") == 1L)
  }

  // ------------------------------------- oracle preconditions (SparkEntry)

  test("fixture corpus is BMP/ASCII — the HUGEINT code-point oracles apply") {
    val s = spark
    import s.implicits._
    val maxCp = graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
      .select("text").as[String]
      .map(t => if (t.isEmpty) 0 else t.codePoints().max().getAsInt)
      .agg(org.apache.spark.sql.functions.max("value")).head().getInt(0)
    assert(maxCp < 128, s"corpus no longer ASCII (max code point $maxCp): " +
      "revisit the UTF-16-vs-code-point assumption in SparkEntry's hash oracles")
  }

  test("simhash64 bit semantics match an independent per-bit vote") {
    // independent reimplementation: count set bits per position over token
    // hashes; tie (votes == 0) leaves the bit clear
    def slowSimhash(text: String): Long = {
      val toks = text.trim.split("\\s+")
      (0 until 64).foldLeft(0L) { (acc, b) =>
        val set = toks.count(t => ((graft.functions.HashFunctions.fnv64(t) >>> b) & 1L) == 1L)
        if (2 * set > toks.length) acc | (1L << b) else acc
      }
    }
    for (t <- Seq("a b c", "x", "the quick brown fox", "a a a b"))
      assert(Dedup.simhash64(t) == slowSimhash(t), s"text: $t")
  }

  // ------------------------------------------------------------ chunkDocs

  test("chunkDocs: hand-computed windows with overlap, short-doc single chunk") {
    val dir = writeDocs(Seq(
      (1L, "a b c d e", "en", "s0"), // 5 toks, w=3 s=2 -> [a b c][c d e][e]
      (2L, "solo", "en", "s1")))
    val rows = Curation.chunkDocs(spark, dir, window = 3, stride = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("chunk_toks"),
        r.getAs[String]("chunk_text"))).toSet
    assert(rows == Set(
      (1L, 0, 0, 3, "a b c"),
      (1L, 1, 2, 3, "c d e"),
      (1L, 2, 4, 1, "e"),
      (2L, 0, 0, 1, "solo")))
  }

  test("chunkDocs: empty and whitespace-only docs yield one empty chunk") {
    // split(trim("")) = [""] — one "token" — matching the oracle's
    // string_split_regex semantics, so empty docs survive the gate compare
    val dir = writeDocs(Seq((1L, "", "en", "s0"), (2L, "   ", "en", "s1")))
    val rows = Curation.chunkDocs(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("chunk_toks"), r.getAs[String]("chunk_text")))
      .toSet
    assert(rows == Set((1L, 0, 0, 1, ""), (2L, 0, 0, 1, "")))
  }

  test("chunkDocs: chunk starts tile every token (coverage, no gaps)") {
    val text = (1 to 103).map(i => s"t$i").mkString(" ")
    val dir = writeDocs(Seq((7L, text, "en", "s0")))
    val chunks = Curation.chunkDocs(spark, dir) // window 64, stride 48
      .collect().map(r => (r.getAs[Int]("start_tok"), r.getAs[Int]("chunk_toks")))
    val covered = chunks.flatMap { case (st, n) => st until (st + n) }.toSet
    assert(covered == (0 until 103).toSet)
    // consecutive chunks overlap by window - stride = 16 tokens
    assert(chunks.map(_._1).sorted.toSeq == Seq(0, 48, 96))
  }

  // ------------------------------------------- randomized differentials

  private def randTexts(n: Int, seed: Long): Seq[String] = {
    import org.scalacheck.{Gen, rng}
    val word = Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, Gen.alphaLowerChar).map(_.mkString))
    val text = Gen.choose(1, 140).flatMap(k => Gen.listOfN(k, word).map(_.mkString(" ")))
    Gen.listOfN(n, text).apply(Gen.Parameters.default, rng.Seed(seed))
      .getOrElse(fail("generator produced no sample"))
  }

  test("chunkDocs differential: chunks == reference model on 40 random docs") {
    val texts = randTexts(40, 11L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") })
    val rows = Curation.chunkDocs(spark, dir) // window 64, stride 48
      .collect().map(r => ((r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")),
        (r.getAs[Int]("start_tok"), r.getAs[Int]("chunk_toks"), r.getAs[String]("chunk_text"))))
      .toMap
    val expected = texts.zipWithIndex.flatMap { case (t, i) =>
      val toks = t.trim.split("\\s+")
      (0 until toks.length by 48).zipWithIndex.map { case (st, ci) =>
        val slice = toks.slice(st, math.min(st + 64, toks.length))
        ((i.toLong, ci), (st, slice.length, slice.mkString(" ")))
      }
    }.toMap
    assert(rows == expected)
  }

  test("tfidf differential: top-5 == brute-force model on a random corpus") {
    val texts = randTexts(30, 23L)
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") })
    val rows = graft.operators.TextOps.tfidf(spark, dir)
      .collect().map(r => ((r.getAs[Long]("doc_id"), r.getAs[Int]("rnk")),
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("tfidf")))).toMap
    // brute-force model: same letter-run tokenizer, exact rational weight
    val docTf = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> t.split("[^\\p{L}]+").filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
    }.toMap
    val df = docTf.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = texts.length.toLong
    val expected = docTf.flatMap { case (id, tf) =>
      tf.toSeq.map { case (term, c) => (term, c, df(term), (c * n).toDouble / df(term)) }
        .sortBy { case (term, _, _, w) => (-w, term) }
        .take(5).zipWithIndex
        .map { case ((term, c, d, w), idx) => ((id, idx + 1), (term, c, d, w)) }
    }
    assert(rows == expected)
  }

  // ------------------------------------------------------------ epochOrder

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  test("epochOrder: per-epoch shard/position matches the driver-side coin model") {
    val dir = writeDocs((0L until 50L).map(i => (i, s"doc $i", "en", "s0")))
    val got = Curation.epochOrder(spark, dir).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Int]("shard"),
        r.getAs[Int]("pos"), r.getAs[Long]("doc_id")))
    assert(got.length == 150)
    val expected = (0 until 3).flatMap { e =>
      (0L until 50L).map(id => (md5hex(s"epoch:$e:$id"), id))
        .groupBy { case (coin, _) => Integer.parseInt(coin.substring(0, 1), 16) }
        .flatMap { case (shard, rows) =>
          rows.sorted.zipWithIndex.map { case ((_, id), i) => (e, shard, i + 1, id) }
        }
    }.toSet
    assert(got.toSet == expected)
    // each epoch is a full permutation of the corpus
    (0 until 3).foreach { e =>
      assert(got.filter(_._1 == e).map(_._4).sorted.toSeq == (0L until 50L))
    }
    // the epoch salt gives each epoch a genuinely different order
    def order(e: Int) = got.filter(_._1 == e).sortBy(t => (t._2, t._3)).map(_._4).toSeq
    assert(order(0) != order(1) && order(1) != order(2))
  }

  test("epochOrder: wider fan-outs take a longer coin hex prefix; non-16-powers fail") {
    val dir = writeDocs((0L until 40L).map(i => (i, s"doc $i", "en", "s0")))
    val got = Curation.epochOrder(spark, dir, epochs = 1, shards = 256).collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Int]("pos"), r.getAs[Long]("doc_id")))
    val expected = (0L until 40L).map(id => (md5hex(s"epoch:0:$id"), id))
      .groupBy { case (coin, _) => Integer.parseInt(coin.substring(0, 2), 16) }
      .flatMap { case (shard, rows) =>
        rows.sorted.zipWithIndex.map { case ((_, id), i) => (shard, i + 1, id) }
      }.toSet
    assert(got.toSet == expected)
    intercept[IllegalArgumentException] {
      Curation.epochOrder(spark, dir, shards = 10)
    }
  }

  // ------------------------------------------------------ stratifiedSample

  test("stratifiedSample: exact k per stratum by coin order; short strata keep all") {
    val dir = writeDocs(
      (0L until 100L).map(i => (i, s"doc $i", if (i < 80) "en" else "fr", "s0")))
    val got = Curation.stratifiedSample(spark, dir, k = 25).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("rank_in_stratum"),
        r.getAs[Long]("doc_id")))
    val en = got.filter(_._1 == "en")
    val fr = got.filter(_._1 == "fr")
    assert(en.length == 25 && fr.length == 20) // fr stratum has only 20 docs
    // model: smallest "strat:" coins win, rank follows coin order
    def model(ids: Seq[Long], k: Int) =
      ids.map(id => (md5hex(s"strat:$id"), id)).sorted.take(k)
        .zipWithIndex.map { case ((_, id), i) => (i + 1, id) }
    assert(en.map(t => (t._2, t._3)).sortBy(_._1).toSeq == model(0L until 80L, 25))
    assert(fr.map(t => (t._2, t._3)).sortBy(_._1).toSeq == model(80L until 100L, 25))
    // re-run identical (pure function of doc_id — retry-safe)
    val again = Curation.stratifiedSample(spark, dir, k = 25).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("rank_in_stratum"),
        r.getAs[Long]("doc_id")))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  // ----------------------------------------------------------- splitAssign

  test("splitAssign: deterministic, exhaustive, independent of the mix coin") {
    val dir = writeDocs((0L until 200L).map(i => (i, s"doc $i text", "en", "s0")))
    val rows = Curation.splitAssign(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("coin"), r.getAs[String]("split")))
    assert(rows.length == 200)
    // every doc gets exactly one split; re-run is identical (pure function)
    val again = Curation.splitAssign(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("coin"), r.getAs[String]("split")))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // the salted coin differs from the bare-id md5 pipeline_mix uses
    import org.apache.spark.sql.functions.{col, concat, lit, md5, substring}
    val both = graft.sources.Tables.documents(spark, dir)
      .select(substring(md5(col("doc_id").cast("string")), 1, 8).as("mix_coin"),
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 8).as("split_coin"))
      .collect()
    assert(both.forall(r => r.getString(0) != r.getString(1)))
    // all three splits populated at 200 docs, with train the large share
    val bySplit = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "val", "test"), s"got $bySplit")
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
    // spot-check the threshold logic against the coin strings themselves
    rows.foreach { case (_, coin, split) =>
      val expect = if (coin < "cccccccc") "train" else if (coin < "e6666666") "val" else "test"
      assert(split == expect, s"coin $coin -> $split")
    }
  }

  // --------------------------------------------------------- mixTemperature

  test("mixTemperature: sqrt(n_min/n_lang) rates, exact coin replay, smallest lang kept whole") {
    // counts chosen so the rates are exactly representable: 25/100 -> 0.5, 25/25 -> 1.0
    val dir = writeDocs(
      (0L until 100L).map(i => (i, s"en doc $i", "en", "s0")) ++
        (100L until 125L).map(i => (i, s"zh doc $i", "zh", "s0")))
    val rows = graft.operators.Pipeline.mixTemperature(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_lang"), r.getAs[Double]("rate")))
    // rate column is the exact closed form
    rows.foreach { case (_, lang, n, rate) =>
      if (lang == "en") { assert(n == 100L); assert(rate == 0.5) }
      else { assert(n == 25L); assert(rate == 1.0) }
    }
    // smallest language survives whole (rate 1.0 keeps every coin)
    assert(rows.count(_._2 == "zh") == 25)
    // driver replay of the keep decision: salted md5 coin fraction < rate
    def coinFrac(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix_t:$id".getBytes("UTF-8"))
      val hex = md.take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val expectedEn = (0L until 100L).filter(coinFrac(_) < 0.5).toSet
    assert(rows.filter(_._2 == "en").map(_._1).toSet == expectedEn)
    // deterministic under re-run
    val again = graft.operators.Pipeline.mixTemperature(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id")).sorted.toSeq
    assert(again == rows.map(_._1).sorted.toSeq)
  }

  // --------------------------------------------------------- pipelineCurate

  test("pipelineCurate: flags equal the standalone operators; keep is their conjunction") {
    val rows = graft.operators.Pipeline.curate(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("quality_ok"), r.getAs[Boolean]("is_survivor"),
          r.getAs[Boolean]("contaminated"), r.getAs[Boolean]("mix_keep"),
          r.getAs[Boolean]("keep")))).toMap
    assert(rows.nonEmpty)
    // benchmark stand-ins excluded; everything else present exactly once
    assert(rows.keySet.forall(_ % graft.operators.Curation.BenchmarkMod != 0))
    // each flag equals its standalone operator's answer on the same fixture
    val quality = graft.operators.TextOps.textQuality(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val surv = graft.operators.Dedup.clusters(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_id"))).toMap
    val dec = graft.operators.Curation.decontam(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    val mixKept = graft.operators.Pipeline.mixTemperature(spark, Sf0001).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    rows.foreach { case (id, (q, sv, ct, mk, keep)) =>
      assert(q == quality(id), s"doc $id quality")
      assert(sv == surv(id), s"doc $id survivor")
      assert(ct == dec(id), s"doc $id contaminated")
      assert(mk == mixKept(id), s"doc $id mix")
      assert(keep == (q && sv && !ct && mk), s"doc $id conjunction")
    }
    // the fixture exercises every gate: some docs fail each dimension
    assert(rows.values.exists(!_._1) && rows.values.exists(!_._2)
      && rows.values.exists(_._3) && rows.values.exists(!_._4))
    TransientCache.releaseAll(spark)
  }

  // ----------------------------------------------------------------- tfidf

  test("tfidf: exact rational weights, rank order, lexicographic tiebreak") {
    val dir = writeDocs(Seq(
      (1L, "apple apple banana", "en", "s0"),
      (2L, "banana cherry", "en", "s1"),
      (3L, "cherry cherry cherry", "en", "s2")))
    // N=3; df: apple 1, banana 2, cherry 2
    val rows = graft.operators.TextOps.tfidf(spark, dir)
      .collect().map(r => ((r.getAs[Long]("doc_id"), r.getAs[String]("term")),
        (r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("tfidf"),
          r.getAs[Int]("rnk")))).toMap
    assert(rows((1L, "apple")) == ((2L, 1L, 6.0, 1)))
    assert(rows((1L, "banana")) == ((1L, 2L, 1.5, 2)))
    // doc 2: equal weights 1.5/1.5 -> banana before cherry lexicographically
    assert(rows((2L, "banana")) == ((1L, 2L, 1.5, 1)))
    assert(rows((2L, "cherry")) == ((1L, 2L, 1.5, 2)))
    assert(rows((3L, "cherry")) == ((3L, 2L, 4.5, 1)))
    assert(rows.size == 5)
  }

  // -------------------------------------------------------------- piiScrub

  private def scrubOne(text: String): (Int, Int, Int, String) = {
    val s = spark
    import s.implicits._
    val r = Curation.scrub(Seq(text).toDF("t"),
      org.apache.spark.sql.functions.col("t")).head
    (r.getAs[Int]("n_emails"), r.getAs[Int]("n_ips"), r.getAs[Int]("n_nums"),
      r.getAs[String]("scrubbed"))
  }

  test("scrub: planted PII — emails, IPs, digit runs, each counted once") {
    assert(scrubOne("reach john.doe+x@sub.example.co.uk today") ==
      ((1, 0, 0, "reach <EMAIL> today")))
    assert(scrubOne("hosts 10.0.0.1 and 192.168.001.255 up") ==
      ((0, 2, 0, "hosts <IP> and <IP> up")))
    assert(scrubOne("call 5551234567 or 123456789012345 now") ==
      ((0, 0, 2, "call <NUM> or <NUM> now")))
  }

  test("scrub: digits inside an email are redacted as the email, not double-counted") {
    assert(scrubOne("acct a123456789@b.com end") == ((1, 0, 0, "acct <EMAIL> end")))
    // 6-digit run is below the >=7 threshold and survives
    assert(scrubOne("pin 123456 ok") == ((0, 0, 0, "pin 123456 ok")))
  }

  test("scrub: order is emails then IPs then digit runs, applied to the prior state") {
    // the IP match greedily takes 3 digits per octet ("123.456.789.123"),
    // and the leftover "4567" is below the 7-digit NUM floor — it survives
    assert(scrubOne("x 123.456.789.1234567 y") == ((0, 1, 0, "x <IP>4567 y")))
    // a full 7-digit run adjacent to the IP IS redacted as a number
    assert(scrubOne("x 10.0.0.1 7654321 y") == ((0, 1, 1, "x <IP> <NUM> y")))
  }

  test("piiScrub: fixture augmentation yields the analytic counts") {
    val rows = Curation.piiScrub(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("n_emails") == 1, s"doc $id emails")
      assert(r.getAs[Int]("n_ips") == (if (id % 3 == 0) 2 else 1), s"doc $id ips")
      assert(r.getAs[Int]("n_nums") == 1, s"doc $id nums")
      val t = r.getAs[String]("scrubbed")
      assert(t.contains("<EMAIL>") && t.contains("<IP>") && t.contains("<NUM>"),
        s"doc $id placeholders")
      assert(!t.contains("@") && !"\\d{7,}".r.findFirstIn(t).isDefined,
        s"doc $id residual PII")
    }
  }

  test("textNormalize: casefold + whitespace collapse + trim, md5 keys equal forms") {
    // doc_ids 3, 4, 8 fall in the pass-through mangle classes (%5 ∉ {0,1,2})
    // so the planted strings reach the normalizer verbatim
    val dir = writeDocs(Seq(
      (3L, "Hello   World", "en", "web"),
      (4L, "  hello\tworld\n", "en", "web"),
      (8L, "already normal", "en", "web")))
    val got = graft.operators.TextOps.textNormalize(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_raw"), r.getAs[Int]("n_norm"),
          r.getAs[Long]("changed"), r.getAs[String]("norm_md5")))).toMap
    assert(got(3L)._3 == 1L && got(4L)._3 == 1L && got(8L)._3 == 0L)
    assert(got(3L)._2 == "hello world".length && got(4L)._2 == "hello world".length)
    // both messy forms canonicalize to the same dedup key
    assert(got(3L)._4 == got(4L)._4)
    assert(got(8L)._4 != got(3L)._4)
  }

  test("textNormalize: every mangle class canonicalizes back to the clean digest") {
    import org.apache.spark.sql.functions.md5
    val clean = graft.sources.Tables.documents(spark, Sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        md5(org.apache.spark.sql.functions.col("text")).as("fp")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp")).toMap
    val rows = graft.operators.TextOps.textNormalize(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("changed")).sum > 0) // non-vacuous on fixture
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // the fixture corpus is already canonical, so normalizing the mangled
      // form must recover the clean document's digest for every class
      assert(r.getAs[String]("norm_md5") == clean(id), s"doc $id")
      assert(r.getAs[Long]("changed") == (if (id % 5 <= 2) 1L else 0L), s"doc $id")
    }
  }

  test("valueHistogram: buckets tile the rows and total the exact cents") {
    val ev = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS cents").collect()
      .map(_.getLong(0))
    val got = graft.operators.Profile.valueHistogram(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("lo_cents"), r.getAs[Long]("n"), r.getAs[Long]("sum_cents"))))
    assert(got.map(_._2._2).sum == ev.length)
    assert(got.map(_._2._3).sum == ev.sum)
    got.foreach { case (b, (lo, _, _)) => assert(lo == b * 500) }
    val expected = ev.groupBy(_ / 500).map { case (b, cs) =>
      b -> ((b * 500, cs.length.toLong, cs.sum)) }
    assert(got.toMap == expected)
  }

  test("winsorize: per-type nearest-rank p99 clip matches a driver-side replay") {
    val ev = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("event_id", "event_type", "value",
        "CAST(round(value * 100) AS BIGINT) AS cents").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    // nearest-rank p99 per type: smallest cents with cum count ≥ ⌈0.99·n⌉
    val p99 = ev.groupBy(_._2).map { case (t, rows) =>
      val sorted = rows.map(_._4).sorted
      t -> sorted((99 * sorted.length + 99) / 100 - 1)
    }
    val got = graft.operators.Profile.winsorize(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("event_type"), r.getAs[Double]("value"),
          r.getAs[Double]("p99"), r.getAs[Double]("clipped")))).toMap
    assert(got.size == ev.length)
    ev.foreach { case (id, t, v, cents) =>
      val (gt, gv, gp, gc) = got(id)
      assert(gt == t && gv == v)
      assert(gp == p99(t).toDouble / 100.0)
      assert(gc == (if (cents > p99(t)) p99(t).toDouble / 100.0 else v), s"event $id")
    }
    // the clip must actually fire somewhere on the fixture
    assert(got.values.exists { case (_, v, _, c) => c < v })
  }

  test("corpusReport: planted corpus yields hand-computed metrics") {
    // two identical docs (one dup group of 2), one short doc, two langs,
    // two sources
    val dir = writeDocs(Seq(
      (1L, "spark rules the lake", "en", "s0"),
      (2L, "spark rules the lake", "en", "s1"),
      (3L, "ok", "de", "s0")))
    val got = graft.operators.Profile.corpusReport(spark, dir).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    assert(got == Map(
      "n_docs" -> 3L, "n_sources" -> 2L, "n_langs" -> 2L,
      "total_chars" -> (20L + 20L + 2L),
      "n_short_docs" -> 3L, // all under 50 chars
      "total_ws_tokens" -> (4L + 4L + 1L),
      "n_dup_docs" -> 2L, "n_surplus_docs" -> 1L))
  }

  test("corpusReport: fixture metrics agree with the operators they summarize") {
    val got = graft.operators.Profile.corpusReport(spark, Sf0001).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    val docs = graft.sources.Tables.documents(spark, Sf0001)
    assert(got("n_docs") == docs.count())
    val surplus = docs.count() - graft.operators.Dedup.exact(spark, Sf0001).count()
    assert(got("n_surplus_docs") == surplus)
    val toks = graft.operators.TextOps.textTokens(spark, Sf0001)
      .agg(org.apache.spark.sql.functions.sum("n_ws_tokens")).head.getLong(0)
    assert(got("total_ws_tokens") == toks)
  }

  test("dqViolations: planted violations are counted with min sample keys; clean rules report zero") {
    val s = spark
    import s.implicits._
    val dir = scratchDir("dq").toString
    val d = java.sql.Date.valueOf(_: String)
    // customers 1, 2
    Seq(Tuple1(1L), Tuple1(2L)).toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // order 10 ok; order 11 references missing customer 9; order 12 has
    // non-positive total
    Seq(
      (10L, 1L, "O", 100.0, d("2024-01-10"), "1-URGENT"),
      (11L, 9L, "O", 50.0, d("2024-01-05"), "1-URGENT"),
      (12L, 2L, "O", -1.0, d("2024-01-07"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // lines: order 10 ships before orderdate (violation) and after (ok);
    // order 99 is an orphan; order 11's line has a domain-breaking discount
    Seq(
      (10L, 1L, 1L, 1, 5.0, 0.05, 0.0, "N", "O", d("2024-01-08")),
      (10L, 1L, 1L, 2, 5.0, 0.05, 0.0, "N", "O", d("2024-01-12")),
      (99L, 1L, 1L, 1, 5.0, 0.05, 0.0, "N", "O", d("2024-01-12")),
      (11L, 1L, 1L, 1, 5.0, 0.90, 0.0, "N", "O", d("2024-01-06")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.operators.Profile.dqViolations(spark, dir).collect()
      .map(r => r.getAs[String]("rule") ->
        ((r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
          Option(r.getAs[java.lang.Long]("sample_key")).map(_.longValue())))).toMap
    assert(got("fk_lineitem_orders") == ((4L, 1L, Some(99L))))
    assert(got("ship_before_order") == ((4L, 1L, Some(10L))))
    assert(got("nonpositive_quantity") == ((4L, 0L, None)))
    assert(got("discount_domain") == ((4L, 1L, Some(11L))))
    assert(got("fk_orders_customer") == ((3L, 1L, Some(11L))))
    assert(got("nonpositive_total") == ((3L, 1L, Some(12L))))
  }

  test("dqViolations: fixture — FK and domain rules clean, temporal rule fires") {
    val got = graft.operators.Profile.dqViolations(spark, Sf0001).collect()
      .map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations")).toMap
    assert(got.size == 6)
    assert(got("fk_lineitem_orders") == 0L)
    assert(got("fk_orders_customer") == 0L)
    assert(got("nonpositive_quantity") == 0L)
    assert(got("nonpositive_total") == 0L)
    assert(got("ship_before_order") > 0L) // synthetic dates are independent
  }

  test("robustScale: nearest-rank quartiles and IQR scaling match a driver-side replay") {
    val ev = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("event_id", "event_type",
        "CAST(round(value * 100) AS BIGINT) AS cents").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val quarts = ev.groupBy(_._2).map { case (t, rows) =>
      val sorted = rows.map(_._3).sorted
      def nr(q: Int) = sorted(((q * sorted.length + 99) / 100 - 1).max(0))
      t -> ((nr(25), nr(50), nr(75)))
    }
    val got = graft.operators.Profile.robustScale(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Double]("median"), r.getAs[Double]("iqr"),
          r.getAs[Double]("scaled")))).toMap
    assert(got.size == ev.length)
    ev.foreach { case (id, t, cents) =>
      val (p25, med, p75) = quarts(t)
      val (gmed, giqr, gscaled) = got(id)
      assert(gmed == med.toDouble / 100.0)
      assert(giqr == (p75 - p25).toDouble / 100.0)
      val exp = if (p75 == p25) 0.0
        else (cents - med).toDouble / (p75 - p25).toDouble
      assert(gscaled == exp, s"event $id")
    }
    // the transform actually spreads: both signs occur on the fixture
    assert(got.values.exists(_._3 < 0) && got.values.exists(_._3 > 0))
  }

  test("rankNormalize: min-rank percentile matches a driver-side sort replay") {
    val ev = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("event_id", "event_type",
        "CAST(round(value * 100) AS BIGINT) AS cents").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byType = ev.groupBy(_._2).map { case (t, rows) =>
      val sorted = rows.map(_._3).sorted
      // min-rank of v = 1 + count of strictly smaller values
      t -> ((sorted, sorted.length.toLong))
    }
    val got = graft.operators.Profile.rankNormalize(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("rnk"), r.getAs[Double]("pct")))).toMap
    assert(got.size == ev.length)
    ev.foreach { case (id, t, cents) =>
      val (sorted, n) = byType(t)
      val rnk = sorted.count(_ < cents).toLong + 1L
      val (grnk, gpct) = got(id)
      assert(grnk == rnk, s"event $id")
      assert(gpct == (if (n == 1L) 0.0 else (rnk - 1).toDouble / (n - 1).toDouble))
    }
    // percentiles span the unit interval on the fixture
    assert(got.values.exists(_._2 == 0.0) && got.values.exists(_._2 == 1.0))
  }

  // ------------------------------------------------------------ lineDedup

  private def lineStats(dir: String): Map[Long, (Long, Long, Option[String])] =
    Curation.lineDedup(spark, dir).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          Option(r.getAs[String]("kept_md5"))))
    }.toMap

  test("lineDedup: corpus-duplicated lines survive only at their first occurrence") {
    // 8-token tiling: docs are built in whole tiles so the planted
    // duplicate line aligns. Doc 1 and doc 2 share tile "a b c d e f g h";
    // doc 2's second tile is unique; doc 5 is all-duplicate (its only tile
    // equals doc 1's, first-seen there) — kept_md5 must be null.
    val shared = "a b c d e f g h"
    val dir = writeDocs(Seq(
      (1L, shared, "en", "s"),
      (2L, s"$shared u1 u2 u3 u4 u5 u6 u7 u8", "en", "s"),
      (5L, shared, "en", "s")))
    val g = lineStats(dir)
    // doc 1: its tile is the (1,0) first occurrence, kept
    assert(g(1L)._1 == 1L && g(1L)._2 == 1L && g(1L)._3.isDefined)
    // doc 2: shared tile dropped (first seen at doc 1), unique tile kept
    assert(g(2L)._1 == 2L && g(2L)._2 == 1L)
    // doc 5: everything dropped — null identity
    assert(g(5L) == ((1L, 0L, None)))
    // the kept_md5 of doc 1 is the digest-of-digest of its single line
    val lineMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(shared.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(lineMd5.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(g(1L)._3.contains(docMd5))
  }

  test("lineDedup: footer augmentation fires — every third doc gets a shared footer") {
    // footer variant is doc_id % 5 on every doc_id % 3 == 0 doc, so two
    // docs share a footer iff their ids differ by a multiple of 15: docs 0
    // and 15 share variant 0 (15's dropped); doc 6 has variant 1, fresh
    val dir = writeDocs(Seq(
      (0L, "b0 x x x x x x x", "en", "s"),
      (15L, "b15 x x x x x x x", "en", "s"),
      (6L, "b6 x x x x x x x", "en", "s"),
      (1L, "b1 x x x x x x x", "en", "s")))
    val g = lineStats(dir)
    assert(g(0L) == ((2L, 2L, g(0L)._3))) // body + footer v0, both first
    assert(g(15L)._1 == 2L && g(15L)._2 == 1L) // footer v0 already seen at doc 0
    assert(g(6L)._1 == 2L && g(6L)._2 == 2L) // footer v1 is fresh
    assert(g(1L) == ((1L, 1L, g(1L)._3))) // doc 1 % 3 != 0: no footer
  }

  test("lineDedup: fixture matches a driver-side first-occurrence replay") {
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val lines = docs.flatMap { case (id, text) => Curation.docLines(id, text) }
    val firstOf = lines.groupBy(_._3).view
      .mapValues(_.map(l => (l._1, l._2)).min).toMap
    val expected = lines.groupBy(_._1).map { case (id, ls) =>
      val kept = ls.filter(l => firstOf(l._3) == ((l._1, l._2)))
      val keptMd5 = if (kept.isEmpty) None else {
        def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        Some(md5hex(kept.sortBy(_._2).map(l => md5hex(l._3)).mkString("\n")))
      }
      id -> ((ls.length.toLong, kept.length.toLong, keptMd5))
    }
    val got = lineStats(Sf0001)
    assert(got == expected)
    // the augmentation makes dedup non-vacuous on the fixture
    assert(got.values.exists(v => v._1 != v._2))
  }

  test("driftPsi: bins, counts and contributions match a driver-side replay") {
    val ev = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("unix_micros(ts) AS ts_us",
        "CAST(round(value * 100) AS BIGINT) AS cents").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mid = (ev.map(_._1).min + ev.map(_._1).max) / 2
    val ref = ev.filter(_._1 <= mid).map(_._2)
    val cur = ev.filter(_._1 > mid).map(_._2)
    // ceil-rank decile edges over the reference histogram
    val sortedRef = ref.sorted
    val n = ref.length.toLong
    val edges = (10 to 90 by 10).map { q =>
      val rank = (q * n + 99) / 100
      sortedRef(rank.toInt - 1)
    }
    def bin(c: Long): Int = edges.count(c > _)
    val refCounts = ref.groupBy(bin).view.mapValues(_.length.toLong).toMap
    val curCounts = cur.groupBy(bin).view.mapValues(_.length.toLong).toMap
    val dRef = ref.length.toLong
    val dCur = cur.length.toLong
    val expected = (0 until 10).map { b =>
      val nr = refCounts.getOrElse(b, 0L)
      val nc = curCounts.getOrElse(b, 0L)
      val p = (nr + 1).toDouble / (dRef + 10).toDouble
      val q = (nc + 1).toDouble / (dCur + 10).toDouble
      val lo = if (b >= 1) Some(edges(b - 1)) else None
      val hi = if (b <= 8) Some(edges(b)) else None
      (b.toLong, lo, hi, nr, nc,
        BigDecimal((p - q) * math.log(p / q))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = graft.operators.Profile.driftPsi(spark, Sf0001).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got === expected)
    // both halves are populated and every event landed in exactly one bin
    assert(dRef > 0 && dCur > 0)
    assert(got.toSeq.map(_._4).sum == dRef && got.toSeq.map(_._5).sum == dCur)
    TransientCache.releaseAll(spark)
  }
}
