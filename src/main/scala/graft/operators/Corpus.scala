package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.sources.Tables

/** Corpus-level statistics operators of a training-data pipeline: the
  * vocabulary build + dictionary encode that precedes any tokenizer-bound
  * training run, collocation mining over the same token stream, and exact
  * per-source order statistics for corpus QA dashboards.
  *
  * Like the rest of the curation surface these generalize the reference's
  * single dataflow idiom — tokenize, shuffle on the token, aggregate
  * (`src/mr/worker.go:83-90` map → `worker.go:200-223` reduce) — into the
  * operations the reference's wc/indexer outputs feed in a real pipeline.
  * Every output stays integral (or one explicitly-ordered IEEE expression)
  * so the DuckDB oracle compares bit-exactly.
  */
object Corpus {

  /** Vocabulary size for [[vocabEncode]]. Fixture-sized on purpose: the
    * synthetic corpus has ~30 distinct words, so 20 keeps a real OOV tail.
    */
  val VocabSize = 20

  /** Sentinel id for out-of-vocabulary tokens. */
  val OovId = -1

  /** vocab_encode — frequency-ranked vocabulary build + dictionary encode:
    * the top-[[VocabSize]] tokens by corpus frequency (ties broken
    * lexicographically) get ids 0..K-1 in rank order, and every document is
    * re-emitted as its position-ordered id sequence with OOV tokens mapped
    * to [[OovId]]. This is the tokenizer-vocabulary step every training run
    * performs before packing; downstream consumers read `ids` instead of
    * re-tokenizing text.
    *
    * 100 TB plan: one shuffle on token builds the frequency table (map-side
    * combine); the global top-K is a distributed TakeOrdered (K is a small
    * constant — the K-row tail never concentrates data anywhere), and id
    * assignment zips the already-sorted K rows (the bounded cousin of the
    * ngram dictionary's distributed sort + zipWithIndex — no single-partition
    * window). The ENCODE side is shuffle-free: the K-row vocabulary is a
    * broadcast hash map and each document emits its own id sequence from one
    * typed JVM pass ([[graft.operators.TextOps.wsTokens]] — the same
    * `split(trim, "\s+")` semantics the oracle replays). The first
    * formulation re-exploded the corpus and re-assembled sequences with
    * `groupBy(doc_id).collect_list(struct(pos, vid))` — shipping the ENTIRE
    * token stream through an exchange plus a per-group sort just to rebuild
    * an order each document already had on the way in; measured 31.3 s at
    * sf100 for what the broadcast map encodes during the scan. Encoding is
    * embarrassingly parallel per document — only the vocabulary build needs
    * the wire.
    */
  def vocabEncode(s: SparkSession, dir: String, k: Int = VocabSize): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(k)
    // TakeOrderedAndProject yields the K rows in rank order on one
    // partition; zipWithIndex turns that order into the id — deterministic,
    // and never a WindowExec over an unpartitioned stream. K rows by
    // construction, so the collect is bounded.
    val vocabMap = new java.util.HashMap[String, Integer](k * 2)
    top.select("tok").rdd.zipWithIndex().collect().foreach { case (r, i) =>
      vocabMap.put(r.getString(0), i.toInt)
    }
    // The broadcast's lifetime is tied to the returned (lazy) DataFrame —
    // destroying it here would break a caller that executes the plan later,
    // so reclamation is deliberately left to the ContextCleaner, which
    // reaps the block once the closure (and frame) become unreachable
    // after a GC. K·~16 B per call; a long-lived session invoking
    // vocabEncode in a tight loop accumulates at most a few MB between GCs.
    val bcVocab = s.sparkContext.broadcast(vocabMap)
    val oov = Integer.valueOf(OovId)
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      // null text -> no token rows in the declarative form, so the doc was
      // absent from the old grouped output; the typed pass must drop it
      // too (not NPE) — same guard on every typed tokenize pass
      .filter(col("text").isNotNull)
      .as[(Long, String)]
      .map { case (id, text) =>
        val ts = TextOps.wsTokens(text)
        val m = bcVocab.value
        var nOov = 0L
        val sb = new java.lang.StringBuilder(ts.length * 3)
        var i = 0
        while (i < ts.length) {
          val vid = m.getOrDefault(ts(i), oov)
          if (vid == OovId) nOov += 1
          if (i > 0) sb.append(',')
          sb.append(vid.intValue())
          i += 1
        }
        (id, ts.length.toLong, nOov, sb.toString)
      }
      .toDF("doc_id", "n_toks", "oov_count", "ids")
  }

  /** Result rows kept by [[collocLift]]. */
  val CollocTopK = 25

  /** colloc_lift — bigram collocation mining: the top-K adjacent word pairs
    * by lift `P(w1 w2) / (P(w1) P(w2))` (the association measure PMI is the
    * log of — reported un-logged so both engines compute the identical IEEE
    * double: every factor is an exact integer-derived double and the
    * multiplication order is fully parenthesized; no libm log call, whose
    * last-ulp behavior differs across engines). High-lift pairs are the
    * corpus's fixed phrases — the n-gram statistics step of quality
    * filtering and tokenizer-merge (BPE-style) pipelines.
    *
    * One typed JVM pass emits, for every token position, the token and its
    * successor (null for the last — so the SAME scan carries both the
    * unigram stream and the bigram stream: w1 alone is the unigram). The
    * pass is cached transiently because four aggregations diverge from it
    * (unigram counts, pair counts, and the two scalar totals); post-explode
    * triples are token-stream-sized, the same working set the wc shuffle
    * already moves. Pair and unigram count tables are vocabulary-sized, so
    * AQE broadcasts the joins back; the final top-K is a distributed
    * TakeOrdered on the pair-count table, never a global sort of the corpus.
    */
  def collocLift(s: SparkSession, dir: String, k: Int = CollocTopK): DataFrame = {
    import s.implicits._
    val stream = graft.TransientCache.cache(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (_, text) =>
          val t = TextOps.wsTokens(text)
          t.indices.map(i => (t(i), if (i + 1 < t.length) t(i + 1) else null))
        }
        .toDF("w1", "w2"))
    val n = stream.agg(count(lit(1)).as("n_toks"))
    val uni = stream.groupBy("w1").agg(count(lit(1)).as("c"))
    val bg = stream.filter(col("w2").isNotNull)
    val np = bg.agg(count(lit(1)).as("n_pairs"))
    val pairs = bg.groupBy("w1", "w2").agg(count(lit(1)).as("pair_cnt"))
    pairs
      .join(uni.select(col("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w1").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(np))
      .withColumn("lift",
        ((col("pair_cnt").cast("double") * col("n_toks").cast("double"))
          * col("n_toks").cast("double"))
          / ((col("n_pairs").cast("double") * col("c1").cast("double"))
            * col("c2").cast("double")))
      .select("w1", "w2", "pair_cnt", "c1", "c2", "lift")
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Query terms for [[searchDocs]] — common fixture-vocabulary words so the
    * conjunction is selective but never empty at any scale factor.
    */
  val SearchTerms: Seq[String] = Seq("spark", "table", "fast")

  /** search_docs — conjunctive boolean retrieval over the same inverted
    * index the reference's indexer workload builds
    * (`src/mrapps/indexer.go:20-39` maps word → doc list; this is the query
    * side of that index): documents containing ALL query terms, ranked by
    * total query-term occurrences (an integral score — ranking stays exact,
    * no IDF float weighting; [[graft.operators.TextOps.tfidf]] carries the
    * weighted variant), doc_id as tiebreak.
    *
    * 100 TB plan: the term filter lands directly on the exploded token
    * stream — everything not a query term drops before the shuffle, so the
    * one exchange carries only matching postings (query-term-frequency ×
    * docs, not corpus size). The distinct-term conjunction check rides the
    * same per-doc aggregation, and the final top-k is a TakeOrdered over
    * the per-doc scores. A real engine serves this from a materialized
    * index (the indexer query IS that materialization); this operator is
    * the scan-time formulation with identical semantics.
    */
  def searchDocs(s: SparkSession, dir: String,
      terms: Seq[String] = SearchTerms, k: Int = 10): DataFrame = {
    val q = terms.distinct
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(filter(split(col("text"), "[^\\p{L}]+"), t => t =!= "")).as("term"))
      .filter(col("term").isin(q: _*))
      .groupBy("doc_id")
      .agg(count_distinct(col("term")).as("n_terms"), count(lit(1)).as("score"))
      .filter(col("n_terms") === q.length)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "score")
  }

  /** BM25 shape parameters (the standard Robertson defaults). `Bm25K1` is
    * deliberately the literal 1.2 — the SQL oracle spells the same literal,
    * so both engines parse the identical nearest-double.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** bm25_search — DISJUNCTIVE ranked retrieval over the inverted index,
    * scored by BM25 with the rational Robertson idf `(N − df + ½)/(df + ½)`
    * instead of its log (same monotone ranking for the fixture's df range;
    * no libm `log` call, whose last-ulp behavior differs across engines — the
    * same discipline as [[collocLift]]'s un-logged lift). Every factor is an
    * integer-derived double and the expression tree is fully parenthesized,
    * so DuckDB replays bit-identical scores; the per-document sum over query
    * terms folds in LEXICOGRAPHIC term order on both engines (the ordered-
    * fold discipline of the ANN dot products). Complements [[searchDocs]]:
    * that is the boolean AND with an integral score, this is the weighted OR
    * every retrieval pipeline actually ranks with.
    *
    * 100 TB plan: document lengths are one map-side-combined aggregation of
    * the token stream (shared scan with the postings via the transient
    * cache); the postings shuffle carries ONLY query-term rows (the filter
    * sits on the exploded stream, before the exchange), df and the corpus
    * totals are scalar/K-row broadcasts, and the final ranking is a
    * distributed TakeOrdered. Nothing corpus-sized moves except the one
    * doc-length aggregation every BM25 engine needs.
    */
  def bm25Search(s: SparkSession, dir: String,
      terms: Seq[String] = SearchTerms, k: Int = 10): DataFrame =
    bm25PerDoc(s, dir, terms)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "n_terms", "score")

  /** Per-document BM25 frame shared by [[bm25Search]] and
    * [[ragContextPack]]: (doc_id, n_terms, score, n_toks) for every doc
    * matching at least one query term. `n_toks` is the SAME doc-length the
    * score's length normalization uses — the packer's budget is counted in
    * the tokens the scorer saw, not a second tokenization.
    */
  private def bm25PerDoc(s: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    // Column-wise reshape (round 16, guide §2.3/§2.4): the query-term list
    // is a small static set, so per-term counts fit in ONE narrow projection
    // per document — (doc_id, dl, tf_0..tf_k) — computed in a single
    // tokenize pass with no token-row explode at all. The previous shape
    // exploded every token of every document into a cached row stream and
    // paid three corpus-scale exchanges over it (dl groupBy, postings
    // groupBy, post⋈dl join); this shape's only corpus-wide work is the
    // narrow projection plus a 1-row global aggregate (corpus totals AND all
    // per-term document frequencies, map-side combined), and the per-doc
    // score needs no join and no collect_list fold. Sorted term order makes
    // the static fold add tscores in the same lexicographic order the old
    // array_sort(collect_list) fold used, so every IEEE partial sum — and
    // therefore every emitted double — is bit-identical.
    val q = terms.distinct.sorted
    val tfCols = q.zipWithIndex.map { case (t, i) =>
      size(filter(col("toks"), x => x === lit(t))).cast("long").as(s"tf_$i") }
    val perDoc = graft.TransientCache.cache(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          filter(split(col("text"), "[^\\p{L}]+"), t => t =!= "").as("toks"))
        .select(col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
          tfCols: _*))
    // docs whose text tokenizes to nothing never entered the old dl table
    // (explode emits no row), so they are excluded from n_docs here; their
    // dl is 0 (or null for null text — sum skips it) either way
    val statAggs =
      sum(when(col("dl") > 0L, 1L).otherwise(0L)).as("n_docs") +:
        sum(col("dl")).as("tot_toks") +:
        q.indices.map(i =>
          sum(when(col(s"tf_$i") > 0L, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val matched = perDoc
      .filter(q.indices.map(i => col(s"tf_$i") > 0L).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("tot_toks").cast("double") / col("n_docs").cast("double"))
    // the exact tscore expression tree of the pre-r16 shape, per term
    def tscore(i: Int): org.apache.spark.sql.Column =
      ((col("n_docs").cast("double") - col(s"df_$i").cast("double")) + lit(0.5)) /
        (col(s"df_$i").cast("double") + 0.5) *
        ((col(s"tf_$i").cast("double") * lit(Bm25K1 + 1.0)) /
          (col(s"tf_$i").cast("double")
            + lit(Bm25K1) * (lit(1.0 - Bm25B)
              + lit(Bm25B) * (col("dl").cast("double") / col("avgdl")))))
    val score = q.indices.foldLeft(lit(0.0): org.apache.spark.sql.Column) { (acc, i) =>
      when(col(s"tf_$i") > 0L, acc + tscore(i)).otherwise(acc) }
    val nTerms = q.indices.map(i =>
      when(col(s"tf_$i") > 0L, 1L).otherwise(0L)).reduce(_ + _)
    matched.select(col("doc_id"), nTerms.as("n_terms"), score.as("score"),
      col("dl").as("n_toks"))
  }

  /** Candidate pool size for [[ragContextPack]]: how deep into the BM25
    * ranking the packer looks before the budget cuts it off.
    */
  val RagPoolK = 20

  /** Context token budget for [[ragContextPack]] — sized so the fixture's
    * top-ranked docs (~50–90 tokens each) pack a handful of documents and
    * the budget visibly truncates the pool at every scale factor.
    */
  val RagBudget = 256

  /** rag_context_pack — budgeted context assembly, the step between
    * retrieval and the prompt in every RAG pipeline: rank candidates by
    * BM25, then take documents in rank order while the running token total
    * stays within the context budget (the standard prefix-pack contract —
    * deterministic, no knapsack search). Output is the packed context
    * manifest: (doc_id, rank, n_toks, cum_toks, score).
    *
    * 100 TB plan: all corpus-scale work is [[bm25PerDoc]]'s (filtered
    * postings shuffle + one doc-length aggregation); the pool is a
    * distributed TakeOrdered of `poolK` rows, and the pack itself — a
    * row_number + running sum over that pool — is a window over a
    * CONSTANT-size frame (≤ poolK rows), not a corpus-sized single-partition
    * sort. Budget accounting is integral (BIGINT token counts), so the gate
    * hashes exactly; the only doubles are the BM25 scores the bm25_search
    * oracle already replays bit-identically.
    */
  def ragContextPack(s: SparkSession, dir: String,
      terms: Seq[String] = SearchTerms, poolK: Int = RagPoolK,
      budget: Int = RagBudget): DataFrame = {
    val pool = bm25PerDoc(s, dir, terms)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(poolK)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    pool
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_toks", sum(col("n_toks"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_toks") <= budget)
      .select("doc_id", "rank", "n_toks", "cum_toks", "score")
  }

  /** Bucket count for [[hashEmbed]] — 32 keeps collisions real on the
    * fixture vocabulary (a power of two so bucketing is a bitmask, the same
    * trick the replay oracles use to avoid 128-bit divmod).
    */
  val HashEmbedDims = 32

  /** hash_embed — feature-hashing document embeddings (the hashing trick /
    * "Weinberger" embedding): every token occurrence votes ±1 into one of
    * [[HashEmbedDims]] buckets — bucket = low 5 bits of the token's FNV-64
    * hash, sign = bit 32 — and a document's embedding is the per-bucket vote
    * sum. The cheap, vocabulary-free text→vector bridge: no training, no
    * dictionary, deterministic across engines, and the output feeds the same
    * ANN/near-dup machinery the `embeddings` table does. Counts stay
    * INTEGRAL (no normalization), so the oracle compare is exact — a
    * downstream consumer normalizes at read time if it needs unit vectors.
    *
    * Emitted sparse: (doc_id, dim, val) rows for nonzero buckets only —
    * top-level scalars, never array columns (driver canonicalization).
    *
    * 100 TB plan: one codegen'd scan (tokenize + the native fnv64
    * `Expression` + bitmask) into one map-side-combined shuffle on
    * (doc_id, dim) — the wc plan with a 5-bit key appended; ~32 rows per
    * document out. No joins, no windows, no driver state.
    */
  def hashEmbed(s: SparkSession, dir: String, dims: Int = HashEmbedDims): DataFrame = {
    require((dims & (dims - 1)) == 0, "dims must be a power of two (bitmask bucketing)")
    val h = graft.functions.GraftFunctions.fnv64(col("tok"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      // an empty/whitespace-only document splits to one "" token; dropping
      // it keeps the all-zero embedding an empty doc should have (fnv64("")
      // would otherwise cast a spurious vote into its bucket)
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        h.bitwiseAND(lit((dims - 1).toLong)).cast("int").as("dim"),
        when(shiftright(h, 32).bitwiseAND(lit(1L)) === 0L, lit(1L))
          .otherwise(lit(-1L)).as("vote"))
      .groupBy("doc_id", "dim")
      .agg(sum("vote").as("val"))
      .filter(col("val") =!= 0L)
  }

  /** Weight-stream seed for [[classifierScore]]. */
  val ClsSeed = 7777L

  /** Deterministic integral weight per feature bucket: the same splitmix64
    * stream discipline as `Ann.hyperplanes` (state = seed + (b+1)·golden
    * gamma, then the three-round finalizer), truncated to the low 4 bits
    * minus 8 — a signed weight in [−8, 7]. At seed 7777 the fixture's 32
    * buckets draw 11 positive / 21 negative, no zeros, so scores and labels
    * are non-degenerate. Integral by construction: the score sum is exact
    * on any engine.
    */
  private[graft] def clsWeights(dims: Int, seed: Long = ClsSeed): Array[Long] =
    Array.tabulate(dims) { b =>
      (Dedup.mix64(seed + b.toLong * 0x9E3779B97F4A7C15L) & 15L) - 8L
    }

  /** classifier_score — linear document classifier over the feature-hashing
    * space: the fastText-style quality gate every crawl pipeline runs
    * (score each doc with a trained linear model; keep score > 0). The
    * model here is the deterministic [[clsWeights]] stand-in — in
    * production the weight array is the trained model's coefficients,
    * loaded the same way; nothing else changes.
    *
    * Algebra: score(doc) = Σ_dims val(doc,dim)·w(dim) = Σ_tokens
    * vote(tok)·w(bucket(tok)) — so the score folds DIRECTLY per token with
    * no intermediate per-dim embedding: one codegen'd scan (fnv64 + bitmask
    * + a plan-literal weight lookup), one map-side-combined shuffle on
    * doc_id alone. The weight table rides the plan as a 32-element array
    * literal — no broadcast, no join. Empty documents keep their one ""
    * split token with a zero contribution, so every doc_id emits exactly
    * one row (score 0, label false) without a fill-in join.
    */
  def classifierScore(s: SparkSession, dir: String, dims: Int = HashEmbedDims): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("doc_id"), clsContrib(dims).as("contrib"))
      .groupBy("doc_id")
      .agg(sum("contrib").as("score"))
      .withColumn("label", col("score") > 0L)
  }

  /** Per-token score contribution of the [[clsWeights]] linear model over a
    * `tok` column — the fold both [[classifierScore]] and
    * [[qualityBandKeep]] aggregate: sign(fnv bit 32) · w[fnv & (dims−1)],
    * zero for the empty split token.
    */
  private def clsContrib(dims: Int): org.apache.spark.sql.Column = {
    require((dims & (dims - 1)) == 0, "dims must be a power of two (bitmask bucketing)")
    val w = clsWeights(dims)
    val h = graft.functions.GraftFunctions.fnv64(col("tok"))
    when(col("tok") === "", lit(0L)).otherwise(
      when(shiftright(h, 32).bitwiseAND(lit(1L)) === 0L, lit(1L)).otherwise(lit(-1L)) *
        element_at(array(w.map(lit): _*),
          h.bitwiseAND(lit((dims - 1).toLong)).cast("int") + 1))
  }

  /** Percentile band kept by [[qualityBandKeep]]: documents with a
    * classifier score strictly above the per-source `BandLoPct`-th
    * percentile value and at or below the `BandHiPct`-th.
    */
  val BandLoPct = 20
  val BandHiPct = 80

  /** quality_band_keep — percentile-band curation (the DCLM/"mid-band"
    * selection published LLM pipelines apply on top of a quality
    * classifier): instead of an absolute score threshold, keep each
    * source's middle band — drop the bottom `loPct`% (junk) AND the top
    * `hiPct`..100% (boilerplate/templates score suspiciously well). The
    * band is defined by per-source order-statistic THRESHOLD SCORES
    * (t_p = the smallest score whose cumulative count reaches ⌈n·p/100⌉),
    * so membership is a pure function of the score — ties land on one side
    * deterministically, never split by row order.
    *
    * Execution shape: the same histogram kernel as
    * [[graft.operators.Profile.rankNormalize]] — scores collapse to an
    * exact (source, score) histogram FIRST (map-side combined; scores are
    * integral by [[clsWeights]] construction), the cumulative window runs
    * over histogram rows (distinct scores per source, not documents), and
    * the two thresholds broadcast back onto the scored stream. The raw
    * corpus is never sorted or windowed; `source` rides the score
    * aggregation key (constant per doc), so banding adds zero extra
    * corpus-scale shuffles over [[classifierScore]] itself.
    */
  def qualityBandKeep(s: SparkSession, dir: String, dims: Int = HashEmbedDims,
      loPct: Int = BandLoPct, hiPct: Int = BandHiPct): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.TransientCache.cache(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .select(col("doc_id"), col("source"), clsContrib(dims).as("contrib"))
        .groupBy("doc_id", "source")
        .agg(sum("contrib").as("score")))
    val hist = scored.groupBy("source", "score").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("source").orderBy("score")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
    // cum ≥ ⌈n·p/100⌉  ⟺  100·cum ≥ n·p (integer cum) — no division
    val thresholds = cum.groupBy("source").agg(
      min(when(col("cum") * 100 >= col("n") * loPct, col("score"))).as("t_lo"),
      min(when(col("cum") * 100 >= col("n") * hiPct, col("score"))).as("t_hi"))
    scored.join(broadcast(thresholds), "source")
      .select(col("doc_id"), col("source"), col("score"),
        (col("score") > col("t_lo") && col("score") <= col("t_hi")).as("keep"))
  }

  /** Misra–Gries counter budget per partition for [[heavyHitters]]. Sized
    * so the fixture vocabulary (~60 words) never evicts — the sketch is a
    * pass-through there and the guard below proves it — while at 100 TB the
    * same budget bounds per-task state to ~counters strings regardless of
    * how many billions of distinct junk tokens the crawl contains.
    */
  val MgCounters = 4096

  /** Result rows kept by [[heavyHitters]]. */
  val HhTopK = 20

  /** heavy_hitters — exact top-K most frequent tokens via a Misra–Gries
    * candidate sketch plus an exact recount of the candidates only. The
    * point at 100 TB is the VOCABULARY EXPLOSION, not the top of the
    * distribution: a naive `groupBy(token)` shuffles one partial-count row
    * per distinct token per task, and a web crawl's distinct-token count
    * (typos, hashes, URLs) grows unboundedly with corpus size. The sketch
    * caps that: each task folds its token stream into ≤ `counters` MG
    * survivors (amortized O(1) per token), so the candidate union — and
    * therefore the recount shuffle — is bounded by counters × tasks
    * whatever the vocabulary does.
    *
    * The answer stays EXACT, not sketch-approximate: Misra–Gries guarantees
    * every token with global frequency > n/(counters+1) survives in at
    * least one partition (if freq_p ≤ n_p/(C+1) everywhere, summing gives
    * freq ≤ n/(C+1) — contradiction), so the candidate union is a provable
    * superset of every such token; the recount then replaces sketch
    * estimates with true counts. A loud `require` asserts the K-th recount
    * clears the n/(counters+1) floor — if a flatter distribution ever
    * violated it, the run fails instead of silently returning a plausible
    * wrong list (raise `counters` and rerun).
    *
    * Tokenization is [[TextOps.wsTokens]] — the same `split(trim(text),
    * '\s+')` stream [[vocabEncode]]'s frequency table counts, so the oracle
    * replays it verbatim. Final ranking is a distributed TakeOrdered +
    * zipWithIndex (the [[vocabEncode]] idiom — never an unpartitioned
    * window); the candidate recount joins against a broadcast of the
    * candidate set so non-candidates drop map-side, before the exchange.
    */
  def heavyHitters(s: SparkSession, dir: String,
      k: Int = HhTopK, counters: Int = MgCounters): DataFrame = {
    import s.implicits._
    // One tokenize pass computes the per-partition MG sketch AND the
    // partition's token count (the n the completeness floor needs): each
    // partition emits ≤ counters survivor rows plus one (null, n_p) tally
    // row. THAT bounded frame is what gets cached — the first shape cached
    // the raw token stream itself (one row per corpus token) to share it
    // across sketch/recount/count, and at the sf100 decade probe the cache
    // materialization WAS the cost (54 s vs the streaming twin's 29 s
    // doing the same two passes uncached).
    val sketch = graft.TransientCache.cache(
      hhTokens(s, dir).as[String]
        .mapPartitions { it =>
          var np = 0L
          val counted = it.map { t => np += 1; t }
          val m = new java.util.HashMap[String, Array[Long]](counters * 2)
          mgFold(m, counted, counters)
          import scala.jdk.CollectionConverters._
          m.keySet().asScala.iterator.toArray.iterator
            .map(t => (t, 0L)) ++ Iterator(((null: String), np))
        }
        .toDF("tok", "pcnt"))
    val candidates = sketch.filter(col("tok").isNotNull)
      .select("tok").distinct()
    val n = sketch.agg(sum(col("pcnt"))).head.getLong(0)
    hhRecountTail(s, hhTokens(s, dir), candidates, k, counters, n)
  }

  /** The whitespace token stream [[heavyHitters]] counts — streamed, never
    * cached: every consumer pays one corpus-linear tokenize pass, which the
    * sf100 probe measured strictly cheaper than materializing a one-row-
    * per-token cache (the stream has no narrower form to cache).
    */
  private[graft] def hhTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (_, text) => TextOps.wsTokens(text) }
      .toDF("tok")
  }

  /** The exact tail shared by [[heavyHitters]] and its streaming twin: given
    * a candidate-token superset from SOME Misra–Gries pass (per-partition
    * batch sketches, or per-bucket streaming sketch state), recount the
    * candidates exactly, rank the top k, and loudly assert the n/(C+1)
    * completeness floor.
    */
  private[graft] def hhRecountTail(s: SparkSession, toks: DataFrame,
      candidates: DataFrame, k: Int, counters: Int,
      nTotal: Long = -1L): DataFrame = {
    val exact = graft.TransientCache.cache(
      toks.join(broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(count(lit(1)).as("cnt")))
    val top = exact.orderBy(col("cnt").desc, col("tok").asc).limit(k)
    val ranked = s.createDataFrame(
      top.rdd.zipWithIndex().map { case (r, i) =>
        Row(r.getString(0), r.getLong(1), (i + 1).toInt)
      },
      StructType(Seq(StructField("tok", StringType), StructField("cnt", LongType),
        StructField("rank", IntegerType))))
    // completeness guard: the K-th heaviest recount must clear the MG
    // survival floor, else tokens below the floor could belong in the list.
    // Callers whose sketch pass already tallied n pass it in (the batch
    // operator's per-partition tally rows); otherwise one count pass.
    val n = if (nTotal >= 0L) nTotal else toks.agg(count(lit(1))).head.getLong(0)
    // a flat-enough distribution can evict EVERY counter (empty candidate
    // set -> NULL min) — that's the same guarantee violation, reported by
    // the same require instead of an NPE
    val kthRow = top.agg(min(col("cnt"))).head
    val kth = if (kthRow.isNullAt(0)) 0L else kthRow.getLong(0)
    require(kth * (counters + 1L) > n,
      s"heavy_hitters completeness guarantee unmet: k-th count $kth <= n/(C+1) " +
        s"= $n/${counters + 1} — raise counters")
    ranked
  }

  /** One Misra–Gries pass over a partition's token stream: ≤ `counters`
    * tracked tokens; an untracked arrival with the budget full decrements
    * every counter (dropping zeros) instead of inserting. Survivors are the
    * partition's candidate set. Long-in-array so the hot path mutates in
    * place instead of re-boxing.
    */
  private[graft] def mgSurvivors(it: Iterator[String], counters: Int): Iterator[String] = {
    require(counters > 0, "counters must be positive")
    val m = new java.util.HashMap[String, Array[Long]](counters * 2)
    mgFold(m, it, counters)
    import scala.jdk.CollectionConverters._
    m.keySet().asScala.iterator.toArray.iterator
  }

  /** Fold a token stream into an existing Misra–Gries counter map in place —
    * the shared kernel of [[mgSurvivors]] (fresh map per batch partition)
    * and the streaming twin's per-bucket sketch STATE (the map persists
    * across triggers; folding more tokens into survivors-so-far is exactly
    * the MG merge, so the guarantee keeps holding for the concatenated
    * stream).
    */
  private[graft] def mgFold(m: java.util.HashMap[String, Array[Long]],
      it: Iterator[String], counters: Int): Unit = {
    while (it.hasNext) {
      val t = it.next()
      val c = m.get(t)
      if (c != null) c(0) += 1
      else if (m.size < counters) m.put(t, Array(1L))
      else {
        val entries = m.entrySet().iterator()
        while (entries.hasNext) {
          val e = entries.next()
          e.getValue()(0) -= 1
          if (e.getValue()(0) == 0L) entries.remove()
        }
      }
    }
  }

  /** WEIGHTED Misra–Gries fold — merges partial counter entries (token,
    * weight) into a capacity-`counters` map: the merge half of the standard
    * MERGEABLE-summaries result (Agarwal et al., PODS '12). An unmatched
    * arrival with weight w is absorbed in δ-sized rounds, δ = min(w,
    * smallest resident counter): every round removes δ from ALL residents
    * and δ from the arrival — δ·(C+1) units of mass per round, exactly the
    * unit fold's accounting — so the total undercount of any token stays
    * ≤ (total folded weight)/(counters+1). Feeding it MG PARTIALS (whose
    * own local loss is bounded the same way) therefore keeps the merged
    * sketch's error additive and bounded; q60's candidate COMPLETENESS
    * floor does not ride on this map at all (it rides on emitting the
    * per-slice survivors — see [[graft.streaming.EventStreams
    * .streamHeavyQuery]]), the map is the bounded LIVE sketch the monitor
    * serves between recounts.
    */
  private[graft] def mgFoldWeighted(m: java.util.HashMap[String, Array[Long]],
      it: Iterator[(String, Long)], counters: Int): Unit = {
    while (it.hasNext) {
      val (t, w0) = it.next()
      var w = w0
      val c = m.get(t)
      if (c != null) c(0) += w
      else {
        while (w > 0) {
          if (m.size < counters) { m.put(t, Array(w)); w = 0 }
          else {
            var minv = Long.MaxValue
            val vs = m.values.iterator()
            while (vs.hasNext) {
              val v = vs.next()(0); if (v < minv) minv = v
            }
            val d = math.min(w, minv)
            val entries = m.entrySet().iterator()
            while (entries.hasNext) {
              val e = entries.next()
              e.getValue()(0) -= d
              if (e.getValue()(0) == 0L) entries.remove()
            }
            w -= d
          }
        }
      }
    }
  }

  /** source_quantiles — exact per-source order statistics of document
    * length: n_docs, min/max, and discrete p50/p90 (the value at ascending
    * rank ceil(p·n), doc_id as tiebreak — an order statistic, not an
    * interpolated quantile, so the result is an actual corpus value and the
    * oracle compare stays integral; the rank formula `(n·p100 + 99) div 100`
    * is exact integer ceiling). The corpus-QA summary a pipeline dashboards
    * per crawl source.
    *
    * 100 TB plan: one shuffle on source; both window frames (the ranking
    * row_number and the partition count) share that exchange, and the final
    * aggregation collapses each source to one row map-side. Sources are the
    * partition key, so skew means one crawl dominating — the rank filter
    * still streams (row_number needs no buffering beyond the sort), and the
    * sort is per-source external sort, Spark's bread and butter.
    */
  def sourceQuantiles(s: SparkSession, dir: String): DataFrame = {
    val byLen = Window.partitionBy("source").orderBy(col("n_chars").asc, col("doc_id").asc)
    val bySource = Window.partitionBy("source")
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(byLen))
      .withColumn("cnt", count(lit(1)).over(bySource))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        max(when(col("rn") === expr("(cnt * 50 + 99) DIV 100"), col("n_chars")))
          .as("p50_chars"),
        max(when(col("rn") === expr("(cnt * 90 + 99) DIV 100"), col("n_chars")))
          .as("p90_chars"))
  }

  /** lm_score — bigram language-model fluency scoring, the CCNet /
    * Wikipedia-LM quality filter reduced to its exact-arithmetic core:
    * train bigram statistics on the corpus itself, then score every
    * document by how predictable its token transitions are under that
    * model. Per document:
    *
    *   - `n_bigrams`   — adjacent token pairs (n_tokens − 1; 0 for docs
    *     under 2 tokens),
    *   - `n_singleton` — bigrams occurring nowhere else in the corpus
    *     (corpus count 1): the "never seen" tail that drives perplexity
    *     filters,
    *   - `sum_p`       — Σ over positions of p(y|x) = c(x,y)/c(x,·),
    *     folded in POSITION order so the IEEE double sum is identical on
    *     any engine (the bm25 ordered-fold discipline; each addend is an
    *     exact integer ratio). Consumers derive avg p or a pseudo-log-
    *     perplexity downstream — the sum is the bit-stable primitive.
    *
    * A low-`sum_p`/high-`n_singleton` doc is gibberish, boilerplate hash
    * soup, or wrong-language — exactly what the production filter drops.
    * In production the count tables come from a trusted reference corpus
    * (train once, broadcast forever); here they come from the corpus under
    * scoring, which changes nothing structural.
    *
    * 100 TB plan: bigram extraction is one window pass on the doc_id
    * exchange (lead over position — no self-join of the token stream).
    * Round 14 MEASURED the tempting alternative — a typed map-side pass
    * emitting (doc_id, pos, x, y) with no exchange at all — and REJECTED
    * it: 117.7 → 160.1 s at sf100. The window exchange is not waste; it
    * leaves `big` hash-partitioned by doc_id, and the final per-doc
    * aggregation reuses that partitioning on the post-join stream.
    * Removing it merely moved the doc_id shuffle onto the WIDER scored
    * rows. c(x,y) is one map-side-combined shuffle on the pair; c(x,·)
    * re-groups
    * the ALREADY-AGGREGATED pair table (vocabulary², not corpus, rows).
    * Scoring joins the token stream against the count tables on their
    * natural keys — AQE broadcasts them when the vocabulary is small, and
    * falls back to shuffled hash joins when a web crawl's isn't — and the
    * per-doc fold buffers one document's positions, the same bound
    * chunk_docs lives with. Zipf head skew on c(x,·) lands on the
    * already-reduced pair table, not the stream.
    */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    // Round 15 (ProbeLm, sf100 — two diseases found and fixed; lm_score was
    // the last >100 s sf100 entry, verdict task 4):
    //
    // 1. The count tables no longer ride the windowed stream. The first
    //    shape CACHED the (doc_id, pos, x, y) bigram stream (corpus-sized,
    //    deserialized MEMORY_AND_DISK) purely so cxy could re-read it —
    //    ProbeLm measured the cache write + re-read at 45.4 s of the 150 s
    //    total (38.6 serialized — still the dominant single component).
    //    But c(x,y) is ORDER-FREE: one typed adjacent-pair pass (the
    //    skipgram iterator pattern, wsTokens == the declarative split-trim
    //    semantics by the property-pinned kernel contract) map-side-
    //    combines straight to the vocabulary²-bounded count table. The
    //    windowed stream is then consumed ONCE by scoring and never
    //    cached; only the tiny count table is (it feeds its own re-group
    //    for c(x,·) and the scoring join).
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    import s.implicits._
    val cxy = graft.TransientCache.cache(
      docs
        // null text -> no token rows in the declarative form (split(trim(
        // NULL)) is NULL and posexplode skips it); the typed pass must
        // drop it too, not NPE — the standard typed-tokenize-pass guard
        .filter(col("text").isNotNull)
        .as[(Long, String)]
        .flatMap { case (_, text) =>
          val ts = TextOps.wsTokens(text)
          if (ts.length < 2) Iterator.empty
          else (1 until ts.length).iterator.map(i => (ts(i - 1), ts(i)))
        }
        .toDF("x", "y")
        .groupBy("x", "y").agg(count(lit(1)).as("cxy")))
    val cx = cxy.groupBy("x").agg(sum("cxy").as("cx"))
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val big = toks.withColumn("y", lead(col("tok"), 1).over(byDoc))
      .filter(col("y").isNotNull)
      .select(col("doc_id"), col("pos"), col("tok").as("x"), col("y"))
    // 2. The position-ordered IEEE fold was groupBy + array_sort(
    //    collect_list(struct(pos, p))) — a holistic ObjectHashAggregate
    //    allocating one struct array PER DOCUMENT over the whole scored
    //    stream. The stream arrives at the aggregation already hash-
    //    partitioned by doc_id AND sorted by (doc_id, pos) — big's window
    //    exchange, preserved through the broadcast count-table joins — so
    //    a running-frame window sum folds p in exactly the same
    //    pos-ascending order (WindowExec updates the running aggregate row
    //    by row: acc = 0.0, then += p per position — bit-identical to the
    //    array fold) with ZERO buffering, reusing the existing sort and
    //    exchange; max_by(run_p, pos) then reads the final accumulator in
    //    a plain codegen'd hash agg (pos is unique per doc).
    //
    // ProbeLm measured the steps at sf100, same JVM, outputs bit-equal
    // (equality join on all columns including the sum_p double):
    // collect-fold + cached stream 149.6 s → window fold + cached stream
    // 103.5 s → window fold + typed count pass, no corpus cache (this
    // shape): see SCALE.md round 15. When a web-scale vocabulary forces
    // the count-table joins to shuffled form, the window re-sorts on its
    // own exchange — the same exchange the groupBy formulation would have
    // paid.
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = big
      .join(cxy, Seq("x", "y"))
      .join(cx, Seq("x"))
      .select(col("doc_id"), col("pos"),
        (col("cxy").cast("double") / col("cx").cast("double")).as("p"),
        when(col("cxy") === 1L, 1L).otherwise(0L).as("singleton"))
      .withColumn("run_p", sum(col("p")).over(byPos))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum("singleton").as("n_singleton"),
        max_by(col("run_p"), col("pos")).as("sum_p"))
    // docs under 2 tokens have no bigrams: restore them as explicit zero
    // rows (a quality gate must SEE the empty doc to drop it)
    Tables.documents(s, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_singleton"), lit(0L)).as("n_singleton"),
        coalesce(col("sum_p"), lit(0.0)).as("sum_p"))
  }

  /** word_edit1 — fuzzy vocabulary matching: every UNORDERED word pair at
    * Levenshtein distance exactly 1 (the spell-correction / typo-cluster
    * candidate set). Candidates come from DELETION-NEIGHBORHOOD blocking
    * (FastSS): two words are within edit distance 1 iff they share a key in
    * {word} ∪ {word minus one char} — substitution at i matches the two
    * i-deletions, insertion/deletion matches word-vs-deletion, so the
    * blocking is COMPLETE and each length-L word fans out to only L+1 keys.
    * The equi-join on keys replaces the all-pairs O(|V|²) comparison — at a
    * 10⁷-word crawl vocabulary that is the difference between 10⁸ keyed
    * rows and 10¹⁴ pairs. Keys can also pair distance-2 words (e.g. a
    * transposition's two deletions), so every candidate is verified with
    * one `levenshtein` call — a codegen'd builtin on the already-tiny
    * candidate set.
    *
    * The fixture vocabulary has no natural edit-1 pairs, so (the pii_scrub
    * / text_normalize augmentation pattern) the vocabulary is
    * deterministically augmented with planted typos — each word of length
    * ≥ 5 contributes its first-char deletion and an 'x' substitution —
    * replayed verbatim by the oracle, which verifies via all-pairs
    * `levenshtein` (oracle-side only; the engine never joins all-pairs).
    */
  def wordEdit1(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), "[^a-zA-Z]+")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    val planted = vocab.filter(length(col("w")) >= 5)
    val aug = vocab
      .unionByName(planted.select(expr("substring(w, 2)").as("w")))
      .unionByName(planted.select(concat(lit("x"), expr("substring(w, 2)")).as("w")))
      .distinct()
    // the word itself + each single-deletion form, exploded to (key, w).
    // The variant string is INTERNAL-ONLY (never output) and per word there
    // are |w| variants of |w|−1 chars each, so the self-join would exchange
    // O(|w|²) bytes per word of raw text — digest the key to a fixed
    // 8-byte xxhash64 map-side instead (the substring_scrub lesson, r14
    // audit). Lossless by the same argument as every digested candidate
    // key here: a hash collision only ADDS a candidate pair, and the
    // terminal `levenshtein(w1, w2, 1) === 1` verification rejects any
    // pair that is not truly one edit apart (a colliding pair that IS one
    // edit apart was already in the result via its true shared variant).
    val keyed = aug.select(col("w"), explode(expr(
      """array_union(array(w),
        |  transform(sequence(1, length(w)),
        |    i -> concat(substring(w, 1, i - 1), substring(w, i + 1))))"""
        .stripMargin)).as("variant"))
      .select(col("w"), xxhash64(col("variant")).as("key"))
    keyed.as("a").join(keyed.as("b"), "key")
      .filter(col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"))
      .distinct()
      // threshold-banded levenshtein: O(k·n) early-exit per candidate
      // (returns -1 past the bound) instead of the full O(n·m) matrix —
      // the verify stays cheap even on long crawl-vocabulary tokens
      .filter(levenshtein(col("w1"), col("w2"), 1) === 1)
  }

  /** Merge rounds learned by [[bpeMerges]]. */
  val BpeRounds = 8

  /** Symbol-count bound the oracle's adjacency generator unrolls to; the
    * engine asserts it so the two replays can never silently diverge on a
    * pathological word.
    */
  val BpeMaxSymbols = 64

  /** bpe_merges — byte-pair-encoding merge learning over the corpus
    * word-frequency table: [[BpeRounds]] rounds of "count adjacent symbol
    * pairs (weighted by word frequency, overlapping positions included),
    * merge the most frequent pair everywhere" — the vocabulary-induction
    * step of every modern tokenizer, with the canonical greedy-left merge
    * application. Output: (step, lft, rgt, merged, weight) — the learned
    * merge table, in order.
    *
    * ENGINE-PARITY ENCODING: a word's symbol sequence is carried as the
    * bracket-wrapped string `[l][o][w]`. Applying a merge is then ONE
    * literal string replace of `[a][b]` with `[ab]` — no regex, no
    * per-symbol loop — and because every match starts at '[' and symbols
    * ([a-z]+ by the vocabulary filter) can never contain a bracket,
    * left-to-right non-overlapping replace (the shared semantics of Java's
    * `String.replace` and DuckDB's `replace`) merges EXACTLY the
    * occurrences canonical greedy-left BPE merges: consecutive identical
    * pairs consume like `[a][a][a]` → `[aa][a]` (floor(k/2) leftmost
    * merges), and non-identical adjacent occurrences never share a
    * character, so both merge. The DuckDB oracle replays all
    * [[BpeRounds]] rounds as a recursive CTE over the same encoding and
    * must reproduce the merge table row-for-row.
    *
    * 100 TB plan: the corpus is touched ONCE (token count → word-frequency
    * table, map-side combined); every round then runs on the
    * VOCABULARY-sized table — pair stats are a map-side-combined aggregate
    * over ≤ 63 adjacent positions per word, and the round's winner is a
    * distributed TakeOrdered(1) whose single metadata row is the only
    * thing the driver ever sees (the same bounded control-plane collect as
    * the IVF centroid step). The vocabulary is localCheckpoint'd once, so
    * the 8 rounds never re-scan the corpus; the nested replaces stay one
    * narrow projection — no shuffle inside the loop at all.
    */
  def bpeMerges(s: SparkSession, dir: String, rounds: Int = BpeRounds): DataFrame = {
    import s.implicits._
    bpeLearn(s, dir, rounds)._2
      .toDF("step", "lft", "rgt", "merged", "weight")
  }

  /** bpe_encode — the apply side of [[bpeMerges]]: every vocabulary word's
    * final segmentation after the learned merges, (word, freq, n_syms,
    * toks) with `toks` the space-joined symbol sequence. This is the
    * word → subword lookup table a tokenizer ships; encoding a document is
    * a broadcast join of its words against it (the vocabulary-sized table
    * never re-derives per document). Same plan as the learn — the output
    * is the loop's final state, projected.
    */
  def bpeEncode(s: SparkSession, dir: String, rounds: Int = BpeRounds): DataFrame = {
    val st = bpeLearn(s, dir, rounds)._1
    st.select(col("word"), col("freq"),
      split(expr("substring(sym, 2, length(sym) - 2)"), "\\]\\[").as("l"))
      .select(col("word"), col("freq"),
        size(col("l")).cast("long").as("n_syms"),
        array_join(col("l"), " ").as("toks"))
  }

  /** token_fertility — the tokenizer-quality report every training run
    * gates a tokenizer on: per (lang, source), how many BPE subword tokens
    * the learned [[bpeEncode]] segmentation spends per word (fertility)
    * and how many characters each subword carries. High fertility on a
    * language means the tokenizer underserves it — the metric that decides
    * whether a vocabulary is rebuilt before a multilingual run. Words
    * outside the BPE vocabulary domain (`^[a-z]+$`) are counted in
    * n_words but excluded from the fertility numerator/denominator
    * (n_vocab_words, n_subwords, n_chars cover the matched words only).
    * Counts are exact BIGINTs; fertility and chars_per_subword are single
    * divisions of exact ints.
    *
    * 100 TB plan: the corpus is touched ONCE (the word explode); the
    * segmentation lookup is a BROADCAST join against the vocabulary-sized
    * bpe_encode table (the word → n_syms lookup a tokenizer ships — never
    * re-derived per document); the report is one map-side-combined
    * aggregate onto a (langs × sources)-sized result. The BPE learn
    * itself is the already-bounded [[bpeMerges]] loop.
    */
  def tokenFertility(s: SparkSession, dir: String, rounds: Int = BpeRounds): DataFrame = {
    val vocab = bpeEncode(s, dir, rounds).select(col("word"), col("n_syms"))
    val words = Tables.documents(s, dir)
      .select(col("lang"), col("source"), col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
    words.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("lang", "source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        count(col("n_syms")).as("n_vocab_words"),
        coalesce(sum(col("n_syms")), lit(0L)).as("n_subwords"),
        coalesce(sum(when(col("n_syms").isNotNull,
          length(col("word")).cast("long"))), lit(0L)).as("n_chars"))
      .withColumn("fertility",
        when(col("n_vocab_words") === 0L, lit(0.0))
          .otherwise(col("n_subwords").cast("double") /
            col("n_vocab_words").cast("double")))
      .withColumn("chars_per_subword",
        when(col("n_subwords") === 0L, lit(0.0))
          .otherwise(col("n_chars").cast("double") /
            col("n_subwords").cast("double")))
  }

  /** Skip-gram window radius for [[skipgram]] (the word2vec default ±2 on
    * fixture-length documents).
    */
  val SkipgramWindow = 2

  /** skipgram — (center, context) co-occurrence counts within a ±2 token
    * window: the training-pair generator of every word2vec/GloVe-style
    * embedding run, and the windowed generalization of [[collocLift]]'s
    * adjacent bigrams. Output (center, context, n) over the whitespace
    * token stream (positions from the same `split(trim(text))` semantics
    * as every other token operator).
    *
    * 100 TB plan: the window is materialized MAP-SIDE from each document's
    * own token stream — one typed JVM loop emits every in-bounds
    * (tok[i], tok[i+o]) pair, so the ×2W fan-out never crosses the wire
    * raw: the ONLY shuffle in the whole operator is the final count's
    * partial-aggregated exchange on a vocabulary² key space. (Earlier
    * rounds resolved context words with a (doc_id, pos) self-equi-join,
    * which shuffled the token stream ×(2W+1) before aggregating — correct,
    * but a shuffle the map-side form simply does not need; at 100 TB that
    * join IS the operator's cost. Round 14 replaced the intermediate
    * formulation — a declarative `flatten(transform(filter(...)))` over
    * the split array — because higher-order lambdas are CodegenFallback:
    * the pair emission ran INTERPRETED, allocating nested struct arrays
    * per row; ProbeSkipgram measured 40.8 → 8.4 s at sf100 for the
    * identical 1.05 G-pair stream.) Window edges fall out of the bounds
    * check, and a window can never cross documents because pairs are
    * drawn from one document's own tokens.
    */
  def skipgram(s: SparkSession, dir: String, window: Int = SkipgramWindow): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("text"))
      .filter(col("text").isNotNull) // null doc = no pairs, like explode(null)
      .as[String]
      .flatMap { text =>
        val ts = TextOps.wsTokens(text)
        // lazy iterator, not a buffer: the ×2W fan-out never materializes
        // per document, so a pathological multi-megabyte document costs
        // only its own token array — pairs stream straight into the
        // map-side combine
        new Iterator[(String, String)] {
          private var i = 0
          private var o = -window
          private def settle(): Unit = {
            while (i < ts.length &&
                (o == 0 || i + o < 0 || i + o >= ts.length)) {
              o += 1
              if (o > window) { o = -window; i += 1 }
            }
          }
          settle()
          override def hasNext: Boolean = i < ts.length
          override def next(): (String, String) = {
            val p = (ts(i), ts(i + o))
            o += 1
            if (o > window) { o = -window; i += 1 }
            settle()
            p
          }
        }
      }
      .toDF("center", "context")
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"))
  }

  /** Negatives drawn per (center, context) pair by [[skipgramNeg]]. */
  val NegSamples = 2

  /** Negative-sampling table vocabulary cap for [[skipgramNegWeighted]]:
    * only the top-`NegVocabCap` tokens by (freq desc, tok asc) enter the
    * cumulative-weight table. A raw-token vocabulary is UNBOUNDED at corpus
    * scale (typos, URLs — hundreds of millions of distinct tokens at
    * 100 TB), so an uncapped table is an unbounded driver materialization;
    * production SGNS truncates the sampling table anyway (word2vec's
    * min-count floor serves the same purpose — the tail it cuts carries
    * negligible probability mass under unigram^0.75). Constant and
    * replayed verbatim by the oracle's ranked-vocabulary CTE.
    */
  val NegVocabCap = 65536

  /** skipgram_neg — deterministic negative sampling for SGNS training: for
    * every distinct (center, context) pair from [[skipgram]]'s window,
    * [[NegSamples]] negative tokens drawn by hashing
    * `center <U+0001> context <U+0001> j` (a separator no token contains) with the engine's fnv64 and indexing
    * `hash & Long.MaxValue mod |V|` into the frequency-ranked vocabulary
    * (freq desc, tok asc — the same total order as [[vocabEncode]]).
    * Deterministic-by-hash rather than RNG-drawn, so shard retries emit
    * byte-identical training pairs (the same property every sampler in
    * this engine has) and the DuckDB oracle replays the draw exactly.
    * This is the UNIFORM variant; production word2vec weights the draw by
    * unigram^0.75 — that changes only the rank→token map (an alias-table
    * lookup over the same vocabulary), not the sampling transport.
    *
    * 100 TB plan: pairs × k is a fixed ×k explode of the pair stream; the
    * vocabulary joins back via broadcast (embedding-table-sized); the one
    * driver-side scalar is |V| (a bounded metadata read, like the BPE
    * round winner). No RNG state, no shuffle beyond skipgram's own.
    */
  def skipgramNeg(s: SparkSession, dir: String,
      window: Int = SkipgramWindow, k: Int = NegSamples): DataFrame = {
    val pairs = skipgram(s, dir, window).select("center", "context")
    // the frequency table is consumed twice (rank order AND |V|) — stage it
    // once instead of paying the tokenize+agg pass per consumer
    val vf = graft.TransientCache.checkpoint(
      Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq")))
    // rank order -> dense vid without a single-partition window (the
    // vocabEncode zipWithIndex discipline); the vocab table is small
    val vocab = s.createDataFrame(
      vf.orderBy(col("freq").desc, col("tok").asc)
        .select("tok").rdd.zipWithIndex()
        .map { case (r, i) => Row(r.getString(0), i.toInt) },
      StructType(Seq(StructField("tok", StringType),
        StructField("vid", IntegerType))))
    val nV = vf.count()
    val h = graft.functions.GraftFunctions.fnv64(
      concat(col("center"), lit("\u0001"), col("context"), lit("\u0001"),
        col("j").cast("string")))
    pairs
      .select(col("center"), col("context"),
        explode(array((0 until k).map(j => lit(j)): _*)).as("j"))
      .withColumn("vid",
        (h.bitwiseAND(lit(Long.MaxValue)) % lit(nV)).cast("int"))
      .join(broadcast(vocab), "vid")
      .select(col("center"), col("context"), col("j"),
        col("tok").as("neg_token"))
  }

  /** skipgram_neg_weighted — the PRODUCTION word2vec negative draw:
    * negatives sampled with probability ∝ freq^(3/4) over the vocabulary
    * (Mikolov et al.'s unigram^0.75 smoothing; [[skipgramNeg]] is the
    * uniform baseline). Deterministic like every sampler in this engine:
    * the draw is `u = fnv64(center ␁ context ␁ j ␁ "w") mod W` (the
    * trailing "␁w" salt decorrelates it from the uniform draw's preimage)
    * landed into CUMULATIVE-WEIGHT intervals over the same
    * (freq desc, tok asc) ranked vocabulary — token i owns
    * [cum_i, cum_i + w_i), so P(i) = w_i / W exactly.
    *
    * The weight is the integer w = floor(sqrt(floor(sqrt(freq³)))) ≈
    * freq^(3/4) — built from two IEEE sqrts DELIBERATELY: sqrt is
    * correctly-rounded (both engines produce the identical double for the
    * identical input), while pow(x, 0.75) is libm-dependent in its last
    * bit, which under floor() could flip an interval boundary and break
    * the cross-engine hash. freq³ is computed IN DOUBLE (freq widened
    * first, then two double multiplies — the identical left-associated
    * correctly-rounded sequence on both engines): integer freq³ would
    * silently wrap past freq ≈ 2.1M in 64-bit (a plausible common-word
    * count at corpus scale) while the SQL twin's BIGINT product would
    * error — double arithmetic never overflows and stays deterministic
    * at every magnitude (exact below 2^53, same rounded double above).
    *
    * 100 TB plan: same transport as [[skipgramNeg]] — pairs × k is a
    * fixed ×k explode; the cumulative table is capped at [[NegVocabCap]]
    * rows (TakeOrdered on (freq desc, tok asc) — the raw-token vocabulary
    * is unbounded at corpus scale, the sampling table must not be),
    * collected once and broadcast as two flat arrays; the per-row work is
    * one fnv64 and a binary search over the broadcast array inside one
    * typed pass. No RNG state, no extra shuffle, and the oracle replays
    * the capped cumulative table and the interval lookup verbatim in SQL.
    */
  def skipgramNegWeighted(s: SparkSession, dir: String,
      window: Int = SkipgramWindow, k: Int = NegSamples,
      vocabCap: Int = NegVocabCap): DataFrame = {
    import s.implicits._
    val pairs = skipgram(s, dir, window).select("center", "context")
    val vf = Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    // orderBy + limit = TakeOrdered: the driver materializes AT MOST
    // vocabCap rows however large the raw vocabulary grows (the one
    // previously-uncapped driver collect in main source)
    val ranked = vf.orderBy(col("freq").desc, col("tok").asc)
      .limit(vocabCap)
      .select("tok", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val weights = ranked.map { case (_, f) =>
      val fd = f.toDouble
      math.floor(math.sqrt(math.floor(math.sqrt(fd * fd * fd)))).toLong
    }
    val toks = ranked.map(_._1)
    // cumStarts(i) = Σ_{r<i} w_r; token i owns [cumStarts(i), cumStarts(i)+w_i)
    val cumStarts = weights.scanLeft(0L)(_ + _)
    val totalW = cumStarts.last
    require(totalW > 0, "skipgram_neg_weighted: empty vocabulary")
    val bc = s.sparkContext.broadcast((toks, cumStarts, totalW))
    val kk = k
    pairs.as[(String, String)].mapPartitions { it =>
      val (tk, cum, w) = bc.value
      it.flatMap { case (c, ctx) =>
        (0 until kk).iterator.map { j =>
          val u = (graft.functions.HashFunctions.fnv64(
            s"$c\u0001$ctx\u0001$j\u0001w") & Long.MaxValue) % w
          // greatest idx with cum(idx) <= u  (cum has |V|+1 entries)
          var lo = 0
          var hi = tk.length - 1
          while (lo < hi) {
            val mid = (lo + hi + 1) >>> 1
            if (cum(mid) <= u) lo = mid else hi = mid - 1
          }
          (c, ctx, j, tk(lo))
        }
      }
    }.toDF("center", "context", "j", "neg_token")
  }

  /** Shared BPE learn loop: returns the final per-word symbol state and the
    * ordered merge list. See [[bpeMerges]] for the encoding and parity
    * argument, [[bpeEncode]] for the apply side.
    */
  private def bpeLearn(s: SparkSession, dir: String, rounds: Int)
      : (DataFrame, Seq[(Long, String, String, String, Long)]) = {
    val words = graft.TransientCache.checkpoint(Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq")))
    val maxLen = words.agg(max(length(col("word")))).head.getInt(0)
    require(maxLen <= BpeMaxSymbols,
      s"bpe_merges: word of length $maxLen exceeds the oracle's " +
        s"$BpeMaxSymbols-symbol adjacency unroll — raise BpeMaxSymbols in both replays")
    var st = words.select(col("word"), col("freq"),
      concat(lit("["), array_join(split(col("word"), ""), "]["), lit("]")).as("sym"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 0
    while (r < rounds) {
      val pairs = st
        .select(col("freq"),
          split(expr("substring(sym, 2, length(sym) - 2)"), "\\]\\[").as("l"))
        .select(col("freq"),
          slice(col("l"), lit(1), size(col("l")) - 1).as("ls"),
          slice(col("l"), lit(2), size(col("l")) - 1).as("rs"))
        .select(col("freq"), explode(arrays_zip(col("ls"), col("rs"))).as("pr"))
        .groupBy(col("pr.ls").as("lft"), col("pr.rs").as("rgt"))
        .agg(sum("freq").as("wgt"))
      val top = pairs.orderBy(col("wgt").desc, col("lft"), col("rgt")).limit(1).collect()
      require(top.nonEmpty,
        s"bpe_merges: vocabulary exhausted at round $r — fewer than $rounds " +
          "merges exist, which the fixed-round oracle replay cannot express")
      val (lft, rgt, wgt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((r + 1L, lft, rgt, lft + rgt, wgt))
      st = st.withColumn("sym",
        expr(s"replace(sym, '[$lft][$rgt]', '[$lft$rgt]')"))
      r += 1
    }
    (st, merges.toSeq)
  }
}
