package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (content-hash group-by), MinHash+LSH near-dup, exact n-gram
  * Jaccard join (prefix filtering), SimHash near-dup.
  *
  * Scale design (the non-negotiables at 100 TB):
  *   - candidate generation is ALWAYS a hash-bucket equi-join (LSH bands /
  *     prefix tokens / SimHash chunks) — never an all-pairs crossJoin;
  *   - per-row signature math (64-slot MinHash, 64-bit SimHash votes) runs
  *     in ONE typed map per document — a Catalyst formulation would evaluate
  *     64 nested array transforms per row (measured 10-20x slower at sf0.1);
  *   - joins ship dictionary-encoded int arrays, not raw strings;
  *   - pathological buckets (boilerplate collapsing into one key) are capped
  *     so a single hot key cannot go quadratic.
  */
object Dedup {

  /** dedup_exact — exact duplicate groups by content hash. At 100 TB this is
    * the canonical first pass: one shuffle keyed on a 128-bit digest, never
    * on the raw text (bytes stay columnar at the scan).
    */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(
        min("doc_id").as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** dedup_exact_dups — just the duplicate clusters (n_copies > 1) with the
    * surviving id; what a pipeline actually acts on.
    */
  def exactDups(s: SparkSession, dir: String): DataFrame =
    exact(s, dir).filter(col("n_copies") > 1)

  /** Doc-id offset for [[incremental]]'s deterministic batch augmentation —
    * far above any fixture doc_id, so replica ids never collide.
    */
  val IncrementalReplicaBase = 1000000L

  /** Writes the PERSISTED exact-digest store for the "historical corpus"
    * (docs with doc_id % 3 ≠ 0 — the prior crawls): one parquet table of
    * distinct 128-bit content digests. This is the artifact an incremental
    * pipeline carries between crawls — per-snapshot dedup reads it, and the
    * post-accept step unions the kept batch's digests back in
    * ([[unionBackKept]]; [[incremental2]] gates the full two-crawl
    * lifecycle).
    */
  def persistDigestStore(s: SparkSession, dir: String, storeDir: String): Unit =
    Tables.documents(s, dir)
      .filter(col("doc_id") % 3 =!= 0)
      .select(md5(col("text")).as("fp"))
      .distinct()
      .write.mode("overwrite").parquet(storeDir)

  /** dedup_incremental — per-crawl incremental dedup against the PERSISTED
    * digest store: every new-batch document is classified as
    *   - `dup_of_store`  — its digest already exists in the historical store
    *     (prior crawls own it; drop),
    *   - `dup_in_batch`  — first seen in THIS batch but not by this row
    *     (min doc_id per digest survives),
    *   - `kept`          — genuinely new.
    * The "new batch" is docs with doc_id % 3 = 0 AUGMENTED deterministically
    * (the fixture plants no exact duplicates, so the operator would
    * otherwise gate vacuously — the pii_scrub / text_normalize pattern):
    * every doc with doc_id % 7 = 0 is replicated into the batch at
    * doc_id + [[IncrementalReplicaBase]], which yields dup_of_store rows
    * (replicas of historical docs) and dup_in_batch rows (replicas of batch
    * docs) alongside the kept mass. The oracle replays the augmentation
    * verbatim.
    *
    * 100 TB plan: the store is one digest row per historical document —
    * joined on the digest key (shuffle or broadcast by measured size, AQE's
    * call; a Bloom-prune of the batch side composes exactly like
    * bloom_prune). The batch-first election is a map-side-combined
    * min-aggregate; nothing ever shuffles raw text, and the store
    * round-trips parquet losslessly (it IS parquet).
    */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    val storeDir = graft.TransientCache.stageDir(s, "digest-store")
    persistDigestStore(s, dir, storeDir)
    val docs = Tables.documents(s, dir)
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(IncrementalReplicaBase)).as("doc_id"),
          md5(col("text")).as("fp")))
    classifyAgainstStore(s, batch, storeDir)
  }

  /** Classify one crawl batch of (doc_id, fp) rows against the persisted
    * digest store at `storeDir` — the shared kernel of [[incremental]] and
    * [[incremental2]]. The store joins on the digest key (broadcast or
    * shuffle by measured size, AQE's call); the batch-first election is a
    * map-side-combined min-aggregate.
    */
  private def classifyAgainstStore(s: SparkSession, batch: DataFrame,
      storeDir: String): DataFrame = {
    val store = s.read.parquet(storeDir).withColumn("in_store", lit(1))
    val firsts = batch.groupBy("fp").agg(min("doc_id").as("first_id"))
    batch
      .join(store, Seq("fp"), "left")
      .join(firsts, "fp")
      .select(col("doc_id"), col("fp"),
        when(col("in_store").isNotNull, lit("dup_of_store"))
          .when(col("doc_id") =!= col("first_id"), lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Post-accept store update: append the kept batch's digests to the
    * persisted store, DEDUP-ON-WRITE — the incoming digests anti-join the
    * store's current contents, and the surviving novel set is eagerly
    * materialized (localCheckpoint) BEFORE the append so the write never
    * reads the directory it is writing. A retried append (task retry,
    * replayed maintenance batch) therefore re-appends nothing: everything
    * it would add is already present, and the store stays distinct by
    * construction. This is the step [[persistDigestStore]]'s docstring
    * deferred — crawl N+1 sees crawl N's kept docs as `dup_of_store`.
    */
  def unionBackKept(s: SparkSession, storeDir: String,
      keptFps: DataFrame): Unit = {
    val cur = s.read.parquet(storeDir).select("fp")
    val novel = graft.TransientCache.checkpoint(
      keptFps.select("fp").distinct().join(cur, Seq("fp"), "left_anti"))
    novel.write.mode("append").parquet(storeDir)
  }

  /** dedup_incremental2 — TWO consecutive crawls against one evolving
    * digest store, exercising the full store lifecycle [[incremental]]
    * gates only half of: classify batch 1, union its kept digests back
    * ([[unionBackKept]]), then classify batch 2 against the UPDATED store.
    * Batch 1 is docs with doc_id ≡ 0 (mod 6); batch 2 is docs ≡ 3 (mod 6)
    * augmented with replicas (at doc_id + [[IncrementalReplicaBase]], the
    * [[incremental]] pattern — the fixture plants no exact duplicates) of
    * every doc_id % 7 = 0 member of BOTH batches: replicas of batch-1 docs
    * land in `dup_of_store` (their digests entered the store via the
    * union-back — the cross-crawl property under test), replicas of
    * batch-2 docs land in `dup_in_batch`. Output (batch, doc_id, fp,
    * status); the oracle replays both rounds and the store evolution in
    * SQL.
    *
    * 100 TB plan: identical to [[incremental]] per crawl — the store joins
    * on the digest key, nothing shuffles raw text — plus one anti-join +
    * append per accepted crawl (the union-back), which is itself
    * digest-keyed and distinct-by-construction, so the store never needs
    * a compacting rewrite to stay canonical.
    */
  def incremental2(s: SparkSession, dir: String): DataFrame = {
    val storeDir = graft.TransientCache.stageDir(s, "digest-store-2crawl")
    persistDigestStore(s, dir, storeDir)
    val docs = Tables.documents(s, dir)
    def fpOf(df: DataFrame): DataFrame =
      df.select(col("doc_id"), md5(col("text")).as("fp"))
    val b1 = fpOf(docs.filter(col("doc_id") % 6 === 0))
    // materialize round 1 BEFORE the union-back mutates the store: the
    // classification is lazy, and re-evaluating it against the updated
    // store would misclassify batch 1's own kept docs as dup_of_store
    val c1 = graft.TransientCache.checkpoint(
      classifyAgainstStore(s, b1, storeDir).withColumn("batch", lit(1)))
    unionBackKept(s, storeDir, c1.filter(col("status") === "kept"))
    def replicas(df: DataFrame): DataFrame =
      fpOf(df.filter(col("doc_id") % 7 === 0))
        .select((col("doc_id") + lit(IncrementalReplicaBase)).as("doc_id"),
          col("fp"))
    val b2 = fpOf(docs.filter(col("doc_id") % 6 === 3))
      .unionByName(replicas(docs.filter(col("doc_id") % 6 === 0)))
      .unionByName(replicas(docs.filter(col("doc_id") % 6 === 3)))
    val c2 = classifyAgainstStore(s, b2, storeDir).withColumn("batch", lit(2))
    c1.unionByName(c2).select("batch", "doc_id", "fp", "status")
  }

  // ------------------------------------------------------------ hash utils

  /** 64-bit FNV-1a over UTF-16 code units (shared with the SQL-facing
    * `fnv64` Catalyst expression so fingerprints agree engine-wide).
    */
  private[operators] def fnv64(str: String): Long =
    graft.functions.HashFunctions.fnv64(str)

  /** splitmix64 finalizer — cheap per-slot remix of a base hash. */
  private[graft] def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------------------------- MinHash

  /** Number of hash functions in the MinHash signature. */
  val NumHashes = 64
  /** LSH banding: Bands × RowsPerBand == NumHashes. b=16, r=4 puts the S-curve
    * threshold near j ≈ (1/16)^(1/4) ≈ 0.50.
    */
  val Bands = 16
  val RowsPerBand = 4
  /** Hot-bucket cap: a band bucket larger than this is dropped from pairing
    * (boilerplate black hole; at web scale one such key would emit O(n²)
    * pairs). Docs this common are handled by the exact pass anyway.
    */
  val MaxBucket = 1000

  /** Distinct word-3-gram shingles, computed in the same typed map as the
    * signature (one string traversal per doc; the Catalyst formulation —
    * transform over sequence + concat_ws — measured ~2x slower at sf0.1 from
    * expression overhead plus the array ser/de at the map boundary).
    * Semantics mirror the SQL the oracle uses: space-trim, split on \s+,
    * 3-grams joined by a single space (whole doc as one gram when < 3
    * tokens), first-occurrence distinct.
    */
  private[graft] def shingleSet(text: String): IndexedSeq[String] = {
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    val toks = text.substring(b, e).split("\\s+")
    val grams =
      if (toks.length >= 3)
        (0 to toks.length - 3).map(i => toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      else IndexedSeq(toks.mkString(" "))
    grams.distinct
  }

  /** MinHash signature of one shingle set: hash each shingle once, take
    * per-slot minima of a splitmix remix over [[NumHashes]] slots. Minima
    * are UNSIGNED — the hash values are uniform 64-bit strings, and the
    * DuckDB replay (SparkEntry.minhashCtes) computes `min` over HUGEINT
    * values in [0, 2⁶⁴); a signed min would pick a different slot element
    * whenever any candidate has the top bit set (i.e. almost every slot),
    * silently breaking the replay's band-parity contract — caught when
    * minhash_est_error first exposed raw slot values at the gate.
    */
  private[graft] def signature(sh: Seq[String]): Array[Long] = {
    val hs = new Array[Long](sh.size)
    var i = 0
    sh.foreach { g => hs(i) = fnv64(g); i += 1 }
    val sig = new Array[Long](NumHashes)
    var k = 0
    while (k < NumHashes) {
      var mn = -1L // unsigned max
      var j = 0
      while (j < hs.length) {
        val v = mix64(hs(j) + k * 0x9E3779B97F4A7C15L)
        if (java.lang.Long.compareUnsigned(v, mn) < 0) mn = v
        j += 1
      }
      sig(k) = mn
      k += 1
    }
    sig
  }

  /** LSH band keys of one signature at `rows` slots per band (bands =
    * sig.length / rows): hash each band's slots (+ band index, so identical
    * slot values in different bands cannot collide) into one bucket key.
    */
  private[graft] def bandsOfSigR(sig: Array[Long], rows: Int): Array[Long] = {
    val bands = sig.length / rows
    Array.tabulate(bands) { b =>
      var acc = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rows) { acc ^= sig(b * rows + r); acc *= 0x100000001b3L; r += 1 }
      acc
    }
  }

  /** LSH band keys at the production config ([[Bands]] × [[RowsPerBand]]). */
  private[graft] def bandsOfSig(sig: Array[Long]): Array[Long] =
    bandsOfSigR(sig, RowsPerBand)

  /** MinHash band keys for one shingle set ([[signature]] → [[bandsOfSig]]
    * in one call, computed in plain Scala).
    */
  private[graft] def bandKeys(sh: Seq[String]): Array[Long] =
    bandsOfSig(signature(sh))

  /** Deterministic 1/m document sample, applied directly on the scan BEFORE
    * any shingling/signature work: keep doc_id iff xxhash64(doc_id) ≡ 0
    * (mod m). Hash-based (not doc_id ranges) so the sample is unbiased
    * under any id-assignment pattern, and deterministic so a sampled
    * harness run is replayable. `None` = full corpus, the default for
    * every registered query.
    */
  private def maybeSample(df: DataFrame, sampleMod: Option[Int]): DataFrame =
    sampleMod.fold(df)(m =>
      df.filter(pmod(xxhash64(col("doc_id")), lit(m.toLong)) === 0L))

  /** Under-cap bucket membership lists via ONE aggregation (round 16): the
    * banded (keys..., gid, n) stream groups straight to
    * (keys..., bucket_n = Σn, gids) and over-cap buckets drop. Replaces the
    * window + self-join cap shape at every banding site: that form paid an
    * exchange + per-bucket SORT for the window count and then a self-join
    * of the capped stream to produce exactly the pairs the bucket list
    * already holds. One exchange, no sort, no join; candidate pairs and
    * bucket survivors both explode from the bounded array in place.
    *
    * The list build is [[graftshim.BoundedCollectList]]-bounded at
    * `maxBucket + 1`: every group contributes n ≥ 1 to bucket_n, so a KEPT
    * bucket (Σn ≤ maxBucket) has ≤ maxBucket entries and its list is
    * complete-by-construction; a bucket past the bound truncates its list
    * but is dropped by the Σn filter regardless — the boilerplate black
    * hole costs O(cap) memory instead of a window sort over its whole
    * bucket. Cap semantics (all-or-none per bucket on the SUMMED group
    * sizes) are bit-identical to the window form.
    */
  private[operators] def cappedBuckets(banded: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame =
    banded.groupBy(keys.map(col): _*).agg(
      sum(col("n")).as("bucket_n"),
      graft.functions.GraftFunctions.boundedCollectList(col("gid"), maxBucket)
        .as("gids"))
      .filter(col("bucket_n") <= maxBucket)

  /** All unordered (g1, g2) candidate pairs from [[cappedBuckets]] output,
    * deduped across buckets.
    */
  private[operators] def bucketPairs(buckets: DataFrame): DataFrame =
    buckets
      .select(explode(col("gids")).as("g1"), col("gids"))
      .select(col("g1"), explode(col("gids")).as("g2"))
      .filter(col("g1") < col("g2"))
      .select("g1", "g2").distinct()

  /** Order-independent 128-bit identity of a shingle SET (length-prefixed
    * MD5 fold over the sorted members). Internal grouping key only — the
    * oracle never sees it, so no cross-engine replay obligations; 128 bits
    * because at crawl scale a 64-bit key would birthday-collide across
    * billions of distinct sets and silently merge unrelated documents.
    */
  private def setKey(sh: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    sh.sorted.foreach { g =>
      val b = g.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // full 32-bit length prefix: a 16-bit prefix would alias lengths on
      // shingles past 64 KiB and weaken the injectivity of the encoding
      md.update((b.length & 0xff).toByte)
      md.update(((b.length >> 8) & 0xff).toByte)
      md.update(((b.length >> 16) & 0xff).toByte)
      md.update(((b.length >> 24) & 0xff).toByte)
      md.update(b)
    }
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Exact-text collapse BEFORE tokenization — the minhash-family extension
    * (round 16) of [[groupGraphOf]]'s round-15 sf1000 fix: one row per
    * DISTINCT text with rep = min member doc_id, the full member list and
    * the member count. Identical texts produce identical shingle sets,
    * signatures and band keys by determinism, so grouping on md5(text)
    * FIRST is lossless for every identical-SET consumer downstream: the
    * skey groups merge text-groups instead of docs, gid = min over reps =
    * min over all members (each rep is already the min of its text-group),
    * ids = concatenated member lists (same multiset; collect_list order was
    * never deterministic), n = summed member counts. What changes is the
    * physics: the shingle map, the 64-slot signature hashing and the skey
    * shuffle run once per DISTINCT text, and the corpus-sized shuffle ships
    * 40 B/doc of md5 digests with map-side combine instead of per-doc
    * shingle arrays + 512 B signatures (the sf1000 fixture's shape: 49 M
    * docs, ~5 k distinct texts — the pre-collapse skey exchange alone was
    * tens of GB of repeated arrays). On a fully-distinct corpus the
    * collapse degenerates to one extra narrow exchange — the same
    * insurance-premium class as the round-12 set collapse.
    */
  private def textGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("tkey"))
      .agg(min(col("doc_id")).as("doc_id"),
        first(col("text")).as("text"),
        collect_list(col("doc_id")).as("members"),
        count(lit(1)).as("tn"))
      .select("doc_id", "text", "members", "tn")

  /** (doc_id, text, members, tn) with the exact-text collapse on or off.
    * The off branch is the pre-collapse identity shape (every doc its own
    * text-group), kept ONLY as the differential baseline for the DedupSpec
    * losslessness property tests — production always collapses.
    */
  private def collapsedDocs(docs: DataFrame, collapseExact: Boolean): DataFrame =
    if (collapseExact) textGroups(docs)
    else docs.select(col("doc_id"), col("text"),
      array(col("doc_id")).as("members"), lit(1L).as("tn"))

  /** dedup_minhash — near-duplicate pairs: LSH candidates verified with the
    * EXACT shingle-set Jaccard (so output is deterministic given recall ≈ 1
    * at j ≥ threshold), filtered at `threshold`.
    *
    * Identical shingle sets COLLAPSE before banding (round 12 — found by
    * the 100× probe, where 100-deep exact-duplicate groups put every
    * replica into the same bucket of every band and within-bucket pairing
    * went quadratic in replica depth: 0.6 s at sf0.1 → 151 s at sf10, the
    * prefix-filter disease dedup_ngram's set-collapse had already cured).
    * One representative set rides banding + verification; members fan back
    * in at the end. The collapse is LOSSLESS with doc-level cap semantics
    * preserved exactly: bucket sizes are the SUM of group sizes (a bucket
    * of 1001 replicas still caps out even when it is one unique set), a
    * group's 1.0-jaccard within-group pairs are emitted only if the group
    * SURVIVES in at least one under-cap bucket (the boilerplate black hole
    * stays dropped — DedupSpec's cap case), and cross-group candidates
    * require a shared under-cap bucket, exactly the pairs the doc-level
    * DuckDB replay collides. Identical sets band identically because the
    * signature is an order-independent function of the set.
    */
  def minhash(s: SparkSession, dir: String, threshold: Double = 0.5,
      sampleMod: Option[Int] = None): DataFrame =
    minhashOf(s, maybeSample(Tables.documents(s, dir), sampleMod)
      .select(col("doc_id"), col("text")), threshold)

  /** Body of [[minhash]] over a caller-supplied (doc_id, text) frame —
    * parameterized on the exact-text collapse so DedupSpec can pin the
    * collapsed path equal to the pre-collapse shape differentially.
    */
  private[graft] def minhashOf(s: SparkSession, docsIn: DataFrame,
      threshold: Double, collapseExact: Boolean = true): DataFrame = {
    import s.implicits._
    // exact-text collapse first ([[textGroups]]): shingling, signatures and
    // the skey shuffle run once per DISTINCT text; member lists ride along
    // so the identical-set groups below merge text-groups, not docs
    val docs = collapsedDocs(docsIn, collapseExact)
      .as[(Long, String, Seq[Long], Long)]
      .map { case (id, text, mem, tn) =>
        val sh = shingleSet(text)
        (id, sh, bandKeys(sh), setKey(sh), mem, tn)
      }
      .toDF("doc_id", "sh", "bands", "skey", "members", "tn")
    // transient: the unique-set frame feeds banding, both verification join
    // sides, the survivor gate and the member fan-in within this one query;
    // the harness releases the blocks after the consuming action
    val gset = graft.TransientCache.cache(
      docs.groupBy("skey").agg(
        min(col("doc_id")).as("gid"),
        flatten(collect_list(col("members"))).as("ids"),
        first(col("sh")).as("sh"),
        first(col("bands")).as("bands"),
        sum(col("tn")).as("n")))
    val banded = gset.select(col("gid"), col("n"),
      posexplode(col("bands")).as(Seq("band", "bkey")))
    val buckets = cappedBuckets(banded, Seq("band", "bkey"), MaxBucket)
    val cand = bucketPairs(buckets)
    // the verification joins carry the member arrays alongside the shingle
    // sets when groups are shallow, so the fan-out explodes in place with
    // no re-join of gset (round 16) — but only then: a replica-deep corpus
    // must not ship k-long id arrays on every candidate row (the r13
    // lesson), and its fan-out takes the membership-join branch anyway,
    // which re-derives ids itself. One probe row decides both choices.
    val depthRow = gset.agg(max(size(col("ids")))).head
    val maxDepth = if (depthRow.isNullAt(0)) 0 else depthRow.getInt(0)
    val shallow = maxDepth <= FanOutDepthCap
    val setCols =
      if (shallow) Seq(col("gid"), col("sh"), col("ids"))
      else Seq(col("gid"), col("sh"))
    val sets = gset.select(setCols: _*)
    def side(n: Int) = sets.columns.map(c =>
      col(c).as(if (c == "gid") s"g$n" else s"$c$n"))
    val verified = cand
      .join(sets.select(side(1): _*), "g1")
      .join(sets.select(side(2): _*), "g2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .drop("sh1", "sh2")
    // cross gids are survivors by construction (cand comes from capped
    // buckets); gating the member table on survivors preserves the
    // doc-level cap semantics for the WITHIN pairs too, as before
    val survivors = buckets.select(explode(col("gids")).as("gid")).distinct()
    memberFanOut(gset.join(survivors, "gid").select(col("gid"), col("ids")),
      verified, lit(1.0), "jaccard", knownDepth = Some(maxDepth),
      attachedIds = shallow)
  }

  /** minhash_est_error — the estimator-calibration half of the dedup quality
    * harness (sibling of [[dedupRecall]], which measures candidate RECALL;
    * this measures signature ACCURACY): for every LSH candidate pair, the
    * MinHash-estimated Jaccard (matching slots / [[NumHashes]]) is compared
    * against the exact shingle Jaccard, aggregated as an integer
    * decile-confusion matrix (est_decile, true_decile, n_pairs). A healthy
    * banding config concentrates mass on the diagonal; drift off it is the
    * signal to re-tune [[NumHashes]]/[[Bands]] BEFORE recall silently decays
    * — run it (on a [[maybeSample]]d corpus) after every signature-parameter
    * change, alongside dedup_recall.
    *
    * 100 TB: identical shape to [[minhash]] — one typed map per doc
    * (shingles + signature + bands in a single text traversal), the banding
    * shuffle, and the pair join now carrying the fixed 512-byte signature
    * alongside the shingle set; deciles are integer arithmetic
    * ((10·x) DIV y on exact counts) and the output is ≤ 11×11 rows, so the
    * gate needs no float discipline at all.
    */
  def minhashEstError(s: SparkSession, dir: String,
      sampleMod: Option[Int] = None): DataFrame =
    minhashEstErrorOf(s, maybeSample(Tables.documents(s, dir), sampleMod)
      .select(col("doc_id"), col("text")))

  /** Body of [[minhashEstError]] over a caller-supplied (doc_id, text)
    * frame — parameterized on the exact-text collapse for the DedupSpec
    * differential losslessness test.
    */
  private[graft] def minhashEstErrorOf(s: SparkSession, docsIn: DataFrame,
      collapseExact: Boolean = true): DataFrame = {
    import s.implicits._
    // identical-set collapse (round 12 — the same 100×-probe finding as
    // [[minhash]]: doc-level candidates go quadratic in replica depth,
    // 147 s at sf10). Calibration counts need no doc-pair explosion at
    // all: every (a ∈ g1, b ∈ g2) pair shares its groups' signature match
    // count AND exact jaccard, so a cross-group candidate contributes
    // n1·n2 pairs to its cell arithmetically, and a surviving group's
    // within-group pairs are C(n, 2) on the exact (10, 10) diagonal
    // (identical sets ⇒ est_m = NumHashes, ov = un). Cap semantics stay
    // doc-level exactly as in [[minhash]]. The exact-text collapse
    // ([[textGroups]], round 16) runs FIRST — only member COUNTS matter
    // here, so text-group sizes sum into the set-group n and the member
    // lists never ride at all.
    val docs = collapsedDocs(docsIn, collapseExact)
      .select("doc_id", "text", "tn")
      .as[(Long, String, Long)]
      .map { case (id, text, tn) =>
        val sh = shingleSet(text)
        val sig = signature(sh)
        (id, sh, sig, bandsOfSig(sig), setKey(sh), tn)
      }
      .toDF("doc_id", "sh", "sig", "bands", "skey", "tn")
    val gset = graft.TransientCache.cache(
      docs.groupBy("skey").agg(
        min(col("doc_id")).as("gid"),
        first(col("sh")).as("sh"),
        first(col("sig")).as("sig"),
        first(col("bands")).as("bands"),
        sum(col("tn")).as("n")))
    val banded = gset.select(col("gid"), col("n"),
      posexplode(col("bands")).as(Seq("band", "bkey")))
    val buckets = cappedBuckets(banded, Seq("band", "bkey"), MaxBucket)
    val cand = bucketPairs(buckets)
    val sets = gset.select(col("gid"), col("sh"), col("sig"), col("n"))
    val cross = cand
      .join(sets.select(col("gid").as("g1"), col("sh").as("sh1"),
        col("sig").as("sig1"), col("n").as("n1")), "g1")
      .join(sets.select(col("gid").as("g2"), col("sh").as("sh2"),
        col("sig").as("sig2"), col("n").as("n2")), "g2")
      .withColumn("est_m", aggregate(
        zip_with(col("sig1"), col("sig2"),
          (a, b) => when(a === b, 1L).otherwise(0L)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("ov", size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .withColumn("un", size(array_union(col("sh1"), col("sh2"))).cast("long"))
      .select(
        expr(s"(10 * est_m) DIV $NumHashes").as("est_decile"),
        expr("(10 * ov) DIV un").as("true_decile"),
        (col("n1") * col("n2")).as("pairs"))
    val survivors = buckets.select(explode(col("gids")).as("gid")).distinct()
    val within = gset.join(survivors, "gid")
      .filter(col("n") > 1)
      .select(lit(10L).as("est_decile"), lit(10L).as("true_decile"),
        expr("n * (n - 1) DIV 2").as("pairs"))
    cross.unionByName(within)
      .groupBy("est_decile", "true_decile")
      .agg(sum(col("pairs")).as("n_pairs"))
  }

  /** Banding configurations swept by [[lshTune]] — (bands, rowsPerBand)
    * with bands × rows = [[NumHashes]], bracketing the production
    * ([[Bands]], [[RowsPerBand]]) so the sweep both validates the shipped
    * S-curve and shows the two neighboring trade-offs.
    */
  val TuneConfigs: Seq[(Int, Int)] = Seq((32, 2), (16, 4), (8, 8))

  /** lsh_tune — the banding parameter sweep, the third member of the dedup
    * quality harness ([[dedupRecall]] measures the SHIPPED config's recall,
    * [[minhashEstError]] the signature's accuracy; this answers "which
    * (bands, rows) config should ship"): for each config, re-band the SAME
    * signatures and report candidate-generation recall per true-jaccard
    * decile against the exact prefix-filter edge set. More rows per band
    * steepens the S-curve (fewer false candidates, lower recall below the
    * threshold knee); the sweep makes the trade measurable before a
    * banding change ships — run it (sampled) exactly where dedup_recall
    * runs.
    *
    * 100 TB: signatures are computed ONCE (one typed map, shared via the
    * transient cache); each config re-folds the 64 cached slots map-side
    * and pays one banding shuffle — no re-shingling, no extra corpus
    * scans. Recall counts are integer; the one division is terminal.
    */
  def lshTune(s: SparkSession, dir: String, threshold: Double = 0.5,
      configs: Seq[(Int, Int)] = TuneConfigs,
      sampleMod: Option[Int] = None): DataFrame =
    lshTuneOf(s, maybeSample(Tables.documents(s, dir), sampleMod)
      .select(col("doc_id"), col("text")), threshold, configs)

  /** Body of [[lshTune]] over a caller-supplied (doc_id, text) frame —
    * parameterized on the exact-text collapse for the DedupSpec
    * differential losslessness test. The config-independent artifacts —
    * the unique-set group table (which feeds the truth, the within-group
    * counts and the banding) and the group-level truth — are each built
    * once per query as an eager [[graft.TransientCache.checkpoint]]; at
    * 100 TB both are small parquet datasets written between jobs
    * (|distinct sets| rows and |verified group pairs| rows — never
    * doc-level).
    */
  private[graft] def lshTuneOf(s: SparkSession, docsIn: DataFrame,
      threshold: Double, configs: Seq[(Int, Int)],
      collapseExact: Boolean = true): DataFrame = {
    import s.implicits._
    // identical-set collapse (round 12, the minhash/minhashEstError 100×
    // finding ×3 configs): every config re-bands UNIQUE sets only, truth
    // counts fold arithmetically — cross-group true pairs map to group
    // pairs (all members share the groups' exact jaccard, so the decile is
    // computed once per pair of groups), within-group pairs are C(n,2) on
    // decile 10 and gate on per-config cap survival like [[minhash]]. The
    // exact-text collapse ([[textGroups]], round 16) runs FIRST: shingling
    // and signatures once per DISTINCT text, text-group sizes summing into
    // the set-group n.
    val docs = collapsedDocs(docsIn, collapseExact)
      .select("doc_id", "text", "tn")
      .as[(Long, String, Long)]
      .map { case (id, text, tn) =>
        val sh = shingleSet(text)
        (id, sh, signature(sh), setKey(sh), tn)
      }
      .toDF("doc_id", "sh", "sig", "skey", "tn")
    val gset = graft.TransientCache.checkpoint(
      docs.groupBy("skey").agg(
        min(col("doc_id")).as("gid"),
        first(col("sh")).as("sh"),
        first(col("sig")).as("sig"),
        sum(col("tn")).as("n")))
    // cross-group truth at GROUP level (round 16): the pre-r16 truth side
    // joined a DOC-LEVEL exact pair set back to groups — recall-correct,
    // but that artifact is quadratic inside
    // replica quasi-cliques (at the sf1000 fixture it would materialize
    // ~10¹¹ doc pairs just to count what is arithmetically na·nb per group
    // pair). All members of a set-group share ONE shingle set, so a group
    // pair is either entirely true pairs or entirely below threshold: run
    // the same exact prefix-filter generator (recall 1, [[jaccardGroups]])
    // over ONE REP PER GROUP and weight each verified group pair by na·nb
    // — the identical doc-level truth mass, never the doc-level rows. The
    // decile stays the gate's integer arithmetic over the rep shingle sets
    // (never a re-floor of the verified double).
    val crossTruth = graft.TransientCache.checkpoint {
      // distinctSets: one rep per setKey group ⇒ md5-distinct shingle sets
      // by construction, so the generator's internal identical-set collapse
      // would be all singletons — skip its exchange (round 17)
      val (_, tVerified) = jaccardGroups(s,
        gset.select(col("gid").as("doc_id"), col("sh").as("toks")), threshold,
        distinctSets = true)
      tVerified
        .select(least(col("g1"), col("g2")).as("ga"),
          greatest(col("g1"), col("g2")).as("gb"))
        .join(gset.select(col("gid").as("ga"), col("sh").as("sha"),
          col("n").as("na")), "ga")
        .join(gset.select(col("gid").as("gb"), col("sh").as("shb"),
          col("n").as("nb")), "gb")
        .select(col("ga"), col("gb"),
          (col("na") * col("nb")).as("n_pairs"), expr(
          """(10 * CAST(size(array_intersect(sha, shb)) AS BIGINT))
            | DIV CAST(size(array_union(sha, shb)) AS BIGINT)""".stripMargin)
          .as("j_decile"))
    }
    // within-group truth is arithmetic: identical sets are jaccard 1
    // (decile 10), C(n,2) pairs per group, all guaranteed present in the
    // exact edge set by prefix-filter recall 1
    val withinGroups = gset.filter(col("n") > 1)
      .select(col("gid"), expr("n * (n - 1) DIV 2").as("n_pairs"))
    val sigs = gset.select(col("gid"), col("n"), col("sig"))
      .as[(Long, Long, Array[Long])]
    // ALL configs in ONE banding pass (round 17): the per-config map built
    // one banding shuffle + one candidate distinct + two truth joins PER
    // config — the same gset bytes through 3× the stages. A `cfg` column
    // (bands, rows_per_band) rides the banded stream instead, so the sweep
    // pays ONE exchange per stage carrying all configs' rows at once: same
    // shuffle volume, a third of the stage/barrier count (guide §2.4), and
    // the identical per-config arithmetic — bucket caps, candidate dedup,
    // truth joins and decile sums all group on (bands, rpb, ...) so no
    // config can see another's rows.
    val cfgRows = configs.map { case (b, r) => (b.toLong, r.toLong) }
    // the truth sides fan out over the configs MAP-SIDE: `inline` of a
    // literal (bands, rpb) array, so the per-config copy is a Generate, not
    // a join (a crossJoin against a 3-row frame plans as a
    // BroadcastNestedLoopJoin)
    val cfgs = inline(array(cfgRows.map { case (b, r) =>
      struct(lit(b).as("bands"), lit(r).as("rpb")) }: _*))
    val banded = sigs
      .flatMap { case (gid, n, sg) =>
        cfgRows.iterator.flatMap { case (b, r) =>
          bandsOfSigR(sg, r.toInt).zipWithIndex.map { case (bk, bi) =>
            (b, r, bi, bk, gid, n) }
        }
      }
      .toDF("bands", "rpb", "band", "bkey", "gid", "n")
    val buckets = cappedBuckets(banded, Seq("bands", "rpb", "band", "bkey"),
      MaxBucket)
    val cand = buckets
      .select(col("bands"), col("rpb"), explode(col("gids")).as("ga"), col("gids"))
      .select(col("bands"), col("rpb"), col("ga"), explode(col("gids")).as("gb"))
      .filter(col("ga") < col("gb"))
      .select("bands", "rpb", "ga", "gb").distinct()
      .withColumn("hit", lit(1L))
    val crossAgg = crossTruth.select(col("*"), cfgs)
      .join(cand, Seq("bands", "rpb", "ga", "gb"), "left")
      .groupBy("bands", "rpb", "j_decile")
      .agg(sum(col("n_pairs")).as("n_true"),
        sum(when(col("hit").isNotNull, col("n_pairs")).otherwise(0L))
          .as("n_caught"))
    val surv = buckets
      .select(col("bands"), col("rpb"), explode(col("gids")).as("gid"))
      .distinct()
      .withColumn("alive", lit(1L))
    val withinAgg = withinGroups.select(col("*"), cfgs)
      .join(surv, Seq("bands", "rpb", "gid"), "left")
      .groupBy("bands", "rpb")
      .agg(sum(col("n_pairs")).as("n_true"),
        sum(when(col("alive").isNotNull, col("n_pairs")).otherwise(0L))
          .as("n_caught"))
      .select(col("bands"), col("rpb"), lit(10L).as("j_decile"),
        col("n_true"), col("n_caught"))
    crossAgg.unionByName(withinAgg)
      .groupBy("bands", "rpb", "j_decile")
      .agg(sum(col("n_true")).as("n_true"),
        sum(col("n_caught")).as("n_caught"))
      .select(col("bands"), col("rpb").as("rows_per_band"),
        col("j_decile"), col("n_true"), col("n_caught"),
        (col("n_caught").cast("double") / col("n_true").cast("double"))
          .as("recall"))
  }

  /** Dense small-vocab Jaccard: every distinct token set is one long; the
    * u ≤ [[DenseMaxSets]] unique masks pair via a broadcast nested-loop over
    * popcount arithmetic (whole-stage codegen'd long ops — no arrays cross
    * the wire), then matching mask pairs expand back to doc pairs. Each
    * unordered doc pair is produced exactly once: mask pairs are taken with
    * m1 ≤ m2, and within an identical-mask group (jaccard 1) the a < b
    * filter picks one orientation.
    */
  private def denseMaskGroups(
      groups: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    // group identity on the dense path is the mask itself; gid = min doc id
    // (array_min, not ids(0): collect_list order is nondeterministic)
    val gset = groups.select(array_min(col("ids")).as("gid"), col("ids"))
    val l = groups.select(col("mask").as("m1"),
      array_min(col("ids")).as("gid1"), col("ids").as("ids1"), col("n").as("n1"))
    val r = groups.select(col("mask").as("m2"),
      array_min(col("ids")).as("gid2"), col("ids").as("ids2"), col("n").as("n2"))
    // strict m1 < m2: within-group (identical-mask) pairs come from the
    // shared gset fan-out in [[prefixJaccardJoin]], like the prefix path
    val verified = l.join(broadcast(r), col("m1") < col("m2"))
      .withColumn("ov", bit_count(col("m1").bitwiseAND(col("m2"))))
      .withColumn("jaccard",
        col("ov").cast("double") / (col("n1") + col("n2") - col("ov")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(least(col("gid1"), col("gid2")).as("g1"),
        greatest(col("gid1"), col("gid2")).as("g2"),
        col("ids1"), col("ids2"), col("jaccard"))
    (gset, verified)
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** dedup_ngram — EXACT token-set (1-gram) Jaccard similarity join at
    * `threshold`, via prefix filtering (the PPJoin principle): tokens are
    * dictionary-encoded to dense int ids ordered by ascending document
    * frequency; each doc keeps only its `n - ceil(t*n) + 1` rarest ids (the
    * "prefix"); two sets with J >= t MUST share a prefix id, so the
    * inverted-index equi-join over prefix ids is a complete candidate
    * generator — recall is exactly 1, unlike MinHash LSH, while never going
    * all-pairs. A size filter (t·n1 <= n2 <= n1/t) prunes before the heavy
    * join, and verification intersects int arrays, not strings.
    *
    * 100 TB: the dictionary is vocabulary-sized (broadcast); the prefix join
    * shuffles only rare-token postings; candidate verification ships ~4B/token
    * ids instead of raw text.
    */
  def ngramJaccard(s: SparkSession, dir: String, threshold: Double = 0.9): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), array_distinct(split(trim(col("text")), "\\s+")).as("toks"))
    prefixJaccardJoin(s, docs, threshold)
  }

  /** dedup_jaccard3 — EXACT word-3-gram shingle Jaccard join at `threshold`,
    * through the same prefix-filter candidate generator. This is the
    * oracle-checkable sibling of [[minhash]]: identical shingle semantics,
    * but candidate generation has recall exactly 1 (no banding probability,
    * no hot-bucket cap), so an all-pairs SQL oracle agrees deterministically.
    */
  def jaccard3(s: SparkSession, dir: String, threshold: Double = 0.5,
      sampleMod: Option[Int] = None): DataFrame = {
    import s.implicits._
    val sets = maybeSample(Tables.documents(s, dir), sampleMod)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, shingleSet(text)) }
      .toDF("doc_id", "toks")
    prefixJaccardJoin(s, sets, threshold)
  }

  /** Above this many distinct bitmasks the dense path's unique-set
    * nested-loop join (u²/2 popcount probes) stops being the cheap option
    * and the prefix-filter path takes over.
    */
  val DenseMaxSets = 8192

  /** Row cap under which the prefix-filter dictionary is broadcast for the
    * encode join (the [[SharedBroadcastMaxRows]] budget class: ~tens of MB
    * of short token strings + int ids). Past it — a web-scale shingle
    * vocabulary — the encode falls back to a plain equi-join on `tok`.
    */
  val DictBroadcastMaxRows = 1L << 20

  /** Exact Jaccard similarity self-join at `threshold` over
    * (doc_id, toks: array<string> DISTINCT items).
    *
    * ADAPTIVE strategy selection (decided from the data, like a broadcast
    * threshold): when the vocabulary fits in 64 distinct tokens AND the
    * number of distinct token SETS is small, every set is one 64-bit
    * bitmask — Jaccard collapses to popcount arithmetic over unique masks
    * (codegen'd bit ops, zero arrays shuffled) and doc pairs are recovered
    * by exploding per-mask doc lists. Otherwise: prefix filtering (the
    * PPJoin principle) — the scale path for real vocabularies.
    */
  private[operators] def prefixJaccardJoin(
      s: SparkSession, docsIn: DataFrame, threshold: Double): DataFrame = {
    val (gset, verified) = jaccardGroups(s, docsIn, threshold)
    // verified carries ids1/ids2 from the verification joins — hand them to
    // the fan-out so the shallow branch never re-joins gset (round 16)
    memberFanOut(gset, verified, lit(1.0), "jaccard", attachedIds = true)
  }

  /** Above this group depth [[memberFanOut]] trades the in-place nested
    * explode for membership joins. The explode copies the other side's
    * id array onto EVERY generated row (k² bytes per group pair): at 1024
    * the deepest copy train is ≤ 8 MB per verified row — safe; at the sf10
    * probe's 24,800-deep token-set groups it was ~5 GB per row and OOM'd
    * the heap. The join form is depth-proof but pays two extra shuffles of
    * the half-expanded stream — measured 9× on dedup_minhash at sf10
    * (6.9 → 63 s), whose groups are exact-text replicas (≤ a few hundred
    * deep), which is why the choice is adaptive, decided from the data like
    * a broadcast threshold.
    */
  val FanOutDepthCap = 1024

  /** Fan group-level matches back out to doc pairs — ADAPTIVELY (round 13).
    *
    * Shallow groups (max |ids| ≤ [[FanOutDepthCap]]): attach both member
    * arrays to each verified pair and nested-explode in place — no extra
    * shuffle, the fan-out rows are born in the stage that verified them.
    *
    * Deep groups: MEMBERSHIP JOINS, never array explodes — a verified row
    * between two k-deep groups would otherwise generate k intermediate rows
    * EACH carrying the other side's k-long id array (k² bytes of copies
    * through the generate). The round-13 sf10 probe measured the failure:
    * the fixture's whitespace token SETS collapse 500 k docs to 3,935
    * groups (deepest 24,800), verified pairs fan to 9.29 G doc pairs, and
    * the 200 KB-array copies OOM'd the 24 g heap. The join form ships
    * constant-width (gid, doc) rows; sort-merge buffers ONE group's member
    * list per key and STREAMS the cross product, so arbitrarily deep groups
    * cost output rows, never memory (measured: the 9.67 G-pair sf10 output
    * streams to completion).
    *
    * Both branches emit each unordered pair once (groups are disjoint and
    * g1 < g2 picks one cross orientation; a < b does within a group) with
    * bit-identical columns. `payload` is the verified frame's carried
    * column (jaccard / hamming); `withinValue` is its exact within-group
    * constant (identical members ⇒ jaccard 1.0 / hamming 0).
    */
  private def memberFanOut(gset: DataFrame, verifiedPairs: DataFrame,
      withinValue: Column, payload: String,
      depthProbe: Option[DataFrame] = None,
      knownDepth: Option[Int] = None,
      attachedIds: Boolean = false): DataFrame = {
    // one tiny agg over the (cached) group table decides the strategy —
    // same discipline as the dense-path stats probe above. Callers whose
    // gset argument is a derived (uncached) frame pass `depthProbe` = the
    // CACHED superset instead (r13 advice: the minhash path's probe was
    // recomputing the banding window + survivor join); a superset's max
    // depth upper-bounds the subset's, so the strategy stays safe — at
    // worst a filtered-away deep group routes a shallow call to the
    // depth-proof join branch.
    val maxDepth = knownDepth.getOrElse {
      val depthRow = depthProbe.getOrElse(gset).agg(max(size(col("ids")))).head
      if (depthRow.isNullAt(0)) 0 else depthRow.getInt(0)
    }
    // a verifier whose join already attached the member arrays (the prefix
    // and dense paths carry ids1/ids2 through verification precisely so the
    // fan-out can ride the same join) DECLARES the hand-off via
    // `attachedIds` (r16 advice: column-name sniffing would silently skip
    // the attach join for a future caller with coincidentally named
    // columns); the require pins declaration to reality either way.
    val hasIds = attachedIds
    require(hasIds == (verifiedPairs.columns.contains("ids1") &&
        verifiedPairs.columns.contains("ids2")),
      s"memberFanOut: attachedIds=$attachedIds but verified columns are " +
        verifiedPairs.columns.mkString("[", ",", "]"))
    if (maxDepth <= FanOutDepthCap) {
      val sets = gset.select(col("gid"), col("ids"))
      val attached =
        if (hasIds) verifiedPairs
        else verifiedPairs
          .join(sets.select(col("gid").as("g1"), col("ids").as("ids1")), "g1")
          .join(sets.select(col("gid").as("g2"), col("ids").as("ids2")), "g2")
      val cross = attached
        .select(col(payload), explode(col("ids1")).as("a"), col("ids2"))
        .select(col(payload), col("a"), explode(col("ids2")).as("b"))
        .select(least(col("a"), col("b")).as("doc1"),
          greatest(col("a"), col("b")).as("doc2"), col(payload))
      val within = gset
        .filter(size(col("ids")) > 1)
        .select(explode(col("ids")).as("a"), col("ids"))
        .select(col("a"), explode(col("ids")).as("b"))
        .filter(col("a") < col("b"))
        .select(col("a").as("doc1"), col("b").as("doc2"),
          withinValue.as(payload))
      cross.unionByName(within)
    } else {
      // the deep branch must never explode attached arrays (the r13 k²-copy
      // OOM); it re-derives constant-width membership rows instead
      val vp = if (hasIds) verifiedPairs.drop("ids1", "ids2") else verifiedPairs
      val members = graft.TransientCache.cache(
        gset.select(col("gid"), explode(col("ids")).as("m")))
      val cross = vp
        .join(members.select(col("gid").as("g1"), col("m").as("a")), "g1")
        .join(members.select(col("gid").as("g2"), col("m").as("b")), "g2")
        .select(least(col("a"), col("b")).as("doc1"),
          greatest(col("a"), col("b")).as("doc2"), col(payload))
      val within = members.select(col("gid"), col("m").as("a"))
        .join(members.select(col("gid"), col("m").as("b")), "gid")
        .filter(col("a") < col("b"))
        .select(col("a").as("doc1"), col("b").as("doc2"),
          withinValue.as(payload))
      cross.unionByName(within)
    }
  }

  /** The group-level core of [[prefixJaccardJoin]]: identical-token-set
    * groups `(gid = min member doc_id, ids)` plus the VERIFIED group-level
    * similarity pairs `(g1, g2, ids1, ids2, jaccard)` at `threshold`, before
    * any member fan-out. Exposed separately because some consumers
    * ([[clusters]]' connected components) are lossless at group granularity:
    * identical sets have jaccard exactly 1 ≥ any threshold ≤ 1, so group
    * members are mutually connected by definition and the doc-level pair
    * explosion (quadratic inside replica quasi-cliques) never needs to
    * materialize for them.
    */
  /** `distinctSets = true` (round 17): the caller guarantees every input
    * row carries a DISTINCT token set (e.g. the recall harness feeds one
    * representative per setKey group — md5-distinct shingle sets by
    * construction), so the internal identical-set collapse would produce
    * only singleton groups; skip its corpus-scale exchange and build the
    * group table as a map-side projection (gid = doc_id, ids = [doc_id]).
    */
  private[operators] def jaccardGroups(
      s: SparkSession, docsIn: DataFrame, threshold: Double,
      distinctSets: Boolean = false): (DataFrame, DataFrame) = {
    // the group collapse treats same-set members as mutual matches without
    // re-checking the threshold (their jaccard is exactly 1)
    require(threshold <= 1.0, s"similarity threshold must be <= 1.0, got $threshold")
    // the tokenized docs feed the dictionary, the encoding AND verification:
    // without materialization the upstream scan + shingling map runs three
    // times inside the one consuming action (transient — harness releases)
    val docs = graft.TransientCache.cache(docsIn)
    val toksEx = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
    // COLLAPSE IDENTICAL TOKEN SETS FIRST (round 12, measured): candidate
    // generation must scale with DISTINCT content, not replicas. On a
    // 10-deep exact-duplicate corpus (the 10× probe fixture) every replica
    // shares every prefix posting, so posting-pair counts grow with the
    // SQUARE of replica depth — dedup_ngram measured 640 s at sf1 (510×
    // for 10× rows) before this stage,
    // because common words keep large df even at the rare end of the
    // dictionary. Grouping by the canonical sorted set runs the join over
    // unique sets (one representative each) and expands pairs back at the
    // end: identical-set groups emit their within-group pairs directly
    // (jaccard exactly 1 — the same 1.0 the n/n division produced), and
    // cross-set matches fan out to the member lists. Lossless: recall is
    // still exactly 1 and every emitted jaccard value is bit-identical.
    // This is the in-operator form of "exact-dedup before near-dup" every
    // production pipeline runs anyway — here it is structural, so the
    // operator survives duplicated corpora without relying on upstream
    // hygiene. (The dense path below gets the same collapse from its
    // unique-mask grouping.)
    //
    // The collapse runs on the ENCODED sorted-int arrays, not the raw token
    // arrays (round 12, measured): grouping by the string arrays shuffled
    // the whole tokenized corpus as hash-agg keys and doubled dedup_jaccard3
    // at sf0.1 (1.2 → 2.8 s — at fixture scale the cost is the extra
    // stages, at 100 TB it would be the array-keyed shuffle). The per-doc
    // dict-join + encode pass exists in the plan anyway; grouping its
    // output costs one shuffle of compact int arrays, needs no extra
    // driver action, and identical sets encode to identical arrays by
    // construction (dict is a function of token). Replica depth still
    // cannot square the candidate count: postings are per unique set.
    //
    // dictionary: token -> dense id, ids ascending by (document df, token).
    // Any GLOBAL total order keeps prefix-filter recall exactly 1;
    // df-ascending is the selectivity heuristic (rarest tokens in the
    // prefix). Assigned WITHOUT a single-partition window: distributed
    // range-sort, then zipWithIndex (per-partition counts + offsets — no
    // global funnel).
    val dict = graft.TransientCache.cache {
      import s.implicits._
      toksEx.groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").asc, col("tok").asc)
        .select(col("tok")).as[String].rdd
        .zipWithIndex.map { case (t, i) => (t, (i + 1).toInt) }
        .toDF("tok", "tid")
    }
    // ONE count gates BOTH adaptive choices (round 17): the dense-path
    // check and the encode-join strategy read the same cached-dictionary
    // cardinality, replacing the former limit-64 sample probe + separate
    // distinct-vocabulary collect (two extra driver actions on every call
    // of this kernel — eight registered queries run through here). The
    // dictionary build the prefix path needs anyway IS the full-corpus
    // token distinct, so tiny-vocab corpora are detected from it for free;
    // they pay the dictionary's sort+rank (trivial at ≤64 rows) where they
    // previously skipped it.
    val nDict = dict.count()
    if (nDict <= 64) {
      // vocabulary fits in one 64-bit mask (≤64 ⇒ sets are single longs);
      // any injective token→bit assignment gives identical groups and
      // identical popcount Jaccard, so the df-ordered tids serve as bit
      // positions directly
      val masks = toksEx.join(broadcast(dict), "tok")
        .groupBy("doc_id")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), tid - 1))").as("mask"))
      val groups = graft.TransientCache.cache(
        masks.groupBy("mask")
          .agg(collect_list(col("doc_id")).as("ids"))
          .withColumn("n", bit_count(col("mask")))
      ) // u rows, consumed by the sizing stats AND both join sides
      // guard BOTH dimensions before u² probing: distinct-set count, and the
      // hottest identical-set group (a mega-group would concentrate a
      // quadratic expansion in one task AND ship every doc id in the
      // broadcast — same invariant as MaxBucket on the minhash path; such
      // corpora should run exact dedup first and take the prefix path)
      val stats = groups.agg(count(lit(1)), max(size(col("ids")))).head
      if (stats.getLong(0) <= DenseMaxSets && stats.getInt(1) <= MaxBucket)
        return denseMaskGroups(groups, threshold)
      // fall through to the prefix path
    }
    // ADAPTIVE encode-join strategy (round 16, the substring-scrub
    // SharedBroadcastMaxRows discipline): the dictionary is
    // distinct-content-sized, and an unconditional broadcast hint would
    // ship a web-scale shingle vocabulary (billions of rows at 100 TB) to
    // the driver and every executor; the cached-row count decides
    // broadcast-vs-shuffle like every other size threshold in this file.
    // Fixture vocabularies are ~10⁴–10⁵ rows, so the local plan keeps the
    // broadcast.
    val dictSide =
      if (nDict <= DictBroadcastMaxRows) broadcast(dict) else dict
    // per-document sorted int-id sets — the compact representation every
    // stage below rides (empty token sets drop out at the explode, so they
    // never pair; jaccard over two empty sets is undefined by contract)
    val docEnc = toksEx.join(dictSide, "tok")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("tid"))).as("tids"))
    // identical-set groups: one representative (min doc id) carries the set
    // through candidate generation + verification; members fan back in at
    // the end. Callers that certify distinct sets skip the collapse
    // exchange — every group is a singleton by their construction.
    val gset = graft.TransientCache.cache(
      if (distinctSets)
        docEnc.select(col("tids"), col("doc_id").as("gid"),
          array(col("doc_id")).as("ids"))
      else
        docEnc.groupBy("tids")
          .agg(min(col("doc_id")).as("gid"), collect_list(col("doc_id")).as("ids")))
    // unique sets; prefix = rarest ids
    val encoded = gset
      .select(col("gid"), col("tids"))
      .withColumn("n", size(col("tids")))
      .withColumn("plen", (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"))
    val prefix = encoded.select(col("gid"), col("n"),
      posexplode(slice(col("tids"), lit(1), col("plen"))).as(Seq("p", "tid")))
    // PPJoin positional filter: a pair with J >= t needs overlap
    // c >= t/(1+t) * (n1+n2); a match at 0-based prefix positions (p1, p2)
    // can contribute at most 1 + min(n1-p1-1, n2-p2-1) overlap, so late-
    // position-only matches are pruned before the candidate distinct.
    val minOverlap = lit(threshold / (1 + threshold)) * (col("n1") + col("n2"))
    val cand = prefix.select(col("tid"), col("gid").as("g1"),
        col("n").as("n1"), col("p").as("p1"))
      .join(prefix.select(col("tid"), col("gid").as("g2"),
        col("n").as("n2"), col("p").as("p2")), "tid")
      .filter(col("g1") < col("g2") &&
        col("n2") >= lit(threshold) * col("n1") &&
        col("n1") >= lit(threshold) * col("n2") &&
        lit(1) + least(col("n1") - col("p1") - 1, col("n2") - col("p2") - 1) >= minOverlap)
      .select("g1", "g2").distinct()
    // verification rides the same joins that will fan members back in: each
    // side carries (tids, ids), overlap is the codegen'd two-pointer merge
    // over the sorted+distinct int arrays (no per-row hash sets, union array
    // never built; |A∪B| = n1+n2-overlap — identical jaccard bits to the
    // array_intersect/array_union formulation)
    val sets = gset.select(col("gid"), col("tids"), col("ids"))
    val verified = cand
      .join(sets.select(col("gid").as("g1"), col("tids").as("t1"),
        col("ids").as("ids1")), "g1")
      .join(sets.select(col("gid").as("g2"), col("tids").as("t2"),
        col("ids").as("ids2")), "g2")
      .withColumn("ov", graft.functions.GraftFunctions.sortedOverlap(col("t1"), col("t2")))
      .withColumn("jaccard",
        col("ov").cast("double") /
          (size(col("t1")) + size(col("t2")) - col("ov")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("g1"), col("g2"), col("ids1"), col("ids2"), col("jaccard"))
    (gset.select(col("gid"), col("ids")), verified)
  }

  /** Sorted-neighborhood comparison window: each document is compared to
    * this many predecessors in the (n_chars, doc_id) sort order.
    */
  val SortedWindow = 4

  /** dedup_sorted — sorted-neighborhood near-dup detection (the
    * Hernández–Stolfo merge/purge recipe): sort the corpus by a cheap
    * blocking key (document length, doc_id tiebreak), slide a
    * [[SortedWindow]]-row window down the sorted order, and exact-verify
    * only pairs that fall in the same window. The third member of the
    * candidate-generation family — LSH banding ([[minhash]]) buckets by
    * content sketch, prefix filtering ([[jaccard3]]) by rare tokens, this
    * one by a sort key — with the classic trade: O(n·w) candidates and ONE
    * sort, but recall limited to pairs the key places near each other
    * (near-dups differ by small edits, so their lengths — hence ranks —
    * collide; a length-blind reorder defeats it). The oracle replays the
    * same heuristic, so the gate checks the plan exactly, not recall.
    *
    * 100 TB shape: the global rank comes from a distributed range sort +
    * `zipWithIndex` (per-partition counts and offsets — NO single-partition
    * window, the same pattern as the prefix-filter dictionary); windows
    * become an EQUI-join by exploding each doc's w predecessor ranks
    * (skipgram's offset-generation trick — a range join would not
    * hash-partition). Candidates carry only (rank, doc_id), then a
    * 16-byte content key; the gram-hash sets (sorted distinct fnv64 — the
    * minhash wire format) are joined and exact-Jaccard-verified once per
    * DISTINCT CONTENT PAIR, never per doc pair (round 14 — see the in-body
    * note for the 17.6× sf100 measurement this retired).
    */
  def sortedNeighborhood(s: SparkSession, dir: String,
      threshold: Double = 0.5, window: Int = SortedWindow): DataFrame = {
    import s.implicits._
    val docs = graft.TransientCache.cache(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), col("text"))
        .as[(Long, Long, String)]
        .map { case (id, nc, text) =>
          val hs = shingleSet(text).map(graft.functions.HashFunctions.fnv64)
            .distinct.sorted.toArray
          (id, nc, hs, hashSetKey(hs))
        }
        .toDF("doc_id", "n_chars", "hs", "skey"))
    val ranked = docs.select(col("n_chars"), col("doc_id"))
      .orderBy(col("n_chars"), col("doc_id"))
      .as[(Long, Long)].rdd
      .zipWithIndex.map { case ((_, id), r) => (r, id) }
      .toDF("rank", "doc_id")
    val pred = ranked.select(col("rank").as("k"), col("doc_id").as("doc_b"))
    val cur = ranked.select(
      explode(sequence(col("rank") - window, col("rank") - 1)).as("k"),
      col("doc_id").as("doc_a"))
    val cand = cur.join(pred, "k").select(
      least(col("doc_a"), col("doc_b")).as("doc1"),
      greatest(col("doc_a"), col("doc_b")).as("doc2"))
    // Round 14 (sf100 decade probe): the first shape joined the full hs
    // ARRAYS onto every doc pair — ~0.8 KB of payload × pairs through two
    // sort-merge joins, 5.8 → 102 s for 10× data (replica-heavy corpora
    // sort identical texts adjacently, so the window is FULL of identical
    // pairs). Doc pairs now carry only the 16-byte content key; the exact
    // verify runs once per DISTINCT content pair (identical sets have
    // identical sorted-distinct hash arrays, so one representative's
    // Jaccard IS every member pair's value — the minhash/ngram/simhash
    // collapse argument), and scores join back by the narrow key pair.
    val keys = docs.select(col("doc_id"), col("skey"))
    val candK = cand
      .join(keys.select(col("doc_id").as("doc1"), col("skey").as("sk1")), "doc1")
      .join(keys.select(col("doc_id").as("doc2"), col("skey").as("sk2")), "doc2")
    val gset = docs.groupBy("skey").agg(first(col("hs")).as("hs"))
    val scored = candK.select("sk1", "sk2").distinct()
      .join(gset.select(col("skey").as("sk1"), col("hs").as("h1")), "sk1")
      .join(gset.select(col("skey").as("sk2"), col("hs").as("h2")), "sk2")
      .withColumn("ov", size(array_intersect(col("h1"), col("h2"))))
      .withColumn("jaccard", col("ov").cast("double") /
        (size(col("h1")) + size(col("h2")) - col("ov")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("sk1", "sk2", "jaccard")
    candK.join(scored, Seq("sk1", "sk2"))
      .select("doc1", "doc2", "jaccard")
  }

  /** 16-byte md5 key of a SORTED-DISTINCT long-hash set — the array<long>
    * analog of [[setKey]]: fixed-width big-endian encoding per element is
    * injective without a length prefix, so distinct sets collide only at
    * md5's birthday bound (safe past 10¹⁸ distinct sets). Base64 like
    * setKey so the key is a plain string column.
    */
  private def hashSetKey(hs: Array[Long]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    hs.foreach { h =>
      buf.clear(); buf.putLong(h)
      md.update(buf.array())
    }
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Shared GROUP-LEVEL near-duplicate graph over the [[jaccard3]] shingle
    * semantics at `threshold`: (membership(doc_id, gid), edges(g1, g2)),
    * where gid = min doc_id of an identical-shingle-set group and edges are
    * the verified cross-group matches. Built once per query as ONE tagged
    * frame (kind "m" | "e" over two longs) behind one eager
    * [[graft.TransientCache.checkpoint]], so a single build serves both
    * consumers; at 100 TB this artifact is one small parquet dataset
    * written between jobs.
    */
  private def groupGraph(s: SparkSession, dir: String,
      threshold: Double): (DataFrame, DataFrame) = {
    val docsT = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      // null text -> no shingles -> outside the graph (the typed map
      // guard every tokenize pass carries)
      .filter(col("text").isNotNull)
    val combined =
      graft.TransientCache.checkpoint(groupGraphOf(s, docsT, threshold))
    (combined.filter(col("kind") === "m")
       .select(col("a").as("doc_id"), col("b").as("gid")),
     combined.filter(col("kind") === "e")
       .select(col("a").as("g1"), col("b").as("g2")))
  }

  /** Group-graph construction over a caller-supplied (doc_id, text) frame —
    * the body of [[groupGraph]], parameterized so DedupSpec can run the
    * exact-text collapse against the pre-collapse shape on a planted corpus
    * and pin their label-for-label equality (the losslessness argument,
    * tested rather than asserted). Production always collapses.
    */
  private[graft] def groupGraphOf(s: SparkSession, docsT: DataFrame,
      threshold: Double, collapseExact: Boolean = true): DataFrame = {
    import s.implicits._
    // EXACT-TEXT COLLAPSE BEFORE TOKENIZATION (round 15, from the
    // sf1000 probe): the first shape shingled every document and let
    // jaccardGroups' identical-SET grouping do the collapse — which
    // meant the typed shingle map, the dictionary explode and the
    // per-doc encode all ran corpus-sized, and jaccardGroups' internal
    // cache held one token array PER DOCUMENT. At factor 10,000
    // (49 M docs, ~5 k distinct texts) the execution+storage
    // contention OOM'd stage 5 outright. Identical TEXTS have
    // identical shingle sets by determinism, so collapsing on
    // md5(text) FIRST is lossless: only distinct texts are ever
    // shingled/encoded, reps carry min member doc_id, and since the
    // shingle-group gid is the min over rep ids = min over all member
    // ids, every downstream label is bit-identical. The md5 groupBy
    // ships 40 B/doc (digest + id) with map-side combine; the rep
    // text fetch is an equi-join AQE broadcasts when distinct content
    // is small and shuffle-joins otherwise — on a fully-distinct
    // corpus the collapse degenerates to one extra narrow exchange,
    // the same insurance-premium class as the round-12 set collapse.
    if (collapseExact) {
      // ONE scan (round 17): [[textGroups]] — the minhash family's r16
      // collapse — carries the representative text THROUGH the md5 groupBy
      // (first(text) partial-aggregates map-side), so the former second
      // documents scan + rep-text equi-join disappear from every groupGraph
      // consumer (clusters, canonical, pipeline keep/curate). rep = min
      // member doc_id and the members multiset are unchanged, so every
      // downstream label is bit-identical.
      val tg = graft.TransientCache.cache(textGroups(docsT))
      val repSets = tg.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) => (id, shingleSet(text)) }
        .toDF("doc_id", "toks")
      val (gset, verified) = jaccardGroups(s, repSets, threshold)
      val membership = gset
        .select(col("gid"), explode(col("ids")).as("rep"))
        .join(tg.select(col("doc_id").as("rep"), col("members")), "rep")
        .select(col("gid"), explode(col("members")).as("did"))
      membership.select(lit("m").as("kind"), col("did").as("a"),
          col("gid").as("b"))
        .unionByName(verified.select(lit("e").as("kind"),
          col("g1").as("a"), col("g2").as("b")))
    } else {
      // the pre-r15 shape, kept ONLY as the differential baseline for the
      // losslessness property test: every document shingled, the identical-
      // SET grouping inside jaccardGroups doing the whole collapse
      val sets = docsT
        .as[(Long, String)]
        .map { case (id, text) => (id, shingleSet(text)) }
        .toDF("doc_id", "toks")
      val (gset, verified) = jaccardGroups(s, sets, threshold)
      gset.select(lit("m").as("kind"), explode(col("ids")).as("a"),
          col("gid").as("b"))
        .unionByName(verified.select(lit("e").as("kind"),
          col("g1").as("a"), col("g2").as("b")))
    }
  }

  /** dedup_clusters — connected components of the near-duplicate graph: the
    * pipeline-facing dedup artifact (one surviving cluster_id per document;
    * keep `doc_id == cluster_id`, drop the rest). Edges carry the
    * exact-recall [[jaccard3]] shingle semantics, propagated at GROUP level
    * over one representative per distinct shingle set ([[groupGraph]]);
    * components come from Pregel-style MIN-LABEL propagation
    * ([[minLabelPropagate]]) and members inherit their group's label.
    */
  def clusters(s: SparkSession, dir: String, threshold: Double = 0.5,
      maxRounds: Int = 50, pairs: Option[DataFrame] = None): DataFrame = pairs match {
    case Some(p) =>
      // caller-supplied doc-level pair set: propagate directly on documents
      minLabelPropagate(p.select(col("doc1"), col("doc2")),
        Tables.documents(s, dir)
          .select(col("doc_id"), col("doc_id").as("cluster_id")),
        maxRounds)
    case None =>
      // GROUP-LEVEL connected components (round 13, from the 100× probe):
      // the doc-level edge set explodes quadratically inside replica
      // quasi-cliques — a 100-deep exact-dup group contributes 4,950 edges
      // that all say the same thing, and at sf10 the edge set alone was
      // ~10⁸ rows (dedup_clusters 39.9 s). Identical shingle sets are
      // same-cluster BY DEFINITION (jaccard exactly 1 ≥ any threshold ≤ 1),
      // so min-label propagation runs over one representative per DISTINCT
      // set and members inherit their group's component label afterwards —
      // lossless, and the graph scales with distinct content, not replicas.
      // gid = min member doc_id, so the component-min group label IS the
      // component-min doc_id: doc-level cluster ids are bit-identical.
      val (membership, gEdges) = groupGraph(s, dir, threshold)
      val gLabels = minLabelPropagate(
        gEdges.select(col("g1").as("doc1"), col("g2").as("doc2")),
        membership.select(col("gid").as("doc_id")).distinct()
          .select(col("doc_id"), col("doc_id").as("cluster_id")),
        maxRounds)
      // members fan in; docs outside the graph (empty shingle sets never
      // encode, so they have no group) keep themselves as cluster id
      val docLabels = membership
        .join(gLabels.select(col("doc_id").as("gid"), col("cluster_id")), "gid")
        .select(col("doc_id"), col("cluster_id"))
      Tables.documents(s, dir).select(col("doc_id"))
        .join(docLabels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Pregel-style MIN-LABEL propagation to a fixpoint over an undirected
    * pair set: each round every node takes the smallest label among itself
    * and its neighbors, converging in O(component diameter) rounds (near-dup
    * components are quasi-cliques, so ~3–5 rounds at any corpus size).
    *
    * 100 TB: each round is one equi-join + one aggregate (all shuffles on
    * the node id); the driver only compares label-sum convergence scalars,
    * never rows.
    */
  private def minLabelPropagate(pairs: DataFrame,
      initLabels: DataFrame, maxRounds: Int): DataFrame = {
    // edges materialized once: every round re-reads them, and whatever
    // produced the pair set must never re-run inside the loop
    val p = pairs.select(col("doc1"), col("doc2"))
    val edges = graft.TransientCache.checkpoint(
      p.union(p.select(col("doc2"), col("doc1"))).toDF("u", "v"))
    // localCheckpoint each round: without it, round r's logical plan nests
    // all r-1 previous rounds and Catalyst re-optimizes the whole tower
    // every round (superlinear planning time — measured 3-4x the total
    // runtime by round ~8 at sf0.1). Checkpointing pins each round to a
    // flat LogicalRDD, so planning cost is constant per round. LAZY since
    // round 16: the convergence sum below is an action over the marked RDD,
    // so ONE job per round both materializes the checkpoint blocks and
    // returns the sum — the eager form paid a separate materialization job
    // per round just to then re-read the fresh blocks for the sum.
    var labels = graft.TransientCache.checkpoint(initLabels, eager = false)
    // labels are non-negative and only ever decrease, so the label sum is a
    // strictly decreasing convergence measure (fixpoint = sum unchanged)
    def labelSum(df: DataFrame): Long =
      df.agg(sum("cluster_id")).head.getLong(0)
    var prevSum = Long.MaxValue
    var curSum = labelSum(labels)
    var rounds = 0
    // one propagation step: every node takes the min label among itself and
    // its neighbors
    def step(l: DataFrame): DataFrame = {
      val viaEdge = l
        .join(edges, l("doc_id") === edges("u"))
        .select(col("v").as("doc_id"), col("cluster_id"))
      l.unionByName(viaEdge)
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
    }
    // ONE step per materialized round, deliberately (round 17, measured):
    // a double-step variant (two joins+aggs per barrier) was tried to halve
    // the action count, but cost tracks EXCHANGES executed, not actions —
    // the convergence-confirm barrier then pays two no-op propagation
    // shuffles instead of one, and dedup_clusters measured +5 jobs for it.
    // The same argument holds at 100 TB: shuffle count dominates barrier
    // count for this loop. Each round is unpinned as soon as its successor
    // is materialized (the successor's blocks are real rows, not lineage),
    // so the loop holds at most two rounds of label blocks at any time.
    while (curSum != prevSum && rounds < maxRounds) {
      val next = graft.TransientCache.checkpoint(step(labels), eager = false)
      prevSum = curSum
      curSum = labelSum(next)
      graft.TransientCache.unpin(labels)
      labels = next
      rounds += 1
    }
    // the returned labels are checkpointed rows with no lineage back to the
    // edges; unpin the edge blocks now (the result's go in the harness's
    // post-action sweep)
    graft.TransientCache.unpin(edges)
    // fail LOUDLY on non-convergence: silently-wrong cluster ids would let
    // duplicate documents through the curation keep-set downstream
    if (curSum != prevSum)
      throw new IllegalStateException(
        s"label propagation did not converge in $maxRounds rounds " +
          "(component diameter > rounds — pathological chain; raise maxRounds)")
    labels
  }

  /** dedup_canonical — the "apply the dedup" step: for every near-dup
    * cluster ([[clusters]] labels), elect one representative — the longest
    * member (`n_chars` desc, doc_id asc as the total-order tiebreak) — and
    * emit, per document, its cluster, the elected canonical id, the cluster
    * size, and the keep/drop verdict a downstream corpus writer filters on.
    * Singleton clusters keep themselves, so `kept` rows ARE the deduplicated
    * corpus; this is the operator a pipeline actually runs after candidate
    * generation + clustering have decided who duplicates whom.
    *
    * 100 TB plan: one hash shuffle on `cluster_id`; all three window frames
    * (election rank, the first_value broadcastback of the winner, and the
    * member count) share that single exchange + per-partition sort. Cluster
    * partitions are near-dup components — quasi-cliques of a few docs — so
    * the per-key row count is bounded by dedup semantics itself, never by
    * corpus size (contrast source/lang keys, which need cap/salt guards).
    */
  def canonical(s: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val elect = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val whole = elect.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"))
      .join(clusters(s, dir, threshold), "doc_id")
      .withColumn("canonical_id", first("doc_id").over(whole))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        col("n_members"), (col("doc_id") === col("canonical_id")).as("kept"))
  }

  // ------------------------------------------------------ substring dedup

  /** Token-window length for [[substringDups]] (50 in the Lee et al. paper's
    * BPE-token setting; 8 here so the word-level fixture corpus exercises
    * the operator non-vacuously).
    */
  val SubstringWindow = 8

  /** Row cap under which [[substringScrub]]'s shared-gram table is
    * broadcast for the flag join (~40 MB of 16-byte digests + keep ids —
    * the executor-memory budget a broadcast dictionary is allowed
    * anywhere in this repo). Past it, the equi-join + doc_id repartition
    * branch takes over.
    */
  val SharedBroadcastMaxRows = 1L << 20

  /** Space-trim + `\s+` tokenization shared by the whole substring-dedup
    * family — ONE definition, because [[windowStarts]]' occurrence
    * positions, [[windowGrams]]' gram strings, and [[substringScrub]]'s
    * rebuild must stay byte-identical to each other and to the oracle's
    * `trim` + `string_split_regex` or scrub coverage silently drifts.
    */
  private[graft] def trimmedTokens(text: String): Array[String] = {
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    text.substring(b, e).split("\\s+")
  }

  /** Distinct sliding `w`-token windows of a document (space-joined), with
    * the same space-trim + `\s+` tokenization as [[shingleSet]]. Documents
    * shorter than `w` tokens emit nothing: a window that IS the whole short
    * doc is exact-dedup's job, not substring dedup's.
    */
  private[graft] def windowGrams(text: String, w: Int): IndexedSeq[String] = {
    val toks = trimmedTokens(text)
    if (toks.length < w) return IndexedSeq.empty
    val out = new java.util.LinkedHashSet[String]((toks.length - w + 1) * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + w <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    import scala.jdk.CollectionConverters._
    out.asScala.toIndexedSeq
  }

  /** dedup_substring — exact substring-level duplication (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * `window`-token run that appears in ≥ 2 distinct documents, with its
    * document count and the smallest containing doc. Catches boilerplate
    * shared across otherwise-distinct pages (headers, license blocks) that
    * document-level Jaccard scores below threshold.
    *
    * The aggregation (count + min per gram) is associative, so Spark's
    * map-side partial agg absorbs hot grams — a boilerplate string repeated
    * in millions of documents costs one combiner cell per map partition,
    * never a quadratic pair blowup. That makes this the SKEW-SAFE member of
    * the dedup family: one shuffle keyed on the gram, no candidate pairing.
    *
    * 100 TB: key the shuffle on `fnv64(gram)` (8-byte keys instead of raw
    * strings — the suffix-array construction in the paper is the single-node
    * analogue; the hash-keyed aggregate is its distributed-equivalent with a
    * ~2⁻⁶⁴ per-pair collision risk), and keep `min(doc_id)` as the exemplar
    * pointer. The fixture-scale form groups on the gram text so the DuckDB
    * oracle can reproduce it literally.
    */
  def substringDups(s: SparkSession, dir: String,
      window: Int = SubstringWindow): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) => windowGrams(text, window).map(g => (id, g)) }
      .toDF("doc_id", "gram")
      .groupBy("gram")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") >= 2)
  }

  /** Positional `w`-token windows of a document: EVERY occurrence with its
    * 0-based starting token index (contrast [[windowGrams]], which dedupes
    * for the gram-level aggregate — scrubbing needs positions, not just
    * membership). Same trim + `\s+` tokenization; docs shorter than `w`
    * emit nothing.
    */
  private[graft] def windowStarts(text: String, w: Int): IndexedSeq[(Int, String)] = {
    val toks = trimmedTokens(text)
    if (toks.length < w) return IndexedSeq.empty
    val sb = new java.lang.StringBuilder
    (0 to toks.length - w).map { i =>
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      (i, sb.toString)
    }
  }

  /** substring_scrub — the "apply" step of substring dedup (Lee et al.'s
    * ExactSubstr DEDUPLICATION, not just detection): every token position
    * covered by a shared `w`-token run is REMOVED from every document
    * except the run's first occurrence (min doc_id keeps all its text),
    * and the surviving tokens are re-joined. Overlapping shared runs union
    * their coverage, so boilerplate paragraphs vanish wholesale; a run a
    * document repeats internally with no second document sharing it is NOT
    * scrubbed (internal repetition is text_repetition's dimension, not
    * cross-document duplication).
    *
    * Output per document: token count, removed-token count, and the
    * scrubbed text — the corpus the next pipeline stage actually trains on.
    *
    * 100 TB plan: the positional occurrence table is token-stream-sized
    * (the same working set wc/indexer shuffle) and is STREAMED FRESH to
    * each of its two consumers — the first shape TransientCache'd it, and
    * the sf100 decade probe measured the materialization of a one-row-per-
    * token-position cache as the dominant, superlinear cost (the
    * heavy_hitters lesson at the same probe: a stream with no narrower
    * cacheable form is cheaper to recompute than to spill); the shared-run
    * aggregate is one map-side-combined shuffle on the gram (hot
    * boilerplate grams partial-aggregate before moving); flagged starts
    * come back as ONE shuffle on doc_id carrying only flagged occurrences;
    * the rebuild is a per-row typed map (same tier as the MinHash
    * signature pass — per-doc imperative logic with no cross-row state).
    * No pairing, no candidate explosion: scrub cost is linear in corpus
    * tokens regardless of how duplicated the corpus is.
    */
  def substringScrub(s: SparkSession, dir: String,
      window: Int = SubstringWindow,
      broadcastMaxRows: Long = SharedBroadcastMaxRows): DataFrame = {
    import s.implicits._
    // grams travel as md5 DIGESTS, never raw text (the corpus_overlap
    // shuffle discipline): the groupBy/join key shrinks from an ~8-token
    // string to 16 fixed bytes, and 128 bits stays birthday-safe at the
    // ~10¹¹ distinct window-grams a 100 TB crawl carries (64 bits would
    // not). The digest projection runs map-side, before the exchange.
    def occ = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        windowStarts(t, window).map { case (st, g) => (id, st, g) }
      }
      .toDF("doc_id", "start", "gram")
      .select(col("doc_id"), col("start"), unhex(md5(col("gram"))).as("g"))
    // The shared-gram pass consumes the per-doc DISTINCT gram emission
    // (windowGrams), not the positional one: distinct-per-doc rows turn
    // count_distinct into a plain count whose map-side partials collapse a
    // hot gram ACROSS the documents of a partition before the exchange —
    // count_distinct's partial-distinct phase keys on (g, doc_id) and so
    // ships one row per doc-gram no matter how boilerplate the gram is.
    val shared = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) => windowGrams(t, window).map(g => (id, g)) }
      .toDF("doc_id", "gram")
      .select(col("doc_id"), unhex(md5(col("gram"))).as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))
      .filter(col("n_docs") >= 2)
      .select("g", "keep_id")
    // Flagged starts compress to coverage INTERVALS before the doc_id
    // aggregate: consecutive overlapping windows of a boilerplate run merge
    // into one [s, e) row (the sf100 decade probe measured the uncompressed
    // form — one row per flagged START into a 5 M-group collect_set — as
    // 102 of the operator's 134 s). Compression needs the flag join to
    // PRESERVE per-doc row order, so the join strategy is chosen
    // adaptively from the measured |shared| (the memberFanOut pattern —
    // shared is aggregated and bounded by distinct ≥2-doc grams, so
    // caching and counting it is cheap):
    //   - small shared (the common case; boilerplate-gram tables are
    //     dictionary-scale): an EXPLICIT broadcast flags map-side in the
    //     occ emission's own doc order — AQE can't be trusted with this
    //     call (at the sf100 probe shared serialized just past the 10 MB
    //     default, Spark picked SMJ, the g-sort destroyed doc clustering
    //     and the merge achieved 0% — 235,479,306 intervals from
    //     235,704,000 starts);
    //   - huge shared (a 100 TB crawl's shared-gram table can exceed any
    //     broadcast budget): equi-join, then repartition by doc_id and
    //     sort WITHIN partitions by (doc_id, start) — the merge compresses
    //     again, and the doc_id aggregate reuses that exact partitioning,
    //     so restoring doc order costs no extra exchange.
    // The merge itself is order-TOLERANT: out-of-order rows just emit
    // unmerged intervals, which the rebuild unions anyway — compression is
    // an optimization, never a correctness dependency.
    val sharedC = graft.TransientCache.cache(shared)
    val smallShared = sharedC.count() <= broadcastMaxRows
    val pre = (if (smallShared) occ.join(broadcast(sharedC), "g")
               else occ.join(sharedC, "g"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("start"))
    val ordered =
      if (smallShared) pre
      else pre.repartition(col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("start"))
    val flagged = ordered
      .as[(Long, Int)]
      .mapPartitions(mergeCoverage(_, window))
      .toDF("doc_id", "iv_s", "iv_e")
      .groupBy("doc_id")
      .agg(collect_set(struct(col("iv_s").as("_1"), col("iv_e").as("_2"))).as("ivs"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .join(flagged, Seq("doc_id"), "left")
      .as[(Long, String, Option[Seq[(Int, Int)]])]
      .map { case (id, text, ivs) =>
        val toks = trimmedTokens(text)
        val covered = new Array[Boolean](toks.length)
        ivs.getOrElse(Nil).foreach { case (s0, e0) =>
          var p = math.max(s0, 0)
          val end = math.min(e0, toks.length)
          while (p < end) { covered(p) = true; p += 1 }
        }
        val kept = toks.indices.filterNot(covered)
        (id, toks.length.toLong, covered.count(identity).toLong,
          kept.map(toks).mkString(" "))
      }
      .toDF("doc_id", "n_toks", "n_removed", "scrubbed_text")
  }

  /** Merge a stream of flagged window starts into per-doc coverage
    * intervals [s, e): a start `st` covers [st, st+window); runs of same-doc
    * starts whose windows overlap or touch the open interval extend it,
    * anything else (new doc, gap, or out-of-order arrival) flushes. Exact
    * under ANY input order — ordering only affects how much compression is
    * achieved, because the rebuild unions the intervals.
    */
  private[graft] def mergeCoverage(it: Iterator[(Long, Int)],
      window: Int): Iterator[(Long, Int, Int)] = new Iterator[(Long, Int, Int)] {
    private var open = false
    private var doc = 0L
    private var s0 = 0
    private var e0 = 0
    private var out: (Long, Int, Int) = null
    private def advance(): Unit = {
      while (out == null && it.hasNext) {
        val (d, st) = it.next()
        if (open && d == doc && st >= s0 && st <= e0) {
          e0 = math.max(e0, st + window)
        } else {
          if (open) out = (doc, s0, e0)
          doc = d; s0 = st; e0 = st + window; open = true
        }
      }
      if (out == null && open && !it.hasNext) {
        out = (doc, s0, e0); open = false
      }
    }
    override def hasNext: Boolean = { advance(); out != null }
    override def next(): (Long, Int, Int) = {
      advance()
      val r = out; out = null; r
    }
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash of a token sequence, computed in one pass of plain
    * Scala: per bit, sum ±1 votes over token hashes, sign → bit.
    */
  private[graft] def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    val toks = text.trim.split("\\s+")
    var t = 0
    while (t < toks.length) {
      val h = fnv64(toks(t))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** dedup_simhash — the per-document signatures (the artifact a pipeline
    * persists for incremental dedup). One typed map per row.
    */
  def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, simhash64(text)) }
      .toDF("doc_id", "simhash")
  }

  /** dedup_simhash_pairs — near-dup pairs at Hamming distance ≤ `maxHamming`,
    * blocked on `maxHamming + 1` bit-range chunks of the 64-bit signature:
    * with d ≤ maxHamming differing bits spread over maxHamming+1 disjoint
    * chunks, at least one chunk is untouched (pigeonhole), so the equi-join
    * on (chunk, chunk bits) is a COMPLETE candidate generator for every
    * `maxHamming` — never all-pairs. Chunk count is derived, not fixed, so
    * callers cannot silently lose recall (maxHamming=3 → the classic 4×16).
    */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    // beyond 15 the chunks narrow under 4 bits and the blocking keys lose
    // selectivity (≤16 distinct values/chunk ⇒ the equi-join trends toward
    // all-pairs); real near-dup thresholds sit well below this
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    val nChunks = maxHamming + 1
    // chunk c covers bits [lo(c), lo(c+1)): widths differ by at most 1
    def lo(c: Int): Int = c * 64 / nChunks
    // COLLAPSE IDENTICAL SIGNATURES FIRST (round 13, the minhash/jaccard
    // set-collapse ported): every replica of a duplicated document has the
    // same simhash, so under factor-deep dup groups every chunk bucket held
    // every replica and within-bucket pairing went quadratic in replica
    // depth (12 s at the sf10 probe). One row per DISTINCT signature rides
    // the chunk join; equal-signature docs pair directly at hamming 0 (the
    // same 0 the XOR produced — grouping by the fingerprint is lossless for
    // (doc1, doc2, hamming) even across colliding texts, because equal
    // signatures ARE hamming 0). Candidates now scale with distinct content.
    val gset = graft.TransientCache.cache(
      simhashSigs(s, dir)
        .groupBy("simhash").agg(collect_list(col("doc_id")).as("ids")))
    val chunked = gset.select(
      col("simhash"),
      posexplode(array((0 until nChunks).map { c =>
        val width = lo(c + 1) - lo(c)
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        shiftright(col("simhash"), lo(c)).bitwiseAND(lit(mask))
      }: _*)).as(Seq("chunk", "ckey")))
    val l = chunked.select(col("chunk"), col("ckey"), col("simhash").as("h1"))
    val r = chunked.select(col("chunk"), col("ckey"), col("simhash").as("h2"))
    val sigPairs = l.join(r, Seq("chunk", "ckey"))
      .filter(col("h1") < col("h2"))
      .select(col("h1").as("g1"), col("h2").as("g2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    // the signature IS the group id for the fan-out joins
    memberFanOut(gset.select(col("simhash").as("gid"), col("ids")),
      sigPairs, lit(0).cast("integer"), "hamming")
  }

  /** corpus_overlap — the cross-SOURCE contamination matrix: for every
    * ordered source pair, how many distinct word-3-gram shingles (the
    * [[shingleSet]] / dedup_jaccard3 gram definition) the two sources
    * share, with per-source distinct totals and the shingle-set Jaccard.
    * This is the corpus-level view the doc-level near-dup passes can't
    * give: which crawls/feeds are re-serving each other's content (mirror
    * detection, train/eval split hygiene, dataset-mixing diligence before
    * two corpora are unioned). n_a/n_b/n_shared are exact BIGINTs; jaccard
    * is one division of exact ints.
    *
    * 100 TB plan: shingles travel as md5 DIGESTS, never raw text (the
    * dedup-family shuffle discipline), and the ONE corpus-scale exchange
    * groups digests with a map-side-combined `collect_set(source)` — a
    * per-digest source set bounded by the SOURCE count (hundreds, not
    * billions). Both downstream tables read off that grouped frame: the
    * per-source distinct totals by exploding the source sets (no second
    * pass over the digest stream), and the shared counts by exploding the
    * s·(s−1)/2 ordered pairs of each multi-source digest in place — the
    * round-16 replacement for the previous digest self-join, which
    * re-shuffled the (source, digest) stream and sorted both join sides to
    * produce exactly these pairs. The final grid join runs on source-sized
    * aggregate tables (broadcast). No all-pairs stage anywhere.
    */
  def corpusOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // no pre-distinct: collect_set dedups (source, digest) inside the same
    // exchange the grouping pays anyway
    val byDg = graft.TransientCache.cache(
      Tables.documents(s, dir).select(col("source"), col("text"))
        .as[(String, String)]
        .flatMap { case (src, t) => shingleSet(t).map(g => (src, g)) }
        .toDF("source", "g")
        .select(col("source"), md5(col("g")).as("dg"))
        .groupBy("dg").agg(collect_set(col("source")).as("ss")))
    val counts = byDg.select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    val shared = byDg.filter(size(col("ss")) > 1)
      .select(explode(col("ss")).as("src_a"), col("ss"))
      .select(col("src_a"), explode(col("ss")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    val a = counts.select(col("source").as("src_a"), col("n").as("n_a"))
    val b = counts.select(col("source").as("src_b"), col("n").as("n_b"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_shared"), lit(0L)))
            .cast("double")).as("jaccard"))
  }

  /** dedup_recall — the banding-recall harness for the MinHash tier, the
    * dedup-family analog of ann_recall: ground truth is the recall-1
    * prefix-filter pair set ([[jaccard3]]'s pairs, counted per group pair
    * by [[lshTuneOf]] — same shingle semantics as [[minhash]], candidate
    * generation provably complete), and each
    * true pair is checked against the pairs the LSH tier actually
    * returned. Reported per similarity decile — the empirical S-curve
    * ((16 bands × 4 rows) ⇒ P[caught] = 1−(1−j⁴)¹⁶) every LSH deployment
    * validates before trusting a (bands, rows) choice at a threshold.
    *
    * Determinism: deciles are INTEGER arithmetic, (10·|A∩B|) div |A∪B| —
    * never floor(10·j) on the IEEE quotient, which disagrees with the
    * integer rank at exact boundaries (j = 7/10 rounds DOWN as a double:
    * floor(10·(7/10.0)) = 6). Counts are exact BIGINTs; recall is the one
    * terminal division. The LSH side is itself deterministic (seeded
    * hashes, capped buckets), so the oracle replays BOTH sides and the
    * gate checks the harness end-to-end, banding probabilities included.
    *
    * 100 TB plan: both pair generators are the library's own scale paths
    * (prefix-filter join and banded LSH — no all-pairs stage anywhere;
    * the all-pairs formulation exists only in the DuckDB oracle); the
    * harness adds one pair-table join against the shingle sets (pair
    * count-sized, tiny vs the corpus) plus a broadcast-sized left join of
    * LSH pairs onto true pairs, then collapses to ≤6 decile rows via a
    * map-side-combined aggregate. In production this runs on a document
    * SAMPLE after every banding-parameter change — `sampleMod = Some(m)`
    * IS that mode: the deterministic 1/m hash filter ([[maybeSample]])
    * lands directly on every scan of the harness (both pair generators
    * and the shingle-set join side see the same sampled corpus, before
    * any shingling work), so the sampled harness is this exact plan with
    * the filter in the scan stage. The registered query keeps the
    * full-corpus default (the fixture IS the sample there).
    */
  def dedupRecall(s: SparkSession, dir: String, threshold: Double = 0.5,
      sampleMod: Option[Int] = None): DataFrame =
    // round 12 (100× probe): the harness IS [[lshTune]] evaluated at the
    // production ([[Bands]], [[RowsPerBand]]) config — a true pair is
    // caught iff it was an LSH CANDIDATE (exact verification never drops a
    // true pair), so candidate-collision counting and verified-pair
    // counting coincide on the truth set, and the group-level arithmetic
    // (deciles once per group pair, C(n,2) within-group mass, survivor-
    // gated cap semantics) replaces the doc-level pair join that re-ran
    // array intersections over the quadratic edge output (73 s → ~8 s at
    // sf10). The DuckDB oracle still replays BOTH sides at doc level.
    lshTune(s, dir, threshold, Seq((Bands, RowsPerBand)), sampleMod)
      .select("j_decile", "n_true", "n_caught", "recall")
}
