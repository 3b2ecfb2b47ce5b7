package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Similarity search over the `embeddings` table (`embedding: array<float>`).
  *
  * Two paths, same scoring:
  *   - [[bruteTopK]]: exact top-k by cosine — the small-query-set baseline.
  *     The query side is a broadcast (a handful of vectors), the corpus side
  *     is one scan; per-query ranking is a windowed top-k. No corpus×corpus
  *     cartesian ever.
  *   - [[lshTopK]]: random-hyperplane LSH — corpus is bucketed by a sign
  *     pattern; queries probe their own bucket plus all Hamming-1 neighbors
  *     (multiprobe), so at 100 TB each query touches ~ (1+nbits)/2^nbits of
  *     the corpus instead of all of it. Recall vs brute is asserted in tests.
  *
  * Scoring is done in double precision with a sequential fold (functions.
  * aggregate over zip_with), deterministic across partitionings.
  */
object Ann {

  import graft.functions.GraftFunctions.arrayDot

  /** Cosine similarity of two array<double> columns, on the codegen'd
    * [[graft.functions.GraftFunctions.arrayDot]] kernel (the higher-order
    * `aggregate(zip_with(...))` formulation interprets lambdas per element —
    * measured several times slower at bench scale). Sequential ascending-
    * index summation on every path: bit-deterministic.
    */
  def cosine(a: Column, b: Column): Column =
    arrayDot(a, b) / (sqrt(arrayDot(a, a)) * sqrt(arrayDot(b, b)))

  /** Corpus with vectors cast to double and the L2 norm computed ONCE per
    * vector (scoring then costs one dot per pair, not three).
    */
  private[graft] def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      .withColumn("nrm", sqrt(arrayDot(col("vec"), col("vec"))))

  /** ann_brute — exact cosine top-k for the query vectors (vec_id < nQueries)
    * against the whole corpus. Query side broadcast; one corpus scan. Output
    * is rank-only (no float score column) so the oracle compare is immune to
    * bit-level summation-order differences — ranks agree as long as no two
    * corpus scores tie within float ULPs, which tests assert.
    */
  def bruteTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("score", arrayDot(col("qvec"), col("vec")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** hard_negatives — contrastive-training negative mining: for each
    * held-out query vector, the top-k most-similar corpus vectors whose
    * LABEL differs from the query's — the "hard negatives" an embedding
    * trainer pairs with each anchor/positive (random negatives are too
    * easy; the gradient signal lives in the near-misses). Same shape as
    * [[bruteTopK]] with the label-mismatch predicate pushed into the
    * broadcast join (negatives filtered BEFORE scoring, so the window
    * ranks only eligible rows), and rank-only output (ann_brute's float
    * discipline: ranks are immune to summation-order bit differences).
    *
    * 100 TB: query side is an nQueries-row broadcast with one corpus scan;
    * WindowGroupLimit pushes the per-query top-k below the exchange like
    * bruteTopK. In production the scorer swaps to the IVFPQ candidate set
    * (the [[annRecall]]-gated tier) with the same label filter — join +
    * rank shape identical, only the neighbor source changes.
    */
  def hardNegatives(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10): DataFrame = {
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), col("label").as("qlabel"))
    val scored = c.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .withColumn("score",
        arrayDot(col("qvec"), col("vec")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("qlabel"),
        col("vec_id").as("neighbor_id"), col("label").as("neg_label"),
        col("rank"))
  }

  /** knn_label_vote — the standard embedding-quality probe: per query
    * vector, the majority label among its exact top-k cosine neighbors
    * (vote ties break to the smaller label — a total order, so the
    * prediction is data-deterministic), next to the query's own label and
    * a 0/1 agreement flag. High kNN label agreement is the usual "are
    * these embeddings any good" gate a training-data pipeline runs before
    * spending on a model; built on [[bruteTopK]] so rank determinism is
    * inherited from ann_brute's tie assertions. At scale the same vote
    * runs over the IVFPQ candidate set instead of the brute pass — the
    * join + vote shape is identical, only the neighbor source changes.
    */
  def knnLabelVote(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10): DataFrame = {
    val labels = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val votes = bruteTopK(s, dir, nQueries, k)
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("label").asc)
    // true labels for the QUERY rows only — nQueries rows, the side that
    // stays broadcastable at any corpus size (broadcasting the full label
    // table would invert the size relationship at scale)
    val queryLabels = labels.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"))
    votes
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("n_votes"))
      .join(broadcast(queryLabels), "query_id")
      .select(col("query_id"), col("pred_label"), col("n_votes"),
        col("true_label"),
        (col("pred_label") === col("true_label")).cast("bigint").as("correct"))
  }

  /** Target corpus vectors per LSH bucket. The hyperplane count adapts to
    * corpus size so occupancy stays near this at any scale: 500 fixture
    * vectors → 4 bits / 16 buckets; 10^9 vectors at 100 TB → ~25 bits. A
    * fixed bit count would leave buckets empty at small n and overfull at
    * large n.
    */
  val TargetBucket = 32

  /** nbits for a corpus of n vectors (capped at 30 — beyond that, multiprobe
    * fan-out dominates; at that scale, shard the corpus first).
    */
  def nbitsFor(n: Long): Int =
    math.min(30, math.max(4, math.ceil(math.log(math.max(1.0, n.toDouble / TargetBucket)) / math.log(2)).toInt))

  /** Deterministic pseudo-random hyperplanes via splitmix64 — reproducible
    * across sessions with no RNG state (Date/Math.random-free by design).
    */
  def hyperplanes(dim: Int, nbits: Int, seed: Long = 42L): Array[Array[Double]] = {
    var state = seed
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.fill(nbits, dim)(next().toDouble / Long.MaxValue.toDouble)
  }

  /** Sign-pattern bucket id of a vector column against the hyperplanes. */
  def bucketCol(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = arrayDot(vec, typedLit(p.toSeq))
      when(dot >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** ann_lsh — bucketed ANN: corpus hashed once to buckets; each query probes
    * its bucket + Hamming-1 neighbors; cosine + top-k within the probed set.
    */
  def lshTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val dim = 64 // embeddings fixture dimension (TESTDATA.md)
    // cache the corpus ONCE: the nbits-sizing count, the corpus join side and
    // the query-probe side all reuse the same materialization (previously
    // each was a fresh full scan + norm recompute). Transient: released by
    // the harness after the consuming action (graft.TransientCache contract).
    val base = graft.TransientCache.cache(corpus(s, dir))
    val nbits = nbitsFor(base.count())
    val planes = hyperplanes(dim, nbits)
    val c = base.withColumn("bucket", bucketCol(col("vec"), planes))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), col("bucket").as("qb"))
      // multiprobe: own bucket + flip each single bit
      .withColumn("bucket", explode(array(
        col("qb") +: (0 until nbits).map(b => col("qb").bitwiseXOR(shiftleft(lit(1L), b))): _*)))
      .select("query_id", "qvec", "qnrm", "bucket")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", arrayDot(col("qvec"), col("vec")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("score"), 4).as("score4"))
  }

  /** Training-sample cap for IVF centroid fitting. FAISS-style: centroids
    * are fit on a bounded deterministic sample (hash-ordered top-N — a
    * single TakeOrdered pass, no full sort), so the fit costs the same at
    * 2 k vectors and at 10^9 — the full corpus is never iterated by the
    * clustering loop.
    */
  val IvfTrainCap = 16384

  /** Seeded Lloyd k-means over a driver-local sample: deterministic splitmix
    * init, `iters` assignment/recompute rounds, empty cells keep their seed.
    * At IvfTrainCap×64 dims×10 iters this is ~10^8 flops — milliseconds on
    * the driver, ZERO Spark jobs (MLlib's KMeans spends more time scheduling
    * its per-iteration jobs than this takes in total).
    */
  private[operators] def fitCentroids(
      train: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(train.length >= k, s"need >= $k training vectors, got ${train.length}")
    val dim = train(0).length
    var state = 42L
    def nextLong(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // init from k DISTINCT sample indices
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (seen.size < k)
      seen += (((nextLong() % train.length) + train.length) % train.length).toInt
    val centroids = seen.iterator.map(train(_).clone()).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      train.foreach { v =>
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centroids(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
    }
    centroids
  }

  /** Nearest-centroid cell id of a vector column, fully codegen'd: euclidean
    * argmin via ‖v‖² − 2·v·c + ‖c‖² (the ‖v‖² term is constant per row, so
    * only the dot against each centroid is evaluated), ties to the lowest
    * cell id via struct array_min.
    */
  private[operators] def cellCol(vec: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (ct, i) =>
      val c2 = ct.map(x => x * x).sum
      struct(
        (lit(c2) - lit(2.0) * arrayDot(vec, typedLit(ct.toSeq))).as("d"),
        lit(i).as("cell"))
    }
    array_min(array(scored: _*)).getField("cell")
  }

  /** ann_ivf — IVF (inverted-file) ANN, the clustering-based scale path next
    * to the hyperplane-LSH one: k-means cells partition the corpus; each
    * query scores only the `nProbe` cells whose centroids are nearest, so at
    * 100 TB a query touches ~nProbe/nCells of the corpus with better cell
    * balance than random hyperplanes give. Centroids are fit on a bounded
    * deterministic sample ([[fitCentroids]]); centroid probing is a
    * broadcast of an nCells-row table.
    */
  def ivfTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 10,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    // cached (as lshTopK does): consumed by the train sample, the probe
    // side and the scoring join — without it the scan+norm runs three times
    val c = graft.TransientCache.cache(corpus(s, dir))
    val train = c.orderBy(xxhash64(col("vec_id"))).limit(IvfTrainCap)
      .select("vec").collect().map(_.getSeq[Double](0).toArray)
    val cents = fitCentroids(train, nCells, iters = 10)
    // Cell assignment on the TYPED tier (broadcast centroids, the
    // [[nearestExpanded]] JVM loop — identical expanded-form arithmetic to
    // [[cellCol]], the parity the PQ/IVFPQ oracles already rest on). Round
    // 14 measurement (ProbeIvf, sf10): the codegen'd 16-struct cellCol IS
    // fine in an aggregate stage, but fused into the top-k WINDOW stage the
    // generated method crosses the JVM's huge-method JIT limit and the
    // whole stage runs in the BYTECODE INTERPRETER — 26.3 s for a 400 k-row
    // window vs 1.3 s with codegen off; the typed pass makes the window
    // stage's generated code small again (measured 25.8 → ~4 s at sf10).
    // This moves the pqTopK boundary note: literal-heavy argmins stay out
    // of WINDOW stages at ANY struct count, not just past 128.
    val csqA = cents.map(ct => ct.map(x => x * x).sum)
    val bcCents = s.sparkContext.broadcast((cents, csqA))
    import s.implicits._
    val assigned = c.select(col("vec_id"), col("vec"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        val (ct, cq) = bcCents.value
        it.map { case (id, v, nrm) =>
          (id, v, nrm, nearestExpanded(v.toArray, ct, cq))
        }
      }.toDF("vec_id", "vec", "nrm", "cell")
    // tiny centroid table: (cell, centroid array<double>)
    val centroids = s.createDataFrame(
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
      .toDF("cell", "centroid")
    // per query: nProbe nearest cells by centroid distance (cosine).
    // Derived from the cached corpus, NOT from `assigned` — the query side
    // never reads its own cell, and a mapPartitions pass (unlike a
    // projection) would block the vec_id pushdown into the cache scan.
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("cdist").asc, col("cell").asc)
    val probed = q.join(broadcast(centroids))
      .withColumn("cdist", -arrayDot(col("qvec"), col("centroid")) /
        (col("qnrm") * sqrt(arrayDot(col("centroid"), col("centroid")))))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nProbe)
      .select("query_id", "qvec", "qnrm", "cell")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", arrayDot(col("qvec"), col("vec")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** Output dimensionality of [[jlProject]] (fixture embeddings are 64-d). */
  val JlDim = 16

  /** Hyperplane seed for [[jlProject]] — distinct from the LSH/near-dup
    * seeds (42, 42+t) so the projection basis is independent of bucketing.
    */
  val JlSeed = 7L

  /** jl_project — Johnson–Lindenstrauss random projection: every embedding
    * is mapped from 64 to [[JlDim]] dimensions by dotting it with
    * [[JlDim]] splitmix64-seeded random hyperplanes (the same deterministic
    * plane stream [[lshTopK]] signs, used here at full precision). The
    * dimensionality-reduction stage that precedes clustering / coarse ANN
    * in an embedding pipeline: JL preserves pairwise distances within
    * 1±ε with high probability while cutting vector bytes 4×.
    *
    * Output is (vec_id, j, proj) rows — the projected coordinate per output
    * dimension — so the gate compares top-level doubles (each an ordered
    * IEEE dot product, bit-replayed by the DuckDB oracle like the LSH dots).
    *
    * 100 TB plan: the projection matrix is a plan literal (16×64 doubles —
    * kilobytes, shipped with the task closure), the dots are codegen'd
    * [[graft.functions.GraftFunctions.arrayDot]] kernels, and the whole
    * operator is one scan with NO shuffle — it scales with read bandwidth.
    */
  def jlProject(s: SparkSession, dir: String,
      outDim: Int = JlDim, seed: Long = JlSeed): DataFrame = {
    val planes = hyperplanes(64, outDim, seed)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("vec"))
      .select(col("vec_id"),
        posexplode(array(planes.map(p =>
          arrayDot(col("vec"), typedLit(p.toSeq))): _*)).as(Seq("j", "proj")))
  }

  /** semdedup — cluster-scoped semantic deduplication (the SemDeDup recipe:
    * k-means the embedding space, then drop near-duplicate members WITHIN
    * each cluster). Complements [[embedNearDup]]: LSH tables answer "find me
    * the near-dup PAIRS"; this answers the curation question "which docs
    * survive" with a clustering that also bounds the pairing scope. Reuses
    * the IVF machinery verbatim — the same capped-sample [[fitCentroids]]
    * fit and the same codegen'd nearest-centroid assignment — so one
    * clustering can serve both ANN probing and semantic dedup in a real
    * pipeline.
    *
    * Drop rule (deterministic, order-free): a doc is dropped iff SOME
    * lower-id doc in its cell has cosine ≥ threshold with it. This is the
    * one-pass approximation of SemDeDup's keep-one-per-ε-ball: independent
    * per-pair decisions, no greedy chain, so the answer is a pure function
    * of the data — identical under any partitioning, and replayable by the
    * oracle. Every doc appears in the output with its cell and keep flag.
    *
    * 100 TB plan: one scan to assign cells (centroid table is a plan
    * literal), one shuffle on `cell` for the within-cell self-join. The
    * pairing is quadratic in CELL size, not corpus size — production runs
    * raise nCells with the corpus (cells of ~10³ docs each, the SemDeDup
    * paper's regime) so per-cell work stays constant while cells
    * parallelize; AQE's skew split handles an imbalanced cell. The
    * threshold default matches the registered dedup_embed threshold (the
    * fixture plants no >0.9-cosine twins).
    */
  def semDedup(s: SparkSession, dir: String, nCells: Int = 16,
      threshold: Double = 0.4): DataFrame = {
    // the identical-vector collapse's member-level keep rule reconstructs
    // doc-level semantics only when ident_cos (exactly 1 for normalized
    // replicas) clears the threshold — enforce the precondition
    require(threshold <= 1.0, s"cosine threshold must be <= 1.0, got $threshold")
    // cached: consumed by the train sample and the identity grouping
    val c = graft.TransientCache.cache(corpus(s, dir))
    val train = c.orderBy(xxhash64(col("vec_id"))).limit(IvfTrainCap)
      .select("vec").collect().map(_.getSeq[Double](0).toArray)
    val cents = fitCentroids(train, nCells, iters = 10)
    // identical-vector collapse (round 12, the dedup_minhash 100×-probe
    // finding): replicas share their cell AND every pairwise cosine, so
    // the within-cell pairing runs over UNIQUE vectors. The drop rule is
    // reconstructed exactly at member level: a group's non-min members are
    // dropped by their own min-id twin whenever cos(v, v) ≥ threshold (the
    // practical regime — τ ≤ 1), and a group's min is dropped iff some
    // cell-mate group with a SMALLER min (i.e. some lower-id doc) clears
    // the threshold — the same pure per-pair semantics, bit-identical to
    // the doc-level oracle replay.
    val gset = graft.TransientCache.cache(
      c.groupBy(col("vec")).agg(
        min(col("vec_id")).as("gid"),
        collect_list(col("vec_id")).as("ids"),
        first(col("nrm")).as("nrm"),
        count(lit(1)).as("n"))
        .withColumn("cell", cellCol(col("vec"), cents))
        .withColumn("ident_cos",
          arrayDot(col("vec"), col("vec")) / (col("nrm") * col("nrm"))))
    val lo = gset.select(col("cell"), col("gid").as("gidA"),
      col("vec").as("v1"), col("nrm").as("nrm1"))
    val hi = gset.select(col("cell"), col("gid").as("gidB"),
      col("vec").as("v2"), col("nrm").as("nrm2"))
    val repDropped = lo.join(hi, Seq("cell"))
      .filter(col("gidA") < col("gidB"))
      .withColumn("cos", arrayDot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")))
      .filter(col("cos") >= threshold)
      .select(col("gidB").as("gid"))
      .distinct()
      .withColumn("rep_dropped", lit(true))
    gset.join(repDropped, Seq("gid"), "left")
      .select(col("gid"), col("cell"), col("ident_cos"),
        coalesce(col("rep_dropped"), lit(false)).as("rdrop"),
        explode(col("ids")).as("vec_id"))
      .select(col("vec_id"), col("cell"),
        when(col("vec_id") === col("gid"), !col("rdrop"))
          .otherwise(!(col("ident_cos") >= threshold) && !col("rdrop"))
          .as("keep"))
  }

  /** Independent hash tables for [[embedNearDup]] — the hyperplane analog of
    * MinHash LSH's OR-over-bands: a pair is a candidate if it collides in ANY
    * table, so recall at cosine c is 1−(1−p^nbits)^nTables with p = 1−θ/π.
    * One table missed ~80% of 0.5-cosine pairs on the fixture; 8 tables
    * recover ~¾ of them at that difficulty and ≈1.0 at real near-dup
    * similarity (c ≥ 0.9).
    */
  val EmbedTables = 8

  /** dedup_embed — embedding-cosine near-duplicate pairs. Candidate
    * generation is a bucketed equi-join over [[EmbedTables]] independent
    * random-hyperplane tables (OR semantics, the banding analog of
    * `Dedup.minhash`); verification re-joins the vectors and keeps exact
    * cosine ≥ threshold, so precision is exact and only recall is
    * probabilistic. 100 TB shape: the table fan-out ships (table, bucket,
    * id) triples — never the vectors, which join back only for the
    * candidate set — and a hot-bucket cap (same [[graft.operators.Dedup
    * .MaxBucket]] guard as every other candidate generator) keeps a
    * degenerate bucket (e.g. all-zero embeddings) from going quadratic.
    */
  def embedNearDup(s: SparkSession, dir: String, threshold: Double = 0.98,
      nTables: Int = EmbedTables, maxBucket: Int = Dedup.MaxBucket): DataFrame = {
    val base = graft.TransientCache.cache(corpus(s, dir))
    val nbits = nbitsFor(base.count())
    // identical-vector collapse (round 12, the dedup_minhash 100×-probe
    // finding — replica-deep corpora put every twin in the same bucket of
    // every table and pairing went quadratic in replica depth): one
    // representative vector rides the hyperplane fan-out and verification,
    // members expand at the end. Doc-level cap semantics preserved exactly
    // (bucket sizes = summed group sizes; within-group pairs — cosine of a
    // vector with itself, the same expression the oracle evaluates — emit
    // only if the group survives ≥ 1 under-cap bucket), so the unchanged
    // doc-level replay stays pair-for-pair green.
    val gset = graft.TransientCache.cache(
      base.groupBy(col("vec")).agg(
        min(col("vec_id")).as("gid"),
        collect_list(col("vec_id")).as("ids"),
        first(col("nrm")).as("nrm"),
        count(lit(1)).as("n")))
    val tagged = (0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        bucketCol(col("vec"), hyperplanes(64, nbits, seed = 42L + t)).as("bucket"))
    }
    val banded = gset.select(col("gid"), col("n"),
      explode(array(tagged: _*)).as("tb"))
      .select(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"),
        col("gid"), col("n"))
    // one aggregation replaces the window count + self-join (round 16 —
    // Dedup.cappedBuckets scaladoc has the cap-equivalence argument)
    val buckets = Dedup.cappedBuckets(banded, Seq("tbl", "bucket"), maxBucket)
    val cand = Dedup.bucketPairs(buckets)
    val sets = gset.select(col("gid"), col("vec"), col("nrm"), col("ids"))
    val cross = cand
      .join(sets.select(col("gid").as("g1"), col("vec").as("v1"),
        col("nrm").as("nrm1"), col("ids").as("ids1")), "g1")
      .join(sets.select(col("gid").as("g2"), col("vec").as("v2"),
        col("nrm").as("nrm2"), col("ids").as("ids2")), "g2")
      .withColumn("cos", arrayDot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")))
      .filter(col("cos") >= threshold)
      .select(col("cos"), explode(col("ids1")).as("a"), col("ids2"))
      .select(col("cos"), col("a"), explode(col("ids2")).as("b"))
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"), round(col("cos"), 4).as("cos4"))
    val survivors = buckets.select(explode(col("gids")).as("gid")).distinct()
    val within = gset.join(survivors, "gid")
      .filter(col("n") > 1)
      .withColumn("cos", arrayDot(col("vec"), col("vec")) / (col("nrm") * col("nrm")))
      .filter(col("cos") >= threshold)
      .select(col("cos"), explode(col("ids")).as("a"), col("ids"))
      .select(col("cos"), col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("id1"), col("b").as("id2"), round(col("cos"), 4).as("cos4"))
    cross.unionByName(within)
  }

  /** Semantic-decontamination threshold: a corpus vector whose max cosine
    * against any benchmark vector reaches this is flagged (0.35 sits inside
    * the fixture's max-cos spread of ~0.01–0.45, so both outcomes occur at
    * the gate — the dedup_embed vacuity lesson).
    */
  val DecontamCos = 0.35

  /** decontam_embed — SEMANTIC benchmark decontamination: flag corpus
    * vectors whose embedding is too close (cosine) to any held-out
    * benchmark vector. The embedding-space sibling of `Curation.decontam`
    * (n-gram overlap): paraphrased or translated test-set leakage shares no
    * 3-grams but lands next to the benchmark in embedding space, which is
    * why production decontamination runs BOTH. Benchmark membership is the
    * same every-`benchmarkMod`-th stand-in as the n-gram side, so the two
    * operators describe one corpus consistently.
    *
    * Output per non-benchmark vector: the max benchmark cosine (rounded to
    * 4 dp like dedup_embed's score column) and the flag.
    *
    * 100 TB plan: the benchmark side is eval-set-sized — it BROADCASTS, the
    * corpus streams through one scan scoring each row against the resident
    * benchmark matrix (deliberately a broadcast product, ~|benchmark| dots
    * per row; LSH pre-bucketing would only prune the scoring, and unlike
    * dedup_embed the right side here is bounded by construction). The
    * per-vector max partial-aggregates, so the exchange carries one row per
    * corpus vector. `max` over IEEE doubles is order-free: the gate compare
    * is exact, with the ordered `arrayDot` fold replayed in the oracle.
    */
  def decontamEmbed(s: SparkSession, dir: String,
      benchmarkMod: Int = Curation.BenchmarkMod,
      threshold: Double = DecontamCos): DataFrame = {
    val base = graft.TransientCache.cache(corpus(s, dir))
    val bench = base.filter(col("vec_id") % benchmarkMod === 0)
      .select(col("vec").as("bvec"), col("nrm").as("bnrm"))
    base.filter(col("vec_id") % benchmarkMod =!= 0)
      .crossJoin(broadcast(bench))
      .withColumn("cos",
        arrayDot(col("vec"), col("bvec")) / (col("nrm") * col("bnrm")))
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_cos"))
      .select(col("vec_id"), round(col("max_cos"), 4).as("max_cos4"),
        (col("max_cos") >= threshold).as("contaminated"))
  }

  /** Product-quantization geometry for [[pqTopK]]: [[PqM]] subspaces of
    * dim/[[PqM]] components each, [[PqK]] centroids per subspace — 4-bit
    * codes, so a 64-d float vector (256 B) compresses to [[PqM]] codes
    * (8 B when bit-packed): the 32× footprint cut that lets a 100 TB
    * embedding corpus keep its ANN index in cluster memory.
    */
  val PqM = 8
  val PqK = 16

  /** ann_pq — product quantization with asymmetric distance computation
    * (ADC), the third ANN scale path next to hyperplane LSH (bucketing) and
    * IVF (cell pruning): instead of pruning WHICH vectors a query scores,
    * PQ compresses EVERY vector so scoring all of them is cheap.
    *
    *   - Train: each subspace gets its own [[PqK]]-centroid codebook, fit
    *     with the same capped-deterministic-sample [[fitCentroids]] loop IVF
    *     uses (driver-side, zero Spark jobs, cost independent of corpus
    *     size).
    *   - Encode: one shuffle-free scan; per subspace the nearest
    *     sub-centroid id on the typed tier ([[nearestExpanded]] over
    *     broadcast codebooks — see the in-body note for the measured
    *     codegen-size rationale). The corpus ships onward as
    *     (vec_id, array<int> codes) — never the floats.
    *   - Query (ADC): the (bounded, [[bruteTopK]]-sized) query set collects
    *     to the driver; each query's per-subspace distance table to all
    *     [[PqK]] sub-centroids is precomputed and broadcast as a
    *     [[PqM]]×[[PqK]] array literal. A corpus row's approximate squared
    *     L2 distance is then [[PqM]] array lookups + adds — fully codegen'd
    *     `GetArrayItem`/`element_at`, no per-row dot products at all.
    *
    * Top-k per query by (approx distance asc, vec_id asc) — deterministic:
    * the ADC sum folds subspaces in a fixed order, so the doubles are
    * bit-stable under any partitioning. Like ann_lsh/ann_ivf the ranking is
    * approximate by design (no ANSI oracle); AnnSpec asserts planted
    * near-identical pairs retrieve at rank 1 and recall overlap vs the
    * exact-L2 ranking.
    *
    * 100 TB plan: codebooks and ADC tables are plan literals (kilobytes);
    * the encode is one shuffle-free scan; the scoring joins the 8-row query
    * table by broadcast and partial-aggregates the per-query top-k under a
    * window — the corpus is scanned once however many queries ride along.
    */
  def pqTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 10,
      m: Int = PqM, ksub: Int = PqK): DataFrame = {
    val dim = 64 // embeddings fixture dimension (TESTDATA.md)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // cached: the train sample, the query collect and the encode all read it
    val c = graft.TransientCache.cache(corpus(s, dir))
    val train = c.orderBy(xxhash64(col("vec_id"))).limit(IvfTrainCap)
      .select("vec").collect().map(_.getSeq[Double](0).toArray)
    val books: Array[Array[Array[Double]]] = Array.tabulate(m)(mi =>
      fitCentroids(train.map(_.slice(mi * sub, (mi + 1) * sub)), ksub, iters = 10))
    val bsq = books.map(_.map(ct => ct.map(x => x * x).sum))
    // encode on the TYPED tier (broadcast codebooks, tight JVM loop). The
    // first formulation was the codegen'd [[cellCol]] argmin per subspace —
    // correct, but m×ksub = 128 literal-dot structs per row blow past
    // JIT-friendly generated-method size and the projection runs
    // INTERPRETED: measured ~220 µs/row at the bench (0.44 s for 2 k rows,
    // recurring) — a genuine 100 TB flaw, not a fixed cost. The typed pass
    // is sub-µs/row and keeps the identical expanded-form arithmetic
    // ([[nearestExpanded]]), so the DuckDB replay is unchanged. ann_ivf's
    // 16-struct argmin stays codegen'd — that size fuses fine; this is the
    // measured boundary between the two tiers.
    val bcBooks = s.sparkContext.broadcast((books, bsq))
    import s.implicits._
    val encoded = c.select(col("vec_id"), col("vec")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val (bk, bq) = bcBooks.value
        // subspace width from the codebooks themselves (a centroid IS one
        // subspace slice), not a re-derivation that could drift from `sub`
        val nsub = bk(0)(0).length
        it.map { case (id, vseq) =>
          val v = vseq.toArray
          val codes = Array.tabulate(bk.length) { mi =>
            val sl = java.util.Arrays.copyOfRange(v, mi * nsub, (mi + 1) * nsub)
            nearestExpanded(sl, bk(mi), bq(mi))
          }
          (id, codes)
        }
      }.toDF("vec_id", "codes")
    // bounded query-side collect (the IVF-train idiom): nQueries exact vectors
    val qs = c.filter(col("vec_id") < nQueries).select("vec_id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // ADC tables: per query, per subspace, squared L2 to each sub-centroid
    val qTab = s.createDataFrame(qs.map { case (qid, qv) =>
      (qid, (0 until m).map { mi =>
        books(mi).map { ct =>
          var d = 0.0; var i = 0
          while (i < sub) { val t = qv(mi * sub + i) - ct(i); d += t * t; i += 1 }
          d
        }.toSeq
      })
    }.toSeq).toDF("query_id", "tbl")
    val adist = (0 until m).map(mi =>
      element_at(col("tbl")(mi), col("codes")(mi) + 1)).reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    encoded.crossJoin(broadcast(qTab))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** Ascending-index dot product — the JVM twin of the codegen'd
    * [[graft.functions.GraftFunctions.arrayDot]] kernel (multiply-then-add
    * per index from 0.0, the same IEEE operation sequence), so typed-tier
    * arithmetic stays bit-compatible with the expression-tier and with the
    * DuckDB replays.
    */
  private[graft] def dotAsc(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  /** Nearest centroid by the EXPANDED squared-L2 form c² − 2·v·c (the same
    * algebra [[cellCol]] generates; the ‖v‖² term is constant per row so it
    * never affects the argmin), ties to the lowest id — `<` keeps the first
    * strictly-smaller candidate, which is min-by-(d, id) exactly like the
    * SQL replays' `min(struct_pack(d, c))`.
    */
  private def nearestExpanded(
      v: Array[Double], cents: Array[Array[Double]], csq: Array[Double]): Int = {
    var best = 0; var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = csq(c) - 2.0 * dotAsc(v, cents(c))
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** ann_ivfpq — the composed production index (FAISS's IVFPQ): an IVF
    * coarse quantizer prunes WHICH cells a query scores, and PQ codes over
    * the cell RESIDUALS (v − cell centroid) make scoring the survivors
    * cheap. Residual quantization is what makes the composition better than
    * either part alone: residuals concentrate near the origin, so the same
    * [[PqK]]-centroid subspace codebooks spend their resolution on the
    * within-cell structure instead of re-encoding the cell offset.
    *
    *   - Coarse: [[fitCentroids]] on the capped sample (byte-shared with
    *     ann_ivf's training); assignment everywhere by the expanded
    *     c² − 2·v·c argmin ([[nearestExpanded]]).
    *   - Residual codebooks: per subspace, [[fitCentroids]] over the
    *     sample's residual slices.
    *   - Encode: a TYPED per-partition pass over broadcast codebooks — at
    *     nCells×m×ksub combined centroids, a literal-expression argmin
    *     would blow past JIT/codegen method limits, so this is the tier
    *     where `mapPartitions` beats an `Expression` (the documented
    *     preference order, applied by measurement). The corpus ships
    *     onward as (vec_id, cell, m byte-sized codes).
    *   - Query (ADC): per query, the [[nearestExpanded]]-ordered nProbe
    *     cells; per probed cell the query residual's [[PqM]]×[[PqK]]
    *     distance table, broadcast; approximate distance is m lookups +
    *     adds, codegen'd, joined to the encoded corpus BY CELL — a query
    *     only ever touches its probed cells' codes.
    *
    * 100 TB plan: coarse+residual training is driver-side on the capped
    * sample (zero Spark jobs); the encode is one shuffle-free scan emitting
    * ~9 bytes of codes per vector (the index that FITS in memory); scoring
    * is a broadcast join on `cell` — the corpus is scanned once, and only
    * probed cells do lookup work. Deterministic end-to-end (fixed-order
    * folds, tie-to-lowest), so the full pipeline carries a DuckDB oracle
    * like ann_ivf/ann_pq.
    */
  def ivfPqTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 10,
      nCells: Int = 16, nProbe: Int = 4, m: Int = PqM, ksub: Int = PqK): DataFrame = {
    val (_, cand) = ivfPqCandidates(s, dir, nQueries, nCells, nProbe, m, ksub)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    cand
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** Default short-list size for [[ivfPqRefinedTopK]]'s exact re-rank. */
  val PqRerank = 40

  /** ann_ivfpq_refined — the two-stage production retrieval shape: the
    * IVFPQ ADC pass produces a cheap [[PqRerank]]-deep short-list per
    * query, then EXACT squared-L2 re-ranks just those candidates (true
    * vectors join back only for queries×rerank rows — the "refine" knob
    * every FAISS deployment tunes). Recall recovers toward exact search
    * while the full corpus is still only ever touched through 9-byte
    * codes; the re-rank cost is independent of corpus size. Exact
    * distances expand as ‖q‖² − 2·q·v + ‖v‖² with ordered dots, so the
    * re-ranking replays bit-for-bit in the oracle like every other stage.
    */
  def ivfPqRefinedTopK(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10, rerank: Int = PqRerank,
      nCells: Int = 16, nProbe: Int = 4, m: Int = PqM, ksub: Int = PqK): DataFrame = {
    require(rerank >= k,
      s"rerank short-list ($rerank) must cover k ($k) or every query returns < k rows")
    val (c, cand) = ivfPqCandidates(s, dir, nQueries, nCells, nProbe, m, ksub)
    val wA = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    val short = cand
      .withColumn("adc_rank", row_number().over(wA))
      .filter(col("adc_rank") <= rerank)
      .select("query_id", "vec_id")
    val qv = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val exact = arrayDot(col("qvec"), col("qvec")) -
      lit(2.0) * arrayDot(col("qvec"), col("vec")) +
      arrayDot(col("vec"), col("vec"))
    val wE = Window.partitionBy("query_id")
      .orderBy(col("exact").asc, col("vec_id").asc)
    short.join(c.select(col("vec_id"), col("vec")), "vec_id")
      .join(broadcast(qv), "query_id")
      .withColumn("exact", exact)
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** Shared IVFPQ pipeline through the ADC-scored candidate set: returns
    * (cached corpus, candidates with an `adist` column). Both the plain
    * top-k and the refined re-rank consume it, so the two cannot drift.
    */
  private def ivfPqCandidates(s: SparkSession, dir: String, nQueries: Int,
      nCells: Int, nProbe: Int, m: Int, ksub: Int): (DataFrame, DataFrame) = {
    val (c, cents, books, encoded) = trainEncodeIvfPq(s, dir, nCells, m, ksub)
    (c, adcCandidates(s, c, encoded, cents, books, nQueries, nProbe))
  }

  /** IVFPQ train + encode: fits the coarse centroids and residual codebooks
    * on the capped deterministic sample, then encodes the whole corpus as
    * (vec_id, cell, codes) in one shuffle-free typed pass. Returns the
    * cached corpus, the driver-side codebook arrays, and the encoded frame —
    * everything an index CONSUMER needs, which is what makes the persisted
    * tier ([[persistIvfPqIndex]]) a pure serialization of this result.
    *
    * Built once per call, which is once per query: the codebooks are plain
    * driver-side values and the encoded corpus is one eager
    * [[graft.TransientCache.checkpoint]], so its consumers (the ADC
    * candidate joins, or the persisted index's `codes` table) read the
    * same rows. Training is deterministic (fixed-seed k-means over the
    * xxhash64-capped sample), so ann_ivfpq, ann_ivfpq_refined,
    * ann_ivfpq_persisted, hybrid_rrf_ivfpq and ann_recall all evaluate the
    * same index — exactly like a production deployment, where the recall
    * gate evaluates the index that shipped, it does not retrain one.
    */
  private def trainEncodeIvfPq(s: SparkSession, dir: String, nCells: Int,
      m: Int, ksub: Int)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    val dim = 64 // embeddings fixture dimension (TESTDATA.md)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val c = graft.TransientCache.cache(corpus(s, dir))
    val (cents, books) = {
      val train = c.orderBy(xxhash64(col("vec_id"))).limit(IvfTrainCap)
        .select("vec").collect().map(_.getSeq[Double](0).toArray)
      val cs = fitCentroids(train, nCells, iters = 10)
      val csq = cs.map(ct => ct.map(x => x * x).sum)
      // residual codebooks on the sample's residuals, one k-means per subspace
      val residTrain = train.map { v =>
        val cell = nearestExpanded(v, cs, csq)
        Array.tabulate(dim)(i => v(i) - cs(cell)(i))
      }
      val bks = Array.tabulate(m)(mi =>
        fitCentroids(residTrain.map(_.slice(mi * sub, (mi + 1) * sub)), ksub,
          iters = 10))
      (cs, bks)
    }
    val encoded = graft.TransientCache.checkpoint(encodeWith(c, cents, books))
    (c, cents, books, encoded)
  }

  /** Encode (vec_id, vec) rows against FIXED codebooks: nearest coarse cell
    * by expanded L2, then per-subspace residual code. One shuffle-free typed
    * pass over broadcast codebooks — shared by the initial build and the
    * append-without-retrain maintenance path, so the two encode identically
    * by construction.
    */
  private def encodeWith(vecs: DataFrame, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val s = vecs.sparkSession
    val csq = cents.map(ct => ct.map(x => x * x).sum)
    val bsq = books.map(_.map(ct => ct.map(x => x * x).sum))
    val bc = s.sparkContext.broadcast((cents, csq, books, bsq))
    import s.implicits._
    vecs.select(col("vec_id"), col("vec")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val (ct, cq, bk, bq) = bc.value
        val nsub = bk(0)(0).length // a residual codebook centroid IS one subspace slice
        it.map { case (id, vseq) =>
          val v = vseq.toArray
          val cell = nearestExpanded(v, ct, cq)
          val codes = Array.tabulate(bk.length) { mi =>
            val r = Array.tabulate(nsub)(i =>
              v(mi * nsub + i) - ct(cell)(mi * nsub + i))
            nearestExpanded(r, bk(mi), bq(mi))
          }
          (id, cell, codes)
        }
      }.toDF("vec_id", "cell", "codes")
  }

  /** Read the persisted codebook arrays back from an index directory —
    * (coarse centroids ordered by cell, residual codebooks ordered by
    * (subspace, code)). Parquet DOUBLE round-trips IEEE64 exactly, so the
    * arrays are the ones the build wrote, bit for bit.
    */
  private def readCodebooks(s: SparkSession, indexDir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cents = s.read.parquet(s"$indexDir/centroids").collect()
      .map(r => r.getAs[Int]("cell") ->
        r.getSeq[Double](r.fieldIndex("vec")).toArray)
      .sortBy(_._1).map(_._2)
    val bookRows = s.read.parquet(s"$indexDir/codebooks").collect()
      .map(r => (r.getAs[Int]("mi"), r.getAs[Int]("code"),
        r.getSeq[Double](r.fieldIndex("vec")).toArray))
    val books = bookRows.groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
    (cents, books)
  }

  /** Index MAINTENANCE without retraining: encode `newVecs` (vec_id, vec —
    * the [[corpus]] projection of a new embedding batch) against the
    * PERSISTED index's codebooks and append their code rows to its codes
    * table. This is how a production IVFPQ index absorbs a day's new
    * vectors — codebooks stay frozen (retraining is a scheduled rebuild,
    * not a per-batch cost), the append touches only the new rows, and
    * because [[encodeWith]] is shared with the build, an append-built index
    * is bit-identical to a full encode over the union with the same
    * codebooks (AnnSpec pins exactly that).
    *
    * The append is DEDUP-ON-WRITE: the encoded batch anti-joins the codes
    * table's existing vec_ids and the surviving novel rows are eagerly
    * materialized before the write (so the write never reads the directory
    * it appends to). A retried or accidentally re-run maintenance batch
    * therefore appends nothing — without the guard, duplicate (vec_id,
    * cell, codes) rows would silently inflate every subsequent query's ADC
    * candidate set. Same replay-idempotence discipline as the mrout
    * connector's epoch files and the digest store's union-back.
    *
    * The id-keyed dedup presumes vec_id is IMMUTABLE-CONTENT-KEYED (an id
    * is never resubmitted with a different embedding — the crawl-append
    * model). That presumption is ENFORCED, not assumed: any incoming row
    * whose vec_id exists with a DIFFERENT encoded (cell, codes) is an
    * UPDATE, which an append-only codes table cannot express — silently
    * dropping it would freeze the stale codes while queries keep serving
    * them. The guard fails loudly instead; updates go through a reindex
    * (or a delete+append maintenance pass), never through this path.
    */
  def appendToIvfPqIndex(s: SparkSession, newVecs: DataFrame,
      indexDir: String): Unit = {
    val (cents, books) = readCodebooks(s, indexDir)
    val existing = s.read.parquet(s"$indexDir/codes")
    val encoded = graft.TransientCache.checkpoint(
      encodeWith(newVecs, cents, books))
    val conflicts = encoded.alias("n")
      .join(existing.alias("o"), col("n.vec_id") === col("o.vec_id"))
      .filter(col("n.cell") =!= col("o.cell") ||
        col("n.codes") =!= col("o.codes"))
      .count()
    require(conflicts == 0L,
      s"appendToIvfPqIndex: $conflicts incoming vec_id(s) already exist " +
        "with different encoded codes — that is an UPDATE, which an " +
        "append-only codes table cannot express; reindex those ids instead")
    val novel = graft.TransientCache.checkpoint(
      encoded.join(existing.select("vec_id"), Seq("vec_id"), "left_anti"))
    novel.write.mode("append").parquet(s"$indexDir/codes")
  }

  /** The ADC query pass over an (already-built) IVFPQ index: per query the
    * [[nearestExpanded]]-ordered nProbe cells, per probed cell the query
    * residual's per-subspace distance table, broadcast and joined to the
    * encoded corpus BY CELL. Shared verbatim by the in-session pipeline and
    * the persisted-index consumer so the two cannot drift.
    */
  private def adcCandidates(s: SparkSession, c: DataFrame, encoded: DataFrame,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nQueries: Int, nProbe: Int): DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    val nCells = cents.length
    val csq = cents.map(ct => ct.map(x => x * x).sum)
    // bounded query side: nProbe cells per query by expanded coarse L2,
    // ADC table = the query residual's per-subspace distances to each code
    val qs = c.filter(col("vec_id") < nQueries).select("vec_id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qRows = qs.flatMap { case (qid, qv) =>
      val probed = (0 until nCells)
        .map(cell => (csq(cell) - 2.0 * dotAsc(qv, cents(cell)), cell))
        .sorted.take(nProbe).map(_._2)
      probed.map { cell =>
        val tbl = (0 until m).map { mi =>
          books(mi).map { bcent =>
            var d = 0.0; var i = 0
            while (i < sub) {
              val t = (qv(mi * sub + i) - cents(cell)(mi * sub + i)) - bcent(i)
              d += t * t; i += 1
            }
            d
          }.toSeq
        }
        (qid, cell, tbl)
      }
    }
    val qTab = s.createDataFrame(qRows.toSeq).toDF("query_id", "cell", "tbl")
    val adist = (0 until m).map(mi =>
      element_at(col("tbl")(mi), col("codes")(mi) + 1)).reduce(_ + _)
    encoded.join(broadcast(qTab), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", adist)
  }

  /** Builds the IVFPQ index for `dir`'s embedding corpus and persists its
    * three artifacts as parquet tables under `indexDir`:
    *   - `centroids`  (cell INT, vec ARRAY<DOUBLE>)    — nCells rows
    *   - `codebooks`  (mi INT, code INT, vec ARRAY<DOUBLE>) — m·ksub rows
    *   - `codes`      (vec_id BIGINT, cell INT, codes ARRAY<INT>) — one row
    *     per corpus vector, ~9 bytes of payload each
    * This is the production shape: the expensive parts (training on the
    * capped sample, the full-corpus encode scan) run ONCE at build time;
    * any number of later query batches read only the artifacts. Parquet
    * DOUBLE is an exact IEEE64 round-trip and the codes are plain ints, so
    * persistence is lossless by construction — the consumer's answers are
    * bit-identical to the in-session pipeline's ([[AnnSpec]] pins it).
    */
  def persistIvfPqIndex(s: SparkSession, dir: String, indexDir: String,
      nCells: Int = 16, m: Int = PqM, ksub: Int = PqK): Unit = {
    val (_, cents, books, encoded) = trainEncodeIvfPq(s, dir, nCells, m, ksub)
    import s.implicits._
    cents.zipWithIndex
      .map { case (v, cell) => (cell, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    books.zipWithIndex
      .flatMap { case (bk, mi) =>
        bk.zipWithIndex.map { case (v, code) => (mi, code, v.toSeq) }
      }.toSeq
      .toDF("mi", "code", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebooks")
    encoded.write.mode("overwrite").parquet(s"$indexDir/codes")
  }

  /** ann_ivfpq_persisted — the persisted-index retrieval path: top-k ADC
    * answers computed ENTIRELY from the parquet index artifacts written by
    * [[persistIvfPqIndex]] (read back fresh — the in-session training state
    * is not consulted). Registered with the SAME oracle as ann_ivfpq: the
    * round-trip through the index tables must change nothing, which is the
    * persistence contract. At 100 TB this split is what makes IVFPQ usable
    * at all — one build scan, then every retrieval batch touches only the
    * ~9-byte-per-vector codes table plus two tiny codebook tables.
    */
  def ivfPqPersistedTopK(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10, nProbe: Int = 4): DataFrame = {
    val indexDir = graft.TransientCache.stageDir(s, "ann-index")
    persistIvfPqIndex(s, dir, indexDir)
    val (cents, books) = readCodebooks(s, indexDir)
    val encoded = s.read.parquet(s"$indexDir/codes")
    val c = graft.TransientCache.cache(corpus(s, dir))
    val cand = adcCandidates(s, c, encoded, cents, books, nQueries, nProbe)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    cand
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** embed_quantize — int8 scalar quantization of the embedding corpus:
    * per vector, scale = max |component| and each component maps to
    * round(127·v/scale), the symmetric per-row quantization every vector
    * store ships (a 4× footprint cut before the ANN index is built — at
    * 100 TB of embeddings the difference between the index fitting on the
    * cluster and not). Emitted EXPLODED — (vec_id, dim, scale, q) rows,
    * top-level scalars only — both for the driver canonicalization the
    * other gates use and because a columnar sink RLE-compresses the
    * repeated scale to nothing.
    *
    * Exactness: float components widen to double (exact), and scale /
    * divide / floor(x + 0.5) is the same IEEE double sequence on any
    * engine — `floor(x + 0.5)` rather than `round` because engines
    * disagree on half-even vs half-away ties, while floor is a single
    * well-defined IEEE operation (ties round toward +∞ on both sides).
    * max(|v|) is order-free, so partitioning cannot perturb the scale.
    * All-zero vectors quantize to zeros under a scale-0 guard instead of
    * NaN-poisoning the row.
    *
    * 100 TB plan: ONE shuffle (the per-vec_id scale reduction, map-side
    * combined); the quantize itself is a codegen'd elementwise pass over
    * the exploded stream, and AQE picks broadcast-vs-shuffle for the
    * scale join by measured size. No driver participation, no windows.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val comps = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"), col("v").cast("double").as("vd"))
    val scales = comps.groupBy("vec_id").agg(max(abs(col("vd"))).as("scale"))
    comps.join(scales, "vec_id")
      .select(col("vec_id"), col("dim"), col("scale"),
        when(col("scale") === 0.0, lit(0))
          .otherwise(floor(col("vd") * lit(127.0) / col("scale") + lit(0.5))
            .cast("int")).as("q"))
  }

  /** RRF constant — the standard k=60 of Cormack/Clarke/Buettcher. */
  val RrfC = 60

  /** hybrid_rrf — HYBRID retrieval by reciprocal-rank fusion, the standard
    * composite every retrieval-augmented curation pipeline runs (dense
    * recall misses exact-term matches, lexical recall misses paraphrases;
    * RRF needs no score calibration between the two): for each query doc
    * (doc_id < nQueries, and the fixture aligns vec_id == doc_id), fuse
    *   - the LEXICAL ranker: word-3-gram Jaccard of the query doc's own
    *     text against every other doc ([[graft.operators.Dedup.shingleSet]]
    *     — the dedup_jaccard3 gram definition, so lexical similarity here
    *     and near-dup detection agree on what "similar text" means), and
    *   - the DENSE ranker: exact cosine top-k over the embedding corpus
    *     ([[bruteTopK]], the already-oracled ranker),
    * each truncated to its top-`listK` list, scored
    * Σ 1/([[RrfC]] + rank) over the lists containing the doc, ranked
    * (score desc, doc_id asc). Output carries the input ranks (−1 when a
    * doc reached the fused top-k from one list only) so consumers can see
    * WHY a doc surfaced. All ordering keys are exact (Jaccard is a ratio
    * of small ints — identical doubles in any engine; cosine rank
    * determinism is inherited from ann_brute's gate) and the fused score
    * is a pure function of ranks, so the DuckDB replay is deterministic.
    *
    * 100 TB plan: both rankers are QUERY-BOUNDED and CANDIDATE-SCALE — the
    * lexical arm is a shingle-postings equi-join, not a corpus × queries
    * jaccard scan: the corpus side explodes to (doc_id, shingle) map-side,
    * a broadcast hash join against the 8 exploded query shingle lists
    * drops every non-matching posting before any exchange, and one
    * fixed-width (query_id, doc_id) count aggregate IS the intersection
    * size (shingle sets are distinct by construction —
    * [[graft.operators.Dedup.shingleSet]] ends in `.distinct`), from which
    * jaccard is |∩| / (|A| + |B| − |∩|) on the precomputed set sizes —
    * the same two exact ints the old array_intersect/array_union division
    * used, so bit-identical doubles. Only docs sharing ≥1 shingle with a
    * query are ever scored or shuffled; a disjoint pair has jaccard 0 and
    * can only enter a top-listK list when a query has fewer than listK
    * overlapping docs, which the constant-size zero-fill pool below covers
    * exactly (smallest listK+1 doc ids — a TakeOrdered, never a corpus
    * sort; every set is non-empty so jaccard is never null and all fill
    * scores are exactly 0.0, ordered doc_id asc like the full scan's).
    * The query vectors broadcast likewise; per-query top-k windows
    * partition by query id exactly like ann_brute. The `dense` parameter
    * IS the production swap point: it takes any ranker with the (session,
    * dir, nQueries, listK) → (query_id, neighbor_id, rank) contract, so
    * [[hybridRrfIvfPq]] feeds the IVFPQ candidate pipeline into the SAME
    * fusion join — a different neighbor SOURCE, not a different fusion.
    * The fusion itself joins two (queries × listK)-row tables:
    * constant-sized, broadcast, free.
    */
  def hybridRrf(s: SparkSession, dir: String, nQueries: Int = 8,
      listK: Int = 10, k: Int = 10,
      dense: (SparkSession, String, Int, Int) => DataFrame =
        bruteTopK(_, _, _, _)): DataFrame = {
    import s.implicits._
    // one tokenize+shingle pass: the frame feeds the query postings, the
    // corpus postings AND the fill pool (TransientCache — harness releases)
    val sh = graft.TransientCache.cache(
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, t) => (id, Dedup.shingleSet(t)) }
        .toDF("doc_id", "sh"))
    // query postings: 8 docs' shingles, exploded with the set size carried
    // along — broadcast, so the corpus postings join is map-side and raw
    // shingle strings never cross an exchange
    val qpost = sh.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), size(col("sh")).as("qsz"),
        explode(col("sh")).as("g"))
    val cpost = sh.select(col("doc_id"), size(col("sh")).as("dsz"),
      explode(col("sh")).as("g"))
    // |intersection| by counting matched postings (sets are distinct);
    // the only exchange is the fixed-width (query_id, doc_id) aggregate
    val candScored = cpost.join(broadcast(qpost), "g")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id", "dsz", "qsz")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac", col("inter").cast("double") /
        (col("dsz") + col("qsz") - col("inter")).cast("double"))
      .select("query_id", "doc_id", "jac")
    // zero-fill pool: if a query overlaps fewer than listK docs, the full
    // scan would fill its list with jaccard-0.0 docs in doc_id order; the
    // smallest listK+1 ids (≥ listK after excluding the query itself)
    // contain every doc such a fill can pick. Tiny and constant: an
    // 11-row TakeOrdered crossed with the 8 query ids, deduped against
    // real candidates by max(jac) (candidate jaccard is always > 0).
    val fill = sh.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(listK + 1)
      .crossJoin(broadcast(
        sh.filter(col("doc_id") < nQueries)
          .select(col("doc_id").as("query_id"))))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("jac", lit(0.0))
      .select("query_id", "doc_id", "jac")
    val wl = Window.partitionBy("query_id")
      .orderBy(col("jac").desc, col("doc_id").asc)
    val lex = candScored.union(fill)
      .groupBy("query_id", "doc_id").agg(max(col("jac")).as("jac"))
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= listK)
      .select("query_id", "doc_id", "lex_rank")
    val emb = dense(s, dir, nQueries, listK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("emb_rank"))
    val score =
      coalesce(lit(1.0) / (lit(RrfC) + col("lex_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfC) + col("emb_rank")), lit(0.0))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    lex.join(emb, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("score", score)
      .withColumn("rrf_rank", row_number().over(wf))
      .filter(col("rrf_rank") <= k)
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(-1)).cast("int").as("lex_rank"),
        coalesce(col("emb_rank"), lit(-1)).cast("int").as("emb_rank"),
        col("rrf_rank").cast("int").as("rrf_rank"))
  }

  /** hybrid_rrf_ivfpq — [[hybridRrf]] with its PRODUCTION dense side: the
    * two-stage IVFPQ pipeline ([[ivfPqRefinedTopK]] — ADC short-list, exact
    * re-rank) replaces the brute cosine scan as the neighbor source, the
    * fusion unchanged. This is the shape a 100 TB retrieval deployment
    * actually runs: the corpus is touched through 9-byte PQ codes in probed
    * cells only (never a full exact scan per query), the constant-cost
    * exact re-rank recovers ranking quality on the short-list, and RRF
    * fuses as before. Deterministic end-to-end (the refined tier carries
    * its own bit-exact oracle), so the DuckDB replay composes the
    * hybrid_rrf lexical CTEs with the ann_ivfpq_refined replay as the
    * dense branch.
    */
  def hybridRrfIvfPq(s: SparkSession, dir: String, nQueries: Int = 8,
      listK: Int = 10, k: Int = 10): DataFrame =
    hybridRrf(s, dir, nQueries, listK, k,
      (ss, d, nq, lk) => ivfPqRefinedTopK(ss, d, nq, lk))

  /** ann_recall — the recall@k harness every approximate-index deployment
    * gates on: for each approximate tier ([[lshTopK]], [[ivfTopK]], and —
    * round 12 — [[ivfPqRefinedTopK]], the PRODUCTION two-stage index whose
    * recall is the one that actually gates a deployment) and each query,
    * the fraction of the EXACT top-k ([[bruteTopK]], the ground truth) the
    * tier returned. This is the number that decides nProbe/nbits before an
    * index ships — a 100 TB pipeline runs exactly this harness on a
    * held-out query sample after every index build.
    * Output (method, query_id, n_returned, n_hits, recall): counts are
    * exact BIGINTs; recall is the single division n_hits/k (two exact
    * ints → one correctly-rounded IEEE op, identical in any engine).
    *
    * 100 TB plan: the ground-truth side is the expensive half and it is
    * QUERY-BOUNDED (a held-out sample of queries, not the corpus), so the
    * harness costs one brute pass over the corpus per evaluation — the
    * same scan the tiers themselves probe. The per-method result lists
    * are (queries × k)-row tables; the hit join and per-query counts are
    * broadcast-sized. Evaluating a new tier is one more union branch.
    */
  def annRecall(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = RecallK): DataFrame = {
    val exact = bruteTopK(s, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val approx =
      lshTopK(s, dir, nQueries, k).select(lit("lsh").as("method"),
        col("query_id"), col("neighbor_id")) unionByName
      ivfTopK(s, dir, nQueries, k).select(lit("ivf").as("method"),
        col("query_id"), col("neighbor_id")) unionByName
      ivfPqRefinedTopK(s, dir, nQueries, k).select(lit("ivfpq").as("method"),
        col("query_id"), col("neighbor_id"))
    approx.join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .groupBy("method", "query_id")
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / lit(k.toDouble))
  }

  /** Truncation widths swept by [[annDimAblation]] — prefix dimensions of
    * the 64-d embeddings, bracketing the usual deployment question ("how
    * few dims can retrieval afford").
    */
  val AblationDims: Seq[Int] = Seq(8, 16, 32)

  /** ann_dim_ablation — the Matryoshka/truncation evaluation every
    * embedding deployment runs before shrinking vectors: recall@k of
    * PREFIX-truncated cosine retrieval (first `d` dimensions only) against
    * the full-dimension exact top-k, for each width in [[AblationDims]].
    * The number that decides whether the index stores 64, 32 or 16 floats
    * per vector — at 100 TB the difference is the index's memory tier.
    *
    * One corpus scan: every truncated score is computed ALONGSIDE the full
    * score in the same broadcast-join pass (slice + the codegen'd ordered
    * dot; norms re-derived per width because truncation changes them), the
    * scored frame is cached, and each width pays only its own constant-size
    * rank window + hit join. Output mirrors ann_recall:
    * (dims, query_id, n_returned, n_hits, recall) — counts exact, recall
    * the terminal division.
    */
  def annDimAblation(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = RecallK, dims: Seq[Int] = AblationDims): DataFrame = {
    def cosAt(d: Int, a: Column, b: Column): Column = {
      val (sa, sb) = (slice(a, 1, d), slice(b, 1, d))
      arrayDot(sa, sb) / (sqrt(arrayDot(sa, sa)) * sqrt(arrayDot(sb, sb)))
    }
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"))
    val scored = graft.TransientCache.cache(
      c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(Seq(col("query_id"), col("vec_id"),
          (arrayDot(col("qvec"), col("vec")) / (col("qnrm") * col("nrm")))
            .as("score_full")) ++
          dims.map(d => cosAt(d, col("qvec"), col("vec")).as(s"score_$d")): _*))
    def topK(score: String): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(col(score).desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id"))
    }
    val truth = topK("score_full").withColumn("hit", lit(1L))
    dims.map { d =>
      topK(s"score_$d")
        .join(broadcast(truth), Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_returned"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(lit(d.toLong).as("dims"), col("query_id"),
          col("n_returned"), col("n_hits"),
          (col("n_hits").cast("double") / lit(k.toDouble)).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** recall@k cutoff shared by [[annRecall]]'s default and EVERY cutoff in
    * its oracle — the ground-truth CTE's `rnk <=`, the nested lsh/ivf
    * replays' top-k limits (`annLshSqlK`/`annIvfSqlK` in SparkEntry take k
    * as a parameter) and the recall denominator — so retuning k cannot
    * silently diverge the two sides. The standalone ann_lsh/ann_ivf
    * oracles stay pinned to the tiers' own k=10 defaults.
    */
  val RecallK = 10

  /** MMR trade-off weight: relevance λ vs diversity (1−λ). */
  val MmrLambda = 0.7

  /** mmr_rerank — Maximal-Marginal-Relevance diversification (Carbonell &
    * Goldstein '98), the standard rerank between retrieval and a context
    * window: from each query's exact top-`listK` cosine candidates
    * ([[bruteTopK]]), greedily select k docs maximizing
    * λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s) — the first pick is the
    * plain argmax of relevance — with ties broken doc_id-ascending.
    * Deduplicated retrieval lists are what near-dup-heavy corpora need:
    * without MMR the top-k of a crawl query is k copies of the same page.
    *
    * Determinism: every cosine on both engines is the same ordered IEEE
    * sequence (ascending-index dot fold, then /(nrm·nrm)), and the greedy
    * comparisons are over those exact doubles, so the selection ORDER is
    * bit-reproducible and the DuckDB oracle replays it with a recursive
    * CTE. Output (query_id, doc_id, mmr_rank, rel4) — rel4 is the round-4
    * relevance, the ann_lsh score4 discipline.
    *
    * 100 TB plan: the greedy loop is inherently per-query-sequential, so
    * it runs INSIDE a group — flatMapGroups over query_id with the group
    * bounded at listK rows (a few KB) — while queries themselves
    * distribute; the candidate generator is the swappable half (brute here
    * so the gate is exact; IVFPQ candidates in production). The O(k·listK)
    * pairwise sims per query are computed in-group from the vectors the
    * group already holds — no shuffle beyond the candidate join.
    */
  def mmrRerank(s: SparkSession, dir: String, nQueries: Int = 8,
      listK: Int = 20, k: Int = 10, lambda: Double = MmrLambda): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"))
    val cands = bruteTopK(s, dir, nQueries, listK)
      .join(c.select(col("vec_id").as("neighbor_id"), col("vec"), col("nrm")),
        "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("vec"), col("nrm"),
        col("qvec"), col("qnrm"))
      .as[(Long, Long, Seq[Double], Double, Seq[Double], Double)]
    val picked = cands.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val rows = it.toArray
      val qvec = rows.head._5.toArray
      val qnrm = rows.head._6
      // rel in the dot64 fold order the oracle uses (ascending, seed 0.0)
      val ids = rows.map(_._2)
      val vecs = rows.map(_._3.toArray)
      val nrms = rows.map(_._4)
      val rel = Array.tabulate(rows.length)(i =>
        dotAsc(vecs(i), qvec) / (nrms(i) * qnrm))
      val n = rows.length
      val chosen = new Array[Int](math.min(k, n))
      val taken = new Array[Boolean](n)
      var step = 0
      while (step < chosen.length) {
        var best = -1
        var bestScore = 0.0
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val score =
              if (step == 0) rel(i)
              else {
                var maxSim = java.lang.Double.NEGATIVE_INFINITY
                var j = 0
                while (j < step) {
                  val p = chosen(j)
                  val sim = dotAsc(vecs(i), vecs(p)) / (nrms(i) * nrms(p))
                  if (sim > maxSim) maxSim = sim
                  j += 1
                }
                lambda * rel(i) - (1.0 - lambda) * maxSim
              }
            if (best < 0 || score > bestScore ||
                (score == bestScore && ids(i) < ids(best))) {
              best = i; bestScore = score
            }
          }
          i += 1
        }
        chosen(step) = best
        taken(best) = true
        step += 1
      }
      chosen.iterator.zipWithIndex.map { case (i, r) =>
        (qid, ids(i), r + 1, rel(i))
      }
    }.toDF("query_id", "doc_id", "mmr_rank", "rel")
    picked.select(col("query_id"), col("doc_id"),
      col("mmr_rank").cast("int").as("mmr_rank"),
      round(col("rel"), 4).as("rel4"))
  }
}
