package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann
import graft.sources.Tables

/** ANN similarity search: brute-force exactness against an in-test oracle,
  * LSH ranking consistency and recall vs brute on the fixture embeddings.
  */
class AnnSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val vecs: Map[Long, Array[Double]] =
    Tables.embeddings(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Deterministic 64-d fixture vector (the shared planted-corpus recipe). */
  private def detVec(seed: Int): Array[Float] =
    Array.tabulate(64) { i =>
      (math.sin(seed * 7919.0 + i * 104729.0) * 100 % 1.0).toFloat
    }

  /** Exact-L2 top-k pairs (query, neighbor) for queries 0..n-1 — the
    * driver-side ranking the approximate indexes are measured against.
    */
  private def exactL2Pairs(nQueries: Int, k: Int): Set[(Long, Long)] =
    (0L until nQueries.toLong).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, l2(vecs(q), v)) }
        .sortBy { case (id, d) => (d, id) }
        .take(k).map { case (id, _) => (q, id) }
    }.toSet

  /** Writes a 24-vector corpus where vec 1 is vec 0 plus a tiny
    * single-component perturbation (>= PqK vectors so every subspace
    * codebook can fit); returns the table dir.
    */
  private def plantTwinCorpus(prefix: String, seed: Int): String = {
    val s = spark
    import s.implicits._
    val v0 = detVec(seed)
    val v1 = v0.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.001f else 0f) }
    val rest = (2 until 24).map(i => (i.toLong, detVec(i).toSeq, 0))
    val dir = scratchDir(prefix).toString
    ((0L, v0.toSeq, 0) +: (1L, v1.toSeq, 0) +: rest)
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("bruteTopK matches a driver-side exact top-k oracle") {
    val got = Ann.bruteTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    (0L until 4L).foreach { q =>
      val expected = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, sc) => (-sc, id) }
        .take(10).map(_._1)
      val gotQ = (1 to 10).map(r => got((q, r)))
      assert(gotQ == expected, s"query $q")
    }
  }

  test("lshTopK: ranks are consistent with true cosine order, recall > 0") {
    val rows = Ann.lshTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._2).map(_._3)
      val scores = byRank.map(id => cos(vecs(q), vecs(id)))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-12 },
        s"query $q: LSH neighbors not in descending cosine order")
    }
    // recall vs brute top-10 across queries: LSH with 12-bit buckets +
    // multiprobe is approximate; just require nontrivial overlap overall.
    val brute = Ann.bruteTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = rows.map(r => (r._1, r._3)).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall > 0.05, s"LSH recall vs brute suspiciously low: $recall")
  }

  test("ivfTopK: ranks consistent with true cosine; recall vs brute is high") {
    val rows = Ann.ivfTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._2).map(_._3)
      val scores = byRank.map(id => cos(vecs(q), vecs(id)))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-12 },
        s"query $q: IVF neighbors not in descending cosine order")
    }
    val brute = Ann.bruteTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = rows.map(r => (r._1, r._3)).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall > 0.2, s"IVF recall vs brute suspiciously low: $recall")
  }

  test("pqTopK: recall overlap vs exact L2 ranking; deterministic across runs") {
    val rows = Ann.pqTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(rows.length == 4 * 10)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 10), s"query $q ranks")
      assert(!rs.exists(_._3 == q), s"query $q returned itself")
    }
    // PQ is approximate (ADC over 16-centroid codebooks): require nontrivial
    // overlap with the exact-L2 top-10, not equality
    val exact = exactL2Pairs(4, 10)
    val got = rows.map(r => (r._1, r._3)).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall > 0.2, s"PQ recall vs exact L2 suspiciously low: $recall")
    // deterministic: a second run returns the identical ranking
    val again = Ann.pqTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(again.toSet == rows.toSet)
    TransientCache.releaseAll(spark)
  }

  test("pqTopK: a planted near-identical twin retrieves at rank 1") {
    val dir = plantTwinCorpus("pq-twin", seed = 100)
    val got = Ann.pqTopK(spark, dir, nQueries = 1, k = 3).collect()
      .map(r => r.getAs[Int]("rank") -> r.getAs[Long]("neighbor_id")).toMap
    // ADC distance to the twin is ~0 in every subspace: it must rank first
    assert(got(1) == 1L, s"twin not at rank 1: $got")
    TransientCache.releaseAll(spark)
  }

  test("ivfPqTopK: candidates come from probed cells; recall floor; twin at rank 1") {
    val rows = Ann.ivfPqTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"query $q ranks")
      assert(!rs.exists(_._3 == q), s"query $q returned itself")
    }
    // pruned + quantized is doubly approximate: require overlap with the
    // exact-L2 top-10, not equality
    val exact = exactL2Pairs(4, 10)
    val got = rows.map(r => (r._1, r._3)).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall > 0.1, s"IVFPQ recall vs exact L2 suspiciously low: $recall")
    TransientCache.releaseAll(spark)
    // a planted near-identical twin lands in the query's own cell with a
    // near-zero residual distance: it must rank first
    val dir = plantTwinCorpus("ivfpq-twin", seed = 200)
    val twin = Ann.ivfPqTopK(spark, dir, nQueries = 1, k = 3, nCells = 2, nProbe = 1)
      .collect().map(r => r.getAs[Int]("rank") -> r.getAs[Long]("neighbor_id")).toMap
    assert(twin(1) == 1L, s"twin not at rank 1: $twin")
    TransientCache.releaseAll(spark)
  }

  test("ivfPqRefinedTopK: exact re-rank never loses recall vs the plain ADC ranking") {
    val base = Ann.ivfPqTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // one refined run serves both assertions (the pipeline re-trains per call)
    val refinedRows = Ann.ivfPqRefinedTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    val refined = refinedRows.map(r => (r._1, r._3)).toSet
    val exact = exactL2Pairs(4, 10)
    val baseRecall = exact.intersect(base).size.toDouble / exact.size
    val refinedRecall = exact.intersect(refined).size.toDouble / exact.size
    // the re-rank orders the SAME short-list by true distance, so within
    // the probed cells it can only improve agreement with exact search
    assert(refinedRecall >= baseRecall,
      s"refined recall $refinedRecall < ADC recall $baseRecall")
    // and the refined ranks are genuinely exact-ordered: per query, the
    // returned neighbors ascend in true L2 distance
    def l2d(q: Long, id: Long): Double = {
      val a = vecs(q); val b = vecs(id)
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    refinedRows.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._2).map(r => l2d(q, r._3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b + 1e-12 },
        s"query $q: refined neighbors not in ascending exact distance")
    }
    TransientCache.releaseAll(spark)
  }

  test("appendToIvfPqIndex: append-built codes == full-build codes, bit for bit") {
    import org.apache.spark.sql.functions.col
    val s = spark
    val base = s"${System.getProperty("java.io.tmpdir")}/graft-ann-append-test"
    val dirA = s"$base/full"
    val dirB = s"$base/partial"
    Ann.persistIvfPqIndex(s, Sf0001, dirA)
    // dirB: same frozen codebooks, codes for only 4/5 of the corpus
    s.read.parquet(s"$dirA/centroids").write.mode("overwrite")
      .parquet(s"$dirB/centroids")
    s.read.parquet(s"$dirA/codebooks").write.mode("overwrite")
      .parquet(s"$dirB/codebooks")
    s.read.parquet(s"$dirA/codes").filter(col("vec_id") % 5 =!= 0)
      .write.mode("overwrite").parquet(s"$dirB/codes")
    // absorb the held-out 1/5 WITHOUT retraining
    Ann.appendToIvfPqIndex(s,
      Ann.corpus(s, Sf0001).filter(col("vec_id") % 5 === 0), dirB)
    def codes(d: String) = s.read.parquet(s"$d/codes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getSeq[Int](r.fieldIndex("codes")).toList)).toSet
    assert(codes(dirB) === codes(dirA))
    // replayed maintenance batch: dedup-on-write makes the retry a no-op —
    // row COUNT must hold too (the set compare alone would mask duplicate
    // rows, which silently inflate every later query's ADC candidate set)
    val nBefore = s.read.parquet(s"$dirB/codes").count()
    Ann.appendToIvfPqIndex(s,
      Ann.corpus(s, Sf0001).filter(col("vec_id") % 5 === 0), dirB)
    assert(s.read.parquet(s"$dirB/codes").count() === nBefore,
      "retried append appended duplicate code rows")
    assert(codes(dirB) === codes(dirA))
    // an UPDATE (same vec_id, different embedding) must fail loudly, not
    // silently freeze the stale codes: negate the held-out vectors so they
    // encode into different cells/codes under the same ids
    val updated = Ann.corpus(s, Sf0001).filter(col("vec_id") % 5 === 0)
      .withColumn("vec", org.apache.spark.sql.functions.transform(
        col("vec"), x => -x))
    val e = intercept[IllegalArgumentException] {
      Ann.appendToIvfPqIndex(s, updated, dirB)
    }
    assert(e.getMessage.contains("UPDATE"), e.getMessage)
    assert(codes(dirB) === codes(dirA), "failed update must not mutate the index")
    TransientCache.releaseAll(s)
  }

  test("annDimAblation: per-width recall equals a driver-side truncation model") {
    def cosAt(d: Int, a: Array[Double], b: Array[Double]): Double = {
      val (sa, sb) = (a.take(d), b.take(d))
      val dot = sa.zip(sb).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(sa.map(x => x * x).sum) * math.sqrt(sb.map(x => x * x).sum))
    }
    def topK(score: Long => Double, q: Long): Seq[Long] =
      vecs.keys.filter(_ != q).toSeq
        .map(d => (d, score(d))).sortBy { case (d, c) => (-c, d) }
        .take(10).map(_._1)
    val got = Ann.annDimAblation(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("dims"), r.getAs[Long]("query_id")) ->
        (r.getAs[Long]("n_returned"), r.getAs[Long]("n_hits"))).toMap
    val expected = (for {
      d <- Ann.AblationDims; q <- 0L until 8L
    } yield {
      val truth = topK(n => cos(vecs(q), vecs(n)), q).toSet
      val trunc = topK(n => cosAt(d, vecs(q), vecs(n)), q)
      (d.toLong, q) -> (trunc.length.toLong, trunc.count(truth).toLong)
    }).toMap
    assert(got == expected)
    // the sweep is informative: narrower widths must lose recall somewhere
    val byDim = got.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2._2).sum).toMap
    assert(byDim(8L) < byDim(32L),
      s"8-dim retrieval should recall less than 32-dim: $byDim")
    TransientCache.releaseAll(spark)
  }

  test("hardNegatives: top-k label-mismatched neighbors == driver-side model") {
    val labels = graft.sources.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Ann.hardNegatives(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    val expect = (0L until 8L).flatMap { q =>
      vecs.keys.filter(d => d != q && labels(d) != labels(q)).toSeq
        .map(d => (d, cos(vecs(q), vecs(d))))
        .sortBy { case (d, c) => (-c, d) }.take(10).zipWithIndex
        .map { case ((d, _), i) => (q, d, i + 1) }
    }.toSet
    assert(got === expect)
    // non-vacuous: mining excludes same-label near neighbors — at least one
    // query's negative list differs from its unrestricted top-10
    val brute = Ann.bruteTopK(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(got.exists { case (q, d, _) => !brute.contains((q, d)) })
    TransientCache.releaseAll(spark)
  }

  test("knnLabelVote: prediction equals a driver-side majority vote over bruteTopK") {
    val labels = graft.sources.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nn = Ann.bruteTopK(spark, Sf0001, nQueries = 8, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val expect = nn.groupBy(_._1).map { case (q, rs) =>
      val byLabel = rs.map(r => labels(r._2)).groupBy(identity)
        .view.mapValues(_.length).toMap
      // highest count, smallest label — the operator's documented total order
      val (pred, n) = byLabel.toSeq.maxBy { case (l, c) => (c, -l) }
      (q, pred, n.toLong, labels(q), if (pred == labels(q)) 1L else 0L)
    }.toSet
    val got = Ann.knnLabelVote(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("pred_label"),
        r.getAs[Long]("n_votes"), r.getAs[Int]("true_label"),
        r.getAs[Long]("correct"))).toSet
    assert(got === expect)
    assert(got.size == 8)
    TransientCache.releaseAll(spark)
  }

  test("ivfPqPersistedTopK: the parquet index round-trip is bit-identical") {
    // training is deterministic (capped xxhash64 sample, seeded Lloyd), so
    // persist-then-read must reproduce the in-session pipeline's answers
    // EXACTLY — parquet DOUBLE round-trips IEEE64 losslessly and codes are
    // plain ints; any divergence means the index artifacts lost information
    val inSession = Ann.ivfPqTopK(spark, Sf0001, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    val persisted = Ann.ivfPqPersistedTopK(spark, Sf0001, nQueries = 4, k = 10)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    assert(persisted === inSession)
    TransientCache.releaseAll(spark)
  }

  test("embedNearDup finds planted near-identical vectors, nothing else") {
    // fixture embeddings have no pairs above cos 0.60 (checked), so plant
    // our own: v1 ≈ v0 (tiny perturbation), v3 == v2, v0 ⟂̸ v2 (random)
    val s = spark
    import s.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64) { i =>
        (math.sin(seed * 7919.0 + i * 104729.0) * 100 % 1.0).toFloat
      }
    val v0 = vec(1)
    val v1 = v0.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.001f else 0f) }
    val v2 = vec(2)
    val v3 = v2.clone()
    val dir = scratchDir("embed-dedup").toString
    Seq((0L, v0.toSeq, 0), (1L, v1.toSeq, 0), (2L, v2.toSeq, 1), (3L, v3.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = Ann.embedNearDup(spark, dir, threshold = 0.98).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
      .toSet
    assert(pairs == Set((0L, 1L), (2L, 3L)))
  }

  test("embedNearDup at the registered threshold: non-vacuous, exact-precision subset") {
    // the gate runs dedup_embed at threshold 0.4 (the fixture plants no
    // near-dups; max pairwise cosine ≈0.48 at sf0.001) — assert it yields
    // rows there, that every emitted pair truly clears the threshold
    // (precision is exact by construction: candidates are verified), and
    // that multi-table recall is non-trivial vs the brute-force pair set
    val got = Ann.embedNearDup(spark, Sf0001, threshold = 0.4).collect()
      .map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")), r.getAs[Double]("cos4")))
    assert(got.nonEmpty, "registered-threshold dedup_embed must not be vacuous on the fixture")
    got.foreach { case ((a, b), c) =>
      assert(a < b)
      assert(math.abs(cos(vecs(a), vecs(b)) - c) < 5e-5, s"pair ($a,$b) cosine mismatch")
      assert(c >= 0.4 - 5e-5, s"pair ($a,$b) below threshold: $c")
    }
    val ids = vecs.keys.toSeq.sorted
    val exact = (for {
      i <- ids; j <- ids if i < j && cos(vecs(i), vecs(j)) >= 0.4
    } yield (i, j)).toSet
    val recall = got.map(_._1).count(exact).toDouble / exact.size
    assert(recall >= 0.5, s"multi-table LSH recall vs exact pairs too low: $recall")
    assert(got.map(_._1).forall(exact), "emitted pair not in the exact >=0.4 set")
    TransientCache.releaseAll(spark)
  }

  test("jlProject: coordinates == driver-side ordered dot with the seed-7 planes") {
    val planes = Ann.hyperplanes(64, Ann.JlDim, Ann.JlSeed)
    val got = Ann.jlProject(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("j")) -> r.getAs[Double]("proj"))
      .toMap
    assert(got.size == vecs.size * Ann.JlDim)
    // exact bit equality: same products, same ascending-index summation
    vecs.foreach { case (id, v) =>
      planes.zipWithIndex.foreach { case (p, j) =>
        var dot = 0.0; var i = 0
        while (i < 64) { dot += v(i) * p(i); i += 1 }
        assert(got((id, j)) == dot, s"vec $id dim $j")
      }
    }
  }

  test("jlProject: projection roughly preserves relative cosine structure") {
    // JL with 16 dims is loose; assert direction, not tightness: the most
    // similar fixture pair under full cosine stays above the median pair
    // similarity in projected space
    val proj = Ann.jlProject(spark, Sf0001).collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getAs[Int]("j")).map(_.getAs[Double]("proj")).toArray
      }
    val ids = vecs.keys.toSeq.sorted.take(60)
    val pairs = for { a <- ids; b <- ids if a < b } yield (a, b)
    val full = pairs.map { case (a, b) => (a, b) -> cos(vecs(a), vecs(b)) }.toMap
    val low = pairs.map { case (a, b) => (a, b) -> cos(proj(a), proj(b)) }.toMap
    val best = pairs.maxBy(full)
    val lowVals = pairs.map(low).sorted
    val median = lowVals(lowVals.size / 2)
    assert(low(best) > median,
      s"best full-space pair fell below the projected-space median ($median)")
  }

  test("semDedup: keep flags are exactly the lower-id-cellmate rule") {
    val rows = Ann.semDedup(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Boolean]("keep")))
    // total function of the corpus: every vector, exactly once
    assert(rows.map(_._1).sorted.toSeq == vecs.keys.toSeq.sorted)
    // replay the drop rule driver-side from the returned cell assignment
    val byCell = rows.groupBy(_._2)
    rows.foreach { case (id, cell, keep) =>
      val expected = !byCell(cell).exists { case (other, _, _) =>
        other < id && cos(vecs(other), vecs(id)) >= 0.4
      }
      assert(keep == expected, s"vec $id in cell $cell")
    }
    // the fixture threshold is meaningful: some docs drop, most survive
    val kept = rows.count(_._3)
    assert(kept < rows.length && kept > rows.length / 2, s"kept $kept/${rows.length}")
  }

  test("semDedup: a planted duplicate vector is dropped, the lower id kept") {
    val s = spark
    import s.implicits._
    val dir = scratchDir("semdedup").toString
    val base = Array.tabulate(8)(i => math.sin(i + 1).toFloat)
    val far = Array.tabulate(8)(i => math.cos(3 * i + 2).toFloat)
    Seq((0L, base.toSeq, 0), (1L, far.toSeq, 0), (2L, base.toSeq, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Ann.semDedup(spark, dir, nCells = 1, threshold = 0.999)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
    assert(got == Map(0L -> true, 1L -> true, 2L -> false))
  }

  test("cosine column agrees with driver-side cosine") {
    import org.apache.spark.sql.functions._
    val s = spark
    val df = Tables.embeddings(s, Sf0001).limit(50)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val self = df.withColumn("c", Ann.cosine(col("v"), col("v"))).collect()
    self.foreach(r => assert(math.abs(r.getAs[Double]("c") - 1.0) < 1e-9))
  }

  // --------------------------------------------------------- embedQuantize

  test("embedQuantize: q is bounded, scale is the row max-abs, dequant error ≤ half a step") {
    val vecs = Tables.embeddings(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    val rows = Ann.embedQuantize(spark, Sf0001).collect()
    assert(rows.length == vecs.valuesIterator.map(_.length).sum)
    rows.foreach { r =>
      val v = vecs(r.getAs[Long]("vec_id"))
      val scale = r.getAs[Double]("scale")
      val q = r.getAs[Int]("q")
      val vd = v(r.getAs[Int]("dim")).toDouble
      assert(scale == v.map(x => math.abs(x.toDouble)).max)
      assert(q >= -127 && q <= 127)
      // symmetric quantization reconstructs within half a quantization step
      assert(math.abs(q * scale / 127.0 - vd) <= scale / 127.0 / 2.0 + 1e-12)
    }
  }

  test("embedQuantize: all-zero vectors quantize to zeros under the scale-0 guard") {
    val s = spark
    import s.implicits._
    val dir = scratchDir("quant").toString
    Seq((0L, Seq.fill(4)(0f), 0), (1L, Seq(1f, -2f, 0.5f, 2f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Ann.embedQuantize(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("dim")) ->
        ((r.getAs[Double]("scale"), r.getAs[Int]("q")))).toMap
    (0 until 4).foreach(d => assert(got((0L, d)) == ((0.0, 0))))
    // scale 2: 1 -> round(63.5) -> 64 (floor(x+.5) rounds half toward +inf),
    // -2 -> -127, 0.5 -> round(31.75) -> 32, 2 -> 127
    assert(got((1L, 0)) == ((2.0, 64)))
    assert(got((1L, 1)) == ((2.0, -127)))
    assert(got((1L, 2)) == ((2.0, 32)))
    assert(got((1L, 3)) == ((2.0, 127)))
  }

  test("decontamEmbed: fixture max-cosines match a driver-side replay; planted leak flagged") {
    val vecs = Tables.embeddings(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val bench = vecs.filter(_._1 % 50 == 0).values.toSeq
    val expected = vecs.filter(_._1 % 50 != 0).map { case (id, v) =>
      id -> bench.map(b => dot(v, b) / (nrm(v) * nrm(b))).max
    }
    val got = Ann.decontamEmbed(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Double]("max_cos4"), r.getAs[Boolean]("contaminated")))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, mc) =>
      val (mc4, flag) = got(id)
      assert(math.abs(mc4 - mc) <= 5e-5, s"vec $id: $mc4 vs $mc")
      assert(flag == (mc >= Ann.DecontamCos), s"vec $id")
    }
    // a verbatim benchmark copy (cos 1) must be flagged
    val s2 = spark
    import s2.implicits._
    val dir = scratchDir("decontam-embed").toString
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), // the "benchmark" vector
      (1L, Seq(1f, 0f, 0f, 0f), 0), // exact leak of it
      (2L, Seq(0f, 1f, 0f, 0f), 0)) // orthogonal: clean
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = Ann.decontamEmbed(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(planted == Map(1L -> true, 2L -> false))
  }

  test("hybridRrf: fused ranks == straight-line driver replay of both rankers") {
    val got = Ann.hybridRrf(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("lex_rank"), r.getAs[Int]("emb_rank"),
        r.getAs[Int]("rrf_rank"))).toSet
    // lexical side: 3-gram jaccard ranks per query doc
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val shs = docs.map { case (id, t) =>
      id -> graft.operators.Dedup.shingleSet(t).toSet }.toMap
    val queries = docs.map(_._1).filter(_ < 8)
    def lexRanks(q: Long): Seq[(Long, Int)] =
      docs.map(_._1).filter(_ != q)
        .map(d => (d, shs(q).intersect(shs(d)).size.toDouble /
          shs(q).union(shs(d)).size.toDouble))
        .sortBy { case (d, j) => (-j, d) }
        .take(10).zipWithIndex.map { case ((d, _), i) => (d, i + 1) }
    // dense side: exact cosine ranks
    val vecs = graft.sources.Tables.embeddings(spark, Sf0001)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val nrm = vecs.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x * x).sum) }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    val vmap = vecs.toMap
    def embRanks(q: Long): Seq[(Long, Int)] =
      vecs.map(_._1).filter(_ != q)
        .map(d => (d, cos(vmap(q), vmap(d)) / (nrm(q) * nrm(d))))
        .sortBy { case (d, c) => (-c, d) }
        .take(10).zipWithIndex.map { case ((d, _), i) => (d, i + 1) }
    val expect = queries.flatMap { q =>
      val l = lexRanks(q).toMap
      val e = embRanks(q).toMap
      (l.keySet ++ e.keySet).toSeq
        .map { d =>
          val s = l.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
            e.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
          (d, l.getOrElse(d, -1), e.getOrElse(d, -1), s)
        }
        .sortBy { case (d, _, _, s) => (-s, d) }
        .take(10).zipWithIndex
        .map { case ((d, lr, er, _), i) => (q, d, lr, er, i + 1) }
    }.toSet
    assert(got === expect)
    assert(got.size == queries.length * 10)
    // fusion is non-degenerate: docs reached the fused top-10 from one
    // list only (otherwise this is just one ranker renamed)
    assert(got.exists(_._3 == -1) || got.exists(_._4 == -1),
      "every fused doc appeared in both lists — fusion untested")
    TransientCache.releaseAll(spark)
  }

  test("hybridRrfIvfPq: fuses the lexical replay with the refined tier's own ranks") {
    val got = Ann.hybridRrfIvfPq(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("lex_rank"), r.getAs[Int]("emb_rank"),
        r.getAs[Int]("rrf_rank"))).toSet
    // lexical side: the same driver replay hybridRrf is pinned against
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val shs = docs.map { case (id, t) =>
      id -> graft.operators.Dedup.shingleSet(t).toSet }.toMap
    val queries = docs.map(_._1).filter(_ < 8)
    def lexRanks(q: Long): Seq[(Long, Int)] =
      docs.map(_._1).filter(_ != q)
        .map(d => (d, shs(q).intersect(shs(d)).size.toDouble /
          shs(q).union(shs(d)).size.toDouble))
        .sortBy { case (d, j) => (-j, d) }
        .take(10).zipWithIndex.map { case ((d, _), i) => (d, i + 1) }
    // dense side: the refined tier's OWN output (itself pinned by its
    // bit-exact oracle and the persisted-index spec) — this test checks the
    // WIRING: the fused emb ranks must be exactly the IVFPQ ranks, proving
    // the dense parameter swapped the neighbor source and nothing else
    val emb = Ann.ivfPqRefinedTopK(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val expect = queries.flatMap { q =>
      val l = lexRanks(q).toMap
      val e = emb.getOrElse(q, Map.empty)
      (l.keySet ++ e.keySet).toSeq
        .map { d =>
          val s = l.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
            e.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
          (d, l.getOrElse(d, -1), e.getOrElse(d, -1), s)
        }
        .sortBy { case (d, _, _, s) => (-s, d) }
        .take(10).zipWithIndex
        .map { case ((d, lr, er, _), i) => (q, d, lr, er, i + 1) }
    }.toSet
    assert(got === expect)
    assert(got.size == queries.length * 10)
    TransientCache.releaseAll(spark)
  }

  test("annRecall: counts match a driver-side intersection of the tier lists") {
    val exact = Ann.bruteTopK(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tiers = Map(
      "lsh" -> Ann.lshTopK(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1))),
      "ivf" -> Ann.ivfTopK(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1))),
      "ivfpq" -> Ann.ivfPqRefinedTopK(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1))))
    val got = Ann.annRecall(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    tiers.foreach { case (m, pairs) =>
      pairs.groupBy(_._1).foreach { case (q, qPairs) =>
        val hits = qPairs.count(exact)
        val (nRet, nHits, recall) = got((m, q))
        assert(nRet == qPairs.length, s"$m q$q n_returned")
        assert(nHits == hits, s"$m q$q n_hits")
        assert(recall == hits / 10.0, s"$m q$q recall")
      }
    }
    // the harness is non-vacuous: some tier misses something somewhere, and
    // recall stays above the floor the tiers' own specs already pin
    assert(got.values.forall { case (_, h, _) => h >= 0 && h <= 10 })
    TransientCache.releaseAll(spark)
  }

  test("mmrRerank: selection order == driver-side greedy MMR replay") {
    val listK = 20
    val got = Ann.mmrRerank(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(v.map(x => x * x).sum) }
    val queries = vecs.keys.filter(_ < 8).toSeq.sorted
    val expect = queries.flatMap { q =>
      val cands = vecs.keys.filter(_ != q).toSeq
        .map(d => (d, cos(vecs(q), vecs(d))))
        .sortBy { case (d, c) => (-c, d) }.take(listK)
      val rel = cands.toMap
      var picked = Vector.empty[Long]
      while (picked.length < 10) {
        val scored = cands.filterNot(c => picked.contains(c._1)).map { case (d, r) =>
          val s =
            if (picked.isEmpty) r
            else 0.7 * r - (1.0 - 0.7) * picked.map(p => cos(vecs(d), vecs(p))).max
          (d, s)
        }
        picked :+= scored.minBy { case (d, s) => (-s, d) }._1
      }
      picked.zipWithIndex.map { case (d, i) => (q, d, i + 1) }
    }.toSet
    assert(got === expect)
    // diversification is non-degenerate on the fixture: at least one query's
    // MMR list differs from its plain relevance top-10
    val plain = Ann.bruteTopK(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got != plain, "MMR == plain top-10 everywhere — diversity term inert")
    TransientCache.releaseAll(spark)
  }
}
