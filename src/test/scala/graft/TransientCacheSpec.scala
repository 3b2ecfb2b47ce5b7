package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.SessionSweep
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Dedup, Pipeline}

/** Session-hygiene contract: operator-internal caches and checkpoints are
  * registered transients, and one [[TransientCache.releaseAll]] sweep after
  * the consuming action leaves ZERO persisted blocks behind, while each
  * artifact with several consumers is still built only once per query.
  * This is the invariant that keeps a 60-query session — or a month-long
  * production session — from accumulating storage pressure.
  */
class TransientCacheSpec extends AnyFunSuite {
  import TestSpark._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("cache-heavy operators leave no blocks after one releaseAll sweep") {
    TransientCache.releaseAll(spark)
    spark.catalog.clearCache()
    // other suites in this shared JVM may hold unregistered blocks; the
    // contract under test is that OUR operators add nothing beyond this set
    val strays = persistedIds

    // each of these caches or checkpoints internally
    harness.run { s =>
      Seq(Ann.lshTopK(s, Sf0001), Dedup.minhash(s, Sf0001),
          Dedup.clusters(s, Sf0001), Dedup.lshTune(s, Sf0001),
          Ann.ivfPqRefinedTopK(s, Sf0001))
        .foreach(_.write.mode("overwrite").format("noop").save())
      assert((persistedIds -- strays).nonEmpty,
        "operators should have live transient blocks before the sweep")
    }
    assert(persistedIds -- strays == Set.empty[Int],
      "releaseAll must drop every operator-registered block")
  }

  test("checkpoint pins one RDD at its level as it is made; unpin drops exactly it") {
    harness.run { s =>
      val before = persistedIds
      val eager = TransientCache.checkpoint(s.range(100).toDF("id"))
      val lazyCp = TransientCache.checkpoint(s.range(100).toDF("id"),
        StorageLevel.MEMORY_AND_DISK_SER, eager = false)
      val pinned = persistedIds -- before
      val live = s.sparkContext.getPersistentRDDs
      assert(pinned.toSeq.map(live(_).getStorageLevel).toSet ==
        Set(StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK_SER),
        s"one RDD per checkpoint at its own level, pinned: $pinned")
      assert(lazyCp.count() == 100)
      TransientCache.unpin(lazyCp)
      assert((persistedIds -- before).size == 1)
      TransientCache.unpin(eager)
      assert((persistedIds -- before).isEmpty)
      intercept[IllegalArgumentException](TransientCache.unpin(s.range(1).toDF()))
    }
  }

  test("a caller's cache first filled inside an eager checkpoint survives the sweep") {
    TransientCache.releaseAll(spark)
    val before = persistedIds
    // a plain cache the caller never hands over, first built by the
    // checkpoint's own job
    val user = spark.range(1000).toDF("id").cache()
    try {
      val cp = TransientCache.checkpoint(user.selectExpr("id * 2 AS x"))
      val cpId = cp.queryExecution.logical match {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
        case p => fail(s"checkpoint returned ${p.nodeName}")
      }
      val filled = persistedIds -- before
      assert(filled.size == 2 && filled(cpId),
        s"expected the caller's cache and the checkpoint, got $filled")
      TransientCache.releaseAll(spark)
      assert(persistedIds -- before == filled - cpId,
        "the sweep must drop the checkpoint and keep the caller's cache")
    } finally user.unpersist(true)
  }

  test("each shared artifact builds once per query: jobs stay at the sf0.001 ceilings") {
    // Spark jobs per query (construction + noop write, second pass) at
    // sf0.001, as counted when these artifacts were shared through a
    // global memo registry; a call site that loses its eager checkpoint
    // recomputes the artifact for each consumer and launches more
    val ceiling = Map(
      "dedup_clusters" -> 46, "pipeline_curate" -> 60, "lsh_tune" -> 29,
      "dedup_recall" -> 29, "ann_ivfpq_persisted" -> 14, "ann_recall" -> 21)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SessionSweep.drainListenerBus(sc)
    sc.addSparkListener(counter)
    val seen = try ceiling.keys.toSeq.sorted.map { name =>
      // warm pass first, like ProbeJobs: first-touch work (schema reads,
      // staging dirs) must not land in the counted pass
      val counts = Seq("warm", "counted").map { _ =>
        harness.run { s =>
          SessionSweep.drainListenerBus(sc)
          jobs.set(0)
          SparkEntry.queries(name)(s, Sf0001)
            .write.mode("overwrite").format("noop").save()
          SessionSweep.drainListenerBus(sc)
          jobs.get
        }
      }
      name -> counts.last
    }.toMap finally sc.removeSparkListener(counter)
    info(s"jobs per query: $seen")
    val over = seen.filter { case (q, n) => n > ceiling(q) }
    assert(over.isEmpty, s"more jobs than the memo-registry shape: $over " +
      s"(ceiling $ceiling)")
  }

  test("clusters and pipeline_keep agree on every cluster id") {
    TransientCache.releaseAll(spark)
    val clusters = Dedup.clusters(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keep = Pipeline.keep(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(clusters == keep.map(identity),
      "keep-set cluster ids must equal the cluster table's")
    TransientCache.releaseAll(spark)
  }

  test("clusters accepts a caller-supplied pair set") {
    val s = spark
    import s.implicits._
    // a 4-node path 1-2, 2-3 plus isolated 4 — via the pairs parameter the
    // similarity join is bypassed entirely
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc1", "doc2")
    val labels = Dedup.clusters(spark, Sf0001, pairs = Some(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    // docs untouched by the supplied edges keep themselves as cluster id
    assert(labels.filterNot(kv => Set(1L, 2L, 3L)(kv._1)).forall(kv => kv._1 == kv._2))
    TransientCache.releaseAll(spark)
  }
}
