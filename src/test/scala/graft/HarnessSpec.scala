package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The per-query hygiene contract of [[Harness.run]]: whatever a query does
  * to the session — mutate conf, register transient caches, throw — the
  * next query starts from the session-start state, so Verify's dump and
  * Bench's timings cannot depend on query order.
  */
class HarnessSpec extends AnyFunSuite {
  import TestSpark._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("run restores conf and drops the body's caches when the body throws") {
    val h = harness
    val before = persistedIds
    val err = intercept[IllegalStateException] {
      h.run { s =>
        s.conf.set("spark.graft.harnessSpec.probe", "mutated")
        s.conf.set("spark.sql.shuffle.partitions", "7")
        TransientCache.cache(s.range(1000).toDF("id")).count()
        assert((persistedIds -- before).nonEmpty,
          "the body's cached frame should be live inside run")
        throw new IllegalStateException("query failed")
      }
    }
    assert(err.getMessage == "query failed")
    assert(spark.conf.getAll == h.confSnapshot)
    assert(spark.conf.getOption("spark.graft.harnessSpec.probe").isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert((persistedIds -- before).isEmpty,
      "run must drop every block the body registered")
  }

  test("a loop operator that throws mid-loop leaves no checkpoint behind") {
    // a STRING doc_id makes the label sum a DOUBLE, so the first
    // convergence action throws after the edge checkpoint and the first
    // round's label checkpoint are already pinned
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("harness-leak").toString
    (0 until 10).map(i => (i.toString, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val chain = (0 until 9).map(i => (i.toString, (i + 1).toString))
      .toDF("doc1", "doc2")
    val before = persistedIds
    intercept[ClassCastException] {
      harness.run { q => Dedup.clusters(q, dir, pairs = Some(chain)).count() }
    }
    val left = persistedIds -- before
    assert(left.isEmpty, s"checkpoints left after the sweep: $left")
  }

  test("Verify's dump is byte-identical under either query order") {
    // q25 is the streaming twin of q15: it mutates session conf (the
    // nanosAsLong reader flag, the state-partition count) and loads state
    // stores, then q15 reads the same events as a batch query
    val names = Seq("q25_stream_window", "q15_events_window")
    def dumpBytes(order: Seq[String]): Map[String, Seq[Array[Byte]]] = {
      val out = Files.createTempDirectory("harness-verify")
      Verify.dump(harness, Sf0001, out.toString, order)
      names.map { n =>
        val listing = Files.list(out.resolve(n))
        val parts = try listing.iterator.asScala.toList
          .filter(_.getFileName.toString.endsWith(".parquet"))
          finally listing.close()
        assert(parts.nonEmpty, s"$n: no parquet written")
        n -> parts.sortBy(_.getFileName.toString).map(Files.readAllBytes(_: Path))
      }.toMap
    }
    val forward = dumpBytes(names)
    val reverse = dumpBytes(names.reverse)
    names.foreach { n =>
      assert(forward(n).map(_.toSeq) == reverse(n).map(_.toSeq),
        s"$n: dump depends on query order")
    }
  }
}
