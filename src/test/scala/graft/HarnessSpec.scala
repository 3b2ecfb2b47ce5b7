package graft

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.Jsonl
import graft.streaming.EventStreams

/** The per-query hygiene contract of [[Harness.run]]: whatever a query does
  * to the session — mutate conf, register transient caches, throw — the
  * next query starts from the session-start state, so Verify's dump and
  * Bench's timings cannot depend on query order.
  */
class HarnessSpec extends AnyFunSuite {
  import TestSpark._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The files a query's result reads that are not fixture files: what the
    * query staged on disk for its own consumer.
    */
  private def stagedFiles(df: DataFrame): Seq[File] =
    df.inputFiles.toSeq.map(f => new File(new java.net.URI(f).getPath))
      .filterNot(_.getPath.startsWith(Sf0001))

  /** `temporary-*` and `graft-*` dirs in the JVM temp dir and the local
    * dirs, and one level down in their `spark-*` scratch roots: where Spark
    * puts a stream's temporary checkpoint and the session's staged dirs.
    */
  private def scratchDirs: Set[String] = {
    val roots = sys.env.get("SPARK_LOCAL_DIRS").toSeq.flatMap(_.split(",")) ++
      spark.conf.getOption("spark.local.dir").toSeq.flatMap(_.split(",")) :+
      System.getProperty("java.io.tmpdir")
    def dirs(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory)
    roots.distinct.map(new File(_)).flatMap { r =>
      dirs(r) ++ dirs(r).filter(_.getName.startsWith("spark-")).flatMap(dirs)
    }.filter(d => Seq("temporary-", "graft-").exists(d.getName.startsWith))
      .map(_.getPath).toSet
  }

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
    val dir = scratchDir("harness-leak").toString
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

  test("a run leaves no staged file behind, after success or a throw") {
    val scratch = scratchDirs
    val staged = Seq("dedup_incremental2", "ann_ivfpq_persisted", "docs_jsonl",
        "q25_stream_window").map { name =>
      name -> harness.run { s =>
        val df = SparkEntry.queries(name)(s, Sf0001)
        val files = stagedFiles(df)
        assert(files.nonEmpty && files.forall(_.exists),
          s"$name: its result reads no staged file")
        df.write.mode("overwrite").format("noop").save()
        files
      }
    } :+ ("a throwing run" -> {
      var files = Seq.empty[File]
      intercept[IllegalStateException] {
        harness.run { s =>
          files = stagedFiles(Jsonl.documentsViaJsonl(s, Sf0001))
          assert(files.nonEmpty && files.forall(_.exists))
          throw new IllegalStateException("query failed after staging")
        }
      }
      files
    })
    staged.foreach { case (name, files) =>
      val left = (files ++ files.map(_.getParentFile)).distinct.filter(_.exists)
      assert(left.isEmpty, s"$name: staged files left after the run: $left")
    }
    assert(scratchDirs -- scratch == Set.empty[String],
      "runs left checkpoint or staged dirs behind")
  }

  test("a stream whose batch throws leaves no checkpoint or staged dir") {
    val scratch = scratchDirs
    val boom = udf { (l: Long) =>
      if (l >= 0L) throw new RuntimeException("batch boom"); true
    }
    intercept[Exception] {
      harness.run { s =>
        EventStreams.runStagedViaFiles(s, Sf0001, "harness-boom", input =>
          EventStreams.windowedCounts(EventStreams.readEvents(s, input, Sf0001)
            .filter(boom(col("user_id")))))
      }
    }
    val left = scratchDirs -- scratch
    assert(left.isEmpty, s"the failed stream left dirs behind: $left")
  }

  test("Verify's dump is byte-identical under either query order") {
    // q25 is the streaming twin of q15: it mutates session conf (the
    // nanosAsLong reader flag, the state-partition count) and loads state
    // stores, then q15 reads the same events as a batch query; the dedup
    // digest store and the IVFPQ index are staged on disk by their query
    val names = Seq("q25_stream_window", "q15_events_window",
      "dedup_incremental", "ann_ivfpq_persisted")
    def dumpBytes(order: Seq[String]): Map[String, Seq[Array[Byte]]] = {
      val out = scratchDir("harness-verify")
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
