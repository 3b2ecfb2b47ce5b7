package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.SessionSweep
import org.apache.spark.sql.types.StructType

import graft.streaming.EventStreams

/** Pins the adaptive state sizing and state-backend switch in
  * `EventStreams.runStagedViaFiles` (round 15 — the sf1000 probe's q58 fix,
  * specced round 16 per the r15 verdict):
  *
  *   (a) an ENTITY-KEYED stream (boundedState = false) whose staged input
  *       crosses the byte threshold runs with the RocksDB provider conf set
  *       (and actually completes through RocksDB);
  *   (b) `boundedState = true` keeps the in-heap default at ANY input size
  *       (the q57 lesson: the first byte-only cut taxed a 10-row histogram
  *       28.2 → 150.1 s at sf1000);
  *   (c) the provider conf is restored to its pre-call value after
  *       completion AND after a mid-stream failure;
  *   (d) the state-partition count comes from the staged bytes alone (one
  *       store for a KB-scale fixture) and is restored the same way;
  *   (e) a failure in the setup steps (here a non-numeric threshold)
  *       restores the conf and leaves no staged copy behind (the input is
  *       streamed in place, so none is made);
  *   (f) the result is read back with the stream's own schema, and the
  *       input is read with the source file's cached schema: the run costs
  *       its one batch job and no inference job.
  *
  * The threshold is driven through its session-conf override
  * (`RocksDbStagedBytesConf`) so a KB-scale fixture exercises both sides of
  * the comparison the 12.5 GB sf1000 file hit for real.
  *
  * Note `spark.conf.getOption` on a SQLConf-REGISTERED key returns the
  * key's DEFAULT, not None — so "in-heap" is observed as the HDFS-backed
  * default class and "restored" is before/after equality of `conf.get`,
  * the value every subsequent stream in the session actually resolves.
  */
class StateBackendSpec extends AnyFunSuite {
  import TestSpark._

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val InHeapProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private val PartsConf = "spark.sql.shuffle.partitions"

  /** Runs `runStagedViaFiles` over the sf0.001 events fixture, recording the
    * provider conf and the state-partition count observed at BUILD time
    * (after the switches decide, before the stream starts — the values the
    * stream is constructed under).
    */
  private def runObserving(boundedState: Boolean,
      failing: Boolean = false): (String, String, Option[DataFrame]) = {
    var seen: String = null
    var seenParts: String = null
    val build: String => DataFrame = { staged =>
      seen = spark.conf.get(EventStreams.StateProviderConf)
      seenParts = spark.conf.get(PartsConf)
      val ev = EventStreams.readEvents(spark, staged, Sf0001)
      val src = if (failing) {
        val boom = udf { (l: Long) =>
          if (l >= 0L) throw new RuntimeException("mid-stream boom"); true
        }
        ev.filter(boom(col("user_id")))
      } else ev
      EventStreams.windowedCounts(src)
    }
    val out =
      if (failing) {
        intercept[Exception] {
          EventStreams.runStagedViaFiles(spark, Sf0001, "sbs-fail", build,
            boundedState = boundedState)
        }
        None
      } else Some(EventStreams.runStagedViaFiles(spark, Sf0001, "sbs-ok",
        build, boundedState = boundedState))
    (seen, seenParts, out)
  }

  private def withThreshold(bytes: Long)(body: => Unit): Unit = {
    spark.conf.set(EventStreams.RocksDbStagedBytesConf, bytes.toString)
    try body
    finally spark.conf.unset(EventStreams.RocksDbStagedBytesConf)
  }

  test("entity-keyed stream past the threshold runs under RocksDB and restores the default") {
    val before = spark.conf.get(EventStreams.StateProviderConf)
    assert(before == InHeapProvider, s"unexpected session default: $before")
    withThreshold(1L) {
      val (seen, _, out) = runObserving(boundedState = false)
      assert(seen == RocksDbProvider,
        s"provider conf at stream build was $seen — the switch did not fire")
      assert(out.get.count() > 0, "stream produced no rows through RocksDB")
    }
    assert(spark.conf.get(EventStreams.StateProviderConf) == before,
      "provider conf leaked past the run")
  }

  test("boundedState keeps the in-heap default at any input size") {
    withThreshold(1L) {
      val (seen, _, out) = runObserving(boundedState = true)
      assert(seen == InHeapProvider,
        s"boundedState=true still switched the provider: $seen")
      assert(out.get.count() > 0)
    }
  }

  test("below the threshold the entity-keyed stream stays in-heap") {
    // no override: the default threshold is 4 GB, the fixture is KBs
    val (seen, _, out) = runObserving(boundedState = false)
    assert(seen == InHeapProvider,
      s"KB-scale input switched the provider: $seen")
    assert(out.get.count() > 0)
  }

  test("provider conf is restored after a mid-stream failure") {
    val before = spark.conf.get(EventStreams.StateProviderConf)
    withThreshold(1L) {
      val (seen, _, _) = runObserving(boundedState = false, failing = true)
      assert(seen == RocksDbProvider)
      assert(spark.conf.get(EventStreams.StateProviderConf) == before,
        "provider conf leaked past a failed run")
    }
  }

  test("an explicitly-set prior provider conf is restored, not clobbered") {
    // a VALID prior (streams genuinely run under whatever is set here):
    // explicit in-heap — distinguishable from the switch's RocksDB value
    spark.conf.set(EventStreams.StateProviderConf, InHeapProvider)
    try withThreshold(1L) {
      val (seen, _, _) = runObserving(boundedState = false)
      assert(seen == RocksDbProvider,
        "switch must overwrite DURING the run even with a caller-set conf")
      assert(spark.conf.get(EventStreams.StateProviderConf) == InHeapProvider,
        "caller's explicit provider conf not restored after the run")
    } finally spark.conf.unset(EventStreams.StateProviderConf)
  }

  test("stateParts: one partition per 64 MiB of staged bytes, capped at 32") {
    val MiB = 1L << 20
    assert(EventStreams.stateParts(0L) == 1)
    assert(EventStreams.stateParts(64 * MiB - 1) == 1)
    assert(EventStreams.stateParts(64 * MiB) == 2)
    assert(EventStreams.stateParts(1536 * MiB) == 25) // 1.5 GiB
    assert(EventStreams.stateParts(12500000000L) == 32) // 12.5 GB: the cap
  }

  test("the KB-scale fixture runs with one state partition; the count is restored") {
    val before = spark.conf.get(PartsConf)
    assert(before != "1", "session default must differ from the expected count")
    val (_, parts, out) = runObserving(boundedState = true)
    assert(parts == "1", s"state partitions at stream build were $parts")
    assert(out.get.count() > 0)
    assert(spark.conf.get(PartsConf) == before, "partition count leaked past the run")
    val (_, failParts, _) = runObserving(boundedState = true, failing = true)
    assert(failParts == "1")
    assert(spark.conf.get(PartsConf) == before,
      "partition count leaked past a failed run")
  }

  test("a setup failure restores the conf and leaves no staged copy") {
    val prefix = "sbs-nfe"
    def stagedDirs: Set[String] =
      Option(new File(System.getProperty("java.io.tmpdir")).list())
        .fold(Set.empty[String])(_.filter(_.startsWith(s"$prefix-staged")).toSet)
    val leftBefore = stagedDirs
    val partsBefore = spark.conf.get(PartsConf)
    spark.conf.set(EventStreams.RocksDbStagedBytesConf, "x")
    try intercept[NumberFormatException] {
      EventStreams.runStagedViaFiles(spark, Sf0001, prefix,
        staged => EventStreams.windowedCounts(EventStreams.readEvents(spark, staged, Sf0001)))
    } finally spark.conf.unset(EventStreams.RocksDbStagedBytesConf)
    assert(spark.conf.get(PartsConf) == partsBefore,
      "partition count leaked past a setup failure")
    assert((stagedDirs -- leftBefore).isEmpty,
      "staged copy leaked past a setup failure")
  }

  test("the result is read back with the stream's schema: 1 batch job, no probe") {
    // readEvents takes `ts`'s type from Tables' schema of the source file,
    // inferred at most once per JVM: warm it so the count is the run's own
    graft.sources.Tables.schema(spark, Sf0001, "events")
    var built: StructType = null
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    SessionSweep.drainListenerBus(sc)
    sc.addSparkListener(counter)
    val out = try {
      val df = EventStreams.runStagedViaFiles(spark, Sf0001, "sbs-readback", { staged =>
        val stream = EventStreams.windowedCounts(EventStreams.readEvents(spark, staged, Sf0001))
        built = stream.schema
        stream
      }, boundedState = true)
      SessionSweep.drainListenerBus(sc)
      df
    } finally sc.removeSparkListener(counter)
    assert(out.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      built.fields.map(f => f.name -> f.dataType).toSeq)
    // the one AvailableNow batch: no schema probe of the staged copy, no
    // footer inference of the result
    assert(jobs.get == 1, s"runStagedViaFiles launched ${jobs.get} jobs")
    assert(out.count() > 0)
  }
}
