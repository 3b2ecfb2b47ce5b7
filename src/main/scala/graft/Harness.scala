package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.SessionSweep

import graft.functions.GraftExtensions

/** The one way to build a session and run a query: every main (Bench,
  * Verify, PlanDump, the Probe* measurement mains) and the test session go
  * through it, so a query's result and timing cannot depend on which entry
  * point ran it or on what ran before it.
  *
  * A [[Harness]] wraps one session and snapshots its conf at construction;
  * [[run]] executes one query and, in a `finally`, applies the per-query
  * hygiene contract:
  *   1. [[TransientCache.releaseAll]] — drop the query's operator-internal
  *      caches and checkpoints and delete its staged directories, so no run
  *      free-rides on a previous run's blocks and neither storage nor scratch
  *      disk can accumulate over a 194-query session;
  *   2. restore the session conf to the construction snapshot (e.g. the
  *      streaming reader's nanosAsLong flag), so no query perturbs another's
  *      environment;
  *   3. [[SessionSweep.sweepStreamingState]] — unload the state-store
  *      providers a stopped streaming query leaves pinned until background
  *      maintenance gets to them (BENCH_r10: q3_join_broadcast 4.6×, the
  *      first batch query after the q33–q39 streaming block);
  *   4. a `System.gc()` after a streaming sweep or when the heap is past
  *      60 % — dead broadcasts are reapable only after a GC (weak refs plus
  *      the ContextCleaner), and a 54-query sf10 wave OOM'd a 24g heap with
  *      every query passing in isolation.
  * The cleanup runs on the failure path too: a query that throws after
  * mutating conf or loading state stores is exactly where contamination
  * would otherwise go unswept.
  */
final class Harness(val spark: SparkSession) {
  private[graft] val confSnapshot: Map[String, String] = spark.conf.getAll

  /** Run one query against this harness's session, then sweep. */
  def run[T](body: SparkSession => T): T =
    try body(spark)
    finally {
      TransientCache.releaseAll(spark)
      restoreConf()
      val rt = Runtime.getRuntime
      if (SessionSweep.sweepStreamingState()
          || rt.totalMemory() - rt.freeMemory() > rt.maxMemory() / 10L * 6L)
        System.gc()
    }

  private def restoreConf(): Unit = {
    val now = spark.conf.getAll
    for (k <- now.keySet ++ confSnapshot.keySet) {
      (confSnapshot.get(k), now.get(k)) match {
        case (Some(v0), Some(v1)) if v0 != v1 => spark.conf.set(k, v0)
        case (Some(v0), None) => spark.conf.set(k, v0)
        case (None, Some(_)) => try spark.conf.unset(k) catch { case NonFatal(_) => () }
        case _ => ()
      }
    }
  }
}

object Harness {
  /** Executor threads: `SPARK_GRAFT_CPUS`, else every core of this JVM. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every entry point shares: `local[cores]` (with
    * `maxFailures` task attempts when above 1), one shuffle partition per
    * core, UTC, no UI, WARN logging, and [[GraftExtensions]] (graft's SQL
    * functions, the array-dot rewrite and the as-of join strategy) from its
    * first query on. Its warehouse is a private `graft-warehouse-*` dir
    * under `java.io.tmpdir`, deleted at JVM exit. `getOrCreate` returns a
    * live active or default session unchanged, so a caller that needs a
    * fresh one clears both first (as the test session `TestSpark` does).
    */
  def session(cores: Int = cpus, maxFailures: Int = 1): SparkSession = {
    val master =
      if (maxFailures > 1) s"local[$cores, $maxFailures]" else s"local[$cores]"
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        SessionSweep.exitScopedDir("graft-warehouse").toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A harness over a fresh [[session]] with the default core count. */
  def apply(): Harness = new Harness(session())
}
