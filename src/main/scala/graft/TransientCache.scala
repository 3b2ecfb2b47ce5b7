package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.SessionSweep
import org.apache.spark.storage.StorageLevel

/** The per-query scope of every operator-internal intermediate: cached and
  * checkpointed blocks, and staged directories on disk.
  *
  * Several operators materialize an intermediate exactly because it is
  * consumed more than once within one logical query (the ANN corpus feeds the
  * sizing count AND both join sides; MinHash signatures feed banding AND both
  * verification joins; label propagation and the Graph loops pin each round
  * to a flat plan). Others write one to disk because the query's contract is
  * a round trip through a format or a store (the digest store, the persisted
  * IVFPQ index, JSONL and mrout exports, compaction inputs, stream sinks and
  * checkpoints). Those intermediates are needed while the caller's action
  * runs — the operator has no post-action hook — so a bare `.cache()`,
  * `localCheckpoint` or fixed output path would leak them for the life of
  * the session. In a long-lived session (a bench sweep, a notebook, a
  * 100 TB multi-query job) leaked blocks squeeze execution memory and drive
  * GC, and leaked files fill the scratch disks; a failed query's partial
  * output would stay behind.
  *
  * Every intermediate lives for one query only, like the reference's
  * `mr-X-Y` files that one job writes and reads: an artifact with several
  * consumers in a query is built once, where the query makes it, as a local
  * value (a [[checkpoint]] for a frame, a [[stageDir]] for files), and
  * nothing is shared across queries.
  *
  * Contract: this object is the only code under `src/main` that pins a
  * block or makes a staged directory. [[cache]], [[checkpoint]] and
  * [[stageDir]] register what they make as they make it, so a query that
  * throws halfway through leaves nothing the sweep cannot see. A loop may
  * [[unpin]] a round its successor has superseded; a harness (Bench,
  * Verify, tests, or a user's job runner) calls [[releaseAll]] once the
  * query's results are off the session, dropping every block and deleting
  * every staged directory still registered in one sweep. Dropping blocks is
  * safe at any time (a still-lazy plan recomputes from lineage); a frame
  * that reads a staged directory must be consumed before the sweep.
  */
object TransientCache {

  private val frames = new ConcurrentLinkedQueue[DataFrame]()
  private val rddIds = new ConcurrentLinkedQueue[Integer]()
  private val dirs = new ConcurrentLinkedQueue[java.io.File]()

  /** `.cache()` + register for the next [[releaseAll]] sweep. */
  def cache(df: DataFrame): DataFrame = {
    val c = df.cache()
    frames.add(c)
    c
  }

  /** `localCheckpoint` at `level` + register its persisted RDD for release.
    * Eager by default; a lazy checkpoint materializes with the first action
    * over it. A checkpointed Dataset's blocks live on an internal RDD that
    * `Dataset.unpersist` does not touch, so that RDD's id is tracked. The
    * checkpoint is taken lazily and its own RDD registered before any job
    * runs, so a failed eager materialization is swept too, and a cache the
    * caller made (and first filled inside this job) is never registered.
    */
  def checkpoint(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      eager: Boolean = true): DataFrame = {
    val cp = df.localCheckpoint(false, level)
    val rdd = rddOf(cp)
    rddIds.add(rdd.id)
    if (eager) rdd.count()
    cp
  }

  /** Drop the blocks of a frame [[checkpoint]] returned, ahead of the sweep:
    * a loop round its successor has superseded, or a sink's input once its
    * write has returned. The id stays registered;
    * [[releaseAll]] skips ids that are no longer persisted.
    */
  def unpin(df: DataFrame): Unit = rddOf(df).unpersist(false): Unit

  private def rddOf(df: DataFrame): RDD[_] = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case p => throw new IllegalArgumentException(
      s"unpin takes a frame checkpoint returned, got ${p.nodeName}")
  }

  /** A fresh, empty directory `graft-<label>-<uuid>` for the calling query,
    * registered for the next [[releaseAll]] sweep. It lives under one of the
    * application's local dirs (`spark.local.dir`, the scratch disks) and is
    * also registered for deletion at JVM exit, so not even a session that
    * never sweeps leaves it behind.
    */
  def stageDir(s: SparkSession, label: String): String = {
    val d = SessionSweep.createTempDir(s.sparkContext, s"graft-$label")
    dirs.add(d)
    d.getPath
  }

  /** Drop every registered cache and checkpoint block and delete every
    * registered staged directory. Harness-facing. Entries from an
    * already-stopped session are discarded silently (a test harness may
    * cycle sessions between queries).
    */
  def releaseAll(spark: SparkSession): Unit = {
    var df = frames.poll()
    while (df != null) {
      try df.unpersist(false) catch { case NonFatal(_) => () }
      df = frames.poll()
    }
    val live = spark.sparkContext.getPersistentRDDs
    var id = rddIds.poll()
    while (id != null) {
      try live.get(id.intValue()).foreach(_.unpersist(false))
      catch { case NonFatal(_) => () }
      id = rddIds.poll()
    }
    var dir = dirs.poll()
    while (dir != null) {
      try SessionSweep.deleteRecursively(dir) catch { case NonFatal(_) => () }
      dir = dirs.poll()
    }
  }
}
