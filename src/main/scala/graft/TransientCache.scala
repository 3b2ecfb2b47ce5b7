package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-hygiene registry for operator-internal caches and checkpoints.
  *
  * Several operators materialize an intermediate exactly because it is
  * consumed more than once within one logical query (the ANN corpus feeds the
  * sizing count AND both join sides; MinHash signatures feed banding AND both
  * verification joins; label propagation and the Graph loops pin each round
  * to a flat plan). Those blocks are needed while the caller's action runs —
  * the operator has no post-action hook — so a bare `.cache()` or
  * `localCheckpoint` would leak them for the life of the session. In a
  * long-lived session (a bench sweep, a notebook, a 100 TB multi-query job)
  * the leaked blocks squeeze execution memory and drive GC; that is the
  * failure mode, not a single query's plan.
  *
  * Every intermediate lives for one query only, like the reference's
  * `mr-X-Y` files that one job writes and reads: an artifact with several
  * consumers in a query is built once, where the query makes it, as a local
  * value (a [[checkpoint]] for a frame), and nothing is shared across
  * queries.
  *
  * Contract: this object is the only code under `src/main` that pins a
  * block. [[cache]] and [[checkpoint]] register what they pin as they pin
  * it, so a query that throws halfway through a loop leaves nothing the
  * sweep cannot see. A loop may [[unpin]] a round its successor has
  * superseded; a harness (Bench, Verify, tests, or a user's job runner)
  * calls [[releaseAll]] once the query's results are off the session,
  * dropping every block still registered in one sweep. The sweep is safe at
  * any time: unpersist only discards blocks, and any still-lazy plan
  * recomputes from lineage.
  */
object TransientCache {

  private val frames = new ConcurrentLinkedQueue[DataFrame]()
  private val rddIds = new ConcurrentLinkedQueue[Integer]()

  /** `.cache()` + register for the next [[releaseAll]] sweep. */
  def cache(df: DataFrame): DataFrame = {
    val c = df.cache()
    frames.add(c)
    c
  }

  /** `localCheckpoint` at `level` + register its persisted RDD for release.
    * Eager by default; a lazy checkpoint materializes with the first action
    * over it. A checkpointed Dataset's blocks live on an internal RDD that
    * `Dataset.unpersist` does not touch, so the RDD id itself is tracked —
    * in a `finally`, so a failed eager materialization is swept too.
    */
  def checkpoint(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      eager: Boolean = true): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try df.localCheckpoint(eager, level)
    finally (sc.getPersistentRDDs.keySet -- before).foreach(id => rddIds.add(id))
  }

  /** Drop the blocks of a frame [[checkpoint]] returned, ahead of the sweep:
    * a loop round its successor has superseded. The id stays registered;
    * [[releaseAll]] skips ids that are no longer persisted.
    */
  def unpin(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(false)
    case p => throw new IllegalArgumentException(
      s"unpin takes a frame checkpoint returned, got ${p.nodeName}")
  }

  /** Drop every registered cache and checkpoint block. Harness-facing.
    * Entries from an already-stopped session are discarded silently (a test
    * harness may cycle sessions between queries).
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
  }
}
