package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-hygiene registry for operator-internal caches.
  *
  * Several operators materialize an intermediate exactly because it is
  * consumed more than once within one logical query (the ANN corpus feeds the
  * sizing count AND both join sides; MinHash signatures feed banding AND both
  * verification joins; label propagation pins each round to a flat plan).
  * Those blocks are needed while the caller's action runs — the operator has
  * no post-action hook — so a bare `.cache()` would leak them for the life of
  * the session. In a long-lived session (a bench sweep, a notebook, a 100 TB
  * multi-query job) the leaked blocks squeeze execution memory and drive GC;
  * that is the failure mode, not a single query's plan.
  *
  * Every intermediate lives for one query only, like the reference's
  * `mr-X-Y` files that one job writes and reads: an artifact with several
  * consumers in a query is built once, where the query makes it, as a local
  * value (an eager [[checkpoint]] for a frame), and nothing is shared across
  * queries.
  *
  * Contract: operators route every internal materialization through
  * [[cache]] / [[checkpoint]]; a harness (Bench, Verify, tests, or a user's
  * job runner) calls [[releaseAll]] once the query's results are off the
  * session — dropping every registered block in one sweep. The sweep is safe
  * at any time: unpersist only discards blocks, and any still-lazy plan
  * recomputes from lineage (localCheckpoints are materialized eagerly before
  * registration, so their consumers hold real rows, not lineage).
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

  /** Eager `localCheckpoint` + register its persisted RDD for release.
    * (A checkpointed Dataset's blocks live on an internal RDD that
    * `Dataset.unpersist` does not touch, so we track the RDD id itself.)
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(true)
    (sc.getPersistentRDDs.keySet -- before).foreach(id => rddIds.add(id))
    out
  }

  /** Register already-persisted RDD ids (e.g. an operator's own tracked
    * localCheckpoint) for the next [[releaseAll]] sweep.
    */
  def adoptRddIds(ids: Iterable[Int]): Unit =
    ids.foreach(id => rddIds.add(id))

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
