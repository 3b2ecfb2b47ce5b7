package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.util.Utils

/** Post-streaming session hygiene for long-lived multi-query sessions.
  *
  * A stopped streaming query does NOT release its executor-side state: in
  * local mode every HDFSBackedStateStoreProvider the query loaded stays in
  * `StateStore`'s provider registry (keyed maps of UnsafeRow state, one per
  * store partition per stateful operator), pinned until the background
  * maintenance task eventually decides to unload it — minutes later, on its
  * own schedule. A bench session that runs a block of stateful streaming
  * queries (q33–q56) therefore carries tens of thousands of dead state rows
  * into whatever runs NEXT, and the first allocation-heavy query after the
  * block pays the full-GC bill for all of them. BENCH_r10's
  * q3_join_broadcast 4.6× regression (alphabetically the first batch query
  * after the q33–q39 streaming run) is this exact fingerprint — the same
  * post-streaming GC bleed SCALE.md's round-4 root-cause first documented.
  *
  * [[sweepStreamingState]] makes the teardown deterministic instead of
  * maintenance-scheduled: if any state store was loaded this session, stop
  * the maintenance task and close/unload every provider NOW (the next
  * streaming query transparently re-registers maintenance on its first
  * store load — `StateStore.get` restarts it), and report `true` so the
  * caller can follow with a GC while still outside any timed window. Lives
  * under org.apache.spark.sql because the provider registry is
  * private[sql] surface.
  */
object SessionSweep {

  /** Unload all loaded state-store providers; returns whether streaming
    * state likely existed (callers gate a System.gc on it). `stop()` runs
    * UNCONDITIONALLY — it is cheap and idempotent when nothing is loaded —
    * because `isMaintenanceRunning` is only a proxy for "providers loaded":
    * the maintenance task self-terminates on fatal errors while the
    * provider registry (private to StateStore, not probeable from here)
    * keeps its entries, and gating on the flag would skip exactly those
    * leaked providers. The flag still decides the follow-up GC, where a
    * false negative costs one delayed collection, not a leak.
    */
  def sweepStreamingState(): Boolean = {
    val hadMaintenance = StateStore.isMaintenanceRunning
    StateStore.stop()
    hadMaintenance
  }

  /** Test probe: whether the state-store maintenance task is live. The
    * flag is `private[sql]` surface, so graft-side specs (BenchSpec) read
    * it through this forwarder to pin the sweep's contract — true after a
    * stateful streaming query, false after [[sweepStreamingState]].
    */
  def maintenanceRunning: Boolean = StateStore.isMaintenanceRunning

  /** Block until the listener bus has delivered every queued event —
    * `listenerBus` is `private[spark]`, so dev probes (ProbeJobs) reach it
    * through this forwarder instead of racing a fixed sleep against the
    * event queue on a loaded machine.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Spark's own scratch-dir pair (`private[spark]` surface), for
    * `graft.TransientCache.stageDir` and its sweep: a fresh
    * `<prefix>-<uuid>` dir under one of the application's local dirs,
    * registered for deletion at JVM exit, and the recursive delete that also
    * unregisters it.
    */
  def createTempDir(sc: SparkContext, prefix: String): java.io.File =
    Utils.createTempDir(Utils.getLocalDir(sc.conf), prefix)

  def deleteRecursively(dir: java.io.File): Unit = Utils.deleteRecursively(dir)

  /** A fresh `<prefix>-<uuid>` dir under `java.io.tmpdir`, deleted at JVM
    * exit: the same Spark call, for dirs made before (or without) a
    * `SparkContext` — the session's warehouse and the specs' scratch dirs.
    */
  def exitScopedDir(prefix: String): java.io.File = Utils.createTempDir(namePrefix = prefix)
}
