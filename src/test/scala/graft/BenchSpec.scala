package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graftshim.SessionSweep

/** Pins the bench session-hygiene contract [[graft.Bench]] relies on (the
  * round-11 fix for the post-streaming GC bleed — BENCH_r10's
  * q3_join_broadcast 4.6× regression, SCALE.md round-4 fingerprint):
  *
  *   1. a stateful streaming query leaves the state-store maintenance task
  *      live (the provider registry holds the stopped query's state);
  *   2. [[SessionSweep.sweepStreamingState]] tears it down deterministically
  *      and reports true exactly when there was something to sweep;
  *   3. the sweep is idempotent (second call false, no throw) — the
  *      unconditional `StateStore.stop()` path must be safe on a clean
  *      session, since Bench now calls it in a finally after EVERY query;
  *   4. a SUBSEQUENT streaming query still runs correctly — `StateStore.get`
  *      re-registers maintenance on its first store load, the load-bearing
  *      claim in SessionSweep's docstring that a Spark upgrade could
  *      silently break.
  */
class BenchSpec extends AnyFunSuite {
  import TestSpark._

  private def runStatefulStreamingQuery(): Long =
    // q38_stream_active: a keyed streaming aggregation (flatMapGroupsWithState
    // + downstream agg) — loads HDFS-backed state-store providers.
    graft.streaming.EventStreams.activeQuery(spark, Sf0001).count()

  test("sweepStreamingState tears down post-streaming state and re-arms") {
    // Start from a swept session regardless of suite ordering.
    SessionSweep.sweepStreamingState()
    assert(!SessionSweep.maintenanceRunning)

    // (3) idempotent on a clean session: no state → false, no throw.
    assert(!SessionSweep.sweepStreamingState())

    // (1) a stateful streaming query arms maintenance...
    val n1 = runStatefulStreamingQuery()
    assert(n1 > 0)
    assert(SessionSweep.maintenanceRunning,
      "stateful streaming query should leave the maintenance task live")

    // (2) ...and the sweep reports it swept something and leaves it down.
    assert(SessionSweep.sweepStreamingState())
    assert(!SessionSweep.maintenanceRunning)
    assert(!SessionSweep.sweepStreamingState())

    // (4) the next streaming query transparently re-registers maintenance on
    // its first store load and produces the same (deterministic) answer.
    val n2 = runStatefulStreamingQuery()
    assert(n2 == n1)
    assert(SessionSweep.maintenanceRunning,
      "StateStore.get must re-register maintenance after a sweep")
    assert(SessionSweep.sweepStreamingState())
  }

  test("bench-artifact rule: the latest official round's full dump is committed") {
    // The driver's per-round BENCH_r{N}.json captures only the TAIL of the
    // stdout line; the full dump lands in target/bench_local.json and MUST
    // be committed as BENCH_LOCAL_r{N}.json at the next round's start so
    // every round can diff every query (the rule slipped in r10, r11 AND
    // r12 — this spec makes it mechanical). The check reads the GIT INDEX,
    // not the working directory (r13 advice): the official dump lands as an
    // UNTRACKED file mid-round, and the rule is about what is COMMITTED —
    // a working-directory scan would fail a clean checkout of HEAD over a
    // stray untracked BENCH_r{N}.json. If git is unavailable, fall back to
    // the directory listing (stricter, never weaker).
    val repo = new java.io.File(".").getCanonicalFile
    val tracked: Option[Set[String]] =
      try {
        val p = new ProcessBuilder("git", "ls-files").directory(repo).start()
        val out = scala.io.Source.fromInputStream(p.getInputStream)
          .getLines().toSet
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: java.io.IOException => None }
    def roundsOf(prefix: String): Set[Int] =
      tracked.getOrElse(
        Option(repo.listFiles()).getOrElse(Array.empty).toSeq
          .map(_.getName).toSet)
        .collect { case n if n.startsWith(prefix) && n.endsWith(".json") =>
          n.stripPrefix(prefix).stripSuffix(".json") }
        .flatMap(_.toIntOption)
        .toSet
    val official = roundsOf("BENCH_r").filter(_ >= 12)
    val local = roundsOf("BENCH_LOCAL_r")
    val missing = official -- local
    assert(missing.isEmpty,
      s"round(s) ${missing.toSeq.sorted.mkString(", ")} ran an official bench " +
        "but BENCH_LOCAL_r{N}.json was never committed — cp the full dump " +
        "(target/bench_local.json from that run) FIRST, before any code change; " +
        "if that file is gone, the dump is BENCH_r{N}.json's .parsed object " +
        "re-serialized in Bench's line format (compact JSON, Bench's key order, " +
        "every number %.3f)")
  }

  test("bench dump schema: calib_windows present and sane from r15 on") {
    // Round 15: Bench interleaves single-shot machine-speed probes between
    // queries (outside all timed windows) and emits them as
    // `calib_windows` so a mid-run load spike adjudicates itself — four
    // rounds (r08/r12/r13/r14) a spike cost a manual three-full-rerun
    // protocol. This pins the field for every committed full dump from r15
    // on: present, non-empty, indices strictly increasing, probe times
    // positive. Dropping the field (or emitting garbage) must fail the
    // suite, not silently revert adjudication to the manual protocol.
    // Dump files resolve through the GIT INDEX like the committed-dump rule
    // above (r15 advice: the contract is about COMMITTED dumps — a stray
    // untracked/in-progress dump mid-round must not fail the suite);
    // directory-listing fallback when git is unavailable.
    val repo = new java.io.File(".").getCanonicalFile
    val tracked: Option[Set[String]] =
      try {
        val p = new ProcessBuilder("git", "ls-files").directory(repo).start()
        val out = scala.io.Source.fromInputStream(p.getInputStream)
          .getLines().toSet
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: java.io.IOException => None }
    val names = tracked.getOrElse(
      Option(repo.listFiles()).getOrElse(Array.empty).toSeq
        .map(_.getName).toSet)
    val dumps = names.toSeq
      .filter(n => n.startsWith("BENCH_LOCAL_r") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("BENCH_LOCAL_r")
        .stripSuffix(".json").toIntOption.map(_ -> new java.io.File(repo, n)))
      .filter { case (r, f) => r >= 15 && f.isFile }
    dumps.foreach { case (n, f) =>
      val txt = {
        val src = scala.io.Source.fromFile(f)
        try src.mkString finally src.close()
      }
      val cw = """"calib_windows":\[(.*?)\]""".r.findFirstMatchIn(txt)
      assert(cw.isDefined,
        s"BENCH_LOCAL_r$n.json lacks calib_windows — Bench.scala regressed")
      val entries = """\{"i":(\d+),"after":"[^"]+","sec":(-?[0-9.]+)\}""".r
        .findAllMatchIn(cw.get.group(1)).toSeq
      assert(entries.nonEmpty, s"BENCH_LOCAL_r$n.json calib_windows empty")
      val is = entries.map(_.group(1).toInt)
      assert(is == is.sorted && is.distinct == is,
        s"BENCH_LOCAL_r$n.json calib window indices not strictly increasing: $is")
      assert(entries.forall(_.group(2).toDouble > 0.0),
        s"BENCH_LOCAL_r$n.json has a non-positive calib probe")
      // queries_norm (round 16): the probe-normalized diagnostic view —
      // present from r16 dumps on, same key set as "queries", each entry
      // either -1 (failed, mirroring raw) or positive. Raw stays the grade;
      // this pin only stops the field from silently disappearing or
      // desynchronizing from the query set.
      if (n >= 16) {
        def keysOf(field: String): Option[Set[String]] =
          (s""""$field":\\{(.*?)\\}""").r.findFirstMatchIn(txt).map(m =>
            """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(m.group(1))
              .map(_.group(1)).toSet)
        val raw = keysOf("queries")
        val norm = keysOf("queries_norm")
        assert(norm.isDefined,
          s"BENCH_LOCAL_r$n.json lacks queries_norm — Bench.scala regressed")
        assert(norm == raw,
          s"BENCH_LOCAL_r$n.json queries_norm keys != queries keys")
        val normVals = """"queries_norm":\{(.*?)\}""".r
          .findFirstMatchIn(txt).get.group(1)
        val vals = """:(-?[0-9.]+)""".r.findAllMatchIn(normVals)
          .map(_.group(1).toDouble).toSeq
        assert(vals.forall(v => v > 0.0 || v == -1.0),
          s"BENCH_LOCAL_r$n.json queries_norm has a non-positive non-failed entry")
      }
    }
  }
}
