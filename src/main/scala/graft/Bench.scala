package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line `{"metric":"total","value":N,"unit":"sec",
  * "calib_windows":[{"i":16,"after":name,"sec":s},...],
  * "queries":{name:sec,...},"sf":...}` on stdout (and, if BENCH_OUT is set,
  * to that file — belt and braces against log-prefix mangling).
  *
  * Failures are NOT swallowed into plausible timings: a failed query is
  * recorded as -1 in "queries" and listed in "failed".
  *
  * `calib_windows` (round 15) are single-shot machine-speed probes taken
  * between queries, outside every timed window: a transient load spike that
  * inflates a contiguous driver-order block of queries (the r08/r12/r13/r14
  * pattern) now shows up as an elevated probe sample bracketing exactly that
  * block, so spike adjudication is mechanical instead of a three-rerun
  * manual protocol.
  *
  * `queries_norm` (round 16) applies those probes: each raw time scaled to
  * the declared reference machine speed ([[RefCalibSec]]) by its nearest
  * probe — the diagnostic view for round-over-round comparison. Raw stays
  * the grade.
  */
object Bench {
  /** Reference machine speed for `queries_norm`: the round-15 session-start
    * calibration (the quietest measured state of this container; rounds
    * 13–15 session calibs ran 0.209–0.247). A probe at exactly this speed
    * leaves the raw number unchanged; a loaded window (probe > ref) scales
    * its queries DOWN toward what the quiet machine would have measured.
    */
  val RefCalibSec = 0.229

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val harness = Harness()
    val spark = harness.spark

    // Warm the JVM/codegen once on the smallest table so the first timed
    // query doesn't pay one-time session costs.
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case NonFatal(_) => () }

    // Optional subset for local iteration: SPARK_GRAFT_BENCH_ONLY=q1_agg,wc
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    // Machine-speed calibration: a FIXED CPU-bound job (hash-fold over a
    // generated range — no I/O, no data dependence), min of 3 runs after a
    // warm-up. Identical code measured 3.5× apart across rounds purely from
    // machine load (r05 vs r06); dividing cross-round totals by this scalar
    // separates engineering regressions from environment drift. README
    // "Benchmarking" documents the normalization. Subset runs (BENCH_ONLY)
    // are local iteration loops where cross-round normalization is
    // irrelevant — skip the ~4 calibration jobs there and report -1.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, 32)
        // % bounds the addends so the 200M-term sum can't overflow ANSI
        // long arithmetic (raw xxhash64 sums past 2^63)
        .selectExpr("sum(xxhash64(id) % 1000000)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_BENCH_CALIB=1 forces the session scalar even in subset
    // mode — the isolated-re-measure flow (round 16): a one-query
    // adjudication run is uninterpretable without knowing the machine
    // speed it ran at.
    val forceCalib = sys.env.get("SPARK_GRAFT_BENCH_CALIB").contains("1")
    val calibration = if (only.isDefined && !forceCalib) -1.0 else {
      calibOnce() // warm-up (codegen for the calibration plan itself)
      Seq.fill(3)(calibOnce()).min
    }

    var failed = List.empty[String]
    // Interleaved calibration (round 15): the session-start scalar above is
    // blind to MID-RUN load spikes — four rounds running (r08 skipgram, r12
    // bloom/bfs, r13 epoch_order, r14 the q19→q24 window) a transient
    // machine-load spike inflated a contiguous driver-order block and cost
    // a manual three-full-rerun adjudication. A single-shot probe after
    // every [[CalibEvery]]th query (outside all timed windows; ~0.2 s each,
    // ~12 probes over 194 queries) timestamps machine speed ACROSS the run:
    // a spike window then carries its own elevated probe sample and
    // adjudication becomes reading the `calib_windows` field of the dump.
    val CalibEvery = 16
    val calibWindows = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double)]
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = queryList.zipWithIndex.map { case ((name, fn), idx) =>
      // one warm-up pass (codegen/JIT), then a timed run. If the timed run
      // is an outlier vs its own warm-up (GC/page-cache hiccup — observed
      // 0.8s queries spiking to 9s once), re-time once and keep the min;
      // quiet queries pay for a single timed run, so total bench wall time
      // stays near the single-run cost.
      // Harness.run sweeps outside the timed window, on the failure path
      // too: caches, checkpoints and staged dirs (releaseAll, so no run
      // free-rides on the previous run's blocks), session conf, streaming
      // state
      def runOnce(): Double = harness.run { s =>
        val t0 = System.nanoTime()
        fn(s, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val warmSec =
        try Some(runOnce())
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed ::= name
          None
        }
      val sec = warmSec match {
        case None => -1.0
        case Some(w) =>
          try {
            val t1 = runOnce()
            val best =
              // re-time when the timed run disagrees with its own warm-up by
              // more than the 15% reproducibility budget (plus a floor so
              // sub-100ms jitter doesn't trigger extra runs): min over three
              // complete runs is stable run-to-run for every query
              if (t1 > 1.15 * w + 0.05) {
                System.err.println(f"[bench] $name outlier ($t1%.2fs vs warm $w%.2fs), re-timing")
                // the confirmation run is best-effort: a transient failure
                // there must not discard the valid measurement we hold
                val t2 = try runOnce() catch { case NonFatal(_) => t1 }
                math.min(t1, t2)
              } else t1
            // the warm-up IS a complete execution (it just also pays one-off
            // codegen/JIT), so min over all observed runs is the honest
            // steady-state time — and shields against load spikes that hit
            // only the timed run
            math.min(w, best)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED on timed run: ${e.getMessage}")
            failed ::= name
            -1.0
          }
      }
      // probe OUTSIDE the timed window (runOnce has already returned and
      // swept); subset runs skip probes like they skip the session scalar
      if (only.isEmpty && ((idx + 1) % CalibEvery == 0 || idx + 1 == queryList.size))
        calibWindows += ((idx + 1, name, calibOnce()))
      name -> sec
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calibJson = calibWindows
      .map { case (i, after, sec) =>
        s"""{"i":$i,"after":"$after","sec":${f"$sec%.3f"}}""" }
      .mkString("[", ",", "]")
    // Load-normalized diagnostics (round 16): each raw time scaled by
    // RefCalibSec / nearest-probe — what the query would have cost at the
    // declared reference machine speed, so round-over-round comparison no
    // longer needs a manual read of calib_windows per spike window. RAW
    // stays the primary metric ("value"/"queries"); the norm is diagnostic
    // (a probe brackets ~16 queries, so it corrects sustained load, not
    // per-query jitter). Subset runs take no probes → no norm map.
    val normJson =
      if (calibWindows.isEmpty) None
      else {
        def nearestProbe(idx: Int): Double =
          calibWindows.minBy { case (i, _, _) => math.abs(i - (idx + 1)) }._3
        Some(results.zipWithIndex.map { case ((k, v), idx) =>
          val norm = if (v < 0) v else v * (RefCalibSec / nearestProbe(idx))
          "\"" + k + "\":" + f"$norm%.3f"
        }.mkString("{", ",", "}"))
      }
    val normField = normJson.map(n => s""","queries_norm":$n""").getOrElse("")
    val out =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","calibration":${f"$calibration%.3f"},"calib_windows":$calibJson,"queries":$qs$normField,"failed":$failedJson,"sf":"$sfDir"}"""
    println(out)
    sys.env.get("BENCH_OUT").foreach(p => Files.writeString(Paths.get(p), out + "\n"))
    // The driver's per-round artifact captures only the TAIL of the stdout
    // line, which truncates the alphabetically-early per-query entries
    // (BENCH_r08/r09 lost every ann_*/graph row). Always also write the
    // full JSON to a stable in-repo path so the builder can commit it
    // (BENCH_LOCAL_r{N}.json) and every round can diff every query.
    try {
      Files.createDirectories(Paths.get("target"))
      Files.writeString(Paths.get("target/bench_local.json"), out + "\n")
    } catch { case NonFatal(_) => () } // read-only cwd must not fail the bench
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
