package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Overhead probe (round 16): for named registered queries, time the two
  * phases the bench's `runOnce` pays — DataFrame CONSTRUCTION (which for
  * operators with adaptive strategy probes executes real jobs: depth/stats
  * probes, dictionary builds, cache materializations) and the noop-sink
  * WRITE — and count the Spark jobs and stages each phase launches. The
  * sf0.001 bench floor showed several queries cost ~seconds with ~zero
  * data; this separates scheduling/action overhead from data work, which
  * decides WHERE to optimize (guide §1.2: algorithm first, but only where
  * the time actually is).
  *
  * Usage: runMain graft.ProbeJobs <q1,q2,...>  (env as Bench)
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val harness = Harness()
    val spark = harness.spark
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
    })
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // deterministic listener drain (r16 advice): waitUntilEmpty instead of a
    // fixed sleep, so job/stage counts can't race on a loaded machine
    def drain(): Unit = org.apache.spark.sql.graftshim.SessionSweep
      .drainListenerBus(spark.sparkContext)
    require(args.nonEmpty,
      "usage: runMain graft.ProbeJobs <query1,query2,...> (env as Bench)")
    for (name <- args.head.split(",").map(_.trim)) {
      val fn = SparkEntry.queries(name)
      // two passes like the bench (warm-up then steady-state); report both.
      // Harness.run sweeps like the bench (releaseAll included): no block
      // survives the warm→timed boundary, so the timed pass counts the
      // same builds the bench's timed run pays
      for (pass <- Seq("warm", "timed")) harness.run { s =>
        drain()
        jobs.set(0); stages.set(0)
        val t0 = System.nanoTime()
        val df = fn(s, sfDir)
        drain()
        val buildJobs = jobs.get; val buildStages = stages.get
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        drain()
        println(f"[probejobs] $name $pass build=${(t1 - t0) / 1e9}%.2fs " +
          f"($buildJobs jobs/$buildStages stages) write=${(t2 - t1) / 1e9}%.2fs " +
          f"(${jobs.get - buildJobs} jobs/${stages.get - buildStages} stages)")
      }
    }
    spark.stop()
  }
}
