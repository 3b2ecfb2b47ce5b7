package graft

/** Dev probe (round 17): phase attribution for the streaming twins' fixed
  * cost. The ProbeJobs view showed each twin costs ~1–2.5 s with only 3–5
  * Spark jobs, so the time is inside the streaming machinery, not the job
  * floor. This times, for one registered streaming query: staging copy,
  * stream start→first-batch, remaining batches (incl. the no-data watermark
  * flush), stop/teardown, and the result re-read — using the engine's own
  * progress events.
  *
  * Usage: runMain graft.ProbeStream <query1,query2,...>  (env as Bench)
  */
object ProbeStream {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val harness = Harness()
    val spark = harness.spark
    spark.read.parquet(s"$sfDir/region.parquet").count()
    require(args.nonEmpty,
      "usage: runMain graft.ProbeStream <query1,query2,...> (env as Bench)")
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit =
          batches.add(f"start@${System.nanoTime() / 1e9}%.3f")
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          batches.add(f"batch${e.progress.batchId}@${System.nanoTime() / 1e9}%.3f " +
            f"rows=${e.progress.numInputRows} durMs=${e.progress.batchDuration}")
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          batches.add(f"term@${System.nanoTime() / 1e9}%.3f")
      })
    for (name <- args.head.split(",").map(_.trim)) {
      for (pass <- Seq("warm", "timed")) harness.run { s =>
        // deliver the previous pass's late events (its termination arrives
        // asynchronously) before clearing, so none land in this pass's log
        org.apache.spark.sql.graftshim.SessionSweep
          .drainListenerBus(s.sparkContext)
        batches.clear()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(s, sfDir)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        println(f"[probestream] $name $pass t0=${t0 / 1e9}%.3f " +
          f"build=${(t1 - t0) / 1e9}%.2fs readback+noop=${(t2 - t1) / 1e9}%.2fs " +
          s"events=[${java.util.List.copyOf(batches).toArray.mkString(", ")}]")
      }
    }
    spark.stop()
  }
}
