package perfbench

import java.io.PrintWriter
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans the harness records around each call into the engine. */
trait Spans {
  def apply[T](kind: String, name: String)(body: => T): T
}

/** The untraced harness: no listeners, no bookkeeping. */
object NoSpans extends Spans {
  def apply[T](kind: String, name: String)(body: => T): T = body
}

final case class Span(id: Int, parent: Int, kind: String, name: String, start: Long) {
  var end: Long = start
  /** Counts and times the harness samples at this boundary. */
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def dur: Long = end - start
}

/** In-memory span tree: pass → query → {build, action, sweep, teardown}
  * from the harness, then job → stage from a `SparkListener` and streaming
  * batches from a `StreamingQueryListener`. A job's parent is the span whose
  * id was in the `perfbench.span` local property of the thread that
  * submitted it (Spark copies local properties into the threads a query
  * spawns, streaming query threads included). All times are nanoseconds on
  * the JVM's `nanoTime` clock; listener wall-clock millis are mapped onto
  * it, so job edges carry up to 1 ms of quantisation.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener with Spans {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current = 0

  def apply[T](kind: String, name: String)(body: => T): T = {
    val sp = Span(spans.size + 1, current, kind, name, System.nanoTime())
    spans += sp
    val prev = current
    val prevProp = sc.getLocalProperty(SpanKey)
    current = sp.id
    sc.setLocalProperty(SpanKey, sp.id.toString)
    try body
    finally {
      sp.end = System.nanoTime()
      current = prev
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  /** The innermost open span (for attributes sampled inside it). */
  def open: Span = spans(current - 1)

  final class JobRec(val id: Int, val span: Int, val start: Long) {
    var end: Long = start
  }
  final class StageRec(val id: Int, val attempt: Int) {
    var start, end = 0L
    var tasks, empty, failed = 0
    val runMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs, peakMem, shReadB, shReadRec, shWriteB, shWriteRec = 0L
    var inB, inRec, outB, spillB = 0L
    def runS: Double = runMs.sum / 1e3
  }
  final class RunRec(val span: Int, val start: Long) {
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val runs = mutable.LinkedHashMap.empty[java.util.UUID, RunRec]

  private def stage(id: Int, attempt: Int) =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = new JobRec(e.jobId, span, msToNs(e.time))
    e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = msToNs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val st = stage(i.stageId, i.attemptNumber())
    st.start = i.submissionTime.map(msToNs).getOrElse(0L)
    st.end = i.completionTime.map(msToNs).getOrElse(st.start)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stage(e.stageId, e.stageAttemptId)
    st.tasks += 1
    if (!e.taskInfo.successful) st.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.peakMem += m.peakExecutionMemory
      val r = m.shuffleReadMetrics
      st.shReadB += r.totalBytesRead
      st.shReadRec += r.recordsRead
      st.shWriteB += m.shuffleWriteMetrics.bytesWritten
      st.shWriteRec += m.shuffleWriteMetrics.recordsWritten
      st.inB += m.inputMetrics.bytesRead
      st.inRec += m.inputMetrics.recordsRead
      st.outB += m.outputMetrics.bytesWritten
      st.spillB += m.diskBytesSpilled
      if (m.inputMetrics.recordsRead + r.recordsRead == 0) st.empty += 1
    }
  }

  /** Streaming progress. `onQueryStarted` runs synchronously in the thread
    * that starts the query, so `current` there is the span that started it.
    */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = Tracer.this.synchronized {
      runs(e.runId) = new RunRec(current, msToNs(Instant.parse(e.timestamp).toEpochMilli))
    }
    def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      runs.get(e.progress.runId).foreach(_.progress += e.progress)
    }
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.streams.addListener(streams)
  }

  def uninstall(): Unit = {
    sc.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  private def subtree(root: Span): Set[Int] = {
    val kids = children
    def go(s: Span): Seq[Int] = s.id +: kids.getOrElse(s.id, Nil).flatMap(go)
    go(root).toSet
  }

  private def progressEnd(p: StreamingQueryProgress): Long =
    msToNs(Instant.parse(p.timestamp).toEpochMilli) +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) * 1000000L

  /** Layer metrics of one traced pass, plus the accounting of its queries'
    * time: `gap` (no job running) + `jobs` (a job attributed to the pass
    * running) + `unaccounted` (only unattributed jobs running) = query time.
    */
  def passMetrics(pass: Span): (Map[String, Double], Accounting) = synchronized {
    val ids = subtree(pass)
    val kids = children
    val byId = spans.map(s => s.id -> s).toMap
    val queries = kids.getOrElse(pass.id, Nil).filter(_.kind == "query")
    val passJobs = jobs.values.filter(j => ids(j.span)).toSeq
    val stageRecs = stages.values.filter(st =>
      stageJob.get(st.id).exists(j => jobs.get(j).exists(jr => ids(jr.span)))).toSeq
    def kidsOf(q: Span, kind: String) = kids.getOrElse(q.id, Nil).filter(_.kind == kind)
    def sumDur(kind: String) = queries.flatMap(kidsOf(_, kind)).map(_.dur).sum / 1e9

    var gap, jobT, queryT = 0.0
    for (q <- queries) {
      val exec = kidsOf(q, "build") ++ kidsOf(q, "action")
      if (exec.nonEmpty) {
        val (lo, hi) = (exec.map(_.start).min, exec.map(_.end).max)
        def covered(js: Iterable[JobRec]) =
          unionLength(js.map(j => (math.max(j.start, lo), math.min(j.end, hi))))
        queryT += (hi - lo) / 1e9
        gap += ((hi - lo) - covered(jobs.values)) / 1e9
        jobT += covered(passJobs) / 1e9
      }
    }

    val buildIds = queries.flatMap(kidsOf(_, "build")).flatMap(b => subtree(b)).toSet
    val shuffleStages = stageRecs.filter(_.shWriteRec > 0)
    val reduceStages = stageRecs.filter(st => st.shReadRec > 0 && st.shWriteRec == 0)
    val scanStages = stageRecs.filter(_.inB > 0)
    val sinkStages = stageRecs.filter(_.outB > 0)
    val tasks = stageRecs.map(_.tasks).sum
    val skewStage = stageRecs.filter(_.shReadB > 0).sortBy(-_.shReadB).headOption
    val skew = skewStage.map { st =>
      val xs = st.runMs.sorted
      if (xs.isEmpty) 0.0 else xs.last.toDouble / math.max(xs(xs.size / 2), 1L)
    }.getOrElse(0.0)
    val inMb = stageRecs.map(_.inB).sum / MB

    val passRuns = runs.values.filter(r => ids(r.span)).toSeq
    val prog = passRuns.flatMap(_.progress)
    def phase(keys: String*) =
      prog.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3
    val lastProg = passRuns.flatMap(_.progress.lastOption)
    val startLag = passRuns.flatMap(r => r.progress.headOption.map(p =>
      msToNs(Instant.parse(p.timestamp).toEpochMilli) - r.start)).sum / 1e9
    val afterStop = passRuns.flatMap(r => r.progress.lastOption.map(p =>
      math.max(0L, byId(r.span).end - progressEnd(p)))).sum / 1e9
    val attrs = queries.map(_.attrs)
    def attr(k: String) = attrs.map(_.getOrElse(k, 0.0)).sum

    val m = Map(
      "operators.build_s" -> sumDur("build"),
      "operators.build_jobs" -> passJobs.count(j => buildIds(j.span)).toDouble,
      "driver.gap_s" -> gap,
      "exec.job_s" -> jobT,
      "exec.action_s" -> sumDur("action"),
      "exec.jobs" -> passJobs.size.toDouble,
      "exec.stages" -> stageRecs.size.toDouble,
      "exec.tasks" -> tasks.toDouble,
      "exec.empty_task_ratio" -> (if (tasks == 0) 0.0 else stageRecs.map(_.empty).sum.toDouble / tasks),
      "exec.task_skew" -> skew,
      "exec.cpu_busy_ratio" -> stageRecs.map(_.cpuNs).sum.toDouble / (pass.dur.toDouble * cores),
      "exec.failed_tasks" -> stageRecs.map(_.failed).sum.toDouble,
      "exec.peak_mem_mb" -> (if (stageRecs.isEmpty) 0.0 else stageRecs.map(_.peakMem).max / MB),
      "shuffle.exchanges" -> shuffleStages.size.toDouble,
      "shuffle.write_mb" -> stageRecs.map(_.shWriteB).sum / MB,
      "shuffle.read_mb" -> stageRecs.map(_.shReadB).sum / MB,
      "shuffle.records" -> stageRecs.map(_.shWriteRec).sum.toDouble,
      "spill.mb" -> stageRecs.map(_.spillB).sum / MB,
      "sources.scan_mb" -> inMb,
      "sources.scan_rows" -> stageRecs.map(_.inRec).sum.toDouble,
      "sources.scan_s" -> scanStages.map(_.runS).sum,
      "sources.sink_mb" -> stageRecs.map(_.outB).sum / MB,
      "sources.sink_s" -> sinkStages.map(_.runS).sum,
      "core.map_s" -> shuffleStages.map(_.runS).sum,
      "core.reduce_s" -> reduceStages.map(_.runS).sum,
      "core.kv_per_mb" -> (if (inMb == 0) 0.0 else shuffleStages.map(_.shWriteRec).sum / inMb),
      "cache.sweep_s" -> sumDur("sweep"),
      "cache.cached_mb" -> attr("cached_mb"),
      "cache.cached_rdds" -> attr("cached_rdds"),
      "stream.start_s" -> startLag,
      "stream.batches" -> prog.size.toDouble,
      "stream.add_batch_s" -> phase("addBatch"),
      "stream.planning_s" -> phase("queryPlanning"),
      "stream.offsets_s" -> phase("latestOffset", "getBatch", "getOffset", "setOffsetRange", "getEndOffset"),
      "stream.wal_s" -> phase("walCommit", "commitOffsets"),
      "stream.state_rows" -> lastProg.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
      "stream.state_mb" -> lastProg.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum / MB,
      "stream.state_commit_s" -> prog.flatMap(_.stateOperators.map(_.commitTimeMs)).sum / 1e3,
      "stream.teardown_s" -> (sumDur("teardown") + afterStop))
    (m, Accounting(queryT, gap, jobT))
  }

  /** Write every span, job, stage and streaming batch as JSON lines, each
    * with its duration and self time (duration minus the part of it its
    * children cover).
    */
  def write(path: java.io.File): Unit = synchronized {
    case class Row(id: String, parent: String, kind: String, name: String, start: Long, end: Long)
    val rows = mutable.ArrayBuffer.empty[Row]
    spans.foreach(s => rows += Row(s"s${s.id}", s"s${s.parent}", s.kind, s.name, s.start, s.end))
    jobs.values.foreach(j => rows += Row(s"j${j.id}", s"s${j.span}", "job", s"job ${j.id}", j.start, j.end))
    stages.values.foreach(st => rows += Row(s"t${st.id}.${st.attempt}",
      stageJob.get(st.id).map(j => s"j$j").getOrElse("s0"), "stage",
      s"stage ${st.id}.${st.attempt} tasks=${st.tasks}", st.start, st.end))
    for ((runId, r) <- runs; p <- r.progress) {
      val end = progressEnd(p)
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      rows += Row(s"b$runId.${p.batchId}", s"s${r.span}", "batch",
        s"batch ${p.batchId} rows=${p.numInputRows}", end - trig * 1000000L, end)
    }
    val kids = rows.groupBy(_.parent)
    val out = new PrintWriter(path, "UTF-8")
    try rows.foreach { r =>
      val covered = unionLength(kids.getOrElse(r.id, Nil).map(c =>
        (math.max(c.start, r.start), math.min(c.end, r.end))))
      val name = r.name.replace("\\", "\\\\").replace("\"", "\\\"")
      out.println(f"""{"id":"${r.id}","parent":"${r.parent}","kind":"${r.kind}","name":"$name",""" +
        f""""start_s":${(r.start - baseNs) / 1e9}%.6f,"dur_s":${(r.end - r.start) / 1e9}%.6f,""" +
        f""""self_s":${(r.end - r.start - covered) / 1e9}%.6f}""")
    } finally out.close()
  }
}

/** How a pass's query time splits: with no job running, with an attributed
  * job running, and the rest (only unattributed jobs running).
  */
final case class Accounting(query: Double, gap: Double, jobs: Double) {
  def unaccounted: Double = query - gap - jobs
  def unaccountedShare: Double = if (query > 0) unaccounted / query else 0.0
  def +(o: Accounting): Accounting = Accounting(query + o.query, gap + o.gap, jobs + o.jobs)
}

object Tracer {
  val SpanKey = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0

  /** Unit of each per-pass layer metric. */
  def units(name: String): String = name match {
    case "core.kv_per_mb" => "1/MB"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") || n == "spill.mb" => "MB"
    case n if n.endsWith("_ratio") || n.endsWith("_skew") => "ratio"
    case _ => "count"
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Iterable[(Long, Long)]): Long = {
    var total, reach = 0L
    var started = false
    for ((s, e) <- iv.filter { case (s, e) => e > s }.toSeq.sortBy(_._1)) {
      if (!started || s > reach) { total += e - s; reach = e; started = true }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }
}
