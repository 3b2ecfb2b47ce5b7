package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.SessionSweep

import graft.TransientCache

/** One query execution: its time (operator call plus consuming write) and
  * its fingerprint or error.
  */
final case class Exec(query: String, pass: Int, querySec: Double,
    result: Either[String, Fingerprint])

/** One session plus the per-query hygiene `graft.Bench` applies after every
  * run: `TransientCache.releaseAll`, session-conf restore and streaming
  * state teardown. No `System.gc` runs inside a pass.
  */
final class Harness(val spark: SparkSession, dir: String) {
  private val confSnapshot = spark.conf.getAll

  private def restoreConf(): Unit = {
    val now = spark.conf.getAll
    for (k <- now.keySet ++ confSnapshot.keySet) (confSnapshot.get(k), now.get(k)) match {
      case (Some(v0), Some(v1)) if v0 != v1 => spark.conf.set(k, v0)
      case (Some(v0), None) => spark.conf.set(k, v0)
      case (None, Some(_)) => try spark.conf.unset(k) catch { case NonFatal(_) => () }
      case _ => ()
    }
  }

  def hygiene(spans: Spans): Unit = {
    spans("sweep", "releaseAll") { TransientCache.releaseAll(spark); restoreConf() }
    spans("teardown", "sweepStreamingState") { SessionSweep.sweepStreamingState() }
  }

  /** Run `q` once; the returned thunk fingerprints its output. */
  private def run(q: Query, spans: Spans, pass: Int): () => Exec = {
    var result: Either[String, () => Fingerprint] = Left("not run")
    var sec = 0.0
    spans("query", q.name) {
      val t0 = System.nanoTime()
      try {
        val act = spans("build", q.name)(q.build(spark, dir))
        result = Right(spans("action", q.name)(act()))
      } catch { case NonFatal(e) => result = Left(s"$e") }
      sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] pass $pass ${q.name} $sec%.3fs")
      spans match {
        case t: Tracer =>
          val cached = spark.sparkContext.getRDDStorageInfo
          t.open.attrs("cached_mb") = cached.map(r => r.memSize + r.diskSize).sum / Tracer.MB
          t.open.attrs("cached_rdds") = cached.length.toDouble
        case _ => ()
      }
      try hygiene(spans) catch { case NonFatal(e) => result = Left(s"hygiene: $e") }
    }
    () => Exec(q.name, pass, sec, result.flatMap(f =>
      try Right(f()) catch { case NonFatal(e) => Left(s"fingerprint: $e") }))
  }

  /** One pass over `qs`: wall seconds, and every execution, fingerprinted
    * after the pass's window closes.
    */
  def pass(qs: Seq[Query], spans: Spans, idx: Int): (Double, Seq[Exec]) = {
    val t0 = System.nanoTime()
    val pending = spans("pass", s"pass $idx")(qs.map(run(_, spans, idx)))
    val sec = (System.nanoTime() - t0) / 1e9
    (sec, pending.map(_()))
  }

  def reference(qs: Seq[Query], oracle: Option[java.io.File]): Map[String, Either[String, Fingerprint]] =
    qs.map { q =>
      q.name -> (try Right(q.reference(spark, dir, oracle))
        catch { case NonFatal(e) => Left(s"reference: $e") }
        finally hygiene(NoSpans))
    }.toMap

  /** Bench's fixed CPU probe (hash-fold over a generated range), at a tenth
    * of its rows so it stays well under a second on a few cores.
    */
  def calib(): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, 32).selectExpr("sum(xxhash64(id) % 1000000)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def close(): Unit = {
    hygiene(NoSpans)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, home: String, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), req("work"), req("home"), req("cores").toInt)
  }

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${System.getProperty("java.io.tmpdir")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${System.getProperty("java.io.tmpdir")}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val queries = Queries.workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))

    // --- set-up: session creation plus the first pass, in a cold JVM
    val setup0 = System.nanoTime()
    val h = new Harness(session(o), o.data)
    val (_, first) = h.pass(queries, NoSpans, -1)
    val setupS = (System.nanoTime() - setup0) / 1e9
    val execs = mutable.ArrayBuffer.empty[Exec] ++= first
    val spark = h.spark

    // --- measurement: a closed loop of passes, one client thread. Pass 0
    // still compiles hot code, so its time is not reported; its executions
    // are checked like every other. After it, traced runs alternate
    // untraced and traced passes, starting and ending untraced, so each
    // traced pass can be compared with its two neighbours.
    h.calib() // the probe's own codegen
    val calibBefore = h.calib()
    System.gc()
    val passes = mutable.ArrayBuffer.empty[Double]
    val warm = mutable.ArrayBuffer.empty[Exec]
    val tracer = new Tracer(spark, o.cores)
    def tracing(i: Int) = o.trace && i > 0 && i % 2 == 0
    def gcSeconds() =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    while (passes.size < (if (o.trace) 6 else 3) || (o.trace && tracing(passes.size - 1)) ||
        (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val i = passes.size
      if (tracing(i)) tracer.install()
      val (sec, ex) = h.pass(queries, if (tracing(i)) tracer else NoSpans, i)
      if (tracing(i)) {
        SessionSweep.drainListenerBus(spark.sparkContext)
        tracer.uninstall()
      }
      passes += sec
      warm ++= ex
    }
    // GC time per pass over the whole window: the collector runs too
    // rarely for a per-pass reading
    val gcPerPass = (gcSeconds() - gc0) / passes.size
    val untraced = passes.indices.filter(i => i > 0 && !tracing(i)).map(passes)
    val timed = warm.filter(_.pass > 0)
    // traced pass time over the mean of its untraced neighbours, which
    // cancels a warm-up trend across the window
    val overheads = passes.indices.filter(tracing).map(i => 2 * passes(i) / (passes(i - 1) + passes(i + 1)) - 1)
    val (layers, accts) = tracer.spans.filter(_.kind == "pass").map(tracer.passMetrics).unzip
    val acct = accts.foldLeft(Accounting(0, 0, 0))(_ + _)
    val calibAfter = h.calib()
    execs ++= warm

    // --- retained heap: after the last sweep and a full GC. A second GC
    // follows a pause, because the first one hands Spark's ContextCleaner
    // the broadcasts and shuffles it found unreachable, and those are only
    // released once the cleaner has run.
    h.hygiene(NoSpans)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Tracer.MB

    // --- references, after the measurement: DuckDB replays of the oracle
    // SQL, and the sequential runs of the MapReduce jobs
    val oracle = DuckDb.replay(Queries.oracleSql(queries), o.data, o.home,
      new java.io.File(s"${System.getProperty("java.io.tmpdir")}/oracle"))
    val refs = h.reference(queries, oracle)
    val conf = spark.conf.getAll.toSeq.sorted
    val sparkVersion = spark.version
    h.close()

    // --- correctness
    val failures = execs.filter(e => refs.get(e.query) match {
      case Some(Right(ref)) => e.result != Right(ref)
      case _ => true
    })

    // --- report
    val rt = Runtime.getRuntime
    println(f"# env nproc=${rt.availableProcessors} local[${o.cores}] heap_max_mb=${rt.maxMemory / Tracer.MB}%.0f " +
      s"spark=$sparkVersion jdk=${System.getProperty("java.runtime.version")} " +
      s"workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")
    println(conf.map { case (k, v) => s"$k=$v" }.mkString("# conf ", " ", ""))
    println(f"# env.calib_s before=$calibBefore%.4f after=$calibAfter%.4f")
    println(s"# reference: ${if (oracle.isDefined) "DuckDB replay of SparkEntry.oracleSql"
      else "duckdb not installed; one-shuffle-partition Spark run (catches partition-dependent errors only)"}" +
      " for SparkEntry queries, sequential Scala run for MapReduceJob queries")
    for (q <- queries) {
      val xs = timed.filter(_.query == q.name)
      val ref = refs(q.name).fold(identity, _.toString)
      println(f"# query ${q.name}%-24s n=${xs.size}%3d p50=${median(xs.map(_.querySec))}%.4fs ref=$ref")
    }
    failures.foreach(e => println(s"# FAILED ${e.query} pass=${e.pass}: ${e.result.fold(identity,
      fp => s"fingerprint $fp != reference ${refs.get(e.query).flatMap(_.toOption).getOrElse("?")}")}"))
    println(f"# ops_failed ${failures.size}/${execs.size} = ${failures.size.toDouble / execs.size}%.4f")

    val qs = timed.map(_.querySec).sorted
    // the highest percentile with at least 10 samples beyond it, but never
    // below p90: a short run has too few samples for the first rule alone
    val tailIdx = math.max(0, math.max(qs.size - 11, math.ceil(0.9 * qs.size).toInt - 1))
    val tailPct = 100.0 * (tailIdx + 1) / math.max(qs.size, 1)
    println(f"# query_s.tail is p$tailPct%.1f of ${qs.size} executions (${qs.size - tailIdx - 1} beyond it)")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", median(untraced), "s"),
        ("query_s.p50", median(qs), "s"),
        ("query_s.tail", if (qs.isEmpty) 0.0 else qs(tailIdx), "s"),
        ("retained_heap_mb", retainedMb, "MB"))
      else {
        val med = layers.head.keys.toSeq.sorted.map(k => k -> median(layers.map(_(k))))
        println(f"# trace accounting over ${overheads.size} traced passes: query=${acct.query}%.4fs " +
          f"gap=${acct.gap}%.4fs jobs=${acct.jobs}%.4fs unaccounted=${acct.unaccounted}%.4fs " +
          f"(${100 * acct.unaccountedShare}%.2f%% of query time, tolerance 5%%: " +
          (if (acct.unaccountedShare <= 0.05) "ok)" else "EXCEEDED)"))
        val file = new java.io.File(s"${o.work}/traces/${o.workload}-seed${o.seed}.jsonl")
        file.getParentFile.mkdirs()
        tracer.write(file)
        println(s"# trace spans written to ${file.getPath}")
        med.map { case (k, v) => (k, v, Tracer.units(k)) } ++ Seq(
          ("jvm.gc_s", gcPerPass, "s"),
          ("env.calib_s", (calibBefore + calibAfter) / 2, "s"),
          ("trace.overhead", median(overheads), "ratio"))
      }
    metrics.foreach { case (k, v, u) => println(f"# metric $k%-24s $v%.6f $u") }
    val json = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":${failures.isEmpty},"attempted":${execs.size},"failed":${failures.size},"metrics":$json}""")
    if (failures.nonEmpty) sys.exit(1)
  }
}
