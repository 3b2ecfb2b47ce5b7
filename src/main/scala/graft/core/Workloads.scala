package graft.core

import java.util.concurrent.atomic.AtomicInteger

/** The reference's six query workloads as first-class (mapf, reducef) pairs
  * for [[MapReduceJob]] (reference `src/mrapps/` Go apps; plugin loading replaced
  * by plain function values, SURVEY.md §2.1 #14).
  *
  * All functions keep the reference's exact output contracts so results are
  * byte-comparable with the committed goldens (`src/main/mr-tmp/`,
  * FIXTURES.md §A.4) after sorting.
  */
object Workloads {

  /** Tokenize on non-letter code points, exactly Go's
    * `strings.FieldsFunc(contents, c => !unicode.IsLetter(c))`
    * (reference `src/mrapps/wc.go:21-39`). Implemented by code-point walk so
    * supplementary-plane letters behave like Go's rune-based split (a plain
    * `String.split` regex would also work for BMP text but this pins parity);
    * each token is one `substring` of the letter run.
    */
  def letterTokens(contents: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = -1 // first char of the current letter run, -1 outside one
    var i = 0
    val n = contents.length
    while (i < n) {
      val cp = contents.codePointAt(i)
      if (Character.isLetter(cp)) { if (start < 0) start = i }
      else if (start >= 0) { out += contents.substring(start, i); start = -1 }
      i += Character.charCount(cp)
    }
    if (start >= 0) out += contents.substring(start, n)
    out.result()
  }

  /** wc: emit (word, "1") per occurrence; reduce = count
    * (reference `src/mrapps/wc.go:21-44`). Case-sensitive.
    */
  val wcMap: (String, String) => Seq[KeyValue] =
    (_, contents) => letterTokens(contents).map(KeyValue(_, "1"))
  val wcReduce: (String, Seq[String]) => String =
    (_, values) => values.size.toString

  /** indexer: per-document DISTINCT words → (word, doc); reduce = sorted doc
    * list, format `"%d %s"` with docs comma-joined
    * (reference `src/mrapps/indexer.go:20-39`).
    */
  val indexerMap: (String, String) => Seq[KeyValue] =
    (doc, contents) => letterTokens(contents).distinct.map(KeyValue(_, doc))
  val indexerReduce: (String, Seq[String]) => String =
    (_, values) => s"${values.size} ${values.sorted.mkString(",")}"

  /** nocrash: per file emit 4 fixed metadata keys; reduce = sorted values
    * space-joined (reference `src/mrapps/nocrash.go:26-47`). Note Go's
    * `len(contents)` counts bytes; this counts UTF-16 chars — identical on
    * the ASCII pg corpus (documented divergence otherwise).
    */
  val nocrashMap: (String, String) => Seq[KeyValue] =
    (file, contents) => Seq(
      KeyValue("a", file),
      KeyValue("b", file.length.toString),
      KeyValue("c", contents.length.toString),
      KeyValue("d", "xyzzy"))
  val nocrashReduce: (String, Seq[String]) => String =
    (_, values) => values.sorted.mkString(" ")

  /** crash: nocrash with fault injection before the real work (reference
    * `src/mrapps/crash.go:20-54` calls `maybeCrash` which `os.Exit(1)`s with
    * p≈1/3). In Spark the analogous chaos is a task-attempt failure retried
    * under `spark.task.maxFailures`; the injector is a parameter so tests
    * control determinism (fail only on attempt 0, seeded).
    */
  def crashMap(inject: () => Unit): (String, String) => Seq[KeyValue] =
    (file, contents) => { inject(); nocrashMap(file, contents) }
  def crashReduce(inject: () => Unit): (String, Seq[String]) => String =
    (k, values) => { inject(); nocrashReduce(k, values) }

  /** wc as a typed `Aggregator[KeyValue, Long, String]` — the
    * incrementalizable-reduction form (SURVEY §2.3 #8 / §7.2 step 4):
    * unlike the holistic `mapGroups` path, Spark plans this with PARTIAL
    * aggregation (map-side combine), so at scale each `(word,"1")` pair is
    * pre-counted before the shuffle instead of crossing it — the combiner
    * the reference deliberately lacks (`src/mr/worker.go:123-131`).
    */
  object WcAggregator extends org.apache.spark.sql.expressions.Aggregator[KeyValue, Long, String] {
    override def zero: Long = 0L
    override def reduce(b: Long, kv: KeyValue): Long = b + 1L
    override def merge(a: Long, b: Long): Long = a + b
    override def finish(b: Long): String = b.toString
    override def bufferEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    override def outputEncoder: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
  }

  /** Run wc through the Aggregator path over a mapped KeyValue Dataset. */
  def wcViaAggregator(
      mapped: org.apache.spark.sql.Dataset[KeyValue]): org.apache.spark.sql.Dataset[KeyValue] = {
    val s = mapped.sparkSession
    import s.implicits._
    mapped.groupByKey(_.key)
      .agg(WcAggregator.toColumn.name("value"))
      .map { case (k, v) => KeyValue(k, v) }
  }

  /** Concurrency probe backing mtiming/rtiming (reference
    * `src/mrapps/mtiming.go:19-62` uses pid marker files; on local[N] all
    * tasks share one JVM so a static AtomicInteger high-water mark is the
    * idiomatic equivalent). A JVM-global named registry — NOT an instance —
    * because Spark serializes task closures even in local mode, so an
    * instance captured in a closure would be a per-task copy. On a real
    * cluster this measures per-executor parallelism, which is the quantity
    * the reference's per-worker pid files measured too.
    */
  object ConcurrencyProbe {
    private val registry =
      new java.util.concurrent.ConcurrentHashMap[String, (AtomicInteger, AtomicInteger)]()
    private def slot(name: String) =
      registry.computeIfAbsent(name, _ => (new AtomicInteger(0), new AtomicInteger(0)))
    /** Enter the named section, sleep to force overlap, return the high-water
      * concurrency seen so far.
      */
    def probe(name: String, sleepMs: Long): Int = {
      val (live, max) = slot(name)
      val now = live.incrementAndGet()
      max.getAndUpdate(m => math.max(m, now))
      Thread.sleep(sleepMs)
      val seen = max.get()
      live.decrementAndGet()
      seen
    }
    def maxSeen(name: String): Int = slot(name)._2.get()
    def reset(name: String): Unit = registry.remove(name)
  }

  /** mtiming: map tasks record observed map-phase parallelism
    * (reference `src/mrapps/mtiming.go:64-90`): per input emit
    * (times-<id>, ts) and (parallel-<id>, n). On Spark the ids are derived
    * from filenames rather than worker pids — same cardinality contract.
    */
  def mtimingMap(probeName: String): (String, String) => Seq[KeyValue] =
    (file, _) => {
      val n = ConcurrencyProbe.probe(probeName, 300)
      val id = math.abs(file.hashCode)
      Seq(
        KeyValue(s"times-$id", System.currentTimeMillis().toString),
        KeyValue(s"parallel-$id", n.toString))
    }
  val mtimingReduce: (String, Seq[String]) => String =
    (_, values) => values.sorted.mkString(" ")

  /** rtiming: fixed keys a..j; reduce records reduce-phase parallelism
    * (reference `src/mrapps/rtiming.go:62-83`).
    */
  val rtimingMap: (String, String) => Seq[KeyValue] =
    (_, _) => ('a' to 'j').map(c => KeyValue(c.toString, "1"))
  def rtimingReduce(probeName: String): (String, Seq[String]) => String =
    (_, _) => ConcurrencyProbe.probe(probeName, 300).toString
}
