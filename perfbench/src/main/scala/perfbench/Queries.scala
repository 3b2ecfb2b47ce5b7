package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.{KeyValue, MapReduceJob, Workloads}

/** Row count plus an order-independent 64-bit sum of per-row hashes. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = f"$rows%d rows/$hash%016x"
}

object Fingerprint {
  private val ids = new AtomicLong

  /** Consume `df` with a noop write, observing its fingerprint in the same
    * job (`Dataset.observe`), so the check costs no second scan. Columns are
    * hashed in the order of their names, as the oracle compares them.
    * Doubles are hashed as 9-significant-digit strings: partial sums summed
    * in another order may differ in the last bits, which is not a wrong
    * answer.
    */
  def consume(df: DataFrame): Fingerprint = {
    val byName = df.columns.indices.sortBy(df.columns(_))
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      .select(byName.map(i => col(s"c$i")): _*)
    val cols = renamed.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType))
    val h = xxhash64(cols: _*)
    val obs = Observation(s"perfbench_fp_${ids.incrementAndGet()}")
    renamed
      .observe(obs, count(lit(1)).as("n"),
        sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
        sum(shiftrightunsigned(h, 32)).as("hi"))
      .write.mode("overwrite").format("noop").save()
    val m = obs.get
    def long(k: String): Long = Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    Fingerprint(long("n"), long("lo") + long("hi") * 0x9e3779b97f4a7c15L)
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => format_string("%.9e", x.cast(DoubleType)))
    case _ => c
  }

  /** Fingerprint of text lines as a multiset (the reference's sorted-union
    * comparison, `test-mr.sh:59-67`).
    */
  def ofLines(lines: Iterator[String]): Fingerprint = {
    var n, h = 0L
    lines.foreach { l =>
      n += 1
      h += (MurmurHash3.stringHash(l, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(l, 0x7a11) & 0xffffffffL)
    }
    Fingerprint(n, h)
  }
}

/** One query of a workload. `build` is the operator call: planning plus any
  * eager work the operator does (probes, counts, memo builds, whole
  * streaming runs). The action it returns consumes the result and hands
  * back a thunk that fingerprints it, which the harness evaluates outside
  * the timed window.
  */
trait Query {
  def name: String
  def build(s: SparkSession, dir: String): () => (() => Fingerprint)
  /** The expected fingerprint for this input, computed another way.
    * `oracle` holds the DuckDB replays, when DuckDB is installed.
    */
  def reference(s: SparkSession, dir: String, oracle: Option[File]): Fingerprint
}

/** A registered `SparkEntry` query, consumed by a noop write. Its reference
  * is its `SparkEntry.oracleSql` replayed in DuckDB over the same inputs,
  * an independent implementation. Without DuckDB it is the same query with
  * every shuffle collapsed to one partition and adaptive execution off,
  * which only catches errors that depend on partitioning.
  */
final class Frame(val name: String, fn: (SparkSession, String) => DataFrame) extends Query {
  // the engine's result schema, to read DuckDB's columns with the same types
  @volatile private var schema: Option[StructType] = None

  def build(s: SparkSession, dir: String): () => (() => Fingerprint) = {
    val df = fn(s, dir)
    schema = Some(df.schema)
    () => { val fp = Fingerprint.consume(df); () => fp }
  }

  def reference(s: SparkSession, dir: String, oracle: Option[File]): Fingerprint = oracle match {
    case Some(d) =>
      val err = new File(d, s"$name.error")
      if (err.exists) throw new IllegalStateException(s"duckdb ${new String(Files.readAllBytes(err.toPath), UTF_8)}")
      val ref = s.read.parquet(new File(d, s"$name.parquet").getPath)
      val types = schema.toSeq.flatMap(_.fields.map(f => f.name -> f.dataType)).toMap
      Fingerprint.consume(ref.select(ref.columns.toSeq.map { c =>
        val v = ref.col(s"`$c`")
        types.get(c).fold(v)(t => v.cast(t)).as(c)
      }: _*))
    case None =>
      s.conf.set("spark.sql.shuffle.partitions", "1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      Fingerprint.consume(fn(s, dir))
  }
}

object DuckDb {
  private val TimeoutS = 120L

  /** Replay each query's oracle SQL in DuckDB over the parquet inputs in
    * `data` (`oracle.py`), into `out`: `<query>.parquet`, or `<query>.error`.
    * None when the duckdb Python module is not installed.
    */
  def replay(sql: Map[String, String], data: String, home: String, out: File): Option[File] = {
    out.mkdirs()
    sql.foreach { case (n, q) => Files.write(new File(out, s"$n.sql").toPath, q.getBytes(UTF_8)) }
    val p = new ProcessBuilder("python3", s"$home/oracle.py", data, out.getPath)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    try {
      if (!p.waitFor(TimeoutS, TimeUnit.SECONDS))
        throw new IllegalStateException(s"oracle.py exceeded ${TimeoutS}s")
      if (p.exitValue == 3) None else Some(out)
    } finally {
      p.destroyForcibly()
      p.waitFor()
    }
  }
}

/** The reference's own job shape: `MapReduceJob.run` over the 8-file corpus
  * into the distributed sorted text sink. Its reference is a plain Scala
  * sequential run of the same map and reduce functions, no Spark involved:
  * distributed == sequential (`test-mr.sh:59-67`).
  */
final case class SortedText(
    name: String,
    mapf: (String, String) => Seq[KeyValue],
    reducef: (String, Seq[String]) => String) extends Query {

  private def glob(dir: String) = s"$dir/corpus/pg-*.txt"
  private def out(dir: String) = new File(s"$dir/out/$name")

  def build(s: SparkSession, dir: String): () => (() => Fingerprint) = {
    val ds = new MapReduceJob(mapf, reducef).run(s, glob(dir))
    () => {
      MapReduceJob.writeSortedText(ds, out(dir).getPath)
      () => {
        val parts = Option(out(dir).listFiles).toSeq.flatten
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        Fingerprint.ofLines(parts.iterator.flatMap(f =>
          Files.readAllLines(f.toPath, UTF_8).iterator().asScala))
      }
    }
  }

  def reference(s: SparkSession, dir: String, oracle: Option[File]): Fingerprint = {
    val files = new File(s"$dir/corpus").listFiles
      .filter(_.getName.startsWith("pg-")).sortBy(_.getName)
    // wholeTextFiles names a record by its qualified path
    val kvs = files.toSeq.flatMap(f =>
      mapf("file:" + f.getAbsolutePath, new String(Files.readAllBytes(f.toPath), UTF_8)))
    Fingerprint.ofLines(kvs.groupBy(_.key).iterator.map { case (k, vs) =>
      s"$k ${reducef(k, vs.map(_.value))}" })
  }
}

object Queries {
  private lazy val registered = SparkEntry.queries

  private def entries(names: String*): Seq[Query] = names.map(n => new Frame(n, registered(n)))

  /** The oracle SQL of each `Frame` in `qs`. */
  def oracleSql(qs: Seq[Query]): Map[String, String] =
    qs.collect { case f: Frame => f.name }.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

  /** Each list is sized so one warm pass takes a few seconds on four
    * cores, so a run measures several passes. Each list has an odd number of
    * queries, so the median execution falls inside one query's samples
    * instead of between two queries of different cost.
    */
  val workloads: Map[String, Seq[Query]] = Map(
    "mr_corpus" -> (Seq(
      SortedText("mr_wc", Workloads.wcMap, Workloads.wcReduce),
      SortedText("mr_indexer", Workloads.indexerMap, Workloads.indexerReduce),
      SortedText("mr_nocrash", Workloads.nocrashMap, Workloads.nocrashReduce)) ++
      entries("wc", "mrout_roundtrip")),
    "relational" -> entries("q4_join_multi", "q15_events_window", "q25_stream_window"),
    "similarity" -> entries("dedup_minhash", "dedup_jaccard3", "corpus_overlap"))
}
