package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

/** The reference's single data abstraction: a string key/value pair
  * (reference `src/mr/worker.go:20-23`). Everything the reference computes is
  * a sequence of these.
  */
case class KeyValue(key: String, value: String)

/** Generalized MapReduce job with the reference's exact UDF surface
  * (reference `src/mr/worker.go:24-27`):
  *
  *   - `mapf(filename, contents): Seq[KeyValue]` — a UDTF over whole files,
  *   - `reducef(key, values): String` — a holistic (order-insensitive input,
  *     all-values-at-once) aggregate.
  *
  * Spark-first mapping (SURVEY.md §1.2/§3.1): the reference's entire control
  * plane — phase state machine, hash-partitioned shuffle files, task watchdog
  * + retry, atomic temp-file rename (`src/mr/master.go`, `worker.go:103-198`)
  * — collapses into Spark's DAGScheduler, shuffle service, task retry and
  * output committer. The portable dataflow is:
  *
  * {{{
  *   wholeTextFiles(glob) -> flatMap(mapf) -> groupByKey(_.key)
  *     -> mapGroups(reducef) -> sink
  * }}}
  *
  * `mapGroups` (NOT `reduceByKey`) is deliberate: `reducef` is holistic — it
  * sees every value for a key at once (`len(values)` in wc, `strings.Join` in
  * indexer; `src/mrapps/wc.go:41-44`, `indexer.go:36-39`) and must not be
  * assumed commutative/associative. Reduce input order is an *unordered
  * multiset*: apps that need determinism sort inside `reducef`, exactly as the
  * reference's apps do (`indexer.go:37`, `crash.go:47-50`).
  *
  * Scale note (100 TB): `wholeTextFiles` keeps the reference's one-record-per-
  * file semantics, which some workloads need (the indexer dedups per
  * document). For corpora whose per-file semantics don't matter, use
  * [[MapReduceJob.runLines]] which splits files into line-level records and
  * parallelizes within files — the re-split the reference's own dead
  * `splitInputFiles` intended (`src/mr/master.go:153-208`).
  */
final class MapReduceJob(
    val mapf: (String, String) => Seq[KeyValue],
    val reducef: (String, Seq[String]) => String,
    val numPartitions: Int = 10) extends Serializable {

  /** Distributed run: whole-file records, shuffle on key, holistic reduce. */
  def run(spark: SparkSession, inputGlob: String): Dataset[KeyValue] = {
    import spark.implicits._
    val files = spark.sparkContext
      .wholeTextFiles(inputGlob, math.max(numPartitions, 1))
    val mapped = files.flatMap { case (name, contents) => mapf(name, contents) }
    reduce(spark, mapped.toDS())
  }

  /** Line-split variant: one record per text line, `filename` passed through
    * via `input_file_name`. Parallelizes within huge files (the 100 TB path);
    * only valid for `mapf`s that don't need whole-file contents at once.
    */
  def runLines(spark: SparkSession, inputGlob: String): Dataset[KeyValue] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val lines = spark.read.textFile(inputGlob)
      .withColumn("file", input_file_name())
      .as[(String, String)]
    val mapped = lines.flatMap { case (line, file) => mapf(file, line) }
    reduce(spark, mapped)
  }

  /** Run over an arbitrary (name, contents) pair Dataset — the bridge from
    * columnar sources (e.g. the `documents` parquet table) into the faithful
    * MapReduce dataflow. Same shuffle/reduce as [[run]].
    */
  def runOn(pairs: Dataset[(String, String)]): Dataset[KeyValue] = {
    import pairs.sparkSession.implicits._
    reduce(pairs.sparkSession, pairs.flatMap { case (n, c) => mapf(n, c) })
  }

  /** Shuffle + holistic reduce, shared by both input paths. */
  def reduce(spark: SparkSession, mapped: Dataset[KeyValue]): Dataset[KeyValue] = {
    import spark.implicits._
    mapped
      .groupByKey(_.key)
      .mapGroups { (k, it) => KeyValue(k, reducef(k, it.map(_.value).toSeq)) }
  }

  /** Sequential oracle (reference `src/main/mrsequential.go:25-91`): same
    * logical pipeline forced through a single partition. Differential
    * equality distributed == sequential is the reference's primary
    * correctness invariant (`src/main/test-mr.sh:59-67`).
    */
  def runSequential(spark: SparkSession, inputGlob: String): Dataset[KeyValue] = {
    import spark.implicits._
    val files = spark.sparkContext.wholeTextFiles(inputGlob).collect().sortBy(_._1)
    val mapped = files.toSeq.flatMap { case (n, c) => mapf(n, c) }
    val grouped = mapped.groupBy(_.key).toSeq.sortBy(_._1)
    val out = grouped.map { case (k, kvs) => KeyValue(k, reducef(k, kvs.map(_.value))) }
    spark.createDataset(out)
  }
}

object MapReduceJob {
  /** TEST-ONLY golden-compare helper: render a result as the reference's
    * `"key value"` text lines (`src/mr/worker.go:218`), sorted on the driver —
    * the harness compares the sorted union of partitions
    * (`src/main/test-mr.sh:59-60`). Collects to the driver by design; the
    * production sorted sink is [[writeSortedText]].
    */
  def toOutputLines(ds: Dataset[KeyValue]): Seq[String] = {
    import ds.sparkSession.implicits._
    ds.map(kv => s"${kv.key} ${kv.value}").collect().sorted.toSeq
  }

  /** Distributed sorted text sink: global range-partitioned `orderBy` then
    * text write — files concatenate to the totally-ordered output without any
    * driver-side collect (the 100 TB path; replaces the reference's external
    * `sort mr-out*`, `src/main/test-mr.sh:59`).
    *
    * The range partitioner samples its input with a job of its own, which
    * would recompute `ds` — re-read the reduce shuffle and run every
    * `reducef` a second time. A lazy checkpoint in front of the `orderBy`
    * lets the sampling job materialize the reduce output (one row per key,
    * what the range exchange writes anyway) and the exchange read those
    * blocks. They are unpinned as soon as the write returns or throws, so
    * the sink leaves nothing pinned behind it.
    */
  def writeSortedText(ds: Dataset[KeyValue], path: String): Unit = {
    import ds.sparkSession.implicits._
    val reduced = graft.TransientCache.checkpoint(ds.toDF, eager = false)
    try reduced.as[KeyValue].orderBy("key", "value")
      .map(kv => s"${kv.key} ${kv.value}")
      .write.mode("overwrite").text(path)
    finally graft.TransientCache.unpin(reduced)
  }

  /** Write the `mr-out` text sink (one file tree, atomic via Spark's output
    * committer — the reference's temp-file + rename idiom, built in).
    */
  def writeText(ds: Dataset[KeyValue], path: String): Unit = {
    import ds.sparkSession.implicits._
    ds.map(kv => s"${kv.key} ${kv.value}").write.mode("overwrite").text(path)
  }

  /** Write the reference's intermediate JSON-lines format — one
    * `{"Key":…,"Value":…}` object per line (`src/mr/worker.go:123-131`;
    * committed example `src/main/mr-tmp/mr-0-0`). Spark's shuffle replaces
    * these files functionally; this sink exists for debug tooling that reads
    * the reference's on-disk format.
    */
  def writeIntermediate(ds: Dataset[KeyValue], path: String): Unit = {
    import org.apache.spark.sql.functions.col
    ds.select(col("key").as("Key"), col("value").as("Value"))
      .write.mode("overwrite").json(path)
  }

  /** Read the reference's intermediate JSON-lines format (including the
    * committed `mr-tmp/mr-X-Y` artifacts themselves).
    */
  def readIntermediate(spark: SparkSession, path: String): Dataset[KeyValue] = {
    import spark.implicits._
    spark.read.schema("Key STRING, Value STRING").json(path)
      .select($"Key".as("key"), $"Value".as("value")).as[KeyValue]
  }

  /** FNV-1a 32-bit bucket id, `ihash(key) & 0x7fffffff % n` — the
    * reference's shuffle routing (`src/mr/worker.go:40-44,125`). Not used by
    * the Spark shuffle (which hash-partitions internally); provided for
    * byte-level `mr-X-Y` file parity when external tooling demands it
    * (SURVEY.md §7.3).
    */
  def ihash(key: String): Int = {
    var h = 0x811c9dc5 // FNV-32 offset basis
    key.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h = h ^ (b & 0xff)
      h = h * 0x01000193 // FNV-32 prime
    }
    h & 0x7fffffff
  }

  /** RDD Partitioner with the reference's exact routing. */
  final class FnvPartitioner(override val numPartitions: Int)
      extends org.apache.spark.Partitioner {
    override def getPartition(key: Any): Int =
      ihash(key.toString) % numPartitions
  }
}
