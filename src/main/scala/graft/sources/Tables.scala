package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixture tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory (e.g. `/root/testdata/sf0.01`)
  * and read one parquet file per table. Reads are plain `spark.read.parquet`
  * so Catalyst pushes filters/column pruning down to the scan — at 100 TB the
  * same call reads a partitioned parquet lake and partition pruning applies
  * unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred schema per fixture file path (round 16): without a declared
    * schema every `spark.read.parquet` call re-reads the parquet footers at
    * ANALYSIS time — once per table reference per query construction, and
    * the bench constructs every query twice per appearance. Fixture tables
    * are immutable for a session's life, so the first inference is
    * authoritative; at 100 TB the same move is a declared schema from the
    * lake catalog instead of a footer listing per job. Keyed by full path —
    * two datasets' tables never collide — and JVM-local, so every bench /
    * verify invocation still infers from the parquet inputs it reads.
    *
    * Each entry carries the file/dir modification time it was inferred at:
    * a path REWRITTEN in the same JVM (possibly with a different schema)
    * re-infers and REPLACES its entry — a stale user-specified schema would
    * mask drift as nulls instead of failing, and superseded entries must
    * not pile up. One driver-side getFileStatus per lookup — no footer
    * read, no data scan.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  /** Test probe: cache keys naming `path` (one at most, by construction). */
  private[graft] def cachedEntries(path: String): Int = {
    import scala.jdk.CollectionConverters._
    schemaCache.keySet.asScala.count(_.startsWith(path))
  }

  /** The file schema of table `name` under `dir`, from the cache above. */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val path = s"$dir/$name.parquet"
    val mtime =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getModificationTime
      } catch { case _: java.io.IOException => -1L }
    schemaCache.compute(path, (_, old) =>
      if (old != null && old._1 == mtime) old
      else (mtime, spark.read.parquet(path).schema))._2
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")

  /** `events.ts` has shipped in two fixture generations: parquet
    * TIMESTAMP(NANOS) — which Spark's reader rejects, so it is read as a raw
    * nanosecond long (legacy conf) — and a plain µs timestamp (possibly
    * NTZ). Both are normalized to the same two columns every consumer and
    * oracle uses: `ts`, a µs `TimestampType` (NTZ wall clocks are
    * reinterpreted in the session's UTC zone, the same instant DuckDB's
    * epoch_us sees), and `ts_ns`, the epoch-nanos long (µs-resolution when
    * the file itself is µs). The dispatch is on the FILE schema, so spec
    * fixtures written as nanos longs keep exercising the legacy path.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
