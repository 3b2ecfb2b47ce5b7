package graft.sources

import java.util.{Map => JMap}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the reference's native output format:
  * `mr-out-Y` text files of `"<key> <value>\n"` lines (reference
  * `src/mr/worker.go:218`; keys never contain spaces, values may — the
  * split is on the FIRST space, the same parse `test-mr.sh`'s sort-based
  * compare implies). This is the engine's custom-connector tier — the
  * source/sink extension path sitting beside the custom-Expression and
  * custom-SparkPlan tiers — so the interop boundary with the reference's
  * on-disk artifacts is a first-class format, not an ad-hoc parse.
  *
  * What it implements (and why each matters at scale):
  *   - **One read task per file.** `planInputPartitions` lists the
  *     directory once on the driver (Hadoop FS API, so any scheme parquet
  *     can read works here too) and hands each file to one task — the
  *     reference's own parallelism unit (reduce partition = file).
  *   - **Column pruning** (`SupportsPushDownRequiredColumns`): a count-only
  *     read materializes no UTF8 value bytes; `ReadSchema` in explain shows
  *     the pruned shape, same as parquet.
  *   - **Filter pushdown** (`SupportsPushDownFilters`): string
  *     equality/range/prefix predicates on key or value evaluate per line
  *     INSIDE the reader — rows the filter rejects are never surfaced to
  *     Spark (with gzip shards the bytes are still read; the win is
  *     row-materialization + downstream operators, the same contract as
  *     Spark's CSV/JSON pushdown). Pushed filters are evaluated EXACTLY, so
  *     they are consumed (not re-evaluated above the scan).
  *   - **Atomic task commit** (the reference's temp+rename idiom,
  *     `worker.go:184-198`): each writer writes
  *     `.mr-out-<pid>-<taskId>.tmp` and RENAMES to the deterministic
  *     `mr-out-<pid>` on task commit. A speculative duplicate attempt
  *     renames the same deterministic content over itself — idempotent,
  *     exactly the property the reference relies on for its crash-retry
  *     semantics; aborted attempts delete their temp file.
  *
  * Registered as short name `mrout` via DataSourceRegister
  * (META-INF/services), used by the `mrout_roundtrip` gate query.
  */
object MrOut {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** mrout_roundtrip — the REGISTERED gate query: word counts written
    * through the mrout SINK (atomic per-partition rename), read back
    * through the mrout SOURCE, and returned as (word, cnt). The DuckDB
    * oracle is the same wc SQL computed from the original parquet, so any
    * infidelity in the connector — line format, first-space split, UTF-8,
    * commit visibility, partition listing — breaks the hash. Executors do
    * all reading and writing; the driver only lists the directory.
    */
  def wcRoundtrip(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val out = graft.TransientCache.stageDir(s, "mrout-wc")
    graft.operators.TextOps.wc(s, dir)
      .selectExpr("word AS key", "CAST(cnt AS STRING) AS value")
      .write.format("mrout").mode("overwrite").save(out)
    s.read.format("mrout").load(out)
      .selectExpr("key AS word", "CAST(value AS BIGINT) AS cnt")
  }

  /** mrout_stream_roundtrip — the STREAMING-sink gate: per-document
    * (word, "1") pairs — the reference's exact wc wire tuples, stateless so
    * Append mode applies — streamed through the connector's DSv2
    * STREAMING_WRITE path (one AvailableNow pass over the corpus file
    * where it is, epoch-named atomic files into a fresh
    * [[graft.TransientCache.stageDir]]), read back through the batch SOURCE,
    * and reduced to word counts. The oracle is the same wc SQL over the
    * original parquet, so the full streaming write ⇒ batch read loop must
    * be lossless: a dropped epoch file, a double-committed task, or any
    * line-format infidelity flips the hash.
    */
  def wcStreamRoundtrip(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val out = graft.TransientCache.stageDir(s, "mrout-wc-stream")
    graft.streaming.Streams.runAvailableNow(s,
      s.readStream.schema(Tables.schema(s, dir, "documents"))
        .parquet(graft.streaming.Streams.oneFile(dir, "documents.parquet"))
        .select(explode(graft.operators.TextOps.tokens(col("text"))).as("key"),
          lit("1").as("value"))
        .writeStream.format("mrout")
        .option("path", out)
        .outputMode("append"))
    s.read.format("mrout").load(out)
      .groupBy(col("key").as("word"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Filters the reader evaluates exactly (string compares on the two
    * columns). Everything else is rejected back to Spark.
    */
  private[sources] def supported(f: Filter): Boolean = f match {
    case EqualTo(_, v: String) => true
    case StringStartsWith(_, _) => true
    case GreaterThan(_, v: String) => true
    case GreaterThanOrEqual(_, v: String) => true
    case LessThan(_, v: String) => true
    case LessThanOrEqual(_, v: String) => true
    case IsNotNull(_) => true // columns are never null: always passes
    case _ => false
  }

  private[sources] def eval(f: Filter, key: String, value: String): Boolean = {
    def colV(attr: String): String = if (attr == "key") key else value
    f match {
      case EqualTo(a, v: String) => colV(a) == v
      case StringStartsWith(a, p) => colV(a).startsWith(p)
      case GreaterThan(a, v: String) => colV(a) > v
      case GreaterThanOrEqual(a, v: String) => colV(a) >= v
      case LessThan(a, v: String) => colV(a) < v
      case LessThanOrEqual(a, v: String) => colV(a) <= v
      case IsNotNull(_) => true
      case _ => true
    }
  }
}

class MrOutSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mrout"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = MrOut.schema
  // the format's schema is fixed; a user-supplied schema must be the same
  // two string columns (checked in getTable), so external metadata is fine
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    require(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      MrOut.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"mrout is fixed-schema (key STRING, value STRING); got $schema")
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "mrout requires a path")
    new MrOutTable(path)
  }
}

class MrOutTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"mrout:$path"
  override def schema(): StructType = MrOut.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MrOutScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MrOutWriteBuilder(path)
}

class MrOutScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = MrOut.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, rest) = filters.partition(MrOut.supported)
    pushed = sup
    rest // pushed filters are exact — Spark need not re-apply them
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new MrOutScan(path, required, pushed)
}

case class MrOutInputPartition(file: String) extends InputPartition

class MrOutScan(val path: String, val required: StructType, val pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"mrout $path, ReadSchema: ${required.simpleString}, PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isFile)
      .map(_.getPath.toString)
      .filter { f => val n = new Path(f).getName; !n.startsWith(".") && !n.startsWith("_") }
      .sorted
      .map(MrOutInputPartition(_): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MrOutReaderFactory(required.fieldNames, pushed)
}

class MrOutReaderFactory(requiredCols: Array[String], pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new MrOutReader(partition.asInstanceOf[MrOutInputPartition].file, requiredCols, pushed)
}

class MrOutReader(file: String, requiredCols: Array[String], pushed: Array[Filter])
    extends PartitionReader[InternalRow] {
  private val path = new Path(file)
  private val in = path.getFileSystem(new Configuration()).open(path)
  private val reader = new java.io.BufferedReader(
    new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
  private var row: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        val sp = line.indexOf(' ')
        val key = if (sp < 0) line else line.substring(0, sp)
        val value = if (sp < 0) "" else line.substring(sp + 1)
        if (pushed.forall(MrOut.eval(_, key, value))) {
          row = InternalRow.fromSeq(requiredCols.toSeq.map {
            case "key" => UTF8String.fromString(key)
            case _ => UTF8String.fromString(value)
          })
          return true
        }
      }
      line = reader.readLine()
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

class MrOutWriteBuilder(path: String) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new MrOutWrite(path, doTruncate)
}

class MrOutWrite(path: String, truncate: Boolean) extends Write {
  override def toBatch: BatchWrite = new MrOutBatchWrite(path, truncate)
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    // the builder's SupportsTruncate serves the BATCH overwrite path; in
    // streaming, truncate-per-epoch is Complete-mode semantics, which the
    // epoch-file layout does not implement — refuse loudly rather than
    // accumulate stale epochs a Complete consumer would misread
    require(!truncate,
      "mrout streaming sink supports Append mode only (epoch files are " +
        "cumulative; Complete-mode per-epoch truncation is not implemented)")
    new MrOutStreamingWrite(path)
  }
}

case class MrOutCommit(finalFile: String) extends WriterCommitMessage

class MrOutBatchWrite(path: String, truncate: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side, before any task runs: prepare (and on overwrite, clear)
    // the output directory — the TRUNCATE capability's contract
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    if (truncate && fs.exists(p)) fs.delete(p, true): Unit
    fs.mkdirs(p): Unit
    new MrOutWriterFactory(path)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class MrOutWriterFactory(path: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new MrOutWriter(path, partitionId, taskId)
}

/** STREAMING sink half of the connector (Append mode): each epoch's tasks
  * write `mr-out-e<epoch>-<partition>` files through the same atomic
  * temp+rename idiom as the batch writer. The deterministic
  * (epoch, partition) name makes epoch REPLAY idempotent — a failed epoch's
  * retried tasks rename over identical content, the DSv2 streaming analog
  * of the reference's last-rename-wins argument — and the batch READER
  * needs no changes: epoch files are just more `mr-out-*` files in the
  * directory, so a bounded streaming write followed by a batch read
  * composes with every existing mrout consumer.
  */
class MrOutStreamingWrite(path: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    fs.mkdirs(p): Unit
    new MrOutStreamingWriterFactory(path)
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

class MrOutStreamingWriterFactory(path: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new MrOutWriter(path, partitionId, taskId, Some(epochId))
}

/** The reference's atomic-output idiom: write a task-attempt-unique temp
  * file, rename to the deterministic per-partition name on commit. Rename
  * is atomic; duplicate (speculative/retried) attempts produce identical
  * content for the same partition, so last-rename-wins is correct — the
  * exact fault-tolerance argument of `worker.go:184-198` + task retry.
  */
class MrOutWriter(dir: String, partitionId: Int, taskId: Long,
    epoch: Option[Long] = None)
    extends DataWriter[InternalRow] {
  private val fs = new Path(dir).getFileSystem(new Configuration())
  private val stem =
    epoch.fold(f"mr-out-$partitionId%05d")(e => f"mr-out-e$e%05d-$partitionId%05d")
  private val tmp = new Path(dir, s".$stem-$taskId.tmp")
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(tmp, true),
      java.nio.charset.StandardCharsets.UTF_8))

  override def write(record: InternalRow): Unit = {
    out.write(record.getUTF8String(0).toString)
    out.write(' ')
    out.write(record.getUTF8String(1).toString)
    out.write('\n')
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    val dst = new Path(dir, stem)
    if (fs.exists(dst)) fs.delete(dst, false): Unit
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
    MrOutCommit(dst.toString)
  }
  override def abort(): Unit = {
    try out.close() catch { case NonFatal(_) => () }
    fs.delete(tmp, false): Unit
  }
  override def close(): Unit = ()
}
