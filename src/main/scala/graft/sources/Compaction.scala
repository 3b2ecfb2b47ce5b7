package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the standing lake-maintenance job every 100 TB
  * deployment runs: streaming ingest and fine-grained partition writes leave
  * tables as thousands of KB-scale files, and scan cost degrades to
  * per-file open/footer overhead (plus NameNode/object-store listing
  * pressure) long before data volume matters. Compaction rewrites a table
  * region into few large files without changing its contents.
  *
  * The rewrite here is `repartition(n)` — a round-robin full shuffle that
  * yields n near-equal files regardless of the input's skewed file layout.
  * (`coalesce` would be cheaper — no shuffle — but inherits input skew:
  * merging 64 skewed small files into 4 via coalesce can leave one file
  * carrying most of the bytes. For a maintenance job that runs off-peak,
  * balanced output wins; production pickers switch on measured skew.)
  *
  * Correctness contract: compaction must be CONTENT-INVARIANT. The
  * registered query returns a content fingerprint (per (source, lang):
  * doc count, distinct-md5 count, char sum, max id) computed FROM THE
  * COMPACTED FILES, while the DuckDB oracle computes the same fingerprint
  * from the ORIGINAL parquet — any row lost, duplicated, or corrupted by
  * the rewrite flips the hash. CompactionSpec additionally pins the
  * mechanical claim (64 files in, exactly [[CompactTarget]] files out).
  */
object Compaction {

  /** Small-file count staged as the compaction input — 64 files of ~8 docs
    * each at the fixture scale, the shape a per-hour ingest leaves behind.
    */
  val SmallFiles = 64

  /** Output file count for the fixed-count mode; the fixture pins an exact
    * count so the spec can assert it. The production byte-derived sizing
    * is [[compactDocumentsBySize]].
    */
  val CompactTarget = 4

  /** Stage the documents table as [[SmallFiles]] small parquet files, then
    * compact them into [[CompactTarget]] files. Returns (smallDir,
    * compactedDir): two fresh [[graft.TransientCache.stageDir]]s that the
    * query's sweep deletes, so read them before it.
    */
  def compactDocuments(s: SparkSession, dir: String): (String, String) = {
    val (small, compacted, _) = compact(s, dir)(_ => CompactTarget)
    (small, compacted)
  }

  /** Stage, then rewrite into `count(smallDir)` files: the shared body of
    * both compaction modes.
    */
  private def compact(s: SparkSession, dir: String)(
      count: String => Int): (String, String, Int) = {
    val small = graft.TransientCache.stageDir(s, "compact-small")
    val compacted = graft.TransientCache.stageDir(s, "compact-compacted")
    Tables.documents(s, dir)
      .repartition(SmallFiles, col("doc_id"))
      .write.mode("overwrite").parquet(small)
    val n = count(small)
    s.read.parquet(small)
      .repartition(n)
      .write.mode("overwrite").parquet(compacted)
    (small, compacted, n)
  }

  /** Byte-sized target for [[compactDocumentsBySize]] — the PRODUCTION
    * sizing mode: real compactors target bytes per output file (~128 MB–
    * 1 GB on a lake), not a fixed count, because the count that yields
    * healthy files is a function of how much data the region holds. The
    * fixture value is small so the derived count lands strictly between 1
    * and [[SmallFiles]] at test scale — the derivation, not the magnitude,
    * is what the spec pins.
    */
  val TargetBytesPerFile: Long = 64L * 1024

  /** Derived output file count for `inputBytes` of source data: one file
    * per [[TargetBytesPerFile]]-sized chunk, never zero. Summing the
    * SOURCE bytes slightly overestimates the output size (the compacted
    * files' shared dictionaries/footers compress better) — the right
    * direction to err for a maintenance job, since slightly-small files
    * are healthy and an oversized file re-splits on the next pass.
    */
  def sizeDerivedFileCount(inputBytes: Long,
      targetBytes: Long = TargetBytesPerFile): Int =
    math.max(1L, (inputBytes + targetBytes - 1) / targetBytes).toInt

  /** The byte-sized sibling of [[compactDocuments]]: same staging, same
    * round-robin rewrite, same content-invariance obligations, but the
    * output file count derives from the staged input's summed data-file
    * bytes via [[sizeDerivedFileCount]]. Returns (smallDir, compactedDir,
    * derived count) so the spec can assert the derivation independently.
    */
  def compactDocumentsBySize(s: SparkSession, dir: String,
      targetBytes: Long = TargetBytesPerFile): (String, String, Int) =
    compact(s, dir)(small =>
      sizeDerivedFileCount(dataFiles(small).map(_.length).sum, targetBytes))

  /** compact_docs — the registered content-invariance gate: the per-group
    * fingerprint of the COMPACTED files (the oracle computes it from the
    * original parquet, so staging + compaction must be lossless end to end).
    */
  def compactDocs(s: SparkSession, dir: String): DataFrame = {
    val (_, compacted) = compactDocuments(s, dir)
    s.read.parquet(compacted)
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_uniq"),
        sum(length(col("text"))).as("sum_chars"),
        max(col("doc_id")).as("max_doc"))
  }

  /** Parquet data files under a directory (ignores _SUCCESS / checksums). */
  def dataFiles(dirPath: String): Array[java.io.File] =
    Option(new java.io.File(dirPath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Partition count for [[fileSkipStats]]' staged range-bucketed lake. */
  val SkipBuckets = 8

  /** file_skip_stats — the scan-pruning MANIFEST every lake table keeps
    * (Iceberg/Delta file statistics): stage the documents table as a
    * range-bucketed partitioned lake (bucket = doc_id DIV width, width
    * derived from max(doc_id) so the layout is scale-generic), then build
    * the per-partition stats record — row count, min/max of the clustering
    * key, byte-weight proxy — FROM THE PHYSICAL FILES (partition identity
    * recovered from `input_file_name`, the same provenance a manifest
    * builder reads), and attach the prune decision for a planner predicate
    * `doc_id BETWEEN 2·w AND 5·w − 1`: a partition is scanned iff its
    * [min, max] intersects the predicate range, so ~⅝ of the partitions
    * prune at any scale factor.
    *
    * The gate is the manifest's CONTENT-INVARIANCE contract (compact_docs'
    * discipline): the oracle computes the same stats from the LOGICAL
    * table, so a staging bug that drops/duplicates rows, mis-routes a
    * bucket, or mis-parses a file path flips the hash. The one driver-side
    * read is the 1-row max(doc_id) aggregate (constant-bounded-collect
    * discipline); at 100 TB the manifest build is one scan + one
    * |partitions|-row aggregate — exactly what OPTIMIZE/ANALYZE jobs do.
    */
  def fileSkipStats(s: SparkSession, dir: String,
      buckets: Int = SkipBuckets): DataFrame = {
    val docs = Tables.documents(s, dir)
    val maxRow = docs.agg(max(col("doc_id"))).collect()(0)
    // max() over zero rows is NULL — fail with a message, not an NPE
    require(!maxRow.isNullAt(0), s"empty documents table at $dir")
    val maxId = maxRow.getLong(0)
    val w = maxId / buckets + 1
    val lake = graft.TransientCache.stageDir(s, "skipstats-lake")
    docs.withColumn("bucket", expr(s"doc_id DIV $w"))
      .write.mode("overwrite").partitionBy("bucket").parquet(lake)
    val (lo, hi) = (2 * w, 5 * w - 1)
    s.read.parquet(lake)
      .select(
        regexp_extract(input_file_name(), "bucket=([0-9]+)", 1)
          .cast("long").as("bucket"),
        col("doc_id"), col("n_chars"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("would_scan",
        !(col("max_id") < lo || col("min_id") > hi))
  }
}
