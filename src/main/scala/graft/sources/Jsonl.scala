package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JSON-lines document ingestion — the interchange format LLM corpora
  * actually ship in (one JSON object per line, gzip-sharded), and the same
  * record shape as the reference's shuffle intermediates
  * (`{"Key":..,"Value":..}` JSON-lines, reference `src/mr/worker.go:123-131`
  * — there a private wire format, here a first-class source/sink).
  *
  * Scale rules encoded here:
  *   - **Explicit schema on read.** Schema inference is a full extra pass
  *     over the data before the real job starts — at 100 TB that doubles
  *     the scan. The reader is always handed the schema (from the catalog /
  *     the writing job), so reading starts immediately and malformed rows
  *     surface as nulls under the default PERMISSIVE mode instead of
  *     failing the scan.
  *   - **Gzip shards, one per task.** gzip is not splittable — each shard
  *     is one read task, so shard count (the writer's partitioning) IS the
  *     read parallelism. The writer keeps the source frame's partitioning;
  *     a production writer sizes shards to ~100-500 MB for that reason.
  *     (Columnar parquet stays the engine's native format; JSONL is the
  *     ingest/export boundary.)
  */
object Jsonl {

  /** Round-trip the documents table through gzip JSON-lines: write the
    * parquet fixture out as a JSONL export into a fresh
    * [[graft.TransientCache.stageDir]] (deleted by the query's sweep, so the
    * returned frame must be consumed before it), read it back with the
    * explicit schema, and return the read-back frame. The write is the sink
    * half, the read the source half; both run on executors (rows never pass
    * through the driver).
    */
  def documentsViaJsonl(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val out = graft.TransientCache.stageDir(s, "jsonl-documents")
    docs.write.mode("overwrite").option("compression", "gzip").json(out)
    s.read.schema(docs.schema).json(out)
  }

  /** docs_jsonl — the REGISTERED query: per-(source, lang) corpus accounting
    * computed from the JSONL round-trip, verified against the DuckDB oracle
    * computed from the original parquet. The distinct-md5 count makes the
    * comparison content-sensitive: any JSON codec infidelity (escaping,
    * number formatting, encoding) changes a fingerprint and fails the hash
    * match, so the gate proves byte-exact text round-tripping, not just row
    * counts.
    */
  def docsJsonlStats(s: SparkSession, dir: String): DataFrame =
    documentsViaJsonl(s, dir)
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_uniq"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        max(col("doc_id")).as("max_doc"))
}
