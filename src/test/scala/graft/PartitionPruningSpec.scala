package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition pruning on a date-partitioned parquet lake — the layout the
  * 100 TB design assumes (`sources/Tables` scaladoc): a partition-column
  * filter must reach the file index and cut the files actually read, not
  * just filter rows post-scan.
  */
class PartitionPruningSpec extends AnyFunSuite {
  import TestSpark._

  private def numFilesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // execute so scan metrics are populated
    val scans = df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "no file scan in plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("a partition-column filter cuts the files read, not just the rows") {
    val d = scratchDir("events-lake").toString
    graft.sources.Tables.events(spark, Sf0001)
      .withColumn("edate", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("edate").parquet(s"$d/events_lake")

    val lake = spark.read.parquet(s"$d/events_lake")
    val dates = lake.select("edate").distinct().collect().map(_.getDate(0))
    assert(dates.length > 1, "fixture events span a single date; test needs several")

    val full = lake.select("event_id")
    val pruned = lake.filter(col("edate") === lit(dates.min)).select("event_id")
    val fullFiles = numFilesRead(full)
    val prunedFiles = numFilesRead(pruned)
    assert(prunedFiles < fullFiles,
      s"partition filter did not prune: $prunedFiles of $fullFiles files read")

    // and the partition filter shows up as such (not a post-scan data filter)
    val scan = pruned.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }.head
    assert(scan.metadata("PartitionFilters").contains("edate"),
      s"edate not in PartitionFilters: ${scan.metadata("PartitionFilters")}")
  }
}
