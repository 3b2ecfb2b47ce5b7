package graft

import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{MrOut, MrOutScan}

/** The custom DSv2 `mrout` connector: round-trip fidelity, column pruning,
  * exact filter pushdown, atomic commit hygiene, and first-space parse
  * semantics (values may contain spaces; keys never do).
  */
class MrOutSourceSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir(name: String): String =
    scratchDir(name).resolve("out").toString

  private def scanOf(df: org.apache.spark.sql.DataFrame): MrOutScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[MrOutScan]
    }.getOrElse(fail("no BatchScanExec in plan"))

  test("round-trip: wcRoundtrip == direct wc") {
    val got = MrOut.wcRoundtrip(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val want = graft.operators.TextOps.wc(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got == want)
  }

  test("values keep their spaces; keys split at the FIRST space") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("mrout-space")
    Seq(("a", "x y z"), ("b", ""), ("c", "1")).toDF("key", "value")
      .repartition(2)
      .write.format("mrout").mode("overwrite").save(dir)
    val back = s.read.format("mrout").load(dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("a", "x y z"), ("b", ""), ("c", "1")))
  }

  test("column pruning reaches the scan (ReadSchema is the selected column)") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("mrout-prune")
    Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
      .write.format("mrout").mode("overwrite").save(dir)
    val df = s.read.format("mrout").load(dir).select("key")
    assert(scanOf(df).required.fieldNames.toSeq == Seq("key"))
    assert(df.collect().map(_.getString(0)).toSet == Set("k1", "k2"))
  }

  test("supported filters push into the reader and are consumed (no residual Filter)") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("mrout-filter")
    Seq(("apple", "1"), ("banana", "2"), ("cherry", "3")).toDF("key", "value")
      .write.format("mrout").mode("overwrite").save(dir)
    val df = s.read.format("mrout").load(dir).filter("key >= 'b'")
    val scan = scanOf(df)
    assert(scan.pushed.nonEmpty, "no filter pushed to the mrout scan")
    // exact pushdown: Spark must not re-evaluate above the scan
    val hasFilterNode = df.queryExecution.executedPlan.exists {
      case _: org.apache.spark.sql.execution.FilterExec => true
      case _ => false
    }
    assert(!hasFilterNode, "pushed filter was re-applied above the scan")
    assert(df.collect().map(_.getString(0)).toSet == Set("banana", "cherry"))
  }

  test("overwrite truncates; commit leaves no temp files; files are per-partition") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("mrout-commit")
    Seq(("old", "0")).toDF("key", "value").coalesce(1)
      .write.format("mrout").mode("overwrite").save(dir)
    Seq(("new1", "1"), ("new2", "2")).toDF("key", "value").repartition(2)
      .write.format("mrout").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    // hidden .crc companions come from Hadoop's local ChecksumFileSystem —
    // expected; the reader skips dotfiles. What must NOT remain: temp files
    // (commit renames them away) or the pre-overwrite generation's data.
    assert(files.forall(f => !f.endsWith(".tmp")), s"temp leftovers: ${files.mkString(",")}")
    assert(files.filterNot(_.startsWith(".")).forall(_.startsWith("mr-out-")),
      s"unexpected files: ${files.mkString(",")}")
    val back = s.read.format("mrout").load(dir).collect()
      .map(r => r.getString(0)).toSet
    assert(back == Set("new1", "new2"), "overwrite must replace prior contents")
  }

  test("streaming write: epoch-named atomic files, batch read composes, totals exact") {
    val s = spark
    val rtDf = graft.sources.MrOut.wcStreamRoundtrip(s, TestSpark.Sf0001)
    val rt = rtDf.collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt")).toMap
    val batch = graft.operators.TextOps.wc(s, TestSpark.Sf0001).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt")).toMap
    assert(rt === batch, "streaming-write roundtrip diverged from batch wc")
    // sink dir mechanics: only epoch-named committed files, no temp
    // leftovers. The sink is the roundtrip's own staged dir; its read-back
    // frame names it as the path of its mrout relation.
    val out = rtDf.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation => r.options.get("path")
    }.getOrElse(fail("no mrout relation in the roundtrip's plan"))
    assert(new java.io.File(out).getName.startsWith("graft-mrout-wc-stream-"),
      s"sink is not a staged dir: $out")
    val files = new java.io.File(out).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(files.nonEmpty && files.forall(_.matches("mr-out-e\\d{5}-\\d{5}")),
      s"unexpected sink files: ${files.mkString(",")}")
    assert(new java.io.File(out).listFiles().forall(f => !f.getName.endsWith(".tmp")))
  }

  test("streaming write: Complete mode is refused, not silently mis-written") {
    val s = spark
    import s.implicits._
    val staged = scratchDir("mrout-complete-probe")
    Seq(("k", "v")).toDF("key", "value").write.mode("overwrite")
      .parquet(staged.resolve("in").toString)
    val out = tmpDir("mrout-complete-out")
    val ex = intercept[Exception] {
      val q = s.readStream
        .schema("key STRING, value STRING")
        .parquet(staged.resolve("in").toString)
        .groupBy("key").count()
        .selectExpr("key", "CAST(count AS STRING) AS value")
        .writeStream.format("mrout")
        .option("path", out)
        .option("checkpointLocation", s"$out-ckpt")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("Append mode only"))),
      s"expected the Append-only refusal, got: $ex")
  }
}
