package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format breadth: the same relation written to CSV and
  * JSON-lines and read back (explicit schema — no inference scan) must
  * aggregate identically to the parquet original. Covers the non-columnar
  * ingest path a lake ingests from before compaction.
  */
class SourcesSpec extends AnyFunSuite {
  import TestSpark._

  test("csv and json round-trips preserve the orders relation") {
    val orig = graft.sources.Tables.orders(spark, Sf0001)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val d = scratchDir("sources-rt").toString
    orig.write.mode("overwrite").option("header", "true").csv(s"$d/orders_csv")
    orig.write.mode("overwrite").json(s"$d/orders_json")

    val schema = orig.schema
    val fromCsv = spark.read.schema(schema).option("header", "true").csv(s"$d/orders_csv")
    val fromJson = spark.read.schema(schema).json(s"$d/orders_json")

    def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
      val r = df.agg(
        count(lit(1)), sum("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")).head
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    assert(fingerprint(fromCsv) == fingerprint(orig))
    assert(fingerprint(fromJson) == fingerprint(orig))
    // row-level equality, not just aggregates
    assert(fromCsv.exceptAll(orig).count() == 0 && orig.exceptAll(fromCsv).count() == 0)
    assert(fromJson.exceptAll(orig).count() == 0 && orig.exceptAll(fromJson).count() == 0)
  }

  test("orc round-trip preserves the orders relation (columnar alternative)") {
    val orig = graft.sources.Tables.orders(spark, Sf0001)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val d = scratchDir("sources-orc").toString
    orig.write.mode("overwrite").orc(s"$d/orders_orc")
    val fromOrc = spark.read.orc(s"$d/orders_orc")
    // ORC is self-describing: schema must survive without being supplied
    assert(fromOrc.schema == orig.schema)
    assert(fromOrc.exceptAll(orig).count() == 0 && orig.exceptAll(fromOrc).count() == 0)
    // predicate pushdown reaches the ORC scan like parquet's
    val plan = fromOrc.filter(col("o_orderkey") < 100).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.toLowerCase.contains("orc"))
  }

  test("gzip jsonl round-trip preserves the documents corpus byte-for-byte") {
    val orig = graft.sources.Tables.documents(spark, Sf0001)
    val back = graft.sources.Jsonl.documentsViaJsonl(spark, Sf0001)
    assert(back.schema == orig.schema)
    // row-level equality including full text payloads — any JSON escaping or
    // encoding infidelity in the write/read pair shows up here
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
    // the shards really are gzip (not plain .json)
    val stage = new java.io.File(back.inputFiles.head.stripPrefix("file:"))
    assert(stage.getName.endsWith(".json.gz"), stage.getName)
    // and the registered stats query is non-degenerate on the fixture
    val stats = graft.sources.Jsonl.docsJsonlStats(spark, Sf0001).collect()
    assert(stats.nonEmpty)
    assert(stats.map(_.getAs[Long]("n_docs")).sum ==
      graft.sources.Tables.documents(spark, Sf0001).count())
  }

  test("a parquet path rewritten with a new schema re-infers and replaces its cache entry") {
    val s = spark
    import s.implicits._
    val d = scratchDir("sources-schema").toString
    val path = s"$d/t.parquet"
    Seq((1L, "a")).toDF("id", "name").write.mode("overwrite").parquet(path)
    assert(graft.sources.Tables(spark, d, "t").columns.toSeq == Seq("id", "name"))
    Seq((2L, 3.5, true)).toDF("id", "score", "flag")
      .write.mode("overwrite").parquet(path)
    val again = graft.sources.Tables(spark, d, "t")
    assert(again.columns.toSeq == Seq("id", "score", "flag"))
    assert(again.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 3.5, true)))
    assert(graft.sources.Tables.cachedEntries(path) == 1,
      "a rewritten path must replace its entry, not add one")
  }
}
