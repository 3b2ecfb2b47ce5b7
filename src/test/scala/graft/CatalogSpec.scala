package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CatalogQueries, Tables}

/** The V2 catalog plugin: three-part-name resolution, listing surfaces,
  * data parity with direct reads, pushdown through the catalog path, and
  * the read-only contract.
  */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val (cat, ns) = CatalogQueries.register(spark, Sf0001)

  test("SHOW NAMESPACES / SHOW TABLES surface the lake layout") {
    val nss = spark.sql(s"SHOW NAMESPACES IN $cat").collect().map(_.getString(0))
    assert(nss.contains(ns), s"namespaces: ${nss.mkString(",")}")
    val tables = spark.sql(s"SHOW TABLES IN $cat.$ns").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(Set("lineitem", "orders", "customer", "documents", "events")
      .subsetOf(tables), s"tables: $tables")
  }

  test("catalog read == direct parquet read") {
    val viaCatalog = spark.sql(s"SELECT * FROM $cat.$ns.region").collect()
      .map(_.toSeq).toSet
    val direct = Tables.region(spark, Sf0001).collect().map(_.toSeq).toSet
    assert(viaCatalog == direct)
  }

  test("filters and pruning push through the catalog to the parquet scan") {
    val df = spark.sql(
      s"SELECT l_orderkey FROM $cat.$ns.lineitem WHERE l_quantity > 45.0")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      "catalog scans must keep parquet filter pushdown")
    val readSchema = plan.split("ReadSchema: struct<")(1).split(">")(0)
    assert(readSchema.split(",").length <= 2,
      s"catalog scan should prune to the referenced columns, got $readSchema")
  }

  test("the catalog is read-only and names resolve strictly") {
    val ddl = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.$ns.scratch (x INT)"))
    assert(ddl.getMessage.toLowerCase.contains("read-only")
      || ddl.isInstanceOf[UnsupportedOperationException], ddl.getMessage)
    val missing = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.$ns.nope").collect())
    assert(missing.getMessage.contains("nope"))
    val badNs = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.no_such_ns.lineitem").collect())
    assert(badNs.getMessage.contains("no_such_ns"))
  }

  test("ambiguous namespace encodings and bad roots fail loudly") {
    val s = spark
    import s.implicits._
    // sibling dirs that encode to the same namespace must be an error,
    // not a nondeterministic pick of whichever the filesystem lists first
    val tmp = scratchDir("ambig").toFile
    new java.io.File(tmp, "sf0.1").mkdirs()
    new java.io.File(tmp, "sf0_1").mkdirs()
    Seq((1L, "x")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$tmp/sf0.1/kv.parquet")
    val (catA, _) = CatalogQueries.register(spark, s"$tmp/sf0.1")
    val ambig = intercept[Exception](
      spark.sql(s"SELECT * FROM $catA.sf0_1.kv").collect())
    assert(ambig.getMessage.contains("ambiguous"), ambig.getMessage)
    // a typo'd root reads as a catalog-level error naming the root
    val missing = new java.io.File(tmp, "nope/sf0.1")
    val (catB, nsB) = CatalogQueries.register(spark, missing.toString)
    val bad = intercept[Exception](
      spark.sql(s"SHOW NAMESPACES IN $catB").collect())
    assert(bad.getMessage.contains("does not exist"), bad.getMessage)
    // and distinct roots whose sanitized paths collide still get distinct
    // catalogs (the md5 disambiguator) — '.' and '-' both sanitize to '_'
    val dotRoot = new java.io.File(tmp, "lake.a/sf"); dotRoot.mkdirs()
    val dashRoot = new java.io.File(tmp, "lake-a/sf"); dashRoot.mkdirs()
    val (catC, _) = CatalogQueries.register(spark, dotRoot.toString)
    val (catD, _) = CatalogQueries.register(spark, dashRoot.toString)
    assert(catC != catD)
  }

  test("two roots in one session get independent catalog instances") {
    // register() names the catalog by root, so a second root cannot be
    // poisoned by the first one's cached initialize()
    val tmp = scratchDir("lake").toFile
    val sub = new java.io.File(tmp, "tiny.lake"); sub.mkdirs()
    val s = spark
    import s.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$sub/kv.parquet")
    val (cat2, ns2) = CatalogQueries.register(spark, sub.toString)
    assert(cat2 != cat)
    assert(ns2 == "tiny_lake") // dots in dir names surface as underscores
    val got = spark.sql(s"SELECT id, v FROM $cat2.$ns2.kv ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    // and the original catalog still resolves its own root
    assert(spark.sql(s"SELECT count(*) FROM $cat.$ns.region").collect()(0).getLong(0) == 5L)
  }
}
