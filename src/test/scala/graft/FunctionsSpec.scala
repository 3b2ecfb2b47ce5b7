package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, GraftFunctions, HashFunctions}

/** The native `fnv64` Catalyst expression: interpreted/codegen parity with
  * the Scala function, null safety, and the SQL functions and rules that
  * every [[Harness.session]] carries through [[GraftExtensions]].
  */
class FunctionsSpec extends AnyFunSuite {
  import TestSpark._

  test("fnv64 column == Scala fnv64 (codegen path over a real scan)") {
    val rows = graft.sources.Tables.documents(spark, Sf0001)
      .select(org.apache.spark.sql.functions.col("text"),
        GraftFunctions.fnv64(org.apache.spark.sql.functions.col("text")).as("h"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("h") == HashFunctions.fnv64(r.getAs[String]("text")))
    }
  }

  test("optimizer rewrites the HOF dot-product idiom to the native kernel") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val hof = "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    // parquet round-trip (can't be constant-folded into a LocalRelation);
    // parquet arrays read back element-NULLABLE, so the null-aware kernel
    // must be selected
    val dir = scratchDir("arraydot-rule").toString
    Seq(
        (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
        (2L, Seq[java.lang.Double](0.5, -1.0), Seq[java.lang.Double](2.0, 2.0)),
        (3L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](5.0, 6.0)))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).selectExpr("id", s"$hof AS dot")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("array_dot_nullsafe"), s"rule did not fire:\n$optimized")
    assert(!optimized.contains("aggregate(zip_with"), s"HOF survived:\n$optimized")
    val rows = df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // null element poisons the fold -> NULL, exactly like the HOF
    assert(rows == Map(1L -> Some(11.0), 2L -> Some(-1.0), 3L -> None))
    // soundness guard: unequal lengths must stay NULL (zip_with pads nulls)
    val uneqDir = scratchDir("arraydot-uneq").toString
    Seq((1L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), (2L, Seq(1.0, 2.0), Seq(3.0, 4.0)))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(uneqDir)
    val uneq = spark.read.parquet(uneqDir).selectExpr("id", s"$hof AS dot")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(uneq == Map(1L -> None, 2L -> Some(11.0)))
    // the rewritten plan agrees with the un-rewritten HOF on the fixture
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("a"))
      .withColumn("b", col("a"))
    val viaRule = emb.selectExpr("vec_id", s"$hof AS dot")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaKernel = emb.select(col("vec_id"),
        GraftFunctions.arrayDot(col("a"), col("b")).as("dot"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaRule == viaKernel)
  }

  test("sorted_overlap registers as a SQL function") {
    val got = spark.sql(
      "SELECT sorted_overlap(array(1, 3, 5, 7), array(3, 4, 5, 9)) AS n")
      .collect()(0).getAs[Int]("n")
    assert(got == 2)
  }

  test("fnv64 registers as a SQL function") {
    val got = spark.sql("SELECT fnv64('abc') AS h").collect()(0).getAs[Long]("h")
    assert(got == HashFunctions.fnv64("abc"))
  }

  test("fnv64 is null-safe") {
    val r = spark.sql("SELECT fnv64(CAST(NULL AS STRING)) AS h").collect()(0)
    assert(r.isNullAt(0))
  }

  test("array_dot == driver-side sequential dot (codegen over a real scan)") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.Tables.embeddings(spark, Sf0001).limit(50)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .select(col("vec_id"), col("v"),
        GraftFunctions.arrayDot(col("v"), col("v")).as("d"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](r.fieldIndex("v"))
      var s = 0.0
      v.foreach(x => s += x * x)
      assert(r.getAs[Double]("d") == s) // bit-exact: same summation order
    }
  }

  test("array_dot registers as a SQL function") {
    val got = spark.sql(
      "SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect()(0).getAs[Double]("d")
    assert(got == 32.0)
  }

  test("sorted_overlap: edge cases (empty, disjoint, subset, interleaved)") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val df = Seq(
      (Seq.empty[Int], Seq(1, 2, 3), 0),
      (Seq(1, 2, 3), Seq(4, 5, 6), 0),
      (Seq(1, 2, 3), Seq(1, 2, 3), 3),
      (Seq(1, 3, 5, 7), Seq(2, 3, 4, 7, 9), 2),
      (Seq(1, 2), Seq(1, 2, 3, 4), 2)
    ).toDF("a", "b", "expected")
    val got = df.select(col("expected"),
      GraftFunctions.sortedOverlap(col("a"), col("b")).as("got")).collect()
    got.foreach(r => assert(r.getAs[Int]("got") == r.getAs[Int]("expected")))
  }

  test("fnv64 known values are stable across releases") {
    // pinned: changing the hash silently would corrupt persisted fingerprints
    assert(HashFunctions.fnv64("") == 0xcbf29ce484222325L)
    assert(HashFunctions.fnv64("a") == ((0xcbf29ce484222325L ^ 'a'.toLong) * 0x100000001b3L))
  }

  test("a wrong-arity call to each graft SQL function fails naming the function") {
    val calls = Seq(
      "fnv64()", "fnv64('a', 'b')",
      "array_dot(array(1.0d))", "array_dot(array(1.0d), array(1.0d), array(1.0d))",
      "sorted_overlap(array(1))", "sorted_overlap(array(1), array(1), array(1))",
      "bpe_token_count()", "bpe_token_count('a', 'b')",
      "ws_token_count()", "ws_token_count('a', 'b')",
      "ws_split()", "ws_split('a', 'b')",
      "wc_count('a')", "wc_count('a', 'b', 'c')")
    assert(calls.map(_.takeWhile(_ != '(')).toSet ==
      GraftExtensions.functions.map(_.name).toSet)
    val unnamed = calls.filterNot { call =>
      scala.util.Try(spark.sql(s"SELECT $call AS x").collect()) match {
        case scala.util.Failure(e) =>
          String.valueOf(e.getMessage).contains(call.takeWhile(_ != '('))
        case _ => false
      }
    }
    assert(unnamed.isEmpty, s"wrong-arity calls that did not fail naming the function: $unnamed")
  }

  test("a fresh Harness.session resolves every graft function and rule before any as-of query") {
    // getOrCreate returns a live active or default session unchanged, so
    // both are cleared first; the new session shares the suite's
    // SparkContext, and the shared session is restored for later suites
    // (suites run sequentially: Test/parallelExecution := false).
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.graftshim.{AsOfJoinExec, BroadcastAsOfJoinExec}
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = Harness.session(cores = 2)
      assert(fresh ne base, "the spec needs a fresh session")
      val r = fresh.sql(
        "SELECT fnv64('abc') AS h, bpe_token_count('a b!') AS nb, " +
          "ws_token_count(' a b ') AS nw, " +
          "sorted_overlap(array(1, 2), array(2, 3)) AS so, " +
          "array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
          "ws_split('a  b') AS sp").head
      assert(r.getAs[Long]("h") == HashFunctions.fnv64("abc"))
      assert(r.getAs[Int]("nb") == 3) // a | b | !
      assert(r.getAs[Int]("nw") == 2)
      assert(r.getAs[Int]("so") == 1)
      assert(r.getAs[Double]("d") == 11.0)
      assert(r.getSeq[String](5) == Seq("a", "b"))
      val wc = fresh.sql("SELECT w, CAST(wc_count(w, '1') AS BIGINT) AS n " +
          "FROM VALUES ('a'), ('b'), ('a') AS t(w) GROUP BY w").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(wc == Map("a" -> 2L, "b" -> 1L))
      val missing = GraftExtensions.functions.map(_.name).filterNot(fresh.catalog.functionExists)
      assert(missing.isEmpty, s"graft functions a fresh session lacks: $missing")
      // the optimizer rule fires in the fresh session
      val dir = scratchDir("fresh-arraydot").toString
      fresh.range(1).selectExpr("id", "array(1.0d, 2.0d) AS a", "array(3.0d, 4.0d) AS b")
        .write.mode("overwrite").parquet(dir)
      val hof = "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
      val df = fresh.read.parquet(dir).selectExpr("id", s"$hof AS dot")
      assert(df.queryExecution.optimizedPlan.toString.contains("array_dot_nullsafe"),
        "ArrayDotRewrite must fire in a fresh Harness.session")
      assert(df.collect()(0).getDouble(1) == 11.0)
      // and the as-of strategy plans the native exec, not a window fallback
      val plan = graft.operators.AsOf.q35AsofNative(fresh, Sf0001).queryExecution.sparkPlan
      assert(plan.collect {
        case e: AsOfJoinExec => e
        case e: BroadcastAsOfJoinExec => e
      }.size == 1, s"expected one native as-of exec in:\n$plan")
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"as-of planned through a window:\n$plan")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
