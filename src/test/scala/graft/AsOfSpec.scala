package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graftshim.{AsOfJoinExec, AsOfJoinShim, BroadcastAsOfJoinExec}

import graft.operators.AsOf

/** Test-only scan that emits every row through ONE shared UnsafeRow buffer,
  * overwritten on each next() — the row-reuse contract of SortExec's
  * (spilled) output iterator, reproduced deterministically. Top-level so the
  * task closure doesn't capture the suite.
  */
case class ReusedRowsExec(
    output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
    data: Seq[(String, Long, String)])
    extends org.apache.spark.sql.execution.LeafExecNode {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
  import org.apache.spark.unsafe.types.UTF8String

  protected override def doExecute(): RDD[InternalRow] = {
    val types = output.map(_.dataType).toArray
    val local = data
    sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val proj = UnsafeProjection.create(types)
      val shared = new UnsafeRow(types.length)
      var buf = new Array[Byte](0)
      local.iterator.map { case (a, b, c) =>
        val u = proj(InternalRow(UTF8String.fromString(a), b, UTF8String.fromString(c)))
        val bytes = u.getBytes
        if (buf.length < bytes.length) buf = new Array[Byte](bytes.length)
        System.arraycopy(bytes, 0, buf, 0, bytes.length)
        shared.pointTo(buf, bytes.length)
        shared
      }
    }
  }
}

/** The native as-of join exec: hand-built semantics (inclusive tie, no
  * match, multiple updates, null key/time), differential equality with the
  * composed union+window formulation, and plan-shape assertions (the
  * strategy fires; EnsureRequirements plants one exchange per side).
  */
class AsOfSpec extends AnyFunSuite {
  import TestSpark._

  private def shim(left: Seq[(Long, Long, String)], right: Seq[(Long, Long, String)]) = {
    val s = spark
    import s.implicits._
    val l = left.toDF("k", "t", "ev")
    val r = right.toDF("r_k", "r_t", "payload")
    AsOfJoinShim.asof(l, r, "k", "r_k", "t", "r_t")
      .select("k", "t", "ev", "payload")
  }

  test("semantics: latest right row at-or-before, per key") {
    val right = Seq(
      (1L, 10L, "a10"), (1L, 20L, "a20"), (1L, 30L, "a30"),
      (2L, 15L, "b15"))
    val left = Seq(
      (1L, 5L, "e1"),   // before any update -> null
      (1L, 10L, "e2"),  // inclusive tie -> a10
      (1L, 25L, "e3"),  // between 20 and 30 -> a20
      (1L, 99L, "e4"),  // after all -> a30
      (2L, 14L, "e5"),  // before b15 -> null
      (2L, 16L, "e6"),  // -> b15
      (3L, 50L, "e7"))  // key with no right rows -> null
    val got = shim(left, right).collect()
      .map(r => r.getAs[String]("ev") -> Option(r.getAs[String]("payload"))).toMap
    assert(got == Map(
      "e1" -> None, "e2" -> Some("a10"), "e3" -> Some("a20"), "e4" -> Some("a30"),
      "e5" -> None, "e6" -> Some("b15"), "e7" -> None))
  }

  test("null key/time rows never match and are passed through") {
    val s = spark
    import s.implicits._
    def run(): Map[String, Option[String]] = {
      val l = Seq((Some(1L), Some(10L), "ok"), (None, Some(10L), "nullkey"),
        (Some(1L), None, "nulltime")).toDF("k", "t", "ev")
      val r = Seq((Some(1L), Some(5L), "p"), (None, Some(1L), "nk")).toDF("r_k", "r_t", "payload")
      AsOfJoinShim.asof(l, r, "k", "r_k", "t", "r_t")
        .select("ev", "payload").collect()
        .map(x => x.getAs[String]("ev") -> Option(x.getAs[String]("payload"))).toMap
    }
    val expected = Map("ok" -> Some("p"), "nullkey" -> None, "nulltime" -> None)
    assert(run() == expected) // broadcast variant (dim-sized right side)
    // the same nulls through the co-partitioned merge, generated AND
    // interpreted (null rows also land on the right side's null-key
    // partition, where the merge must discard them)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(run() == expected, "codegen merge")
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      assert(run() == expected, "interpreted merge")
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.conf.unset("spark.sql.codegen.fallback")
      s.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("differential: native exec == union+window formulation == on fixture") {
    val native = AsOf.q35AsofNative(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        Option(r.get(r.fieldIndex("o_orderkey"))))).toSet
    val composed = graft.operators.Relational.q17Asof(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        Option(r.get(r.fieldIndex("o_orderkey"))))).toSet
    assert(native == composed)
    assert(native.nonEmpty)
  }

  test("property: both physical variants == driver-side reference on random logs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 6) {
      // odd rounds force the co-partitioned merge exec; even rounds use the
      // default threshold, which broadcasts these dim-sized right sides
      val forceShuffle = round % 2 == 1
      val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      if (forceShuffle) s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
      val nKeys = 1 + rnd.nextInt(8)
      // right side unique on (key, time): as-of over duplicate timestamps is
      // order-ambiguous by definition (both the exec and the window
      // formulation pick an arbitrary survivor), so real callers dedup first
      val right = rnd.shuffle((for {
        k <- 0 until nKeys
        t <- 0 until 40
        if rnd.nextDouble() < 0.3
      } yield (k.toLong, t.toLong, s"p$k-$t")).toList)
      val left = List.fill(150)(
        (rnd.nextInt(nKeys + 2).toLong, rnd.nextInt(50).toLong, rnd.nextInt(1000)))
        .zipWithIndex.map { case ((k, t, _), i) => (k, t, i.toLong) }
      // odd, mismatched pre-partitioning on both sides: the exec's declared
      // distribution must force correct co-partitioning regardless (and AQE
      // coalescing must keep the two sides aligned)
      val lDf = left.toDF("k", "t", "ev").repartition(7)
      val rDf = right.toDF("r_k", "r_t", "payload").repartition(3)
      val got = AsOfJoinShim.asof(lDf, rDf, "k", "r_k", "t", "r_t")
        .select("ev", "payload").collect()
        .map(r => r.getAs[Long]("ev") -> Option(r.getAs[String]("payload"))).toMap
      val byKey = right.groupBy(_._1)
      val expected = left.map { case (k, t, ev) =>
        ev -> byKey.getOrElse(k, Nil).filter(_._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
      }.toMap
      assert(got == expected, s"round $round (forceShuffle=$forceShuffle, seed-fixed)")
      assert(got.size == left.size)
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("string keys: interpreted ordering handles non-numeric key types") {
    val s = spark
    import s.implicits._
    val l = Seq(("alpha", 10L, "e1"), ("beta", 5L, "e2"), ("alpha", 3L, "e3"))
      .toDF("k", "t", "ev")
    val r = Seq(("alpha", 4L, "pa"), ("beta", 5L, "pb"), ("gamma", 1L, "pg"))
      .toDF("r_k", "r_t", "payload")
    val got = AsOfJoinShim.asof(l, r, "k", "r_k", "t", "r_t")
      .select("ev", "payload").collect()
      .map(x => x.getAs[String]("ev") -> Option(x.getAs[String]("payload"))).toMap
    assert(got == Map("e1" -> Some("pa"), "e2" -> Some("pb"), "e3" -> None))
  }

  test("regression: retained match key survives sorter row-buffer reuse") {
    // SortExec's spill reader hands out ONE UnsafeRow, rewound to new bytes
    // on every next(). ReusedRowsExec reproduces that contract exactly, so
    // a matchKey evaluated from the un-copied head row goes stale the moment
    // the merge peeks past it — the bug: e1 would read matchKey "b", fail
    // the key guard, and emit null instead of "pa".
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{LongType, StringType}
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.SparkSession.setActiveSession(s)
    val lK = AttributeReference("k", StringType)()
    val lT = AttributeReference("t", LongType)()
    val lEv = AttributeReference("ev", StringType)()
    val rK = AttributeReference("r_k", StringType)()
    val rT = AttributeReference("r_t", LongType)()
    val rP = AttributeReference("payload", StringType)()
    val leftScan = ReusedRowsExec(Seq(lK, lT, lEv),
      Seq(("a", 5L, "e1"), ("a", 6L, "e2")))
    val rightScan = ReusedRowsExec(Seq(rK, rT, rP),
      Seq(("a", 1L, "pa"), ("b", 9L, "pb")))
    val exec = AsOfJoinExec(leftScan, rightScan, lK, rK, lT, rT)
    val got = exec.executeCollect().map { row =>
      row.getUTF8String(2).toString ->
        (if (row.isNullAt(5)) None else Some(row.getUTF8String(5).toString))
    }.toMap
    assert(got == Map("e1" -> Some("pa"), "e2" -> Some("pa")))
  }

  test("plan: size-based physical choice — broadcast by default, merge when forced") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    def finalPlan(df: org.apache.spark.sql.DataFrame) = {
      df.write.mode("overwrite").format("noop").save() // finalize the AQE plan
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    }
    // default threshold: the deduped orders side is dim-sized -> broadcast
    // variant, and the fact (events) side has NO exchange and NO sort
    val bPlan = finalPlan(AsOf.q35AsofNative(spark, Sf0001))
    val bcasts = bPlan.collect { case e: BroadcastAsOfJoinExec => e }
    assert(bcasts.size == 1, s"expected BroadcastAsOfJoinExec in:\n$bPlan")
    val factSide = bcasts.head.children.head
    assert(factSide.collectFirst { case e: ShuffleExchangeLike => e }.isEmpty,
      s"fact side must not shuffle under broadcast as-of:\n$factSide")
    assert(factSide.collectFirst { case s: SortExec => s }.isEmpty,
      s"fact side must not sort under broadcast as-of:\n$factSide")
    assert(bcasts.head.children(1).collectFirst { case e: BroadcastExchangeLike => e }.isDefined,
      "right side must broadcast")
    // the probe must FUSE into the fact side's whole-stage-codegen span
    // (scan -> as-of probe -> projection in one generated loop). AQE's
    // executedPlan getter predates stage codegen collapse, so inspect the
    // non-adaptive physical plan for this assertion.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val plain = AsOf.q35AsofNative(spark, Sf0001).queryExecution.executedPlan
      val inCodegen = plain.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.collectFirst { case e: BroadcastAsOfJoinExec => e }.isDefined => w
      }
      assert(inCodegen.nonEmpty, s"broadcast as-of not inside WholeStageCodegen:\n$plain")
      // and the generated code must actually COMPILE: with fallback off, a
      // janino error aborts the query instead of silently running the whole
      // stage interpreted (the round-4 doConsume emitted each right-side
      // declaration twice and every broadcast as-of ran de-optimized)
      assert(AsOf.q35AsofNative(spark, Sf0001).count() > 0)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
    // forced: the co-partitioned merge with one exchange + sort per side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val mPlan = finalPlan(AsOf.q35AsofNative(spark, Sf0001))
      val asofs = mPlan.collect { case e: AsOfJoinExec => e }
      assert(asofs.size == 1, s"expected one AsOfJoinExec in:\n$mPlan")
      asofs.head.children.foreach { child =>
        assert(child.collectFirst { case s: SortExec => s }.isDefined,
          s"missing sort under as-of child:\n$child")
        assert(child.collectFirst { case e: ShuffleExchangeLike => e }.isDefined,
          s"missing exchange under as-of child:\n$child")
      }
      // the MERGE must run inside WholeStageCodegen too (SMJ-style stage
      // root: the generated loop drives both sorted inputs), and the
      // generated code must COMPILE — fallback off turns a janino error
      // into a query failure instead of a silent interpreted downgrade
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try {
        val plain = AsOf.q35AsofNative(spark, Sf0001).queryExecution.executedPlan
        val inCodegen = plain.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec
            if w.collectFirst { case e: AsOfJoinExec => e }.isDefined => w
        }
        assert(inCodegen.nonEmpty, s"merge as-of not inside WholeStageCodegen:\n$plain")
        // SMJ-parity child stages: CollapseCodegenStages has no case for
        // this operator, so the exec wraps its own children at execution
        // time — each Sort must land inside its own codegen span there
        val merge = plain.collectFirst { case e: AsOfJoinExec => e }.get
        merge.codegenChildPlans.foreach { wrapped =>
          val sortStages = wrapped.collect {
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec
              if w.collectFirst { case se: SortExec => se }.isDefined => w
          }
          assert(sortStages.nonEmpty,
            s"as-of child Sort got no codegen span of its own:\n$wrapped")
        }
        assert(AsOf.q35AsofNative(spark, Sf0001).count() > 0)
      } finally {
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.codegen.fallback")
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("codegen merge == interpreted merge (fallback path) on random logs") {
    // the property test above already randomizes through BOTH physical
    // variants with codegen enabled; this one pins codegen-vs-interpreted
    // for the SAME (forced-merge) plan, so a codegen-only semantics bug
    // cannot hide behind the broadcast variant
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val right = rnd.shuffle((for {
      k <- 0 until 5; t <- 0 until 30 if rnd.nextDouble() < 0.4
    } yield (k.toLong, t.toLong, s"p$k-$t")).toList)
    val left = List.tabulate(120)(i =>
      (rnd.nextInt(7).toLong, rnd.nextInt(40).toLong, i.toLong))
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def run(): Map[Long, Option[String]] =
        AsOfJoinShim.asof(
            left.toDF("k", "t", "ev").repartition(5),
            right.toDF("r_k", "r_t", "payload").repartition(4),
            "k", "r_k", "t", "r_t")
          .select("ev", "payload").collect()
          .map(r => r.getAs[Long]("ev") -> Option(r.getAs[String]("payload"))).toMap
      s.conf.set("spark.sql.codegen.fallback", "false")
      s.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = run()
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = run()
      assert(gen == interp)
      assert(gen.size == left.size)
      val expected = left.map { case (k, t, ev) =>
        ev -> right.filter(r => r._1 == k && r._2 <= t).sortBy(_._2).lastOption.map(_._3)
      }.toMap
      assert(gen == expected)
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.conf.unset("spark.sql.codegen.fallback")
      s.conf.unset("spark.sql.codegen.wholeStage")
    }
  }
}
