package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, TextOps}
import graft.sources.Tables

/** Structural invariants of the relational suite (value-level correctness is
  * the DuckDB oracle's job — these are fast regression guards that don't
  * need the oracle, plus optimized-vs-faithful cross-checks).
  */
class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("q5_topk is globally sorted desc with deterministic tiebreak") {
    val rows = Relational.q5TopK(spark, Sf0001).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getAs[Double]("o_totalprice")).toSeq
    assert(prices == prices.sorted.reverse)
  }

  test("q7_window keeps at most 2 rows per customer") {
    val rows = Relational.q7Window(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("o_custkey")).foreach { case (_, rs) =>
      assert(rs.length <= 2)
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to rs.length))
    }
  }

  test("semi + anti join partition the customer table") {
    val semi = Relational.q9Semi(spark, Sf0001).count()
    val anti = Relational.q10Anti(spark, Sf0001).count()
    val total = Tables.customer(spark, Sf0001).count()
    assert(semi + anti == total)
  }

  test("q49_interval_join: binned equi join equals a driver-side theta-join replay") {
    val ev = Tables.events(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("ts").getTime * 1000 +
          (r.getAs[java.sql.Timestamp]("ts").getNanos / 1000) % 1000))
    val binUs = Relational.IntervalBinUs
    val errs = ev.filter(_._2 == "error").map(_._3)
    // naive all-pairs replay of the declared semantics (fine at sf0.001)
    val pairs = for {
      (pid, ptype, pus) <- ev
      eus <- errs
      if pus > eus - binUs && pus <= eus
    } yield (ptype, pid)
    val expected = pairs.groupBy(_._1).map { case (t, ps) =>
      t -> ((ps.length.toLong, ps.map(_._2).distinct.length.toLong))
    }
    val got = Relational.q49IntervalJoin(spark, Sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_points")))).toMap
    assert(got == expected)
    assert(got.nonEmpty && got.valuesIterator.map(_._1).sum > 0)
  }

  test("q54 recursive spine: full month ladder, gap months at zero, data months match") {
    import org.apache.spark.sql.functions._
    val rows = Relational.q54RecursiveSpine(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("month_day"), r.getAs[Long]("n_orders")))
      .sortBy(_._1)
    assert(rows.length == 90, "1995-01 .. 2002-06 inclusive is 90 months")
    // contiguous monthly ladder (consecutive first-of-month epoch days)
    rows.map(_._1).zip(rows.map(_._1).tail).foreach { case (a, b) =>
      assert(b - a >= 28 && b - a <= 31, s"non-monthly step $a -> $b")
    }
    // zero-count months exist (the gap-fill), and populated counts sum to
    // the table size
    assert(rows.exists(_._2 == 0L), "expected empty spine months")
    assert(rows.map(_._2).sum ==
      graft.sources.Tables.orders(spark, Sf0001).count())
  }

  test("q51 EXCEPT/INTERSECT ALL: multiset arithmetic max(m−n,0) / min(m,n)") {
    import graft.sources.Tables
    val li = Tables.lineitem(spark, Sf0001).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Double]("l_quantity")))
    val rCnt = li.filter(_._1 == "R").groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val aCnt = li.filter(_._1 == "A").groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val got = Relational.q51SetopsAll(spark, Sf0001).collect()
      .map(r => (r.getAs[String]("op"), r.getAs[Double]("l_quantity")) -> r.getAs[Long]("n"))
      .toMap
    rCnt.keys.foreach { q =>
      val m = rCnt(q); val n = aCnt.getOrElse(q, 0L)
      assert(got.getOrElse(("except_all", q), 0L) == math.max(m - n, 0L), s"except q=$q")
      assert(got.getOrElse(("intersect_all", q), 0L) == math.min(m, n), s"intersect q=$q")
    }
    // both multiset branches genuinely fire on the fixture
    assert(got.keys.exists(_._1 == "except_all") && got.keys.exists(_._1 == "intersect_all"))
  }

  test("q52 null-safe join: the NULL-key row survives; a plain = join would drop it") {
    val rows = Relational.q52NullsafeJoin(spark, Sf0001).collect()
    assert(rows.length == 5, "expected all 5 segment groups incl. the NULL group")
    val nullRow = rows.filter(_.isNullAt(0))
    assert(nullRow.length == 1, "exactly one NULL-key (BUILDING) group")
    assert(nullRow.head.getAs[Long]("n_cust") > 0)
  }

  test("q49 binning is answer-invariant on randomized corpora (boundary-heavy)") {
    // deterministic pseudo-random events designed to sit ON bin boundaries:
    // timestamps are multiples/near-multiples of the bin width, where an
    // off-by-one in the replication range or the half-open predicate flips
    // pairs in and out. The naive all-pairs replay is the spec.
    val s = spark
    import s.implicits._
    val binUs = graft.operators.Relational.IntervalBinUs
    def mix(i: Long): Long = {
      var z = i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val base = 1700000000000000L // epoch micros, positive
    val types = Array("error", "click", "view")
    val rows = (0L until 400L).map { i =>
      val r = mix(i)
      // half the points snap to a bin boundary ± {0, 1} microsecond
      val us =
        if (i % 2 == 0) base + (math.abs(r) % 50) * binUs + (math.abs(r >> 8) % 3) - 1
        else base + math.abs(r) % (50 * binUs)
      (i, us, i % 7, types((math.abs(r >> 16) % 3).toInt), 0.0, "{}")
    }
    val dir = scratchDir("q49-rand").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.col("us")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Relational.q49IntervalJoin(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_points")))).toMap
    val micros = rows.map { case (id, us, _, tpe, _, _) => (id, tpe, us) }
    val errs = micros.filter(_._2 == "error").map(_._3)
    val pairs = for {
      (pid, ptype, pus) <- micros
      eus <- errs
      if pus > eus - binUs && pus <= eus
    } yield (ptype, pid)
    val expected = pairs.groupBy(_._1).map { case (t, ps) =>
      t -> ((ps.length.toLong, ps.map(_._2).distinct.length.toLong))
    }
    assert(got == expected)
    assert(got.valuesIterator.map(_._1).sum > 0, "randomized corpus produced no pairs")
  }

  test("q15 events window counts sum to the table row count") {
    val windowed = Relational.q15EventsWindow(spark, Sf0001)
      .agg(org.apache.spark.sql.functions.sum("n_events")).collect()(0).getLong(0)
    assert(windowed == Tables.events(spark, Sf0001).count())
  }

  test("optimized wc == faithful MapReduce wc (SURVEY §7.2 step 4 cross-check)") {
    val opt = TextOps.wc(spark, Sf0001).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt")).toMap
    val faithful = SparkEntry.queries("mr_wc")(spark, Sf0001).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value").toLong).toMap
    assert(opt == faithful)
    assert(opt.nonEmpty)
  }

  test("optimized indexer == faithful MapReduce indexer") {
    val opt = TextOps.indexer(spark, Sf0001).collect()
      .map(r => r.getAs[String]("word") ->
        s"${r.getAs[Long]("n_docs")} ${r.getAs[String]("docs")}").toMap
    val faithful = SparkEntry.queries("mr_indexer")(spark, Sf0001).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(opt == faithful)
  }

  test("rollup emits the grand-total row") {
    val rows = Relational.q13Rollup(spark, Sf0001).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n") == Tables.lineitem(spark, Sf0001).count())
  }

  test("q16 sessions: 1 <= n_sessions <= n_events per user; events total") {
    val rows = Relational.q16Sessions(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Long]("n_sessions"); val e = r.getAs[Long]("n_events")
      assert(s >= 1 && s <= e)
    }
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, Sf0001).count())
  }

  test("q17 as-of: matched order is at-or-before the event, and is the latest such") {
    import org.apache.spark.sql.functions._
    val asof = Relational.q17Asof(spark, Sf0001)
    // join back to sources and check the as-of contract row by row
    val ev = Tables.events(spark, Sf0001)
      .select(col("event_id"), unix_micros(col("ts")).as("ev_us"))
    val ord = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey").as("m"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ord_us"))
    val checked = asof.join(ev, "event_id")
      .join(ord, asof("o_orderkey") === ord("m"), "left")
    assert(checked.filter(col("m").isNotNull && col("ord_us") > col("ev_us")).count() == 0)
    // completeness: every event row appears exactly once
    assert(asof.count() == Tables.events(spark, Sf0001).count())
    assert(asof.select("event_id").distinct().count() == asof.count())
  }

  test("q22 intersect + q8 except partition the rich-customer set") {
    import org.apache.spark.sql.functions._
    val rich = Tables.customer(spark, Sf0001)
      .filter(col("c_acctbal") > 5000).count()
    val inter = Relational.q22Intersect(spark, Sf0001).count()
    val except = Relational.q8SetOps(spark, Sf0001).count()
    assert(inter + except == rich)
    assert(inter > 0)
  }

  test("q23 outer join preserves all customers; n_orders totals the orders table") {
    val rows = Relational.q23Outer(spark, Sf0001).collect()
    assert(rows.length == Tables.customer(spark, Sf0001).count())
    assert(rows.map(_.getAs[Long]("n_orders")).sum ==
      Tables.orders(spark, Sf0001).count())
    // customers without orders appear with zero revenue, not dropped/null
    val zeros = rows.filter(_.getAs[Long]("n_orders") == 0L)
    assert(zeros.forall(_.getAs[Double]("revenue") == 0.0))
  }

  test("q24 json: extracted-field counts cover every event") {
    val rows = Relational.q24Json(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.events(spark, Sf0001).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("min_k") <= r.getAs[Long]("max_k"))
      assert(r.getAs[Long]("sum_k") >= r.getAs[Long]("n") * r.getAs[Long]("min_k"))
    }
  }

  test("q26 promo: conditional sum is a proper fraction of the total") {
    val r = Relational.q26Promo(spark, Sf0001).collect()(0)
    val promo = r.getAs[Double]("promo_rev")
    val total = r.getAs[Double]("total_rev")
    assert(promo > 0 && promo < total)
    assert(math.abs(r.getAs[Double]("promo_pct") - 100.0 * promo / total) < 1e-9)
  }

  test("q27 supplier counts cover the supplier table") {
    val rows = Relational.q27SuppNation(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_suppliers")).sum ==
      Tables.supplier(spark, Sf0001).count())
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("avg_bal") -
        r.getAs[Double]("total_bal") / r.getAs[Long]("n_suppliers")) < 1e-9)
    }
  }

  test("q20 cube has 4 grouping sets incl. grand total; q21 pivot sums match") {
    val cube = Relational.q20Cube(spark, Sf0001).collect()
    val grand = cube.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val pivot = Relational.q21Pivot(spark, Sf0001).collect()
    val pivotTotal = pivot.flatMap(r => Seq("A", "N", "R").map(c =>
      if (r.isNullAt(r.fieldIndex(c))) 0.0 else r.getAs[Double](c))).sum
    val qtyTotal = Tables.lineitem(spark, Sf0001)
      .agg(org.apache.spark.sql.functions.sum("l_quantity")).collect()(0).getDouble(0)
    assert(math.abs(pivotTotal - qtyTotal) < 1e-6)
  }

  test("q37_median matches a driver-side sort on the fixture") {
    val qs = Tables.lineitem(spark, Sf0001)
      .selectExpr("l_returnflag", "CAST(l_quantity AS BIGINT) AS q").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (f, rs) => f -> rs.map(_._2).sorted }
    val expected = qs.map { case (f, v) =>
      val n = v.length
      val median = (v((n + 1) / 2 - 1) + v((n + 2) / 2 - 1)) / 2.0
      val p90 = v((9 * n + 9) / 10 - 1)
      f -> ((n.toLong, median, p90))
    }
    val got = Relational.q37Median(spark, Sf0001).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        ((r.getAs[Long]("n_items"), r.getAs[Double]("median"),
          r.getAs[Long]("p90")))).toMap
    assert(got == expected)
  }

  test("profile_events matches brute-force exact cardinalities") {
    val ev = Tables.events(spark, Sf0001)
      .selectExpr("event_id", "user_id",
        "CAST(get_json_object(props, '$.k') AS BIGINT) AS k").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val n = ev.length.toLong
    val ks = ev.flatMap(_._3)
    val expected = Map(
      "event_id" -> ((n, 0L, ev.map(_._1).distinct.length.toLong,
        ev.map(_._1).min, ev.map(_._1).max)),
      "user_id" -> ((n, 0L, ev.map(_._2).distinct.length.toLong,
        ev.map(_._2).min, ev.map(_._2).max)),
      "k" -> ((n, n - ks.length, ks.distinct.length.toLong, ks.min, ks.max)))
    val got = graft.operators.Profile.profileEvents(spark, Sf0001).collect()
      .map(r => r.getAs[String]("column_name") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"),
          r.getAs[Long]("n_distinct"), r.getAs[Long]("min_v"),
          r.getAs[Long]("max_v")))).toMap
    assert(got == expected)
  }

  test("q40: grouping-set rows cover each declared set with correct flags") {
    val li = graft.sources.Tables.lineitem(spark, Sf0001)
      .selectExpr("l_returnflag", "l_linestatus", "l_quantity").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val rows = Relational.q40GroupingSets(spark, Sf0001).collect()
      .map(r => (Option(r.getAs[String]("l_returnflag")),
        Option(r.getAs[String]("l_linestatus")),
        r.getAs[Long]("g_flag"), r.getAs[Long]("g_status"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_qty")))
    // grand total: both flags set, one row, full sums
    val grand = rows.filter(r => r._3 == 1L && r._4 == 1L)
    assert(grand.length == 1)
    assert(grand.head._5 == li.length.toLong && grand.head._6 == li.map(_._3).sum)
    // by-flag set: flag column present, status rolled up (g_status = 1)
    val byFlag = rows.filter(r => r._3 == 0L && r._4 == 1L)
    assert(byFlag.map(r => r._1.get -> r._5).toMap ==
      li.groupBy(_._1).view.mapValues(_.length.toLong).toMap)
    // full detail set: both flags 0
    val detail = rows.filter(r => r._3 == 0L && r._4 == 0L)
    assert(detail.map(r => (r._1.get, r._2.get) -> r._5).toMap ==
      li.groupBy(t => (t._1, t._2)).view.mapValues(_.length.toLong).toMap)
    // row count: |flags| + |status| + |pairs| + 1
    val nf = li.map(_._1).distinct.length
    val ns = li.map(_._2).distinct.length
    val np = li.map(t => (t._1, t._2)).distinct.length
    assert(rows.length == nf + ns + np + 1)
  }

  test("q41: RANGE frame counts same-customer orders within ±30 days, ties included") {
    val orders = graft.sources.Tables.orders(spark, Sf0001)
      .selectExpr("o_custkey", "o_orderkey",
        "CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT) AS oday").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCust = orders.groupBy(_._1)
    val got = Relational.q41RangeFrame(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("n_nearby")).toMap
    assert(got.size == orders.length)
    orders.foreach { case (c, k, d) =>
      val expected = byCust(c).count { case (_, k2, d2) =>
        k2 != k && math.abs(d2 - d) <= 30 }
      assert(got(k) == expected.toLong, s"order $k")
    }
    // same-day sibling orders exist on the fixture, exercising tie inclusion
    assert(orders.groupBy(t => (t._1, t._3)).exists(_._2.size > 1))
  }

  test("corr_stats: sufficient statistics match a BigInt brute-force replay") {
    val li = Tables.lineitem(spark, Sf0001)
      .selectExpr("CAST(round(l_quantity * 100) AS BIGINT)",
        "CAST(round(l_extendedprice * 100) AS BIGINT)",
        "CAST(round(l_discount * 100) AS BIGINT)",
        "CAST(round(l_tax * 100) AS BIGINT)")
      .collect().map(r => Map("qty" -> r.getLong(0), "price" -> r.getLong(1),
        "disc" -> r.getLong(2), "tax" -> r.getLong(3)))
    val got = graft.operators.Profile.corrStats(spark, Sf0001).collect().map { r =>
      // gate columns are exact decimal STRINGS (hash-representation-proof)
      def bi(c: String): BigInt = BigInt(r.getAs[String](c))
      (r.getAs[String]("x"), r.getAs[String]("y")) ->
        ((bi("n"), bi("sum_x"), bi("sum_y"), bi("sum_xy"), bi("sum_xx"), bi("sum_yy")))
    }.toMap
    val names = Seq("qty", "price", "disc", "tax")
    val pairs = for { i <- names.indices; j <- (i + 1) until names.size }
      yield (names(i), names(j))
    assert(got.keySet == pairs.toSet)
    pairs.foreach { case (a, b) =>
      def s(f: Map[String, Long] => BigInt) = li.map(f).sum
      val expected = (BigInt(li.length), s(m => BigInt(m(a))), s(m => BigInt(m(b))),
        s(m => BigInt(m(a)) * BigInt(m(b))), s(m => BigInt(m(a)) * BigInt(m(a))),
        s(m => BigInt(m(b)) * BigInt(m(b))))
      assert(got((a, b)) == expected, s"pair ($a, $b)")
    }
    // derived Pearson r is well-defined and in [-1, 1] for every pair —
    // the consumer-side division the sums exist to support
    pairs.foreach { case (a, b) =>
      val g = got((a, b))
      val (n, sx, sy, sxy, sxx, syy) = (BigDecimal(g._1), BigDecimal(g._2),
        BigDecimal(g._3), BigDecimal(g._4), BigDecimal(g._5), BigDecimal(g._6))
      val cov = n * sxy - sx * sy
      val vx = n * sxx - sx * sx
      val vy = n * syy - sy * sy
      assert(vx > 0 && vy > 0)
      assert(cov * cov <= vx * vy) // Cauchy–Schwarz ⇒ |r| ≤ 1
    }
  }

  test("q46_rank_family: ntile/percent_rank/cume_dist match a driver-side replay") {
    // the fixture has EXACT duplicate rows, so the comparison is by
    // multiset (sorted row sequence): tied rows share rank-based
    // pct_rank/cume, and ntile's split of an identical-row run across a
    // tile boundary is multiset-deterministic
    val li = Tables.lineitem(spark, Sf0001)
      .selectExpr("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val expected = li.groupBy(_._3).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._1, r._2)).toIndexedSeq
      val n = ordered.length
      // rank-based stats per index: first/last index of the equal-key run
      val keys = ordered.map(r => (r._4, r._1, r._2))
      ordered.zipWithIndex.map { case ((ok, ln, flag, _), i) =>
        val first = keys.indexOf(keys(i)) // rank - 1
        val last = keys.lastIndexOf(keys(i)) // peers <= current - 1
        val base = n / 4; val extra = n % 4
        val tile =
          if (i < (base + 1) * extra) i / (base + 1) + 1
          else extra + (i - (base + 1) * extra) / base + 1
        (ok, ln, flag, tile,
          if (n == 1) 0.0 else first.toDouble / (n - 1).toDouble,
          (last + 1).toDouble / n.toDouble)
      }
    }.sorted
    val got = Relational.q46RankFamily(spark, Sf0001).collect().map { r =>
      (r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber"),
        r.getAs[String]("l_returnflag"), r.getAs[Int]("quartile"),
        r.getAs[Double]("pct_rank"), r.getAs[Double]("cume"))
    }.toSeq.sorted
    assert(got == expected)
  }

  test("cogroup_fill: both unmatched sides surface; sums match a driver replay") {
    val s = spark
    import s.implicits._
    // planted: order 1 with two lines, order 2 with none, lines for
    // order 3 with NO header (the rows a left join would silently drop)
    val dir = scratchDir("cogroup").toString
    Seq((1L, 10L, 100.00), (2L, 11L, 50.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .selectExpr("o_orderkey", "o_custkey", "o_totalprice",
        "CAST('2024-01-01' AS TIMESTAMP) AS o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1, 60.00), (1L, 2, 40.50), (3L, 1, 7.25))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.operators.Profile.cogroupFill(spark, dir).collect().map { r =>
      r.getAs[Long]("o_orderkey") ->
        ((Option(r.getAs[java.lang.Long]("total_cents")).map(_.longValue()),
          r.getAs[Long]("n_items"), r.getAs[Long]("items_cents")))
    }.toMap
    assert(got == Map(
      1L -> ((Some(10000L), 2L, 10050L)),
      2L -> ((Some(5000L), 0L, 0L)),
      3L -> ((None, 1L, 725L))))
    // fixture differential vs a driver-side fold
    val ords = Tables.orders(spark, Sf0001)
      .selectExpr("o_orderkey", "CAST(round(o_totalprice * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val lis = Tables.lineitem(spark, Sf0001)
      .selectExpr("l_orderkey", "CAST(round(l_extendedprice * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val liAgg = lis.groupBy(_._1).view.mapValues(v => (v.length.toLong, v.map(_._2).sum))
    val expected = ords.map { case (k, t) =>
      val (n, c) = liAgg.getOrElse(k, (0L, 0L))
      k -> ((Some(t), n, c))
    }.toMap ++ liAgg.filterNot(kv => ords.exists(_._1 == kv._1))
      .map { case (k, (n, c)) => k -> ((None, n, c)) }
    assert(graft.operators.Profile.cogroupFill(spark, Sf0001).collect().map { r =>
      r.getAs[Long]("o_orderkey") ->
        ((Option(r.getAs[java.lang.Long]("total_cents")).map(_.longValue()),
          r.getAs[Long]("n_items"), r.getAs[Long]("items_cents")))
    }.toMap == expected)
  }

  test("q45_outer_full: reconciliation keeps both null sides and the matched middle") {
    import org.apache.spark.sql.functions.col
    val got = Relational.q45OuterFull(spark, Sf0001).collect().map { r =>
      r.getAs[Long]("entity") ->
        ((Option(r.getAs[java.lang.Long]("n_events")).map(_.longValue()),
          Option(r.getAs[java.lang.Long]("acctbal_cents")).map(_.longValue()),
          r.getAs[String]("matched")))
    }.toMap
    val users = Tables.events(spark, Sf0001)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val building = Tables.customer(spark, Sf0001)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    // one row per entity in the UNION of the two key sets — the whole
    // point of full outer
    assert(got.keySet == users.union(building))
    got.foreach { case (e, (nEvents, acct, matched)) =>
      val expected =
        if (users(e) && building(e)) "both"
        else if (users(e)) "activity_only"
        else "segment_only"
      assert(matched == expected, s"entity $e")
      assert(nEvents.isDefined == users(e), s"entity $e")
      assert(acct.isDefined == building(e), s"entity $e")
    }
    // all three states actually occur on the fixture
    val states = got.values.map(_._3).toSet
    assert(states == Set("both", "activity_only", "segment_only"))
  }
}
