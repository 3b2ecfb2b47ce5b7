package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Relational operator suite over the TPC-H-ish fixture tables.
  *
  * The reference engine has no joins/windows/set-ops of its own (SURVEY.md
  * §2.3 records their absence); this layer is the Spark-built-in coverage the
  * blueprint prescribes — every query is a declarative DataFrame plan so
  * Catalyst supplies pushdown, pruning, join selection and AQE.
  *
  * Numeric discipline for oracle hash-parity (driver compares against DuckDB
  * at sf0.01): money sums go through DECIMAL (exact, order-insensitive) and
  * are cast back to DOUBLE at the end, so Spark and DuckDB produce the exact
  * same bits regardless of partitioning/accumulation order. Raw-double sums
  * are only used where the addends are integral (l_quantity).
  */
object Relational {

  private val money = DecimalType(18, 2)

  /** q1_agg — TPC-H Q1-style pricing summary: scan-heavy group-by with
    * partial aggregation (map-side combine is automatic for these
    * declarative aggs). 100 TB: single shuffle on a 6-value grouping key.
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum(col("l_extendedprice").cast(money)).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast(money) * (lit(1).cast(money) - col("l_discount").cast(money)))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** q2_filter — predicate + projection; both must reach the parquet scan
    * (PushedFilters + 4-column ReadSchema).
    */
  def q2Filter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R" && col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** q3_join_broadcast — fact⋈dim with an explicit broadcast of the dim side
    * (customer is always the small side at any SF vs orders).
    */
  def q3JoinBroadcast(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(money)).cast("double").as("revenue"))

  /** q4_join_multi — TPC-H Q5-style snowflake join: lineitem⋈orders⋈customer
    * ⋈nation⋈region, dims broadcast, one shuffle for the fact-fact join keyed
    * on orderkey. AQE reorders/skew-splits at runtime.
    */
  def q4JoinMulti(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select("c_custkey", "n_name")
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .groupBy("n_name")
      .agg(
        sum(col("l_extendedprice").cast(money) * (lit(1).cast(money) - col("l_discount").cast(money)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** q5_topk — global top-k: Spark plans TakeOrderedAndProject (no full
    * sort/shuffle of the table). Deterministic tiebreak on orderkey.
    */
  def q5TopK(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(10)

  /** q6_distinct — distinct aggregation (expand + two-phase agg). */
  def q6Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))

  /** q7_window — ranking window per customer; single shuffle on the
    * partition key, deterministic ORDER BY tiebreak.
    */
  def q7Window(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
  }

  /** q8_setops — EXCEPT (rich customers with no orders also covered by
    * q10's anti join; this exercises the set-op path: aggregate-based
    * distinct except).
    */
  def q8SetOps(s: SparkSession, dir: String): DataFrame = {
    val rich = Tables.customer(s, dir).filter(col("c_acctbal") > 5000).select("c_custkey")
    val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
    rich.except(withOrders)
  }

  /** q9_semi — left semi join (customers having ≥1 order). */
  def q9Semi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  /** q10_anti — left anti join (customers with no orders). */
  def q10Anti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** q11_scalar — scalar-function coverage (date extract, string ops,
    * CASE). All codegen'd builtins; stays inside one WholeStageCodegen.
    */
  def q11Scalar(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("oyear"),
        month(col("o_orderdate")).as("omonth"),
        upper(col("o_orderstatus")).as("status_u"),
        length(col("o_orderpriority")).as("prio_len"),
        substring(col("o_orderpriority"), 1, 1).as("prio_1"),
        when(col("o_totalprice") > 100000, "big").otherwise("small").as("bucket"))

  /** q12_having — group-by with post-aggregation predicate. */
  def q12Having(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_suppkey")
      .agg(sum("l_quantity").as("total_qty"), count(lit(1)).as("n_lines"))
      .filter(col("n_lines") > 50)

  /** q13_rollup — hierarchical aggregate (GROUPING SETS expansion). */
  def q13Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))

  /** q40_grouping_sets — arbitrary grouping-set combinations with
    * `grouping()` disambiguation flags: the general form ROLLUP (q13) and
    * CUBE (q20) are special cases of, expressed through `spark.sql` (the
    * DataFrame API exposes only the two shorthands). The grouping flags
    * are part of the output because NULL-as-subtotal is ambiguous against
    * genuine NULL group keys — the flags are how a consumer tells them
    * apart. Same single Expand + aggregate plan as rollup/cube; quantity
    * sums are integral-valued doubles (exact under any order).
    */
  def q40GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |       count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |                        (l_returnflag, l_linestatus), ())""".stripMargin)
  }

  /** q41_range_frame — a VALUE-based window frame (RANGE BETWEEN), the
    * frame family q29's ROWS frame can't express: for every order, the
    * number of OTHER orders by the same customer within ±30 days. The
    * frame is anchored on the integer epoch-day of the order date, so
    * same-day peers are all in-frame regardless of row order — RANGE
    * semantics make the count a pure function of the data where a ROWS
    * frame would depend on tie order. One customer-partitioned sort, no
    * self-join (the naive formulation is a per-customer range self-join —
    * quadratic on a hot customer; the frame is linear after the sort).
    */
  def q41RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("oday")
      .rangeBetween(-30, 30)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_date(col("o_orderdate").cast("date")).cast("long").as("oday"))
      .withColumn("n_nearby", count(lit(1)).over(w) - lit(1L))
  }

  /** q14_join_range — non-equi predicate alongside the equi key: order line
    * shipped more than 90 days after the order date. Equi part drives the
    * shuffle; the range predicate is post-join filter (no cartesian).
    */
  def q14JoinRange(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("late_lines"))

  /** q15_events_window — tumbling 1-hour event-time window over the events
    * table (the batch shape of the Structured Streaming windowed agg; the
    * streaming variant shares this plan via readStream in graft.streaming).
    * Window start is emitted as epoch seconds (bigint) so the oracle compare
    * is timezone-representation-proof; aggregates are count/min/max — exact,
    * order-insensitive on doubles.
    */
  def q15EventsWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min("value").as("min_value"),
        max("value").as("max_value"))
      .select(
        unix_timestamp(col("w.start")).as("wstart"),
        col("event_type"), col("n_events"), col("min_value"), col("max_value"))

  /** q30_sliding — HOPPING event-time windows (1 h length, 30 min slide):
    * each event expands to exactly length/slide = 2 window rows (Spark's
    * Expand), then one aggregate — the overlapping-window shape q15's
    * tumbling windows can't express. Same epoch-seconds output discipline.
    */
  def q30Sliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_timestamp(col("w.start")).as("wstart"),
        col("event_type"), col("n_events"))

  /** q16_sessions — gaps-and-islands sessionization in batch: a session
    * breaks after 30 min of user inactivity (lag window + running flag sum).
    * Gap arithmetic in integral microseconds so the oracle compare is exact.
    * One shuffle on user_id shared by the lag and the aggregation.
    */
  def q16Sessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(
        sum("new_sess").as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** q17_asof — as-of join, an operator Spark lacks natively, composed from
    * built-ins per the preference order (no custom physical operator
    * needed): each event matches the LATEST order of the same customer
    * at-or-before its event time. Tag both sides, union, and take
    * `last(order, ignoreNulls)` over a (key, time, tag) window — one shuffle
    * on the join key, linear in rows, no range-join blowup. Orders are
    * pre-deduped to one row per (custkey, orderdate) (max orderkey) so ties
    * are deterministic.
    */
  def q17Asof(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"))
      .select(
        // o_orderdate is parquet TIMESTAMP_NTZ; session TZ is UTC, so the
        // cast lands on the same epoch micros scale as the events ts
        col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"),
        lit(0).as("tag"), lit(null).cast("long").as("event_id"),
        col("o_orderkey"))
    val ev = Tables.events(s, dir)
      .select(
        col("user_id").as("k"), unix_micros(col("ts")).as("t_us"),
        lit(1).as("tag"), col("event_id"),
        lit(null).cast("long").as("o_orderkey"))
    // orders sort before events at equal timestamps (tag 0 < 1): the asof
    // predicate is inclusive (ts >= orderdate)
    val w = Window.partitionBy("k").orderBy(col("t_us"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionByName(ev)
      .withColumn("matched", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("k").as("user_id"),
        col("matched").as("o_orderkey"))
  }

  /** Raw sketch outputs (HLL++ distinct + approx percentiles) — the
    * estimates themselves are engine-specific (defined by Spark's sketch
    * buffer layout, not by the data), so this form is spec-tested for
    * bounded relative error (ApproxSpec) but not oracle-hashed.
    */
  def q19ApproxRaw(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)")
          .as("qs"))
      .select(
        col("approx_parts"),
        element_at(col("qs"), 1).as("price_q50"),
        element_at(col("qs"), 2).as("price_q95"))

  /** q19_approx — sketch aggregates: HyperLogLog++ distinct count and
    * approximate percentiles. Sketches are the 100 TB answer when exact
    * distinct/percentile state would not fit — both are mergeable across
    * partitions (one shuffle of constant-size state; the exact forms
    * materialize per-value state and run ~20x slower at sf0.1 already).
    *
    * The registered output is a DETERMINISTIC bound report so the query
    * carries a full DuckDB oracle (the raw estimates are engine-defined,
    * see [[q19ApproxRaw]]): exact row/distinct counts plus 0/1 flags
    * asserting the sketch contracts —
    *   - `parts_in_bounds`: |HLL − exact| ≤ 13% of exact (2.6σ of the
    *     default rsd 0.05; the estimate is a deterministic function of the
    *     data, so the flag is stable for a given input);
    *   - `q50/q95_cdf_in_bounds`: the TIE-AWARE rank contract — the
    *     returned value v occupies the empirical-CDF interval
    *     [CDF(v⁻), CDF(v)] = [#(x<v)/n, #(x≤v)/n], and the flag asserts
    *     that interval OVERLAPS [q−ε, q+ε] (ε = 0.005; accuracy 1000 ⇒
    *     guaranteed rank error ≤ 0.001·n). Overlap is exactly "some rank
    *     within the sketch's error window maps to v", so a value carrying
    *     arbitrary tie mass (a CDF jump across the whole window, which a
    *     fixed ±0.02 point-position window would flag spuriously) still
    *     passes iff the sketch met its published bound. Rank checking is
    *     engine-independent, unlike comparing interpolated percentile
    *     values.
    * The flags are SPARK-SIDE SELF-ASSERTIONS: the oracle recomputes the
    * exact columns (n_rows, exact_parts) and pins the flags at constant 1
    * — their expected value under the contracts above — so a sketch-bound
    * trip at any scale surfaces as this query's hash mismatch.
    * One extra broadcast of the one-row estimate against the scan buys the
    * CDF pass — two scans total, no extra shuffle.
    */
  def q19Approx(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val est = li.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)")
          .as("qs"))
      .select(col("n_rows"), col("exact_parts"), col("approx_parts"),
        element_at(col("qs"), 1).as("q50"),
        element_at(col("qs"), 2).as("q95"))
    val eps = 0.005
    def rankOk(q: Double, lo: Column, hi: Column): Column =
      lo <= lit(q + eps) && hi >= lit(q - eps)
    li.select(col("l_extendedprice")).crossJoin(broadcast(est))
      .agg(
        max("n_rows").as("n_rows"),
        max("exact_parts").as("exact_parts"),
        max("approx_parts").as("approx_parts"),
        (sum(when(col("l_extendedprice") < col("q50"), 1L).otherwise(0L))
          .cast("double") / max("n_rows")).as("cdf50_lo"),
        (sum(when(col("l_extendedprice") <= col("q50"), 1L).otherwise(0L))
          .cast("double") / max("n_rows")).as("cdf50_hi"),
        (sum(when(col("l_extendedprice") < col("q95"), 1L).otherwise(0L))
          .cast("double") / max("n_rows")).as("cdf95_lo"),
        (sum(when(col("l_extendedprice") <= col("q95"), 1L).otherwise(0L))
          .cast("double") / max("n_rows")).as("cdf95_hi"))
      .select(
        col("n_rows"),
        col("exact_parts"),
        (abs(col("approx_parts").cast("double") -
             col("exact_parts").cast("double")) <=
          lit(0.13) * col("exact_parts").cast("double"))
          .cast("long").as("parts_in_bounds"),
        rankOk(0.50, col("cdf50_lo"), col("cdf50_hi"))
          .cast("long").as("q50_cdf_in_bounds"),
        rankOk(0.95, col("cdf95_lo"), col("cdf95_hi"))
          .cast("long").as("q95_cdf_in_bounds"))
  }

  /** q20_cube — full grouping-sets lattice over (returnflag, linestatus):
    * 4 grouping sets in one pass (Expand + single shuffle). */
  def q20Cube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))

  /** q21_pivot — pivoted aggregation: per line status, quantity sums split
    * into one column per return flag. Pivot values are pinned (no extra
    * distinct-scan job, and the schema is static — the form that scales).
    */
  def q21Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum("l_quantity"))

  /** q22_intersect — INTERSECT set-op (rich customers who DO have orders);
    * completes the set-op family next to q8's EXCEPT. Plans as a distinct +
    * left-semi shape: one shuffle per side on the compare key.
    */
  def q22Intersect(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_acctbal") > 5000).select("c_custkey")
      .intersect(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")))

  /** q23_outer — left outer join preserving order-less customers, with
    * null-safe aggregates: count(o_orderkey) skips nulls (0 for no orders)
    * and the revenue sum coalesces the empty group to 0. DECIMAL discipline
    * as everywhere so the DuckDB compare is exact.
    */
  def q23Outer(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(col("o_totalprice").cast(money)), lit(0).cast(money))
          .cast("double").as("revenue"))

  /** q26_promo — TPC-H Q14 shape: conditional aggregation over the
    * lineitem⋈part join (promo revenue share). Part is the broadcast dim;
    * the CASE lives inside the DECIMAL sum so partial aggregation applies,
    * and the final ratio is one double division of two exact sums (bit-
    * stable under any partitioning).
    */
  def q26Promo(s: SparkSession, dir: String): DataFrame = {
    val disc = col("l_extendedprice").cast(money) * (lit(1).cast(money) - col("l_discount").cast(money))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0).cast(money)))
          .cast("double").as("promo_rev"),
        sum(disc).cast("double").as("total_rev"))
      .withColumn("promo_pct", lit(100.0) * col("promo_rev") / col("total_rev"))
  }

  /** q27_supp_nation — supplier coverage: per-nation supplier count and
    * account-balance totals (exact DECIMAL accumulation; the mean is a
    * final-step double division, not a float running average).
    */
  def q27SuppNation(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("s_acctbal").cast(money)).cast("double").as("total_bal"))
      .withColumn("avg_bal", col("total_bal") / col("n_suppliers"))

  /** q34_sort — GLOBAL total-order sort (no limit): plans a range-
    * partitioning exchange (sampled split points) + per-partition sort —
    * the distributed sort the reference's per-partition key sort
    * (`sortDataByKey`) + external `sort` pipeline approximates. The
    * driver's hash compare is order-insensitive; what's under test/bench
    * is the RangePartitioning plan itself.
    */
  def q34Sort(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)

  /** q31_hof — the BUILT-IN higher-order-function tier (vs the custom
    * codegen'd `array_dot` the ANN path uses): `transform` + `aggregate`
    * fold and `filter` over the embedding arrays. The fold is a sequential
    * left fold on both engines, so doubles match bitwise.
    */
  def q31Hof(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      expr("""aggregate(
              transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              CAST(0 AS DOUBLE), (acc, x) -> acc + x)""").as("norm_sq"),
      expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
      expr("CAST(element_at(embedding, 1) AS DOUBLE)").as("first_val"))

  /** q32_unpivot — melt the pivoted quantities back to long form (the
    * inverse of q21): null cells are coalesced to 0 BEFORE the unpivot so
    * both engines agree on absent combinations.
    */
  def q32Unpivot(s: SparkSession, dir: String): DataFrame =
    q21Pivot(s, dir)
      .select(col("l_linestatus"),
        coalesce(col("A"), lit(0.0)).as("A"),
        coalesce(col("N"), lit(0.0)).as("N"),
        coalesce(col("R"), lit(0.0)).as("R"))
      .unpivot(
        Array(col("l_linestatus")),
        Array(col("A"), col("N"), col("R")),
        "flag", "qty")

  /** q28_sql — the SQL entry point: temp views + `spark.sql` with a
    * CORRELATED scalar subquery (Catalyst decorrelates it into an aggregate
    * + join — assert via PlanDump that no per-row re-execution survives).
    * Exercises the parser/analyzer surface the DataFrame queries bypass.
    */
  def q28Sql(s: SparkSession, dir: String): DataFrame = {
    // engine-prefixed view names: session-scoped and owned by this query, so
    // re-registration can't collide with user views (parameterized sql()
    // binds literals only — DataFrame templating isn't a Scala-side feature)
    Tables.customer(s, dir).createOrReplaceTempView("graft_q28_customer")
    Tables.orders(s, dir).createOrReplaceTempView("graft_q28_orders")
    s.sql("""
      SELECT c.c_custkey, c.c_name
      FROM graft_q28_customer c
      WHERE (SELECT count(*) FROM graft_q28_orders o
             WHERE o.o_custkey = c.c_custkey) >= 20""")
  }

  /** q29_running — window FRAME coverage (q7 is ranking-only): per-customer
    * running order-spend in date order. The cumulative sum accumulates in
    * DECIMAL over a rows-frame with a deterministic (date, orderkey) sort,
    * cast to double per row — exact under any partitioning.
    */
  def q29Running(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        // epoch micros, not a raw timestamp column — representation-proof
        // against the oracle (same discipline as q15's window starts)
        unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"),
        sum(col("o_totalprice").cast(money)).over(w).cast("double").as("run_spend"))
  }

  /** q24_json — semi-structured column handling: `events.props` holds JSON
    * strings; parse with an explicit schema (`from_json`, codegen'd — no
    * schema inference scan) and aggregate the extracted field. At 100 TB
    * the explicit schema matters: inference would cost a full extra pass,
    * and a typed struct lets Catalyst prune everything else.
    */
  def q24Json(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"), "k BIGINT", Map.empty[String, String])
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))

  /** q37_median — exact order statistics per group WITHOUT an interpolating
    * percentile: the median is the mean of the values at the twin middle
    * ranks ((n+1)÷2 and (n+2)÷2 — equal when n is odd), p90 the value at
    * rank ⌈0.9·n⌉ (nearest-rank). Built from `row_number` over the sorted
    * group, so the answer depends only on the value MULTISET (ties are
    * interchangeable at any rank) — unlike `percentile`/`quantile_cont`,
    * whose a+(b−a)·f float interpolation is engine-specific and would
    * hash-mismatch the oracle. The ÷2 lands on halves, exact in DOUBLE.
    *
    * Scale (round 16 — the histogram-kernel rank, same substitution
    * rank_normalize documents): quantity is a small-domain integer, so the
    * exact rank targets are read off a bounded (flag, quantity) COUNT
    * histogram instead of a per-group sort of the raw stream. The previous
    * shape row_numbered every lineitem row inside a 3-partition window —
    * exact, but the whole table funneled through 3 sort tasks; this shape's
    * only corpus-scale work is one map-side-combined histogram aggregation,
    * and the window runs over ≤ |flags|×|domain| histogram rows. A rank r
    * falls in the first bucket whose cumulative count reaches it
    * (prev < r ≤ cum); the answer depends only on the value multiset, so
    * every emitted value — including the median's sum/count division, which
    * replays the row-level arithmetic via per-bucket matched-rank counts —
    * is bit-identical to the sort form. Quantity is cast to BIGINT first so
    * both engines rank the same integral key.
    */
  def q37Median(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag", "q").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag")
    val cum = hist
      .withColumn("cum", sum("cnt").over(w.orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("cnt").over(w))
      .withColumn("prev", col("cum") - col("cnt"))
    // all rank targets in integer arithmetic: (n+1)÷2, (n+2)÷2, and
    // ⌈9n/10⌉ = (9n+9)÷10 — a float 0.9·n would round differently across
    // engines (DuckDB parses 0.9 as DECIMAL(1,1); Spark as DOUBLE)
    val r1 = expr("(n + 1) DIV 2")
    val r2 = expr("(n + 2) DIV 2")
    val r90 = expr("(9 * n + 9) DIV 10")
    def in(r: org.apache.spark.sql.Column) = col("prev") < r && r <= col("cum")
    // matched MID-RANK count per bucket, replaying the row-level semantics:
    // the sort form counted physical rows whose row_number hit either mid
    // target — one row when n is odd (r1 = r2), two otherwise (possibly in
    // the same bucket, then this bucket contributes both)
    val nMid = when(r1 === r2, when(in(r1), 1L).otherwise(0L))
      .otherwise(when(in(r1), 1L).otherwise(0L) + when(in(r2), 1L).otherwise(0L))
    cum
      .filter(in(r1) || in(r2) || in(r90))
      .groupBy("l_returnflag")
      .agg(
        max("n").as("n_items"),
        (sum(col("q") * nMid).cast("double") /
          sum(nMid)).as("median"),
        max(when(in(r90), col("q"))).as("p90"))
  }

  /** q46_rank_family — the remaining ranking-window members in one pass:
    * ntile quartiles, percent_rank, and cume_dist per return flag, ordered
    * by (quantity, orderkey, linenumber). That key is a total order up to
    * EXACT duplicate rows (the fixture generator emits some): for those,
    * percent_rank/cume_dist are rank-based — tied rows share a value, so
    * both stay pure functions of the data — and ntile may split a run of
    * identical rows across a tile boundary, which is deterministic AS A
    * MULTISET (the tied rows are indistinguishable), the form the gate
    * compares. The two fractional outputs are each ONE IEEE division of
    * exact integers ((rank−1)/(n−1), peers≤current/n) with identical
    * definitions in Spark and DuckDB. One hash exchange on the flag
    * carries all three functions in a single window pass.
    *
    * Parallelism caveat: the window partitions by a 3-value flag, so at
    * most 3 tasks carry the sort — the inherent cost of exact global
    * ranks per low-cardinality group. When values are discretizable the
    * scalable substitute is the histogram-kernel rank (`rank_normalize`:
    * ranks from a bounded (group, value) histogram, raw stream never
    * sorted); this query keeps the window form because it IS the ranking-
    * family coverage.
    */
  def q46RankFamily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_returnflag")
      .orderBy("l_quantity", "l_orderkey", "l_linenumber")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .drop("l_quantity")
  }

  /** q45_outer_full — FULL outer join, the reconciliation shape: the
    * activity log's per-user rollup against a CRM segment table, keeping
    * rows from BOTH null sides — active users missing from the segment
    * (left-only), segment members with no activity (right-only), and the
    * matched middle. This completes the join-type matrix (inner, left
    * outer, semi, anti, range, as-of, and now full outer); q23's left
    * outer can never surface the "profile without activity" rows a
    * reconciliation report exists to find.
    *
    * The segment side filters customers to one mktsegment, so both
    * null-sides are populated on the fixture: event user_ids outside the
    * segment are left-only, segment customers above the user_id range are
    * right-only. Money travels as exact cents; `matched` makes the
    * tri-state explicit for the report consumer.
    *
    * Plan: the log collapses to per-user scalars BEFORE the join (the
    * full outer then joins |users| × |segment| rows, not raw events), one
    * shuffle each side on the join key. A full outer cannot broadcast —
    * both sides must surface unmatched rows, so Spark plans a sort-merge
    * join; this is the one join type where that is the right answer.
    */
  def q45OuterFull(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
    val seg = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("acctbal_cents"))
    act.join(seg, col("user_id") === col("c_custkey"), "full_outer")
      .select(
        coalesce(col("user_id"), col("c_custkey")).as("entity"),
        col("n_events"), col("value_cents"), col("acctbal_cents"),
        when(col("user_id").isNotNull && col("c_custkey").isNotNull, "both")
          .when(col("user_id").isNotNull, "activity_only")
          .otherwise("segment_only").as("matched"))
  }

  /** q51_setops_all — EXCEPT ALL / INTERSECT ALL: the MULTISET set-op
    * semantics the DISTINCT forms (q8/q22) cannot express — a row with
    * multiplicity m in one input and n in the other survives EXCEPT ALL
    * max(m−n, 0) times and INTERSECT ALL min(m, n) times. Spark plans both
    * as joins over per-row multiplicity counts (no sort, no dedup);
    * results collapse to (value, multiplicity) so the gate compares
    * bounded rows. Completes the set-operator matrix.
    */
  def q51SetopsAll(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val r = li.filter(col("l_returnflag") === "R").select("l_quantity")
    val a = li.filter(col("l_returnflag") === "A").select("l_quantity")
    val ex = r.exceptAll(a).groupBy("l_quantity")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val in = r.intersectAll(a).groupBy("l_quantity")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    ex.unionByName(in).select("op", "l_quantity", "n")
  }

  /** q52_nullsafe_join — the null-safe equality join (`<=>` /
    * IS NOT DISTINCT FROM): two per-segment rollups join back together on
    * a key where one group is NULL (derived via nullif), and the NULL
    * groups must MATCH — a plain `=` join silently drops that row, which
    * is exactly the bug class this operator exists to avoid in derived-key
    * reconciliations. Output keeps the null key so the gate proves the
    * NULL row joined (5 rows, not 4).
    */
  def q52NullsafeJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .withColumn("seg", nullif(col("c_mktsegment"), lit("BUILDING")))
    val counts = cust.groupBy("seg").agg(count(lit(1)).as("n_cust"))
    val bals = cust.groupBy(col("seg").as("seg2"))
      .agg(sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
    counts.join(bals, col("seg") <=> col("seg2"))
      .select(col("seg"), col("n_cust"), col("bal_cents"))
  }

  /** q53_lateral_topk — correlated LATERAL subquery with ORDER BY + LIMIT:
    * "the top-3 customers of EACH nation" phrased the way a SQL user
    * writes it, rather than the window-rank idiom (q7) that computes the
    * same thing. Catalyst decorrelates the lateral into a ranked join, so
    * the declarative per-group-LIMIT surface costs the same plan as the
    * window form — the point is the SQL surface exists and is gated.
    * Deterministic tie-break (balance desc, name) keeps the oracle exact.
    */
  def q53LateralTopk(s: SparkSession, dir: String): DataFrame = {
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    s.sql(
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 3) t""".stripMargin)
  }

  /** q54_recursive_spine — WITH RECURSIVE in Spark SQL (4.x): a recursive
    * month generator builds the calendar spine 1995-01 .. 2002-06, then a
    * gap-filling LEFT join rolls orders up per month — empty months (the
    * trailing ones past the data's 2001-08 horizon) surface as zero-count
    * rows, which no GROUP BY over the data alone can produce. The spine is
    * the reporting idiom recursion exists for once UNION-dedup recursion
    * is off the table (Spark recursive CTEs are UNION ALL-only): a
    * bounded, cycle-free generator. The join key is an equi month-truncate
    * (not a range), so the spine broadcasts and the rollup partial-
    * aggregates; month is emitted as epoch days (timezone-proof compare).
    */
  def q54RecursiveSpine(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(
      """WITH RECURSIVE months(m) AS (
        |  SELECT CAST('1995-01-01' AS DATE)
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
        |  WHERE m < CAST('2002-06-01' AS DATE))
        |SELECT CAST(datediff(m, CAST('1970-01-01' AS DATE)) AS BIGINT) AS month_day,
        |       count(o_orderkey) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        |FROM months LEFT JOIN orders
        |  ON CAST(date_trunc('MONTH', o_orderdate) AS DATE) = m
        |GROUP BY m""".stripMargin)
  }

  /** q55_variant — Spark 4's VARIANT type: schema-ON-READ semi-structured
    * handling (`parse_json` → open-schema binary variant → typed
    * `variant_get` extraction at query time), the flexible sibling of
    * q24's schema-FIRST `from_json`. The variant encodes once per row and
    * every downstream extraction is a binary-offset lookup — the Spark 4
    * answer to JSON columns whose shape the pipeline does not control.
    * Aggregates are integral, so the gate compare is exact.
    */
  def q55Variant(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events")
    s.sql(
      """SELECT event_type, count(*) AS n,
        |  min(variant_get(parse_json(props), '$.k', 'bigint')) AS min_k,
        |  max(variant_get(parse_json(props), '$.k', 'bigint')) AS max_k,
        |  count(DISTINCT variant_get(parse_json(props), '$.k', 'bigint')) AS n_items
        |FROM events GROUP BY event_type""".stripMargin)
  }

  /** Bin width (and lookback length) of [[q49IntervalJoin]], in microseconds
    * (10 minutes). Bin width == interval length, so every interval overlaps
    * at most TWO bins — the replication factor is a constant 2, independent
    * of data volume.
    */
  val IntervalBinUs: Long = 600L * 1000000L

  /** q49_interval_join — PURE interval (range-only) join: count, per event
    * type, the events that fall inside the 10-minute lookback window ending
    * at each `error` event — "what was happening just before things broke",
    * with NO equi key linking the two sides (q14's range predicate rides an
    * equi join; this one has nothing to hash on).
    *
    * Naively `p.ts > e.ts - 10min AND p.ts <= e.ts` plans as a
    * BroadcastNestedLoopJoin — O(|points|·|intervals|) comparisons, the
    * classic interval-join scale killer. This operator applies BINNING (the
    * range-join optimization Databricks/Flink ship natively): time is cut
    * into [[IntervalBinUs]]-wide bins; each point lands in exactly ONE bin,
    * each interval is replicated to the (≤ 2) bins it overlaps, and the join
    * becomes an EQUI join on the bin id with the exact range predicate as a
    * post-join filter. Work drops to O(pairs-per-bin), shuffled once on the
    * bin key.
    *
    * 100 TB reading: replication is bounded (bin width == interval length ⇒
    * ≤ 2 bins per interval — the rule: pick bin ≈ interval length); bins are
    * time-uniform so the bin key carries no skew; the equi join is a plain
    * shuffled hash join AQE can re-plan. The oracle states the same join
    * DECLARATIVELY (the theta-join SQL) — binning must be answer-invariant,
    * so the whole optimization is inside the correctness gate.
    */
  def q49IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val binUs = IntervalBinUs
    val ev = Tables.events(s, dir)
    val points = ev.select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("p_us"))
      .withColumn("bin", expr(s"p_us div $binUs"))
    val intervals = ev.filter(col("event_type") === "error")
      .select(unix_micros(col("ts")).as("e_us"))
      // replicate the (e_us − binUs, e_us] lookback into every bin it
      // overlaps: its open left edge's bin through its closed right edge's
      .withColumn("bin", explode(sequence(
        expr(s"(e_us - $binUs) div $binUs"), expr(s"e_us div $binUs"))))
    points.join(intervals, Seq("bin"))
      .where(col("p_us") > col("e_us") - lit(binUs) && col("p_us") <= col("e_us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("event_id")).as("n_points"))
  }
}
