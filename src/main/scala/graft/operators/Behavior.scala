package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Behavioral event analytics: funnel conversion and cohort retention — the
  * two queries every product-events warehouse runs daily, and the natural
  * batch complement of the event-time operators (q15 windows, q16 sessions,
  * q25/q33 streaming).
  *
  * Both share one execution shape, the same hot-key-safe secondary sort the
  * KV replay uses (`core/KvStore.scala`): repartition on `user_id`, sort
  * each partition by (user_id, ts, event_id), then stream a single fold
  * over the partition iterator with O(1) state per user — a user's events
  * arrive contiguous and time-ordered, so neither operator ever buffers a
  * user's history. At 100 TB that is the difference between "a power user
  * with 10⁸ events is a slowdown" and "is an OOM": `groupByKey` +
  * sort-in-memory dies on the hot user; the streaming fold does not. The
  * per-user results are tiny (a depth, a handful of week offsets), and the
  * final aggregation over them is a second, trivially small shuffle.
  *
  * Determinism: folds consume events in (ts, event_id) order, all step
  * arithmetic is integral microseconds / epoch days, and the emitted rows
  * are pure functions of the data — identical under any partitioning, and
  * replayable in ANSI-ish SQL (see the funnel / cohort_retention oracles in
  * `SparkEntry`).
  */
object Behavior {

  /** The funnel step sequence over the fixture's event types. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** Conversion window: every later step must land within 7 days of the
    * FIRST step's event (and strictly after the previous step).
    */
  val FunnelWindowMicros: Long = 7L * 86400L * 1000000L

  /** Per-user funnel depth: the number of steps completed, where step k+1
    * is the user's EARLIEST `FunnelSteps(k+1)` event strictly after the
    * step-k event and within [[FunnelWindowMicros]] of step 1. Earliest-
    * qualifying-event chaining makes the depth a pure function of the data
    * (no greedy ambiguity): it is exactly the min-chaining the SQL oracle
    * computes, evaluated in one streaming pass because events arrive in
    * time order.
    *
    * Users with none of the step event types emit nothing; users whose
    * qualifying events never start the funnel emit depth 0.
    */
  private[graft] def funnelDepths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nSteps = FunnelSteps.length
    val stepOf = FunnelSteps.zipWithIndex.toMap
    // filter + projection reach the parquet scan: only funnel-step events
    // (and three narrow columns) enter the exchange
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin(FunnelSteps: _*))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    ev.repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_us", "event_id")
      .as[(Long, Long, Long, String)]
      .mapPartitions { rows =>
        var curUser = 0L
        var started = false
        var depth = 0
        var t1 = 0L // first-step time (window anchor)
        var tStep = 0L // last completed step's time
        def advance(tpe: String, ts: Long): Unit = {
          val k = stepOf(tpe)
          if (depth == 0) {
            if (k == 0) { depth = 1; t1 = ts; tStep = ts }
          } else if (depth < nSteps && k == depth &&
            ts > tStep && ts <= t1 + FunnelWindowMicros) {
            depth += 1; tStep = ts
          }
        }
        val main = rows.flatMap { case (u, ts, _, tpe) =>
          val emit = if (started && u != curUser) Iterator.single((curUser, depth))
          else Iterator.empty
          if (!started || u != curUser) { curUser = u; started = true; depth = 0 }
          advance(tpe, ts)
          emit
        }
        // lazy suffix: evaluated only after `main` exhausts, closing the
        // final user
        main ++ (if (started) Iterator.single((curUser, depth)) else Iterator.empty)
      }
      .toDF("user_id", "depth")
  }

  /** funnel — the registered query: users reaching each step of
    * view → click → purchase under the window rule above. Three integral
    * rows (step, step_name, n_users); conversion ratios are a downstream
    * division away and would only add float noise to the gate.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val d = funnelDepths(s, dir)
    val counts = FunnelSteps.indices.map(i =>
      count(when(col("depth") >= i + 1, true)).as(s"n${i + 1}"))
    val agg = d.agg(counts.head, counts.tail: _*)
    val stackArgs = FunnelSteps.zipWithIndex
      .map { case (name, i) => s"${i + 1}, '$name', n${i + 1}" }
      .mkString(", ")
    agg.select(expr(
      s"stack(${FunnelSteps.length}, $stackArgs) AS (step, step_name, n_users)"))
  }

  /** Per-user active weeks: the user's cohort day (epoch day of their first
    * event) plus every distinct week offset (floor((day − cohort_day)/7))
    * they were active in. Offsets are nondecreasing in time order, so
    * streaming dedupe is one comparison — no per-user set.
    */
  private[graft] def userWeeks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
    ev.repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_us", "event_id")
      .as[(Long, Long, Long)]
      .mapPartitions { rows =>
        val MicrosPerDay = 86400L * 1000000L
        var curUser = 0L
        var started = false
        var cohortDay = 0L
        var lastOff = -1L
        rows.flatMap { case (u, ts, _) =>
          val day = ts / MicrosPerDay // fixture timestamps are post-epoch
          if (!started || u != curUser) {
            curUser = u; started = true; cohortDay = day; lastOff = 0L
            Iterator.single((u, cohortDay, 0L))
          } else {
            val off = (day - cohortDay) / 7L
            if (off != lastOff) { lastOff = off; Iterator.single((u, cohortDay, off)) }
            else Iterator.empty
          }
        }
      }
      .toDF("user_id", "cohort_day", "week_offset")
  }

  /** cohort_retention — the registered query: the classic retention matrix.
    * Rows (cohort_day, week_offset, n_users): of the users whose FIRST
    * event fell on `cohort_day`, how many were active `week_offset` weeks
    * later. Each user contributes at most once per (cohort, offset) by
    * construction of [[userWeeks]], so a plain count is the distinct-user
    * count — no count(distinct) shuffle amplification.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame =
    userWeeks(s, dir)
      .groupBy(
        date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          col("cohort_day").cast("int")).as("cohort_day"),
        col("week_offset"))
      .agg(count(lit(1)).as("n_users"))

  /** anomaly_days — per-user daily-volume outliers: the (user_id, day, cnt)
    * rows where the user's event count that day deviates from THEIR OWN
    * daily mean by more than 2σ (population), over users with ≥ 7 observed
    * days. The z-test is evaluated in EXACT integer algebra — |c − μ| > 2σ
    * with μ = s/n, σ² = (n·ss − s²)/n² clears denominators to
    *   (c·n − s)² > 4·(n·ss − s²),
    * every term an integer — so the flag is a pure function of the counts,
    * independent of partitioning or float summation order, and the DuckDB
    * oracle replays it verbatim (HUGEINT there, DECIMAL(38,0) here: a power
    * user's c ~ 10⁸ over n ~ 365 days squares past the BIGINT range, so the
    * squared comparison runs in 128-bit on both sides).
    *
    * Plan shape: the raw event stream collapses to per-(user, day) counts
    * map-side before the first exchange; the per-user moment sums (n, s,
    * ss) ride a window over the SAME user-hashed data — a user's day
    * cardinality is bounded by the calendar span, never by event volume,
    * so the window sort is O(span), and a 10⁸-event user costs no more
    * than their day count.
    */
  def anomalyDays(s: SparkSession, dir: String): DataFrame =
    anomalyTail(
      Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("cnt")))

  /** The z-score flagging tail of [[anomalyDays]] over a (user_id, day,
    * cnt) daily-count table — shared with the streaming twin
    * (q58_stream_anomaly), whose keyed state maintains the same daily
    * counts incrementally. Flag days with |cnt − mean| > 2σ via the
    * cross-multiplied integer form (squares in DECIMAL(38,0) so a power
    * user's counts can't overflow the compare).
    */
  def anomalyTail(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum("cnt").over(w))
      .withColumn("ss", sum(col("cnt") * col("cnt")).over(w))
      .filter(col("n") >= 7)
      .withColumn("dev", col("cnt") * col("n") - col("s"))
      .filter(
        col("dev").cast("decimal(38,0)") * col("dev") >
          lit(4).cast("decimal(38,0)") *
            (col("n").cast("decimal(38,0)") * col("ss") -
              col("s").cast("decimal(38,0)") * col("s")))
      .select("user_id", "day", "cnt")
  }

  /** event_transitions — the Markov-chain builder: counts of consecutive
    * event-type transitions per user, in (ts, event_id) order (the same
    * total order every event fold in this file uses, so ties are
    * deterministic). One window pass on the user_id exchange — `lag` over
    * the user partition, never a self-join of the event stream — then a
    * map-side combined count on the (from, to) pair: 25 output rows per
    * 5-type fixture regardless of corpus size, and the transition-matrix
    * normalization is a downstream division away (kept integral here to
    * stay float-free at the gate).
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** state_intervals — the SCD-type-2 builder (gaps-and-islands): collapse
    * each user's event stream into maximal runs of one event_type, emitting
    * (user_id, run_id, event_type, valid_from_us, valid_to_us, n_events)
    * with half-open validity — `valid_to_us` is the NEXT run's start, NULL
    * on the user's current (last) state. This is how a change-event log
    * becomes a slowly-changing dimension you can as-of join against (q17 /
    * q35 consume exactly this shape).
    *
    * One user_id exchange carries all four window passes (lag → run-start
    * flag → running-sum run ids → lead over the collapsed runs); the
    * between-pass data is per-RUN, not per-event, so the lead pass sorts
    * orders of magnitude fewer rows than the input. All arithmetic is
    * integral microseconds in the shared (ts, event_id) total order.
    */
  def stateIntervals(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val runs = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byTime))
      .withColumn("is_start",
        when(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum("is_start").over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id")
      .agg(min("event_type").as("event_type"),
        min("ts_us").as("valid_from_us"),
        count(lit(1)).as("n_events"))
    runs
      .withColumn("valid_to_us", lead("valid_from_us", 1).over(
        Window.partitionBy("user_id").orderBy("run_id")))
      .select("user_id", "run_id", "event_type", "valid_from_us",
        "valid_to_us", "n_events")
  }

  /** Default debounce window: events of the same (user, type) closer than
    * this to the PREVIOUS KEPT event are duplicates (5 s — the telemetry
    * double-fire convention). The REGISTERED query uses [[GateDebounceUs]]
    * (12 h) instead: fixture inter-event gaps are hours, so the production
    * window would make the gate vacuous (zero suppressions) — the
    * dedup_embed lesson; the 5 s shape is spec-tested on planted bursts.
    */
  val DebounceUs: Long = 5000000L

  /** Fixture-meaningful gate window (12 h): suppresses ~20% of fixture
    * events, so the anchor-chain rule is actually exercised at the gate.
    */
  val GateDebounceUs: Long = 43200000000L

  /** debounce — per-(user, event_type) duplicate-fire suppression: an event
    * is kept iff it is ≥ 5 s after the previous KEPT event of its key (the
    * anchor-chain rule, not "≥ 5 s after the previous event" — a burst
    * firing every second must collapse to one event per 5 s window, which
    * the lag-only rule gets wrong by dropping everything after the first).
    * Emits kept events only, with `n_suppressed` = how many raw events the
    * kept event absorbed before the next anchor.
    *
    * Execution shape: one (user_id, event_type) exchange; inside each
    * partition the anchor chain is a linear scan — implemented as a typed
    * sorted fold (flatMapGroups over the secondary-sorted iterator, O(1)
    * state: last kept µs + running suppressed count), the same
    * hot-key-safe shape as KvStore.replay. No window function needed at
    * all, and a 10⁸-event key streams through without buffering.
    *
    * Determinism: events sort by the repo's (ts_us, event_id) total order,
    * so the anchor chain is a pure function of the data. All arithmetic is
    * integral µs.
    */
  def debounce(s: SparkSession, dir: String,
      windowUs: Long = DebounceUs): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey { case (u, t, _, _) => (u, t) }
      .flatMapSortedGroups($"ts_us", $"event_id") { case ((u, t), rows) =>
        // LAZY one-lookahead fold: a kept event is emitted when its
        // successor anchor (or end-of-key) fixes its absorbed count, so the
        // group streams through with O(1) live state — never an output
        // buffer proportional to the key's kept rows
        new Iterator[(Long, String, Long, Long, Long)] {
          private var lastKeptUs = Long.MinValue
          private var keptId = 0L
          private var keptUs = 0L
          private var suppressed = 0L
          private var open = false
          private var pending: (Long, String, Long, Long, Long) = _
          private var hasPending = false
          private def advance(): Unit = {
            while (!hasPending && rows.hasNext) {
              val (_, _, us, id) = rows.next()
              if (lastKeptUs == Long.MinValue || us - lastKeptUs >= windowUs) {
                if (open) { pending = ((u, t, keptId, keptUs, suppressed)); hasPending = true }
                lastKeptUs = us; keptId = id; keptUs = us; suppressed = 0L; open = true
              } else suppressed += 1L
            }
            if (!hasPending && open) {
              pending = ((u, t, keptId, keptUs, suppressed)); hasPending = true; open = false
            }
          }
          override def hasNext: Boolean = { advance(); hasPending }
          override def next(): (Long, String, Long, Long, Long) = {
            advance()
            if (!hasPending) throw new NoSuchElementException
            hasPending = false
            pending
          }
        }
      }
      .toDF("user_id", "event_type", "event_id", "ts_us", "n_suppressed")
  }

  /** Session gap: a pause longer than this starts a new session (30 min,
    * matching q16's sessionization rule).
    */
  val SessionGapUs: Long = 1800L * 1000000L

  /** session_assign — the per-event twin of q16's session counting: every
    * event is re-emitted with its (user-local) session ordinal and its
    * position within that session — the labeling step that turns a raw
    * event stream into session-grouped training sequences (and the input
    * shape session-level features join against). Session boundary = gap
    * > 30 min, the same rule q16 aggregates.
    *
    * Execution shape: one user_id exchange carries both window passes —
    * the lag that marks boundaries and the running sum that turns
    * boundary flags into ordinals; the within-session position is a
    * row_number over the SAME (user, ts, event_id) order, so no second
    * shuffle anywhere. All integral.
    */
  def sessionAssign(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(run))
      .withColumn("pos_in_session", row_number().over(
        Window.partitionBy("user_id", "session_id").orderBy("ts_us", "event_id"))
        .cast("long"))
      .select("user_id", "event_id", "ts_us", "session_id", "pos_in_session")
  }

  /** churn_weeks — weekly activity accounting: for every calendar week
    * (integral epoch-day DIV 7) with any events, the distinct active users
    * and how many of them have no event in the following week (churned —
    * the complement of week-over-week retention; the final week reports
    * all-churned by construction, which the consumer reads as "no next
    * week observed yet"). All integral.
    *
    * Execution shape: events collapse map-side to distinct (user, week) —
    * a power user's events become their ≤52 week rows before anything
    * shuffles — then ONE self left-join on (user, week+1) marks survival
    * and a map-side-combined count per week finishes. No windows, no
    * distinct-count shuffle amplification (the pair set is already
    * distinct), both joins on bounded-growth keys.
    */
  def churnWeeks(s: SparkSession, dir: String): DataFrame = {
    // both join sides read the distinct pair set — checkpoint it once so
    // the events scan + distinct run once, not per reference
    val uw = graft.TransientCache.checkpoint(Tables.events(s, dir)
      .select(col("user_id"),
        expr("(unix_micros(ts) DIV 86400000000) DIV 7").as("week"))
      .distinct())
    val next = uw.select(col("user_id"), (col("week") - 1L).as("week"),
      lit(1L).as("survives"))
    uw.join(next, Seq("user_id", "week"), "left")
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("survives").isNull, 1L).otherwise(0L)).as("n_churned"))
  }

  /** Attribution lookback: a conversion credits a click at most this far
    * back (1 hour).
    */
  val AttributionUs: Long = 3600000000L

  /** attribution — last-touch conversion attribution: every `purchase`
    * event is attributed to the user's most recent `click` STRICTLY before
    * it and within the 1 h lookback; purchases with no such click are
    * emitted unattributed (NULL click columns) — the rows a marketing
    * report must still count. This is the event-stream cousin of the as-of
    * join (q17/q35): same "latest predecessor" semantics, but both sides
    * live in ONE stream, so the right plan is a single per-user sorted
    * scan carrying the last-click register — not a join at all.
    *
    * Execution shape: one user_id-partitioned window pass over (click ∪
    * purchase) events: `last(click_us) IGNORE NULLS` over the unbounded
    * preceding frame IS the last-touch register (ties in the total order
    * resolved by (ts_us, event_id); a click and purchase at the same µs
    * order by event_id, and "strictly before" means the same-row purchase
    * never sees itself — the filter keeps only purchase rows, whose own
    * click columns are NULL). O(events-per-user) per partition, no
    * buffering beyond the window machinery, lookback applied as a plain
    * filter afterwards.
    */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("click_us",
        last(when(col("event_type") === "click", col("ts_us")), ignoreNulls = true).over(w))
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_us"),
        when(col("ts_us") - col("click_us") <= AttributionUs, col("click_id"))
          .as("click_id"),
        when(col("ts_us") - col("click_us") <= AttributionUs,
          col("ts_us") - col("click_us")).as("latency_us"))
  }

  /** cdc_apply — change-data-capture apply / last-write-wins merge: collapse
    * an event changelog into the CURRENT state per key. The events table is
    * read as an upsert log keyed by user_id — each event is an upsert of
    * (event_type, value) except `error`, which acts as a DELETE tombstone —
    * and the applied state is, per user, the payload of the LATEST operation
    * in the repo's (ts_us, event_id) total order; users whose latest op is a
    * tombstone are absent from the output. This is the SCD-Type-1 sibling of
    * [[stateIntervals]] (which keeps the full history as SCD2 validity
    * intervals): the step every CDC ingest (Debezium-style logs, lakehouse
    * MERGE) runs to materialize a snapshot from a log.
    *
    * Execution shape — argmax, NOT a window sort: `max(struct(ts_us,
    * event_id, …payload))` under the lexicographic struct order IS
    * last-write-wins (the (ts_us, event_id) prefix is the total order;
    * event_id is unique so payload fields never decide a comparison). The
    * aggregate partial-aggregates map-side, so each executor ships ONE
    * candidate row per key — at 100 TB the exchange carries |keys| rows,
    * where the row_number()-over-window formulation the oracle replays
    * would shuffle and SORT the full log. (Spark lowers a struct-valued
    * max to SortAggregate — struct buffers aren't hash-mutable — so each
    * partition locally sorts by the grouping key; that cost is in-partition
    * CPU, while the scale-critical property, shuffle volume, stays |keys|
    * per mapper. PlanShapeSpec pins both.) The delete filter lands on the
    * collapsed snapshot (|keys| rows), not the log.
    *
    * `value` travels as exact integer cents (value_histogram's trick), so
    * the gate compare is exact.
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame =
    cdcSnapshot(Tables.events(s, dir))

  /** The last-write-wins snapshot body of [[cdcApply]] over any events
    * frame — shared with the streaming twin (q59_stream_cdc), where the
    * same struct-max aggregate runs as keyed streaming state (one struct
    * per key, the smallest state a CDC materializer can carry).
    */
  def cdcSnapshot(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_cents"))
      .groupBy("user_id")
      .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"),
        col("value_cents"))).as("last"))
      .select(col("user_id"), col("last.ts_us").as("ts_us"),
        col("last.event_id").as("event_id"),
        col("last.event_type").as("event_type"),
        col("last.value_cents").as("value_cents"))
      .filter(col("event_type") =!= "error")
}
