package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Behavior

/** Funnel and cohort-retention semantics: hand-computed depths on planted
  * event sequences (window cutoffs, strict-after ties, out-of-order types),
  * plus a fixture differential against a driver-side brute-force replay of
  * the min-chaining rule.
  */
class BehaviorSpec extends AnyFunSuite {
  import TestSpark._

  private val Day = 86400L * 1000000L // micros

  /** Temp events.parquet with the fixture's shape — `ts` a raw NANOSECOND
    * long, as `Tables.events` expects from the driver's TIMESTAMP(NANOS)
    * parquet. Offsets supplied in micros since a 2024-01-01 UTC base so
    * window arithmetic reads naturally.
    */
  private def writeEvents(rows: Seq[(Long, Long, Long, String)]): String = {
    val s = spark
    import s.implicits._
    val baseUs = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val dir = scratchDir("behavior").toString
    rows.map { case (eid, us, uid, tpe) =>
      (eid, (baseUs + us) * 1000L, uid, tpe, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def depths(dir: String): Map[Long, Int] =
    Behavior.funnelDepths(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("depth")).toMap

  test("funnelDepths: planted sequences hit the documented rule") {
    val dir = writeEvents(Seq(
      // user 1: clean view -> click -> purchase inside the window
      (1L, 0L, 1L, "view"), (2L, Day, 1L, "click"), (3L, 2 * Day, 1L, "purchase"),
      // user 2: purchase without a click never advances past the view
      (4L, 0L, 2L, "view"), (5L, Day, 2L, "purchase"),
      // user 3: pre-view click ignored; purchase lands outside the 7-day
      // window anchored at the FIRST view
      (6L, 0L, 3L, "click"), (7L, Day, 3L, "view"),
      (8L, Day + 3600L * 1000000L, 3L, "click"), (9L, 9 * Day, 3L, "purchase"),
      // user 4: no view at all -> depth 0
      (10L, 0L, 4L, "purchase"),
      // user 5: click at the same microsecond as the view fails strict
      // AFTER; the next click one microsecond later advances
      (11L, 0L, 5L, "view"), (12L, 0L, 5L, "click"), (13L, 1L, 5L, "click"),
      // user 6: second view does NOT re-anchor the window — purchase at
      // day 8 is outside the window of the FIRST view
      (14L, 0L, 6L, "view"), (15L, 2 * Day, 6L, "view"),
      (16L, Day, 6L, "click"), (17L, 8 * Day, 6L, "purchase")))
    assert(depths(dir) == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 0, 5L -> 2, 6L -> 2))
  }

  test("funnel: step counts stack the depth distribution") {
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, "view"), (2L, Day, 1L, "click"), (3L, 2 * Day, 1L, "purchase"),
      (4L, 0L, 2L, "view"), (5L, Day, 2L, "click"),
      (6L, 0L, 3L, "view"),
      (7L, 0L, 4L, "error")))
    val got = Behavior.funnel(spark, dir).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("step_name"), r.getAs[Long]("n_users")))
      .toSet
    assert(got == Set((1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)))
  }

  test("funnelDepths: fixture matches a driver-side min-chaining replay") {
    val events = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_type").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("us"), r.getAs[String]("event_type")))
    val byUser = events.groupBy(_._1)
    val expected = byUser.flatMap { case (u, evs) =>
      def minAfter(tpe: String, after: Long, anchor: Long): Option[Long] = {
        val c = evs.filter(e => e._3 == tpe && e._2 > after &&
          e._2 <= anchor + Behavior.FunnelWindowMicros).map(_._2)
        if (c.isEmpty) None else Some(c.min)
      }
      val views = evs.filter(_._3 == "view").map(_._2)
      if (evs.forall(e => !Behavior.FunnelSteps.contains(e._3))) None
      else if (views.isEmpty) Some(u -> 0)
      else {
        val t1 = views.min
        minAfter("click", t1, t1) match {
          case None => Some(u -> 1)
          case Some(t2) => minAfter("purchase", t2, t1) match {
            case None => Some(u -> 2)
            case Some(_) => Some(u -> 3)
          }
        }
      }
    }
    assert(depths(Sf0001) == expected)
  }

  test("cohort_retention: planted users land in hand-computed cells") {
    val dir = writeEvents(Seq(
      // user 1: first event day 0 -> cohort 2024-01-01; active weeks 0 and 2
      (1L, 0L, 1L, "view"), (2L, 15 * Day, 1L, "click"), (3L, 16 * Day, 1L, "view"),
      // user 2: first event day 1 -> cohort 2024-01-02; offsets relative to
      // the user's OWN first day: day 1 -> 0, day 8 -> 1
      (4L, Day, 2L, "error"), (5L, 8 * Day, 2L, "purchase"),
      // user 3: same cohort day as user 1, week-0 only
      (6L, Day / 2, 3L, "signup")))
    val got = Behavior.cohortRetention(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_day").toString,
        r.getAs[Long]("week_offset"), r.getAs[Long]("n_users"))).toSet
    assert(got == Set(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L), ("2024-01-02", 1L, 1L)))
  }

  test("userWeeks: fixture emits each (user, offset) exactly once, matching brute force") {
    val events = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "unix_micros(ts) AS us").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("us")))
    val expected = events.groupBy(_._1).iterator.flatMap { case (u, evs) =>
      val d0 = evs.map(_._2).min / Day
      evs.map(e => (u, d0, (e._2 / Day - d0) / 7L)).distinct
    }.toSet
    val got = Behavior.userWeeks(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cohort_day"),
        r.getAs[Long]("week_offset")))
    assert(got.length == got.distinct.length)
    assert(got.toSet == expected)
  }

  test("anomalyDays: fixture flags exactly the brute-force 2-sigma set") {
    val events = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "unix_micros(ts) AS us").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("us") / Day))
    val expected = events.groupBy(_._1).iterator.flatMap { case (u, evs) =>
      val daily = evs.groupBy(_._2).map { case (d, es) => (d, es.size.toLong) }
      val n = daily.size.toLong
      val s = daily.values.sum
      val ss = daily.values.map(c => c * c).sum
      // exact BigInt evaluation of (c·n − s)² > 4·(n·ss − s²)
      daily.collect {
        case (d, c) if n >= 7 &&
          BigInt(c * n - s).pow(2) > BigInt(4) * (BigInt(n) * ss - BigInt(s) * s) =>
          (u, d, c)
      }
    }.toSet
    val got = Behavior.anomalyDays(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day"),
        r.getAs[Long]("cnt"))).toSet
    assert(got == expected)
  }

  test("anomalyDays: constant-volume users flag nothing; one spike day flags") {
    // user 1: 8 days of exactly 1 event -> sigma 0, no day deviates
    val flat = (0 until 8).map(d => ((d + 10).toLong, d * Day, 1L, "view"))
    // user 2: 7 quiet days + one 10-event burst on day 7
    val quiet = (0 until 7).map(d => ((d + 50).toLong, d * Day, 2L, "view"))
    val burst = (0 until 10).map(j => ((j + 80).toLong, 7 * Day + j, 2L, "click"))
    val got = Behavior.anomalyDays(spark, writeEvents(flat ++ quiet ++ burst))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cnt"))).toSet
    val day0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond / 86400L
    assert(got == Set((2L, 10L)))
    val full = Behavior.anomalyDays(spark, writeEvents(flat ++ quiet ++ burst))
      .collect().map(r => r.getAs[Long]("day")).toSet
    assert(full == Set(day0 + 7))
  }

  test("stateIntervals: planted runs collapse with half-open validity") {
    // user 1: view view click view  -> runs (view,2) (click,1) (view,1)
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, "view"), (2L, 10L, 1L, "view"), (3L, 20L, 1L, "click"),
      (4L, 30L, 1L, "view"),
      // user 2: a single state, valid_to stays NULL
      (5L, 0L, 2L, "signup")))
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val got = Behavior.stateIntervals(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("valid_from_us"),
        Option(r.getAs[Any]("valid_to_us")).map(_.asInstanceOf[Long]),
        r.getAs[Long]("n_events"))).toSet
    assert(got == Set(
      (1L, 1L, "view", base, Some(base + 20L), 2L),
      (1L, 2L, "click", base + 20L, Some(base + 30L), 1L),
      (1L, 3L, "view", base + 30L, None, 1L),
      (2L, 1L, "signup", base, None, 1L)))
  }

  test("stateIntervals: fixture intervals tile each user's event span") {
    val rows = Behavior.stateIntervals(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_id"),
        r.getAs[Long]("valid_from_us"),
        Option(r.getAs[Any]("valid_to_us")).map(_.asInstanceOf[Long]),
        r.getAs[Long]("n_events")))
    val nEvents = graft.sources.Tables.events(spark, Sf0001).count()
    assert(rows.map(_._5).sum == nEvents) // every event is in exactly one run
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == (1L to ordered.length).toSeq)
      // each run's valid_to is the successor's valid_from; only the last is open
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3))
        case _ =>
      }
      assert(ordered.last._4.isEmpty)
    }
  }

  test("eventTransitions: fixture bigrams match brute force in (ts, event_id) order") {
    val events = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id", "event_type")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("us"),
        r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
    val expected = events.groupBy(_._1).iterator.flatMap { case (_, evs) =>
      val ordered = evs.sortBy(e => (e._2, e._3)).map(_._4)
      ordered.iterator.zip(ordered.iterator.drop(1))
    }.toSeq.groupBy(identity).map { case (p, ps) => (p._1, p._2, ps.size.toLong) }
      .toSet
    val got = Behavior.eventTransitions(spark, Sf0001).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n"))).toSet
    assert(got == expected)
  }

  private def debounced(dir: String, windowUs: Long): Map[Long, (Long, Long)] =
    Behavior.debounce(spark, dir, windowUs).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("ts_us"), r.getAs[Long]("n_suppressed")))).toMap

  test("debounce: anchor-chain rule, not lag rule — steady burst keeps one per window") {
    val S = 1000000L
    // user 1 'click' every 2 s for 12 s: anchors at 0, 6, 12 (5 s window);
    // the lag-only rule would keep only t=0. user 1 'view' at t=1 is its
    // own key and untouched.
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, "click"), (2L, 2 * S, 1L, "click"), (3L, 4 * S, 1L, "click"),
      (4L, 6 * S, 1L, "click"), (5L, 8 * S, 1L, "click"), (6L, 10 * S, 1L, "click"),
      (7L, 12 * S, 1L, "click"),
      (8L, 1 * S, 1L, "view")))
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
    val got = debounced(dir, Behavior.DebounceUs)
    assert(got.keySet == Set(1L, 4L, 7L, 8L))
    assert(got(1L) == ((base, 2L)))          // absorbed events 2,3
    assert(got(4L) == ((base + 6 * S, 2L)))  // absorbed 5,6
    assert(got(7L) == ((base + 12 * S, 0L)))
    assert(got(8L) == ((base + 1 * S, 0L)))
  }

  test("debounce: same-microsecond double-fire collapses; users are isolated") {
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, "click"), (2L, 0L, 1L, "click"), // same µs: id order, one kept
      (3L, 0L, 2L, "click")))                       // other user unaffected
    val got = debounced(dir, Behavior.DebounceUs)
    assert(got.keySet == Set(1L, 3L))
    assert(got(1L)._2 == 1L && got(3L)._2 == 0L)
  }

  test("debounce: fixture at the gate window matches a driver-side chain replay") {
    val events = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = events.groupBy(e => (e._1, e._2)).flatMap { case (_, evs) =>
      val ordered = evs.sortBy(e => (e._3, e._4))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var lastKept = Long.MinValue
      ordered.foreach { case (_, _, us, id) =>
        if (lastKept == Long.MinValue || us - lastKept >= Behavior.GateDebounceUs) {
          out += ((id, us, 0L)); lastKept = us
        } else {
          val (kid, kus, n) = out.last; out(out.length - 1) = (kid, kus, n + 1)
        }
      }
      out
    }.map { case (id, us, n) => id -> ((us, n)) }.toMap
    val got = debounced(Sf0001, Behavior.GateDebounceUs)
    assert(got === expected)
    assert(got.values.exists(_._2 > 0L), "gate window must actually suppress")
  }

  test("sessionAssign: ordinals and positions follow the 30-min gap rule") {
    val M = 60L * 1000000L
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, "view"),
      (2L, 10 * M, 1L, "view"),   // 10 min gap: same session
      (3L, 50 * M, 1L, "view"),   // 40 min gap: new session
      (4L, 55 * M, 1L, "view"),
      (5L, 0L, 2L, "view")))      // other user: own numbering
    val got = Behavior.sessionAssign(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("session_id"), r.getAs[Long]("pos_in_session")))).toMap
    assert(got == Map(
      1L -> ((1L, 1L)), 2L -> ((1L, 2L)),
      3L -> ((2L, 1L)), 4L -> ((2L, 2L)),
      5L -> ((1L, 1L))))
  }

  test("sessionAssign: fixture session count per user equals q16's aggregate") {
    val perUser = Behavior.sessionAssign(spark, Sf0001)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("session_id").as("n_sessions"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events")))).toMap
    val q16 = graft.operators.Relational.q16Sessions(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events")))).toMap
    assert(perUser == q16)
  }

  test("churnWeeks: hand-computed weekly active/churned cells") {
    val W = 7L * 86400L * 1000000L
    // week 0: users 1, 2; week 1: user 1 only (2 churned at week 0);
    // user 1 churns at week 1 (nothing in week 2)
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, "view"), (2L, 1000000L, 1L, "view"), // dup week rows collapse
      (3L, 0L, 2L, "view"),
      (4L, W, 1L, "view")))
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val w0 = base / W
    val got = Behavior.churnWeeks(spark, dir).collect()
      .map(r => r.getAs[Long]("week") ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("n_churned")))).toMap
    assert(got == Map(w0 -> ((2L, 1L)), (w0 + 1) -> ((1L, 1L))))
  }

  test("churnWeeks: fixture matches a driver-side set replay") {
    val uw = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "(unix_micros(ts) DIV 86400000000) DIV 7 AS week")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = uw.groupBy(_._2).map { case (w, rows) =>
      val users = rows.map(_._1)
      w -> ((users.size.toLong,
        users.count(u => !uw.contains((u, w + 1))).toLong))
    }
    val got = Behavior.churnWeeks(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("week") ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("n_churned")))).toMap
    assert(got === expected)
  }

  private def attributed(dir: String): Map[Long, (Option[Long], Option[Long])] =
    Behavior.attribution(spark, dir).collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        ((Option(r.getAs[java.lang.Long]("click_id")).map(_.longValue()),
          Option(r.getAs[java.lang.Long]("latency_us")).map(_.longValue())))).toMap

  test("attribution: last click within lookback wins; outside or absent stays null") {
    val S = 1000000L
    val H = 3600L * S
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, "click"),
      (2L, 10 * S, 1L, "click"),          // latest click before purchase 3
      (3L, 30 * S, 1L, "purchase"),
      (4L, 30 * S + 2 * H, 1L, "purchase"), // 2 h after click 2: outside lookback
      (5L, 0L, 2L, "purchase"),           // user 2 never clicked
      (6L, 5 * S, 2L, "view")))           // non-participating type is ignored
    val got = attributed(dir)
    assert(got(3L) == ((Some(2L), Some(20 * S))))
    assert(got(4L) == ((None, None)))
    assert(got(5L) == ((None, None)))
    assert(got.size == 3)
  }

  test("attribution: same-microsecond click attributes by event_id order") {
    // click (id 1) and purchase (id 2) share a µs: the click is strictly
    // before in the (ts_us, event_id) total order, so it is credited
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, "click"),
      (2L, 0L, 1L, "purchase"),
      // purchase id 3 BEFORE click id 4 at the same µs: not credited
      (3L, 1000L, 2L, "purchase"),
      (4L, 1000L, 2L, "click")))
    val got = attributed(dir)
    assert(got(2L) == ((Some(1L), Some(0L))))
    assert(got(3L) == ((None, None)))
  }

  test("attribution: fixture matches a driver-side last-touch replay") {
    val events = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .filter(e => e._2 == "click" || e._2 == "purchase")
    val expected = events.groupBy(_._1).iterator.flatMap { case (_, evs) =>
      val ordered = evs.sortBy(e => (e._3, e._4))
      var lastClick: Option[(Long, Long)] = None
      ordered.iterator.flatMap { case (_, tpe, us, id) =>
        if (tpe == "click") { lastClick = Some((id, us)); None }
        else {
          val inWin = lastClick.filter { case (_, cus) =>
            us - cus <= Behavior.AttributionUs }
          Some(id -> ((inWin.map(_._1), inWin.map(c => us - c._2))))
        }
      }
    }.toMap
    assert(attributed(Sf0001) === expected)
    // both attributed and unattributed purchases occur on the fixture
    assert(attributed(Sf0001).values.exists(_._1.isDefined))
    assert(attributed(Sf0001).values.exists(_._1.isEmpty))
  }

  private def snapshot(dir: String): Map[Long, (Long, Long, String)] =
    Behavior.cdcApply(spark, dir).collect().map { r =>
      r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"),
          r.getAs[String]("event_type")))
    }.toMap

  test("cdcApply: last write wins, tombstones delete, same-µs ties break on event_id") {
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val dir = writeEvents(Seq(
      // user 1: two upserts — the later one is the state
      (1L, 0L, 1L, "view"), (2L, 10L, 1L, "click"),
      // user 2: upsert then tombstone — absent from the snapshot
      (3L, 0L, 2L, "view"), (4L, 10L, 2L, "error"),
      // user 3: tombstone then a LATER upsert — resurrected
      (5L, 0L, 3L, "error"), (6L, 10L, 3L, "purchase"),
      // user 4: two ops at the same µs — higher event_id wins
      (7L, 0L, 4L, "view"), (8L, 0L, 4L, "click")))
    val got = snapshot(dir)
    assert(got(1L) == ((base + 10L, 2L, "click")))
    assert(!got.contains(2L))
    assert(got(3L) == ((base + 10L, 6L, "purchase")))
    assert(got(4L) == ((base, 8L, "click")))
  }

  test("cdcApply: fixture matches a driver-side last-write-wins replay") {
    val events = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = events.groupBy(_._1).flatMap { case (u, evs) =>
      val (_, us, id, tpe) = evs.maxBy(e => (e._2, e._3))
      if (tpe == "error") None else Some(u -> ((us, id, tpe)))
    }
    assert(snapshot(Sf0001) == expected)
    // both surviving users and tombstoned-away users occur on the fixture
    val users = events.map(_._1).toSet
    assert(snapshot(Sf0001).nonEmpty)
    assert(snapshot(Sf0001).keySet != users)
  }
}
