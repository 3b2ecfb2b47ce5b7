package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TimeSeries

/** ts_resample: per-user daily gap-fill + forward fill — hand-computed grid
  * on planted event streams, plus structural invariants on the fixture.
  */
class TimeSeriesSpec extends AnyFunSuite {
  import TestSpark._

  private val Day = 86400L * 1000000L // micros

  /** Temp events.parquet with the fixture's shape — `ts` raw NANOSECOND
    * longs (the nanosAsLong read path), offsets in micros from a
    * 2024-01-01 UTC base. Each row carries its own `value`.
    */
  private def writeEvents(rows: Seq[(Long, Long, Long, Double)]): String = {
    val s = spark
    import s.implicits._
    val baseUs = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val dir = scratchDir("timeseries").toString
    rows.map { case (eid, us, uid, v) =>
      (eid, (baseUs + us) * 1000L, uid, "metric", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def grid(dir: String): Map[(Long, String), (Long, Option[Double], Option[Double])] =
    TimeSeries.tsResample(spark, dir).collect().map { r =>
      (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toString) ->
        ((r.getAs[Long]("n_events"),
          Option(r.getAs[java.lang.Double]("day_value")).map(_.doubleValue()),
          Option(r.getAs[java.lang.Double]("filled_value")).map(_.doubleValue())))
    }.toMap

  test("gap days appear with n_events 0 and carry the forward-filled value") {
    // user 1: events on day 0 (v=10.0) and day 3 (v=30.0) — days 1,2 are gaps
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, 10.0),
      (2L, 3 * Day, 1L, 30.0)))
    val g = grid(dir)
    assert(g.size == 4) // full span, inclusive
    assert(g((1L, "2024-01-01")) == ((1L, Some(10.0), Some(10.0))))
    assert(g((1L, "2024-01-02")) == ((0L, None, Some(10.0)))) // gap: filled
    assert(g((1L, "2024-01-03")) == ((0L, None, Some(10.0))))
    assert(g((1L, "2024-01-04")) == ((1L, Some(30.0), Some(30.0))))
  }

  test("day_value is the day's LAST event by (ts, event_id); ties break on event_id") {
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, 1.0),
      (2L, 3600L * 1000000L, 1L, 2.0), // later that day: wins
      // same-microsecond pair on day 2: higher event_id wins
      (3L, Day, 1L, 5.0),
      (4L, Day, 1L, 6.0)))
    val g = grid(dir)
    assert(g((1L, "2024-01-01")) == ((2L, Some(2.0), Some(2.0))))
    assert(g((1L, "2024-01-02")) == ((2L, Some(6.0), Some(6.0))))
  }

  test("users are independent: spans do not bleed and fills never cross users") {
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, 1.0),
      (2L, 2 * Day, 1L, 2.0),
      (3L, 5 * Day, 2L, 9.0))) // user 2: single-day span
    val g = grid(dir)
    assert(g.keys.count(_._1 == 1L) == 3)
    assert(g.keys.count(_._1 == 2L) == 1)
    assert(g((2L, "2024-01-06")) == ((1L, Some(9.0), Some(9.0))))
    assert(g((1L, "2024-01-02"))._3 == Some(1.0)) // filled from user 1, not 2
  }

  test("fixture invariants: dense per-user grid, fill always defined, counts add up") {
    val rows = TimeSeries.tsResample(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    // first grid day of each user is an event day, so filled_value is
    // non-null on every row of the grid
    rows.foreach { r =>
      assert(r.getAs[java.lang.Double]("filled_value") != null)
      if (r.getAs[Long]("n_events") == 0L)
        assert(r.getAs[java.lang.Double]("day_value") == null)
    }
    // span density: each user's row count == day span, and total event
    // count is preserved
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, rs) =>
      val days = rs.map(_.getAs[java.sql.Date]("day").toLocalDate.toEpochDay)
      assert(days.max - days.min + 1 == rs.length)
      assert(days.distinct.length == rs.length)
    }
    val nEvents = graft.sources.Tables.events(spark, Sf0001).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == nEvents)
  }

  private def rolling(dir: String): Map[String, Long] =
    TimeSeries.rollingActive(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[Long]("n_active_7d")).toMap

  test("rollingActive: hand-computed trailing-7-day distinct users") {
    // user 1 active day 0; user 2 active days 0 and 8; user 3 active day 3.
    // Multiple same-day events must not double-count a user.
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, 1.0),
      (2L, 3600L * 1000000L, 1L, 1.0), // same user, same day: one active-day
      (3L, 0L, 2L, 1.0),
      (4L, 8 * Day, 2L, 1.0),
      (5L, 3 * Day, 3L, 1.0)))
    val g = rolling(dir)
    assert(g("2024-01-01") == 2L) // users 1,2 (day 0)
    assert(g("2024-01-04") == 3L) // + user 3 (day 3)
    assert(g("2024-01-07") == 3L) // day 0 still inside [d-6, d]
    assert(g("2024-01-08") == 1L) // day-0 activity aged out; only user 3
    assert(g("2024-01-09") == 2L) // user 2 returns on day 8; user 3 still in
    assert(g("2024-01-10") == 2L)
    // trailing windows extend 6 days past the last active day, then stop
    assert(g.contains("2024-01-15") && !g.contains("2024-01-16"))
  }

  test("latencyQuantiles: nearest-rank gap percentiles match a driver-side replay") {
    val ev = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gaps = ev.groupBy(_._1).values.flatMap { rows =>
      val ordered = rows.sortBy(e => (e._3, e._4))
      ordered.iterator.zip(ordered.iterator.drop(1)).map { case (a, b) =>
        (b._2, (b._3 - a._3) / 1000000L)
      }
    }.toSeq
    val expected = gaps.groupBy(_._1).map { case (t, gs) =>
      val sorted = gs.map(_._2).sorted
      def nr(q: Int) = sorted(((q * sorted.length + 99) / 100 - 1).max(0))
      t -> ((sorted.length.toLong, nr(50), nr(90), nr(99)))
    }
    val got = TimeSeries.latencyQuantiles(spark, Sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_gaps"), r.getAs[Long]("p50_s"),
          r.getAs[Long]("p90_s"), r.getAs[Long]("p99_s")))).toMap
    assert(got === expected)
    // ordering sanity: quantiles are monotone per type
    got.values.foreach { case (_, p50, p90, p99) =>
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("rollingActive: fixture matches the driver-side sliding-set replay") {
    val active = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "CAST(ts AS DATE) AS day").distinct().collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay))
    val expected = active.flatMap { case (u, d) => (0 until 7).map(i => (u, d + i)) }
      .distinct.groupBy(_._2).view.mapValues(_.length.toLong)
      .map { case (d, n) => java.time.LocalDate.ofEpochDay(d).toString -> n }.toMap
    assert(rolling(Sf0001) === expected)
  }

  private def ewma(dir: String): Map[Long, (Long, Long, Double)] =
    TimeSeries.tsEwma(spark, dir).collect().map { r =>
      r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"), r.getAs[Double]("ewma")))
    }.toMap

  test("tsEwma: hand-computed fold — seed, decay, user isolation, tie order") {
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, 10.0), // seed: e = v
      (2L, 10L, 1L, 20.0), // 0.5·20 + 0.5·10 = 15
      (3L, 20L, 1L, 4.0), // 0.5·4 + 0.5·15 = 9.5
      // user 2 independent; two events at the SAME µs fold in event_id order
      (4L, 0L, 2L, 8.0), (5L, 0L, 2L, 2.0)))
    val g = ewma(dir)
    assert(g(1L) == ((1L, base, 10.0)))
    assert(g(2L) == ((1L, base + 10L, 15.0)))
    assert(g(3L) == ((1L, base + 20L, 9.5)))
    assert(g(4L) == ((2L, base, 8.0)))
    assert(g(5L) == ((2L, base, 0.5 * 2.0 + 0.5 * 8.0)))
  }

  test("tsEwma: fixture matches a driver-side ordered-fold replay bit-for-bit") {
    val ev = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val ordered = rows.sortBy(e => (e._2, e._3))
      var e = 0.0; var first = true
      ordered.toSeq.map { case (_, us, id, v) =>
        e = if (first) { first = false; v }
            else TimeSeries.EwmaAlpha * v + (1.0 - TimeSeries.EwmaAlpha) * e
        id -> ((u, us, e))
      }
    }
    // exact == on doubles is deliberate: the fold is order-pinned, so the
    // distributed result must be bit-identical to the sequential replay
    assert(ewma(Sf0001) == expected)
  }
}
