package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.streaming.EventStreams

/** Batch/streaming parity: a streaming query over the bounded events fixture
  * must produce exactly the batch answer (same grouping, same columns).
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  /** The file streaming source lists a DIRECTORY; the fixture is a single
    * parquet file, so stage it into a temp dir (read-only testdata stays
    * untouched).
    */
  private lazy val eventsPath: String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = scratchDir("events-stream")
    Files.copy(Paths.get(s"$Sf0001/events.parquet"),
      d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Double, Double)] =
    df.collect().map(r => (
      r.getAs[Long]("wstart"), r.getAs[String]("event_type"),
      r.getAs[Long]("n_events"), r.getAs[Double]("min_value"),
      r.getAs[Double]("max_value"))).toSet

  test("streaming windowed counts == batch q15_events_window") {
    val streamed = EventStreams.runToMemory(
      spark,
      EventStreams.windowedCounts(EventStreams.readEvents(spark, eventsPath, Sf0001)),
      "win_parity")
    val batch = Relational.q15EventsWindow(spark, Sf0001)
    assert(rowsOf(streamed) == rowsOf(batch))
    assert(rowsOf(streamed).nonEmpty)
  }

  test("a twin's second run compiles no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.{DataFrame, SparkSession}
    // JVM-global counter, one tick per compiled class; suites run one at a
    // time, so only this test compiles between the two reads
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // the three near-dup twins share one keyed-state driver, whose state
    // projection must be the same code on every run
    val twins = Seq[(String, (SparkSession, String) => DataFrame)](
      "q25_stream_window" -> EventStreams.windowedCountsQuery,
      "q36_stream_neardup" -> EventStreams.nearDupQuery,
      "q50_stream_embed_neardup" -> EventStreams.embedNearDupQuery,
      "q56_stream_image_phash" -> EventStreams.imagePhashQuery)
    twins.foreach { case (name, query) =>
      query(spark, Sf0001).collect()
      val before = compiled
      val rows = query(spark, Sf0001).collect()
      val fresh = compiled - before
      assert(rows.nonEmpty, name)
      assert(fresh == 0, s"the second run of $name compiled $fresh classes")
    }
  }

  test("the artifact-isolation conf is restored after a run, a failed build and a failed stream") {
    import org.apache.spark.sql.functions.{col, udf}
    import graft.streaming.Streams.IsolationConf
    def state: Option[String] = spark.conf.getAll.get(IsolationConf)
    val boom = udf { (l: Long) =>
      if (l >= 0L) throw new RuntimeException("mid-stream boom"); true
    }
    for (prior <- Seq(None, Some("true"))) {
      prior.fold(spark.conf.unset(IsolationConf))(spark.conf.set(IsolationConf, _))
      try {
        EventStreams.windowedCountsQuery(spark, Sf0001).collect()
        assert(state == prior, "isolation conf changed by a run")
        intercept[IllegalStateException] {
          EventStreams.runStagedViaFiles(spark, Sf0001, "iso-build",
            _ => throw new IllegalStateException("build boom"))
        }
        assert(state == prior, "isolation conf changed by a failed build")
        intercept[Exception] {
          EventStreams.runStagedViaFiles(spark, Sf0001, "iso-stream", staged =>
            EventStreams.windowedCounts(EventStreams.readEvents(spark, staged, Sf0001)
              .filter(boom(col("user_id")))))
        }
        assert(state == prior, "isolation conf changed by a failed stream")
      } finally spark.conf.unset(IsolationConf)
    }
  }

  test("incremental dedup: streaming first-seen set == batch exact dedup") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = scratchDir("docs-stream")
    Files.copy(Paths.get(s"$Sf0001/documents.parquet"),
      d.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docStream = spark.readStream
      .schema(graft.sources.Tables.documents(spark, Sf0001).schema)
      .parquet(d.toString)
    val out = EventStreams.runToMemory(
      spark,
      EventStreams.incrementalDedup(docStream).toDF("fp", "keep_id"),
      "dedup_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = out.collect()
      .map(r => r.getAs[String]("fp") -> r.getAs[Long]("keep_id")).toMap
    val batch = graft.operators.Dedup.exact(spark, Sf0001).collect()
      .map(r => r.getAs[String]("fp") -> r.getAs[Long]("keep_id")).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermark drops events later than 2h behind the max seen time") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t0 = 1700000000000L // fixed epoch millis, aligned off-hour
    def ts(offsetH: Double): Timestamp = new Timestamp(t0 + (offsetH * 3600_000L).toLong)
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = EventStreams.windowedCounts(
        input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(0), "ok", 1.0), (ts(8), "ok", 2.0)) // watermark -> t(8) - 2h
      q.processAllAvailable()
      input.addData((ts(1), "late", 9.0)) // 5h behind the watermark: dropped
      q.processAllAvailable()
      input.addData((ts(20), "ok", 3.0)) // advance watermark, close windows
      q.processAllAvailable()
      val types = s.table("late_test").select("event_type")
        .collect().map(_.getString(0)).toSet
      assert(types.contains("ok"))
      assert(!types.contains("late"),
        "an event 5h behind the watermark leaked into the windowed output")
    } finally q.stop()
  }

  test("incremental near-dup: streaming LSH pair set == batch minhash pairs") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = scratchDir("neardup-stream")
    Files.copy(Paths.get(s"$Sf0001/documents.parquet"),
      d.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docStream = spark.readStream
      .schema(graft.sources.Tables.documents(spark, Sf0001).schema)
      .parquet(d.toString)
    val out = EventStreams.runToMemory(
      spark,
      EventStreams.incrementalNearDup(docStream).toDF("doc1", "doc2", "jaccard"),
      "neardup_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    // at-least-once across bands -> distinct; then exact equality with the
    // batch LSH+exact-verify path (same banding, same verification)
    val streamed = out.select("doc1", "doc2").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.minhash(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    TransientCache.releaseAll(spark)
  }

  test("incremental EMBED near-dup: streaming pair set == batch embedNearDup") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = scratchDir("embed-neardup-stream")
    Files.copy(Paths.get(s"$Sf0001/embeddings.parquet"),
      d.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val nbits = graft.operators.Ann.nbitsFor(
      graft.sources.Tables.embeddings(spark, Sf0001).count())
    val vecStream = spark.readStream
      .schema(graft.sources.Tables.embeddings(spark, Sf0001).schema)
      .parquet(d.toString)
    val out = EventStreams.runToMemory(
      spark,
      EventStreams.incrementalEmbedNearDup(vecStream, nbits = nbits)
        .toDF("id1", "id2", "cos"),
      "embed_neardup_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = out.select("id1", "id2").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Ann.embedNearDup(spark, Sf0001, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    TransientCache.releaseAll(spark)
  }

  test("incremental IMAGE phash: streaming pair set == batch imagePhashPairs") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = scratchDir("phash-stream")
    Files.copy(Paths.get(s"$Sf0001/documents.parquet"),
      d.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docStream = spark.readStream
      .schema(graft.sources.Tables.documents(spark, Sf0001).schema)
      .parquet(d.toString)
    val out = EventStreams.runToMemory(
      spark,
      EventStreams.incrementalImagePhash(docStream)
        .toDF("asset1", "asset2", "hamming"),
      "phash_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    // at-least-once across bands -> distinct; hamming rides the compare so
    // VALUES are pinned too, not just the pair set
    val streamed = out.distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = graft.operators.Multimodal.imagePhashPairs(spark, Sf0001)
      .collect().map(r => (r.getAs[Long]("asset1"), r.getAs[Long]("asset2"),
        r.getAs[Int]("hamming"))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    TransientCache.releaseAll(spark)
  }

  /** One modality's script for [[runLifecycle]]: arrivals that fill a
    * cap-3 bucket, the pairs they must emit, a 4th member, and re-arrivals
    * after the bucket is poisoned.
    */
  private case class Lifecycle[D](name: String, score: (D, D) => Double, threshold: Double,
      fill: Seq[Seq[(Long, D)]], pairs: Set[(Long, Long)], scoreOk: Double => Boolean,
      overflow: (Long, D), rearrive: Seq[(Long, D)])

  private def runLifecycle[D](c: Lifecycle[D]): Unit = {
    import EventStreams.{advanceBucket, BucketState}
    def step(timedOut: Boolean, in: Seq[(Long, D)], st: Option[BucketState[D]]) =
      advanceBucket(timedOut, in, st, c.score, c.threshold, maxBucket = 3)
    val tombstone = Some(BucketState[D](overCap = true, Nil))
    var live: Option[BucketState[D]] = None
    val out = c.fill.flatMap { in =>
      val (next, o) = step(timedOut = false, in, live)
      live = next
      o
    }
    assert(out.map(p => (p._1, p._2)).toSet == c.pairs && out.size == c.pairs.size, c.name)
    assert(out.forall(p => c.scoreOk(p._3)), s"${c.name}: $out")
    assert(live.exists(st => !st.overCap && st.docs.size == 3), c.name)
    // a cold live bucket: the timeout removes its state entirely
    assert(step(timedOut = true, Nil, live) == ((None, Nil)), c.name)
    // the 4th member trips the cap: poison, history freed, no emission
    val (poisoned, out2) = step(timedOut = false, Seq(c.overflow), live)
    assert(out2.isEmpty && poisoned == tombstone, c.name)
    // the timeout keeps the tombstone, and re-arrivals stay silent
    assert(step(timedOut = true, Nil, poisoned) == ((tombstone, Nil)), c.name)
    assert(step(timedOut = false, c.rearrive, poisoned) == ((tombstone, Nil)),
      s"${c.name}: a poisoned bucket emitted again after a timeout")
  }

  // one table, one driver: each modality's score runs the same lifecycle
  // script through the one advanceBucket[D]
  private val lifecycles: Seq[Lifecycle[_]] = {
    import EventStreams.{cosineScore, jaccardScore, phashScore}
    def vec(id: Long, v: Double*) = {
      var n = 0.0; v.foreach(x => n += x * x)
      (id, (v.toArray, math.sqrt(n)))
    }
    val hs = Array(1L, 2L, 3L)
    // hamming(0, 3) = 2, hamming(0, -1) = 64 (complement)
    Seq[Lifecycle[_]](
      Lifecycle[Array[Long]]("advanceBucket lifecycle: emit under cap, poison at cap+1, silent ever after",
        jaccardScore, 0.5,
        fill = Seq(Seq(1L -> hs, 2L -> hs, 3L -> hs)),
        pairs = Set((1L, 2L), (1L, 3L), (2L, 3L)), scoreOk = _ == 1.0,
        overflow = 4L -> hs, rearrive = Seq(5L -> hs, 6L -> hs)),
      Lifecycle[(Array[Double], Double)](
        "advanceEmbedBucket lifecycle: cosine verify, poison at cap, TTL keeps poison",
        cosineScore, 0.9,
        // b is cos ~ 1 with a, c orthogonal to a
        fill = Seq(Seq(vec(1L, 1.0, 0.0), vec(2L, 1.0, 0.001), vec(3L, 0.0, 1.0))),
        pairs = Set((1L, 2L)), scoreOk = _ > 0.99,
        overflow = vec(4L, 1.0, 0.0), rearrive = Seq(vec(1L, 1.0, 0.0), vec(2L, 1.0, 0.001))),
      Lifecycle[Long]("advancePhashBucket lifecycle: hamming verify, poison at cap, tombstone persists",
        phashScore, (64 - 10).toDouble,
        // arrivals pair against HISTORY only: 3 is too far from both
        fill = Seq(Seq(1L -> 0L), Seq(2L -> 3L, 3L -> -1L)),
        pairs = Set((1L, 2L)), scoreOk = sim => 64 - sim.toInt == 2,
        overflow = 4L -> 0L, rearrive = Seq(5L -> 0L, 6L -> 3L)))
  }

  lifecycles.foreach(c => test(c.name)(runLifecycle(c)))

  test("advanceBucket: TTL eviction drops history but preserves poison") {
    import EventStreams.{advanceBucket, jaccardScore, BucketState}
    val hs = Array(1L, 2L, 3L)
    def step(timedOut: Boolean, in: Seq[(Long, Array[Long])], st: BucketState[Array[Long]]) =
      advanceBucket(timedOut, in, Some(st), jaccardScore, 0.5, maxBucket = 3)
    val tombstone = BucketState[Array[Long]](overCap = true, Nil)
    // cold NON-poisoned bucket: timeout removes the state entirely
    assert(step(timedOut = true, Nil, BucketState(overCap = false, List(7L -> hs))) == ((None, Nil)))
    // poisoned bucket: timeout keeps an O(1) tombstone, emits nothing
    assert(step(timedOut = true, Nil, tombstone) == ((Some(tombstone), Nil)))
    // re-arrival against the tombstone stays silent and stays poisoned —
    // the exact sequence that resurrected a bucket before the fix
    assert(step(timedOut = false, Seq(8L -> hs, 9L -> hs), tombstone) == ((Some(tombstone), Nil)))
  }

  test("near-dup hot-bucket cap: over-cap bucket is poisoned and stops emitting") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // identical texts -> identical band keys in all 16 bands -> one logical
    // bucket per band; cap 3 means doc 4 trips the poison
    val text = "the same boilerplate text repeated across every document here"
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.incrementalNearDup(
        input.toDF().toDF("doc_id", "text"), maxBucket = 3)
      .toDF("doc1", "doc2", "jaccard")
      .writeStream.format("memory").queryName("hotbucket_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, text), (2L, text), (3L, text))
      q.processAllAvailable()
      input.addData((4L, text), (5L, text)) // doc 4 poisons the bucket
      q.processAllAvailable()
      input.addData((6L, text)) // poison persists across batches
      q.processAllAvailable()
      val pairs = s.table("hotbucket_test").select("doc1", "doc2").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
        "only pre-cap pairs may emit; a poisoned bucket must stay silent")
    } finally q.stop()
  }

  test("near-dup poison counter: one accumulator tick per poisoned bucket") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // identical texts share one logical bucket per band, so poisoning them
    // all ticks the counter exactly once per band
    val text = "monitoring hook boilerplate text shared by every document here"
    val acc = s.sparkContext.longAccumulator("graft.neardup.poisonedBuckets")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.incrementalNearDup(
        input.toDF().toDF("doc_id", "text"), maxBucket = 2,
        poisonedBuckets = Some(acc))
      .toDF("doc1", "doc2", "jaccard")
      .writeStream.format("memory").queryName("poison_counter_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, text), (2L, text))
      q.processAllAvailable()
      assert(acc.value == 0L, "no bucket is over cap yet")
      input.addData((3L, text)) // trips cap 2 in every band's bucket
      q.processAllAvailable()
      assert(acc.value == graft.operators.Dedup.Bands.toLong)
      input.addData((4L, text)) // already-poisoned buckets must not re-tick
      q.processAllAvailable()
      assert(acc.value == graft.operators.Dedup.Bands.toLong)
    } finally q.stop()
  }

  test("near-dup TTL: poisoned bucket stays silent across a real timeout eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val text = "identical boilerplate doc shared by every arrival in this test"
    val input = MemoryStream[(Long, String)]
    // NOTE: no processAllAvailable anywhere here — with ProcessingTimeTimeout
    // the engine keeps running timeout-firing empty batches, so that call
    // never observes a settled "no new data" state and hangs. The continuous
    // default trigger processes added data on its own; observe the SINK with
    // a bounded poll instead.
    val q = EventStreams.incrementalNearDup(
        input.toDF().toDF("doc_id", "text"),
        idleTimeout = Some("1 second"), maxBucket = 2)
      .toDF("doc1", "doc2", "jaccard")
      .writeStream.format("memory").queryName("ttl_poison_test")
      .outputMode(OutputMode.Append()).start()
    def pairs(): Set[(Long, Long)] =
      s.table("ttl_poison_test").select("doc1", "doc2").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def pollUntil(deadlineMs: Long)(cond: => Boolean): Boolean = {
      val end = System.currentTimeMillis() + deadlineMs
      while (!cond && System.currentTimeMillis() < end) Thread.sleep(100)
      cond
    }
    try {
      input.addData((1L, text), (2L, text), (3L, text)) // doc 3 poisons (cap 2)
      assert(pollUntil(30000)(pairs() == Set((1L, 2L))),
        s"pre-cap pair did not arrive: ${pairs()}")
      // idle past the 1s TTL: the eviction fires in one of the continuously
      // running batches; the tombstone (not the removal the bug did) must
      // survive it
      Thread.sleep(3000)
      input.addData((4L, text), (5L, text)) // would re-fill + emit if poison was lost
      // bounded settle window: with the bug, (4,5) lands well within this
      val resurrected = pollUntil(5000)(pairs() != Set((1L, 2L)))
      assert(!resurrected,
        s"only the single pre-cap pair may ever emit; TTL must not clear the poison: ${pairs()}")
    } finally q.stop()
  }

  test("near-dup state survives on the RocksDB state store (100 TB state path)") {
    // the default HDFSBackedStateStore keeps every bucket's state on the
    // executor heap — at crawl scale that's the first thing to fall over.
    // RocksDB (bundled with Spark 4) spills state off-heap/on-disk with the
    // same exactly-once semantics; pin that the LSH operator produces the
    // identical pair set under it, so flipping the provider is a pure conf
    // change at deploy time
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val text = Vector(
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "completely different content with no shared shingles at all here")
      val input = MemoryStream[(Long, String)]
      val q = EventStreams.incrementalNearDup(input.toDF().toDF("doc_id", "text"))
        .toDF("doc1", "doc2", "jaccard")
        .writeStream.format("memory").queryName("rocksdb_neardup")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData((1L, text(0)), (3L, text(2)))
        q.processAllAvailable() // state persists ACROSS batches in RocksDB
        input.addData((2L, text(1)))
        q.processAllAvailable()
        val pairs = s.table("rocksdb_neardup").select("doc1", "doc2").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(pairs == Set((1L, 2L)),
          "cross-batch near-dup pair must surface from RocksDB-backed state")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming drift twin: q57 table equals batch drift_psi row-for-row") {
    // one AvailableNow pass over the bounded second half ⇒ the streamed
    // current-window histogram equals the batch one, so the full PSI tables
    // must agree exactly (same deciles, same counts, same contributions)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("bin"), Option(r.get(1)), Option(r.get(2)),
        r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
        r.getAs[Double]("psi_contrib4"))).toSet
    val streamed = rows(EventStreams.streamDriftQuery(spark, Sf0001))
    val batch = rows(graft.operators.Profile.driftPsi(spark, Sf0001))
    assert(streamed === batch)
    assert(streamed.size == 10)
    // non-vacuous: both halves counted something
    assert(streamed.exists(_._4 > 0) && streamed.exists(_._5 > 0))
    TransientCache.releaseAll(spark)
  }

  test("streaming anomaly twin: q58 table equals batch anomaly_days row-for-row") {
    // the epoch-aligned 1-day streaming windows bucket exactly like the
    // batch DIV, and one AvailableNow pass maintains the identical daily
    // counts, so the flagged (user, day, cnt) sets must agree exactly
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day"),
        r.getAs[Long]("cnt"))).toSet
    val streamed = rows(EventStreams.streamAnomalyQuery(spark, Sf0001))
    val batch = rows(graft.operators.Behavior.anomalyDays(spark, Sf0001))
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must flag at least one anomalous day")
  }

  test("streaming CDC twin: q59 snapshot equals batch cdc_apply row-for-row") {
    // struct max is order-free, so one AvailableNow pass folds the staged
    // log into the same per-key last-writer rows as the batch groupBy
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
        r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("value_cents"))).toSet
    val streamed = rows(EventStreams.streamCdcQuery(spark, Sf0001))
    val batch = rows(graft.operators.Behavior.cdcApply(spark, Sf0001))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming heavy-hitters twin: q60 table equals batch heavy_hitters row-for-row") {
    // the per-bucket MG counter state yields a candidate SUPERSET of every
    // token the batch per-partition sketches surface above the floor; the
    // shared exact-recount tail then makes both answers the same table
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("cnt"),
        r.getAs[Int]("rank"))).toSet
    val streamed = rows(EventStreams.streamHeavyQuery(spark, Sf0001))
    val batch = rows(graft.operators.Corpus.heavyHitters(spark, Sf0001))
    assert(streamed === batch)
    assert(streamed.size == graft.operators.Corpus.HhTopK)
    TransientCache.releaseAll(spark)
  }

  test("streaming rolling actives: bounded pass equals the batch inverted-window answer") {
    import org.apache.spark.sql.streaming.OutputMode
    val streamed = EventStreams.runToMemory(
      spark,
      EventStreams.streamingRollingActive(EventStreams.readEvents(spark, eventsPath, Sf0001)),
      "rolling_stream", OutputMode.Complete())
      .collect().map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[Long]("n_active_7d")).toMap
    val batch = graft.operators.TimeSeries.rollingActive(spark, Sf0001)
      .collect().map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[Long]("n_active_7d")).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming rolling actives: a later batch never re-emits covered days") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val day0 = 1704067200000L // 2024-01-01 UTC midnight, epoch millis
    def ts(day: Int): Timestamp = new Timestamp(day0 + day * 86400000L)
    val input = MemoryStream[(Timestamp, Long)]
    val q = EventStreams.streamingRollingActive(
        input.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("rolling_two_batch")
      .outputMode(OutputMode.Complete()).start()
    def counts(): Map[String, Long] = s.table("rolling_two_batch").collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[Long]("n_active_7d")).toMap
    try {
      // batch 1: users 1 and 2 active on day 0 (user 1 twice — one cover)
      input.addData((ts(0), 1L), (ts(0), 1L), (ts(0), 2L))
      q.processAllAvailable()
      val c1 = counts()
      (0 to 6).foreach(d => assert(c1(s"2024-01-0${d + 1}") == 2L))
      assert(c1.size == 7)
      // batch 2: user 1 re-sends day 0 (fully covered — no effect) and adds
      // day 3, whose cover 3..9 contributes only the fresh days 7..9
      input.addData((ts(0), 1L), (ts(3), 1L))
      q.processAllAvailable()
      val c2 = counts()
      (0 to 6).foreach(d => assert(c2(s"2024-01-0${d + 1}") == 2L,
        "already-covered days must not double-count"))
      (7 to 9).foreach(d => assert(c2(s"2024-01-${"%02d".format(d + 1)}") == 1L))
      assert(c2.size == 10)
    } finally q.stop()
  }

  test("streaming debounce: bounded pass keeps exactly the batch anchor chain") {
    import org.apache.spark.sql.streaming.OutputMode
    val streamed = EventStreams.runToMemory(
      spark,
      EventStreams.streamingDebounce(EventStreams.readEvents(spark, eventsPath, Sf0001),
        graft.operators.Behavior.GateDebounceUs)
        .toDF("user_id", "event_type", "event_id", "ts_us"),
      "debounce_stream", OutputMode.Append())
      .collect().map(_.getAs[Long]("event_id")).toSet
    val batch = graft.operators.Behavior
      .debounce(spark, Sf0001, graft.operators.Behavior.GateDebounceUs)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming debounce: the anchor survives batches — later duplicates stay suppressed") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t0 = 1704067200000L
    def ts(sec: Long): Timestamp = new Timestamp(t0 + sec * 1000L)
    val input = MemoryStream[(Timestamp, Long, String, Long)]
    val q = EventStreams.streamingDebounce(
        input.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        graft.operators.Behavior.DebounceUs)
      .toDF("user_id", "event_type", "event_id", "ts_us")
      .writeStream.format("memory").queryName("debounce_two_batch")
      .outputMode(OutputMode.Append()).start()
    def kept(): Set[Long] = s.table("debounce_two_batch").collect()
      .map(_.getAs[Long]("event_id")).toSet
    try {
      // batch 1 arrives unordered: events at t=2s (id 2) and t=0 (id 1) —
      // the within-batch sort must anchor at id 1 and suppress id 2
      input.addData((ts(2), 1L, "click", 2L), (ts(0), 1L, "click", 1L))
      q.processAllAvailable()
      assert(kept() == Set(1L))
      // batch 2: t=4s is still within 5s of the batch-1 anchor (t=0) —
      // suppressed only if the anchor persisted; t=6s starts a new anchor
      input.addData((ts(4), 1L, "click", 3L), (ts(6), 1L, "click", 4L))
      q.processAllAvailable()
      assert(kept() == Set(1L, 4L))
    } finally q.stop()
  }

  test("streaming attribution: bounded pass equals the batch last-touch answer") {
    import org.apache.spark.sql.streaming.OutputMode
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("purchase_id") ->
        ((Option(r.getAs[java.lang.Long]("click_id")).map(_.longValue()),
          Option(r.getAs[java.lang.Long]("latency_us")).map(_.longValue())))
    val streamed = EventStreams.runToMemory(
      spark,
      EventStreams.streamingAttribution(EventStreams.readEvents(spark, eventsPath, Sf0001))
        .toDF("user_id", "purchase_id", "purchase_us", "click_id", "latency_us"),
      "attrib_stream", OutputMode.Append())
      .collect().map(key).toMap
    val batch = graft.operators.Behavior.attribution(spark, Sf0001)
      .collect().map(key).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming attribution: the click register persists across batches") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t0 = 1704067200000L
    def ts(sec: Long): Timestamp = new Timestamp(t0 + sec * 1000L)
    val input = MemoryStream[(Timestamp, Long, String, Long)]
    val q = EventStreams.streamingAttribution(
        input.toDF().toDF("ts", "user_id", "event_type", "event_id"))
      .toDF("user_id", "purchase_id", "purchase_us", "click_id", "latency_us")
      .writeStream.format("memory").queryName("attrib_two_batch")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(0), 1L, "click", 1L))
      q.processAllAvailable()
      // batch 2's purchase must see batch 1's click through state
      input.addData((ts(30), 1L, "purchase", 2L))
      q.processAllAvailable()
      val rows = s.table("attrib_two_batch").collect()
        .map(r => r.getAs[Long]("purchase_id") ->
          Option(r.getAs[java.lang.Long]("click_id")).map(_.longValue())).toMap
      assert(rows == Map(2L -> Some(1L)))
    } finally q.stop()
  }

  test("sessionize: stateful per-user aggregates match batch totals") {
    import org.apache.spark.sql.streaming.OutputMode
    val sessions = EventStreams.runToMemory(
      spark,
      EventStreams.sessionize(EventStreams.readEvents(spark, eventsPath, Sf0001)).toDF(),
      "sessions", OutputMode.Update())
    // one availableNow batch over one file -> one update per active user
    val perUser = sessions.collect()
      .map(r => r.getAs[Long]("userId") -> r.getAs[Long]("nEvents")).toMap
    val batch = graft.sources.Tables.events(spark, Sf0001)
      .groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    assert(perUser == batch)
    assert(perUser.values.sum == graft.sources.Tables.events(spark, Sf0001).count())
  }

  test("stream-stream join: bounded pass equals the batch interval join") {
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    val streamed = EventStreams.runToMemory(
      spark,
      EventStreams.streamJoin(
        EventStreams.readEvents(spark, eventsPath, Sf0001),
        EventStreams.readEvents(spark, eventsPath, Sf0001)),
      "join_stream", OutputMode.Append())
      .collect().map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("gap_us"))).toSet
    val ev = graft.sources.Tables.events(spark, Sf0001)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("cus"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("pus"))
    val batch = c.join(p, col("cu") === col("pu") && col("pus") >= col("cus") &&
        col("pus") - col("cus") <= expr("3600000000"))
      .select(col("click_id"), col("purchase_id"), (col("pus") - col("cus")).as("gap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // (multi-click fan-out — the rows last-touch attribution deliberately
    // collapses — is pinned by the planted two-batch case below; the
    // sf0.001 fixture happens to have at most one in-window click per
    // purchase)
  }

  test("stream-stream join: clicks buffered in state match purchases from a later batch") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t0 = 1704067200000L
    def ts(sec: Long): Timestamp = new Timestamp(t0 + sec * 1000L)
    val clicks = MemoryStream[(Timestamp, Long, String, Long)]
    val purchases = MemoryStream[(Timestamp, Long, String, Long)]
    def named(m: MemoryStream[(Timestamp, Long, String, Long)]) =
      m.toDF().toDF("ts", "user_id", "event_type", "event_id")
    val q = EventStreams.streamJoin(named(clicks), named(purchases))
      .writeStream.format("memory").queryName("join_two_batch")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two clicks, no purchases yet — rows must wait in state
      clicks.addData((ts(0), 1L, "click", 1L), (ts(60), 1L, "click", 2L))
      purchases.addData()
      q.processAllAvailable()
      assert(s.table("join_two_batch").count() == 0)
      // batch 2: one purchase inside both windows, one outside the hour
      purchases.addData((ts(120), 1L, "purchase", 3L), (ts(3650), 1L, "purchase", 4L))
      q.processAllAvailable()
      val rows = s.table("join_two_batch").collect()
        .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
      // purchase 3 joins clicks 1 and 2; purchase 4 (t=3650s) is > 1 h
      // after click 1 (t=0) but within the hour of click 2 (t=60)
      assert(rows == Set((1L, 3L), (2L, 3L), (2L, 4L)))
    } finally q.stop()
  }

  test("transformWithState debounce == fMGWS debounce (modern state API parity)") {
    // Same anchor semantics through Spark 4's StatefulProcessor (typed
    // named ValueState + per-state TTL config) — requires RocksDB, the
    // provider the 100 TB state path uses anyway
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = 1704067200000L
      def ts(sec: Long): Timestamp = new Timestamp(t0 + sec * 1000L)
      val input = MemoryStream[(Timestamp, Long, String, Long)]
      val q = EventStreams.streamingDebounceTws(
          input.toDF().toDF("ts", "user_id", "event_type", "event_id"),
          graft.operators.Behavior.DebounceUs)
        .toDF("user_id", "event_type", "event_id", "ts_us")
        .writeStream.format("memory").queryName("debounce_tws")
        .outputMode(OutputMode.Append()).start()
      def kept(): Set[Long] = s.table("debounce_tws").collect()
        .map(_.getAs[Long]("event_id")).toSet
      try {
        // the same two-batch script as the fMGWS case above — unordered
        // within-batch arrival, anchor persisting across batches
        input.addData((ts(2), 1L, "click", 2L), (ts(0), 1L, "click", 1L))
        q.processAllAvailable()
        assert(kept() == Set(1L))
        input.addData((ts(4), 1L, "click", 3L), (ts(6), 1L, "click", 4L))
        q.processAllAvailable()
        assert(kept() == Set(1L, 4L))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming debounce: anchors recover from the CHECKPOINT across a query restart") {
    // The production restart path: the first query is STOPPED (process
    // gone, in-memory state lost) and a new query resumes from the same
    // checkpoint — suppression in batch 2 can only come from state
    // restored off disk. Distinct from the two-batch case above, where
    // one running query carries its state in memory.
    import java.nio.file.Files
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ckpt = scratchDir("debounce-ckpt").toString
    val outDir = scratchDir("debounce-restart-out").toString
    val t0 = 1704067200000L
    def ts(sec: Long): Timestamp = new Timestamp(t0 + sec * 1000L)
    val input = MemoryStream[(Timestamp, Long, String, Long)]
    def start() = EventStreams.streamingDebounce(
        input.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        graft.operators.Behavior.DebounceUs)
      .toDF("user_id", "event_type", "event_id", "ts_us")
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()
    val q1 = start()
    try {
      input.addData((ts(0), 1L, "click", 1L)) // kept: the anchor
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // t=4s: inside the 5s window of the RESTORED anchor — suppressed;
      // t=6s: outside — kept, re-anchors
      input.addData((ts(4), 1L, "click", 2L), (ts(6), 1L, "click", 3L))
      q2.processAllAvailable()
    } finally q2.stop()
    val kept = s.read.parquet(outDir).collect().map(_.getAs[Long]("event_id")).toSet
    assert(kept == Set(1L, 3L))
  }

  test("stream-stream LEFT OUTER join: null rows emit only after the watermark closes the window") {
    // The semantics the inner-join gate can't show: an unmatched left row
    // is NOT emitted when it arrives (a match may still come) — it emits
    // with nulls only once the watermark proves no on-time match can
    // exist. A later batch must advance the event-time watermark past the
    // click's join window + delay for the null row to flush.
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t0 = 1704067200000L
    def ts(sec: Long): Timestamp = new Timestamp(t0 + sec * 1000L)
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val c = clicks.toDF().toDF("click_ts", "c_user", "click_id")
      .withWatermark("click_ts", "10 seconds")
    val p = purchases.toDF().toDF("purchase_ts", "p_user", "purchase_id")
      .withWatermark("purchase_ts", "10 seconds")
    val joined = c.join(p,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 MINUTE"),
      "left_outer")
    val q = joined
      .select(col("click_id"), col("purchase_id"))
      .writeStream.format("memory").queryName("outer_join_stream")
      .outputMode(OutputMode.Append()).start()
    def rows(): Set[(Long, Option[Long])] =
      s.table("outer_join_stream").collect()
        .map(r => r.getAs[Long]("click_id") ->
          Option(r.getAs[java.lang.Long]("purchase_id")).map(_.longValue())).toSet
    try {
      // batch 1: click 1 matches nothing yet, click 2 matches purchase 20
      clicks.addData((ts(0), 1L, 1L), (ts(5), 2L, 2L))
      purchases.addData((ts(10), 2L, 20L))
      q.processAllAvailable()
      // the matched row emits immediately; the unmatched click does NOT
      assert(rows() == Set(2L -> Some(20L)))
      // batch 2: late-horizon traffic far past click 1's window (60s) +
      // watermark delay (10s) — the watermark advances and flushes the
      // null row for click 1
      clicks.addData((ts(500), 9L, 9L))
      purchases.addData((ts(500), 8L, 80L))
      q.processAllAvailable()
      // one more empty pass lets the state-eviction batch run if the
      // engine deferred it
      clicks.addData(); purchases.addData()
      q.processAllAvailable()
      assert(rows().contains(1L -> None))
      assert(!rows().contains(1L -> Some(20L)))
    } finally q.stop()
  }

  test("stream-static enrich: every streamed event carries its batch dim row") {
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.functions.col
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getAs[Long]("event_id") ->
        ((r.getAs[String]("mktsegment"), r.getAs[String]("nation")))
    }.toMap
    val streamed = key(EventStreams.runToMemory(
      spark,
      EventStreams.streamEnrich(EventStreams.readEvents(spark, eventsPath, Sf0001), Sf0001),
      "enrich_stream", OutputMode.Append()))
    val cust = graft.sources.Tables.customer(spark, Sf0001)
    val nat = graft.sources.Tables.nation(spark, Sf0001)
    val batch = key(graft.sources.Tables.events(spark, Sf0001)
      .join(cust, col("user_id") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("c_mktsegment").as("mktsegment"),
        col("n_name").as("nation")))
    assert(streamed == batch)
    // stateless join: nothing dropped — one output row per event
    assert(streamed.size == graft.sources.Tables.events(spark, Sf0001).count())
  }

  test("dropDuplicatesWithinWatermark: cross-batch duplicate inside the horizon suppressed") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t0 = 1700000000000L
    def ts(ms: Long) = new Timestamp(t0 + ms)
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.dedupWithinWatermark(
        input.toDF().toDF("ts", "user_id", "event_type"))
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(0), 1L, "click"))
      q.processAllAvailable()
      // same key again in a LATER batch, 10 min on — still inside the 2 h
      // horizon, so the operator's cross-batch state must suppress it
      input.addData((ts(600_000L), 1L, "click"), (ts(600_000L), 2L, "view"))
      q.processAllAvailable()
      val got = s.table("wm_dedup").collect()
        .map(r => (r.getLong(0), r.getString(1))).toList
      assert(got.sorted == List((1L, "click"), (2L, "view")))
    } finally q.stop()
  }

  test("chained window rollup: end == watermark EMITS (oracle boundary pinned)") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val hour0 = 1700000000000L / 3600_000L * 3600_000L
    def ts(ms: Long): Timestamp = new Timestamp(ms)
    val input = MemoryStream[(Timestamp, String)]
    val q = EventStreams.windowRollup(input.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("rollup_boundary")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(hour0 + 5 * 60_000L), "a"))
      q.processAllAvailable()
      // watermark after this batch = (hour0 + 3 h) − 2 h = hour0 + 1 h,
      // EXACTLY the end of level-2 window [hour0, hour0+1h). The q48
      // oracle's `window_end <= watermark` HAVING clause assumes equality
      // emits — this is the case that keeps that assumption honest.
      input.addData((ts(hour0 + 3 * 3600_000L), "a"))
      q.processAllAvailable()
      input.addData((ts(hour0 + 3 * 3600_000L + 1), "a")) // cascade flush batch
      q.processAllAvailable()
      val atBoundary = s.table("rollup_boundary")
        .filter(s"wstart = ${hour0 / 1000L}").collect()
      assert(atBoundary.length == 1, "window whose end equals the watermark must emit")
      val r = atBoundary.head
      assert(r.getAs[Long]("n_events") == 1L && r.getAs[Long]("n_subwindows") == 1L)
    } finally q.stop()
  }
}
