package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

import scala.reflect.runtime.universe.{typeOf, TypeTag}

/** Structured Streaming over the `events` table shape (event_id, ts, user_id,
  * event_type, value, props).
  *
  * The reference is batch-only (SURVEY.md §2.3: no streaming anywhere), so
  * this is extension surface: the same declarative plans as the batch
  * operators, run incrementally with watermarks. The batch/streaming parity
  * contract — a streaming query over a static dataset produces exactly the
  * batch answer — is asserted in the test suite.
  *
  * 100 TB/day design notes: state is keyed by (window, event_type) or
  * user_id, so it shards across executors; the watermark bounds state size;
  * file sources at scale become Kafka sources with the SAME transform
  * (readStream is the only line that changes).
  */
object EventStreams {

  /** events schema (file streaming sources require an explicit schema),
    * parameterized on the fixture generation's `ts` type — nanos-as-long or
    * a (possibly NTZ) µs timestamp (see `graft.sources.Tables.events`).
    */
  def eventSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over `path` (`source`'s `events.parquet`, or a copy
    * of it), normalized to the same `ts` (µs TimestampType) + `ts_ns`
    * (epoch-nanos long) columns as the batch loader. Streaming sources
    * require the schema up front; `ts`'s type (the fixture generation)
    * comes from `Tables`' cached schema of the source file, so the stream
    * costs no schema-inference job.
    */
  def readEvents(s: SparkSession, path: String, source: String): DataFrame = {
    import org.apache.spark.sql.types.TimestampType
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = graft.sources.Tables.schema(s, source, "events")("ts").dataType
    val src = s.readStream.schema(eventSchema(tsType)).parquet(path)
    tsType match {
      case LongType =>
        src.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ =>
        src.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }

  /** Tumbling 1-hour windowed counts with a 2-hour watermark — the streaming
    * twin of `Relational.q15EventsWindow` (same grouping, same output
    * columns), tolerating 2 h of event-time disorder before state is evicted.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min("value").as("min_value"),
        max("value").as("max_value"))
      .select(
        unix_timestamp(col("w.start")).as("wstart"),
        col("event_type"), col("n_events"), col("min_value"), col("max_value"))

  /** Session state for [[sessionize]]. */
  case class SessionAgg(userId: Long, nEvents: Long, totalValue: Double, openSince: Long)

  /** Per-user running session aggregation via mapGroupsWithState — the
    * custom-state operator family (KeyValueGroupedDataset) the brief calls
    * for. Emits the current aggregate per user per micro-batch.
    *
    * `idleTimeout = Some(d)`: evict sessions idle for d (processing time) —
    * the production shape on an unbounded stream. `None`: no timeout — the
    * shape for bounded replays (with a processing-time timeout the engine
    * must keep running empty batches to fire evictions, so an AvailableNow
    * run would never terminate).
    */
  def sessionize(events: DataFrame, idleTimeout: Option[String] = None): Dataset[SessionAgg] = {
    val s = events.sparkSession
    import s.implicits._
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .select(col("user_id"), col("value"), unix_timestamp(col("ts")).as("ts_s"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf)(
        (user: Long, rows: Iterator[(Long, Double, Long)], state: GroupState[SessionAgg]) => {
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            out
          } else {
            val buf = rows.toSeq
            val prev = state.getOption.getOrElse(SessionAgg(user, 0L, 0.0, buf.map(_._3).min))
            val next = SessionAgg(
              user,
              prev.nEvents + buf.size,
              prev.totalValue + buf.map(_._2).sum,
              prev.openSince)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
        })
  }

  /** Incremental exact dedup over a document stream: state = "fingerprint
    * seen" per md5 key; only the FIRST arrival of each fingerprint is
    * emitted (with the min doc_id of its batch as the keeper). The
    * streaming twin of `Dedup.exact` — this is how a pipeline dedups a
    * rolling crawl without re-scanning history: state is sharded by
    * fingerprint and grows with the number of DISTINCT documents, not the
    * stream length.
    */
  def incrementalDedup(docs: DataFrame): Dataset[(String, Long)] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(md5(col("text")).as("fp"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (fp: String, rows: Iterator[(String, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single((fp, rows.map(_._2).min))
          })
  }

  /** Per-bucket state of a near-dup stream: the members seen (id, payload),
    * or a poisoned tombstone once the bucket exceeded the cap (history
    * cleared, nothing emits again). One class for every modality; `D` is
    * the payload its score reads.
    */
  case class BucketState[D](overCap: Boolean, docs: List[(Long, D)])

  /** One bucket's transition for one flatMapGroupsWithState invocation, as
    * a PURE function (so the timeout path, which a bounded replay cannot
    * exercise, is directly unit-testable): arrival dedup by id, each new
    * member scored against the bucket's history, poison at the cap.
    * Returns the next state (`None` = remove from the store) and the pairs
    * (min id, max id, score) whose score clears `threshold`.
    *
    * Timeout semantics: eviction frees a cold bucket's history, but POISON
    * survives. Dropping the `overCap` tombstone on a timeout would let the
    * bucket re-accumulate and emit pairs again, contradicting "never emits
    * again". The tombstone is O(1) (flag + empty history), so keeping it
    * for the process lifetime is the cheap side of that trade. In the wired
    * query the timed-out-while-poisoned branch is also DEFENSIVE: the driver
    * never arms a timeout on a tombstone, and a GroupState timeout must be
    * re-armed on every invocation or none is set, so a tombstone cannot
    * time out at all.
    */
  private[graft] def advanceBucket[D](
      timedOut: Boolean,
      arrivals: Seq[(Long, D)],
      prev: Option[BucketState[D]],
      score: (D, D) => Double,
      threshold: Double,
      maxBucket: Int): (Option[BucketState[D]], List[(Long, Long, Double)]) = {
    if (timedOut) {
      (prev.filter(_.overCap).map(_ => BucketState[D](overCap = true, Nil)), Nil)
    } else {
      var overCap = prev.exists(_.overCap)
      var docs = prev.fold(List.empty[(Long, D)])(_.docs)
      val out = List.newBuilder[(Long, Long, Double)]
      arrivals.foreach { case (id, d) =>
        if (!overCap && !docs.exists(_._1 == id)) {
          if (docs.size >= maxBucket) {
            // cap tripped: poison the bucket — free its history and
            // never emit from it again (see the hot-bucket guard note)
            overCap = true
            docs = Nil
          } else {
            docs.foreach { case (oid, od) =>
              val sc = score(d, od)
              if (sc >= threshold)
                out += ((math.min(id, oid), math.max(id, oid), sc))
            }
            docs = (id, d) :: docs
          }
        }
      }
      (Some(BucketState(overCap, docs)), out.result())
    }
  }

  /** The ONE keyed-state driver behind the three near-dup streams (text
    * q36, embedding q50, image q56): each twin maps an arriving item to its
    * (bucket space, bucket key, id, payload) rows, and this groups them by
    * bucket and runs [[advanceBucket]] with the twin's `score`. Poison,
    * tombstone and idle eviction are defined here, once, for every modality.
    *
    * Hot-bucket guard vs batch: batch (`Dedup.cappedBuckets`) drops an
    * over-cap bucket ENTIRELY — it emits no pairs at all. A stream cannot
    * retract what it already emitted (Append mode), so the closest
    * achievable semantics is applied here: the moment a bucket's
    * (`maxBucket`+1)-th distinct member arrives, the bucket is POISONED —
    * its history is cleared (freeing memory, exactly the boilerplate black
    * hole the cap exists for) and it never emits again. Divergence from
    * batch is therefore one-way and bounded: only pairs among the first
    * `maxBucket` members of an over-cap bucket, emitted before the cap
    * tripped, can appear that batch would suppress. The batch-parity
    * contracts (StreamingSpec, the q50/q56 `require`s) exclude over-cap
    * buckets for this reason.
    *
    * Emission is at-least-once across bucket spaces (a pair sharing k band
    * or table keys emits up to k times; within one bucket state dedups), so
    * consumers `distinct()` downstream — the same contract as batch
    * candidate generation before its `distinct`.
    *
    * `idleTimeout = Some(d)`: evict buckets idle for d (processing time) —
    * the production shape on an unbounded stream, where cold buckets must
    * forget history (a dedup horizon). `None`: no eviction, the shape for
    * bounded replays (a processing-time timeout keeps the engine running
    * empty batches, so an AvailableNow pass would not terminate — same
    * constraint as [[sessionize]]). Eviction drops a bucket's HISTORY but
    * never its poison: a tombstone arms no timeout, so it stays resident
    * with zero re-firing cost and the "never emits again" guarantee holds
    * for the process lifetime. Tombstones are O(1) each, one per poisoned
    * bucket; `poisonedBuckets` counts them.
    *
    * `poisonedBuckets`: a driver-registered accumulator incremented once
    * per bucket-poisoning transition — the monitoring hook that surfaces
    * how much content the cap is absorbing (at-least-once under task
    * retries, so a monitoring signal, not an exact count). When the caller
    * passes none, the NAMED accumulator `graft.<name>.poisonedBuckets` is
    * registered, so cap activity is visible in the Spark UI by default.
    */
  private def nearDupBuckets[D: TypeTag](rows: Dataset[(Int, Long, Long, D)],
      name: String, score: (D, D) => Double, threshold: Double, maxBucket: Int,
      idleTimeout: Option[String], poisonedBuckets: Option[LongAccumulator])
      : Dataset[(Long, Long, Double)] = {
    val s = rows.sparkSession
    import s.implicits._
    val poisonAcc = poisonedBuckets.getOrElse(
      s.sparkContext.longAccumulator(s"graft.$name.poisonedBuckets"))
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows
      .groupByKey { case (space, key, _, _) => (space, key) }
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (_: (Int, Long), it: Iterator[(Int, Long, Long, D)],
         state: GroupState[BucketState[D]]) => {
          val wasPoisoned = state.getOption.exists(_.overCap)
          val (next, out) = advanceBucket(state.hasTimedOut,
            it.map { case (_, _, id, d) => (id, d) }.toSeq,
            state.getOption, score, threshold, maxBucket)
          next match {
            case Some(st) =>
              state.update(st)
              // live buckets re-arm the history TTL; a tombstone arms none
              // (a timeout pending from before the cap tripped fires once
              // into the timedOut branch, which keeps the tombstone)
              if (!st.overCap) idleTimeout.foreach(state.setTimeoutDuration)
              else if (!wasPoisoned) poisonAcc.add(1L)
            case None => state.remove()
          }
          out.iterator
        })(stateEncoder[D], implicitly[Encoder[(Long, Long, Double)]])
  }

  /** The bucket-state encoder of each payload type, derived once per JVM.
    * A derived encoder numbers its list-serializer loop variable afresh and
    * that number is spelled into the generated state projection, so an
    * encoder derived per run would compile that class again on every run.
    */
  private val stateEncoders = new ConcurrentHashMap[String, ExpressionEncoder[_]]()

  private def stateEncoder[D: TypeTag]: ExpressionEncoder[BucketState[D]] =
    stateEncoders.computeIfAbsent(typeOf[D].toString,
      _ => ExpressionEncoder[BucketState[D]]()).asInstanceOf[ExpressionEncoder[BucketState[D]]]

  /** Exact shingle-hash Jaccard for the text twin's verify (two-pointer
    * merge over the sorted 64-bit hashes).
    */
  private[graft] def jaccardScore(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c.toDouble / (a.length + b.length - c).toDouble
  }

  /** Exact cosine for the embedding twin's verify: ascending-index dots,
    * the same IEEE sequence as the batch `arrayDot` kernel and the DuckDB
    * replay, over (vector, norm) payloads.
    */
  private[graft] def cosineScore(a: (Array[Double], Double), b: (Array[Double], Double)): Double =
    graft.operators.Ann.dotAsc(a._1, b._1) / (a._2 * b._2)

  /** Hamming as a SIMILARITY for the image twin (the driver emits on
    * `score >= threshold`, more similar = higher): 64 − popcount(xor).
    * Exact integers throughout — no float edge.
    */
  private[graft] def phashScore(a: Long, b: Long): Double =
    (64 - java.lang.Long.bitCount(a ^ b)).toDouble

  /** Incremental NEAR-dup detection over a document stream — the streaming
    * twin of `Dedup.minhash`, and the operator a rolling crawl actually
    * needs (exact dedup alone misses boilerplate-with-noise). Same LSH
    * shape as the batch path: each arriving doc shingles + signs + bands in
    * one typed flatMap into its 16 band buckets, and [[nearDupBuckets]]
    * pairs it against each bucket's history with exact Jaccard.
    *
    * Wire/state format: each doc's shingle set is carried as its SORTED
    * 64-bit FNV hashes, not strings — ~8 bytes per shingle across the 16×
    * band fan-out (the same ship-encoded-ints principle as the batch
    * prefix-filter path), with exact Jaccard via a two-pointer merge.
    * A 64-bit collision would merge two shingles (birthday bound ~1e-9 at
    * 10⁶ distinct shingles per bucket) — the standard trade everywhere
    * else in the engine's hashing tier.
    */
  def incrementalNearDup(docs: DataFrame, threshold: Double = 0.5,
      idleTimeout: Option[String] = None,
      maxBucket: Int = graft.operators.Dedup.MaxBucket,
      poisonedBuckets: Option[LongAccumulator] = None)
      : Dataset[(Long, Long, Double)] = {
    val s = docs.sparkSession
    import s.implicits._
    import graft.operators.Dedup
    val banded = docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val sh = Dedup.shingleSet(text)
        val hs = sh.map(graft.functions.HashFunctions.fnv64).distinct.sorted.toArray
        Dedup.bandKeys(sh).zipWithIndex.map { case (bk, b) => (b, bk, id, hs) }
      }
    nearDupBuckets(banded, "neardup", jaccardScore, threshold, maxBucket,
      idleTimeout, poisonedBuckets)
  }

  /** q36_stream_neardup — the REGISTERED streaming near-dup query: one
    * AvailableNow pass of [[incrementalNearDup]] over the documents
    * table, pair-set deduped across bands. Oracled since round 8 with the
    * same DuckDB banding replay as batch dedup_minhash: a bounded pass uses
    * the same shingles, band keys and exact-Jaccard verify, so the
    * streaming path must land on the identical pairs AND jaccard doubles.
    * StreamingSpec asserts the batch set-equality independently.
    */
  def nearDupQuery(s: SparkSession, dir: String): DataFrame =
    // state: ENTITY-keyed — per-bucket signature lists grow with distinct
    // corpus content; RocksDB switch governs it past the threshold
    runStagedViaFiles(s, dir, "q36_stream_neardup",
        input => incrementalNearDup(
            s.readStream
              .schema(graft.sources.Tables.schema(s, dir, "documents"))
              .parquet(input))
          .toDF("doc1", "doc2", "jaccard"),
        OutputMode.Append(), file = "documents.parquet")
      .distinct()

  /** Incremental EMBEDDING near-dup detection — the streaming twin of
    * `Ann.embedNearDup`, closing the modality matrix: text near-dups have
    * a batch and a streaming path, and so do embeddings. Each arriving
    * vector is sign-bucketed against the SAME [[graft.operators.Ann
    * .EmbedTables]] deterministic hyperplane tables as the batch operator
    * (plane matrices are plan literals in the task closure), and
    * [[nearDupBuckets]] pairs it against each (table, bucket)'s history
    * with exact cosine. The one new constant is `nbits`, which a stream
    * cannot derive from a corpus count and therefore takes as a
    * deploy-time parameter (sized from expected corpus volume, exactly like
    * choosing shard counts).
    */
  def incrementalEmbedNearDup(vecs: DataFrame, nbits: Int,
      threshold: Double = 0.4,
      idleTimeout: Option[String] = None,
      maxBucket: Int = graft.operators.Dedup.MaxBucket,
      poisonedBuckets: Option[LongAccumulator] = None)
      : Dataset[(Long, Long, Double)] = {
    val s = vecs.sparkSession
    import s.implicits._
    import graft.operators.Ann
    val planes: Array[Array[Array[Double]]] =
      Array.tabulate(Ann.EmbedTables)(t => Ann.hyperplanes(64, nbits, seed = 42L + t))
    val bucketed = vecs.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .flatMap { case (id, emb) =>
        val v = emb.iterator.map(_.toDouble).toArray
        val nrm = math.sqrt(Ann.dotAsc(v, v))
        (0 until planes.length).map { t =>
          var b = 0L
          var k = 0
          while (k < planes(t).length) {
            if (Ann.dotAsc(v, planes(t)(k)) >= 0) b |= (1L << k)
            k += 1
          }
          (t, b, id, (v, nrm))
        }
      }
    nearDupBuckets(bucketed, "embed_neardup", cosineScore, threshold, maxBucket,
      idleTimeout, poisonedBuckets)
  }

  /** q50_stream_embed_neardup — the REGISTERED streaming embedding
    * near-dup query: one bounded AvailableNow pass over the
    * embeddings table, nbits derived from the static count (== the batch
    * operator's adaptive sizing, so the bucket structure is identical),
    * pairs deduped across tables and rounded by Spark's own `round` —
    * making the output comparable to the SAME DuckDB multi-table replay
    * that oracles batch dedup_embed. A bounded pass with no over-cap
    * buckets must land on the identical (id1, id2, cos4) set — the batch
    * cap DROPS an over-cap bucket while the streaming state machine emits
    * its first-MaxBucket arrivals (Append emissions can't be retracted),
    * so oracle equality is only defined while no (table, bucket) exceeds
    * the cap. The `require` below turns a cap trip at a larger scale into
    * a self-diagnosing failure instead of an inscrutable hash mismatch.
    */
  def embedNearDupQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.sources.Tables.embeddings(s, dir)
    val nbits = graft.operators.Ann.nbitsFor(emb.count())
    val poisonAcc =
      s.sparkContext.longAccumulator("graft.embed_neardup.q50.poisonedBuckets")
    // state: ENTITY-keyed — per-hyperplane-bucket vector lists grow with
    // the corpus; RocksDB switch governs it past the threshold
    val out = runStagedViaFiles(s, dir, "q50_stream_embed_neardup",
        input => incrementalEmbedNearDup(
            s.readStream.schema(emb.schema).parquet(input), nbits = nbits,
            poisonedBuckets = Some(poisonAcc))
          .toDF("id1", "id2", "cos"),
        OutputMode.Append(), file = "embeddings.parquet")
      .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos4"))
      .distinct()
    require(poisonAcc.value == 0L,
      s"q50_stream_embed_neardup: ${poisonAcc.value} LSH bucket(s) exceeded " +
        s"MaxBucket=${graft.operators.Dedup.MaxBucket} during the bounded " +
        "pass — streaming Append output diverges from the batch oracle once " +
        "a bucket is poisoned; raise nbits (more, smaller buckets) or the cap")
    out
  }

  /** incrementalImagePhash — the IMAGE near-dup STREAMING twin: per image
    * doc, the batch operator's exact decode → 9×8 pool → 64-bit dHash
    * ([[graft.operators.Multimodal.imagePhashPairs]]'s helpers, replica
    * augmentation included), exploded to the same 4×16-bit band keys;
    * [[nearDupBuckets]] pairs each arrival against its (band, band-value)
    * bucket's history at hamming ≤ maxHamming, riding as the similarity
    * 64 − hamming ([[phashScore]]) with threshold 64 − maxHamming and
    * mapped back on the way out. An 8-byte hash per member keeps bucket
    * state tiny — the image stream's state is smaller than the text twin's
    * shingle arrays by construction.
    */
  def incrementalImagePhash(docs: DataFrame,
      maxHamming: Int = graft.operators.Multimodal.PhashMaxHamming,
      idleTimeout: Option[String] = None,
      maxBucket: Int = graft.operators.Multimodal.PhashMaxBucket,
      poisonedBuckets: Option[LongAccumulator] = None)
      : Dataset[(Long, Long, Int)] = {
    val s = docs.sparkSession
    import s.implicits._
    import graft.operators.Multimodal
    val banded = docs
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .flatMap { case (id, text, nChars) =>
        if (id % 3 != 0) Iterator.empty
        else {
          // the batch operator's decode/pool/augment helpers — one source
          // of truth, so the twins cannot drift
          Multimodal.augmentThumbs(id, Multimodal.imageThumb(text, nChars))
            .flatMap { case (aid, th) =>
              val hsh = Multimodal.dhashBits(th)
              (0 until Multimodal.PhashBands).map(b =>
                (b, (hsh >>> (16 * b)) & 0xFFFFL, aid, hsh))
            }
        }
      }
    nearDupBuckets(banded, "image_phash", phashScore, (64 - maxHamming).toDouble,
        maxBucket, idleTimeout, poisonedBuckets)
      .map { case (a1, a2, sim) => (a1, a2, 64 - sim.toInt) }
  }

  /** q56_stream_image_phash — the REGISTERED streaming image near-dup
    * query: one bounded AvailableNow pass of [[incrementalImagePhash]]
    * over the documents table, pairs deduped across bands — the
    * SAME DuckDB replay that oracles batch mm_image_phash verifies the
    * streaming path's values. Oracle equality holds only while no bucket
    * exceeds the cap (Append emissions can't be retracted — the q50
    * contract), so a cap trip fails loudly via the accumulator instead of
    * surfacing as an inscrutable hash mismatch.
    */
  def imagePhashQuery(s: SparkSession, dir: String): DataFrame = {
    val poisonAcc =
      s.sparkContext.longAccumulator("graft.image_phash.q56.poisonedBuckets")
    // state: ENTITY-keyed — per-hamming-bucket signature lists grow with
    // the asset corpus; RocksDB switch governs it past the threshold
    val out = runStagedViaFiles(s, dir, "q56_stream_image_phash",
        input => incrementalImagePhash(
            s.readStream
              .schema(graft.sources.Tables.schema(s, dir, "documents"))
              .parquet(input),
            poisonedBuckets = Some(poisonAcc))
          .toDF("asset1", "asset2", "hamming"),
        OutputMode.Append(), file = "documents.parquet")
      .distinct()
    require(poisonAcc.value == 0L,
      s"q56_stream_image_phash: ${poisonAcc.value} band bucket(s) exceeded " +
        s"PhashMaxBucket=${graft.operators.Multimodal.PhashMaxBucket} during " +
        "the bounded pass — streaming Append output diverges from the batch " +
        "oracle once a bucket is poisoned; raise the cap or pre-partition " +
        "the degenerate content")
    out
  }

  /** q25_stream_window — the REGISTERED streaming query: runs
    * [[windowedCounts]] over the fixture `events.parquet` through one
    * AvailableNow pass ([[runStagedViaFiles]]) and returns the result.
    * Output columns match `Relational.q15EventsWindow` exactly, so the
    * DuckDB batch oracle verifies the STREAMING path end-to-end (one
    * bounded pass ⇒ no watermark drops ⇒ streaming answer == batch answer).
    */
  def windowedCountsQuery(s: SparkSession, dir: String): DataFrame =
    // state: TIME-keyed, not entity-keyed — (1-hour window × event_type)
    // rows, growing with the covered time SPAN (744×|types|/month), never
    // with event count; structurally bounded under corpus growth
    runStagedViaFiles(s, dir, "q25_stream_window",
      input => windowedCounts(readEvents(s, input, dir)),
      boundedState = true)

  /** Stream `$dir/$file` where it is (through [[Streams.oneFile]]: exactly
    * ONE file ⇒ exactly one AvailableNow batch), run the stream into a
    * PARQUET result directory via `foreachBatch` (executors write the sink
    * files — result rows NEVER pass through the driver, unlike a memory
    * sink), and return a lazy read of the result with the stream's own
    * schema.
    *
    * `foreachBatch` rather than the parquet file sink because the file sink
    * is Append-only: Append would withhold every window still inside the
    * watermark at end-of-stream and break batch parity; foreachBatch
    * supports Complete/Update, and the bounded one-batch pass makes each
    * mode's emission equal the batch answer.
    *
    * The result dir is a fresh [[graft.TransientCache.stageDir]] labelled
    * with `prefix`, like the stream's checkpoint ([[Streams]]): the query's
    * sweep deletes both, after success or failure, so the returned frame
    * must be consumed before it — the registered-query contract (one
    * action per invocation).
    */
  private[graft] def runStagedViaFiles(s: SparkSession, dir: String, prefix: String,
      build: String => DataFrame,
      mode: OutputMode = OutputMode.Complete(),
      file: String = "events.parquet",
      boundedState: Boolean = false): DataFrame = {
    // Write-mode contract per OutputMode (r13 advice — Append joined the
    // accepted set with q60 and its terms must be explicit, not inferred):
    //   Complete — each batch carries the full result: overwrite.
    //   Update   — each batch carries that batch's updates: append; the
    //              single-batch staging makes the union the full answer.
    //   Append   — batches APPEND, so the parquet union is only the
    //              concatenation of emitted rows; a caller may pass it ONLY
    //              when that union IS the intended result — q60's contract
    //              (its consumer treats the union as a candidate superset
    //              and exactly recounts the tail). An Append query whose
    //              batch union under-/over-states the answer would be
    //              silently wrong here, hence the explicit accept list.
    require(mode == OutputMode.Complete() || mode == OutputMode.Update() ||
        mode == OutputMode.Append(),
      s"runStagedViaFiles: unsupported OutputMode $mode — the foreachBatch " +
        "sink defines semantics only for Complete/Update/Append (see the " +
        "write-mode contract above)")
    val input = Streams.oneFile(dir, file)
    val outDir = graft.TransientCache.stageDir(s, s"stream-out-$prefix")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevProvider = s.conf.getOption(StateProviderConf)
    // Every setup step after the conf snapshot (the conf switches, the
    // threshold parse) runs inside the try, so a failure in any of them
    // still restores the conf.
    val schema = try {
      val inputBytes = java.nio.file.Files.size(java.nio.file.Paths.get(dir, file))
      // State partitions: see [[stateParts]]. The conf is captured at
      // stream START (cloned session), so restoring it afterwards is safe.
      s.conf.set("spark.sql.shuffle.partitions", stateParts(inputBytes).toString)
      // State BACKEND selection, declared + sized (round 15 — the sf1000
      // probe): the default HDFSBackedStateStore is an in-heap map, and an
      // AvailableNow pass holds a query's ENTIRE keyed state in one batch
      // (no intra-batch watermark eviction), so per-entity state must fit in
      // memory — q58's (user, day) counts measured ~401 M state rows at the
      // 12.5 GB input and OOM'd the 24 g heap in StateStore.put.
      // ENTITY-KEYED streams therefore switch to the RocksDB provider past
      // [[RocksDbStagedBytes]]: disk-backed state with an in-memory working
      // set — exactly what a production cluster configures for entity-keyed
      // monitors. Callers whose state is STRUCTURALLY bounded declare
      // `boundedState = true` and keep the cheap in-heap store at ANY input
      // size (the first cut keyed the choice on bytes alone and taxed q57's
      // 10-row histogram state with RocksDB's per-batch commit overhead:
      // 28.2 → 150.1 s at sf1000, measured). Captured at stream START like
      // the partition count, restored in the finally.
      if (!boundedState && inputBytes > rocksDbThreshold(s))
        s.conf.set(StateProviderConf,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val stream = build(input)
      Streams.runAvailableNow(s, stream.writeStream
        .outputMode(mode)
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          val writeMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
          batch.write.mode(writeMode).parquet(outDir)
        })
      stream.schema
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProvider match {
        case Some(p) => s.conf.set(StateProviderConf, p)
        case None =>
          // unset only when present — no blanket catch that could swallow a
          // fatal error surfacing through the restore path (r15 advice)
          if (s.conf.getOption(StateProviderConf).isDefined)
            s.conf.unset(StateProviderConf)
      }
    }
    // foreachBatch wrote exactly the stream's schema, so read it back with
    // that schema instead of paying a footer-inference job (the file source
    // forces every field nullable either way)
    s.read.schema(schema).parquet(outDir)
  }

  /** State partitions for an input of `inputBytes`: one per 64 MiB,
    * capped at 32 — the bytes-per-task sizing any shuffle gets, decided
    * from the data like the broadcast threshold. AQE does not resize state
    * stores, so the count is fixed at stream start.
    *
    * Each state partition costs a store load, a delta commit and a sink
    * file per batch, so a few-MB input gets ONE store. The former floor of
    * 8 was measured (SCALE.md, round 14 Fix 1): on 4 cores q25's 3 600
    * state rows spent 0.59 s committing 8 stores and 0.03 s committing
    * one, and the 16 twins at sf0.1 ran 31.7 → 24.8 s. Large inputs still
    * spread: the sf100 events file (1.5 GB) gets 25, since a fixed 8
    * serialized q58's per-user daily counts onto 8 of 32 cores (55 s vs
    * 33 s adaptive). Between those, a large keyed state on fewer 64 MiB
    * units than cores leaves cores idle (q58 at sf10: 2 stores, 28 %
    * slower on 4 cores) — an open item, not a reason for a core-count
    * floor.
    */
  private[graft] def stateParts(inputBytes: Long): Int =
    math.min(32L, inputBytes / (64L << 20) + 1L).toInt

  private[graft] val StateProviderConf =
    "spark.sql.streaming.stateStore.providerClass"

  /** Input size past which [[runStagedViaFiles]] switches the state
    * backend to RocksDB: sized between the sf100 events file (1.57 GB —
    * the in-heap store measured fine there, round 14) and the sf1000 file
    * (12.5 GB — q58's per-entity state OOM'd in-heap, round 15).
    */
  val RocksDbStagedBytes: Long = 4L << 30

  /** Session-conf override for [[RocksDbStagedBytes]] — the knob a cluster
    * operator tunes like any memory threshold (and the seam StateBackendSpec
    * uses to drive the switch on a KB-scale fixture).
    */
  private[graft] val RocksDbStagedBytesConf =
    "spark.graft.streaming.rocksdbStagedBytes"

  private def rocksDbThreshold(s: SparkSession): Long =
    s.conf.getOption(RocksDbStagedBytesConf).map(_.toLong)
      .getOrElse(RocksDbStagedBytes)

  /** q33_stream_session — the REGISTERED mapGroupsWithState query: one
    * bounded Update-mode pass of [[sessionize]] over the events.
    * A single AvailableNow batch yields one state update per user, so the
    * per-user aggregates equal the batch answer and the DuckDB oracle
    * verifies the custom-state operator end-to-end. Output keeps only the
    * integer columns (event count, epoch-second session start) — the
    * double running total is order-sensitive and stays test-only.
    */
  def sessionQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    // state: ENTITY-keyed — one SessionAgg row per user; grows with the
    // user population, so the RocksDB switch governs it past the threshold
    runStagedViaFiles(s, dir, "q33_stream_session",
        input => sessionize(readEvents(s, input, dir)).toDF(),
        OutputMode.Update())
      .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
        col("openSince").as("open_since"))
  }

  /** Streaming twin of `TimeSeries.rollingActive` — trailing-7-day distinct
    * active users per day, maintained incrementally. The batch kernel's
    * inversion (active-day → the ≤ 7 days it covers) is what makes this
    * STREAMABLE at all: rolling COUNT DISTINCT has no incremental form, but
    * "covered (user, day) emitted exactly once" does — per-user
    * flatMapGroupsWithState state carries the covered days already emitted
    * (Append mode), and the downstream count per day is then an ordinary
    * streaming aggregation over exactly-once rows. fMGWS-in-Append followed
    * by aggregation is the one stateful-after-stateful chaining Structured
    * Streaming supports, which this operator is shaped around.
    *
    * State per user is its covered-day set — bounded by the user's active
    * span, independent of event count (the same collapse as batch); an
    * unbounded crawl adds a timeout that forgets days older than the
    * horizon (covered days more than 7 days behind the user's max can never
    * be emitted again, so eviction is lossless — noted, not wired, same as
    * [[nearDupBuckets]]' idle timeout).
    */
  def streamingRollingActive(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val window = graft.operators.TimeSeries.RollingDays
    events
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("1970-01-01"))).as("d0"))
      .as[(Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (u: Long, rows: Iterator[(Long, Int)], state: GroupState[Set[Int]]) => {
          val seen = state.getOption.getOrElse(Set.empty[Int])
          val covered = rows.flatMap { case (_, d) => d until d + window }.toSet
          val fresh = covered -- seen
          if (fresh.nonEmpty) state.update(seen ++ fresh)
          fresh.iterator.map(d2 => (u, d2))
        })
      .toDF("user_id", "cday")
      .groupBy(col("cday"))
      .agg(count(lit(1)).as("n_active_7d"))
      .select(
        date_add(lit(java.sql.Date.valueOf("1970-01-01")), col("cday")).as("day"),
        col("n_active_7d"))
  }

  /** Streaming twin of `Behavior.debounce` — anchor-chain duplicate-fire
    * suppression maintained incrementally: per-(user, event_type) state is
    * ONE long (the last kept event's µs), and an event is emitted iff it is
    * ≥ window past that anchor. Kept events only — a kept event's absorbed
    * count keeps growing as later duplicates arrive, which Append mode
    * cannot restate, so the streaming surface is the kept SET (the batch
    * twin carries the counts).
    *
    * Within a micro-batch a key's arrivals are sorted by (ts_us, event_id)
    * before the fold — the batch iterator is unordered, and anchor
    * placement must follow the repo's total order to equal the batch
    * answer. That sort is bounded by the key's rows IN THIS BATCH
    * (backpressure sizes batches); cross-batch state stays O(1). Parity
    * with batch debounce holds when batches arrive in event-time order
    * (exactly true for the bounded one-batch gate pass; a production
    * deployment pairs this with source ordering or a watermark, the same
    * assumption every processing-order debounce makes).
    */
  def streamingDebounce(events: DataFrame, windowUs: Long): Dataset[(Long, String, Long, Long)] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey { case (u, t, _, _) => (u, t) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Long, String), rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[Long]) => {
          var anchor = state.getOption.getOrElse(Long.MinValue)
          val kept = List.newBuilder[(Long, String, Long, Long)]
          rows.toSeq.sortBy { case (_, _, us, id) => (us, id) }.foreach {
            case (_, _, us, id) =>
              if (anchor == Long.MinValue || us - anchor >= windowUs) {
                anchor = us
                kept += ((key._1, key._2, id, us))
              }
          }
          if (anchor != Long.MinValue) state.update(anchor)
          kept.result().iterator
        })
  }

  /** q39_stream_debounce — the REGISTERED streaming debounce: one
    * Append-mode AvailableNow pass at the batch twin's gate window. The
    * oracle is the same recursive anchor-chain CTE projected to the kept
    * set, so the incremental anchor state must land on exactly the rows
    * the batch fold keeps.
    */
  def debounceQuery(s: SparkSession, dir: String): DataFrame =
    // state: ENTITY-keyed — O(1) per (user, event_type) key (the last kept
    // µs), but the key population scales with users
    runStagedViaFiles(s, dir, "q39_stream_debounce",
      input => streamingDebounce(readEvents(s, input, dir),
        graft.operators.Behavior.GateDebounceUs)
        .toDF("user_id", "event_type", "event_id", "ts_us"),
      OutputMode.Append())

  /** Streaming twin of `Behavior.attribution` — the last-touch register as
    * per-user state: ONE (clickId, clickUs) pair per user. Clicks update
    * the register; purchases emit immediately with the register's value
    * (strictly-before holds because arrivals are folded in the repo's
    * (ts_us, event_id) total order — a same-µs click with the lower id is
    * processed first, exactly the batch window's frame semantics). The 1 h
    * lookback is applied at emit. Same within-batch sort / in-order-batches
    * caveat as [[streamingDebounce]]; cross-batch state is O(1) per user.
    */
  def streamingAttribution(events: DataFrame): Dataset[(Long, Long, Long, Option[Long], Option[Long])] = {
    val s = events.sparkSession
    import s.implicits._
    val lookback = graft.operators.Behavior.AttributionUs
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (u: Long, rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[(Long, Long)]) => {
          var reg = state.getOption
          val out = List.newBuilder[(Long, Long, Long, Option[Long], Option[Long])]
          rows.toSeq.sortBy { case (_, _, us, id) => (us, id) }.foreach {
            case (_, tpe, us, id) =>
              if (tpe == "click") reg = Some((id, us))
              else {
                val inWin = reg.filter { case (_, cus) => us - cus <= lookback }
                out += ((u, id, us, inWin.map(_._1), inWin.map(us - _._2)))
              }
          }
          reg.foreach(state.update)
          out.result().iterator
        })
  }

  /** q42_stream_attribution — the REGISTERED streaming attribution: one
    * Append-mode AvailableNow pass; the bounded in-order pass reproduces the
    * batch window's register exactly, so the SAME oracle as `attribution`
    * gates the stateful streaming path.
    */
  def attributionQuery(s: SparkSession, dir: String): DataFrame =
    // state: ENTITY-keyed — one last-touch register per user
    runStagedViaFiles(s, dir, "q42_stream_attribution",
      input => streamingAttribution(readEvents(s, input, dir))
        .toDF("user_id", "purchase_id", "purchase_us", "click_id", "latency_us"),
      OutputMode.Append())

  /** q38_stream_active — the REGISTERED streaming rolling-actives query:
    * one Complete-mode AvailableNow pass of [[streamingRollingActive]] over
    * the events. A bounded pass emits every covered (user, day)
    * exactly once, so the day counts equal the batch answer and the SAME
    * DuckDB oracle as rolling_active verifies the two-stateful-operator
    * chain end-to-end.
    */
  def activeQuery(s: SparkSession, dir: String): DataFrame =
    // state: ENTITY-keyed — per-user covered-day sets (bounded by each
    // user's active span, but user count scales with the corpus)
    runStagedViaFiles(s, dir, "q38_stream_active",
      input => streamingRollingActive(readEvents(s, input, dir)))

  /** The debounce anchor as a Spark 4 `StatefulProcessor` — the
    * transformWithState twin of [[streamingDebounce]]. Same O(1) state
    * (the last kept µs) and the same within-batch total-order sort; the
    * API differences are the point of keeping both: typed named state
    * (`ValueState` with an explicit encoder and per-state TTL config)
    * instead of one opaque `GroupState` blob, and first-class timers.
    * transformWithState requires the RocksDB state store provider — the
    * 100 TB state path the near-dup RocksDB spec already pins.
    */
  class DebounceProcessor(windowUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, String), (Long, String, Long, Long), (Long, String, Long, Long)] {
    @transient private var anchor: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      anchor = getHandle.getValueState[Long]("anchor",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: (Long, String),
        rows: Iterator[(Long, String, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String, Long, Long)] = {
      var last = if (anchor.exists()) anchor.get() else Long.MinValue
      val kept = rows.toSeq.sortBy(r => (r._3, r._4)).flatMap { case (u, t, us, id) =>
        if (last == Long.MinValue || us - last >= windowUs) {
          last = us
          Some((u, t, id, us))
        } else None
      }
      if (last != Long.MinValue) anchor.update(last)
      kept.iterator
    }
  }

  /** [[streamingDebounce]] re-expressed through `transformWithState`
    * (spec-only: the registered q39 keeps the fMGWS form; StreamingSpec
    * asserts both produce the identical kept set).
    */
  def streamingDebounceTws(events: DataFrame, windowUs: Long): Dataset[(Long, String, Long, Long)] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey { case (u, t, _, _) => (u, t) }
      .transformWithState(new DebounceProcessor(windowUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Stream–stream interval join — the one stateful streaming shape the
    * engine had not yet exercised: clicks and purchases arrive as TWO
    * independent streams, and every purchase joins every click by the same
    * user within the [click, click + 1 h] window. Unlike
    * [[streamingAttribution]] (last click only, a register fold), this is
    * the full join — N clicks in the window produce N rows — which forces
    * Spark's symmetric join state: each side buffers rows the OTHER side
    * may still match.
    *
    * Both sides carry event-time watermarks and the join predicate bounds
    * purchase time against click time in BOTH directions; from these Spark
    * derives per-side state watermarks, so click state older than the 1 h
    * window (plus the watermark delay) is evicted continuously — state is
    * bounded by the stream's rate × horizon, not its history. That
    * eviction contract is exactly what a 100 TB/day clickstream needs;
    * joins without a time bound would buffer forever and are rejected by
    * the engine in Append mode.
    *
    * Inner join only here: every emitted row is final the moment it
    * matches (Append-safe); the outer variants would additionally wait out
    * the watermark before emitting nulls.
    */
  def streamJoin(clicksSrc: DataFrame, purchasesSrc: DataFrame): DataFrame = {
    val clicks = clicksSrc
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = purchasesSrc
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("gap_us"))
  }

  /** q43_stream_join — the REGISTERED stream–stream join: one Append-mode
    * AvailableNow pass with the events read as two separate file
    * streams. A bounded pass sees both sides in full before the watermark
    * advances, so the inner-join output equals the batch interval join and
    * the DuckDB batch oracle gates the symmetric-state path end-to-end.
    */
  def streamJoinQuery(s: SparkSession, dir: String): DataFrame =
    // state: ROW-scale — symmetric join buffers hold every in-watermark row
    // of BOTH sides; the largest state of any twin, the RocksDB switch's
    // prime customer (sf1000-probed round 16)
    runStagedViaFiles(s, dir, "q43_stream_join",
      input => streamJoin(readEvents(s, input, dir), readEvents(s, input, dir)),
      OutputMode.Append())

  /** Stream–STATIC join — the enrichment shape: a live event stream joined
    * to batch dimension tables (the user's CRM row, its nation) that do not
    * stream. Complements [[streamJoin]] (stream×stream, symmetric state):
    * stream×static is STATELESS — nothing buffers, because the static side
    * is fully known every batch — so it needs no watermark and adds no
    * state store. The static sides are `broadcast()` dims (the standard
    * clickstream × user-profile layout at any scale: the stream never
    * shuffles, each executor holds the dim hash table, and Spark re-plans
    * the static side per micro-batch, picking up dim updates between
    * batches for free).
    *
    * `value` travels as exact cents, so the batch oracle compares exactly.
    */
  def streamEnrich(events: DataFrame, dir: String): DataFrame = {
    val s = events.sparkSession
    val cust = broadcast(graft.sources.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")))
    val nat = broadcast(graft.sources.Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name")))
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_cents"))
      .join(cust, col("user_id") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value_cents"), col("c_mktsegment").as("mktsegment"),
        col("n_name").as("nation"))
  }

  /** q44_stream_enrich — the REGISTERED stream-static enrichment: one
    * Append-mode AvailableNow pass joining the event stream to the
    * batch customer + nation dims. Stateless, so the streamed rows are the
    * batch join's rows exactly and the DuckDB three-table join oracles the
    * path end-to-end (every fixture user_id resolves to a customer, so the
    * inner join drops nothing).
    */
  def streamEnrichQuery(s: SparkSession, dir: String): DataFrame =
    // state: NONE — stream×static joins keep no keyed state (the static
    // side is a broadcast); declared bounded so the backend never churns
    runStagedViaFiles(s, dir, "q44_stream_enrich",
      input => streamEnrich(readEvents(s, input, dir), dir),
      OutputMode.Append(), boundedState = true)

  /** Streaming dedup via Spark's built-in `dropDuplicatesWithinWatermark` —
    * the engine-native twin of [[incrementalDedup]]: state per key is
    * managed by the operator itself and EVICTED once the key is older than
    * the watermark horizon, which is the piece the hand-rolled fMGWS form
    * leaves to an explicit timeout. At 100 TB/day this is the right default
    * exact-dedup shape: state is bounded by rate × horizon, not by distinct
    * keys ever seen (the trade: a duplicate farther apart than the horizon
    * re-emits — the dedup-horizon contract every TTL'd dedup makes).
    *
    * Output is the KEY COLUMNS ONLY: the operator keeps the first-ARRIVING
    * row per key, and arrival order within a batch is partition order —
    * nondeterministic. Projecting to the key makes the emitted set exactly
    * DISTINCT(user_id, event_type) for a bounded pass, which is what the
    * oracle replays (the determinism discipline every registered query
    * follows).
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** q47_stream_dedup — the REGISTERED watermark-scoped dedup: one
    * Append-mode AvailableNow pass; a single bounded batch emits each
    * distinct (user_id, event_type) exactly once, so the DuckDB DISTINCT
    * oracle gates Spark's built-in streaming-dedup operator end-to-end.
    */
  def dedupQuery(s: SparkSession, dir: String): DataFrame =
    // state: ENTITY-keyed — one key per distinct (user_id, event_type)
    // inside the watermark horizon; grows with the user population
    // (sf1000-probed round 16)
    runStagedViaFiles(s, dir, "q47_stream_dedup",
      input => dedupWithinWatermark(readEvents(s, input, dir)),
      OutputMode.Append())

  /** Chained streaming aggregations — Spark's multiple-stateful-operator
    * support (3.4+): 15-minute windowed counts per event_type rolled up
    * into 1-hour windows IN THE SAME STREAMING QUERY, grouping the second
    * level on `window(window_time(w1), "1 hour")`. Pre-3.4 this took two
    * queries with an intermediate sink; the single-query form is the
    * streaming mirror of the batch pre-aggregation pattern (the same
    * motivation as [[graft.operators.Sketch.hllCounts]]' rollup): the
    * 1-hour state consumes CLOSED 15-minute rows — K rows per hour per
    * type — not raw events.
    *
    * Append-mode semantics (the only mode chained aggs support): a level-1
    * window emits when the watermark passes its end, and a level-2 window
    * emits when the watermark passes ITS end — at which point every 15-min
    * subwindow it covers has necessarily closed and been consumed. End of a
    * bounded pass leaves the trailing 2 h + 1 h of windows withheld; the
    * oracle replays exactly that boundary (wstart ≤ watermark − window,
    * with the watermark Spark computes: max event time truncated to ms,
    * minus the 2 h delay). The withholding is not an artifact to paper
    * over — it IS the operator's contract, so the gate pins it.
    */
  def windowRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "15 minutes").as("w1"), col("event_type"))
      .agg(count(lit(1)).as("n_sub"))
      .groupBy(window(window_time(col("w1")), "1 hour").as("w2"), col("event_type"))
      .agg(sum(col("n_sub")).as("n_events"), count(lit(1)).as("n_subwindows"))
      .select(unix_timestamp(col("w2.start")).as("wstart"), col("event_type"),
        col("n_events"), col("n_subwindows"))

  /** q48_stream_rollup — the REGISTERED chained-aggregation query: one
    * Append-mode AvailableNow pass of [[windowRollup]]. The engine runs the
    * post-data flush batches itself (watermark advances after the final
    * data batch; closed level-1 windows cascade into level 2), so the final
    * emitted set is exactly the windows the oracle's watermark predicate
    * selects.
    */
  def rollupQuery(s: SparkSession, dir: String): DataFrame =
    // state: TIME-keyed — both tiers key on (window × event_type); rows
    // grow with the covered span (4+1 windows/hour × |types|), never with
    // event count; structurally bounded under corpus growth
    runStagedViaFiles(s, dir, "q48_stream_rollup",
      input => windowRollup(readEvents(s, input, dir)),
      OutputMode.Append(), boundedState = true)

  /** q57_stream_drift — the STREAMING twin of `Profile.driftPsi`, the shape
    * a production drift monitor actually runs: the reference deciles are
    * STATIC state (computed once from the frozen reference window and
    * shipped to the job as constants — here two one-row batch reads: the
    * time bounds and the `Profile.decileEdges` row, the repo's
    * constant-bounded-collect discipline), and the CURRENT-window histogram
    * is keyed streaming state — a plain incremental `groupBy(bin).count`
    * whose state is structurally bounded at 10 rows (the bin expression
    * cannot produce an 11th key), so the nearDupBuckets poison-cap
    * machinery the unbounded-key twins need (q36/q50/q56) is unnecessary
    * by construction: this is Catalyst-native keyed state with map-side
    * partial aggregation, the preferred tier when built-ins express the
    * semantics. The PSI fold itself (`Profile.psiFromCounts`) is a
    * constant-size batch tail over the maintained histogram — exactly what
    * a monitoring dashboard reads between triggers.
    *
    * Parity contract: one AvailableNow pass over the second half ⇒
    * the streamed histogram equals the batch current-half histogram, so the
    * final table equals `drift_psi` row-for-row and the SAME DuckDB oracle
    * verifies the streaming path end-to-end (the q25/q56 full-replay
    * discipline). The midpoint split uses integer division on nonnegative
    * epoch-micros, matching the batch `(mn + mx) DIV 2` exactly.
    */
  def streamDriftQuery(s: SparkSession, dir: String): DataFrame = {
    // transient: the (ts_us, cents) projection feeds the bounds aggregate,
    // the edge derivation AND the reference histogram — one scan, not three
    // (the harness releases the blocks after the consuming action)
    val ev = graft.TransientCache.cache(
      graft.sources.Tables.events(s, dir).select(
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents")))
    val b = ev.agg(min("ts_us").as("mn"), max("ts_us").as("mx")).collect()(0)
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    val refCents = ev.filter(col("ts_us") <= mid).select("cents")
    val edgeRow = graft.operators.Profile.decileEdges(refCents).collect()(0)
    val edgeVals = graft.operators.Profile.DecileQs.indices
      .map(i => edgeRow.getLong(i))
    def binOf(cents: org.apache.spark.sql.Column) =
      edgeVals.map(e => when(cents > lit(e), 1L).otherwise(0L)).reduce(_ + _)
    // current-window histogram, maintained as streaming keyed state
    val cur = runStagedViaFiles(s, dir, "q57_stream_drift", input =>
      readEvents(s, input, dir)
        .select(unix_micros(col("ts")).as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .filter(col("ts_us") > mid)
        .select(binOf(col("cents")).as("bin"))
        // state is structurally bounded at 10 rows (the bin expression
        // cannot produce an 11th key) — keep the in-heap store at any
        // input size (sf1000 measured the RocksDB tax at 28.2 → 150.1 s)
        .groupBy("bin").agg(count(lit(1)).as("n_cur")),
      boundedState = true)
    // constant-size batch tail: reference histogram + PSI fold
    val refCounts = refCents.select(binOf(col("cents")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_ref"))
    val counts = refCounts.join(cur, Seq("bin"), "full_outer")
    val edges = s.range(1).select(
      graft.operators.Profile.DecileQs.zip(edgeVals).map {
        case (q, e) => lit(e).as(s"e$q")
      }: _*)
    graft.operators.Profile.psiFromCounts(s, counts, edges)
  }

  /** q58_stream_anomaly — the STREAMING twin of `Behavior.anomalyDays`, the
    * second monitor twin after q57: per-user daily event counts are keyed
    * streaming state (a Catalyst-native windowed count — watermark + 1-day
    * event-time windows, map-side partial aggregation; state is bounded by
    * users × the watermark's retention horizon, the same bound the batch
    * monitor's lookback window imposes), and the anomaly flagging —
    * `Behavior.anomalyTail`'s cross-multiplied 2σ test over each user's
    * day vector — is the batch tail a monitoring job runs over the
    * maintained counts between triggers (the q57 split: incremental state
    * upstream, constant re-derivation downstream).
    *
    * Day identity: the 1-day tumbling window starts on epoch-aligned UTC
    * midnights, so `unix_timestamp(w.start) DIV 86400` equals the batch
    * side's `unix_micros(ts) DIV 86400000000` for every nonnegative
    * timestamp — the twin and the batch operator bucket identically by
    * construction. Parity contract: one AvailableNow pass ⇒ the streamed
    * daily table equals the batch groupBy, so the final frame equals
    * `anomaly_days` row-for-row and the SAME DuckDB oracle verifies the
    * streaming path end-to-end (the q25/q56/q57 full-replay discipline).
    */
  def streamAnomalyQuery(s: SparkSession, dir: String): DataFrame = {
    // state: ENTITY-keyed — (user × day) windowed counts, the sf1000 OOM
    // that sized the RocksDB switch (~401 M state rows at 12.5 GB input)
    val daily = runStagedViaFiles(s, dir, "q58_stream_anomaly", input =>
      readEvents(s, input, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"),
          expr("unix_timestamp(w.start) DIV 86400").as("day"), col("cnt")))
    graft.operators.Behavior.anomalyTail(daily)
  }

  /** q59_stream_cdc — the STREAMING twin of `Behavior.cdcApply`: the CDC
    * snapshot materializer running continuously instead of per-batch. The
    * last-write-wins struct-max aggregate becomes keyed streaming state —
    * ONE struct per key (the minimum state any snapshot maintainer carries;
    * no log retention, no window sort), updated incrementally with map-side
    * partial aggregation, exactly the argmax-not-window shape the batch
    * operator pins in PlanShapeSpec. The delete filter rides after the
    * aggregate, on |keys| rows per trigger.
    *
    * Parity contract: one AvailableNow pass folds the whole log
    * into the same per-key maxima as the batch groupBy (struct max is
    * order-free), so the final snapshot equals `cdc_apply` row-for-row and
    * the SAME DuckDB oracle verifies the streaming path end-to-end (the
    * q57/q58 monitor-twin discipline).
    */
  def streamCdcQuery(s: SparkSession, dir: String): DataFrame =
    // state: ENTITY-keyed — one last-write-wins register per CDC key
    runStagedViaFiles(s, dir, "q59_stream_cdc", input =>
      graft.operators.Behavior.cdcSnapshot(readEvents(s, input, dir)))

  /** Number of hash buckets the streaming Misra–Gries sketch shards its
    * counter state over: state is structurally bounded at
    * [[HhStreamBuckets]] × counters entries whatever the vocabulary does —
    * the sketch's whole point, carried into the streaming tier.
    */
  val HhStreamBuckets = 32

  /** q60_stream_heavy — the STREAMING twin of `Corpus.heavyHitters`, the
    * third monitor twin (after q57 drift, q58 anomaly): the Misra–Gries
    * counter map IS the keyed streaming state. The token stream shards by
    * token hash into [[HhStreamBuckets]] buckets; each bucket's
    * flatMapGroupsWithState state is its MG counter map (≤ `counters`
    * entries — bounded by construction, so none of the poison-cap machinery
    * the unbounded-key twins need), and folding a trigger's tokens into the
    * persisted map (`Corpus.mgFold`) is literally running MG on the
    * concatenated stream, so the survival guarantee holds for everything
    * seen so far. All occurrences of a token land in ONE bucket, so a token
    * with global frequency > n/(C+1) ≥ n_bucket/(C+1) survives its bucket's
    * sketch — the same superset guarantee the batch per-partition union
    * gives. Each trigger emits the map's current keys; the cross-trigger
    * union stays a superset of the final survivors (the last trigger emits
    * exactly them), and overshoot costs only recount rows, never
    * correctness.
    *
    * The exact tail — candidate recount, top-k, the loud n/(C+1)
    * completeness require — is the batch operator's own
    * `Corpus.hhRecountTail` (sketch state upstream, constant re-derivation
    * downstream: the q57/q58 split). Parity contract: one AvailableNow pass
    * yields a provable candidate superset and the recount makes the answer
    * EXACT, so the final table equals `heavy_hitters` row-for-row and the
    * SAME DuckDB oracle verifies the streaming path end-to-end.
    */
  def streamHeavyQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counters = graft.operators.Corpus.MgCounters
    val candidates = runStagedViaFiles(s, dir, "q60_stream_heavy", input =>
      s.readStream
        .schema(graft.sources.Tables.schema(s, dir, "documents"))
        .parquet(input)
        .select(col("text")).as[String]
        // MAP-SIDE MG COMBINER (round 14 — the sf100 decade probe): the
        // first shape shuffled EVERY raw token into the 32 bucket groups
        // (~10⁸ string rows through the exchange at sf100, 89 s); one
        // capacity-`counters` sketch per partition per trigger compresses
        // that to ≤ `counters` (token, weight) partials per slice before
        // any exchange — the streaming analog of the batch operator's
        // per-partition sketch pass, and the combiner every production
        // keyed-state job puts in front of its shuffle.
        .mapPartitions { it =>
          val m = new java.util.HashMap[String, Array[Long]](counters * 2)
          it.foreach(t => graft.operators.Corpus.mgFold(
            m, graft.operators.TextOps.wsTokens(t).iterator, counters))
          import scala.jdk.CollectionConverters._
          m.entrySet().asScala.iterator
            .map(e => (e.getKey, e.getValue()(0)))
        }
        .select(pmod(xxhash64(col("_1")), lit(HhStreamBuckets.toLong)).as("bucket"),
          col("_1").as("tok"), col("_2").as("cnt"))
        .as[(Long, String, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (_: Long, rows: Iterator[(Long, String, Long)],
              state: GroupState[List[(String, Long)]]) => {
            // A bucket-trigger's input is ≤ counters×partitions partial
            // rows (combiner-bounded, NOT vocabulary-bounded), so the
            // buffer below is structurally bounded like the state itself.
            val incoming = rows.toList
            val m = new java.util.HashMap[String, Array[Long]](counters * 2)
            state.getOption.getOrElse(Nil)
              .foreach { case (t, c) => m.put(t, Array(c)) }
            // weighted merge — the state map stays the bounded LIVE
            // sketch (mergeable-MG error ≤ n/(C+1), see mgFoldWeighted)
            graft.operators.Corpus.mgFoldWeighted(
              m, incoming.iterator.map(r => (r._2, r._3)), counters)
            import scala.jdk.CollectionConverters._
            val entries = m.entrySet().asScala
              .map(e => (e.getKey, e.getValue()(0))).toList
            state.update(entries)
            // COMPLETENESS floor: emit every incoming slice-SURVIVOR key
            // (a token with global count > n/(C+1) must, by pigeonhole
            // over partition-trigger slices, beat n_slice/(C+1) in some
            // slice and survive that slice's combiner — so the union of
            // these emissions is a provable candidate superset, exactly
            // the guarantee the batch per-partition union gives). State
            // keys ride along so the final trigger also emits the live
            // sketch; overshoot costs recount rows, never correctness.
            (incoming.iterator.map(_._2) ++ entries.iterator.map(_._1))
              .distinct
          })
        .toDF("tok"),
      OutputMode.Append(), file = "documents.parquet",
      // MG counter maps: ≤ HhStreamBuckets × counters entries by
      // construction — in-heap at any input size
      boundedState = true)
      .distinct()
    graft.operators.Corpus.hhRecountTail(s,
      graft.operators.Corpus.hhTokens(s, dir), candidates,
      graft.operators.Corpus.HhTopK, counters)
  }

  /** Run a streaming DataFrame to completion over a bounded source (one
    * availableNow pass), collecting results through an in-memory sink table.
    * This is how the parity tests observe streaming output.
    */
  def runToMemory(s: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    Streams.runAvailableNow(s,
      df.writeStream.format("memory").queryName(name).outputMode(mode))
    s.table(name)
  }
}
