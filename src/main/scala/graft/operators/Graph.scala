package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.TransientCache
import graft.sources.Tables

/** Graph analytics over the user↔item interaction graph implied by the
  * events table (`props.k` is the item a user touched). Two classics every
  * large-scale events warehouse eventually runs: PageRank (iterative link
  * analysis) and item co-occurrence (the "users who touched i also touched
  * j" recommender primitive).
  *
  * Numeric discipline — [[pagerank]] runs entirely in FIXED-POINT BIGINT
  * arithmetic (rank scaled by [[Scale]], integer division everywhere).
  * Integer sums are associative and commutative, so the result is
  * bit-identical under ANY partitioning or aggregation order — which is
  * what lets an iterative float-free PageRank carry an exact DuckDB oracle
  * (a recursive CTE replaying the same `//` arithmetic). Float PageRank
  * would hash-mismatch on summation order alone.
  *
  * Scale design:
  *   - The edge list is built once (distinct user-item pairs — map-side
  *     combined), checkpointed, and re-read by every round; the per-round
  *     work is one join (ranks ⋈ edges on src — both sides hash-partitioned
  *     on the SAME key, so AQE reuses the exchange) plus one map-side
  *     combined sum on dst. No driver-side data ever: ranks live as
  *     distributed rows, rounds are fixed-count (no convergence collect).
  *   - Strided `localCheckpoint` (every [[CheckpointStride]] rounds) keeps
  *     the logical plan bounded — without ANY checkpoint, round r's plan
  *     nests all r−1 predecessors and Catalyst re-optimizes the whole tower
  *     each round (the superlinear-planning trap `Dedup.clusters` documents;
  *     measured there). Checkpointing every single round over-pays the
  *     materialization/scheduler floor instead: a stride of a few rounds
  *     keeps planning O(stride) per barrier and cut pagerank+ppr ~22% at
  *     sf0.1 (measured round 9), with the 10× probe still sub-linear.
  *   - [[itemCooccur]] guards the quadratic per-user pair fan-out with
  *     [[MaxItemsPerUser]]: a bot touching 10⁶ items would emit 10¹² pairs;
  *     capped users are EXCLUDED (the standard spam guard in co-occurrence
  *     mining), making the fan-out per user ≤ cap² by construction. The
  *     pair count aggregation is map-side combined on (i, j).
  */
object Graph {

  // Every Graph operator that re-reads a derived frame pins it with
  // TransientCache.checkpoint: a checkpoint turns "N references re-derive
  // the whole upstream subtree N times" into one materialization + N cheap
  // reads — the difference between scanning the events table once and six
  // times at 100 TB. Loops unpin a superseded round as soon as its
  // successor is materialized; the rest goes in the harness's sweep.

  /** Source-bytes threshold past which the EDGE checkpoint leaves the
    * block manager for a bucketed snappy-parquet spill ([[edgeCheckpoint]]).
    *
    * Both block-manager forms were measured dying at sf1000 by the
    * round-16 probe (1 B events / 12.5 GB source → ~1 B bidirected edge
    * rows): (a) the memory-bearing MEMORY_AND_DISK_SER level OOM'd
    * bfs_hops through the disk-block re-inflate path —
    * `BlockManager.maybeCacheDiskBytesInMemory` allocates the whole
    * serialized block as one on-heap buffer per reading task
    * (`DiskBlockData.toChunkedByteBuffer`), and 32 concurrent round-join
    * tasks × multi-hundred-MB blocks on an already-full memory store
    * killed the 24 g heap; (b) DISK_ONLY fixed the OOM but the serialized
    * row-block form carries NO columnar encoding (~30 B per two-long edge
    * row), and together with the derivation shuffle resident on the same
    * disk it exhausted the 65 GB scratch volume — every block put failed
    * "No space left on device". The spill form is ~source-sized (columnar
    * snappy), splittable, and never touches the block manager. The 4 GB
    * sizing sits between the sf100 source (1.1 GB) that measured green
    * memory-resident and the sf1000 source (12.5 GB) that died both ways —
    * the same declared, sized switch as the streaming state backend's
    * [[graft.streaming.EventStreams.RocksDbStagedBytes]].
    */
  val EdgeSpillBytes: Long = 4L << 30

  /** Session-conf override for [[EdgeSpillBytes]] — the knob a cluster
    * tunes to its executor memory/disk, and what lets a KB-scale spec
    * fixture exercise both sides of the switch (GraphSpec).
    */
  private[graft] val EdgeSpillBytesConf = "graft.graph.edgeSpillBytes"

  /** True when `dir`'s events source is past [[EdgeSpillBytes]] — the
    * decision point for [[edgeCheckpoint]]'s storage form.
    */
  private[graft] def edgeSpills(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes =
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    val threshold = s.conf.getOption(EdgeSpillBytesConf).map(_.toLong)
      .getOrElse(EdgeSpillBytes)
    bytes > threshold
  }

  /** Handle on a materialized edge list: `df` re-reads it cheaply every
    * round, `barrierLevel` is the storage level the loop's |V|-sized round
    * barriers take at the same scale, and `release()` frees the storage
    * once the loop's outputs are themselves checkpointed.
    */
  private[graft] final case class EdgeCp(df: DataFrame,
      barrierLevel: StorageLevel, release: () => Unit)

  /** Materialize the edge list for an iterative loop, in the storage form
    * `dir`'s scale calls for.
    *
    * Below [[EdgeSpillBytes]]: an eager serialized block-manager checkpoint
    * (fastest re-reads while the list is a fraction of the heap), hash
    * partitioned on `key` first when `coLocate` — LogicalRDD preserves
    * outputPartitioning, so every round's join reuses the one exchange.
    *
    * Past it: one bucketed snappy-parquet write (bucketBy(`key`), bucket
    * count = shuffle partitions, repartitioned to one file per bucket),
    * re-read as a bucketed table scan. This is checkpoint-to-DFS — what a
    * production iterative job does on a cluster — and it keeps BOTH scale
    * properties at once: the columnar compressed form is ~source-sized
    * where the serialized row blocks measured ~4× bigger (see
    * [[EdgeSpillBytes]]), and the bucketed scan reports the same
    * hash-on-`key` outputPartitioning the in-memory path gets from its
    * pre-checkpoint repartition, so the per-round join stays exchange-free
    * on the edge side at ANY size.
    */
  private[graft] def edgeCheckpoint(s: SparkSession, dir: String,
      edges: DataFrame, key: String, coLocate: Boolean): EdgeCp =
    if (edgeSpills(s, dir)) {
      val n = s.conf.get("spark.sql.shuffle.partitions").toInt
      val name = "graft_edges_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      // one shuffle into bucket-aligned tasks (repartition hash == bucket
      // hash) so each task writes exactly one file per bucket it owns —
      // without it every input task writes a file per bucket (tasks ×
      // buckets small files), and ONE file per bucket is also what lets
      // the scan report the sortBy order below.
      //
      // sortBy(key) is the load-bearing half (measured, round-16 sf1000):
      // a bucketed-but-unsorted table satisfies the join's distribution
      // requirement, so no exchange is inserted on the edge side — and
      // with no exchange there is no AQE re-plan boundary, so the
      // sort-merge join SORTS the full edge list INSIDE every round's
      // fused scan stage (the in-memory path keeps an exchange, which AQE
      // converts to a broadcast join at runtime). Six rounds of sorting
      // ~1 B edge rows OOM'd the timed bfs_hops run in the parquet read
      // buffers under sorter pressure. Pre-sorted one-file buckets report
      // their outputOrdering, so every round's SMJ streams the edge side
      // sort-free — one write-time sort buys all rounds, at any frontier
      // or rank-table size. Small row groups (16 MB) keep the vectored
      // read's per-task heap buffers bounded: 32 concurrent tasks ×
      // row-group-sized allocations is real memory at default 128 MB.
      edges.repartition(n, col(key))
        .write.format("parquet")
        .option("parquet.block.size", (16L << 20).toString)
        .bucketBy(n, key).sortBy(key).saveAsTable(name)
      // Spark stopped propagating bucketed-table sort order by default in
      // 3.0 (multi-file buckets would need a merge); the opt-in conf makes
      // planning list the bucket files and report outputOrdering exactly
      // when every bucket is one file — which the repartition above
      // guarantees. Scoped to the spill's lifetime and restored to its
      // prior value on release, the same capture/restore contract as the
      // streaming state backend's provider conf.
      val orderingConf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
      // effective prior value (the conf has a default, so getOption never
      // reads as absent) — restored by an explicit set on release
      val prior = s.conf.get(orderingConf)
      s.conf.set(orderingConf, "true")
      // rank barriers are |V|-sized — at spill scale (~400 M nodes at the
      // sf1000 probe) the default deserialized MEMORY_AND_DISK object rows
      // OOM'd the init checkpoint outright (16-24 GB of row objects on a
      // 24 g heap, measured round 16). DISK_ONLY streams serialized blocks
      // straight off the disk store (no re-inflate path exists there) and
      // each barrier is read exactly ONCE per stride tower, so the memory
      // level buys nothing past the threshold.
      EdgeCp(s.table(name), StorageLevel.DISK_ONLY, () => {
        s.sql(s"DROP TABLE IF EXISTS $name")
        s.conf.set(orderingConf, prior)
      })
    } else {
      val arranged = if (coLocate) edges.repartition(col(key)) else edges
      // serialized: a 100 TB-derived graph's edge checkpoint is the largest
      // resident block in any iterative operator, UnsafeRows serialize ~3×
      // narrower than their object form, and every round re-reads the whole
      // thing — the sf100 probe measured the deserialized form OOMing
      // pagerank outright (120 M bidirected edges ≈ 12 GB of row objects on
      // a 24 g heap) where the serialized form fits and streams
      val df = TransientCache.checkpoint(arranged, StorageLevel.MEMORY_AND_DISK_SER)
      // below the threshold the rank barriers stay hot in memory
      EdgeCp(df, StorageLevel.MEMORY_AND_DISK, () => TransientCache.unpin(df))
    }

  /** Item node ids live at ItemBase + k so user and item ids share one
    * BIGINT node-id space without collision (fixture user_ids ≪ 10⁶; a
    * production deployment would partition the id space the same way).
    */
  val ItemBase = 1000000L

  /** Fixed-point scale: rank 1.0 ≡ 1,000,000. */
  val Scale = 1000000L

  /** Damping numerator/denominator: d = 85/100. */
  val DampNum = 85L
  val DampDen = 100L

  /** Fixed iteration count — a fixed-round PageRank is deterministic and
    * oracle-replayable; production runs pick rounds from the graph's
    * mixing time (10–20 covers web-scale graphs to ranking stability).
    */
  val Rounds = 10

  /** Materialization stride for the fixed-point loops: checkpoint every
    * Nth round instead of every round. Intermediate rounds chain lazily,
    * so the plan tower is at most `CheckpointStride` rounds deep — still
    * constant-bounded planning cost — while the number of materialization
    * barriers (and their scheduler/IO floor) is divided by the stride.
    */
  val CheckpointStride = 5

  /** Co-occurrence hot-user cap (see scale note above). */
  val MaxItemsPerUser = 200

  /** Distinct (user, item) interactions — the bipartite edge set. */
  private[graft] def userItems(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id").as("u"),
        (from_json(col("props"), "k BIGINT", Map.empty[String, String])
          .getField("k") + lit(ItemBase)).as("i"))
      .distinct()

  /** Bidirected edge list (src, dst, d = src's out-degree). Bidirecting the
    * bipartite graph gives every node out-degree ≥ 1, so there is no
    * dangling-mass term to redistribute — total rank mass is conserved up
    * to per-node integer-division truncation.
    */
  private[graft] def edgesWithDeg(s: SparkSession, dir: String): DataFrame = {
    val base = userItems(s, dir)
    val ed = base.select(col("u").as("src"), col("i").as("dst"))
      .unionByName(base.select(col("i").as("src"), col("u").as("dst")))
    ed.join(ed.groupBy("src").agg(count(lit(1)).as("d")), "src")
  }

  /** pagerank — fixed-point PageRank over the user↔item graph:
    * rank⁰ = Scale; rankⁿ⁺¹(v) = 0.15·Scale + 0.85·Σ_{u→v} rankⁿ(u) ÷ d(u),
    * all in truncating BIGINT division. Output (node, rank): node < 10⁶ is
    * a user, node ≥ 10⁶ an item.
    */
  def pagerank(s: SparkSession, dir: String, rounds: Int = Rounds): DataFrame = {
    // the edge list is co-located on the per-round join key (in-memory:
    // pre-checkpoint repartition; spilled: bucketBy) so every round's
    // ranks⋈edges reuses one arrangement and only the rank side moves —
    // unpartitioned, each of the `rounds` joins re-exchanged the full edge
    // list (the sf100 decade probe measured the bfs twin of this at 12.7×
    // for 10× data)
    val ecp = edgeCheckpoint(s, dir, edgesWithDeg(s, dir), "src", coLocate = true)
    try {
    val edges = ecp.df
    // the barrier level was chosen with the edge form (see [[EdgeCp]])
    var barrier = TransientCache.checkpoint(
      edges.select(col("src").as("node")).distinct()
        .withColumn("rank", lit(Scale)), ecp.barrierLevel)
    var ranks = barrier
    var round = 0
    while (round < rounds) {
      // every node has in-edges (bidirected graph), so the inner join +
      // groupBy covers the full node set each round
      val step =
        ranks.join(edges, ranks("node") === edges("src"))
          .select(col("dst"), expr("rank DIV d").as("contrib"))
          .groupBy(col("dst").as("node"))
          .agg(expr(s"${Scale - Scale * DampNum / DampDen} + " +
            s"(sum(contrib) * $DampNum) DIV $DampDen").as("rank"))
          .select(col("node"), col("rank"))
      round += 1
      if (round % CheckpointStride == 0 || round == rounds) {
        val next = TransientCache.checkpoint(step, ecp.barrierLevel)
        TransientCache.unpin(barrier)
        barrier = next
        ranks = next
      } else {
        // chain this round lazily: plan depth stays ≤ stride towers, so
        // Catalyst's re-optimization cost stays bounded while the number
        // of materialization barriers halves
        ranks = step
      }
    }
    ranks
    // release in a finally: a failure mid-loop must not leak the spill
    // table (or its planning conf) into the rest of the session. On
    // success this runs at the same point as before — the final ranks are
    // already materialized by their checkpoint.
    } finally ecp.release()
  }

  /** Minimum co-touching users for an item–item edge in [[triangleCount]]'s
    * projection graph — single-user co-occurrence is dominated by individual
    * browsing noise; ≥ 2 users is the conventional support floor.
    */
  val MinSharedUsers = 2L

  /** BFS horizon for [[bfsHops]] — 6 rounds covers the fixture graph's
    * diameter-relevant neighborhood and keeps the oracle's recursive replay
    * bounded; production picks the horizon from the application (e.g. "within
    * k hops" recommendation radius).
    */
  val BfsRounds = 6

  /** Per-user item lists under the [[MaxItemsPerUser]] cap — the shared
    * pair-generation base of [[itemCooccur]] and [[itemEdges]] (round 16).
    * ONE u-exchange builds the list (collect_list over the distinct
    * interactions; map-side partials are the same (u, i) bytes the
    * self-join's exchange shipped) and the cap is a size() filter on it —
    * the previous shape paid a window count (exchange + per-u sort) AND a
    * self-join on u to fan pairs out; the pairs now explode in place from
    * the ≤ cap-long array, join-free and sort-free. The array copied per
    * generated row is ≤ cap longs (~1.6 KB), bounded by the same cap that
    * already bounds the pair fan-out itself.
    */
  private def cappedUserItems(s: SparkSession, dir: String): DataFrame =
    userItems(s, dir)
      .groupBy("u").agg(
        // the cap counts EVERY interaction row (null item ids included) —
        // the same count(*) the window form took and the oracle replays;
        // the list skips nulls exactly like the self-join's i <> j
        // predicate did, so pairs come from non-null items either way
        count(lit(1)).as("n_items"),
        // bounded buffer: one bot user must never materialize an unbounded
        // single-group list before the cap filter can see it — the bounded
        // variant stops appending at cap+1 and the over-cap row drops here
        graft.functions.GraftFunctions
          .boundedCollectList(col("i"), MaxItemsPerUser).as("items"))
      .filter(col("n_items") <= MaxItemsPerUser)
      .select("u", "items")

  /** Undirected item–item projection edges: (i, j), i < j, co-touched by at
    * least [[MinSharedUsers]] un-capped users. Built from the same
    * hot-user-filtered interactions as [[itemCooccur]], so the quadratic
    * per-user fan-out stays ≤ cap² by construction.
    */
  private[graft] def itemEdges(s: SparkSession, dir: String): DataFrame =
    cappedUserItems(s, dir)
      .select(explode(col("items")).as("x"), col("items"))
      .select(col("x"), explode(col("items")).as("y"))
      .filter(col("x") < col("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= MinSharedUsers)
      .select("x", "y")

  /** triangle_count — per-node triangle counts over the item–item projection
    * graph ([[itemEdges]]): for every node in at least one triangle, the
    * number of triangles it closes.
    *
    * Plan: DEGREE-ORDERED ORIENTATION (the compact-forward algorithm). Each
    * undirected edge is directed from the endpoint lower in the
    * (degree, node) total order to the higher one; wedges are then built
    * only from each node's OUT-neighbors and closed against oriented edges.
    * Out-degree under this orientation is O(√m) on any graph, so the wedge
    * join — the quadratic step — is bounded by m·√m regardless of hub
    * degree: the plan that survives a power-law degree distribution at
    * 100×, where the naive "join edges on shared endpoint" explodes on the
    * hottest node. The oracle replays the NAIVE all-pairs formulation
    * (a < b < c triple join), so orientation completeness itself is gated:
    * every triangle is counted exactly once in (key-order) canonical form
    * before the per-node explode.
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    // edges feeds degree counting AND the orientation join; oriented feeds
    // both wedge sides AND the closing-edge probe — checkpoint each once so
    // the projection-graph build (scan → distinct → hot-user window →
    // self-join → agg) runs exactly once, not once per reference
    val edges = TransientCache.checkpoint(itemEdges(s, dir))
    // (degree, node) total order — degree breaks hubs, node breaks ties
    val deg = edges.select(col("x").as("n")).unionByName(edges.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withK = edges
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
    val oriented0 = withK.select(
      when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("x")).otherwise(col("y")).as("src"),
      when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("y")).otherwise(col("x")).as("dst"),
      when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("dy")).otherwise(col("dx")).as("dk"))
    val oriented = TransientCache.checkpoint(oriented0)
    TransientCache.unpin(edges)
    // wedge (u; v, w) with v before w in the (degree, node) order, closed by
    // the oriented edge v→w — each triangle appears exactly once
    val e1 = oriented.select(col("src").as("u"), col("dst").as("v"), col("dk").as("vk"))
    val e2 = oriented.select(col("src").as("u2"), col("dst").as("w"), col("dk").as("wk"))
    val wedges = e1.join(e2,
      col("u") === col("u2") && (struct(col("vk"), col("v")) < struct(col("wk"), col("w"))))
      .select(col("u"), col("v"), col("w"))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tris = wedges.join(closing, Seq("v", "w"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** bfs_hops — multi-round breadth-first hop distance from the seed node
    * (the minimum user_id, a deterministic anchor) over the bidirected
    * user↔item graph, horizon [[BfsRounds]]. Output (node, hop) — the
    * shortest hop count ≤ 6 for every reachable node.
    *
    * Plan: frontier BFS. `dist` holds settled (node, hop); each round joins
    * ONLY the previous frontier with the edge list (hash-partitioned on the
    * same key every round, so AQE reuses the exchange), dedups the
    * candidates map-side, and anti-joins `dist` to keep genuinely new
    * nodes. Work per round is O(frontier-adjacent edges), not O(all edges
    * × rounds); each FRONTIER is checkpointed once (bounded plans, the
    * same superlinear-planning trap [[pagerank]] documents) while the
    * settled set stays a lazy union of those leaves — total checkpoint
    * write volume is O(|V|), not O(rounds·|V|) as re-materializing the
    * cumulative set each round would be. The seed is an aggregate row,
    * not a collect — no driver-side data path anywhere.
    */
  def bfsHops(s: SparkSession, dir: String, rounds: Int = BfsRounds): DataFrame = {
    val base = userItems(s, dir)
    val edges = base.select(col("u").as("src"), col("i").as("dst"))
      .unionByName(base.select(col("i").as("src"), col("u").as("dst")))
    // the frontier side BROADCASTS every round (measured), so edge-side
    // co-location buys nothing here — the round cost is re-READING the
    // edge checkpoint, which the serialized level (or, past the spill
    // threshold, the columnar spill) makes narrow
    val ecp = edgeCheckpoint(s, dir, edges, "src", coLocate = false)
    try {
    val edgesCp = ecp.df
    val seed = Tables.events(s, dir).agg(min(col("user_id")).as("node"))
      .withColumn("hop", lit(0L))
    // one barrier per round, not two: each round's frontier is checkpointed
    // (it is re-read twice — next round's join AND the settled set), but
    // `dist` stays a LAZY union of those checkpointed leaves. A union of
    // ≤ rounds materialized leaves is trivial to plan, and the anti-join
    // against it is identical to one against a materialized copy.
    var frontier = TransientCache.checkpoint(seed)
    var dist = frontier
    var round = 1
    while (round <= rounds) {
      val next = TransientCache.checkpoint(
        frontier.join(edgesCp, frontier("node") === edgesCp("src"))
          .select(edgesCp("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("hop", lit(round.toLong)))
      dist = dist.unionByName(next)
      frontier = next
      round += 1
    }
    // every frontier leaf stays pinned until the session sweep — together
    // they hold exactly one row per reached node (the settled set itself)
    dist
    // finally so a failure mid-loop cannot leak the spill table or its
    // planning conf; the returned lazy union reads only checkpointed leaves
    } finally ecp.release()
  }

  /** ppr — PERSONALIZED PageRank from the minimum-user seed: the same
    * fixed-point recurrence as [[pagerank]] but with the teleport mass
    * concentrated on one node —
    *   rank⁰(v)   = Scale·[v = seed]
    *   rankⁿ⁺¹(v) = 0.15·Scale·[v = seed] + 0.85·Σ_{u→v} rankⁿ(u) ÷ d(u)
    * — so rank measures proximity to the SEED, not global centrality: the
    * "items for this user" recommendation primitive (high-rank item nodes
    * are the seed's neighborhood weighted by random-walk return
    * probability). Same scale story as pagerank (one checkpointed edge
    * list, one join + map-side sum per round, flat plans via per-round
    * checkpoint, zero driver-side data — the seed is an aggregate row
    * joined in, never a collected scalar), and the same
    * integer-arithmetic-equals-oracle argument: truncating BIGINT math is
    * order-free, so the recursive-CTE replay is exact.
    */
  def ppr(s: SparkSession, dir: String, rounds: Int = Rounds): DataFrame = {
    // same src co-location as pagerank — the per-round join must reuse the
    // edge arrangement, not rebuild it
    val ecp = edgeCheckpoint(s, dir, edgesWithDeg(s, dir), "src", coLocate = true)
    try {
    val edges = ecp.df
    // the 1-row seed aggregate is materialized ONCE and BROADCAST into the
    // init and each round's teleport term (round 17): the previous shape
    // cross-joined it into the rank table and carried `seed` through every
    // round's groupBy KEY — one extra BIGINT per rank row through every
    // exchange and every barrier for all ten rounds. The broadcast keeps
    // the "never a collected scalar" discipline (the seed stays a
    // distributed row; broadcasting a 1-row frame is a join strategy, not
    // a driver data path), narrows the round shuffle key to `node` alone,
    // and ReuseExchange dedups the identical 1-row broadcast inside each
    // stride tower.
    val seedCp = TransientCache.checkpoint(
      Tables.events(s, dir).agg(min(col("user_id")).as("seed")))
    val tele = lit(Scale - Scale * DampNum / DampDen)
    // same |V|-sized barrier level as [[pagerank]], chosen with the edges
    var barrier = TransientCache.checkpoint(
      edges.select(col("src").as("node")).distinct()
        .join(broadcast(seedCp), col("node") === col("seed"), "left")
        .select(col("node"),
          when(col("seed").isNotNull, lit(Scale)).otherwise(lit(0L)).as("rank")),
      ecp.barrierLevel)
    var ranks = barrier
    var round = 0
    while (round < rounds) {
      val step =
        ranks.join(edges, ranks("node") === edges("src"))
          .select(col("dst"), expr("rank DIV d").as("contrib"))
          .groupBy(col("dst").as("node"))
          .agg(expr(s"(sum(contrib) * $DampNum) DIV $DampDen").as("walk"))
          .join(broadcast(seedCp), col("node") === col("seed"), "left")
          .select(col("node"),
            (when(col("seed").isNotNull, tele).otherwise(lit(0L)) +
              col("walk")).as("rank"))
      round += 1
      // same stride policy as [[pagerank]]: bounded lazy tower between
      // materialization barriers
      if (round % CheckpointStride == 0 || round == rounds) {
        val next = TransientCache.checkpoint(step, ecp.barrierLevel)
        TransientCache.unpin(barrier)
        barrier = next
        ranks = next
      } else {
        ranks = step
      }
    }
    // the final ranks are materialized rows with no lineage back to the
    // seed frame — its single block can go now
    TransientCache.unpin(seedCp)
    ranks.select(col("node"), col("rank"))
    // same finally contract as [[pagerank]]
    } finally ecp.release()
  }

  /** item_cooccur — for every ordered item pair (i, j), i ≠ j, the number
    * of (un-capped) users who touched both, keeping each item's top-5
    * partners (by n_users desc, j asc — a total order, so the top-k set is
    * deterministic). Emitting ordered pairs keeps "partners OF i" a simple
    * filter for the downstream recommender.
    *
    * Plan shape (round 16): one distinct (map-side combined), ONE
    * u-exchange building the capped per-user item list
    * ([[cappedUserItems]] — the cap is a size() filter, no window sort),
    * the pair fan-out exploding in place from the bounded array (no
    * self-join), then a map-side combined count on (i, j) and a per-i
    * top-k window.
    */
  def itemCooccur(s: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = cappedUserItems(s, dir)
      .select(explode(col("items")).as("item"), col("items"))
      .select(col("item"), explode(col("items")).as("partner"))
      .filter(col("item") =!= col("partner"))
      .groupBy("item", "partner")
      .agg(count(lit(1)).as("n_users"))
    pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy("item").orderBy(col("n_users").desc, col("partner"))))
      .filter(col("rk") <= topK)
      .select("item", "partner", "n_users", "rk")
  }
}
