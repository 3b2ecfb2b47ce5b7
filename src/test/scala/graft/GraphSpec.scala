package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Graph-operator semantics: the distributed fixed-point PageRank against a
  * driver-side brute-force replay (same integer arithmetic, same rounds) on
  * both a planted graph and the sf0.001 fixture, plus co-occurrence pair
  * counting and the hot-user cap.
  */
class GraphSpec extends AnyFunSuite {
  import TestSpark._

  /** Temp events.parquet holding one event per (user, item) pair — ts as
    * raw nanos like the driver fixture; only user_id and props matter here.
    */
  private def writeInteractions(pairs: Seq[(Long, Long)]): String = {
    val s = spark
    import s.implicits._
    val dir = scratchDir("graph").toString
    pairs.zipWithIndex.map { case ((u, k), idx) =>
      (idx.toLong, 1704067200000000000L + idx * 1000000000L, u, "view", 1.0,
        s"""{"k": $k}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Driver-side replay of the documented recurrence: bidirected edges,
    * rank⁰ = Scale, rankⁿ⁺¹ = 150000 + 85% of Σ rankⁿ(u) ÷ d(u) — all
    * truncating Long division, exactly as the distributed loop and the
    * DuckDB recursive CTE compute it.
    */
  private def bruteRank(interactions: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val edges = interactions.distinct.flatMap { case (u, k) =>
      val i = Graph.ItemBase + k
      Seq((u, i), (i, u))
    }
    val out = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var rank: Map[Long, Long] = out.keys.map(_ -> Graph.Scale).toMap
    for (_ <- 0 until rounds) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (src, dst) => contrib(dst) += rank(src) / out(src) }
      rank = rank.keys.map(n => n -> (150000L + contrib(n) * 85L / 100L)).toMap
    }
    rank
  }

  private def collectRanks(dir: String): Map[Long, Long] =
    Graph.pagerank(spark, dir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank")).toMap

  test("pagerank: planted star graph matches the brute-force integer replay") {
    // user 1 touches items 10,11,12; users 2,3 each touch item 10 — item 10
    // is the hub and must outrank the leaf items
    val pairs = Seq[(Long, Long)]((1, 10), (1, 11), (1, 12), (2, 10), (3, 10))
    val dir = writeInteractions(pairs)
    val got = collectRanks(dir)
    assert(got === bruteRank(pairs, Graph.Rounds))
    val hub = got(Graph.ItemBase + 10)
    assert(hub > got(Graph.ItemBase + 11) && hub > got(Graph.ItemBase + 12))
  }

  test("pagerank: sf0.001 fixture matches the brute-force replay node-for-node") {
    val evs = sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id",
        "CAST(get_json_object(props, '$.k') AS BIGINT) AS k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(collectRanks(Sf0001) === bruteRank(evs, Graph.Rounds))
  }

  test("pagerank: round counts not divisible by the checkpoint stride are exact") {
    // the strided loop's terminal barrier fires at round == rounds even when
    // stride ∤ rounds; pin a count in every residue class of the stride
    val pairs = Seq[(Long, Long)]((1, 10), (1, 11), (1, 12), (2, 10), (3, 10))
    val dir = writeInteractions(pairs)
    for (rounds <- Seq(1, Graph.CheckpointStride - 1, Graph.CheckpointStride + 2)) {
      val got = Graph.pagerank(spark, dir, rounds).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank")).toMap
      assert(got === bruteRank(pairs, rounds), s"rounds=$rounds")
    }
  }

  /** Driver-side replay of the personalized recurrence: teleport mass on
    * the minimum user only, same truncating Long arithmetic.
    */
  private def brutePpr(interactions: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val edges = interactions.distinct.flatMap { case (u, k) =>
      val i = Graph.ItemBase + k
      Seq((u, i), (i, u))
    }
    val out = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val seed = interactions.map(_._1).min
    var rank: Map[Long, Long] =
      out.keys.map(n => n -> (if (n == seed) Graph.Scale else 0L)).toMap
    for (_ <- 0 until rounds) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (src, dst) => contrib(dst) += rank(src) / out(src) }
      rank = rank.keys.map(n =>
        n -> ((if (n == seed) 150000L else 0L) + contrib(n) * 85L / 100L)).toMap
    }
    rank
  }

  private def collectPpr(dir: String): Map[Long, Long] =
    Graph.ppr(spark, dir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank")).toMap

  test("ppr: proximity to the seed, not global centrality") {
    // seed user 1 touches item 10; distant users 2,3,4 make item 20 the
    // global hub. Global PageRank ranks the hub highest; personalized rank
    // from user 1 must put item 10 above item 20.
    val pairs = Seq[(Long, Long)]((1, 10), (2, 10), (2, 20), (3, 20), (4, 20))
    val dir = writeInteractions(pairs)
    val got = collectPpr(dir)
    assert(got === brutePpr(pairs, Graph.Rounds))
    assert(got(Graph.ItemBase + 10) > got(Graph.ItemBase + 20))
    // the global ranking disagrees — the hub wins there
    val global = collectRanks(dir)
    assert(global(Graph.ItemBase + 20) > global(Graph.ItemBase + 10))
  }

  test("ppr: sf0.001 fixture matches the brute-force integer replay") {
    val evs = sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id",
        "CAST(get_json_object(props, '$.k') AS BIGINT) AS k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(collectPpr(Sf0001) === brutePpr(evs, Graph.Rounds))
  }

  test("itemCooccur: planted pairs count co-touching users with a total-order top-k") {
    // users 1,2 touch {10,11}; user 3 touches {10,12}
    val dir = writeInteractions(
      Seq[(Long, Long)]((1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 12)))
    val got = Graph.itemCooccur(spark, dir).collect()
      .map(r => (r.getAs[Long]("item"), r.getAs[Long]("partner")) ->
        (r.getAs[Long]("n_users"), r.getAs[Int]("rk"))).toMap
    val i = Graph.ItemBase
    assert(got((i + 10, i + 11)) === ((2L, 1)))  // 2 shared users, top partner
    assert(got((i + 10, i + 12)) === ((1L, 2)))
    assert(got((i + 11, i + 10)) === ((2L, 1)))  // symmetric count
    assert(got((i + 12, i + 10)) === ((1L, 1)))
    // counts are symmetric across the ordered-pair mirror
    got.keys.foreach { case (a, b) =>
      got.get((b, a)).foreach { case (n, _) => assert(n === got((a, b))._1) }
    }
  }

  test("itemCooccur: a user past MaxItemsPerUser is excluded entirely") {
    val bot = (0 until Graph.MaxItemsPerUser + 1).map(k => (99L, k.toLong))
    val normal = Seq[(Long, Long)]((1, 0), (1, 1), (2, 0), (2, 1))
    val got = Graph.itemCooccur(spark, writeInteractions(bot ++ normal)).collect()
      .map(r => (r.getAs[Long]("item"), r.getAs[Long]("partner")) -> r.getAs[Long]("n_users"))
      .toMap
    val i = Graph.ItemBase
    // only the two normal users count; the bot's 201-item fan-out is gone
    assert(got === Map((i + 0, i + 1) -> 2L, (i + 1, i + 0) -> 2L))
  }

  test("itemCooccur: the cap counts null-item interactions like the oracle's count(*)") {
    // user 7 has MaxItemsPerUser distinct items PLUS one event whose props
    // carry no k (item NULL after the json extract): the oracle's DISTINCT
    // (u, i) keeps one (7, NULL) row and its count(*) cap counts it, so
    // user 7 is over cap and contributes NO pairs; users 1/2 are the
    // control pair. This pins the r16 list-build rewrite to the window
    // form's semantics — size(collect_list) alone would NOT count the null
    // row and would keep user 7.
    val s = spark
    import s.implicits._
    val dir = scratchDir("graph-null").toString
    val rows =
      (0 until Graph.MaxItemsPerUser).map(k =>
        (k.toLong, 1704067200000000000L + k * 1000000000L, 7L, "view", 1.0,
          s"""{"k": $k}""")) ++
        Seq((9000L, 1704067200000000000L, 7L, "view", 1.0, """{"x": 1}""")) ++
        Seq((9001L, 1704067200000000000L, 1L, "view", 1.0, """{"k": 0}"""),
          (9002L, 1704067200000000000L, 1L, "view", 1.0, """{"k": 1}"""),
          (9003L, 1704067200000000000L, 2L, "view", 1.0, """{"k": 0}"""),
          (9004L, 1704067200000000000L, 2L, "view", 1.0, """{"k": 1}"""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Graph.itemCooccur(spark, dir).collect()
      .map(r => (r.getAs[Long]("item"), r.getAs[Long]("partner")) -> r.getAs[Long]("n_users"))
      .toMap
    val i = Graph.ItemBase
    assert(got === Map((i + 0, i + 1) -> 2L, (i + 1, i + 0) -> 2L))
  }

  test("boundedCollectList: within-cap groups match collect_list, over-cap buffers stop at limit+1") {
    val s = spark
    import s.implicits._
    // group 1: 5 elements (within limit 8); group 2: 1000 elements (over);
    // group 3: nulls interleaved — skipped exactly like collect_list
    val rows = (0 until 5).map(v => (1L, Some(v.toLong))) ++
      (0 until 1000).map(v => (2L, Some(v.toLong))) ++
      Seq((3L, Some(1L)), (3L, None), (3L, Some(2L)), (3L, None))
    import org.apache.spark.sql.functions.{col, collect_list}
    val df = rows.toDF("g", "v")
    val got = df.groupBy("g").agg(
      graft.functions.GraftFunctions.boundedCollectList(col("v"), 8).as("bl"),
      collect_list(col("v")).as("cl"))
      .collect()
      .map(r => r.getAs[Long]("g") ->
        ((r.getSeq[Long](1).sorted, r.getSeq[Long](2).sorted))).toMap
    assert(got(1L)._1 === got(1L)._2)              // within cap: identical
    assert(got(1L)._1 === Seq(0L, 1L, 2L, 3L, 4L))
    assert(got(2L)._1.length === 9)                // limit + 1, not 1000
    assert(got(2L)._2.length === 1000)
    assert(got(3L)._1 === Seq(1L, 2L))             // nulls skipped like collect_list
    assert(got(3L)._1 === got(3L)._2)
  }

  /** Interactions giving each wanted item–item edge exactly
    * [[Graph.MinSharedUsers]] dedicated co-touching users, so the planted
    * projection graph is exactly the edge list (no accidental edges: each
    * user touches only one pair).
    */
  private def edgeInteractions(edges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    edges.zipWithIndex.flatMap { case ((a, b), idx) =>
      (0 until Graph.MinSharedUsers.toInt).flatMap { r =>
        val u = 1000L + idx * 10L + r
        Seq((u, a), (u, b))
      }
    }

  /** Driver-side naive triangle count over an explicit undirected edge set:
    * per-node number of closed triples.
    */
  private def bruteTriangles(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val nodes = es.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      ai <- nodes.indices; bi <- (ai + 1) until nodes.size; ci <- (bi + 1) until nodes.size
      a = nodes(ai); b = nodes(bi); c = nodes(ci)
      if es((a, b)) && es((a, c)) && es((b, c))
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    counts.toMap
  }

  private def collectTriangles(dir: String): Map[Long, Long] =
    Graph.triangleCount(spark, dir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap

  test("triangleCount: planted sparse graph — one triangle, a pendant edge excluded") {
    val i = Graph.ItemBase
    // triangle {10,11,12} plus pendant edge (11,13): 13 is in no triangle
    val edges = Seq[(Long, Long)]((i + 10, i + 11), (i + 10, i + 12),
      (i + 11, i + 12), (i + 11, i + 13))
    val dir = writeInteractions(
      edgeInteractions(edges.map { case (a, b) => (a - i, b - i) }))
    assert(collectTriangles(dir) ===
      Map((i + 10) -> 1L, (i + 11) -> 1L, (i + 12) -> 1L))
  }

  test("triangleCount: overlapping triangles count each closure once per node") {
    val i = Graph.ItemBase
    // K4 on {10,11,12,13}: four triangles, each node in exactly three
    val edges = for {
      a <- 10L to 13L; b <- (a + 1) to 13L
    } yield (a, b)
    val dir = writeInteractions(edgeInteractions(edges))
    assert(collectTriangles(dir) === (10L to 13L).map(k => (i + k) -> 3L).toMap)
  }

  test("triangleCount: sf0.001 fixture matches the naive driver-side replay") {
    // rebuild the projection edges with the operator's own semantics, then
    // count triangles naively — the degree-ordered plan must agree
    val ui = sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id AS u",
        s"${Graph.ItemBase} + CAST(get_json_object(props, '$$.k') AS BIGINT) AS i")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val byUser = ui.groupBy(_._1).filter(_._2.size <= Graph.MaxItemsPerUser)
    val pairCounts = byUser.values.toSeq.flatMap { is =>
      val items = is.map(_._2).sorted
      for (x <- items.indices; y <- (x + 1) until items.size)
        yield (items(x), items(y))
    }.groupBy(identity).view.mapValues(_.size.toLong)
    val edges = pairCounts.filter(_._2 >= Graph.MinSharedUsers).keys.toSet
    assert(collectTriangles(Sf0001) === bruteTriangles(edges))
  }

  private def collectHops(dir: String): Map[Long, Long] =
    Graph.bfsHops(spark, dir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("hop")).toMap

  /** Driver-side BFS from the minimum user over the bidirected graph. */
  private def bruteBfs(interactions: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = interactions.distinct.flatMap { case (u, k) =>
      val i = Graph.ItemBase + k
      Seq((u, i), (i, u))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seed = interactions.map(_._1).min
    var dist = Map(seed -> 0L)
    var frontier = Set(seed)
    for (h <- 1 to rounds) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil)) -- dist.keySet
      dist ++= next.map(_ -> h.toLong)
      frontier = next
    }
    dist
  }

  test("bfsHops: planted chain — alternating user/item hops, horizon cut at 6") {
    // chain u1–i10–u2–i11–u3–i12–u4–i13–u5: hops 0..8; 7 and 8 fall past
    // the horizon
    val pairs = Seq[(Long, Long)](
      (1, 10), (2, 10), (2, 11), (3, 11), (3, 12), (4, 12), (4, 13), (5, 13))
    val dir = writeInteractions(pairs)
    val i = Graph.ItemBase
    assert(collectHops(dir) === Map(
      1L -> 0L, (i + 10) -> 1L, 2L -> 2L, (i + 11) -> 3L,
      3L -> 4L, (i + 12) -> 5L, 4L -> 6L))
  }

  test("bfsHops: sf0.001 fixture matches the driver-side BFS") {
    val evs = sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id",
        "CAST(get_json_object(props, '$.k') AS BIGINT) AS k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(collectHops(Sf0001) === bruteBfs(evs, Graph.BfsRounds))
  }

  test("edge checkpoint: bucketed-parquet spill past the byte threshold, " +
    "serialized memory-and-disk below, outputs identical, spill released") {
    // the decision point behind the round-16 sf1000 find: past
    // EdgeSpillBytes BOTH block-manager forms died (MEMORY_AND_DISK_SER by
    // the disk-block re-inflate OOM, DISK_ONLY by scratch-disk exhaustion
    // — serialized row blocks carry no columnar encoding), so the edge
    // checkpoint must leave the block manager for a bucketed parquet spill
    def spillTables(): Seq[String] =
      spark.catalog.listTables().collect().map(_.name).toSeq
        .filter(_.startsWith("graft_edges_"))
    val pairs = Seq[(Long, Long)](
      (1, 10), (2, 10), (2, 11), (3, 11), (3, 12), (4, 12))
    val dir = writeInteractions(pairs)
    assert(!Graph.edgeSpills(spark, dir),
      "KB-scale fixture must keep the serialized in-memory form")
    val defaultHops = collectHops(dir)
    val defaultRanks = collectRanks(dir)
    spark.conf.set(Graph.EdgeSpillBytesConf, "1")
    try {
      assert(Graph.edgeSpills(spark, dir),
        "past-threshold source must take the spill form")
      // the storage form is physics only — bfs and pagerank outputs must
      // be bit-identical through either store (pagerank additionally pins
      // that the bucketed scan's partitioning substitutes for the
      // in-memory path's pre-checkpoint repartition)
      assert(collectHops(dir) === defaultHops)
      assert(collectRanks(dir) === defaultRanks)
      assert(spillTables().isEmpty,
        "release() must drop the spill table after the operator returns")
      assert(spark.conf.get(
        "spark.sql.legacy.bucketedTableScan.outputOrdering") === "false",
        "release() must restore the bucket-ordering planning conf")
    } finally spark.conf.unset(Graph.EdgeSpillBytesConf)
    assert(!Graph.edgeSpills(spark, dir),
      "unset must restore the default threshold")
  }

  test("spilled edge checkpoint: the round join streams pre-sorted buckets " +
    "— exactly one sort in the plan, on the rank side") {
    // the plan-shape half of the round-16 sf1000 find: a bucketed-but-
    // UNSORTED spill satisfies the join's distribution requirement, so no
    // exchange is inserted on the edge side — and with no exchange there
    // is no AQE re-plan boundary, so the SMJ sorts the full edge list
    // inside every round's fused scan stage (measured OOMing the timed
    // bfs_hops run at sf1000). sortBy'd one-file buckets report their
    // ordering, so EnsureRequirements inserts NO edge-side SortExec: the
    // only Sort in the round join's plan is the rank side's.
    import org.apache.spark.sql.functions.{col, lit}
    val pairs = Seq[(Long, Long)](
      (1, 10), (2, 10), (2, 11), (3, 11), (3, 12), (4, 12))
    val dir = writeInteractions(pairs)
    spark.conf.set(Graph.EdgeSpillBytesConf, "1")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the sort-merge path (at fixture size the planner would rather
    // broadcast — the property under test is the SMJ both sides are too
    // big for at spill scale)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ecp = Graph.edgeCheckpoint(spark, dir,
        Graph.edgesWithDeg(spark, dir), "src", coLocate = true)
      try {
        val edges = ecp.df
        val ranks = edges.select(col("src").as("node")).distinct()
          .withColumn("rank", lit(Graph.Scale))
        val joined = ranks.join(edges, ranks("node") === edges("src"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(plan.contains("Bucketed: true"),
          s"spilled edge read not bucketed:\n$plan")
        val sorts = "Sort \\[".r.findAllIn(plan).size
        assert(sorts === 1,
          s"expected exactly the rank-side sort, found $sorts:\n$plan")
      } finally ecp.release()
    } finally {
      spark.conf.unset(Graph.EdgeSpillBytesConf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }
}
