package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Plan-shape regression suite: the ".explain and iterate" discipline as
  * enforced assertions. Each case pins the STRUCTURAL property that makes a
  * registered query scale — pushdown reaching the scan, broadcast where a
  * side is bounded, map-side window-group-limit pruning, the absence of
  * cartesian fallbacks — so a refactor that silently degrades the plan
  * (the triangle_count re-derivation incident this suite grew out of)
  * fails CI instead of surviving to a 100× corpus.
  *
  * Assertions read the EXECUTED plan string after an action where AQE
  * matters (AQE finalizes joins at runtime), and the analyzed/spark plan
  * otherwise.
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  /** Executed-plan string AFTER running the query (AQE-final). */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, Sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q2_filter: predicate and projection reach the parquet scan") {
    val df = SparkEntry.queries("q2_filter")(spark, Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), "filters must push to the scan")
    assert(!plan.contains("PushedFilters: []"), "pushed filter list must be non-empty")
    // projection pruning: the read schema must not materialize every column
    val readSchema = "ReadSchema: struct<" +
      plan.split("ReadSchema: struct<")(1).split(">")(0) + ">"
    assert(readSchema.split(",").length < 10,
      s"scan should read a pruned column set, got $readSchema")
  }

  test("q3_join_broadcast: the dimension side broadcasts (no shuffle join)") {
    val plan = executedPlan("q3_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("winsorize and rank_normalize: thresholds broadcast back; raw stream never window-sorted") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    Seq("winsorize", "rank_normalize").foreach { q =>
      val df = SparkEntry.queries(q)(spark, Sf0001)
      df.collect()
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        s"$q: histogram join must broadcast")
      // every Window must sit ABOVE the histogram aggregate — a window whose
      // subtree has no Aggregate would be sorting the raw event stream
      val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$q: expected the histogram window passes")
      wins.foreach { w =>
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"$q: a Window runs over the raw stream, not the histogram")
      }
    }
  }

  test("domain_cap and stratified_sample: map-side WindowGroupLimit pruning is present") {
    Seq("domain_cap", "stratified_sample").foreach { q =>
      val plan = executedPlan(q)
      assert(plan.contains("WindowGroupLimit"), s"$q: top-k must prune map-side")
    }
  }

  test("skipgram and q41_range_frame: no cartesian or nested-loop fallback anywhere") {
    Seq("skipgram", "q41_range_frame").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian fallback")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: nested-loop fallback")
    }
  }

  test("mm_image_phash: candidate generation is a band-bucket equi-join, never all-pairs") {
    val plan = executedPlan("mm_image_phash")
    assert(!plan.contains("CartesianProduct"), "cartesian fallback")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "hamming search must stay a bucketed equi-join, not a nested loop")
  }

  test("q14_join_range: the equi key drives the join; range stays a residual condition") {
    val plan = executedPlan("q14_join_range")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "range predicate must not demote the join to a non-equi strategy")
  }

  test("ann_ivfpq and mix_temperature: broadcast-shaped joins, no cartesian fallback") {
    // ivfpq: encoded corpus joins the (bounded) ADC probe table BY CELL via
    // broadcast; mix_temperature: the per-language counts broadcast back.
    // Either shape degrading to a cartesian/shuffle-everything plan is the
    // regression this case exists to catch.
    Seq("ann_ivfpq", "mix_temperature").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian fallback")
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: expected the bounded side to broadcast-hash-join")
      TransientCache.releaseAll(spark)
    }
  }

  test("dedup_ngram prefix path: candidates ride the prefix-id equi-join over UNIQUE sets") {
    // the sf0.001 fixture's small vocabulary takes the dense-mask path, so
    // force the PREFIX path with a >64-word corpus (the DedupSpec recipe)
    val s = spark
    import s.implicits._
    val uniques = (0L until 60L).map { i =>
      (i, (0 until 20).map(j => s"w${(i * 7 + j * 3) % 120}").mkString(" "))
    }
    // exact replicas engage the adaptive set-collapse branch (the shape
    // under test); without them gset is a map-side projection by design
    val corpus = uniques ++ uniques.take(20).map { case (id, t) => (id + 1000L, t) }
    val d = scratchDir("planshape-ngram").toString
    corpus.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val df = graft.operators.Dedup.ngramJaccard(spark, d, threshold = 0.6)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the round-12 set-dedup stage: identical ENCODED sets collapse BEFORE
    // candidate generation (640 s → 9 s at the 10× probe). Regressions this
    // case catches: an all-pairs/nested-loop fallback, or the encoded-set
    // grouping disappearing (candidates back at replica scale)
    assert(!plan.contains("CartesianProduct"), "cartesian fallback")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "prefix filtering must stay an equi-join on token ids")
    assert(plan.contains("keys=[tids"),
      "the identical-set collapse must group on the encoded int arrays")
    TransientCache.releaseAll(spark)
  }

  test("hybrid_rrf: lexical arm is a postings equi-join, never a corpus jaccard scan") {
    val plan = executedPlan("hybrid_rrf")
    // round 14: the lexical ranker must score CANDIDATES (docs sharing ≥1
    // shingle with a query, via the exploded-postings broadcast equi-join
    // + fixed-width count aggregate), never recompute the 8×N
    // array_intersect/array_union jaccard over the whole corpus — the r13
    // verdict's "first plan that worked" regression this pin retires. The
    // deliberate constant-size crosses (the listK+1-row zero-fill pool ×
    // 8 query ids, and the fusion of two (queries×listK) lists) are the
    // only non-equi joins left and none of them touch corpus-scale rows.
    assert(!plan.contains("array_intersect"),
      "lexical scoring fell back to the full-scan jaccard")
    assert(!plan.contains("array_union"),
      "lexical scoring fell back to the full-scan jaccard")
    assert(plan.contains("BroadcastHashJoin"),
      "query postings must broadcast into the corpus postings scan")
    assert(!plan.contains("CartesianProduct"), "cartesian fallback")
    TransientCache.releaseAll(spark)
  }

  test("substring_scrub: dictionary-scale shared grams broadcast into the " +
      "flag join; no InMemoryTableScan of the positional stream") {
    val plan = executedPlan("substring_scrub")
    // round 14 sf100 probe: AQE picked SMJ for the flag join (shared
    // serialized just past the 10 MB default), the g-sort destroyed
    // per-doc row order and interval compression achieved 0% — the
    // adaptive explicit broadcast is the fix this pin protects. The
    // cached frame must be the bounded shared-gram table, never the
    // one-row-per-token-position occurrence stream (the heavy_hitters
    // cache lesson).
    // AQE's toString prints the pre-runtime Initial Plan too — negative
    // assertions must read only the final section
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(finalPlan.contains("BroadcastHashJoin"),
      "dictionary-scale shared grams must broadcast into the flag join")
    // at fixture scale EVERY join here must broadcast — a SortMergeJoin
    // would mean the adaptive flag join regressed to the shape whose g-sort
    // defeats interval compression
    assert(!finalPlan.contains("SortMergeJoin"),
      "a join fell back to sort-merge at dictionary-scale shared grams")
    assert(!finalPlan.contains("CartesianProduct"), "cartesian fallback")
    TransientCache.releaseAll(spark)
  }

  test("hybrid_rrf_ivfpq: dense candidates stay cell-bucketed, fusion stays broadcast") {
    val plan = executedPlan("hybrid_rrf_ivfpq")
    // the IVFPQ dense side must keep its broadcast-by-cell shape (the
    // ann_ivfpq pin) inside the fused query; the only non-equi joins are
    // the deliberate 8-row broadcast query-side crosses of the lexical
    // ranker and the constant-size fusion
    assert(!plan.contains("CartesianProduct"), "cartesian fallback")
    assert(plan.contains("BroadcastHashJoin"),
      "expected the encoded corpus to broadcast-hash-join the ADC probe table")
    TransientCache.releaseAll(spark)
  }

  test("quality_band_keep: thresholds broadcast back; scored stream never window-sorted") {
    val plan = executedPlan("quality_band_keep")
    // the rank_normalize kernel shape: the cumulative window runs over the
    // (source, score) histogram and the two threshold scores broadcast back
    // onto the scored stream — a sort of the raw corpus would be the
    // regression
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      "per-source thresholds must broadcast back onto the scored stream")
    assert(!plan.contains("CartesianProduct"), "cartesian fallback")
    TransientCache.releaseAll(spark)
  }

  test("rag_context_pack: the candidate pool is a TakeOrdered, never a corpus sort") {
    val plan = executedPlan("rag_context_pack")
    // orderBy(score).limit(poolK) must plan as a distributed TakeOrdered;
    // the pack window then covers only the constant ≤ poolK-row pool
    assert(plan.contains("TakeOrderedAndProject"),
      "the BM25 pool must be a distributed top-k, not a global sort")
    TransientCache.releaseAll(spark)
  }

  test("lsh_tune and minhash_est_error: banding joins stay equi, never all-pairs") {
    Seq("lsh_tune", "minhash_est_error").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian fallback")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q: candidate generation must stay a (band, bkey) equi-join")
      TransientCache.releaseAll(spark)
    }
  }

  test("hard_negatives and ann_dim_ablation: per-query top-k prunes map-side") {
    // the same WindowGroupLimit pushdown ann_brute relies on: rank ≤ k
    // must prune below the query_id exchange, not after a full sort
    Seq("hard_negatives", "ann_dim_ablation").foreach { q =>
      val plan = executedPlan(q)
      assert(plan.contains("WindowGroupLimit"),
        s"$q: expected map-side WindowGroupLimit pruning")
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian fallback")
      TransientCache.releaseAll(spark)
    }
  }

  test("span_corrupt: one typed pass, shuffle-free — no joins, no window, no re-aggregation") {
    // span placement and both output strings are pure per-document
    // functions; the plan must stay scan + typed map (re-introducing the
    // old posexplode + doc-window + collect_list formulation shows up as
    // Exchange/Window/Aggregate here)
    val plan = executedPlan("span_corrupt")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "span placement is a pure per-row function — no pairing joins at all")
    assert(!plan.contains("Exchange"), s"must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"must not window-sort:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate") &&
      !plan.contains("ObjectHashAggregate"),
      s"must not re-aggregate per doc:\n$plan")
  }

  test("q49_interval_join: binning turns the pure range join into an equi join") {
    val plan = executedPlan("q49_interval_join")
    // this query has NO natural equi key — without the bin rewrite Spark
    // MUST fall back to a nested-loop strategy; the bin key is the whole
    // point, so its absence is the regression this case exists to catch
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "interval join must ride the synthetic bin key, not a nested loop")
    assert(plan.contains("Join"), "expected an actual join on the bin key")
  }

  test("dedup_exact: one digest shuffle, no join at all") {
    val plan = executedPlan("dedup_exact")
    assert(!plan.contains("Join"), "exact dedup is a pure aggregate")
    assert(plan.split("\n").count(_.contains("Exchange")) <= 2,
      "one logical shuffle on the digest (AQE may add a read stage)")
  }

  test("q5_topk: global top-k is a TakeOrdered, never a full sort") {
    val plan = executedPlan("q5_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(300))
  }

  test("corpus_report: constant-size report plans stay join-light (one cross of two scalars)") {
    val plan = executedPlan("corpus_report")
    assert(!plan.contains("SortMergeJoin"),
      "scalar aggregates must combine without a shuffle join")
  }

  test("cdc_apply: last-write-wins is a partial-aggregating argmax, never a window") {
    val plan = executedPlan("cdc_apply").split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), "no window: the argmax replaces row_number")
    // struct-valued max lowers to SortAggregate (struct buffers aren't
    // hash-mutable); the scale property is that BOTH phases exist — the
    // exchange carries one candidate per key per mapper, not the log
    assert(plan.split("\n").count(_.contains("SortAggregate")) >= 2,
      "partial + final aggregate: each mapper ships one candidate per key")
    assert(plan.split("\n").count(_.contains("Exchange")) <= 2,
      "one key shuffle (AQE may add a read stage)")
  }

  test("corr_stats: one scan, one global aggregate, pair rows unfold from the scalar") {
    val plan = executedPlan("corr_stats").split("== Initial Plan ==")(0)
    assert(plan.split("\n").count(_.contains("FileScan parquet")) == 1,
      "all 15 sums come from a single lineitem scan")
    assert(!plan.contains("Join"), "no join: the pair table explodes from one row")
    assert(plan.contains("Exchange SinglePartition"),
      "the only exchange gathers partition partials into the scalar row")
  }

  test("dedup_sorted: rank windows become equi-joins — no range join fallback, no global window") {
    val plan = executedPlan("dedup_sorted")
    assert(!plan.contains("CartesianProduct"), "cartesian fallback")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "offset explosion must keep the window join hash-partitionable")
    assert(!plan.contains("Window"),
      "rank comes from zipWithIndex, never a single-partition window")
  }

  test("wc_udaf: the SQL-registered Aggregator still plans partial aggregation") {
    val plan = executedPlan("wc_udaf").split("== Initial Plan ==")(0)
    assert(plan.split("\n").count(_.contains("Aggregate")) >= 2,
      "registry path must keep the map-side combine")
    assert(plan.toLowerCase.contains("partial"),
      "expected a partial aggregate phase around the Aggregator merge")
  }

  test("cogroup_fill: a CoGroup node, not a join — one exchange per side") {
    val plan = executedPlan("cogroup_fill").split("== Initial Plan ==")(0)
    assert(plan.contains("CoGroup"), "typed cogroup must plan as CoGroup")
    assert(!plan.contains("Join"), "no join node anywhere")
    assert(plan.split("\n").count(_.contains("Exchange")) <= 4,
      "one hash exchange per side (AQE may add read stages)")
  }

  test("line_dedup: lines travel as digests and elect firsts via partial aggregation") {
    val plan = executedPlan("line_dedup")
    assert(!plan.contains("Window"),
      "first-occurrence election is min(struct), not row_number")
    assert(plan.split("\n").count(_.contains("HashAggregate")) >= 2,
      "digest election partial-aggregates map-side")
  }

  test("text_stats and text_quality: pure per-doc typed passes, shuffle-free") {
    for (name <- Seq("text_stats", "text_quality")) {
      val plan = executedPlan(name)
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n$plan")
      assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
        s"$name must not aggregate:\n$plan")
      assert(!plan.contains("Generate"), s"$name must not explode:\n$plan")
    }
  }

  test("vocab_encode: the encode side is shuffle-free (broadcast vocab map, one typed pass)") {
    // The returned frame is ONLY the encode pass — the vocab build runs as
    // its own bounded TakeOrdered job at construction time. The encode plan
    // must be a pure scan + typed map: re-introducing the old
    // explode + groupBy(doc_id).collect_list formulation (the whole token
    // stream through an exchange) shows up here as an Exchange/Aggregate.
    val plan = executedPlan("vocab_encode")
    assert(!plan.contains("Exchange"),
      s"encode side must not shuffle:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"encode side must not re-aggregate per doc:\n$plan")
    assert(!plan.contains("Generate"),
      s"encode side must not re-explode the corpus:\n$plan")
  }
}
