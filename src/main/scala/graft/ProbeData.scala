package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe fixture generator — the committed, reproducible recipe
  * behind SCALE.md's 10×/100× probe datasets (the /tmp/sf1 set the probe
  * tables cite was materialized with exactly this transform).
  *
  * `ProbeData <srcSfDir> <outDir> <factor>` replicates every fact table
  * `factor`× with ALL entity-key columns shifted by replica·10⁹, so:
  *   - join cardinalities scale HONESTLY (each replica's orders join each
  *     replica's customers — the join output grows linearly, not
  *     quadratically as it would if keys collided across replicas);
  *   - text/embedding payloads repeat VERBATIM, planting `factor`-deep
  *     exact-duplicate groups — the adversarial regime for near-dup
  *     operators (candidate generation must scale with distinct content,
  *     not replicas; the dedup_ngram 640 s → 9 s set-collapse fix was
  *     found by exactly this property);
  *   - the event time RANGE stays fixed (density grows `factor`× — the
  *     real shape of more traffic over the same month), and the reference
  *     dims (region, nation) stay constant like any conformed dimension.
  *
  * The generator is one crossJoin per table against a broadcast replica
  * range (a factor-way union was O(factor) plan nodes — analysis poison at
  * the sf1000 probe's factor 10,000) — no driver-side data, safe at any
  * factor a local disk can hold.
  */
object ProbeData {

  /** Key shift between replicas: large enough that no fixture key crosses
    * replica boundaries at any supported factor (keys < 10⁹, factor ≤ 10⁴
    * ⇒ max shifted key < ~10¹³, comfortably inside long).
    */
  val ReplicaShift = 1000000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Tables copied through unchanged (conformed dimensions). */
  private val dims = Seq("region", "nation")

  def replicate(df: DataFrame, keys: Seq[String], factor: Int,
      replicaFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // One crossJoin against a broadcast replica range, not a factor-way
    // union (round 15): the union form built a plan with O(factor) nodes —
    // fine at the sf100 probe's factor 1000, quadratic-analysis poison at
    // the sf1000 probe's factor 10,000. Content is identical (row order
    // differs — replica-minor instead of replica-major — which nothing
    // downstream reads); replica 0 stays verbatim, r ≥ 1 drop the
    // replicaFilter rows, exactly as before.
    // collision-proof internal column name (r15 advice): a payload column
    // literally named "rep" would otherwise be ambiguous (or silently
    // dropped) — no fixture table may shadow the replica index
    val RepCol = "__replica__"
    require(!df.columns.contains(RepCol),
      s"replicate: input already has a $RepCol column")
    val reps = df.sparkSession.range(factor.toLong).select(col("id").as(RepCol))
    val crossed = df.crossJoin(broadcast(reps))
    val kept = replicaFilter match {
      case Some(f) => crossed.filter(col(RepCol) === 0L || f)
      case None => crossed
    }
    keys.foldLeft(kept)((d, k) =>
      d.withColumn(k, col(k) + col(RepCol) * lit(ReplicaShift)))
      .drop(RepCol)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ProbeData <srcSfDir> <outDir> <factor> [tableCsv]")
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    // 10000 supports the sf1000 probe (10,000× sf0.1 — round 15's
    // factor-10,000 table for the structural-bound claims); max shifted key
    // is factor·10⁹ + 10⁹ ≈ 10¹³, comfortably inside long. Always generate
    // from the BASE sf dir — re-replicating an already-replicated probe
    // dir would collide keys ((r1 + r2)·shift is not injective).
    require(factor >= 1 && factor <= 10000, "factor in [1, 10000]")
    // optional subset for decade probes where only a few tables are read
    // (sf100 documents+events is ~15 GB; replicating lineitem too would
    // be disk spent on tables no probed query scans)
    val tablesWanted: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).toSet)
    def wanted(t: String): Boolean = tablesWanted.forall(_.contains(t))
    val spark = Harness.session()
    // single-FILE tables like the source fixtures (the streaming staging
    // copies `$dir/events.parquet` as one file) — written with SMALL row
    // groups (8 MB) because a one-task write would otherwise produce one
    // giant row group and parquet is only splittable at row-group
    // boundaries: measured, a one-row-group 500 k-doc file serialized every
    // tokenize scan onto one core (skipgram 19 → 99 s at sf10) no matter
    // how maxPartitionBytes sliced it
    def writeSingleFile(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val tmp = s"$out/.tmp_$table"
      df.repartition(1).write.mode("overwrite")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(tmp)
      // Files.list streams hold a directory fd until closed
      def listDir(dir: String): Array[String] = {
        val st = Files.list(Paths.get(dir))
        try st.toArray.map(_.toString) finally st.close()
      }
      val part = listDir(tmp).filter(p => p.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(out))
      Files.move(Paths.get(part), Paths.get(s"$out/$table.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      listDir(tmp).foreach(p => Files.deleteIfExists(Paths.get(p)))
      Files.deleteIfExists(Paths.get(tmp))
    }
    for ((table, keys) <- keyCols.toSeq.sortBy(_._1) if wanted(table)) {
      // embeddings: the decontam eval set is vec_id % BenchmarkMod == 0 and
      // ReplicaShift is divisible by BenchmarkMod, so a plain replication
      // re-plants the eval rows factor× — but a REAL eval set is fixed-size
      // while the corpus grows (r13 verdict: sf10 decontam_embed measured
      // the fixture, not the design). Replicas r ≥ 1 drop the eval-resident
      // rows; replica 0 stays verbatim, so the probed benchmark matrix is
      // constant at any factor and the corpus still grows ~factor×.
      // ...and the same disease held for DOCUMENTS (round 15, the r14
      // verdict's fixture sweep): decontam's benchmark side is the shingle
      // sets of doc_id % BenchmarkMod == 0 rows, and ReplicaShift re-plants
      // those factor× too — a growing stand-in for what is a fixed-size
      // real-world artifact. Replicas drop them; replica 0 keeps the
      // verbatim eval set, so decontam/pipeline_curate probe a constant
      // benchmark matrix against a ~factor× corpus.
      val evalFilter =
        if (table == "embeddings")
          Some(col("vec_id") % operators.Curation.BenchmarkMod =!= 0)
        else if (table == "documents")
          Some(col("doc_id") % operators.Curation.BenchmarkMod =!= 0)
        else None
      writeSingleFile(
        replicate(spark.read.parquet(s"$src/$table.parquet"), keys, factor,
          evalFilter),
        table)
      println(s"[probe] $table x$factor written")
    }
    for (d <- dims if wanted(d)) {
      writeSingleFile(spark.read.parquet(s"$src/$d.parquet"), d)
      println(s"[probe] $d copied")
    }
    spark.stop()
  }
}
