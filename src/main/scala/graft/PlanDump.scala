package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main (optimization rounds): write `.explain("formatted")` for
  * named registered queries to files, so plan-shape claims (Exchange count,
  * join strategy, PushedFilters/ReadSchema) are checkable without running
  * Spark. Usage:
  *
  *   runMain graft.PlanDump <outDir> <suffix> <query1,query2,...>
  *
  * writes `<outDir>/<query>_<suffix>.txt` per query. Runs through the same
  * [[Harness]] as Bench, so the dumped plans are the plans the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val Array(outDir, suffix, names) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val harness = Harness()
    Files.createDirectories(Paths.get(outDir))
    for (name <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      // queryExecution.explainString materializes the same text explain()
      // prints; "formatted" = numbered operators + per-operator details
      val txt = harness.run(s => fn(s, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    harness.spark.stop()
  }
}
