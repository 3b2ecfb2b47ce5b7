package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val harness = Harness()
    // Optional subset for local iteration (same convention as
    // SPARK_GRAFT_BENCH_ONLY); the driver sets neither, so its gate always
    // dumps the full registry
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name must fail loudly: silently dumping nothing would leave
    // stale parquet from a prior run for the cross-check to false-pass on
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown SPARK_GRAFT_VERIFY_ONLY queries: $unknown")
    }
    dump(harness, sfDir, outDir,
      SparkEntry.queries.keys.filter(n => only.forall(_(n))).toSeq)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    harness.spark.stop()
  }

  /** Write each named query's result as one parquet dir `outDir/<name>`.
    * Every query runs under [[Harness.run]], so a query's dump cannot
    * depend on which queries ran before it; a failing query is reported
    * and skipped.
    */
  def dump(harness: Harness, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try harness.run { s =>
        SparkEntry.queries(name)(s, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
  }
}
