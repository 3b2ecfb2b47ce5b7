package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.SessionSweep

/** One SparkSession for the whole forked test JVM, built by [[Harness]].
  *
  * `local[4, 3]` = 4 executor threads, up to 3 attempts per task — retries on
  * so the crash-chaos suite can exercise the reference's re-execution
  * semantics (`spark.task.maxFailures` is fixed at context construction in
  * local mode via the master string).
  */
object TestSpark {
  private var _harness: Harness = null

  /** The suite-wide [[Harness]]; rebuilt with its session if a suite (e.g.
    * the local-cluster chaos soak, which needs its own multi-process
    * SparkContext) stopped the shared one.
    */
  def harness: Harness = synchronized {
    if (_harness == null || _harness.spark.sparkContext.isStopped) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      _harness = new Harness(Harness.session(cores = 4, maxFailures = 3))
    }
    _harness
  }

  def spark: SparkSession = harness.spark

  /** A fresh `<prefix>-<uuid>` scratch dir under `java.io.tmpdir`, deleted
    * when this forked test JVM exits.
    */
  def scratchDir(prefix: String): java.nio.file.Path =
    SessionSweep.exitScopedDir(prefix).toPath

  /** Reference pg corpus (read-only fixtures; FIXTURES.md §A.1). */
  val PgGlob = "/root/reference/src/main/pg-*.txt"
  /** Committed goldens from the reference's own test run (FIXTURES.md §A.4). */
  val IndexerGolden = "/root/reference/src/main/mr-tmp/mr-indexer-all"
  val NocrashGolden = "/root/reference/src/main/mr-tmp/mr-correct-crash.txt"

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
