package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{MapReduceJob, Workloads}

/** REAL process-death chaos parity with the reference harness
  * (`src/main/test-mr.sh:160-203`): the reference loops worker respawn under
  * random `os.Exit` for 180 s and asserts output equality. Here, wc runs on
  * `local-cluster[2,1,1024]` — executors are genuinely separate JVM
  * processes — and the first map task to claim a file latch HALTS its whole
  * executor JVM (`Runtime.halt`, no shutdown hooks — the moral equivalent of
  * `os.Exit`). The standalone worker respawns the executor, Spark reschedules
  * the lost tasks, and the output must equal a fault-free run.
  *
  * This is the process-level complement of ChaosSpec, which exercises the
  * same retry contract with thrown exceptions inside one JVM.
  */
class LocalClusterChaosSpec extends AnyFunSuite {

  test("wc on local-cluster survives a real executor JVM death") {
    // this suite needs the JVM's one-and-only SparkContext to be a
    // local-cluster one; the shared session rebuilds lazily afterwards
    TestSpark.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // the in-JVM standalone Worker builds the executor launch command
    // against SPARK_HOME (+ SPARK_SCALA_VERSION) — set in build.sbt envVars
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val cluster = SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .appName("graft-chaos-cluster")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.task.maxFailures", "4")
      // executor JVMs are launched fresh by the worker: give them the test
      // classpath (graft classes) and the JDK17 module opens
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import cluster.implicits._
      val latch = TestSpark.scratchDir("graft-chaos").resolve("executor-killed").toString
      def pairs = cluster.sparkContext
        .wholeTextFiles(TestSpark.PgGlob, 4)
        .map { case (p, c) => ("../" + p.substring(p.lastIndexOf('/') + 1), c) }
        .toDS()
      // first task to create the latch file halts its executor process —
      // exactly one real JVM death, deterministic across retries/respawns
      val killerMap: (String, String) => Seq[graft.core.KeyValue] = {
        val latchPath = latch
        (n: String, c: String) => {
          try {
            java.nio.file.Files.createFile(java.nio.file.Paths.get(latchPath))
            Runtime.getRuntime.halt(42)
          } catch { case _: java.nio.file.FileAlreadyExistsException => () }
          Workloads.wcMap(n, c)
        }
      }
      val chaotic = MapReduceJob.toOutputLines(
        new MapReduceJob(killerMap, Workloads.wcReduce).runOn(pairs))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(latch)),
        "the executor kill never fired")
      // differential golden, the reference's own methodology: the same job
      // without fault injection on the same cluster
      val clean = MapReduceJob.toOutputLines(
        new MapReduceJob(Workloads.wcMap, Workloads.wcReduce).runOn(pairs))
      assert(chaotic == clean)
      assert(chaotic.nonEmpty)
    } finally {
      cluster.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
