package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{KeyValue, MapReduceJob, Workloads}

/** JVM-global count of `reducef` calls. Local-mode tasks run in this JVM,
  * and a closure reaches an object's field without serializing a copy of it.
  */
object ReduceCalls {
  val n = new java.util.concurrent.atomic.AtomicInteger()
}

/** Core MapReduceJob mechanics: line-split vs whole-file equivalence for
  * line-local mapfs, and the distributed sorted text sink.
  */
class MapReduceSpec extends AnyFunSuite {
  import TestSpark._

  private val oneFile = "/root/reference/src/main/pg-being_ernest.txt"

  test("runLines == run for a line-local mapf (wc)") {
    val job = new MapReduceJob(Workloads.wcMap, Workloads.wcReduce)
    val whole = MapReduceJob.toOutputLines(job.run(spark, oneFile))
    val lines = MapReduceJob.toOutputLines(job.runLines(spark, oneFile))
    assert(whole == lines)
    assert(whole.size > 100)
  }

  test("writeSortedText produces a totally ordered text sink, no driver collect") {
    val s = spark
    import s.implicits._
    val ds = s.createDataset(Seq(
      KeyValue("b", "2"), KeyValue("a", "1"), KeyValue("c", "3"),
      KeyValue("a", "0"), KeyValue("z", "9")))
    val out = scratchDir("mr-sink").toString + "/out"
    MapReduceJob.writeSortedText(ds, out)
    assert(readSink(out) == Seq("a 0", "a 1", "b 2", "c 3", "z 9"))
  }

  private def readSink(out: String): Seq[String] =
    new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).toSeq

  /** A reduce over 5 keys whose `reducef` counts its calls and throws on
    * `failOn`.
    */
  private def countedReduce(failOn: String = "") = {
    val s = spark
    import s.implicits._
    val job = new MapReduceJob((_, _) => Nil, (k, values) => {
      ReduceCalls.n.incrementAndGet()
      if (k == failOn) throw new IllegalStateException(s"reducef failed on $k")
      values.size.toString
    })
    job.reduce(s, s.createDataset(Seq("b", "a", "c", "a", "z", "d", "a")
      .map(k => KeyValue(k, "1"))))
  }

  test("writeSortedText runs reducef once per key") {
    val ds = countedReduce()
    val out = scratchDir("mr-sink-once").toString + "/out"
    ReduceCalls.n.set(0)
    MapReduceJob.writeSortedText(ds, out)
    assert(ReduceCalls.n.get == 5, "the range partitioner's sampling job re-ran the reduce")
    assert(readSink(out) == Seq("a 3", "b 1", "c 1", "d 1", "z 1"))
  }

  test("writeSortedText leaves no persistent RDD behind, after a write and a failed one") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    MapReduceJob.writeSortedText(countedReduce(),
      scratchDir("mr-sink-pins").toString + "/out")
    assert(sc.getPersistentRDDs.keySet == before)
    intercept[Exception] {
      MapReduceJob.writeSortedText(countedReduce(failOn = "c"),
        scratchDir("mr-sink-fail").toString + "/out")
    }
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("reduce sees the complete multiset of values per key") {
    val s = spark
    import s.implicits._
    val pairs = s.createDataset(
      (1 to 100).map(i => (s"f$i", s"k${i % 7}"))).map { case (f, k) => (k, f) }
    val job = new MapReduceJob(
      (_, _) => Nil, // unused: we call reduce directly
      (_, values) => values.size.toString)
    val mapped = pairs.map { case (k, v) => KeyValue(k, v) }
    val out = job.reduce(s, mapped).collect().map(kv => kv.key -> kv.value.toInt).toMap
    assert(out.values.sum == 100)
    assert(out.keySet == (0 to 6).map(i => s"k$i").toSet)
  }
}
