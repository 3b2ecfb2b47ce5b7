package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{KeyValue, MapReduceJob}

/** Parity with the reference's on-disk intermediate format and shuffle
  * routing, validated against the COMMITTED reference artifacts
  * (`src/main/mr-tmp/mr-X-Y` — real output of a real reference run).
  */
class IntermediateFormatSpec extends AnyFunSuite {
  import TestSpark._

  private val mrTmp = "/root/reference/src/main/mr-tmp"

  test("readIntermediate parses the reference's committed shuffle files") {
    val kvs = MapReduceJob.readIntermediate(spark, s"$mrTmp/mr-0-0").collect()
    assert(kvs.nonEmpty)
    assert(kvs.contains(KeyValue("c", "138885"))) // documented FIXTURES.md §A.2 example
  }

  test("writeIntermediate emits the exact {\"Key\":…,\"Value\":…} line format") {
    val s = spark
    import s.implicits._
    val out = scratchDir("mr-int").toString + "/part"
    MapReduceJob.writeIntermediate(
      s.createDataset(Seq(KeyValue("c", "138885"))), out)
    val lines = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(lines == Seq("""{"Key":"c","Value":"138885"}"""))
    // roundtrip
    val back = MapReduceJob.readIntermediate(s, out).collect().toSeq
    assert(back == Seq(KeyValue("c", "138885")))
  }

  test("ihash routes every committed intermediate key to its actual file") {
    // mr-0-Y holds exactly the keys with ihash(key) % 10 == Y — check the
    // real reference artifacts, all 10 reduce buckets of map task 0.
    (0 until 10).foreach { y =>
      val keys = MapReduceJob.readIntermediate(spark, s"$mrTmp/mr-0-$y")
        .collect().map(_.key).distinct
      keys.foreach { k =>
        assert(MapReduceJob.ihash(k) % 10 == y,
          s"key '$k' found in mr-0-$y but ihash routes it to ${MapReduceJob.ihash(k) % 10}")
      }
    }
  }

  test("FnvPartitioner matches ihash routing") {
    val p = new MapReduceJob.FnvPartitioner(10)
    Seq("a", "b", "c", "d", "xyzzy", "Project", "Gutenberg").foreach { k =>
      assert(p.getPartition(k) == MapReduceJob.ihash(k) % 10)
    }
  }
}
