package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must at least EXECUTE on the smallest fixture —
  * this catches runtime breakage in queries the DuckDB oracle can't verify
  * (rows-only set) before the driver's gate does, and pins the
  * queries/oracleSql contract invariants.
  */
class RegistrySpec extends AnyFunSuite {
  import TestSpark._

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("every registered query carries an oracle (rows-only set is empty)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // Round 8 shrank this set to one (q19_approx — raw sketch estimates are
    // engine-defined); round 9 closed it: q19_approx now registers a
    // deterministic bound report (exact counts + 0/1 sketch-contract
    // flags), so every query in the registry is DuckDB-oracled. The
    // hash/float/iterative family is replayed bit-exactly — see
    // SparkEntry.minhashPairsSql / annLshSql / embedNearDupSql /
    // mmThumbsSql / annIvfSql.
    assert(rowsOnly.isEmpty, s"oracle coverage drifted: $rowsOnly")
  }

  private def sourcesUnder(root: String): List[(java.nio.file.Path, String)] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    val sources = try files.iterator.asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> java.nio.file.Files.readString(p))
      finally files.close()
    assert(sources.nonEmpty, "run from the repo root")
    sources
  }

  private def mainSources = sourcesUnder("src/main/scala")

  test("one session builder and no regrown probe mains under src/main") {
    val sources = mainSources
    val builder = """SparkSession\s*\.builder""".r
    val builders = sources.collect {
      case (p, src) if builder.findFirstIn(src).isDefined => p.getFileName.toString
    }
    assert(builders == List("Harness.scala"),
      s"sessions must be built by graft.Harness only, found in: $builders")
    // the specs share Harness.session too; only the local-cluster soak
    // needs a multi-process context of its own
    val testBuilders = sourcesUnder("src/test/scala").collect {
      case (p, src) if builder.findFirstIn(src).isDefined => p.getFileName.toString
    }
    assert(testBuilders == List("LocalClusterChaosSpec.scala"),
      s"specs must get their session from Harness.session, found builders in: $testBuilders")
    val probes = sources.flatMap { case (_, src) =>
      """\bobject\s+(Probe\w*)""".r.findAllMatchIn(src).map(_.group(1))
    }.toSet
    assert(probes == Set("ProbeData", "ProbeJobs", "ProbeStream"),
      s"one-off probe mains belong in operator comments and SCALE.md: $probes")
  }

  test("no session is patched after it is built under src/main") {
    // graft's functions, rule and strategy come from GraftExtensions when
    // Harness.session builds the session, never from a write into a live one
    val patchers = for {
      (p, src) <- mainSources
      k <- Seq("experimental.extraOptimizations", "experimental.extraStrategies",
        "functionRegistry.createOrReplaceTempFunction", "functionRegistry.registerFunction",
        "udf.register")
          if src.contains(k)
    } yield (p.getFileName.toString, k)
    assert(patchers.isEmpty, s"live-session registration regrown: $patchers")
  }

  test("no global memo registry regrown under src/main") {
    // an artifact lives for one query as a local value or checkpoint
    val memos = mainSources.collect {
      case (p, src) if Seq("TransientCache.memo", "memoValue", "sweepGate")
          .exists(src.contains) => p.getFileName.toString
    }
    assert(memos.isEmpty, s"global memo registry regrown in: $memos")
  }

  test("only TransientCache pins blocks under src/main") {
    // every operator checkpoint is registered as it is made, so a query that
    // throws mid-loop leaves nothing the harness's sweep cannot see
    val sources = mainSources
    val pinners = sources.collect {
      case (p, src) if Seq("localCheckpoint(", "getPersistentRDDs")
          .exists(src.contains) => p.getFileName.toString
    }
    assert(pinners == List("TransientCache.scala"),
      s"blocks must be pinned through TransientCache only, found in: $pinners")
    val retired = sources.collect {
      case (p, src) if Seq("adoptRddIds", "checkpointTracked", "checkpointLazyTracked")
          .exists(src.contains) => p.getFileName.toString
    }
    assert(retired.isEmpty, s"late-registration helpers regrown in: $retired")
  }

  test("only TransientCache makes or deletes staged dirs under src/main") {
    // a dir made or deleted anywhere else escapes the per-query sweep.
    // SessionSweep forwards Spark's private temp-dir pair to TransientCache,
    // and makes the session's warehouse dir, deleted at JVM exit
    val scope = Set("TransientCache.scala", "SessionSweep.scala")
    val banned = Seq("createTempDir", "deleteRecursively", "Files.copy",
      "SparkListenerApplicationEnd", "object Staging")
    val sources = mainSources
    val outside = for {
      (p, src) <- sources if !scope(p.getFileName.toString)
      k <- banned
      n = java.util.regex.Pattern.quote(k).r.findAllMatchIn(src).size if n > 0
    } yield (p.getFileName.toString, k, n)
    assert(outside.isEmpty,
      s"staged dirs must be made through TransientCache.stageDir only: $outside")
  }

  test("only Streams starts a stream under src/main") {
    // a stream started anywhere else runs under a fresh executor classloader
    // and recompiles its whole plan on every run (Streams' doc)
    val sources = mainSources
    val starters = sources.collect {
      case (p, src) if Seq("writeStream", "DataStreamWriter").exists(src.contains) &&
          Seq(".start(", ".toTable(").exists(src.contains) => p.getFileName.toString
    }
    assert(starters == List("Streams.scala"),
      s"streams must start through Streams.runAvailableNow only, found in: $starters")
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      val df = fn(spark, Sf0001)
      assert(df.columns.nonEmpty)
      // count() forces full execution; no array-typed output columns — the
      // driver's canonicalization cannot hash them (ADVICE round 2)
      df.count()
      df.schema.fields.foreach { f =>
        assert(!f.dataType.typeName.startsWith("array"),
          s"$name emits array column ${f.name} — driver canonicalization cannot hash it")
      }
    }
  }
}
