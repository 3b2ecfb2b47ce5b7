package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, TextKernels}

/** The byte-scan tokenizing kernels (`bpe_token_count`, `ws_token_count`,
  * `ws_split`, `letter_split`):
  * exact equivalence to the Java-regex formulations they replace (the DuckDB
  * oracles replay those regexes, so equivalence is the correctness contract),
  * codegen parity over a real scan, SQL registration, plan shape.
  */
class TextKernelSpec extends AnyFunSuite {
  import TestSpark._

  // The regex references the kernels must reproduce bit-for-bit.
  private val bpeRe =
    java.util.regex.Pattern.compile("[A-Za-z0-9]+|[^A-Za-z0-9\\s]")

  private def bpeRef(s: String): Int = {
    val m = bpeRe.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  // size(filter(split(trim(text), "\s+"), t => t =!= "")) — SQL trim strips
  // ASCII space only; split is Java regex with limit -1. wsTokens pins those
  // semantics already (WorkloadParitySpec); count its non-empty entries.
  private def wsRef(s: String): Int =
    graft.operators.TextOps.wsTokens(s).count(_.nonEmpty)

  private val edgeCases = Seq(
    "", " ", "   ", "\t", "\t\n\u000B\f\r", "a", "Z9", "a b", " a ",
    "\ta\tb\t", "a\nb", "...", "a.b,c", "!!", "a1b2 c3", "hello, world!",
    "é", "éé", "aéb", "a é b", "ß中文", "naïve café", "a\u0301",   // combining mark
    "\uD83D\uDE00", "a\uD83D\uDE00b", "\uD83D\uDE00 \uD83D\uDE01", // supplementary
    "mixed é\t中 \uD83D\uDE00x9!", "trailing space ", " leading",
    "\u00A0", "a\u00A0b") // NBSP is NOT Java-regex \s: must count as punct

  // split(trim(text), "\s+") reference — TextOps.wsTokens pins those exact
  // Java semantics (limit -1, ASCII-space trim) already.
  private def splitRef(s: String): Seq[String] =
    graft.operators.TextOps.wsTokens(s).toSeq

  private def strings(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[String] =
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)

  private def kernelSplit(s: String): Seq[String] =
    strings(TextKernels.wsSplit(UTF8String.fromString(s)))

  test("kernels == regex references on edge cases") {
    for (s <- edgeCases) {
      assert(TextKernels.bpeTokenCount(UTF8String.fromString(s)) == bpeRef(s),
        s"bpe mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      assert(TextKernels.wsTokenCount(UTF8String.fromString(s)) == wsRef(s),
        s"ws mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      assert(kernelSplit(s) == splitRef(s),
        s"split mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("kernels == regex references on 2000 random unicode-mixed strings") {
    val alphabet: IndexedSeq[String] =
      ("abcXYZ019" .map(_.toString)) ++
        (".,!?@#-_" .map(_.toString)) ++
        (" \t\n\u000B\f\r".map(_.toString)) ++
        IndexedSeq("é", "ß", "中", "ω", "\u0301", "\u00A0", "\uD83D\uDE00",
          "\uD83E\uDD16", "  ", "ab", "a.")
    val rnd = new scala.util.Random(20260816L)
    for (_ <- 0 until 2000) {
      val len = rnd.nextInt(40)
      val s = Seq.fill(len)(alphabet(rnd.nextInt(alphabet.size))).mkString
      assert(TextKernels.bpeTokenCount(UTF8String.fromString(s)) == bpeRef(s),
        s"bpe mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      assert(TextKernels.wsTokenCount(UTF8String.fromString(s)) == wsRef(s),
        s"ws mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      assert(kernelSplit(s) == splitRef(s),
        s"split mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  private def letterSplit(u: UTF8String): Seq[String] =
    strings(TextKernels.letterSplit(u))

  test("letterSplit == non-empty [^\\p{L}]+ split on generated and edge strings") {
    // UTF8String.fromString encodes a lone surrogate half as '?', a
    // non-letter, exactly where the regex sees a non-letter code point
    for (s <- TokenizerSpec.samples ++ edgeCases) {
      assert(letterSplit(UTF8String.fromString(s)) == TokenizerSpec.regexTokens(s),
        s"letter split mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("letterSplit treats malformed UTF-8 as non-letters, like its decoded string") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val a = 'a'.toInt
    val cases = Seq(
      bytes(0xC1, 0xA1),                  // overlong 2-byte form of 'a'
      bytes(a, 0xC1, 0xA1, a),
      bytes(0xE0, 0x81, 0xA1),            // overlong 3-byte form of 'a'
      bytes(a, 0xE0, 0x81, 0xA1, a),
      bytes(0xED, 0xA0, 0x80),            // UTF-8-encoded surrogate U+D800
      bytes(a, 0xED, 0xA0, 0x80, a),
      bytes(a, 0xE4, 0xB8),               // truncated lead byte at the end
      bytes(a, 0xE4, 0xB8, a),            // truncated lead byte before a letter
      bytes(a, 0xF0, 0x9D, 0x90, a),      // truncated 4-byte sequence
      bytes(a, 0xA1, a),                  // lone continuation byte
      bytes(0xC3, 0xA9, 0xA9, 0xC3, 0xA9), // é, stray continuation, é
      bytes(0xF4, 0x90, 0x80, 0x80),      // past U+10FFFF
      bytes(0xF0, 0x9D, 0x90, 0x80),      // U+1D400, a supplementary letter
      bytes())
    for (b <- cases) {
      val u = UTF8String.fromBytes(b)
      assert(letterSplit(u) == TokenizerSpec.regexTokens(u.toString),
        s"mismatch on bytes ${b.map(x => f"${x & 0xFF}%02X").mkString(" ")}")
    }
    assert(letterSplit(UTF8String.fromBytes(bytes())) == Nil)
    assert(letterSplit(UTF8String.fromBytes(bytes(a, 0xA1, a))) == Seq("a", "a"))
  }

  test("letter_split column == filter(split, non-empty) column over a real scan") {
    import org.apache.spark.sql.functions.{col, filter, split}
    val rows = graft.sources.Tables.documents(spark, Sf0001)
      .select(
        filter(split(col("text"), "[^\\p{L}]+"), t => t =!= "").as("regex"),
        GraftFunctions.letterSplit(col("text")).as("kernel"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("wc plan: letter_split kernel, no regex split or interpreted filter") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, StringSplit}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graftshim.LetterSplitExpr
    val df = graft.operators.TextOps.wc(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // every operator of the AQE-final plan, query stages included
    val nodes = new AdaptiveSparkPlanHelper {}.collect(plan) { case p => p }
    def has(f: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
      nodes.exists(_.expressions.exists(_.exists(f)))
    assert(has(_.isInstanceOf[LetterSplitExpr]), s"letter_split missing:\n$plan")
    assert(!has(e => e.isInstanceOf[ArrayFilter] || e.isInstanceOf[StringSplit]),
      s"regex split or HOF filter survived:\n$plan")
  }

  test("ws_split column == split(trim, \\s+) column over a real scan") {
    import org.apache.spark.sql.functions.{col, split, trim}
    val rows = graft.sources.Tables.documents(spark, Sf0001)
      .select(
        split(trim(col("text")), "\\s+").as("regex"),
        GraftFunctions.wsSplit(col("text")).as("kernel"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("codegen path over a real scan == regex references") {
    import org.apache.spark.sql.functions.col
    val rows = graft.sources.Tables.documents(spark, Sf0001)
      .select(col("text"),
        GraftFunctions.bpeTokenCount(col("text")).as("nb"),
        GraftFunctions.wsTokenCount(col("text")).as("nw"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[String]("text")
      assert(r.getAs[Int]("nb") == bpeRef(t))
      assert(r.getAs[Int]("nw") == wsRef(t))
    }
  }

  test("register as SQL functions; null-safe") {
    val r = spark.sql(
      "SELECT bpe_token_count('hello, world!') AS nb, " +
        "ws_token_count(' a\tb  c ') AS nw, " +
        "bpe_token_count(CAST(NULL AS STRING)) AS nnull")
      .collect()(0)
    assert(r.getAs[Int]("nb") == 4) // hello | , | world | !
    assert(r.getAs[Int]("nw") == 3)
    assert(r.isNullAt(2))
  }

  test("text_tokens plan: kernels inside whole-stage codegen, no regex/HOF") {
    val df = graft.operators.TextOps.textTokens(spark, Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bpe_token_count") && plan.contains("ws_token_count"),
      s"kernels missing from plan:\n$plan")
    assert(!plan.contains("regexp_extract_all"), s"regex survived:\n$plan")
    assert(!plan.toLowerCase.contains("arrayfilter") && !plan.contains("filter(split"),
      s"interpreted HOF survived:\n$plan")
    // the compact executedPlan string marks whole-stage-codegen stages
    // with a "*(N)" operator prefix
    assert(plan.contains("*(1) Project"), s"not codegen'd:\n$plan")
  }
}
