package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Workloads

/** Tokenizer parity (SURVEY.md §7.4 risk register): the code-point walk in
  * [[Workloads.letterTokens]] must agree with the `[^\p{L}]+` regex split the
  * DataFrame path and the DuckDB oracle both use — including supplementary-
  * plane letters, where naive char-level code would split letters in half.
  * (Raw ScalaCheck Gen sampling — the scalatestplus bridge isn't in the
  * offline dependency cache.)
  */
object TokenizerSpec {
  /** The `[^\p{L}]+` split both letter tokenizers must reproduce. */
  def regexTokens(s: String): Seq[String] =
    s.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)

  private val interesting = Gen.oneOf(
    'a', 'Z', 'é', 'ß', '中', '9', ' ', ',', '\n', '-', '\'',
    '\uD835', '\uDC00' /* halves of U+1D400 MATHEMATICAL BOLD CAPITAL A */)
  private val strGen: Gen[String] = for {
    n <- Gen.choose(0, 60)
    cs <- Gen.listOfN(n, interesting)
  } yield cs.mkString

  /** 500 seeded strings mixing BMP and supplementary letters, separators
    * and lone surrogate halves.
    */
  lazy val samples: Seq[String] = Gen.listOfN(500, strGen)
    .apply(Gen.Parameters.default, Seed(42L))
    .getOrElse(throw new IllegalStateException("generator produced no sample"))
}

class TokenizerSpec extends AnyFunSuite {
  import TokenizerSpec.{regexTokens, samples}

  test("letterTokens == regex [^\\p{L}]+ split on 500 generated strings") {
    samples.foreach { s =>
      assert(Workloads.letterTokens(s) == regexTokens(s), s"input: ${s.take(80)}")
    }
  }

  test("supplementary-plane letters are kept whole") {
    val s = "ab𝐀cd ef" // U+1D400 is a letter (category Lu)
    assert(Workloads.letterTokens(s) == Seq("ab𝐀cd", "ef"))
  }

  test("empty / all-separator strings yield no tokens") {
    assert(Workloads.letterTokens("") == Nil)
    assert(Workloads.letterTokens(" ,.;\n\t123") == Nil)
  }

  test("wc tokenization matches Go semantics on a known phrase") {
    assert(Workloads.letterTokens("It's a test--with 42 words, naturally.") ==
      Seq("It", "s", "a", "test", "with", "words", "naturally"))
  }

  test("rollingHash64 is deterministic and order-sensitive") {
    import graft.operators.TextOps.rollingHash64
    assert(rollingHash64("abc") == rollingHash64("abc"))
    assert(rollingHash64("abc") != rollingHash64("acb"))
    assert(rollingHash64("") == 0L)
  }

  test("textRepetition: hand-computed duplicate token / 3-gram counts") {
    import TestSpark._
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("repetition").toString
    Seq(
      (1L, "a a a b", "en"),            // toks 4, dup 2; grams: "a a a","a a b" -> 2, dup 0
      (2L, "x y", "en"),                // under 3 tokens: whole doc is one gram
      (3L, "go go go go", "en"),        // grams: "go go go" x2 -> dup 1
      (4L, "one two three four", "en")) // all distinct
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.textRepetition(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("total_toks"), r.getAs[Long]("dup_toks"),
          r.getAs[Long]("total_3grams"), r.getAs[Long]("dup_3grams")))).toMap
    assert(got(1L) == ((4L, 2L, 2L, 0L)))
    assert(got(2L) == ((2L, 0L, 1L, 0L)))
    assert(got(3L) == ((4L, 3L, 2L, 1L)))
    assert(got(4L) == ((4L, 0L, 2L, 0L)))
  }

  test("textRepetition typed path == the oracle-pinned declarative formulation") {
    import TestSpark._
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("repetition-parity").toString
    // real fixture docs plus whitespace edge cases the declarative semantics
    // are fussy about: SQL trim strips ' ' only, so leading \t/\n produce a
    // leading empty token under split's limit=-1
    val edge = Seq(
      (100001L, "", "en"), (100002L, "   ", "en"), (100003L, "\tlead tab x y", "en"),
      (100004L, "trail nl a b\n", "en"), (100005L, "a  b\t\tc", "en"))
      .toDF("doc_id", "text", "lang")
    spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
      .unionByName(edge)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the original declarative plan (what the DuckDB oracle was written
    // against), kept here as the executable spec of the semantics
    val toks = split(trim(col("text")), "\\s+")
    val grams = when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3), i =>
        concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3))))
      .otherwise(array(array_join(toks, " ")))
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("total_toks"),
        (size(toks) - size(array_distinct(toks))).cast("long").as("dup_toks"),
        size(grams).cast("long").as("total_3grams"),
        (size(grams) - size(array_distinct(grams))).cast("long").as("dup_3grams"))
    val got = graft.operators.TextOps.textRepetition(spark, dir)
    // typed output is non-nullable where the declarative one was nullable —
    // compare names and types; nullability strictness is an improvement
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
