package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.{ArrayDotExpr, BpeTokenCountExpr, Fnv64Expr, GraftColumnShim, LetterSplitExpr, SortedOverlapExpr, WsSplitExpr, WsTokenCountExpr}

/** Deterministic 64-bit string hashing as a first-class engine extension:
  * a native Catalyst `Expression` with whole-stage-codegen support
  * ([[org.apache.spark.sql.graftshim.Fnv64Expr]] — the preferred
  * extensibility tier over Scala UDFs: no ser/de boundary, stays inside the
  * generated loop), registered either per-session
  * ([[GraftFunctions.register]]) or globally via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object HashFunctions {
  /** 64-bit FNV-1a over UTF-16 code units. Public + statically forwarded so
    * generated Java code calls it directly; shared with the dedup operators'
    * typed maps so SQL users and the Scala pipeline agree on fingerprints.
    */
  def fnv64(str: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < str.length) { h ^= str.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }
}

object GraftFunctions {
  /** Column-API form: `GraftFunctions.fnv64(col("text"))`. */
  def fnv64(c: Column): Column =
    GraftColumnShim.column(Fnv64Expr(GraftColumnShim.expression(c)))

  /** Codegen'd dot product of two array<double> columns (the ANN scoring
    * kernel) — one tight generated loop, bit-deterministic ascending-index
    * summation.
    */
  def arrayDot(a: Column, b: Column): Column =
    GraftColumnShim.column(
      ArrayDotExpr(GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  /** Intersection size of two sorted distinct array<int> columns (two-
    * pointer merge, no per-row allocation) — the similarity-join
    * verification kernel.
    */
  def sortedOverlap(a: Column, b: Column): Column =
    GraftColumnShim.column(
      SortedOverlapExpr(GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  /** `collect_list` with a hard `limit + 1` buffer bound — the hot-key-safe
    * list build for group-then-drop-over-cap shapes (see
    * [[org.apache.spark.sql.graftshim.BoundedCollectList]]); within-cap
    * groups are identical to `collect_list`, over-cap groups surface as
    * `limit + 1`-long lists the caller must drop.
    */
  def boundedCollectList(c: Column, limit: Int): Column =
    GraftColumnShim.column(
      org.apache.spark.sql.graftshim.BoundedCollectList(
        GraftColumnShim.expression(c), limit).toAggregateExpression())

  /** Codegen'd single-pass BPE-ish pre-tokenization match count (one tight
    * byte scan; replaces the array-materializing `size(regexp_extract_all)`
    * formulation on the token-counting path).
    */
  def bpeTokenCount(c: Column): Column =
    GraftColumnShim.column(BpeTokenCountExpr(GraftColumnShim.expression(c)))

  /** Codegen'd count of non-empty whitespace-separated tokens (replaces
    * the interpreted `size(filter(split(trim(...))))` HOF formulation).
    */
  def wsTokenCount(c: Column): Column =
    GraftColumnShim.column(WsTokenCountExpr(GraftColumnShim.expression(c)))

  /** Codegen'd byte-scan `split(trim(text), "\s+")` — the engine's shared
    * tokenization without the regex engine or UTF-16 round-trip.
    */
  def wsSplit(c: Column): Column =
    GraftColumnShim.column(WsSplitExpr(GraftColumnShim.expression(c)))

  /** Codegen'd letter-run tokenizer, `filter(split(text, "[^\\p{L}]+"),
    * t => t =!= "")` in one byte scan (the wc/indexer tokenization).
    */
  def letterSplit(c: Column): Column =
    GraftColumnShim.column(LetterSplitExpr(GraftColumnShim.expression(c)))

  private val fnv64Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.size == 1, "fnv64 expects exactly one argument")
    Fnv64Expr(exprs.head)
  }
  private val dotBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.size == 2, "array_dot expects exactly two arguments")
    ArrayDotExpr(exprs(0), exprs(1))
  }
  private val overlapBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.size == 2, "sorted_overlap expects exactly two arguments")
    SortedOverlapExpr(exprs(0), exprs(1))
  }

  /** Register both functions into an existing session's registry so
    * `spark.sql("SELECT fnv64(x), array_dot(a, b) ...")` works, plus the
    * [[org.apache.spark.sql.graftshim.ArrayDotRewrite]] optimizer rule
    * (HOF dot-product idiom → native kernel) for this session.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fnv64", fnv64Builder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_dot", dotBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_overlap", overlapBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_token_count",
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "bpe_token_count expects exactly one argument")
        BpeTokenCountExpr(exprs.head)
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ws_token_count",
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "ws_token_count expects exactly one argument")
        WsTokenCountExpr(exprs.head)
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ws_split",
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "ws_split expects exactly one argument")
        WsSplitExpr(exprs.head)
      }, "built-in")
    if (!spark.experimental.extraOptimizations.contains(
        org.apache.spark.sql.graftshim.ArrayDotRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          org.apache.spark.sql.graftshim.ArrayDotRewrite
    // the native as-of join planner strategy (tier c of the extension
    // ladder: expression -> rule -> strategy)
    if (!spark.experimental.extraStrategies.contains(
        org.apache.spark.sql.graftshim.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+
          org.apache.spark.sql.graftshim.AsOfJoinStrategy
  }
}

/** For `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("fnv64"),
      new ExpressionInfo(classOf[Fnv64Expr].getName, "fnv64"),
      { exprs: Seq[Expression] => Fnv64Expr(exprs.head) }))
    ext.injectFunction((
      FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotExpr].getName, "array_dot"),
      { exprs: Seq[Expression] => ArrayDotExpr(exprs(0), exprs(1)) }))
    ext.injectFunction((
      FunctionIdentifier("sorted_overlap"),
      new ExpressionInfo(classOf[SortedOverlapExpr].getName, "sorted_overlap"),
      { exprs: Seq[Expression] => SortedOverlapExpr(exprs(0), exprs(1)) }))
    ext.injectFunction((
      FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[BpeTokenCountExpr].getName, "bpe_token_count"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "bpe_token_count expects exactly one argument")
        BpeTokenCountExpr(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("ws_token_count"),
      new ExpressionInfo(classOf[WsTokenCountExpr].getName, "ws_token_count"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "ws_token_count expects exactly one argument")
        WsTokenCountExpr(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("ws_split"),
      new ExpressionInfo(classOf[WsSplitExpr].getName, "ws_split"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "ws_split expects exactly one argument")
        WsSplitExpr(exprs.head)
      }))
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graftshim.ArrayDotRewrite)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graftshim.AsOfJoinStrategy)
  }
}
