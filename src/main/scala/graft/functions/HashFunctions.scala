package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.{ArrayDotExpr, ArrayDotRewrite, AsOfJoinStrategy, BpeTokenCountExpr, Fnv64Expr, GraftColumnShim, LetterSplitExpr, SortedOverlapExpr, WsSplitExpr, WsTokenCountExpr}

/** Deterministic 64-bit string hashing as a first-class engine extension:
  * a native Catalyst `Expression` with whole-stage-codegen support
  * ([[org.apache.spark.sql.graftshim.Fnv64Expr]] — the preferred
  * extensibility tier over Scala UDFs: no ser/de boundary, stays inside the
  * generated loop), callable from SQL in every session that
  * [[GraftExtensions]] built.
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
}

/** graft's session extensions: the six SQL functions of [[GraftExtensions.functions]],
  * the [[org.apache.spark.sql.graftshim.ArrayDotRewrite]] optimizer rule
  * (HOF dot-product idiom -> native kernel) and the
  * [[org.apache.spark.sql.graftshim.AsOfJoinStrategy]] planner strategy
  * (tier c of the extension ladder: expression -> rule -> strategy).
  * [[graft.Harness.session]] builds every session with them; outside graft
  * they load through `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build _))
    }
    ext.injectOptimizerRule(_ => ArrayDotRewrite)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** One SQL function: its name, the expression class `DESCRIBE FUNCTION`
    * reports, and a builder over exactly `arity` arguments.
    */
  final class SqlFunction(val name: String, val cls: Class[_ <: Expression], arity: Int,
      make: Seq[Expression] => Expression) {
    def build(args: Seq[Expression]): Expression = {
      require(args.size == arity,
        s"$name expects $arity argument(s), got ${args.size}")
      make(args)
    }
  }

  /** Every graft SQL function, declared once. */
  val functions: Seq[SqlFunction] = Seq(
    new SqlFunction("fnv64", classOf[Fnv64Expr], 1, a => Fnv64Expr(a(0))),
    new SqlFunction("array_dot", classOf[ArrayDotExpr], 2, a => ArrayDotExpr(a(0), a(1))),
    new SqlFunction("sorted_overlap", classOf[SortedOverlapExpr], 2,
      a => SortedOverlapExpr(a(0), a(1))),
    new SqlFunction("bpe_token_count", classOf[BpeTokenCountExpr], 1,
      a => BpeTokenCountExpr(a(0))),
    new SqlFunction("ws_token_count", classOf[WsTokenCountExpr], 1,
      a => WsTokenCountExpr(a(0))),
    new SqlFunction("ws_split", classOf[WsSplitExpr], 1, a => WsSplitExpr(a(0))))
}
