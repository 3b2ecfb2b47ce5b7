package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_token_count(string) -> int` — codegen'd single-pass byte-scan
  * equivalent of `size(regexp_extract_all(text, "[A-Za-z0-9]+|[^A-Za-z0-9\s]"))`
  * (the BPE-ish pre-tokenization count). The regex form materializes a
  * per-row array of UTF8String match copies that `size` immediately throws
  * away; this expression counts in place — no allocation, no regex engine —
  * and both eval paths delegate to the same kernel
  * ([[graft.functions.TextKernels.bpeTokenCount]]), whose Unicode
  * equivalence argument lives on the kernel's scaladoc.
  */
case class BpeTokenCountExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bpe_token_count"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextKernels.bpeTokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.bpeTokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCountExpr =
    copy(child = newChild)
}

/** `ws_token_count(string) -> int` — codegen'd count of non-empty
  * whitespace-separated tokens, equivalent to
  * `size(filter(split(trim(text), "\s+"), t => t =!= ""))` but without the
  * regex split allocation or the INTERPRETED higher-order filter
  * (ArrayFilter is CodegenFallback). Counts maximal non-`\s`-byte runs in
  * one pass; kernel at [[graft.functions.TextKernels.wsTokenCount]].
  */
case class WsTokenCountExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ws_token_count"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextKernels.wsTokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wsTokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): WsTokenCountExpr =
    copy(child = newChild)
}

/** `ws_split(string) -> array<string>` — codegen'd byte-scan equivalent of
  * `split(trim(text), "\s+")`, the tokenization every text operator in the
  * engine shares (and every DuckDB oracle replays). Same output, none of the
  * regex cost: no UTF-16 round-trip, no NFA, token slices share the row's
  * byte array. Semantics argument on the kernel
  * ([[graft.functions.TextKernels.wsSplit]]); TextKernelSpec pins it
  * property-style against the regex form. Element type is non-null like
  * `StringSplit`'s.
  */
case class WsSplitExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_split"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextKernels.wsSplit(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wsSplit($c)")

  override protected def withNewChildInternal(newChild: Expression): WsSplitExpr =
    copy(child = newChild)
}

/** `letter_split(string) -> array<string>` — codegen'd byte-scan equivalent
  * of `filter(split(text, "[^\\p{L}]+"), t => t =!= "")`, the reference's
  * letter-run tokenizer (`src/mrapps/wc.go:21-39`). Replaces a regex split
  * plus an INTERPRETED higher-order filter (ArrayFilter is
  * CodegenFallback) with one UTF-8 scan; kernel at
  * [[graft.functions.TextKernels.letterSplit]], pinned against the regex
  * form by TextKernelSpec.
  */
case class LetterSplitExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "letter_split"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextKernels.letterSplit(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.letterSplit($c)")

  override protected def withNewChildInternal(newChild: Expression): LetterSplitExpr =
    copy(child = newChild)
}
