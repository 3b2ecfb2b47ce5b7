package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedAggregator}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `fnv64(string) -> bigint` as a codegen'd Catalyst expression — FNV-1a 64
  * over UTF-16 code units, identical to `graft.functions.HashFunctions
  * .fnv64` (to which both eval paths delegate).
  *
  * Lives under `org.apache.spark.sql.*` because the supporting APIs
  * (`AbstractDataType`, `ExpressionUtils.column`) are `private[sql]` in
  * Spark 4; the public face is `graft.functions.GraftFunctions`.
  */
case class Fnv64Expr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.HashFunctions.fnv64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashFunctions.fnv64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Fnv64Expr =
    copy(child = newChild)
}

/** `array_dot(array<double>, array<double>) -> double` — sequential-order
  * dot product as a codegen'd expression: one tight generated loop per row
  * (the higher-order `aggregate(zip_with(...))` formulation builds and folds
  * an intermediate array per row in interpreted lambdas — measured several
  * times slower on the ANN scoring path). Summation order is ascending
  * index on both eval paths, so results are bit-deterministic.
  */
case class ArrayDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotExpr =
    copy(left = newLeft, right = newRight)
}

/** `sorted_overlap(array<int>, array<int>) -> int` — intersection size of
  * two SORTED int arrays by two-pointer merge: no per-row hash-set
  * allocation (what `array_intersect`+`array_union` cost on the similarity-
  * join verification path — measured the dominant term at bench scale).
  * Arrays must be sorted ascending and distinct; |A∪B| follows as
  * |A|+|B|-overlap, so the union array is never materialized.
  */
case class SortedOverlapExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_overlap"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0;
         |${ev.value} = 0;
         |while ($i < $na && $j < $nb) {
         |  int $x = $a.getInt($i);
         |  int $y = $b.getInt($j);
         |  if ($x == $y) { ${ev.value}++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlapExpr =
    copy(left = newLeft, right = newRight)
}

/** Column <-> Expression bridging (private[sql] in Spark 4). */
object GraftColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The aggregate expression a typed `Aggregator` binds over `children`
    * (the one a `functions.udaf` registration installs), so a session
    * extension can declare it as a SQL function.
    */
  def udafExpression[IN, BUF, OUT](agg: Aggregator[IN, BUF, OUT], in: Encoder[IN],
      children: Seq[Expression]): Expression =
    ScalaAggregator(UserDefinedAggregator(agg, in), children)
}
