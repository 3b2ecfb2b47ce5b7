package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF JOIN — the tier-(c) extensibility ladder rung the engine was
  * still missing: a custom whole-operator (LogicalPlan + Strategy +
  * physical exec) next to the existing custom Expressions (tier b:
  * Fnv64Expr/ArrayDotExpr/SortedOverlapExpr) and optimizer Rule
  * (ArrayDotRewrite).
  *
  * Semantics (LEFT OUTER as-of): for every left row, append the payload of
  * the LATEST right row with the same key and `rightTime <= leftTime`;
  * nulls when no such row exists. This is `ASOF LEFT JOIN ... ON l.k = r.k
  * AND l.t >= r.t` (DuckDB) / pandas `merge_asof`.
  *
  * Physical plan: both children hash-clustered on the key and sorted within
  * partitions by (key, time) — EnsureRequirements inserts the exchanges and
  * sorts — then ONE streaming merge pass per partition with O(1) state (the
  * current key's latest right row). Cost at 100 TB: exactly one shuffle of
  * each side on the key (the same lower bound the union+window formulation
  * pays) but with no window buffer, no union of mismatched schemas, and no
  * tag/ignoreNulls trickery; the merge never materializes a per-key group.
  *
  * Contrast with `Relational.q17Asof` (union + last-ignoring-nulls window):
  * same result, and that formulation stays as the composed-operator
  * baseline; this operator exists to complete the extension ladder and to
  * serve as-of semantics where the window trick does not compose (e.g.
  * multiple payload columns without null-tag encoding).
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] with a SIZE-BASED physical choice, the same
  * decision Spark's own join selection makes: a right side whose estimated
  * size fits `spark.sql.autoBroadcastJoinThreshold` plans as
  * [[BroadcastAsOfJoinExec]] (the fact side never shuffles — the 100 TB
  * plan for "events as-of a reference table"), anything larger as the
  * co-partitioned merge [[AsOfJoinExec]]. Injected when the session is
  * built, by `graft.functions.GraftExtensions` (which `graft.Harness.session`
  * applies, or `spark.sql.extensions` names).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt) =>
      val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val exec =
        if (threshold >= 0 && r.stats.sizeInBytes <= threshold)
          BroadcastAsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt)
        else
          AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt)
      exec :: Nil
    case _ => Nil
  }
}

/** Shared codegen helper: null-guarded column reads from a possibly-null
  * InternalRow term. Returns the declaration block (emit exactly once) and
  * the ExprCodes with EMPTY code blocks to hand to consume() — re-emitting
  * the declarations there would be a janino "redefinition of local
  * variable" and the whole stage would silently fall back to interpreted
  * execution.
  */
private[graftshim] object AsOfCodegen {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, JavaCode}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._

  def nullGuardedColumns(ctx: CodegenContext, rowTerm: String,
      attrs: Seq[Attribute]): (String, Seq[ExprCode]) = {
    val vars = attrs.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofIsNull")
      val value = ctx.freshName("asofValue")
      val javaType = CodeGenerator.javaType(a.dataType)
      val getter = CodeGenerator.getValue(rowTerm, a.dataType, i.toString)
      ExprCode(
        code"""
          |boolean $isNull = ($rowTerm == null) || $rowTerm.isNullAt($i);
          |$javaType $value = $isNull ? ${CodeGenerator.defaultValue(a.dataType)} : ($getter);
        """.stripMargin,
        JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, a.dataType))
    }
    (vars.map(_.code.toString).mkString("\n"), vars.map(_.copy(code = EmptyBlock)))
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode
    with org.apache.spark.sql.execution.CodegenSupport {

  require(leftKey.dataType == rightKey.dataType,
    s"as-of key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Both sides clustered on the key: EnsureRequirements aligns the two
    * hash exchanges (or reuses a child's existing partitioning when
    * compatible), exactly as it does for a shuffled join.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  /** (key, time) ascending within partitions — the order the merge needs. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  /** Left rows pass through in order, so downstream sorts on (key, time)
    * are eliminated for free.
    */
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** SMJ-parity child codegen: CollapseCodegenStages special-cases
    * SortMergeJoin/ShuffledHashJoin so their Sort children go behind an
    * InputAdapter and get their own whole-stage codegen spans; the rule has
    * no case for this operator, so by default our (Sort) children sit
    * inside the as-of stage's subtree but run via plain `execute()` with no
    * codegen span of their own. Re-applying the same public rule to each
    * child at execution time restores those spans — the rule respects
    * `spark.sql.codegen.wholeStage` and every per-operator support check,
    * so it is a no-op exactly where stock codegen would be. One residual
    * limitation, display-only: EXPLAIN prints the stored (unwrapped)
    * children, so the child stages appear only at runtime (SQL-tab metrics,
    * generated-code dumps), not in the printed tree.
    */
  @transient lazy val codegenChildPlans: Seq[SparkPlan] = {
    val rule = org.apache.spark.sql.execution.CollapseCodegenStages()
    Seq(left, right).map { child =>
      // the original collapse pass already placed WSC/InputAdapter wrappers
      // BELOW the child's exchange (deeper stages); re-applying the rule on
      // top of them would try to fuse an existing WholeStageCodegenExec
      // into a new stage (its produce() throws by contract). Strip the old
      // wrappers first, then rebuild the stage layout for this subtree.
      val pristine = child.transformUp {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.child
        case i: org.apache.spark.sql.execution.InputAdapter => i.child
      }
      rule.apply(pristine)
    }
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val lkB = BindReferences.bindReference(leftKey, left.output)
    val ltB = BindReferences.bindReference(leftTime, left.output)
    val rkB = BindReferences.bindReference(rightKey, right.output)
    val rtB = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val leftOut = left.output
    val rightOut = right.output
    codegenChildPlans(0).execute().zipPartitions(codegenChildPlans(1).execute()) { (lIt, rIt) =>
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightOut.size)
      val proj = UnsafeProjection.create(leftOut ++ rightOut, leftOut ++ rightOut)
      val rBuf = rIt.buffered
      // O(1) merge state: the latest right row consumed so far, and its key.
      // Both streams ascend on (key, time), so a right row once passed is
      // never needed again — no per-key buffering, hot keys stream.
      var matchKey: Any = null
      var matchRow: InternalRow = null
      lIt.map { lrow =>
        val k = lkB.eval(lrow)
        val t = ltB.eval(lrow)
        if (k == null || t == null) {
          // as-of on a null key/time is vacuous: no right row can satisfy
          // the inclusive predicate (SQL comparison semantics)
          proj(joined(lrow, nullRight))
        } else {
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val peek = rBuf.head
            val rk = rkB.eval(peek)
            val rt = rtB.eval(peek)
            if (rk == null || rt == null) { rBuf.next(); () } // never matchable
            else {
              val c = keyOrd.compare(rk, k)
              if (c < 0) { rBuf.next(); () } // key fully behind: discard
              else if (c == 0 && timeOrd.compare(rt, t) <= 0) {
                // Retain via copy: the sorter reuses its record buffer, so
                // both the row AND the key must outlive the next rBuf
                // advance. Evaluating the key from the COPIED row (not from
                // `peek`) keeps non-primitive keys (UTF8String, Decimal)
                // valid after a sort spill rewinds the underlying buffer.
                matchRow = rBuf.next().copy()
                matchKey = rkB.eval(matchRow)
              } else advancing = false
            }
          }
          if (matchKey != null && keyOrd.compare(matchKey, k) == 0)
            proj(joined(lrow, matchRow))
          else proj(joined(lrow, nullRight))
        }
      }
    }
  }

  // ------------------------------------------------------------ codegen
  // SMJ-style stage root: the generated code drives both (co-partitioned,
  // key/time-sorted) child iterators directly — the lookahead, the advance
  // loop and the retained-match probe all live in one generated function,
  // so the merge fuses with whatever consumes it (filters, projections)
  // exactly as SortMergeJoinExec does. Comparisons come from ctx.genComp
  // (codegen'd per type) instead of the interpreted orderings doExecute
  // uses; doExecute above remains the fallback path and keeps identical
  // semantics (the AsOfSpec property test runs both).

  import org.apache.spark.sql.catalyst.expressions.BoundReference
  import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    codegenChildPlans.map(_.execute())

  // output rows reference the retained-match mutable state, which advances
  // with the merge — buffering parents must copy (the SMJ contract)
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];")
    // lookahead (UN-copied: never held across its own iterator's next(), so
    // sorter row-buffer reuse can't corrupt it) and the retained match
    // (copied — it must survive arbitrarily many lookahead advances; see
    // the doExecute comment and the ReusedRowsExec regression test)
    val rightRow = ctx.addMutableState("InternalRow", "asofRightRow")
    val matchRow = ctx.addMutableState("InternalRow", "asofMatchRow")
    val leftRow = ctx.freshName("asofLeftRow")

    ctx.currentVars = null
    ctx.INPUT_ROW = leftRow
    val lkEv = BindReferences.bindReference(leftKey, left.output).genCode(ctx)
    val ltEv = BindReferences.bindReference(leftTime, left.output).genCode(ctx)
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }

    ctx.INPUT_ROW = rightRow
    val rkEv = BindReferences.bindReference(rightKey, right.output).genCode(ctx)
    val rtEv = BindReferences.bindReference(rightTime, right.output).genCode(ctx)

    // the retained key is re-read from the COPIED row per left row (one
    // field access) — no typed mutable state, same safety argument as
    // doExecute's matchKey-from-copy
    ctx.INPUT_ROW = matchRow
    val mkEv = BindReferences.bindReference(rightKey, right.output).genCode(ctx)

    val matched = ctx.freshName("asofHasMatch")
    val outRight = ctx.freshName("asofOutRight")
    val (rightDecls, rightVars) = AsOfCodegen.nullGuardedColumns(ctx, outRight, right.output)
    val advancing = ctx.freshName("asofAdvancing")
    val cmp = ctx.freshName("asofCmp")
    // evaluate all left columns eagerly (clears their code blocks): their
    // accessors reference the loop-local left row, which must not leak into
    // a deferred evaluation point outside this block
    val leftVarDecl = evaluateVariables(leftVars)

    s"""
       |while ($limitNotReachedCond $leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  ${lkEv.code}
       |  ${ltEv.code}
       |  if (!(${lkEv.isNull}) && !(${ltEv.isNull})) {
       |    boolean $advancing = true;
       |    while ($advancing) {
       |      if ($rightRow == null) {
       |        if (!$rightInput.hasNext()) break;
       |        $rightRow = (InternalRow) $rightInput.next();
       |      }
       |      ${rkEv.code}
       |      ${rtEv.code}
       |      if ((${rkEv.isNull}) || (${rtEv.isNull})) {
       |        $rightRow = null; // never matchable: discard
       |      } else {
       |        int $cmp = ${ctx.genComp(leftKey.dataType, rkEv.value.toString, lkEv.value.toString)};
       |        if ($cmp < 0) {
       |          $rightRow = null; // key fully behind: discard
       |        } else if ($cmp == 0 && ${ctx.genComp(leftTime.dataType, rtEv.value.toString, ltEv.value.toString)} <= 0) {
       |          $matchRow = (InternalRow) $rightRow.copy();
       |          $rightRow = null;
       |        } else {
       |          $advancing = false;
       |        }
       |      }
       |    }
       |  }
       |  boolean $matched = false;
       |  if ($matchRow != null && !(${lkEv.isNull})) {
       |    ${mkEv.code}
       |    $matched = !(${mkEv.isNull}) &&
       |      ${ctx.genComp(leftKey.dataType, mkEv.value.toString, lkEv.value.toString)} == 0;
       |  }
       |  InternalRow $outRight = $matched ? $matchRow : null;
       |  $leftVarDecl
       |  $rightDecls
       |  ${consume(ctx, leftVars ++ rightVars)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }
}

/** Per-executor index over the broadcast right side: key → time-sorted
  * rows, built lazily ONCE per deserialized instance (not per task — the
  * holder rides the generated code's reference array / the closure, and
  * the transient lazy init runs on first probe per executor).
  * Serializable state is only the broadcast handle and the bound
  * expressions; the index itself never serializes.
  */
class AsOfBroadcastIndex(
    relation: org.apache.spark.broadcast.Broadcast[Array[InternalRow]],
    rightKey: Expression,
    rightTime: Expression,
    rightOutput: Seq[Attribute],
    timeType: org.apache.spark.sql.types.DataType) extends Serializable {

  @transient private lazy val timeOrd = TypeUtils.getInterpretedOrdering(timeType)

  @transient private lazy val index: java.util.HashMap[Any, (Array[Any], Array[InternalRow])] = {
    val rkB = BindReferences.bindReference(rightKey, rightOutput)
    val rtB = BindReferences.bindReference(rightTime, rightOutput)
    val byKey = new java.util.HashMap[Any, (Array[Any], Array[InternalRow])]()
    val tmp = new java.util.HashMap[Any, java.util.ArrayList[(Any, InternalRow)]]()
    relation.value.foreach { r =>
      val k = rkB.eval(r)
      val t = rtB.eval(r)
      if (k != null && t != null) {
        var l = tmp.get(k)
        if (l == null) { l = new java.util.ArrayList(); tmp.put(k, l) }
        l.add((t, r))
      }
    }
    tmp.forEach { (k, l) =>
      val sorted = l.toArray(new Array[(Any, InternalRow)](l.size))
        .sortBy(_._1)(timeOrd)
      byKey.put(k, (sorted.map(_._1), sorted.map(_._2)))
    }
    byKey
  }

  /** Latest right row with this key and time <= t; null when none. */
  def lookup(k: Any, t: Any): InternalRow = {
    val entry = index.get(k)
    if (entry == null) return null
    val (times, rows) = entry
    var lo = 0
    var hi = times.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (timeOrd.compare(times(mid), t) <= 0) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans < 0) null else rows(ans)
  }
}

/** Broadcast as-of join: the small right side ships whole to every task
  * (IdentityBroadcastMode — EnsureRequirements plants the
  * BroadcastExchange), each executor indexes it once into per-key
  * time-sorted arrays, and the LEFT SIDE IS NEVER SHUFFLED OR SORTED —
  * each left row resolves its match with one hash probe + binary search.
  * Preserves the left child's partitioning and ordering, so downstream
  * operators keep whatever physical properties the fact scan had. This is
  * the plan that survives 100×: as-of against a reference table costs a
  * map-side pass over the fact table, exactly like Spark's broadcast hash
  * join vs SMJ.
  *
  * Implements [[org.apache.spark.sql.execution.CodegenSupport]]: the join
  * FUSES into the fact side's WholeStageCodegen span (scan → as-of probe →
  * downstream projections in one generated loop), probing the
  * [[AsOfBroadcastIndex]] through a reference object — the same shape
  * BroadcastHashJoinExec uses for its HashedRelation.
  */
case class BroadcastAsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode
    with org.apache.spark.sql.execution.CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution ::
      org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
        org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  private def buildIndex(): AsOfBroadcastIndex =
    new AsOfBroadcastIndex(right.executeBroadcast[Array[InternalRow]](),
      rightKey, rightTime, right.output, rightTime.dataType)

  protected override def doExecute(): RDD[InternalRow] = {
    val lkB = BindReferences.bindReference(leftKey, left.output)
    val ltB = BindReferences.bindReference(leftTime, left.output)
    val leftOut = left.output
    val rightOut = right.output
    val idx = buildIndex()
    left.execute().mapPartitions { lIt =>
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightOut.size)
      val proj = UnsafeProjection.create(leftOut ++ rightOut, leftOut ++ rightOut)
      lIt.map { lrow =>
        val k = lkB.eval(lrow)
        val t = ltB.eval(lrow)
        val m = if (k == null || t == null) null else idx.lookup(k, t)
        if (m == null) proj(joined(lrow, nullRight))
        else proj(joined(lrow, m))
      }
    }
  }

  // ------------------------------------------------------------ codegen
  // The probe fuses into the left (fact) side's WholeStageCodegen loop:
  // scan → key/time eval → index probe → null-guarded right-column reads,
  // all in one generated function. 1:1 input/output, so no result copy.

  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, JavaCode}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.asInstanceOf[org.apache.spark.sql.execution.CodegenSupport].inputRDDs()

  // 1:1 input/output — copy only if the streamed side itself requires it
  // (the binary-node default refuses to answer for 2 children)
  override def needCopyResult: Boolean =
    left.asInstanceOf[org.apache.spark.sql.execution.CodegenSupport].needCopyResult

  override protected def doProduce(ctx: CodegenContext): String =
    left.asInstanceOf[org.apache.spark.sql.execution.CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val idxTerm = ctx.addReferenceObj("asofIndex", buildIndex(),
      classOf[AsOfBroadcastIndex].getName)
    ctx.currentVars = input
    val keyEv = BindReferences.bindReference(leftKey, left.output).genCode(ctx)
    val timeEv = BindReferences.bindReference(leftTime, left.output).genCode(ctx)
    def boxed(ev: ExprCode, dt: org.apache.spark.sql.types.DataType): String =
      if (CodeGenerator.isPrimitiveType(dt)) s"${CodeGenerator.boxedType(dt)}.valueOf(${ev.value})"
      else ev.value.toString
    val rrow = ctx.freshName("asofMatched")
    val (rightDecls, evaluatedRightVars) =
      AsOfCodegen.nullGuardedColumns(ctx, rrow, right.output)
    s"""
       |${keyEv.code}
       |${timeEv.code}
       |InternalRow $rrow = null;
       |if (!(${keyEv.isNull}) && !(${timeEv.isNull})) {
       |  $rrow = $idxTerm.lookup(${boxed(keyEv, leftKey.dataType)}, ${boxed(timeEv, leftTime.dataType)});
       |}
       |$rightDecls
       |${consume(ctx, input ++ evaluatedRightVars)}
     """.stripMargin
  }
}

/** Public construction surface (the shim package can build a DataFrame from
  * a logical plan; user code goes through [[graft.operators.AsOf]]).
  * Columns are resolved BY NAME against each side, so the caller must
  * de-collide duplicate names between the sides first (as with any join
  * whose output carries both schemas).
  */
object AsOfJoinShim {
  def asof(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val session = left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def col(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in [${plan.output.map(_.name).mkString(", ")}]"))
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      AsOfJoinNode(lPlan, rPlan,
        col(lPlan, leftKey), col(rPlan, rightKey),
        col(lPlan, leftTime), col(rPlan, rightTime)))
  }
}
