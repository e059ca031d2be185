package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One BPE merge step over a symbol sequence: every LEFTMOST,
  * NON-OVERLAPPING occurrence of the adjacent pair (`left`, `right`) is
  * replaced by the concatenated symbol `left+right` — the re-tokenize
  * inner loop of byte-pair-encoding training (Sennrich et al. 2016) and
  * of applying a learned merge table at inference.
  *
  * Greedy-leftmost is the semantics every BPE implementation uses and
  * the one that matters when `left == right`: `[a a a]` under merge
  * (a,a) yields `[aa, a]`, never `[a, aa]`. A merged element is never
  * reconsidered within the same pass (merging (a,a) over `[a a a a]`
  * gives `[aa aa]`, not `[aaa a]`-style cascades) — repeated application
  * happens across training iterations, one pass per learned merge.
  *
  * A native expression, not a HOF chain: the scan is inherently
  * sequential (each match consumes the next slot), which `transform`
  * lambdas cannot express without a quadratic positions trick. One pass,
  * one allocation per output row, codegen'd like [[ShingleRuns]].
  *
  * The merge pair arrives as plan-time literals (the PqCodes
  * discipline) — training resolves the argmax pair on the driver and
  * stamps it into the next iteration's projection.
  */
case class BpeMergeRuns(child: Expression, left: String, right: String)
    extends UnaryExpression {

  require(left.nonEmpty && right.nonEmpty, "merge pair symbols must be non-empty")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def prettyName: String = BpeMergeRuns.name

  @transient private lazy val leftU = UTF8String.fromString(left)
  @transient private lazy val rightU = UTF8String.fromString(right)

  override protected def nullSafeEval(value: Any): Any =
    BpeMergeRuns.run(value.asInstanceOf[ArrayData], leftU, rightU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("bpeLeft", leftU, classOf[UTF8String].getName)
    val b = ctx.addReferenceObj("bpeRight", rightU, classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.BpeMergeRuns$$.MODULE$$.run($v, $a, $b);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeMergeRuns {
  val name = "graft_bpe_merge_runs"

  /** Shared kernel for the interpreted and generated paths. Null slots
    * never match and pass through unchanged.
    */
  def run(ts: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = ts.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val cur = if (ts.isNullAt(i)) null else ts.getUTF8String(i)
      val matches = cur != null && cur.equals(a) &&
        i + 1 < n && !ts.isNullAt(i + 1) && ts.getUTF8String(i + 1).equals(b)
      if (matches) {
        out.add(UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}
