package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Every word n-gram occurrence of a token array, in sequence order, as
  * one native expression — the engine's second-hottest projection after
  * tokenization (the shingle explosion feeds the whole dedup family; at
  * 100 TB it is the single most expensive projection in the pipeline).
  *
  * Replaces the HOF chain `transform(sequence(1, len−n+1), i →
  * concat_ws(" ", element_at(ts, i), …, element_at(ts, i+n−1)))`, whose
  * lambda runs on the interpreted HOF path per SHINGLE (one sequence
  * materialization, n element_at calls, and a concat_ws allocation each
  * — the round-11 "interpreted HOFs" pathology). Here: one pass over
  * the array data, each shingle built by `UTF8String.concatWs`.
  *
  * Parity contract with the HOF form (TextOpsSpec + family oracles):
  *  - fewer than n tokens → empty array (the `when(count > 0, …)`
  *    short-circuit — Spark's `sequence(1, 0)` would count DOWN);
  *  - null tokens inside the array are SKIPPED by concat_ws semantics
  *    (cannot occur for TokenRuns output, which is containsNull=false,
  *    but the helper accepts any array<string>);
  *  - null input array → null.
  */
case class ShingleRuns(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = ShingleRuns.name

  override protected def nullSafeEval(value: Any): Any =
    ShingleRuns.run(value.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.ShingleRuns$$.MODULE$$.run($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleRuns {
  val name = "graft_shingle_runs"

  private val Sep = UTF8String.fromString(" ")

  /** Shared kernel for the interpreted and generated paths. */
  def run(ts: ArrayData, n: Int): ArrayData = {
    val len = ts.numElements()
    val k = len - n + 1
    if (k <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](k)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < k) {
      var j = 0
      while (j < n) {
        // ArrayData.getUTF8String returns null for null slots; concatWs
        // skips nulls — identical to the concat_ws HOF it replaces
        window(j) = if (ts.isNullAt(i + j)) null else ts.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Sep, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
