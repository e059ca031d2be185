package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass tokenization as one codegen'd expression — the engine's
  * hottest projection (every text/dedup/retrieval family pays it per
  * document) without the regex chain it replaces:
  *
  *  - `alnumOnly = true`: maximal runs of `[a-z0-9]` bytes — exactly
  *    `filter(split(trim(regexp_replace(s, "[^a-z0-9]+", " ")), "\\s+"),
  *    _ != "")`, i.e. `TextOps.tokens(TextOps.normalize(...))` applied
  *    AFTER `lower()` (case mapping stays Spark's own `lower`, so any
  *    Unicode lowering subtlety is identical by construction).
  *  - `alnumOnly = false`: maximal runs of non-whitespace — exactly
  *    `filter(split(trim(s), "\\s+"), _ != "")` with Java's `\s` class
  *    (space, \t, \n, \x0B, \f, \r), i.e. `TextOps.tokens(...)`.
  *
  * Byte-level scanning is sound on UTF-8: every byte of a multi-byte
  * code point has the high bit set, so it can never match an ASCII
  * token-class or whitespace byte — runs therefore break exactly at the
  * characters the regexes break at, and every emitted substring starts
  * and ends on a code-point boundary. The regex chain costs three
  * passes and an NFA walk per document; this is one branch per byte
  * (measured on the sf10 shingle build — see bench/r13_notes.txt).
  *
  * Equivalence to the regex chain is pinned by TokenRunsSpec
  * (property-tested over ASCII/Unicode/whitespace-edge inputs) plus the
  * family oracles, which replay the regex form in DuckDB.
  */
case class TokenRuns(child: Expression, alnumOnly: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = TokenRuns.name

  override protected def nullSafeEval(value: Any): Any =
    TokenRuns.run(value.asInstanceOf[UTF8String], alnumOnly)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.TokenRuns$$.MODULE$$.run($v, $alnumOnly);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenRuns {
  val name = "graft_token_runs"

  /** Shared kernel (interpreted and generated paths both call it): scan
    * the UTF-8 bytes once, emit each maximal token run as a substring.
    */
  def run(s: UTF8String, alnumOnly: Boolean): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[UTF8String](8)
    var i = 0
    while (i < n) {
      while (i < n && !isTokenByte(bytes(i), alnumOnly)) i += 1
      val start = i
      while (i < n && isTokenByte(bytes(i), alnumOnly)) i += 1
      if (i > start)
        out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, i)))
    }
    new GenericArrayData(out.toArray(new Array[UTF8String](out.size())))
  }

  @inline private def isTokenByte(b: Byte, alnumOnly: Boolean): Boolean =
    if (alnumOnly) (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
    else !(b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r')
}
