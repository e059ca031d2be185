package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer et al., SIGMOD'03) as ONE
  * native expression: per position i of the normalized text, hash the
  * k-gram `s[i, i+k)` (first 8 hex chars of its md5 as a long — the same
  * value `conv(substring(md5(substr), 1, 8), 16, 10)` yields, so any
  * md5-bearing engine replays it bit-for-bit), then the minimum of each
  * w-wide hash window, deduplicated keeping first occurrence
  * (`array_distinct` order).
  *
  * Replaces a two-HOF chain that ran INTERPRETED lambdas per character
  * position — an md5 + hex-conv + substring allocation per k-gram, then a
  * slice + array_min allocation per window (r14 forced-bench: 57.7 s at
  * the 100× fixture for what is one linear scan per document). Here: one
  * MessageDigest reused across positions, no per-position string
  * allocation, O(len × w) comparisons.
  *
  * PRECONDITION: the input must be single-byte text (the [[graft.ops
  * .TextOps.normalize]] output — lowercase `[a-z0-9 ]` — always is).
  * Byte windows then equal the character windows the HOF form hashed.
  * Parity contract (TextOpsSpec + the text_winnow_fingerprint oracle):
  *  - fewer than k chars → empty array; fewer than w k-grams → empty;
  *  - null input → empty array (the `when` chain's `otherwise` — the
  *    caller wraps nulls before this expression, see
  *    [[graft.ops.TextOps.winnowFingerprints]]).
  */
case class WinnowRuns(child: Expression, k: Int, w: Int) extends UnaryExpression {

  require(k >= 1 && w >= 1, s"winnowing needs k >= 1 and w >= 1, got k=$k w=$w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = WinnowRuns.name

  override protected def nullSafeEval(value: Any): Any =
    WinnowRuns.run(value.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WinnowRuns$$.MODULE$$.run($v, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowRuns {
  val name = "graft_winnow_runs"

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Shared kernel (interpreted and generated paths). */
  def run(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val m = n - k + 1 // number of k-grams
    if (m < 1 || m < w) return Empty
    val hs = new Array[Long](m)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < m) {
      md.reset()
      md.update(bytes, i, k)
      val d = md.digest()
      // first 8 hex chars of the digest = first 4 bytes, big-endian
      // unsigned — exactly conv(substring(md5(g),1,8),16,10)::long
      hs(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    // min per w-window, dedup keeping first occurrence (array_distinct)
    val out = new java.util.LinkedHashSet[java.lang.Long]
    var j = 0
    while (j + w <= m) {
      var mn = hs(j)
      var t = 1
      while (t < w) {
        if (hs(j + t) < mn) mn = hs(j + t)
        t += 1
      }
      out.add(mn)
      j += 1
    }
    val arr = new Array[Any](out.size())
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = it.next().longValue(); p += 1 }
    new GenericArrayData(arr)
  }
}
