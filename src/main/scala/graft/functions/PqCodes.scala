package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** All `subspaces` PQ code assignments of one vector in a single tight
  * loop: `out[s] = argmax_c cos(v[s·d .. s·d+d), codebook[s][c])`, ties →
  * lowest code, computed against a driver-collected bounded codebook
  * (`nCodes × dim` doubles — the same sanctioned bounded-collect pattern
  * as the IVF coarse codebook).
  *
  * Why an expression and not the explode → ×nCodes broadcast-join →
  * struct-max aggregation it replaces: the join form materializes
  * |corpus| · subspaces · nCodes candidate ROWS (204.8M at sf0.1's 200k
  * vectors) to perform |corpus| · subspaces · nCodes 4-wide dot products
  * — the arithmetic is trivial, the row machinery around it was the
  * single heaviest stage of the PQ family (measured 39.8 s of executor
  * time at sf0.1). Here the codebook rides `ctx.addReferenceObj` (zero
  * literals in generated source, the SrpBuckets recipe) and the stage is
  * one small JIT-friendly loop per row.
  *
  * Parity contract with the join form (so every PQ oracle replays
  * unchanged):
  *  - subvector slice = `slice(v, s·d+1, d)` semantics (shorter tail
  *    slices allowed, empty past the end);
  *  - `sim = seqdot(sv, cv) / (snrm · cnrm)` with the same left-to-right
  *    fold and the same division;
  *  - the argmax replays `max(struct(sim, −code))`'s lexicographic
  *    ordering: ascending-code iteration updates only on a NaN-safe
  *    STRICT improvement, so equal sims keep the lowest code and NaN
  *    (zero-norm subvector) ranks above every number — exactly Spark's
  *    struct ordering on doubles.
  *  - null vectors: the join form still emitted code rows (null sims);
  *    this null-safe expression returns null instead. No fixture carries
  *    null vectors; callers that might must filter first.
  */
case class PqCodes(
    child: Expression,
    subDim: Int,
    codes: Array[Long],
    cvs: Array[Array[Double]],   // [s * nCodes + c] -> codebook subvector
    cnrms: Array[Double]         // [s * nCodes + c] -> its norm
) extends UnaryExpression {

  private def nCodes: Int = codes.length
  private def subspaces: Int = if (nCodes == 0) 0 else cvs.length / nCodes

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double>, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_pq_codes"

  // keep plans readable: the codebook is payload, not structure
  override def toString: String = s"$prettyName($child, d=$subDim, k=$nCodes, m=$subspaces)"

  // the synthesized case-class equals/hashCode compare the Array fields
  // by reference, so two builds of the same codebook never compare equal
  // — which defeats canonicalization, common-subexpression elimination,
  // and plan-equality (cache lookup). Compare the codebook by CONTENT.
  override def equals(other: Any): Boolean = other match {
    case that: PqCodes =>
      subDim == that.subDim &&
        java.util.Arrays.equals(codes, that.codes) &&
        java.util.Arrays.deepEquals(
          cvs.asInstanceOf[Array[AnyRef]], that.cvs.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.equals(cnrms, that.cnrms) &&
        child == that.child
    case _ => false
  }

  override def hashCode(): Int = {
    var h = subDim
    h = 31 * h + java.util.Arrays.hashCode(codes)
    h = 31 * h + java.util.Arrays.deepHashCode(cvs.asInstanceOf[Array[AnyRef]])
    h = 31 * h + java.util.Arrays.hashCode(cnrms)
    31 * h + child.hashCode()
  }

  override protected def nullSafeEval(value: Any): Any = {
    val v = value.asInstanceOf[ArrayData]
    val out = PqCodes.assign(
      i => v.getDouble(i), v.numElements(), subspaces, subDim, codes, cvs, cnrms)
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val codesRef = ctx.addReferenceObj("pqCodes", codes, "long[]")
      val cvsRef = ctx.addReferenceObj("pqCvs", cvs, "double[][]")
      val cnrmsRef = ctx.addReferenceObj("pqCnrms", cnrms, "double[]")
      val out = ctx.freshName("out")
      val len = ctx.freshName("len")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      val n = ctx.freshName("n")
      val snrm = ctx.freshName("snrm")
      val acc = ctx.freshName("acc")
      val c = ctx.freshName("c")
      val w = ctx.freshName("w")
      val sim = ctx.freshName("sim")
      val best = ctx.freshName("best")
      val bestCode = ctx.freshName("bestCode")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val dot = ctx.freshName("dot")
      val first = ctx.freshName("first")
      val better = ctx.freshName("better")
      val nc = codes.length
      s"""
         |long[] $out = new long[$subspaces];
         |int $len = $v.numElements();
         |for (int $s = 0; $s < $subspaces; $s++) {
         |  int $off = $s * $subDim;
         |  int $n = java.lang.Math.min(java.lang.Math.max($len - $off, 0), $subDim);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $v.getDouble($off + $i); $acc += $x * $x;
         |  }
         |  double $snrm = java.lang.Math.sqrt($acc);
         |  double $best = 0.0; long $bestCode = 0L; boolean $first = true;
         |  for (int $c = 0; $c < $nc; $c++) {
         |    double[] $w = $cvsRef[$s * $nc + $c];
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n && $i < $w.length; $i++) {
         |      $dot += $v.getDouble($off + $i) * $w[$i];
         |    }
         |    double $sim = $dot / ($snrm * $cnrmsRef[$s * $nc + $c]);
         |    boolean $better = $first ||
         |      (java.lang.Double.isNaN($sim) && !java.lang.Double.isNaN($best)) ||
         |      (!java.lang.Double.isNaN($sim) && !java.lang.Double.isNaN($best) && $sim > $best);
         |    if ($better) { $best = $sim; $bestCode = $codesRef[$c]; $first = false; }
         |  }
         |  $out[$s] = $bestCode;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqCodes {
  /** Shared assignment kernel (interpreted path; the generated code above
    * mirrors it statement for statement — SrpBucketsSpec-style parity is
    * pinned in PqCodesSpec).
    */
  private[functions] def assign(
      at: Int => Double,
      len: Int,
      subspaces: Int,
      subDim: Int,
      codes: Array[Long],
      cvs: Array[Array[Double]],
      cnrms: Array[Double]
  ): Array[Long] = {
    val nc = codes.length
    val out = new Array[Long](subspaces)
    var s = 0
    while (s < subspaces) {
      val off = s * subDim
      val n = math.min(math.max(len - off, 0), subDim)
      var acc = 0.0
      var i = 0
      while (i < n) { val x = at(off + i); acc += x * x; i += 1 }
      val snrm = math.sqrt(acc)
      var best = 0.0
      var bestCode = 0L
      var first = true
      var c = 0
      while (c < nc) {
        val w = cvs(s * nc + c)
        var dot = 0.0
        i = 0
        while (i < n && i < w.length) { dot += at(off + i) * w(i); i += 1 }
        val sim = dot / (snrm * cnrms(s * nc + c))
        val better = first ||
          (sim.isNaN && !best.isNaN) ||
          (!sim.isNaN && !best.isNaN && sim > best)
        if (better) { best = sim; bestCode = codes(c); first = false }
        c += 1
      }
      out(s) = bestCode
      s += 1
    }
    out
  }
}
