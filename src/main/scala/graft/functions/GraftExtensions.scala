package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions at session build time, so a cluster deployment enables them
  * with
  *
  * {{{
  * spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * ([[graft.GraftSession]] installs it on every session the engine
  * builds).
  * The imperative `ensureRegistered` paths remain for sessions the
  * library does not construct — each function has ONE shared builder
  * (`ArrayDot.builder`, `SrpBuckets.builder`), so the two routes resolve
  * identical expressions by construction.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (
        FunctionIdentifier(ArrayDot.name),
        new ExpressionInfo(classOf[ArrayDot].getName, null, ArrayDot.name),
        ArrayDot.builder
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier(SrpBuckets.name),
        new ExpressionInfo(classOf[SrpBuckets].getName, null, SrpBuckets.name),
        SrpBuckets.builder
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier(PqCodes.name),
        new ExpressionInfo(classOf[PqCodes].getName, null, PqCodes.name),
        PqCodes.builder
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier(TokenRuns.name),
        new ExpressionInfo(classOf[TokenRuns].getName, null, TokenRuns.name),
        TokenRuns.builder
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier(ShingleRuns.name),
        new ExpressionInfo(classOf[ShingleRuns].getName, null, ShingleRuns.name),
        ShingleRuns.builder
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier(WinnowRuns.name),
        new ExpressionInfo(classOf[WinnowRuns].getName, null, WinnowRuns.name),
        WinnowRuns.builder
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier(BpeMergeRuns.name),
        new ExpressionInfo(classOf[BpeMergeRuns].getName, null, BpeMergeRuns.name),
        BpeMergeRuns.builder
      )
    )
  }
}
