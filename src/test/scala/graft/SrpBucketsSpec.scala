package graft

import graft.functions.SrpBuckets
import graft.ops.Similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge

/** Pins the [[SrpBuckets]] custom expression to the literal-column form
  * it replaced: same deterministic Rademacher planes (radSign), same
  * sequential-fold dot, same `> 0` sign test — so every SRP oracle and
  * recorded bucket assignment is reproduced bit-for-bit, by BOTH the
  * interpreted eval and the generated code.
  */
class SrpBucketsSpec extends SparkSpec {

  private val planes = 4
  private val tables = 12
  private val dim = 64

  private def srpBuckets(v: Column): Column =
    ExprBridge.column(SrpBuckets(ExprBridge.expression(v), planes, tables, dim))

  private def referenceBuckets(v: Array[Double]): Array[Long] =
    Array.tabulate(tables) { t =>
      (0 until planes).foldLeft(0L) { (b, p) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * Similarity.radSign(t * planes + p, i); i += 1 }
        if (s > 0) b | (1L << p) else b
      }
    }

  private lazy val emb = {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("v")).limit(200)
  }

  test("expression output matches the per-plane literal-dot reference on real vectors") {
    val got = emb
      .select(col("vec_id"), srpBuckets(col("v")).as("bks"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .toMap
    val raw = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(got.size === raw.size)
    raw.foreach { case (id, v) =>
      assert(got(id).sameElements(referenceBuckets(v)), s"bucket mismatch for vec $id")
    }
  }

  test("interpreted eval equals generated code (codegen on/off parity)") {
    val expr = emb.select(srpBuckets(col("v")).as("bks"))
    val withCodegen = expr.collect().map(_.getSeq[Long](0).toArray)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = expr.collect().map(_.getSeq[Long](0).toArray)
      assert(withCodegen.length === interpreted.length)
      withCodegen.zip(interpreted).foreach { case (a, b) => assert(a.sameElements(b)) }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("vectors shorter than dim fold only the shared prefix (ArrayDot min-length contract)") {
    import spark.implicits._
    val short = Seq((1L, Array.fill(16)(0.5)), (2L, Array.fill(16)(-0.25)))
      .toDF("id", "raw")
      .select(col("id"), col("raw").cast("array<double>").as("v"))
    val got = short
      .select(col("id"), srpBuckets(col("v")).as("bks"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .toMap
    val raw = short.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    raw.foreach { case (id, v) =>
      assert(got(id).sameElements(referenceBuckets(v)), s"short-vector mismatch for $id")
    }
  }
}
