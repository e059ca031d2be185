package graft

import graft.functions.ShingleRuns

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Pins [[ShingleRuns]] to the HOF chain it replaced:
  * `transform(sequence(1, len−n+1), i → concat_ws(" ", element_at(ts,
  * i), …))` with the `when(count > 0, …)` empty-array short-circuit —
  * including the concat_ws null-skipping contract and both evaluation
  * paths.
  */
class ShingleRunsSpec extends SparkSpec {

  private def shingleRuns(ts: Column, n: Int): Column =
    ExprBridge.column(ShingleRuns(ExprBridge.expression(ts), n))

  private def hofForm(ts: org.apache.spark.sql.Column, n: Int) = {
    val count = size(ts) - (n - 1)
    when(
      count > 0,
      transform(sequence(lit(1), count), i =>
        concat_ws(" ", (0 until n).map(o => element_at(ts, i + o)): _*))
    ).otherwise(array().cast("array<string>"))
  }

  private val tokGen: Gen[List[String]] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.oneOf("é", "日本", "x y")))

  private def compare(rows: Seq[Seq[String]], ns: Seq[Int]): Unit = {
    import spark.implicits._
    val df = rows.toDF("ts")
    ns.foreach { n =>
      val got = df.select(
        shingleRuns(col("ts"), n).as("x"),
        hofForm(col("ts"), n).as("ref"))
        .collect()
      got.zip(rows).foreach { case (r, in) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n mismatch on $in")
      }
    }
  }

  test("edge inputs match the HOF form for n in 1..5") {
    compare(Seq(
      Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("one", "two", "three", "four", "five"),
      Seq("", "x", ""), Seq("日本", "テスト", "é")
    ), Seq(1, 2, 3, 4, 5))
  }

  test("null tokens inside the array are skipped like concat_ws") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq[String]("a", null, "c", "d"))).toDF("ts")
    val got = df.select(
      shingleRuns(col("ts"), 2).as("x"),
      hofForm(col("ts"), 2).as("ref"))
      .collect().head
    assert(got.getSeq[String](0) == got.getSeq[String](1))
    assert(got.getSeq[String](0) == Seq("a", "c", "c d"))
  }

  test("randomized property: matches the HOF form (seeded, 200 arrays, n in 2..4)") {
    val rows = (0 until 200).flatMap(i =>
      tokGen.apply(Gen.Parameters.default, Seed(i.toLong))).map(_.toSeq)
    assert(rows.size >= 180)
    compare(rows, Seq(2, 3, 4))
  }

  test("interpreted eval equals generated code") {
    import spark.implicits._
    val rows = Seq(Seq("a", "b", "c", "d"), Seq.empty[String], Seq("x"))
    def run(mode: String): Seq[Seq[String]] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try rows.toDF("ts")
        .select(shingleRuns(col("ts"), 3))
        .collect().map(_.getSeq[String](0)).toSeq
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(run("CODEGEN_ONLY") == run("NO_CODEGEN"))
  }

  test("null array propagates") {
    import spark.implicits._
    val r = Seq(Tuple1(null: Seq[String])).toDF("ts")
      .select(shingleRuns(col("ts"), 3))
      .collect()
    assert(r.head.isNullAt(0))
  }
}
