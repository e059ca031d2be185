package graft

import graft.functions.TokenRuns

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Pins the [[TokenRuns]] single-pass tokenizer to the regex chain it
  * replaced, for BOTH modes and BOTH evaluation paths:
  *
  *  - ws mode    ≡ `filter(split(trim(c), "\\s+"), _ != "")`
  *  - alnum mode ≡ `filter(split(trim(regexp_replace(lower(c),
  *                  "[^a-z0-9]+", " ")), "\\s+"), _ != "")`
  *
  * The property inputs deliberately cover the byte-level scanner's edge
  * cases: every Java `\s` class member, multi-byte UTF-8 (whose bytes
  * must never read as separators), case-mapping inputs, empty/all-space
  * strings, and leading/trailing separators.
  */
class TokenRunsSpec extends SparkSpec {

  private def tokenRuns(c: Column, alnumOnly: Boolean): Column =
    ExprBridge.column(TokenRuns(ExprBridge.expression(c), alnumOnly))

  private def regexWs(c: org.apache.spark.sql.Column) =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  private def regexAlnum(c: org.apache.spark.sql.Column) =
    filter(split(trim(regexp_replace(lower(c), "[^a-z0-9]+", " ")), "\\s+"), t => t =!= "")

  private val tokenChars = Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('é', 'ß', '語', 'Ω', '7', 'Z'))
  private val sepChars = Gen.oneOf(' ', '\t', '\n', '\u000b', '\f', '\r', ',', '.', '—', '!')
  private val textGen: Gen[String] =
    Gen.listOf(Gen.frequency(3 -> tokenChars, 2 -> sepChars)).map(_.mkString)

  private def compare(inputs: Seq[String]): Unit = {
    import spark.implicits._
    val df = inputs.toDF("s")
    val got = df.select(
      tokenRuns(col("s"), alnumOnly = false).as("ws"),
      tokenRuns(lower(col("s")), alnumOnly = true).as("alnum"),
      regexWs(col("s")).as("ws_ref"),
      regexAlnum(col("s")).as("alnum_ref"))
      .collect()
    got.zip(inputs).foreach { case (r, in) =>
      assert(r.getSeq[String](0) == r.getSeq[String](2), s"ws mismatch on ${in.getBytes.toSeq}")
      assert(r.getSeq[String](1) == r.getSeq[String](3), s"alnum mismatch on ${in.getBytes.toSeq}")
    }
  }

  test("edge inputs match the regex chain in both modes") {
    compare(Seq(
      "", " ", "\t\n\f\r", "a", " a ", "a b", "a  b", "  hello,  World!!42  ",
      "ALLCAPS", "mixedCASE123", "naïve café — über strähne", "日本語 テスト 123",
      "tab\tsep\nnewline", "1,2,3...4", "İstanbul STRASSE ß", "a—b–c", "ゼロ0一1二2",
      "trailing...", "...leading", " nbsp is not java \\s", "under_score-dash"
    ))
  }

  test("randomized property: both modes match the regex chain (seeded, 400 strings)") {
    // seeded Gen sampling — the repo's deterministic property-test recipe
    val inputs = (0 until 400).flatMap(i =>
      textGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(inputs.size >= 380)
    compare(inputs)
  }

  test("interpreted eval equals generated code (codegen on/off parity)") {
    import spark.implicits._
    val inputs = Seq("  Hello,\tWorld!42  ", "naïve — 日本語7", "", "\n\n", "a1B2c3")
    def run(codegen: String): Seq[(Seq[String], Seq[String])] = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try inputs.toDF("s")
        .select(
          tokenRuns(col("s"), alnumOnly = false),
          tokenRuns(lower(col("s")), alnumOnly = true))
        .collect()
        .map(r => (r.getSeq[String](0), r.getSeq[String](1)))
        .toSeq
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(run("CODEGEN_ONLY") == run("NO_CODEGEN"))
  }

  test("null propagates; non-string input is rejected at analysis") {
    import spark.implicits._
    val r = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "s")
      .select(tokenRuns(col("s"), alnumOnly = true))
      .collect()
    assert(r.head.isNullAt(0))
    val e = intercept[Exception] {
      Seq(1L).toDF("x").select(tokenRuns(col("x"), alnumOnly = true)).collect()
    }
    assert(e.getMessage.contains("requires string") || e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("tokens/normTokens need no registry: column built with no active session") {
    // pre-r14 these routed through call_function, which resolves by NAME
    // at analysis time — a Column built on a session-less thread and
    // analyzed in an unregistered session failed. Direct expression
    // construction has no registry dependency; pin that by building the
    // columns on a thread with NO active session.
    import graft.ops.TextOps
    @volatile var cols: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = null
    val t = new Thread(() => {
      // the active session is an InheritableThreadLocal — drop the
      // inherited one so this thread really is session-less
      org.apache.spark.sql.SparkSession.clearActiveSession()
      if (org.apache.spark.sql.SparkSession.getActiveSession.isEmpty)
        cols = (TextOps.tokens(col("s")), TextOps.normTokens(col("s")))
    })
    t.start(); t.join()
    import spark.implicits._
    val r = Seq("Hello, World! 42").toDF("s")
      .select(cols._1.as("t"), cols._2.as("n"))
      .collect().head
    assert(r.getSeq[String](0) == Seq("Hello,", "World!", "42"))
    assert(r.getSeq[String](1) == Seq("hello", "world", "42"))
  }
}
