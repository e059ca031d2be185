package graft

import graft.functions.PqCodes
import graft.ops.Similarity.fastDot

import org.apache.spark.sql.functions._

/** Pins the [[PqCodes]] custom expression to the explode → ×nCodes
  * broadcast-join → struct-max assignment it replaced: same slice
  * clamps, same sequential-fold cosine, same NaN-safe lexicographic
  * argmax (ties → lowest code) — so every PQ oracle and recorded code
  * word reproduces bit-for-bit, by BOTH the interpreted eval and the
  * generated code.
  */
class PqCodesSpec extends SparkSpec {

  private val subspaces = 4
  private val subDim = 16
  private val nCodes = 8

  private lazy val emb = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")

  /** The replaced join form, verbatim (Similarity.pqEncodeFromRaw's old
    * body) — kept HERE as the reference semantics the expression must
    * replay.
    */
  private def joinFormEncode: Map[(Long, Long), Long] = {
    val baseRaw = emb.select(col("vec_id").cast("long").as("vid"),
      col("embedding").cast("array<double>").as("v"))
    val subCols = (0 until subspaces).map { s =>
      struct(lit(s).as("s"), slice(col("v"), s * subDim + 1, subDim).as("sv"))
    }
    val subs = baseRaw
      .select(col("vid"), explode(array(subCols: _*)).as("e"))
      .select(col("vid"), col("e.s").as("s"), col("e.sv").as("sv"))
      .withColumn("snrm", sqrt(fastDot(col("sv"), col("sv"))))
    val codebook = subs
      .filter(col("vid") < nCodes)
      .select(col("vid").as("code"), col("s"), col("sv").as("cv"), col("snrm").as("cnrm"))
    subs
      .join(broadcast(codebook), Seq("s"))
      .select(col("vid"), col("s"),
        struct(
          (fastDot(col("sv"), col("cv")) / (col("snrm") * col("cnrm"))).as("sim"),
          (-col("code")).as("negCode")).as("cand"))
      .groupBy(col("vid"), col("s"))
      .agg(max(col("cand")).as("best"))
      .select(col("vid"), col("s").cast("long").as("s"), (-col("best.negCode")).cast("long").as("code"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
  }

  test("expression codes match the join-form reference on the whole fixture") {
    val got = graft.ops.Similarity
      .pqEncode(emb, "vec_id", "embedding", subspaces, subDim, nCodes)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val ref = joinFormEncode
    assert(got.size === ref.size)
    ref.foreach { case (k, code) => assert(got(k) === code, s"code mismatch at $k") }
  }

  test("interpreted eval equals generated code (codegen on/off parity)") {
    val enc = graft.ops.Similarity
      .pqEncode(emb, "vec_id", "embedding", subspaces, subDim, nCodes)
    val withCodegen = enc.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = enc.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(withCodegen.length === interpreted.length)
      withCodegen.zip(interpreted).foreach { case (a, b) => assert(a === b) }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("randomized cross-check: expression == independent struct-max reference (800 cases)") {
    // Independent reference: materialize EVERY (code, sim) candidate and
    // pick the max by the same total order max(struct(sim, -code)) uses —
    // sortBy with a nanSafe comparator, structurally nothing like the
    // expression's streaming argmax. Seeded Gen sampling (the repo's
    // deterministic property-test style).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def nanSafeGt(a: Double, b: Double): Boolean =
      (a.isNaN && !b.isNaN) || (!a.isNaN && !b.isNaN && a > b)
    def slice(v: Array[Double], off: Int, n: Int): Array[Double] = {
      val from = math.min(off, v.length)
      java.util.Arrays.copyOfRange(v, from, from + math.min(math.max(v.length - from, 0), n))
    }
    def seqDot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    def refCodes(v: Array[Double], subspaces: Int, subDim: Int,
        codes: Array[Long], cb: Array[Array[Double]]): Array[Long] =
      Array.tabulate(subspaces) { s =>
        val sv = slice(v, s * subDim, subDim)
        val snrm = math.sqrt(seqDot(sv, sv))
        val cands = codes.indices.map { ci =>
          val cv = slice(cb(ci), s * subDim, subDim)
          (seqDot(sv, cv) / (snrm * math.sqrt(seqDot(cv, cv))), codes(ci))
        }
        // max by (sim nanSafe desc, code asc)
        cands.sortWith((x, y) =>
          if (nanSafeGt(x._1, y._1)) true
          else if (nanSafeGt(y._1, x._1)) false
          else x._2 < y._2).head._2
      }

    val valGen = Gen.frequency(
      8 -> Gen.choose(-3.0, 3.0),
      1 -> Gen.const(0.0)) // zero runs force NaN cosine branches
    var checked = 0
    for (seed <- 0 until 800) {
      val p = Gen.Parameters.default
      def draw[A](g: Gen[A], salt: Long): A = g.apply(p, Seed(seed * 1000L + salt)).get
      val subDim = draw(Gen.choose(1, 5), 1)
      val subspaces = draw(Gen.choose(1, 4), 2)
      val dim = draw(Gen.choose(0, subspaces * subDim + 3), 3)
      val nc = draw(Gen.choose(1, 6), 4)
      val cbDim = draw(Gen.choose(0, subspaces * subDim + 3), 5)
      val v = Array.tabulate(dim)(i => draw(valGen, 100 + i))
      val cb = Array.tabulate(nc)(c => Array.tabulate(cbDim)(i => draw(valGen, 1000 + c * 50 + i)))
      val codes = Array.tabulate(nc)(_.toLong)
      // expression-side codebook: pre-sliced per (subspace, code), same as
      // pqCodebookColumn builds it
      val cvs = Array.tabulate(subspaces * nc)(j => slice(cb(j % nc), (j / nc) * subDim, subDim))
      val cnrms = cvs.map(a => math.sqrt(seqDot(a, a)))
      val expr = PqCodes(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          v, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
        subDim, codes, cvs, cnrms)
      val got = expr.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
      val want = refCodes(v, subspaces, subDim, codes, cb)
      assert(got.sameElements(want),
        s"seed=$seed dim=$dim subDim=$subDim m=$subspaces nc=$nc cbDim=$cbDim: " +
          s"${got.toSeq} != ${want.toSeq}")
      checked += 1
    }
    assert(checked == 800)
  }

  test("degenerate shapes: short vectors clamp like slice(); zero-norm tail ranks NaN first") {
    import spark.implicits._
    // dim 20 < 4 subspaces × 16: subspaces 2 and 3 have empty/short
    // slices → snrm 0 → sim NaN for every code → NaN-safe argmax keeps
    // the FIRST (lowest) code, exactly like max(struct(NaN, −code))
    val cb = (0L until 3L).map(i => (i, Array.tabulate(20)(d => (d + i + 1).toDouble)))
    val rows = cb ++ Seq((7L, Array.tabulate(20)(d => 0.5 * (d % 5))))
    val df = rows.toDF("vid", "raw").select(col("vid"), col("raw").cast("array<double>").as("v"))
    val out = graft.ops.Similarity
      .pqEncode(df, "vid", "v", subspaces, subDim, nCodes = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out.size === 4 * subspaces)
    // subspace 2 starts at offset 32 > len 20 → all sims NaN → code 0
    rows.map(_._1).foreach { vid =>
      assert(out((vid, 2L)) === 0L, s"NaN-tie subspace should keep lowest code for $vid")
      assert(out((vid, 3L)) === 0L)
    }
  }

  test("two builds of the same codebook compare equal (canonicalization/CSE contract)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def mk(): PqCodes = {
      val codes = Array(0L, 1L)
      val cvs = Array(Array(1.0, 2.0), Array(3.0, 4.0), Array(5.0, 6.0), Array(7.0, 8.0))
      val cnrms = cvs.map(a => math.sqrt(a.map(x => x * x).sum))
      PqCodes(
        Literal.create(Array(1.0, 2.0, 3.0, 4.0), ArrayType(DoubleType)),
        2, codes, cvs, cnrms)
    }
    val (a, b) = (mk(), mk())
    // freshly-built arrays are distinct references — equality must be
    // content-based or plan canonicalization / subexpression elimination
    // / cache lookup can never match two uses of the same codebook
    assert(a == b)
    assert(a.hashCode == b.hashCode)
    assert(a.semanticEquals(b))
    val c = mk().copy(subDim = 3)
    assert(a != c)
    val d = mk()
    d.cvs(1)(0) = 99.0
    assert(a != d)
  }
}
