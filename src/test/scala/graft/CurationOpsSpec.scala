package graft

import graft.ops.{Dedup, Similarity, TextOps}
import graft.queries.Tables
import org.apache.spark.sql.functions._

/** Specs for the curation/packaging operators: Gopher quality
  * gate, MinHash Jaccard estimates, PQ encoding, shuffle-sharding, and
  * the corpus report.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.t(spark, sf("sf0.001"), "documents")
  private def embs = Tables.t(spark, sf("sf0.001"), "embeddings")
  private def shingles = Dedup.shingleRows(docs, "doc_id", "text", 3)

  test("gopherQuality: keep verdict is exactly the conjunction of its emitted signals") {
    val out = TextOps.gopherQuality(docs, "doc_id", "text").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nWords = r.getAs[Long]("n_words")
      val meanLen = r.getAs[Double]("mean_word_len")
      val topFrac = r.getAs[Double]("top_frac")
      val nStop = r.getAs[Long]("n_stop")
      val expected = nWords >= 50 && nWords <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 && nStop >= 2 && topFrac <= 0.1
      assert(r.getAs[Boolean]("keep") == expected, s"verdict mismatch on $r")
    }
    // the gate must discriminate on the fixture — an all-true or all-false
    // verdict would mean the thresholds test nothing
    val verdicts = out.map(_.getAs[Boolean]("keep")).toSet
    assert(verdicts == Set(true, false), s"gate does not discriminate: $verdicts")
  }

  test("gopherQuality: n_words matches the whitespace token count") {
    val expected = docs
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .as[(Long, Long)].collect().toMap
    val got = TextOps.gopherQuality(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_words"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("lshCandidatePairsWithEst: same pair set as the plain candidate path, est in [0,1]") {
    val plain = Dedup
      .lshCandidatePairsFromShingles(shingles, numHashes = 64, bands = 16)
      .as[(Long, Long)].collect().toSet
    val withEst = Dedup
      .lshCandidatePairsWithEstFromShingles(shingles, numHashes = 64, bands = 16)
      .collect()
    assert(withEst.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet == plain)
    withEst.foreach { r =>
      val m = r.getAs[Long]("matched")
      val est = r.getAs[Double]("est_jaccard")
      assert(m >= 0 && m <= 64)
      assert(est == m.toDouble / 64.0)
    }
  }

  test("lshCandidatePairsWithEst: estimates are high on true >=0.8-Jaccard pairs") {
    val exact = Dedup
      .ngramJaccardPairsFromShingles(shingles, 4, 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val est = Dedup
      .lshCandidatePairsWithEstFromShingles(shingles, numHashes = 64, bands = 16)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, e) => (a, b) -> e }.toMap
    exact.foreach { p =>
      assert(est.contains(p), s"true pair $p missing from candidates")
      // E[est] = J >= 0.8, sigma ~= 0.05 at 64 lanes — 0.6 is a 4-sigma floor
      assert(est(p) >= 0.6, s"true pair $p estimated at ${est(p)}")
    }
  }

  test("lshCandidatePairsWithEst: lane agreement is an unbiased Jaccard estimator (4-sigma per pair, tight mean)") {
    // The statistical min-wise-independence check: for a sound family,
    // matched ~ Binomial(64, J) per pair, so est must sit within 4 sigma
    // of the EXACT Jaccard (from integer shingle evidence) pair by pair,
    // and the signed error must average out near zero across pairs. A
    // correlated family (the round-5 bug) concentrates matched at the
    // extremes and fails both.
    val exact = Dedup
      .ngramJaccardPairsFromShingles(shingles, 1, 2) // J >= 0.5: wide J range
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (a, b, i, sa, sb) => (a, b) -> i.toDouble / (sa + sb - i) }.toMap
    val est = Dedup
      .lshCandidatePairsWithEstFromShingles(shingles, numHashes = 64, bands = 16)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, e) => (a, b) -> e }.toMap
    val common = exact.keySet.intersect(est.keySet)
    assert(common.size >= 10, s"need enough overlapping pairs, got ${common.size}")
    val errs = common.toSeq.map { p =>
      val j = exact(p)
      val sigma = math.sqrt(j * (1 - j) / 64).max(1.0 / 64)
      val err = est(p) - j
      assert(math.abs(err) <= 4 * sigma, s"pair $p: est ${est(p)} vs J $j (${err / sigma} sigma)")
      err
    }
    val meanErr = errs.sum / errs.size
    assert(math.abs(meanErr) < 0.05, s"biased estimator: mean error $meanErr over ${errs.size} pairs")
  }

  test("pqEncode: one code per (vector, subspace), codes in range, codebook self-encodes") {
    val out = Similarity
      .pqEncode(embs, "vec_id", "embedding", subspaces = 4, subDim = 16, nCodes = 8)
      .as[(Long, Long, Long)].collect()
    val nVecs = embs.count()
    assert(out.length == nVecs * 4)
    assert(out.map { case (v, s, _) => (v, s) }.distinct.length == out.length)
    assert(out.forall { case (_, s, c) => s >= 0 && s < 4 && c >= 0 && c < 8 })
    // a codebook vector's own subvector has cosine 1 with its code —
    // argmax must pick itself (tie-break can't beat sim 1.0 + smaller id
    // only matters on exact duplicates, absent in the fixture)
    out.filter(_._1 < 8).foreach { case (v, s, c) =>
      assert(c == v, s"codebook vector $v subspace $s encoded as $c")
    }
  }

  test("q_shuffle_shard: balanced shards, dense in-shard positions, total preservation") {
    val out = SparkEntry.queries("q_shuffle_shard")(spark, sf("sf0.001"))
      .as[(Long, Long, Long)].collect()
    val n = docs.count()
    assert(out.length == n)
    assert(out.map(_._1).distinct.length == n)
    val byShard = out.groupBy(_._2)
    assert(byShard.keySet == (0L until 8L).toSet)
    val sizes = byShard.values.map(_.length).toSet
    assert(sizes.max - sizes.min <= 1, s"unbalanced shards: $sizes")
    byShard.foreach { case (shard, rows) =>
      val ps = rows.map(_._3).sorted
      assert(ps.toList == (0L until rows.length.toLong).toList, s"holes in shard $shard")
    }
  }

  test("q_mixture_temperature: smallest source kept whole, rates monotone in size, deterministic") {
    val fn = SparkEntry.queries("q_mixture_temperature")
    val kept = fn(spark, sf("sf0.001")).as[(Long, String)].collect()
    val total = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val keptBySource = kept.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val minSource = total.minBy(_._2)._1
    // keep_rate(min source) = 1 → every doc of the smallest source survives
    assert(keptBySource(minSource) == total(minSource))
    // empirical keep fraction tracks sqrt(n_min/n_s) (binomial tolerance)
    total.foreach { case (src, n) =>
      val rate = math.sqrt(total(minSource).toDouble / n)
      val got = keptBySource.getOrElse(src, 0L).toDouble / n
      val tol = 4 * math.sqrt(rate * (1 - rate) / n) + 1.0 / n
      assert(math.abs(got - rate) <= tol, s"$src: kept $got vs rate $rate (n=$n)")
    }
    // deterministic: second run returns the identical set
    assert(fn(spark, sf("sf0.001")).as[(Long, String)].collect().toSet == kept.toSet)
  }

  test("incrementalVerdicts: planted delta semantics — dup vs snapshot / within delta, decontam, quality, held-out") {
    // goodText passes every gopher rule: 60 words (>=50), mean word len
    // 3..10, >=2 stopwords, top fraction 1/60 <= 0.1
    val goodText = "the a an of and to in is it for " +
      (11 to 60).map(i => s"word$i").mkString(" ")
    val benchGram = (1 to 13).map(i => s"b$i").mkString(" ")
    val frame = Seq(
      // snapshot (is_new = false)
      (1L, "snapshot alpha text body", false, false),
      (2L, s"bench prefix $benchGram bench suffix", false, true), // the benchmark holdout
      // delta (is_new = true)
      (101L, "snapshot alpha text body", true, false), // dup vs snapshot
      (102L, "fresh duplicate pair body", true, false), // within-delta rep (min id)
      (103L, "fresh duplicate pair body", true, false), // within-delta dup
      (104L, goodText, true, false),                    // the only keeper
      (105L, "", true, false),                          // zero tokens -> quality false
      (106L, s"leading tokens $benchGram trailing", true, false), // contaminated
      (107L, "held out delta doc", true, true)          // bench AND new -> never kept
    ).toDF("doc_id", "text", "is_new", "is_bench")
    val got = graft.ops.Curation
      .incrementalVerdicts(frame, "doc_id", "text", col("is_new"), col("is_bench"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
      .toMap
    // O(delta) contract: verdict rows exist ONLY for delta docs — the
    // snapshot's verdicts are structurally unreachable by the run
    assert(got.keySet === Set(101L, 102L, 103L, 104L, 105L, 106L, 107L))
    //                    (is_bench, quality, dup, contaminated, keep)
    assert(got(101L) === ((false, false, true, false, false)))  // snapshot-hash dup
    assert(got(102L) === ((false, false, false, false, false))) // delta rep, fails quality
    assert(got(103L) === ((false, false, true, false, false)))  // within-delta dup
    assert(got(104L) === ((false, true, false, false, true)))   // the keeper
    assert(got(105L) === ((false, false, false, false, false))) // empty doc
    assert(got(106L) === ((false, false, false, true, false)))  // 13-gram contamination
    assert(got(107L) === ((true, false, false, false, false)))  // held out
  }

  test("incrementalVerdicts: persisted-substrate path (stats gate forced) equals the lazy path") {
    // r21: above the substrate stats gate the projected corpus persists
    // and every funnel stage reads ONE corpus pass; forcing the gate
    // with substrateMinBytes = 0 must reproduce the lazy rows exactly
    val docs = graft.queries.Tables.t(spark, sf("sf0.001"), "documents")
    def rows(minBytes: Long) = graft.ops.Curation
      .incrementalVerdicts(
        docs, "doc_id", "text",
        isNewCol = graft.ops.Sampling.hashBucket(org.apache.spark.sql.functions.col("doc_id"), "inc", 100) >= 80,
        isBenchCol = org.apache.spark.sql.functions
          .conv(org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.md5(org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit("bench:"),
              org.apache.spark.sql.functions.col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 100 < 10,
        substrateMinBytes = minBytes)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
      .toSet
    assert(rows(0L) == rows(Long.MaxValue))
  }

  test("q_corpus_report: totals reconcile with the raw table") {
    val rep = SparkEntry.queries("q_corpus_report")(spark, sf("sf0.001")).collect()
    assert(rep.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rep.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_docs"))
      val dr = r.getAs[Double]("dup_rate")
      assert(dr >= 0.0 && dr <= 1.0)
      assert(r.getAs[Double]("avg_chars") > 0.0)
    }
  }
}
