package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Similarity-search behavior: exact math, top-k semantics, and LSH
  * recall vs brute force on the embeddings fixture.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot/cosine: hand-checked values") {
    val df = Seq((Seq(1.0, 2.0), Seq(2.0, 3.0))).toDF("a", "b")
    val (d, fd, c) = df.select(
      Similarity.dot(col("a"), col("b")),
      Similarity.fastDot(col("a"), col("b")),
      Similarity.cosine(col("a"), col("b"))
    ).as[(Double, Double, Double)].collect().head
    assert(d == 8.0)
    assert(fd == 8.0)
    assert(math.abs(c - 8.0 / (math.sqrt(5) * math.sqrt(13))) < 1e-12)
  }

  test("cosineTopK: identical vector ranks first, orthogonal last") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f)),   // same direction as 0
      (2L, Seq(0.9f, 0.1f)),   // close
      (3L, Seq(0.0f, 1.0f))    // orthogonal
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .cosineTopK(df, "vec_id", "embedding", k = 3, queryPred = col("cid") === 0L)
      .orderBy("rank").as[(Long, Int, Long)].collect()
    assert(out.map(_._3).toSeq == Seq(1L, 2L, 3L))
  }

  test("cosineTopK excludes self") {
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(df, "vec_id", "embedding", 5, col("cid") === 0L)
      .select("neighbor_id").as[Long].collect()
    assert(!out.contains(0L))
  }

  test("nearDupPairs threshold behavior") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.01f)),
      (2L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.99)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("nearDupPairs raises loudly above the validation bound") {
    val df = (0L until 8L).map(i => (i, Seq(1.0f, i.toFloat))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.nearDupPairs(df, "vec_id", "embedding", 0.5, maxRows = 4L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("validation bound")), ex.toString)
    // the same corpus under the default bound still computes
    assert(Similarity.nearDupPairs(df, "vec_id", "embedding", 0.5).count() >= 0)
  }

  test("srpVerifiedPairs equals exact nearDupPairs on fixture; plan is a bucket hash join") {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val exact = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.4)
      .as[(Long, Long)].collect().toSet
    val bucketed = Similarity.srpVerifiedPairs(df, "vec_id", "embedding", 0.4)
      .as[(Long, Long)].collect().toSet
    assert(bucketed == exact)
    assert(bucketed.nonEmpty)
    // scale-shape evidence (the materialized form hides it behind a
    // checkpoint scan, so assert on the lazy plan): candidates come from a
    // shuffled/broadcast HASH join on the bucket key, never a
    // BroadcastNestedLoopJoin over the pair space
    val (lazyPlan, base) = Similarity.srpVerifiedPlan(df, "vec_id", "embedding", 0.4, 3, 24)
    val plan = lazyPlan.queryExecution.executedPlan.toString
    base.unpersist()
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(30).mkString("\n"))
  }

  test("high-threshold SRP: planted-pair recall is exact AND candidates are really pruned") {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val derived = Similarity.plantNearDups(df, "vec_id", "embedding",
      every = 20, idOffset = 1000000L, eps = 0.15)
    val n = derived.count()
    // recall: the verified output equals the exact all-pairs result —
    // every planted ≥0.9 pair survives 8-plane × 8-table blocking
    val exact = Similarity.nearDupPairs(derived, "vec_id", "embedding", 0.9)
      .as[(Long, Long)].collect().toSet
    val bucketed = Similarity.srpVerifiedPairs(derived, "vec_id", "embedding", 0.9,
      planesPerTable = 8, tables = 8)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture derivation must plant ≥0.9 pairs")
    assert(bucketed == exact)
    assert(exact.forall { case (a, b) => b == a + 1000000L },
      "only planted copies should clear 0.9 on this fixture")
    // pruning: the candidate set the verifier pays for is a small
    // fraction of the n(n-1)/2 pair space — the claim that justifies the
    // LSH machinery at 100 TB (the low-threshold variant deliberately
    // cannot show this; 0.9 is the production case)
    val cands = Similarity.srpCandidates(derived, "vec_id", "embedding",
      planesPerTable = 8, tables = 8).count()
    val pairSpace = n * (n - 1) / 2
    assert(cands * 20 < pairSpace,
      s"expected ≥95% pruning: $cands candidates vs $pairSpace pairs")
  }

  test("ivfTopK with nProbe = nClusters degenerates to exact brute-force top-k") {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val brute = Similarity.cosineTopK(df, "vec_id", "embedding", 5, col("cid") < 30)
      .as[(Long, Int, Long)].collect().toSet
    val ivfAll = Similarity.ivfTopK(df, "vec_id", "embedding", 5, col("cid") < 30,
      nClusters = 8, nProbe = 8)
      .as[(Long, Int, Long)].collect().toSet
    assert(ivfAll == brute)
    // partial probing returns a subset-ranked result, deterministically
    val ivf2a = Similarity.ivfTopK(df, "vec_id", "embedding", 5, col("cid") < 30,
      nClusters = 8, nProbe = 2).as[(Long, Int, Long)].collect().toSet
    val ivf2b = Similarity.ivfTopK(df, "vec_id", "embedding", 5, col("cid") < 30,
      nClusters = 8, nProbe = 2).as[(Long, Int, Long)].collect().toSet
    assert(ivf2a == ivf2b)
    assert(ivf2a.nonEmpty)
  }

  test("IVF probe ranking equals the cross-join window ranking: ties, NaN sims, zero vectors") {
    import org.apache.spark.sql.expressions.Window
    val nan = Double.NaN
    // cells 0 and 1 are equidistant from query 10; cell 3's NaN
    // coordinate gives every query a NaN sim against it
    val codebook = Array(
      (0L, Array(1.0, 0.0), 1.0),
      (1L, Array(0.0, 1.0), 1.0),
      (2L, Array(-1.0, 0.0), 1.0))
    val withNaN = codebook :+ ((3L, Array(nan, 0.0), nan))
    def queries(rows: (Long, Seq[Double])*) = rows.toDF("query_id", "qv")
      .withColumn("qn", sqrt(Similarity.fastDot(col("qv"), col("qv"))))
    // the cross-join window ranking probeCells replaced, kept here as the
    // reference: sim desc, then centroid_id asc
    def reference(q: org.apache.spark.sql.DataFrame, cb: Array[(Long, Array[Double], Double)], nProbe: Int) = {
      val centroids = cb.toSeq.map { case (cid, cv, cn) => (cid, cv.toSeq, cn) }
        .toDF("centroid_id", "cv", "cn")
      val w = Window.partitionBy("query_id").orderBy(col("psim").desc, col("centroid_id").asc)
      q.crossJoin(broadcast(centroids))
        .withColumn("psim", Similarity.fastDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= nProbe)
        .select("query_id", "centroid_id")
    }
    def probed(q: org.apache.spark.sql.DataFrame, cb: Array[(Long, Array[Double], Double)], nProbe: Int) =
      Similarity.probeCells(q, cb, nProbe).select("query_id", "centroid_id")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toSet
    val q = queries(
      10L -> Seq(1.0, 1.0),  // ties cells 0 and 1
      11L -> Seq(0.0, 1.0),  // cell 1, then a tie of cells 0 and 2 at sim 0
      12L -> Seq(nan, 1.0))  // NaN against every cell
    for ((cb, nProbe) <- Seq(codebook -> 1, codebook -> 2, withNaN -> 1, withNaN -> 2, withNaN -> 9))
      assert(pairs(probed(q, cb, nProbe)) == pairs(reference(q, cb, nProbe)), s"nProbe=$nProbe")
    assert(pairs(probed(q, codebook, 1)) == Set(10L -> 0L, 11L -> 1L, 12L -> 0L))
    assert(pairs(probed(q, codebook, 2)) == Set(10L -> 0L, 10L -> 1L, 11L -> 1L, 11L -> 0L, 12L -> 0L, 12L -> 1L))
    // a NaN sim ranks above every number, as it does in the window
    assert(pairs(probed(q, withNaN, 1)) == Set(10L -> 3L, 11L -> 3L, 12L -> 0L))
    // a zero vector divides by a zero norm, which ANSI mode rejects in
    // both forms
    val zero = queries(13L -> Seq(0.0, 0.0))
    val ref = intercept[Exception](pairs(reference(zero, codebook, 1)))
    val got = intercept[Exception](pairs(probed(zero, codebook, 1)))
    assert(got.getMessage.contains("DIVIDE_BY_ZERO") && ref.getMessage.contains("DIVIDE_BY_ZERO"), got)
  }

  test("Lloyd-trained IVF: deterministic, and exact at full probe") {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    // training refines the partitioning, not the search math: probing
    // every cluster must still reproduce brute force exactly
    val brute = Similarity.cosineTopK(df, "vec_id", "embedding", 5, col("cid") < 30)
      .as[(Long, Int, Long)].collect().toSet
    val trainedFull = Similarity.ivfTopK(df, "vec_id", "embedding", 5, col("cid") < 30,
      nClusters = 8, nProbe = 8, trainIterations = 1)
      .as[(Long, Int, Long)].collect().toSet
    assert(trainedFull == brute)
    // the quantized-mean Lloyd step is a pure function of the data:
    // two trainings yield identical partial-probe results
    val t1 = Similarity.ivfTopK(df, "vec_id", "embedding", 5, col("cid") < 30,
      nClusters = 8, nProbe = 2, trainIterations = 1)
      .as[(Long, Int, Long)].collect().toSet
    val t2 = Similarity.ivfTopK(df, "vec_id", "embedding", 5, col("cid") < 30,
      nClusters = 8, nProbe = 2, trainIterations = 1)
      .as[(Long, Int, Long)].collect().toSet
    assert(t1 == t2)
    assert(t1.nonEmpty)
  }

  test("SRP bucketing is deterministic and ANN recall@5 is reasonable on fixture") {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val brute = Similarity
      .cosineTopK(df, "vec_id", "embedding", 5, col("cid") < 30)
      .as[(Long, Int, Long)].collect().toSet
    val ann = Similarity
      .annLshTopK(df, "vec_id", "embedding", 5, col("cid") < 30, nPlanes = 2)
      .as[(Long, Int, Long)].collect()
    // determinism: rerun yields identical rows
    val ann2 = Similarity
      .annLshTopK(df, "vec_id", "embedding", 5, col("cid") < 30, nPlanes = 2)
      .as[(Long, Int, Long)].collect()
    assert(ann.toSet == ann2.toSet)
    // recall of true top-5 neighbor IDs (ranks may shift within bucket)
    val bruteIds = brute.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    val annIds = ann.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val hits = bruteIds.toSeq.flatMap { case (q, ids) =>
      ids.toSeq.map(id => if (annIds.getOrElse(q, Set.empty).contains(id)) 1 else 0)
    }
    // Random 64-dim data has near-uniform angles, the worst case for SRP:
    // P[same bucket] = (1-θ/π)^planes ≈ 0.25–0.45 for true neighbors at
    // 2 planes. Anything well above the ~0.25 chance floor shows the
    // bucketing correlates with cosine; real clustered embeddings do far
    // better.
    val recall = hits.sum.toDouble / hits.size
    assert(recall > 0.25, s"ANN recall@5 = $recall (2 planes, random 64-dim data)")
  }

  test("pqAdcTopK: structure, determinism, and ADC recall vs exact dot-product ranking") {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val out = Similarity.pqAdcTopK(df, "vec_id", "embedding",
      k = 5, queryPred = col("cid") < 30, subspaces = 4, subDim = 16, nCodes = 8)
      .as[(Long, Int, Long)].collect()
    // structure: every query gets exactly ranks 1..5, no self-neighbors
    val byQ = out.groupBy(_._1)
    assert(byQ.size == 30)
    assert(byQ.values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
    assert(out.forall { case (q, _, n) => q != n })
    // determinism
    val out2 = Similarity.pqAdcTopK(df, "vec_id", "embedding",
      k = 5, queryPred = col("cid") < 30, subspaces = 4, subDim = 16, nCodes = 8)
      .as[(Long, Int, Long)].collect()
    assert(out.toSet == out2.toSet)
    // recall vs EXACT dot-product top-5 (JVM brute force). Random
    // 64-dim data is PQ's worst case (near-uniform pairwise angles, so
    // 8 codes/subspace quantize away most of the signal — measured
    // ~0.15 here); the bar is the ~1% chance floor (5 of 499) ×5:
    // anything above shows ADC genuinely tracks the dot product.
    // Clustered production embeddings reconstruct far better.
    val vecs = df.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().map { case (id, v) => id -> v.toArray }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val hits = byQ.toSeq.map { case (q, rows) =>
      val exact = (vecs - q).toSeq
        .map { case (id, v) => (dot(vecs(q), v), id) }
        .sortBy { case (s, id) => (-s, id) }.take(5).map(_._2).toSet
      rows.map(_._3).count(exact.contains)
    }
    val recall = hits.sum.toDouble / (30 * 5)
    assert(recall > 0.05, s"ADC recall@5 = $recall vs exact dot ranking")
  }

  test("AdaptiveRerank: shortlist formula and equivalence to the floored constant at gate scale") {
    // the formula: 0.4% of the corpus, ceiling division, floored at 200
    assert(Similarity.adaptiveRerankK(100L) == 200)
    assert(Similarity.adaptiveRerankK(50000L) == 200)
    assert(Similarity.adaptiveRerankK(50001L) == 201) // ceil, not floor
    assert(Similarity.adaptiveRerankK(200000L) == 800)
    // below 50k rows the adaptive bound IS 200, so the sentinel must
    // reproduce the static-200 output row-for-row (the gate-scale
    // hash-exactness the oracle subquery relies on)
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    def run(rk: Int) = Similarity.pqAdcTopK(df, "vec_id", "embedding",
      k = 5, queryPred = col("cid") < 30,
      subspaces = 4, subDim = 16, nCodes = 8, rerankK = rk)
      .as[(Long, Int, Long)].collect().toSet
    assert(run(Similarity.AdaptiveRerank) == run(200))
  }

  test("semanticDedup equals brute-force per-cell pruning; keeps exactly one per dup chain") {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding", k = 8, threshold = 0.35)
      .as[(Long, Long, Boolean)].collect()
    val n = df.count()
    assert(out.length == n, "one verdict per input row")
    // reference computation: exact pairs restricted to same-cell members
    val cells = Similarity.clusterAssign(df, "vec_id", "embedding", 8)
      .as[(Long, Long)].collect().toMap
    val exactPairs = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.35)
      .as[(Long, Long)].collect()
      .filter { case (a, b) => cells(a) == cells(b) }
    val expectedDropped = exactPairs.map(_._2).toSet
    val gotDropped = out.filter(!_._3).map(_._1).toSet
    assert(gotDropped == expectedDropped)
    assert(out.forall { case (id, cell, _) => cells(id) == cell })
    // the survivor set must still cover every cell that had members
    assert(out.filter(_._3).map(_._2).toSet == cells.values.toSet)
  }

  test("semanticDedup: persisted-substrate path (stats gate forced) equals the lazy path") {
    // r21: above the substrate stats gate the prepped base persists and
    // every stage reads ONE corpus pass; forcing the gate with
    // substrateMinBytes = 0 must reproduce the lazy plan's rows exactly
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    def rows(minBytes: Long) =
      Similarity.semanticDedup(df, "vec_id", "embedding", k = 8, threshold = 0.35,
        substrateMinBytes = minBytes)
        .as[(Long, Long, Boolean)].collect().toSet
    assert(rows(0L) == rows(Long.MaxValue))
  }

  test("persisted IVF-PQ index: build -> reload -> query equals the in-job composite path") {
    val emb = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val dir = s"${tempDir("graft-test-annindex-")}/index"
    try {
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
        nClusters = 8, subspaces = 16, subDim = 4, nCodes = 64, dir)
      val persisted = Similarity
        .ivfPqTopKWithIndex(emb, "vec_id", "embedding", dir,
          k = 5, queryPred = col("cid") < 50, nProbe = 6,
          subspaces = 16, subDim = 4, nCodes = 64)
        .orderBy("query_id", "rank").collect().map(_.toSeq)
      val inJob = Similarity
        .ivfPqTopK(emb, "vec_id", "embedding",
          k = 5, queryPred = col("cid") < 50, nClusters = 8, nProbe = 6,
          subspaces = 16, subDim = 4, nCodes = 64)
        .orderBy("query_id", "rank").collect().map(_.toSeq)
      // the artifact path must be output-identical to building in-job:
      // the index ships, the build never reruns
      assert(persisted.toSeq === inJob.toSeq)
      assert(persisted.nonEmpty)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("appendToIvfPqIndex: appended index ≡ full rebuild (codes AND query results); param mismatch fails loudly") {
    val emb = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val root = tempDir("graft-test-annappend-")
    val (dirA, dirB) = (s"$root/a", s"$root/b")
    // the build slice keeps the codebook prefix (vec_id < 64), so the
    // frozen books equal the full-corpus rebuild's
    val isDelta = col("vec_id") >= 64 &&
      graft.ops.Sampling.hashBucket(col("vec_id"), "annapp", 100) >= 80
    try {
      Similarity.buildIvfPqIndex(emb.filter(!isDelta), "vec_id", "embedding",
        nClusters = 8, subspaces = 16, subDim = 4, nCodes = 64, dirA)
      Similarity.appendToIvfPqIndex(emb.filter(isDelta), "vec_id", "embedding", dirA)
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
        nClusters = 8, subspaces = 16, subDim = 4, nCodes = 64, dirB)
      // the artifact's code rows after the append are EXACTLY the
      // rebuilt index's — each row is a pure function of (vector, book)
      def codeRows(dir: String) = spark.read.parquet(s"$dir/codes")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(codeRows(dirA).toSeq === codeRows(dirB).toSeq)
      assert(spark.read.parquet(s"$dirA/codes").count() === emb.count())
      // and the query path over the two artifacts is output-identical
      def q(dir: String) = Similarity
        .ivfPqTopKWithIndex(emb, "vec_id", "embedding", dir,
          k = 5, queryPred = col("cid") < 50, nProbe = 6,
          subspaces = 16, subDim = 4, nCodes = 64)
        .orderBy("query_id", "rank").collect().map(_.toSeq)
      val (a, b) = (q(dirA), q(dirB))
      assert(a.toSeq === b.toSeq && a.nonEmpty)
      // querying with encode params the codes were NOT built with must
      // fail loudly instead of scoring against a stale codebook
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfPqTopKWithIndex(emb, "vec_id", "embedding", dirA,
          k = 5, queryPred = col("cid") < 50, nProbe = 6,
          subspaces = 16, subDim = 4, nCodes = 32)
      }
      assert(e.getMessage.contains("n_codes"))
      // appending through the wrong artifact kind is rejected up front
      intercept[IllegalArgumentException] {
        graft.ops.Dedup.lshIngestAppend(
          Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text", dirA)
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
