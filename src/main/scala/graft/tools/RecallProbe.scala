package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Caching, Similarity}

/** SRP recall measurement at arbitrary corpus scale (VERDICT r7 "Next
  * round" #1): the auto-scaled plane count in `srpVerifiedPlan`
  * (`effPlanes = max(requested, ceil(log2(n/250)))`) changes the banding
  * curve past ~2k vectors, and until this probe ran, no recall number
  * existed for that regime. Two measurements per registered SRP shape:
  *
  *  - **full recall** — |SRP-verified pairs| / |exact pairs ≥ τ|, with
  *    ground truth from the labeled O(n²) validator. The verify filter
  *    uses the same cosine arithmetic as the validator, so SRP-verified ⊆
  *    exact and the count ratio IS recall. Tractable to ~100k vectors
  *    (the validator's own bound); skipped above it.
  *  - **planted recall** — fraction of the deterministically planted
  *    near-dup pairs (`plantNearDups`, cosine ≈ 0.989) the SRP path
  *    recovers. Ground truth is known by construction (id ↔ id+offset),
  *    so this scales to any corpus — the sf10+ recall signal.
  *
  * Prints one JSON line per measurement; `main` also replays the
  * registered `ann_recall_at_k` query (LSH/IVF/PQ recall@5 vs exact
  * top-k) at the probed scale.
  *
  * Usage: `runMain graft.tools.RecallProbe <sfDir> [skipFull]`
  */
object RecallProbe {

  final case class SrpRecall(
      config: String,
      n: Long,
      effPlanes: Int,
      tables: Int,
      threshold: Double,
      exactPairs: Long,
      srpPairs: Long,
      recall: Double
  ) {
    def json: String =
      s"""{"probe":"srp_recall","config":"$config","n":$n,"eff_planes":$effPlanes,""" +
        s""""tables":$tables,"threshold":$threshold,"exact_pairs":$exactPairs,""" +
        s""""srp_pairs":$srpPairs,"recall":$recall}"""
  }

  /** srpVerifiedPlan's plane auto-scaling — delegates to the single
    * production definition so the probe reports the plane count the
    * production path actually used.
    */
  def effPlanesFor(n: Long, requested: Int): Int =
    graft.ops.Similarity.effPlanesFor(n, requested)

  /** Full recall of the registered low-threshold SRP shape
    * (`dedup_embedding_cosine_lsh`: τ=0.4, 3 planes, 24 tables) against
    * the exact validator. `maxRows` is forwarded to the validator — a
    * deliberate diagnostic run may raise it past the default bound, but
    * at 22G+ candidate pairs the exact pass stops being tractable
    * regardless, hence [[plantedRecall]] for those scales.
    */
  def fullRecall(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int,
      tables: Int,
      config: String,
      maxRows: Long = Similarity.NearDupPairsMaxRows
  ): SrpRecall = {
    val n = emb.count()
    val exact = Caching.materializeAndRelease(
      Similarity.nearDupPairs(emb, idCol, vecCol, threshold, maxRows))
    val srp = Similarity.srpVerifiedPairs(emb, idCol, vecCol, threshold, planes, tables)
    val nExact = exact.count()
    val nSrp = srp.count()
    SrpRecall(
      config, n, effPlanesFor(n, planes), tables, threshold,
      nExact, nSrp,
      if (nExact == 0) 1.0 else nSrp.toDouble / nExact.toDouble)
  }

  /** Planted recall of the high-threshold SRP shape
    * (`dedup_embedding_cosine_lsh_hi`: plant → τ=0.9, 8 planes, 8
    * tables). Denominator = planted pairs whose TRUE cosine clears the
    * threshold (computed pairwise on the known (id, id+offset) pairs —
    * O(planted), not O(n²)); numerator = those recovered by the SRP path.
    */
  def plantedRecall(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      every: Int,
      idOffset: Long,
      eps: Double,
      threshold: Double,
      planes: Int,
      tables: Int,
      config: String
  ): SrpRecall = {
    val corpus = Similarity.plantNearDups(emb, idCol, vecCol, every, idOffset, eps)
    val n = corpus.count()
    // true cosine of each planted (id, id+offset) pair, via one join.
    // Original ids come from the INPUT frame (not an id-range test —
    // ScaleGen fixtures carry ids far past any fixed offset, and a range
    // filter would silently shrink the denominator to one copy).
    val ids = corpus.select(col(idCol).as("pid"), col(vecCol).as("pv"))
    val planted = emb
      .select(col(idCol).as("pid"))
      .filter(col("pid") % every === 0)
      .join(ids, Seq("pid"))
      .join(
        ids.select((col("pid") - idOffset).as("pid"), col("pv").as("qv")),
        Seq("pid"))
      .select(
        col("pid"),
        (Similarity.fastDot(col("pv"), col("qv")) /
          (sqrt(Similarity.fastDot(col("pv"), col("pv"))) *
            sqrt(Similarity.fastDot(col("qv"), col("qv"))))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("pid").as("id_a"), (col("pid") + idOffset).as("id_b"))
    val plantedM = Caching.materializeAndRelease(planted)
    val srp = Similarity.srpVerifiedPairs(corpus, idCol, vecCol, threshold, planes, tables)
    val nPlanted = plantedM.count()
    val found = srp.join(plantedM, Seq("id_a", "id_b")).count()
    SrpRecall(
      config, n, effPlanesFor(n, planes), tables, threshold,
      nPlanted, found,
      if (nPlanted == 0) 1.0 else found.toDouble / nPlanted.toDouble)
  }

  /** PQ recall@5 vs exact top-5 at one rerank-shortlist size — the
    * rerankK scaling curve at a given corpus scale. The registered
    * queries size the shortlist adaptively (r15:
    * `Similarity.AdaptiveRerank` → max(200, ⌈n/250⌉), count-replayed in
    * the oracle); this probe measures the curve around that operating
    * point — pass a negative rerankK to probe the adaptive bound itself.
    */
  def pqRecallAt(base: DataFrame, rerankK: Int): (Long, Long, Double) = {
    val exact = Caching.materializeAndRelease(
      Similarity.cosineTopKFromBase(base, k = 5, queryPred = col("cid") < 50)
        .select("query_id", "neighbor_id"))
    val pq = Caching.materializeAndRelease(
      Similarity.pqAdcTopKFromBase(base, k = 5, queryPred = col("cid") < 50,
        subspaces = 16, subDim = 4, nCodes = 64, rerankK = rerankK)
        .select("query_id", "neighbor_id"))
    val nExact = exact.count()
    val hits = pq.join(exact, Seq("query_id", "neighbor_id")).count()
    Caching.release(exact); Caching.release(pq)
    (hits, nExact, if (nExact == 0) 1.0 else hits.toDouble / nExact.toDouble)
  }

  /** Empirical tail recall of the `mm_phash_dedup` banding
    * ([[graft.ops.Multimodal.dhashBandCandidates]] — the EXACT production
    * path) on planted 56-bit hash pairs at each Hamming distance 1..12,
    * under two bit placements:
    *  - `random`: d distinct uniform positions — the real-world curve;
    *  - `spread`: positions round-robin across the 4 bands — the
    *    adversarial worst case (for d ≥ 4 every band is touched, so
    *    recall is 0 BY CONSTRUCTION; for d ≤ 3 pigeonhole guarantees 1.0
    *    — both ends pin the documented completeness bound).
    * Deterministic (seeded per-distance RNG) so runs are comparable.
    */
  def phashBandRecall(spark: SparkSession, nPairs: Int = 2000, fpCol: String = "dhash"): Unit = {
    // fpCol routes the probe through the audio fingerprint's candidate
    // path (`fpBandCandidates(_, "afp")`, probe line `audio_band_recall`)
    // instead of the image one — the banding geometry is shared
    // (Multimodal.fpBandCandidates), so the measured curve applies to
    // whichever production column is driven
    import spark.implicits._
    val probeName = if (fpCol == "dhash") "phash_band_recall" else "audio_band_recall"
    val mask56 = (1L << 56) - 1
    for (placement <- Seq("random", "spread"); d <- 1 to 12) {
      val rng = new scala.util.Random(42L * (d + 1) + (if (placement == "spread") 1 else 0))
      val rows = (0 until nPairs).flatMap { i =>
        val base = rng.nextLong() & mask56
        val positions = placement match {
          case "random" =>
            val s = scala.collection.mutable.LinkedHashSet.empty[Int]
            while (s.size < d) s += rng.nextInt(56)
            s.toSeq
          case _ =>
            // round-robin bands, random offset inside each 14-bit band,
            // distinct positions
            val s = scala.collection.mutable.LinkedHashSet.empty[Int]
            var b = 0
            while (s.size < d) {
              s += (b % graft.ops.Multimodal.PhashBands) * graft.ops.Multimodal.PhashBandBits +
                rng.nextInt(graft.ops.Multimodal.PhashBandBits)
              b += 1
            }
            s.toSeq
        }
        val partner = positions.foldLeft(base)((h, p) => h ^ (1L << p))
        Seq((i.toLong, base), (i.toLong + 10000000L, partner))
      }
      val hashes = rows.toDF("doc_id", fpCol)
        .repartition(spark.sparkContext.defaultParallelism)
      val found = graft.ops.Multimodal.fpBandCandidates(hashes, fpCol)
        .filter(col("id_b") - col("id_a") === 10000000L)
        .count()
      println(
        s"""{"probe":"$probeName","placement":"$placement","hamming":$d,""" +
          s""""n_pairs":$nPairs,"found":$found,"recall":${found.toDouble / nPairs}}""")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: RecallProbe <sfDir> [skipFull | pqSweep [k1,k2,... (-1 = adaptive)] | phashBands | audioBands]")
    val sfDir = args(0)
    val skipFull = args.length > 1 && args(1) == "skipFull"
    // `pqSweep` arg: measure PQ recall@5 across rerankK values instead of
    // the standard probe set (`runMain graft.tools.RecallProbe /tmp/sf10
    // pqSweep 200,400,800,1600`)
    val pqSweep = args.length > 1 && args(1) == "pqSweep"
    val spark = graft.GraftSession.local()

    // `phashBands` arg: the mm_phash_dedup banding tail-recall probe
    // (data-free — planted hashes, not the embeddings table)
    if (args.length > 1 && args(1) == "phashBands") {
      phashBandRecall(spark)
      spark.stop()
      return
    }

    // `audioBands` arg: the mm_audio_dedup banding tail-recall probe —
    // the SAME planted-pair methodology through the audio fingerprint's
    // candidate column
    if (args.length > 1 && args(1) == "audioBands") {
      phashBandRecall(spark, fpCol = "afp")
      spark.stop()
      return
    }

    val emb = graft.queries.Tables.t(spark, sfDir, "embeddings")

    // `ivfpqSweep` arg: composite IVF-PQ recall@5 across (nProbe, rerankK)
    // configs — the two levers that govern the composition's recall
    // (`runMain graft.tools.RecallProbe /tmp/sf10 ivfpqSweep 5:-1,6:-1,5:1600`)
    if (args.length > 1 && args(1) == "ivfpqSweep") {
      val configs = args.lift(2).getOrElse("5:-1,6:-1")
        .split(",").map(_.trim.split(":")).map(a => (a(0).toInt, a(1).toInt))
      val base = Similarity.prepBase(emb, "vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = base.count()
      val exact = Caching.materializeAndRelease(
        Similarity.cosineTopKFromBase(base, k = 5, queryPred = col("cid") < 50)
          .select("query_id", "neighbor_id"))
      val nExact = exact.count()
      configs.foreach { case (nProbe, rk) =>
        val eff = if (rk < 0) Similarity.AdaptiveRerank else rk
        val t0 = System.nanoTime()
        val got = Caching.materializeAndRelease(
          Similarity.ivfPqTopKFromBase(base, k = 5, queryPred = col("cid") < 50,
            nClusters = 8, nProbe = nProbe, subspaces = 16, subDim = 4, nCodes = 64,
            rerankK = eff)
            .select("query_id", "neighbor_id"))
        val hits = got.join(exact, Seq("query_id", "neighbor_id")).count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(
          s"""{"probe":"ivfpq_sweep","n":$n,"n_probe":$nProbe,""" +
            s""""rerank_k":${if (rk < 0) Similarity.adaptiveRerankK(n) else rk},""" +
            s""""adaptive":${rk < 0},"n_hits":$hits,"n_exact":$nExact,""" +
            s""""recall":${hits.toDouble / nExact},"wall_sec":${math.round(wall * 10) / 10.0}}""")
        Caching.release(got)
      }
      Caching.release(exact)
      base.unpersist(false)
      spark.stop()
      return
    }

    if (pqSweep) {
      val ks = args.lift(2).getOrElse("200,400,800,1600").split(",").map(_.trim.toInt)
      val base = Similarity.prepBase(emb, "vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = base.count()
      ks.foreach { k =>
        val eff = if (k < 0) Similarity.adaptiveRerankK(n) else k
        val (hits, nExact, recall) = pqRecallAt(base, eff)
        println(
          s"""{"probe":"pq_rerank_sweep","n":$n,"rerank_k":$eff,""" +
            s""""adaptive":${k < 0},"n_hits":$hits,"n_exact":$nExact,"recall":$recall}""")
      }
      base.unpersist(false)
      spark.stop()
      return
    }

    if (!skipFull)
      println(fullRecall(
        emb, "vec_id", "embedding",
        threshold = 0.4, planes = 3, tables = 24,
        config = "dedup_embedding_cosine_lsh").json)

    println(plantedRecall(
      emb, "vec_id", "embedding",
      every = 20, idOffset = 1000000L, eps = 0.15,
      threshold = 0.9, planes = 8, tables = 8,
      config = "dedup_embedding_cosine_lsh_hi").json)

    // the registered ANN recall@5 observability query at this scale
    graft.SparkEntry.queries("ann_recall_at_k")(spark, sfDir)
      .collect()
      .foreach { r =>
        println(
          s"""{"probe":"ann_recall_at_k","method":"${r.getString(0)}",""" +
            s""""n_returned":${r.getLong(1)},"n_hits":${r.getLong(2)},""" +
            s""""n_exact":${r.getLong(3)},"recall":${r.getDouble(4)}}""")
      }

    // composite IVF-PQ recall@5 at the registered ann_ivfpq_topk config
    // (8 cells / probe 5 / 16×4 codes / adaptive rerank) vs exact
    {
      val base = Similarity.prepBase(emb, "vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = base.count()
      val exact = Caching.materializeAndRelease(
        Similarity.cosineTopKFromBase(base, k = 5, queryPred = col("cid") < 50)
          .select("query_id", "neighbor_id"))
      val got = Caching.materializeAndRelease(
        Similarity.ivfPqTopKFromBase(base, k = 5, queryPred = col("cid") < 50,
          nClusters = 8, nProbe = 6, subspaces = 16, subDim = 4, nCodes = 64,
          rerankK = Similarity.AdaptiveRerank)
          .select("query_id", "neighbor_id"))
      val nExact = exact.count()
      val hits = got.join(exact, Seq("query_id", "neighbor_id")).count()
      println(
        s"""{"probe":"ann_recall_at_k","method":"ivfpq","n":$n,""" +
          s""""n_hits":$hits,"n_exact":$nExact,""" +
          s""""recall":${if (nExact == 0) 1.0 else hits.toDouble / nExact}}""")
      Caching.release(exact); Caching.release(got)
      base.unpersist(false)
    }
    spark.stop()
  }
}
