package graft.ops

import graft.functions.{ArrayDot, PqCodes, SrpBuckets}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge

/** Similarity search over an embedding column (SURVEY.md §2.11).
  *
  * Arithmetic is done with Catalyst higher-order functions in strict
  * left-to-right index order (`aggregate(zip_with(...))`), i.e. a
  * sequential double fold — deterministic and bitwise-reproducible across
  * partitionings, which makes results oracle-comparable.
  *
  * Scale design:
  *  - brute-force top-k broadcasts the (small) query batch and streams the
  *    corpus once — one scan, a partial top-k per partition via window;
  *    cost O(|corpus| × |queries| × dim) flops but zero corpus shuffle.
  *  - the LSH variant buckets by random-hyperplane signs so each query
  *    only meets its bucket's candidates — the 100 TB path where the
  *    corpus-side scan must not touch every vector per query.
  */
object Similarity {

  /** Marker substring of the nearDupPairs validation-bound raise_error —
    * the one guard whose firing at scale is the designed outcome rather
    * than a defect. Bench.isScaleGuard matches on exactly this constant,
    * so the message and the detector cannot drift apart.
    */
  val ScaleGuardMarker = "exceed the validation bound"

  /** SRP plane auto-scaling used by srpVerifiedPlan. ceil(log2(n/250)) in
    * exact integer arithmetic: the FP form (Math.log ratio) sits on a
    * rounding boundary exactly at n = 250·2^k — the gate corpus
    * (2000 = 250·2^3) lands there, and a libm ulp either way would
    * silently bump planes and change the oracle-pinned banding.
    * 64 - nlz((n-1)/250) ≡ ceil(log2(⌈n/250⌉)) ≡ ceil(log2(n/250)) for
    * all integer n > 250 (2^k ≥ n/250 ⟺ 2^k ≥ ⌈n/250⌉ since 2^k is an
    * integer).
    */
  private def effPlanesFor(n: Long, requested: Int): Int =
    math.max(
      requested,
      if (n <= 250) requested
      else 64 - java.lang.Long.numberOfLeadingZeros((n - 1) / 250))

  /** Sequential-fold dot product of two double arrays (composable form;
    * interpreted HOF path — used for one-off column math).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)

  /** Codegen'd dot product (ArrayDot) — bitwise-identical to `dot`, used
    * on the pairwise hot paths. The expression is built into the Column
    * directly, so it needs no session setup.
    */
  def fastDot(a: Column, b: Column): Column =
    ExprBridge.column(ArrayDot(ExprBridge.expression(a), ExprBridge.expression(b)))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The prepped corpus every similarity pipeline starts from:
    * `(cid, v: array<double>, nrm)`. Package-visible so a caller running
    * SEVERAL pipelines over the same corpus (the `ann_recall_at_k`
    * probe: exact + LSH + IVF + PQ) can build and persist it ONCE and
    * pass it to the `FromBase` variants below; the reuse stays inside
    * that one query's plan. Values are a pure deterministic
    * projection, so a shared persisted copy is bit-identical to each
    * pipeline's own build and every oracle replays unchanged.
    */
  private[graft] def prepBase(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    emb.select(col(idCol).as("cid"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(fastDot(col("v"), col("v"))))
  }

  /** Bounded top-k accumulator over (sim, neighbor_id) with the standard
    * (sim desc, neighbor asc) total order. As a TypedImperativeAggregate
    * (via `functions.udaf`) it gets map-side PARTIAL aggregation: each map
    * task keeps at most k entries per query, so the shuffle carries
    * O(k × |queries| × partitions) rows instead of the full
    * |corpus| × |queries| expansion a window-rank over the joined set
    * would move — the difference between a bounded merge and shuffling the
    * whole scored corpus at 100 TB.
    */
  private final class TopKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(Double, Long), Seq[(Double, Long)], Seq[Long]] {
    private def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    override def zero: Seq[(Double, Long)] = Nil
    // Amortized top-k: a full sort per accepted row is O(k log k) EACH —
    // ruinous at k=200 (the PQ shortlist; measured seconds per million
    // rows). Instead the buffer carries the last compaction's sorted
    // top-k in positions 0..k-1 plus an unsorted tail, compacting every
    // k appends: appends are O(1), sorts amortize to O(log k) per row.
    // buf(k−1) — the k-th best AS OF the last compaction — is a valid
    // (conservative) skip bound: k elements already rank above anything
    // it beats, so such a row can never enter the final top-k.
    override def reduce(buf: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
      if (buf.lengthCompare(k) >= 0 && better(buf(k - 1), x)) buf
      else {
        val b = buf :+ x
        if (b.lengthCompare(k) == 0 || b.lengthCompare(2 * k) >= 0) b.sortWith(better).take(k)
        else b
      }
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      (a ++ b).sortWith(better).take(k)
    override def finish(buf: Seq[(Double, Long)]): Seq[Long] =
      buf.sortWith(better).take(k).map(_._2)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Top-k per query: bounded partial aggregation (see TopKAgg), then one
    * posexplode to (rank, neighbor) rows. Identical output to a
    * window-rank — the heap's comparator IS the window's total order.
    */
  private def rankTopK(joined: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    joined
      .groupBy("query_id")
      .agg(topk(col("sim"), col("neighbor_id").cast("long")).as("nbrs"))
      .select(col("query_id"), posexplode(col("nbrs")).as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"), col("neighbor_id"))
  }

  /** Exact top-k cosine neighbors for a query subset, brute force.
    * Pre-computes norms once per side; broadcasts the query batch.
    */
  def cosineTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      queryPred: Column
  ): DataFrame = cosineTopKFromBase(prepBase(emb, idCol, vecCol), k, queryPred)

  /** [[cosineTopK]] over an already-prepped `(cid, v, nrm)` base. */
  private[graft] def cosineTopKFromBase(base: DataFrame, k: Int, queryPred: Column): DataFrame = {
    val queries = base
      .filter(queryPred)
      .select(col("cid").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val joined = base
      .join(broadcast(queries), col("cid") =!= col("query_id"))
      .select(
        col("query_id"),
        col("cid").as("neighbor_id"),
        (fastDot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("sim")
      )
    rankTopK(joined, k)
  }

  /** Largest corpus [[nearDupPairs]] will touch before failing loudly.
    * 100k rows ≈ 5e9 candidate pairs — the outer edge of what an exact
    * validator should ever chew through; the scale path is
    * [[srpVerifiedPairs]].
    */
  val NearDupPairsMaxRows: Long = 100000L

  /** All pairs with cosine ≥ threshold. Blocked self-join (id_a < id_b on a
    * range-free cross) — EXACT and O(n²): this is the small-scale validator
    * that grounds the bucketed paths ([[srpVerifiedPairs]], `annLshTopK`),
    * never the production path.
    *
    * Guarded by construction: the plan carries a one-row corpus count
    * (broadcast, lazy — fires whenever and wherever the plan is executed)
    * and `raise_error`s before the pair fan-out if the corpus exceeds
    * [[NearDupPairsMaxRows]], so no future caller can run the quadratic
    * join at production scale by accident (same precedent as
    * `Dedup.chunkDedup`'s packing guard).
    */
  def nearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxRows: Long = NearDupPairsMaxRows
  ): DataFrame = {
    val base = prepBase(emb, idCol, vecCol)
    val bound = base.agg(count(lit(1)).as("__n"))
    val a = base
      .crossJoin(broadcast(bound))
      .select(
        when(
          col("__n") > maxRows,
          raise_error(concat(
            lit("nearDupPairs is the exact all-pairs validator (O(n^2)); corpus rows "),
            col("__n").cast("string"),
            lit(s" $ScaleGuardMarker $maxRows - use srpVerifiedPairs at scale"))))
          .otherwise(col("cid")).as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("cid").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(fastDot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("id_a", "id_b")
  }

  /** IVF coarse quantizer: nearest-centroid assignment by exact cosine
    * against k fixed centroids (the first k vectors — deterministic; a
    * production pipeline would feed k-means centroids in). Broadcast of k
    * rows, one corpus scan, no shuffle: at 100 TB this is the partitioning
    * step that co-locates each cluster before IVF search probes only the
    * relevant clusters.
    */
  def clusterAssign(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    clusterAssignFromBase(prepBase(emb, idCol, vecCol), k)

  /** [[clusterAssign]] over an already-prepped `(cid, v, nrm)` base (the
    * [[prepBase]] shape) — the variant a caller holding a persisted base
    * composes without re-scanning the corpus per stage.
    */
  private[graft] def clusterAssignFromBase(base: DataFrame, k: Int): DataFrame = {
    val centroids = base
      .filter(col("cid") < k)
      .select(col("cid").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn"))
    // argmax as a declarative MAX of (sim, −centroid) structs — the same
    // total order the window rank (sim desc, centroid_id asc) gave, but
    // with map-side partial combine: the ×k candidate fan-out collapses
    // to one row per vector BEFORE the shuffle, instead of sorting n×k
    // rows through a per-vector window (20M rows at the 100× fixture for
    // k=100). Same move as pqEncode's argmax (Similarity.pqEncode).
    base
      .crossJoin(broadcast(centroids))
      .select(
        col("cid"),
        col("centroid_id"),
        (fastDot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("sim")
      )
      .groupBy("cid")
      .agg(max(struct(col("sim"), (-col("centroid_id")).as("negc"))).as("best"))
      .select(col("cid").as("vec_id"), (-col("best.negc")).as("centroid_id"))
  }

  /** SemDeDup-style semantic dedup: quantize the corpus into coarse cells
    * (nearest-centroid assignment, same convention as [[clusterAssign]]),
    * then prune within each cell — a row is dropped when a LOWER-id row in
    * the same cell has cosine ≥ threshold. Emits every input row with its
    * cell and keep/drop verdict, so the caller can filter or audit.
    *
    * Scale shape: the pairwise stage runs per cell via a shuffled hash
    * join on `centroid_id` — never a global cross join. k grows with the
    * corpus, holding cell population (and the per-cell O(m²) verify)
    * bounded. Cross-cell near-dups are deliberately out of scope: that is
    * the SemDeDup trade-off (recall bounded by the quantizer) that makes
    * the method linear-ish and lets it run over web-scale corpora.
    *
    * Portability caveat: the keep/drop gate thresholds a raw FP cosine.
    * The sequential-fold `fastDot` has replayed bitwise-equal to DuckDB's
    * `list_cosine_similarity` on every fixture, but unlike the
    * integer-exact Jaccard/BM25 gates this one is not engine-exact by
    * construction — a pair landing within a ulp of the threshold could in
    * principle flip between engines. If that ever bites, compare
    * `floor(1e9 * cos)` on both sides (shrinks the sensitive set from
    * "every representable double at the boundary" to the 1e-9 quanta).
    */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      threshold: Double,
      // stats-gate override for specs that pin persisted-path ≡ lazy-path
      substrateMinBytes: Long = Caching.MaterializeSubstrateMinBytes
  ): DataFrame = {
    // ONE prepped corpus persisted for every stage when the corpus is
    // big enough to matter (r21 scan audit: the lazy form executed FIVE
    // parquet scans of the embedding corpus — assignment, both pair
    // sides, the verdict join, and the centroid filter each re-read the
    // fixture; at 100 TB that is five corpus passes for one operator).
    // The ann_recall_at_k shared-base precedent: values are a pure
    // deterministic projection, so the persisted copy is bit-identical
    // and the oracle replays unchanged. Below the stats gate the lazy
    // form wins (the tiny scans run concurrently; measured +0.4 s at
    // sf0.1 from the persist + eager-verdict barrier), so the gate keeps
    // the small-scale path exactly as before — both paths value-equal,
    // pinned by SimilaritySpec.
    val prepped = prepBase(emb, idCol, vecCol)
    if (!Caching.bigEnough(prepped, substrateMinBytes)) semanticDedupFromBase(prepped, k, threshold)
    else {
      val base = prepped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Caching.materializeAndRelease(semanticDedupFromBase(base, k, threshold), base)
    }
  }

  /** [[semanticDedup]]'s plan over an already-prepped `(cid, v, nrm)`
    * base — package-visible so plan-shape tests pin the LAZY form.
    */
  private[graft] def semanticDedupFromBase(
      base: DataFrame,
      k: Int,
      threshold: Double
  ): DataFrame = {
    val assigned = clusterAssignFromBase(base, k)
    val cells = assigned
      .join(base, col("vec_id") === col("cid"))
      .select(col("vec_id"), col("centroid_id"), col("v"), col("nrm"))
    val a = cells.select(
      col("vec_id").as("id_a"), col("centroid_id").as("cell"),
      col("v").as("va"), col("nrm").as("na"))
    val b = cells.select(
      col("vec_id").as("id_b"), col("centroid_id").as("cell"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = a
      .join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(fastDot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
      .withColumn("is_dup", lit(true))
    assigned
      .join(dropped, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("centroid_id"),
        coalesce(!col("is_dup"), lit(true)).as("kept"))
  }

  /** Product-quantization encode: split each vector into `subspaces`
    * contiguous `subDim`-wide subvectors and assign every subvector the id
    * of its most-cosine-similar code from that subspace's codebook (the
    * first `nCodes` vectors' subvectors — deterministic, same convention
    * as [[clusterAssign]]; production feeds trained per-subspace
    * codebooks). Output is long-format `(id, subspace, code)` — the PQ
    * code word, m·log2(k) bits per vector, the standard memory-compressed
    * representation for billion-scale ANN re-ranking.
    *
    * Scale shape: the codebook is subspaces×nCodes rows (tiny —
    * broadcast) and the ×nCodes candidate fan-out collapses to one row
    * per (vid, subspace) BEFORE any shuffle: the argmax is a declarative
    * MAX of (sim, −code) structs (lexicographic, so max ⇔ highest sim
    * then lowest code — the identical total order a window rank gives)
    * with map-side partial combine. At 100× data that shuffles 3.2M
    * combined rows instead of the 205M-row sorted fan-out the original
    * window-rank form moved (the measured sf10 bottleneck). Two
    * alternatives were measured and REJECTED: per-code typedLit dot
    * expressions blow up whole-stage codegen (janino compile dominates,
    * 4 s → 15 s at the gate), and a transform-HOF over literal codebook
    * matrices runs interpreted per element (~2× slower end-to-end).
    * Cosine is the sequential fold, so the assignment replays exactly
    * in the oracle.
    */
  def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      subspaces: Int,
      subDim: Int,
      nCodes: Int
  ): DataFrame = {
    pqEncodeFromRaw(
      emb.select(col(idCol).cast("long").as("vid"), asDouble(col(vecCol)).as("v")),
      idCol, subspaces, subDim, nCodes)
  }

  /** [[pqEncode]] over an already-projected `(vid: long, v)` frame; the
    * output id column is named `outIdCol`.
    *
    * Assignment runs in ONE codegen'd expression
    * ([[graft.functions.PqCodes]]) against a driver-collected bounded
    * codebook (nCodes × dim doubles — the sanctioned IVF-codebook
    * pattern), replacing the explode → ×nCodes broadcast-join →
    * struct-max form: that form materialized
    * |corpus|·subspaces·nCodes candidate ROWS to do the same
    * |corpus|·subspaces·nCodes 4-wide dots, and the row machinery (not
    * the arithmetic) was the PQ family's heaviest stage — 39.8 s of
    * executor time at sf0.1, the sf10 fan-out parallelism pathology of
    * r11, all for ~13 ms of dot products. The expression replays the
    * join form's argmax exactly (same slice clamps, same sequential
    * fold, same NaN-safe struct ordering, ties → lowest code), so the
    * PQ oracles hash-match unchanged.
    */
  private[graft] def pqEncodeFromRaw(
      baseRaw: DataFrame,
      outIdCol: String,
      subspaces: Int,
      subDim: Int,
      nCodes: Int
  ): DataFrame = {
    val (codesCol, _) = pqCodebookColumn(baseRaw, subspaces, subDim, nCodes)
    pqSpread(baseRaw)
      .select(col("vid"), posexplode(codesCol).as(Seq("pos", "code")))
      .select(
        col("vid").as(outIdCol),
        col("pos").cast("long").as("subspace"),
        col("code"))
  }

  /** Collect the bounded PQ codebook (nCodes × dim doubles — the
    * sanctioned IVF-codebook pattern) from `baseRaw` `(vid, v)` and
    * return the [[graft.functions.PqCodes]] assignment column plus the
    * ascending codebook ids. Shared by the encode (long-format output)
    * and the ADC path (positional wide output).
    */
  private[graft] def pqCodebookColumn(
      baseRaw: DataFrame,
      subspaces: Int,
      subDim: Int,
      nCodes: Int
  ): (Column, Array[Long]) =
    pqCodebookColumnFromRows(baseRaw, collectPqCodebookRows(baseRaw, nCodes), subspaces, subDim)

  /** The bounded PQ codebook rows (first-`nCodes` vectors by id) —
    * driver-collected once at encode/build time; [[buildIvfPqIndex]]
    * persists exactly these so the append path encodes deltas under the
    * FROZEN book instead of deriving a fresh one from the delta.
    */
  private[graft] def collectPqCodebookRows(
      baseRaw: DataFrame,
      nCodes: Int): Array[(Long, Array[Double])] =
    baseRaw.filter(col("vid") < nCodes).select("vid", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /** [[pqCodebookColumn]] under ALREADY-COLLECTED codebook rows (freshly
    * derived or artifact-reloaded) — the assignment column is a pure
    * function of (v, codebook), so the two paths encode identically by
    * construction.
    */
  private[graft] def pqCodebookColumnFromRows(
      baseRaw: DataFrame,
      cbRows: Array[(Long, Array[Double])],
      subspaces: Int,
      subDim: Int
  ): (Column, Array[Long]) = {
    val codes = cbRows.map(_._1)
    val nc = codes.length
    val cvs = new Array[Array[Double]](subspaces * nc)
    val cnrms = new Array[Double](subspaces * nc)
    var s = 0
    while (s < subspaces) {
      var ci = 0
      while (ci < nc) {
        val v = cbRows(ci)._2
        // same clamps as slice(v, off+1, subDim): empty past the end
        val off = math.min(s * subDim, v.length)
        val n = math.min(math.max(v.length - off, 0), subDim)
        val sv = java.util.Arrays.copyOfRange(v, off, off + n)
        cvs(s * nc + ci) = sv
        cnrms(s * nc + ci) = seqNorm(sv)
        ci += 1
      }
      s += 1
    }
    val codesCol =
      ExprBridge.column(PqCodes(ExprBridge.expression(col("v")), subDim, codes, cvs, cnrms))
    (codesCol, codes)
  }

  /** Per-row PQ work is subspaces·nCodes dots — CPU-bound and invisible
    * to file-split sizing, so spread small inputs to full parallelism
    * (the r11 lesson; a real cluster scan of a 100 TB corpus already has
    * enough splits and skips this).
    */
  private[graft] def pqSpread(baseRaw: DataFrame): DataFrame = {
    val parallelism = baseRaw.sparkSession.sparkContext.defaultParallelism
    if (baseRaw.rdd.getNumPartitions < parallelism) baseRaw.repartition(parallelism)
    else baseRaw
  }

  /** PQ asymmetric-distance top-k (ADC): queries stay full-precision,
    * the corpus is represented only by its PQ code word, and each
    * candidate's score is the query's dot product with the candidate's
    * RECONSTRUCTION — Σ over subspaces of a per-(query, subspace, code)
    * lookup-table entry. The billion-scale ANN re-rank recipe: the LUT is
    * |queries|·subspaces·nCodes rows (independent of corpus size,
    * broadcast), the corpus side touches only its m small code columns
    * (m·log2(k) bits per vector, not the raw floats), and the per-query
    * result is bounded by the map-side TopKAgg. The ADC sum is a
    * fixed-order chain (p0 + p1 + …), never a shuffled SUM — FP addition
    * stays deterministic and oracle-replayable.
    */
  /** When `rerankK` > 0, the ADC ranking only SHORTLISTS: the top
    * `rerankK` candidates per query (by ADC score) are re-scored by exact
    * cosine against the full-precision vectors and the final top-k comes
    * from that re-rank — the standard two-stage PQ recipe (coarse
    * compressed scan → bounded exact refine). The refine cost is
    * |queries| × rerankK exact dots — independent of corpus size — and
    * recall is governed by whether the true neighbors survive into the
    * ADC shortlist, not by ADC's (lossy) ordering of them.
    *
    * SIZE rerankK WITH THE CORPUS, not as a constant: quantization error
    * pushes true neighbors further down the ADC ranking as the corpus
    * densifies, so a fixed shortlist loses recall at scale. Measured at
    * 64-dim/16×4/64-code (`bench/r14_recall_sf10.txt`): recall@5 = 0.992 at
    * 2k rows with rerankK=200 (a 10% shortlist), but the SAME rerankK at
    * 200k rows (0.1%) reads 0.684; holding ≥0.8 there needs ≈500
    * (0.792 @ 400, 0.872 @ 800, 0.932 @ 1600, 0.976 @ 3200). Pass
    * [[AdaptiveRerank]] to size the shortlist from the corpus:
    * `rerankK = max(200, ⌈n/250⌉)` (a 0.4% fraction that floors to the
    * measured-0.99 constant at gate scale and reads 0.872 at 200k rows).
    * The count is derived from the corpus frame itself, so a DuckDB
    * oracle replays the same constant as a `COUNT(*)` scalar subquery —
    * the [[semanticDedup]] cell-count pattern. Refine cost stays
    * |queries| × rerankK exact dots. `n/100` buys the 0.93+ regime if a
    * deployment needs it.
    */
  /** Sentinel for `rerankK`: size the ADC shortlist from the corpus,
    * `max(200, ⌈n/250⌉)` — see [[adaptiveRerankK]]. `Int.MinValue`, NOT a
    * small negative: every value in the documented `<= 0` range keeps its
    * original "skip the exact re-rank" semantics, so a legacy caller
    * passing -1 to disable rerank still gets the disable path rather than
    * a silent adaptive shortlist plus an extra count() job.
    */
  val AdaptiveRerank: Int = Int.MinValue

  /** The corpus-adaptive ADC shortlist size: a 0.4% corpus fraction with
    * a floor of 200 (the sf0.1-calibrated constant the fraction equals
    * at gate scale). Integer ceiling, so the oracle-side
    * `GREATEST(200, (COUNT(*) + 249) // 250)` reproduces it exactly.
    */
  def adaptiveRerankK(n: Long): Int = math.max(200L, (n + 249L) / 250L).toInt

  def pqAdcTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      queryPred: Column,
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      rerankK: Int = 0
  ): DataFrame = {
    // ONE prepped corpus persisted for every stage (r21 scan audit: the
    // lazy form executed EIGHT parquet scans of the embedding corpus —
    // codebook slice, LUT queries, shortlist, exact re-rank sides each
    // re-read the fixture). nrm rides along (it feeds only the exact
    // re-rank; the cached column is 8 bytes/row). The count inside
    // pqAdcTopKFromBase is the cache-filling first action. Result is
    // eagerly materialized so the base's blocks release before return —
    // the ann_recall_at_k shared-base precedent, values unchanged.
    val baseN = emb
      .select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(fastDot(col("v"), col("v"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Caching.materializeAndRelease(
      pqAdcTopKFromBase(baseN, k, queryPred, subspaces, subDim, nCodes, rerankK),
      baseN)
  }

  /** [[pqAdcTopK]] over an already-prepped `(cid, v, nrm)` base (the
    * same frame [[prepBase]] emits — `nrm` feeds only the exact rerank).
    */
  private[graft] def pqAdcTopKFromBase(
      baseN: DataFrame,
      k: Int,
      queryPred: Column,
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      rerankK: Int
  ): DataFrame = {
    // AdaptiveRerank resolves here, from the corpus frame itself: on the
    // raw-parquet path the count is a column-pruned footer scan; on the
    // shared-base path (ann_recall_at_k) the frame is already persisted
    // and counted. Resolving before the plan is built keeps the
    // shortlist bound a literal in the TopK ranking.
    val effRerankK =
      if (rerankK == AdaptiveRerank) adaptiveRerankK(baseN.count()) else rerankK
    val base = baseN.select(col("cid").cast("long").as("cid"), col("v"))
    // wide code-POSITION word: one row per corpus vector, one 1-based
    // LUT index per subspace. Positions (the code's rank in the
    // code-ascending codebook) rather than raw code ids, so ADC scoring
    // indexes its LUT arrays in O(1) — element_at on a MAP is a linear
    // key scan per lookup even under codegen (measured, it dominated the
    // scoring stage at 16 subspaces). The rank is subspace-independent —
    // every subspace's codebook is the same first-nCodes vector ids —
    // so ONE tiny broadcast join attaches it to the long-format word.
    // code word per row from ONE PqCodes evaluation, pivoted to the
    // positional wide form by pure projection: cpos(code) = rank of the
    // code id in the ascending codebook, i.e. array_position over the
    // tiny sorted-id literal — replacing the former long-format encode →
    // broadcast-join → groupBy pivot (a |corpus|·m-row shuffle agg, the
    // PQ path's heaviest remaining stage after the encode fix).
    //
    // The code WORD (vid, codes array) is computed in its own stage: the
    // exchange between the codes projection and the 16-way positional
    // pivot is a collapse barrier — without it CollapseProject inlines
    // the expression into all 16 consumers and it evaluates 16× per row
    // (measured 37 s of executor CPU on a 2000-row corpus). The hash
    // exchange on vid is also the distribution a production system
    // stores/shuffles its code table by.
    val baseRaw = base.select(col("cid").as("vid"), col("v"))
    val (codesCol, codebookIds) = pqCodebookColumn(baseRaw, subspaces, subDim, nCodes)
    val idsLit = typedLit(codebookIds.toSeq)
    val wideCols = (0 until subspaces).map { s =>
      array_position(idsLit, element_at(col("__codes"), s + 1)).cast("int").as(s"r$s")
    }
    val parallelism = baseRaw.sparkSession.sparkContext.defaultParallelism
    val wide = pqSpread(baseRaw)
      .select(col("vid"), codesCol.as("__codes"))
      .repartition(parallelism, col("vid"))
      .select(col("vid") +: wideCols: _*)
    // per-subspace codebook (same convention as pqEncode: first nCodes
    // vectors' subvectors) and the per-query lookup table over it
    val cbCols = (0 until subspaces).map { s =>
      struct(lit(s).as("s"), slice(col("v"), s * subDim + 1, subDim).as("cv"))
    }
    val cb = base
      .filter(col("cid") < nCodes)
      .select(col("cid").as("code"), explode(array(cbCols: _*)).as("e"))
      .select(col("code"), col("e.s").as("s"), col("e.cv").as("cv"))
    val queries = base.filter(queryPred).select(col("cid").as("query_id"), col("v").as("qv"))
    val lut = queries
      .crossJoin(broadcast(cb))
      .select(
        col("query_id"), col("s"), col("code"),
        fastDot(slice(col("qv"), col("s") * subDim + 1, lit(subDim)), col("cv")).as("p"))
    // score: the LUT re-shaped to one code-rank-ordered ARRAY per
    // (query, subspace) by a tiny aggregation over its |queries|·m·k
    // rows, broadcast ONCE onto the compressed corpus; ADC = fixed-order
    // chain of positional element_at lookups. Identical p doubles summed
    // in the same p0+p1+… order as the original per-subspace
    // broadcast-join chain (oracles replay unchanged), but the plan
    // drops m−1 broadcast exchanges and the m-deep join chain — and the
    // positional arrays keep the interpreted scoring row O(m), not
    // O(m·k) (see the wide/rank comment above).
    val lutAggs = (0 until subspaces).map { s =>
      transform(
        array_sort(collect_list(when(col("s") === s, struct(col("code"), col("p"))))),
        e => e.getField("p")
      ).as(s"a$s")
    }
    val qLut = lut.groupBy("query_id").agg(lutAggs.head, lutAggs.tail: _*)
    // the scoring scan starts at a checkpointed scan of the POSITIONAL
    // wide table — two r11 lessons in one: (a) fusing upstream work into
    // the nested-loop scoring stage bloats the generated method past
    // what HotSpot JITs (measured 146 s vs 1 s at 100× data), and (b)
    // anything fused into the scoring stage is re-evaluated per
    // (corpus × query) row — the pivot fused here cost |queries|× its
    // per-corpus-row price (measured 110 s of executor CPU at 50
    // queries). So the pivot materializes once per corpus row, and
    // scoring reads plain int position columns.
    val wideM = Caching.materializeAndRelease(wide)
    val scored = wideM.crossJoin(broadcast(qLut))
    val adc = (0 until subspaces).map(s => element_at(col(s"a$s"), col(s"r$s"))).reduce(_ + _)
    val adcScored = scored
      .filter(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"), adc.as("sim"))
    exactRerankTopK(baseN, adcScored, queryPred, k, effRerankK)
  }

  /** The shared two-stage tail of every compressed-scan ANN path: when
    * `effRerankK > 0`, shortlist the top `effRerankK` candidates per
    * query by the (lossy) compressed score, re-score the shortlist by
    * exact cosine against the full-precision vectors, and rank to k;
    * otherwise rank the compressed scores directly. The refine cost is
    * |queries| × effRerankK exact dots — independent of corpus size.
    */
  private def exactRerankTopK(
      baseN: DataFrame,
      coarseScored: DataFrame,
      queryPred: Column,
      k: Int,
      effRerankK: Int
  ): DataFrame =
    if (effRerankK <= 0) rankTopK(coarseScored, k)
    else {
      val shortlist = rankTopK(coarseScored, effRerankK).select("query_id", "neighbor_id")
      val corpus = baseN.select(col("cid").cast("long").as("cid"), col("v"), col("nrm"))
      val queriesN = corpus
        .filter(queryPred)
        .select(col("cid").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val refined = shortlist
        .join(corpus, shortlist("neighbor_id") === corpus("cid"))
        .join(broadcast(queriesN), Seq("query_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          (fastDot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("sim"))
      rankTopK(refined, k)
    }

  /** Composite IVF-PQ top-k (the FAISS IVFADC shape — the production
    * billion-scale ANN): IVF coarse cells bound WHERE the scan looks, PQ
    * codes bound WHAT the scan reads per candidate, and the
    * corpus-adaptive exact re-rank restores recall on the shortlist.
    * [[ivfTopK]] alone scans probed cells with full-precision dots;
    * [[pqAdcTopK]] alone ADC-scans the WHOLE corpus per query. Composed:
    *
    *  1. ONE per-row projection computes both the IVF cell assignment
    *     (nested codegen'd dots over the bounded coarse codebook) and the
    *     PQ code positions ([[graft.functions.PqCodes]]) — materialized
    *     once, its own stage (the collapse-barrier discipline of
    *     [[pqAdcTopKFromBase]]);
    *  2. queries probe `nProbe` of `nClusters` cells and carry their ADC
    *     lookup tables — a |queries|·nProbe-row frame, BROADCAST onto the
    *     compressed corpus and hash-probed by cell id: the ADC scan
    *     touches exactly the probed cells' rows (never corpus × queries)
    *     and the corpus itself never shuffles;
    *  3. shortlist by the fixed-order ADC sum, exact-rerank to k
    *     ([[exactRerankTopK]], `rerankK` sized by [[AdaptiveRerank]]).
    *
    * Fully deterministic (fixed codebooks, total orders), so the DuckDB
    * oracle replays assignment, probing, LUT scoring, shortlist, and
    * re-rank exactly.
    */
  def ivfPqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      queryPred: Column,
      nClusters: Int,
      nProbe: Int,
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      rerankK: Int = AdaptiveRerank
  ): DataFrame = {
    val base = prepBase(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Caching.materializeAndRelease(
      ivfPqTopKFromBase(base, k, queryPred, nClusters, nProbe, subspaces, subDim, nCodes, rerankK),
      base)
  }

  /** [[ivfPqTopK]] over an already-PERSISTED `(cid, v, nrm)` base — the
    * caller owns the persist/release lifecycle.
    */
  private[graft] def ivfPqTopKFromBase(
      base: DataFrame,
      k: Int,
      queryPred: Column,
      nClusters: Int,
      nProbe: Int,
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      rerankK: Int
  ): DataFrame = {
    // the adaptive-rerank count and the bounded codebook collect are
    // independent reads of the same persisted base — overlap them (opt
    // guide §2.6; r22)
    val (baseCount, codebook) = graft.util.Par.run2(
      if (rerankK == AdaptiveRerank) base.count() else -1L,
      ivfCoarseCodebook(base, nClusters))
    val effRerankK =
      if (rerankK == AdaptiveRerank) adaptiveRerankK(baseCount) else rerankK
    val wideM = Caching.materializeAndRelease(
      ivfPqCodes(base, codebook, subspaces, subDim, nCodes))
    ivfPqQueryFromCodes(
      base, wideM, codebook,
      k, queryPred, nProbe, subspaces, subDim, nCodes, effRerankK)
  }

  /** Coarse-quantizer codebook: first-`nClusters` base rows, driver-
    * collected (bounded — IVF's premise is that the coarse codebook is
    * tiny), untrained (training composes the same way via lloydStep if a
    * deployment wants it).
    */
  private def ivfCoarseCodebook(
      base: DataFrame,
      nClusters: Int): Array[(Long, Array[Double], Double)] =
    base
      .filter(col("cid") < nClusters)
      .select(col("cid").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)

  /** The corpus-sized IVF-PQ INDEX frame — one row per vector: cell
    * assignment + positional PQ code word per subspace (`vid,
    * centroid_id, r0..r{S-1}`), computed in ONE projection and pivoted
    * behind its own exchange (the collapse barrier — see
    * pqAdcTopKFromBase's wide/rank commentary, which this reuses).
    * Lazy: [[ivfPqTopKFromBase]] checkpoints it for the in-job path;
    * [[buildIvfPqIndex]] streams it straight to parquet — the
    * build-once / query-many artifact.
    */
  private[graft] def ivfPqCodes(
      base: DataFrame,
      codebook: Array[(Long, Array[Double], Double)],
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      // artifact-reloaded PQ codebook rows for the delta-append path;
      // None derives the book from `base` (the build path)
      pqRows: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    val baseRaw = base.select(col("cid").as("vid"), col("v"), col("nrm"))
    val (codesCol, codebookIds) = pqRows match {
      case Some(rows) => pqCodebookColumnFromRows(baseRaw, rows, subspaces, subDim)
      case None       => pqCodebookColumn(baseRaw, subspaces, subDim, nCodes)
    }
    val idsLit = typedLit(codebookIds.toSeq)
    val wideCols = (0 until subspaces).map { s =>
      array_position(idsLit, element_at(col("__codes"), s + 1)).cast("int").as(s"r$s")
    }
    val parallelism = baseRaw.sparkSession.sparkContext.defaultParallelism
    assignToCodebook(pqSpread(baseRaw), codebook)
      .select(col("vid"), col("centroid_id"), codesCol.as("__codes"))
      .repartition(parallelism, col("vid"))
      .select(col("vid") +: col("centroid_id") +: wideCols: _*)
  }

  /** Persist the IVF-PQ index as a parquet artifact: `dir/centroids`
    * (the bounded coarse codebook) and `dir/codes` (the corpus-sized
    * compressed index, written DISTRIBUTED — one shard per partition,
    * never driver-collected). Build-once / query-many: at 100 TB the
    * assignment+encode pass over the corpus is the expensive step, and
    * this is the artifact that amortizes it across query jobs
    * ([[ivfPqTopKWithIndex]]).
    */
  def buildIvfPqIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      dir: String): Unit = {
    val base = prepBase(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val spark = base.sparkSession
      // ONE bounded collect serves BOTH codebooks (r22, VERDICT r21 #4):
      // the coarse codebook is the first-nClusters rows and the PQ book
      // the first-nCodes rows of the same base, so collecting the
      // max(nClusters, nCodes) prefix once replaces two serial
      // cache-filling jobs with one (the filter still evaluates every
      // partition, so the persisted base's cache fills exactly as the
      // first of the two collects used to fill it).
      val prefixRows = base
        .filter(col("cid") < math.max(nClusters, nCodes))
        .select(col("cid"), col("v"), col("nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
      val codebook = prefixRows.takeWhile(_._1 < nClusters)
      // the raw PQ codebook rows (bounded: nCodes vectors) — persisted so
      // [[appendToIvfPqIndex]] encodes deltas under the FROZEN book; the
      // in-job build derives the identical book from these same rows
      val pqRows = prefixRows.takeWhile(_._1 < nCodes).map { case (id, v, _) => (id, v) }
      // …then the four artifact writes, which depend only on those rows
      // (codes additionally on the cached base), run as CONCURRENT jobs
      // (opt guide §2.6) instead of four serial write+commit latencies.
      // Build-time hyperparameters travel WITH the artifact and are
      // validated on every load ([[graft.util.ArtifactParams]]): a query
      // or append run supplying different nCodes/subDim than the codes
      // were encoded with fails loudly instead of silently scoring
      // against a stale codebook (r19 advice).
      graft.util.Par.run(
        () => graft.util.ArtifactParams.write(
          spark, s"$dir/params", ivfPqParams(nClusters, subspaces, subDim, nCodes)),
        () => spark
          .createDataFrame(codebook.toSeq.map { case (cid, cv, cn) => (cid, cv.toSeq, cn) })
          .toDF("centroid_id", "cv", "cn")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/centroids"),
        () => spark
          .createDataFrame(pqRows.toSeq.map { case (vid, v) => (vid, v.toSeq) })
          .toDF("vid", "v")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/pqbook"),
        () => ivfPqCodes(base, codebook, subspaces, subDim, nCodes, Some(pqRows))
          .write.mode("overwrite").parquet(s"$dir/codes"))
    } finally base.unpersist(false)
  }

  private def ivfPqParams(
      nClusters: Int, subspaces: Int, subDim: Int, nCodes: Int): Seq[(String, String)] =
    Seq(
      "kind" -> "ivfpq",
      "n_clusters" -> nClusters.toString,
      "subspaces" -> subspaces.toString,
      "sub_dim" -> subDim.toString,
      "n_codes" -> nCodes.toString)

  /** Append a DELTA batch to a persisted IVF-PQ index
    * ([[buildIvfPqIndex]]) under the artifact's FROZEN codebooks: the
    * delta vectors are coarse-assigned against the reloaded centroids and
    * PQ-encoded against the reloaded `pqbook`, and their code rows are
    * parquet-APPENDED to `dir/codes` — the daily-ingest maintenance step.
    * Nothing already in the index is touched or recomputed, so the cost
    * is O(delta) encode work + one append write; because every code row
    * is a pure function of (vector, frozen codebook), the appended index
    * is ROW-IDENTICAL to a from-scratch rebuild over build ∪ delta
    * whenever the build slice contains the codebook prefix (the
    * `ann_ivfpq_append` gate proves exactly that equivalence).
    *
    * Build-time hyperparameters come FROM the artifact's params table —
    * there is nothing for a caller to mis-repeat.
    */
  def appendToIvfPqIndex(
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String): Unit = {
    val spark = delta.sparkSession
    val params = graft.util.ArtifactParams.read(spark, s"$dir/params")
    require(
      params.get("kind").contains("ivfpq"),
      s"artifact at $dir is not an IVF-PQ index (kind=${params.get("kind")})")
    val subspaces = params("subspaces").toInt
    val subDim = params("sub_dim").toInt
    val nCodes = params("n_codes").toInt
    val (codebook, pqRows) = frozenCodebooks(spark, dir)
    val base = prepBase(delta, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try ivfPqCodes(base, codebook, subspaces, subDim, nCodes, Some(pqRows))
      .write.mode("append").parquet(s"$dir/codes")
    finally base.unpersist(false)
  }

  /** The two FROZEN codebooks of a persisted IVF-PQ index, each
    * bounded and in ascending id order: the coarse `centroids` and the
    * `pqbook` rows. The two collects are independent — they overlap as
    * concurrent jobs (opt guide §2.6).
    */
  private def frozenCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[(Long, Array[Double], Double)], Array[(Long, Array[Double])]) =
    graft.util.Par.run2(
      spark.read.parquet(s"$dir/centroids")
        .select("centroid_id", "cv", "cn").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1),
      spark.read.parquet(s"$dir/pqbook")
        .select("vid", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1))

  /** IVF-PQ top-k against a PERSISTED index ([[buildIvfPqIndex]]): the
    * probe/LUT/ADC/re-rank pipeline runs over the RELOADED `codes` and
    * `centroids` artifacts — cell assignment and PQ encoding never
    * recompute. The raw corpus frame is still scanned for the query
    * vectors, the ADC lookup tables and the exact re-rank (the artifact
    * complements the corpus, it does not replace it) — the FAISS
    * deployment shape: index build is an offline job, queries reuse it.
    */
  def ivfPqTopKWithIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      k: Int,
      queryPred: Column,
      nProbe: Int,
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      rerankK: Int = AdaptiveRerank
  ): DataFrame = {
    val spark = emb.sparkSession
    val base = prepBase(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // three independent bounded actions — params validation, the corpus
    // count behind the adaptive re-rank depth, and the frozen-codebook
    // collects — overlap as concurrent jobs (opt guide §2.6). The params
    // check still fails loudly BEFORE any result is produced: a
    // mismatched subDim/nCodes would score the persisted codes against a
    // freshly derived (stale) codebook and silently return wrong
    // neighbors (r19 advice). nClusters is a build-only knob, checked
    // implicitly through the persisted centroids.
    // ADC lookup tables are built against the artifact's FROZEN pqbook
    // (the same rows appendToIvfPqIndex encodes deltas under), not
    // re-derived from the query-time corpus: if the corpus's first
    // nCodes vectors changed since build, a re-derived book would score
    // the persisted codes against the wrong centroids and silently
    // degrade candidates (masked by the exact re-rank). On an unchanged
    // corpus the two books are row-identical, so results are unchanged.
    val (_, baseCount, (codebook, pqRows)) = graft.util.Par.run3(
      graft.util.ArtifactParams.validate(
        spark, s"$indexDir/params",
        Seq(
          "kind" -> "ivfpq",
          "subspaces" -> subspaces.toString,
          "sub_dim" -> subDim.toString,
          "n_codes" -> nCodes.toString)),
      base.count(),
      frozenCodebooks(spark, indexDir))
    val effRerankK =
      if (rerankK == AdaptiveRerank) adaptiveRerankK(baseCount) else rerankK
    Caching.materializeAndRelease(
      ivfPqQueryFromCodes(
        base,
        spark.read.parquet(s"$indexDir/codes"),
        codebook,
        k, queryPred, nProbe, subspaces, subDim, nCodes, effRerankK,
        pqRows = Some(pqRows)),
      base)
  }

  /** The query half of the composite: probe ranking, per-query ADC
    * lookup tables, the cell-restricted ADC scan over an EXISTING codes
    * frame (freshly built or artifact-reloaded), and the exact re-rank.
    */
  private[graft] def ivfPqQueryFromCodes(
      base: DataFrame,
      wideM: DataFrame,
      codebook: Array[(Long, Array[Double], Double)],
      k: Int,
      queryPred: Column,
      nProbe: Int,
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      effRerankK: Int,
      // artifact-reloaded PQ codebook rows (the FROZEN book) for the
      // persisted-index path; None derives the book from the query-time
      // corpus (the in-job path, where the two are identical by
      // construction)
      pqRows: Option[Array[(Long, Array[Double])]] = None
  ): DataFrame = {
    // query side: the probed cells (ivfTopKFromBase's ranking) …
    val probes = probeCells(
      base
        .filter(queryPred)
        .select(col("cid").as("query_id"), col("v").as("qv"), col("nrm").as("qn")),
      codebook, nProbe)
      .select(col("query_id"), col("centroid_id"))
    // … and the per-query ADC lookup tables (pqAdcTopKFromBase convention)
    val cbCols = (0 until subspaces).map { s =>
      struct(lit(s).as("s"), slice(col("v"), s * subDim + 1, subDim).as("cv"))
    }
    // frozen-book rows (artifact path) or the first-nCodes corpus rows
    // (in-job path) — row-identical on an unchanged corpus
    val cbSource = pqRows match {
      case Some(rows) =>
        base.sparkSession
          .createDataFrame(rows.toSeq.map { case (vid, v) => (vid, v.toSeq) })
          .toDF("cid", "v")
      case None => base.filter(col("cid") < nCodes).select(col("cid"), col("v"))
    }
    val cb = cbSource
      .select(col("cid").as("code"), explode(array(cbCols: _*)).as("e"))
      .select(col("code"), col("e.s").as("s"), col("e.cv").as("cv"))
    val queries = base.filter(queryPred).select(col("cid").as("query_id"), col("v").as("qv"))
    val lut = queries
      .crossJoin(broadcast(cb))
      .select(
        col("query_id"), col("s"), col("code"),
        fastDot(slice(col("qv"), col("s") * subDim + 1, lit(subDim)), col("cv")).as("p"))
    val lutAggs = (0 until subspaces).map { s =>
      transform(
        array_sort(collect_list(when(col("s") === s, struct(col("code"), col("p"))))),
        e => e.getField("p")
      ).as(s"a$s")
    }
    val qLut = lut.groupBy("query_id").agg(lutAggs.head, lutAggs.tail: _*)
    // cell-restricted ADC scan: (query, probed cell, LUT arrays) is a
    // |queries|·nProbe-row broadcast; each compressed corpus row probes
    // it by ITS cell id — rows scanned = Σ probed-cell sizes, zero
    // corpus shuffle
    val probesLut = probes.join(qLut, "query_id")
    val adc = (0 until subspaces).map(s => element_at(col(s"a$s"), col(s"r$s"))).reduce(_ + _)
    val adcScored = wideM
      .join(broadcast(probesLut), Seq("centroid_id"))
      .filter(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"), adc.as("sim"))
    exactRerankTopK(base, adcScored, queryPred, k, effRerankK)
  }

  // (The original interpreted-HOF srpBucket/planeSign bucketing was
  // replaced by the codegen'd radSign literal-array form shared with
  // srpBucketRows — ~25× cheaper per plane, one bucket function for the
  // pair path and the top-k path.)

  /** IVF (inverted-file) top-k: the cluster-probe ANN that complements
    * [[annLshTopK]]. Three stages, each in its 100 TB shape:
    *
    *  1. ASSIGN — every corpus vector goes to its nearest of `nClusters`
    *     fixed centroids. Centroids are collected to the driver (k rows —
    *     IVF's premise is that the coarse codebook is tiny) and folded
    *     into ONE nested-CASE projection of codegen'd dots: assignment is
    *     a pure per-row map, zero shuffle, zero joins.
    *  2. PROBE — each query ranks the same centroids and keeps `nProbe`,
    *     sorted inside its own row ([[probeCells]]): no shuffle, no window.
    *  3. SEARCH — candidates = corpus ⋈ probes hash-joined on the cluster
    *     id (the one irreducible shuffle), exact cosine, bounded top-k.
    *
    * Deterministic end to end (fixed centroids = first k vectors, total
    * orders everywhere), so the DuckDB oracle replays it exactly. Recall
    * vs brute force is governed by nProbe — the standard IVF tradeoff.
    */
  /** Sequential left-to-right self-dot — the SAME fold order the engine's
    * ArrayDot and DuckDB's list math use, so driver-computed centroid
    * norms are bitwise comparable with either engine's.
    */
  private def seqNorm(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** Nearest-codebook-entry assignment column machinery shared by search
    * and training: sims are computed into a MATERIALIZED array —
    * array_max + array_position (first hit ⇒ smallest cid wins ties) —
    * so each centroid dot is evaluated exactly once per row. (A nested
    * conditional fold would duplicate the accumulator expression per
    * level: 2^k expression blowup, seconds of janino compile — measured.)
    */
  private def assignToCodebook(
      base: DataFrame,
      codebook: Array[(Long, Array[Double], Double)]
  ): DataFrame = {
    val simsCol = array(codebook.toIndexedSeq.map { case (_, cv, cn) =>
      fastDot(col("v"), typedLit(cv)) / (col("nrm") * lit(cn))
    }: _*)
    val cidsLit = typedLit(codebook.map(_._1))
    base
      .withColumn("__sims", simsCol)
      .withColumn(
        "centroid_id",
        element_at(cidsLit, array_position(col("__sims"), array_max(col("__sims"))).cast("int")))
      .drop("__sims")
  }

  /** One deterministic Lloyd step: assign every vector to its nearest
    * codebook entry, then re-center each cluster on the mean of its
    * members' 1e-6-QUANTIZED coordinates. The quantization is the
    * portability contract: round(x·10⁶) terms are integer-valued doubles,
    * whose sum is exact and order-free below 2⁵³ — so the trained
    * centroid is a bitwise-reproducible function of the data on ANY
    * engine (plain double sums would be partitioning-dependent), at a
    * precision loss (≤5e-7 per coordinate) far below clustering
    * resolution. Shape: one corpus scan (shuffle-free assignment), one
    * (k × dim)-row aggregate, a k×dim driver collect — the sanctioned
    * bounded-codebook pattern, iterable at 100 TB. Clusters that lose
    * every member drop out of the codebook (cannot happen with first-k
    * init unless a centroid's own vector ties away).
    */
  private def lloydStep(
      base: DataFrame,
      codebook: Array[(Long, Array[Double], Double)]
  ): Array[(Long, Array[Double], Double)] = {
    val comp = assignToCodebook(base, codebook)
      .select(col("centroid_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("centroid_id"), col("dim"))
      .agg(sum(round(col("x") * lit(1000000.0))).as("s"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    comp
      .groupBy(_._1)
      .map { case (cid, rows) =>
        val cv = rows.sortBy(_._2).map { case (_, _, s, n) => s / (n * 1000000.0) }.toArray
        (cid, cv, seqNorm(cv))
      }
      .toArray
      .sortBy(_._1)
  }

  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      queryPred: Column,
      nClusters: Int = 8,
      nProbe: Int = 2,
      trainIterations: Int = 0
  ): DataFrame =
    ivfTopKFromBase(prepBase(emb, idCol, vecCol), k, queryPred, nClusters, nProbe, trainIterations)

  /** [[ivfTopK]]'s lazy plan over a `(cid, v, nrm)` base. The base is
    * read by the codebook collect, by each Lloyd step and by the returned
    * plan; a caller that runs several pipelines over one corpus
    * (`ann_recall_at_k`) persists it once and owns its release.
    */
  private[graft] def ivfTopKFromBase(
      base: DataFrame,
      k: Int,
      queryPred: Column,
      nClusters: Int,
      nProbe: Int,
      trainIterations: Int
  ): DataFrame = {
    // driver-side codebook (bounded: nClusters rows), ascending cid;
    // init = first k vectors (deterministic), optionally refined by
    // `trainIterations` Lloyd steps so the partitioning reflects the data
    // rather than an arbitrary sample
    val init = ivfCoarseCodebook(base, nClusters)
    val codebook = (1 to trainIterations).foldLeft(init)((cb, _) => lloydStep(base, cb))
    val assigned = assignToCodebook(base, codebook)
    val probes = probeCells(
      base
        .filter(queryPred)
        .select(col("cid").as("query_id"), col("v").as("qv"), col("nrm").as("qn")),
      codebook, nProbe)
    val joined = assigned
      .join(probes, Seq("centroid_id"))
      .filter(col("cid") =!= col("query_id"))
      .select(
        col("query_id"),
        col("cid").as("neighbor_id"),
        (fastDot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("sim"))
    rankTopK(joined, k)
  }

  /** The `nProbe` cells of `codebook` each query row probes: one output
    * row per (query row, probed cell), `centroid_id` appended. A query
    * row `(qv, qn)` scores every cell with the cosine
    * [[assignToCodebook]] computes, `fastDot(qv, cv) / (qn · cn)`, and
    * keeps the first `nProbe` in (sim desc, centroid_id asc) order —
    * sorted in the projection as `struct(sim, -centroid_id)` descending,
    * which is the order a `row_number` window over a cross join with the
    * codebook gives, NaN (greatest) and ±0 (equal) included, with no
    * shuffle: the codebook is a driver array.
    */
  private[graft] def probeCells(
      queries: DataFrame,
      codebook: Array[(Long, Array[Double], Double)],
      nProbe: Int
  ): DataFrame = {
    val ranked = array(codebook.toIndexedSeq.map { case (cid, cv, cn) =>
      struct(
        (fastDot(col("qv"), typedLit(cv)) / (col("qn") * lit(cn))).as("sim"),
        lit(-cid).as("neg_cid"))
    }: _*)
    queries
      .withColumn("__probe", explode(slice(sort_array(ranked, asc = false), 1, nProbe)))
      .withColumn("centroid_id", -col("__probe.neg_cid"))
      .drop("__probe")
  }

  /** Deterministic ±1 for (plane, dim) — splitmix64-style driver-side
    * mix, so sign vectors can be built as literal arrays and the per-plane
    * projection becomes one codegen'd ArrayDot against a constant (the
    * interpreted-HOF srpBucket costs ~25× more per plane).
    */
  private[graft] def radSign(plane: Int, i: Int): Double = {
    var z = (plane.toLong << 32) | (i.toLong & 0xffffffffL)
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z = z ^ (z >>> 33)
    if (z >= 0) 1.0 else -1.0
  }

  /** All pairs with cosine ≥ threshold via multi-table SRP blocking: the
    * scale-safe form of [[nearDupPairs]]. Each of `tables` hash tables
    * buckets every vector by `planesPerTable` hyperplane sign bits; the
    * candidate set is the union over tables of same-bucket pairs (a plain
    * shuffled hash join on the (table, bucket) key — never a
    * BroadcastNestedLoopJoin), and ONLY candidates get the exact cosine
    * verification. Miss probability per true pair is
    * (1 − p^r)^L with p = 1 − θ/π, so recall is tuned by (r=planesPerTable,
    * L=tables): high thresholds need few tables; low thresholds (weakly
    * similar pairs) need more tables and prune less — that tradeoff is
    * physics, but the plan shape stays a partitioned hash join either way,
    * which is what survives a 100× scale-up. Bucketing is hash-determined
    * (no RNG): results are reproducible run to run.
    */
  def srpVerifiedPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planesPerTable: Int = 3,
      tables: Int = 24
  ): DataFrame = {
    val (verified, base) = srpVerifiedPlan(emb, idCol, vecCol, threshold, planesPerTable, tables)
    Caching.materializeAndRelease(verified, base)
  }

  /** The lazy plan behind [[srpVerifiedPairs]] plus its cached base —
    * package-visible so specs can assert the join SHAPE (hash join on the
    * bucket key, no BroadcastNestedLoopJoin) before the eager
    * materialization hides it behind a checkpoint scan.
    */
  /** Same-bucket candidate pairs over a prepped (cid, v, nrm) base —
    * the blocking stage shared by [[srpVerifiedPlan]] (production) and
    * [[srpCandidates]] (the spec's pruning probe). Candidates are NOT
    * deduplicated here: at high thresholds (the production case) table
    * collisions are rare and a distinct would cost more than it saves;
    * [[srpVerifiedPlan]] decides per call whether to pay it.
    */
  private def srpBucketRows(base: DataFrame, planesPerTable: Int, tables: Int): DataFrame = {
    // dim probe: one-row driver lookup (bounded, like the sanctioned
    // config collects) so sign vectors match the fixture's width
    val dim = base.select(size(col("v"))).head().getInt(0)
    // All table codes in ONE custom expression (SrpBuckets): the former
    // per-(table, plane) typedLit sign-vector columns generated a
    // projection method past HotSpot's JIT threshold, so the stage ran
    // in the bytecode interpreter — measured 280 µs/row (and 12 ms/row
    // in an unluckier stage fusion) against ~1 µs of real arithmetic.
    // The expression references the sign matrix as one object and emits
    // a small primitive loop; fold order and the `> 0` comparison are
    // identical, so every SRP oracle replays unchanged — for NON-NULL
    // vectors. One deliberate edge difference vs the replaced
    // when(...).otherwise(lit(0L)) form: a null vector used to land in
    // bucket 0 of every table, while SrpBuckets (a null-safe
    // UnaryExpression) returns null and posexplode drops the row — i.e.
    // null vectors now generate NO candidates instead of junk bucket-0
    // collisions. Verified pairs are unaffected either way (null cosine
    // can never clear the threshold); prepBase's fixtures carry no null
    // vectors, so the oracle replay claim stays exact.
    base
      .select(
        col("cid"), col("v"), col("nrm"),
        posexplode(ExprBridge.column(
          SrpBuckets(ExprBridge.expression(col("v")), planesPerTable, tables, dim)))
          .as(Seq("tbl", "bucket")))
  }

  private def srpCandidatePairs(base: DataFrame, planesPerTable: Int, tables: Int): DataFrame = {
    val buckets = srpBucketRows(base, planesPerTable, tables)
    val l = buckets.select(col("cid").as("id_a"), col("tbl"), col("bucket"))
    val r = buckets.select(col("cid").as("id_b"), col("tbl"), col("bucket"))
    l.join(r.hint("shuffle_hash"), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** The DISTINCT candidate pair set SRP blocking would verify — the
    * measurable pruning claim (|candidates| ≪ n(n−1)/2 at high
    * thresholds). Spec-only probe; the production path never pays this
    * distinct.
    */
  private[graft] def srpCandidates(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      planesPerTable: Int,
      tables: Int
  ): DataFrame =
    srpCandidatePairs(prepBase(emb, idCol, vecCol), planesPerTable, tables).distinct()

  private[graft] def srpVerifiedPlan(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planesPerTable: Int,
      tables: Int
  ): (DataFrame, DataFrame) = {
    val base = prepBase(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The bucket count per table (2^planes) must GROW with the corpus or
    // blocking stops working twice over: per-bucket pair generation is
    // quadratic in bucket population, and the self-join key space
    // (tables × 2^planes) stops covering the shuffle partitions — at 10×
    // the validated corpus, 3 planes left ONE task grinding ~all of the
    // n²/2 pair space (measured: a 950 s straggler). Hold the expected
    // bucket population at the ~250 the parameterization was validated
    // at: planes = max(requested, ceil(log2(n/250))). At every gate
    // scale (n ≤ 2000) this resolves to the requested planes, so
    // oracle-exact behavior is unchanged; beyond it, recall follows the
    // banding curve — the standard LSH trade a production run tunes with
    // a recall probe (see ann_recall_at_k). The corpus count is a
    // metadata-cheap bounded driver action, same sanction as the dim
    // probe in srpCandidatePairs.
    val n = base.count()
    val effPlanes = effPlanesFor(n, planesPerTable)
    // Vectors ride THROUGH the bucket self-join (the join input is
    // |corpus| × tables rows carrying one vector each — megabytes) so
    // the verify filter runs inline on the join output inside codegen.
    // The alternative — project candidate id pairs and re-attach vectors
    // by two id joins — shuffles the CANDIDATE set times the vector
    // width: measured 20 GB × 2 exchanges and 512 s at 10× the gate
    // scale, vs the ~260 MB bucket-join input here. Duplicate
    // candidates (a pair colliding in several tables) re-verify — a
    // handful of codegen'd dots — and collapse in the final distinct
    // over true pairs only.
    val buckets = srpBucketRows(base, effPlanes, tables)
    val l = buckets.select(
      col("cid").as("id_a"), col("v").as("va"), col("nrm").as("na"),
      col("tbl"), col("bucket"))
    val r = buckets.select(
      col("cid").as("id_b"), col("v").as("vb"), col("nrm").as("nb"),
      col("tbl"), col("bucket"))
    // SHUFFLE_HASH, not sort-merge: SMJ sorts BOTH vector-carrying sides
    // by (tbl, bucket) — at 100× the gate scale that sort spilled 4.7 GB
    // and dominated wall (287 s). The hash build side per partition is
    // |corpus|×tables/partitions rows (~tens of MB), the probe streams,
    // and nothing sorts. Same join key space either way; the hint only
    // fixes the physical pick where size estimates push Spark to SMJ.
    val verified = l
      .join(r.hint("shuffle_hash"), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(fastDot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("id_a", "id_b")
      .distinct()
    (verified, base)
  }

  /** Deterministically plant near-duplicate vectors: for every `every`-th
    * id, append a copy at `id + idOffset` perturbed elementwise by
    * `eps`-scaled circular-shifted self-interference
    * (v'[i] = v[i] + eps·v[(i mod d)+1]). For roughly-isotropic data the
    * planted cosine is ≈ 1/√(1+eps²) with small variance (≈0.989 at
    * eps=0.15 on the fixtures) — a controlled high-similarity population
    * for validating LSH recall and pruning. Pure elementwise double
    * arithmetic (no reductions), so the planted values are bitwise
    * identical on any engine replaying the same expression.
    */
  def plantNearDups(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      every: Int,
      idOffset: Long,
      eps: Double
  ): DataFrame = {
    val base = emb.select(col(idCol), asDouble(col(vecCol)).as(vecCol))
    val planted = base
      .filter(col(idCol) % every === 0)
      .select(
        (col(idCol) + idOffset).as(idCol),
        transform(
          sequence(lit(1), size(col(vecCol))),
          i => element_at(col(vecCol), i) +
            lit(eps) * element_at(col(vecCol), (i % size(col(vecCol))) + 1)
        ).as(vecCol)
      )
    base.unionByName(planted)
  }

  /** ANN top-k via multi-table SRP buckets: exact cosine ranking within
    * the union of each hash table's same-bucket candidate set. Recall per
    * true neighbor is 1 − (1 − p^r)^L with p = 1 − θ/π (r = `nPlanes`
    * sign bits per table, L = `tables`) — the standard LSH knob: more
    * tables buy recall, each table is an independent partitioned hash
    * join on its (tbl, bucket) key, and no full-corpus scan per query
    * ever happens. Planes are the same deterministic Rademacher signs as
    * the pair path ([[srpBucketRows]]), so buckets are codegen'd constant
    * ArrayDots and results replay exactly on any engine. A pair that
    * collides in several tables is de-duplicated by a (query, neighbor)
    * max-sim aggregate BEFORE ranking (the sims are identical — the
    * aggregate exists for multiplicity, not choice); with one table that
    * aggregate is skipped and the plan is the single-join original.
    */
  def annLshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      queryPred: Column,
      nPlanes: Int = 8,
      tables: Int = 1
  ): DataFrame = annLshTopKFromBase(prepBase(emb, idCol, vecCol), k, queryPred, nPlanes, tables)

  /** [[annLshTopK]] over an already-prepped `(cid, v, nrm)` base. */
  private[graft] def annLshTopKFromBase(
      base: DataFrame,
      k: Int,
      queryPred: Column,
      nPlanes: Int,
      tables: Int
  ): DataFrame = {
    val buckets = srpBucketRows(base, nPlanes, tables)
    val queries = buckets
      .filter(queryPred)
      .select(
        col("cid").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("tbl"), col("bucket"))
    val joined = buckets
      .join(queries, Seq("tbl", "bucket"))
      .filter(col("cid") =!= col("query_id"))
      .select(
        col("query_id"),
        col("cid").as("neighbor_id"),
        (fastDot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("sim")
      )
    val deduped =
      if (tables <= 1) joined
      else joined.groupBy("query_id", "neighbor_id").agg(max(col("sim")).as("sim"))
    rankTopK(deduped, k)
  }
}
