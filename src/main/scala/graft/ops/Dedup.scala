package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.11): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. Designed scale-first:
  *
  *  - exact: one hash-shuffle on the content key — the minimal possible.
  *  - n-gram Jaccard: shingle-inverted-index self-join (blocking on shared
  *    shingles) — never materializes the O(n²) pair space; integer-only
  *    arithmetic so results are exactly reproducible.
  *  - MinHash LSH: fixed-width signatures + banding → candidate generation
  *    cost is O(docs × bands), independent of corpus pair count. This is
  *    the 100 TB path; the Jaccard join is the exact verifier on candidates.
  *  - SimHash: 64-bit signature, banded for Hamming-radius candidate
  *    lookup (pigeonhole: d differing bits over b bands ⇒ equal in some
  *    band when d < b).
  */
object Dedup {

  /** Release hook the persist() calls below pair with — see [[Caching]]. */
  private def materializeAndRelease(result: DataFrame, cached: DataFrame*): DataFrame =
    Caching.materializeAndRelease(result, cached: _*)

  /** Exact dedup: group on a content hash, keep the minimum id. One
    * shuffle on a 128-bit key; at scale this is the canonical
    * hash-partitioned distinct.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word-n-gram shingles, exploded to (id, shingle) rows.
    * Tokens are projected to a materialized column first so the shingle
    * lambda reads an O(1) attribute (see shinglesFromTokens warning —
    * an inline tokens() expression makes shingling quadratic).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // spread an under-split scan first (r21): tokenize+shingle+explode is
    // the dedup family's heaviest projection, and single-row-group
    // fixtures would run it — and any downstream partial aggregate
    // (MinHash folds, df counts) — on ONE task. Identity at real scale;
    // all consumers are aggregates/joins, placement-independent.
    Caching.spreadToParallelism(df.select(col(idCol).as("sid"), col(textCol).as("__t")))
      .select(col("sid"), TextOps.tokens(col("__t")).as("__ts"))
      .select(col("sid"), explode(TextOps.shinglesFromTokens(col("__ts"), n)).as("s"))

  /** Join integer intersection counts with per-doc set sizes and keep
    * pairs with Jaccard ≥ num/den (integer arithmetic — no FP). Shared by
    * the exact path and the LSH-verified path.
    */
  private def jaccardThreshold(
      inter: DataFrame,
      sizes: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int
  ): DataFrame =
    inter
      .join(sizes.select(col("sid").as("id_a"), col("sz").as("size_a")), "id_a")
      .join(sizes.select(col("sid").as("id_b"), col("sz").as("size_b")), "id_b")
      .filter(
        col("inter") * thresholdDen >= (col("size_a") + col("size_b") - col("inter")) * thresholdNum
      )
      .select("id_a", "id_b", "inter", "size_a", "size_b")

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ num/den, via the
    * inverted-index join over a `(sid, s)` shingle frame ([[shingleRows]],
    * the input every shingle-based op in the family starts from). Output
    * carries the integer evidence (intersection + set sizes) — bitwise
    * reproducible, no FP.
    *
    * Scale note: candidate pairs = Σ_shingle freq² — bounded by shingle
    * selectivity, not corpus². For heavy shingles (stopword n-grams) a
    * production run would drop shingles with document frequency above a
    * cap (they cannot discriminate near-dups anyway); `maxShingleFreq`
    * implements that guard.
    */
  def ngramJaccardPairsFromShingles(
      shingles: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int,
      maxShingleFreq: Option[Int] = None
  ): DataFrame = {
    val (inter, sizes, sh) = shingleInterSizes(shingles, maxShingleFreq)
    materializeAndRelease(jaccardThreshold(inter, sizes, thresholdNum, thresholdDen), sh)
  }

  /** Shared inverted-index build: pairwise shingle-intersection counts
    * (id_a < id_b) + per-doc shingle-set sizes. The shingle table feeds
    * three consumers (both join sides + sizes); without materialization
    * the (interpreted-HOF) shingling runs three times. Cache it — at
    * cluster scale the same role is played by a checkpoint of the
    * inverted index. Shingles are hashed to 64-bit keys before the join:
    * the self-join shuffles 8-byte longs instead of multi-word strings
    * (intersection counts are preserved — a collision would need ~2^32
    * distinct shingles per corpus to become likely). Sizes MUST come from
    * the same (possibly df-capped) shingle set as the intersections —
    * mixing capped inter with uncapped sizes would systematically
    * underestimate overlap and drop all-heavy-shingle pairs. Caller
    * releases the returned cached shingle table.
    */
  private def shingleInterSizes(
      shingles: DataFrame,
      maxShingleFreq: Option[Int]
  ): (DataFrame, DataFrame, DataFrame) = {
    val sh = shingles
      .select(col("sid"), xxhash64(col("s")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shFiltered = maxShingleFreq match {
      case Some(cap) =>
        // df-capped inverted index: drop non-discriminative heavy shingles.
        // The KEEP-list is corpus-proportional (nearly every distinct
        // shingle clears a df cap of 50), so it must never carry a
        // broadcast hint: a forced broadcast built fine at gate scale but
        // blew the driver at 100× (sf10: "Not enough memory to build and
        // broadcast the table", ~20M keep keys). Left unhinted, AQE
        // measures the agg output at the stage boundary and picks
        // broadcast while it is genuinely small, shuffle join once it
        // is not — and the join key is the same 8-byte shingle hash the
        // downstream self-join shuffles on.
        //
        // NOT the window-count form SpanDedup uses — the choice is set
        // by the key-repetition profile. Document shingles repeat (sf10:
        // 7.7M distinct keys over ~46M rows, mean df ≈ 6, max 25), so
        // the partial aggregate compresses ~6× before the shuffle and
        // the keep join stays cheap: measured head-to-head at sf10,
        // agg+join 132+100 s vs window 260 s + one failure. SpanDedup's
        // positioned grams are nearly unique (mean occurrence ≈ 1.1), so
        // there the aggregate compresses nothing — its window form wins
        // (13.6 GB spill → 0). Same cap semantics either way.
        val freq = sh.groupBy("s").agg(count(lit(1)).as("df_freq")).filter(col("df_freq") <= cap)
        sh.join(freq.select("s"), "s")
      case None => sh
    }
    val sizes = shFiltered.groupBy("sid").agg(count(lit(1)).as("sz"))
    // the index self-join shuffles each side independently — see the
    // bandedPairs note: exchange reuse is AQE-off-only in this Spark,
    // and pre-partitioning was A/B'd as a no-op (same bytes, new tag)
    val a = shFiltered.select(col("sid").as("id_a"), col("s"))
    val b = shFiltered.select(col("sid").as("id_b"), col("s"))
    val inter = a
      .join(b, Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    (inter, sizes, sh)
  }

  /** Directional n-gram CONTAINMENT pairs: |A∩B| / |A| ≥ num/den — the
    * asymmetric overlap that catches a short document embedded inside a
    * longer one (quotes, excerpts, page-in-page boilerplate), which
    * symmetric Jaccard misses once the size ratio grows. Emits one row
    * per (contained, container) DIRECTION that clears the threshold, so
    * a mutually-overlapping pair can appear twice. Same `(sid, s)`
    * shingle input, inverted-index blocking and integer-exact arithmetic
    * as [[ngramJaccardPairsFromShingles]].
    */
  def containmentPairsFromShingles(
      shingles: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int,
      maxShingleFreq: Option[Int] = None
  ): DataFrame = {
    val (inter, sizes, sh) = shingleInterSizes(shingles, maxShingleFreq)
    val withSizes = inter
      .join(sizes.select(col("sid").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("sid").as("id_b"), col("sz").as("sz_b")), "id_b")
    // both DIRECTIONS from one pass: the previous unionAll of two
    // filtered copies instantiated the whole inverted-index self-join +
    // pair aggregation subtree TWICE (measured at sf10: duplicated
    // 1.3 GB-read aggregation stages and 4× join-side exchanges). An
    // in-row explode of the two direction structs keeps one subtree;
    // the per-direction threshold then filters the streamed rows. Same
    // rows out (order-free), same integer arithmetic.
    val out = withSizes
      .select(
        explode(array(
          struct(
            col("id_a").as("contained_id"), col("id_b").as("container_id"),
            col("inter"), col("sz_a").as("size_contained"), col("sz_b").as("size_container")),
          struct(
            col("id_b").as("contained_id"), col("id_a").as("container_id"),
            col("inter"), col("sz_b").as("size_contained"), col("sz_a").as("size_container"))
        )).as("d"))
      .filter(col("d.inter") * thresholdDen >= col("d.size_contained") * thresholdNum)
      .select(
        col("d.contained_id").as("contained_id"),
        col("d.container_id").as("container_id"),
        col("d.inter").as("inter"),
        col("d.size_contained").as("size_contained"),
        col("d.size_container").as("size_container"))
    materializeAndRelease(out, sh)
  }

  // ------------------------------------------------------------------
  //  Prefix-filtered set-similarity join (AllPairs / PPJoin candidate
  //  generation — Bayardo et al., "Scaling Up All Pairs Similarity
  //  Search", WWW 2007; Xiao et al., "Efficient Similarity Joins for
  //  Near Duplicate Detection", WWW 2008). Lossless for a fixed
  //  threshold: results are identical to the dense inverted-index path
  //  above, but candidate generation joins only each document's PREFIX
  //  (its rarest (1−t)·|d|+1 shingles under a global order) instead of
  //  its whole shingle set, so the pair expansion collapses from
  //  Σ_s df(s)² to Σ_s dfPrefix(s)² — and the rarest-first order makes
  //  dfPrefix(s) concentrate near 1 by construction.
  // ------------------------------------------------------------------

  /** Shared prefix-filter build: hash + df-cap the shingle frame exactly
    * as [[shingleInterSizes]] does, then collect each document's
    * (df, hash) pairs with ONE hash aggregation and sort them in-row
    * (`sort_array` on the struct = ascending document frequency, ties by
    * hash — the deterministic GLOBAL rarest-first total order the
    * AllPairs lemma needs). Deliberately NOT a `row_number` window: the
    * window form shuffles AND sorts every shingle row inside
    * partitionBy(sid) and re-materializes the full frame, which the sf10
    * probe measured at 665 s cumulative run for the window+checkpoint
    * stage alone — 10× the cost of sorting the same elements inside
    * their per-doc arrays after a plain hash agg.
    *
    * Prefix length per doc is `sz − ⌈t·sz⌉ + 1`, integer-exact.
    * Lemma (AllPairs): if |A∩B| ≥ α then, under any global element
    * order, the first |A|−α+1 elements of A and the first |B|−α+1 of B
    * share the MINIMAL common element (else all α common elements would
    * have to fit in a suffix of length α−1). Jaccard ≥ num/den implies
    * |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ ≥ ⌈t·|A|⌉, so the per-doc bound is a
    * superset of the required prefix; containment |A∩B|/|A| ≥ t implies
    * the same bound on the contained side.
    *
    * Returns (sid, arr, sz, pfx) PERSISTED — the caller releases it.
    * `arr` holds the doc's DISTINCT shingle hashes, so it doubles as the
    * exact verification set (`array_intersect` cardinality equals the
    * dense inverted-index intersection count) and verification re-reads
    * no corpus data; `sz` matches the dense path's per-doc size because
    * both count the same capped rows.
    */
  private[graft] def prefixDocArrays(
      shingles: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int,
      maxShingleFreq: Option[Int]
  ): DataFrame = {
    val sh = shingles.select(col("sid"), xxhash64(col("s")).as("s"))
    val freq0 = sh.groupBy("s").agg(count(lit(1)).as("df_freq"))
    // same cap semantics as the dense path: sizes and prefixes both come
    // from the capped set (mixing capped/uncapped drops all-heavy pairs)
    val freq = maxShingleFreq.map(c => freq0.filter(col("df_freq") <= c)).getOrElse(freq0)
    // explicit-N repartition on sid before the array build when the
    // shingle stream is big: the ObjectHashAggregate PARTIAL over the
    // full stream is the path's spiller (measured sf10: ~1.1 GB mem /
    // 92 MB disk on the jaccard form) — with the distribution satisfied
    // it drops out and the complete agg holds only one doc's rows at a
    // time per slot, at ZERO spill and wall parity. Below the spill
    // regime the extra exchange costs ~0.8 s (gate-scale triples), so
    // the shape is picked from the input's plan-time size stats (the
    // q_basket_lift discipline; the shared shingle parquet reads ~4 MB /
    // 40 MB / 400 MB at sf0.1/1/10).
    val bigInput =
      shingles.queryExecution.optimizedPlan.stats.sizeInBytes > (100L << 20)
    val nPart = shingles.sparkSession.sessionState.conf.numShufflePartitions * 2
    val grouped =
      if (bigInput) sh.join(freq, "s").repartition(nPart, col("sid"))
      else sh.join(freq, "s")
    grouped
      .groupBy("sid")
      .agg(sort_array(collect_list(struct(col("df_freq"), col("s")))).as("ds"))
      .select(
        col("sid"),
        expr("transform(ds, x -> x.s)").as("arr"),
        size(col("ds")).cast("long").as("sz"))
      .withColumn("pfx", slice(col("arr"), lit(1),
        expr(s"sz - ((sz * $thresholdNum + ${thresholdDen - 1}) DIV $thresholdDen) + 1")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Exact n-gram Jaccard pairs — identical output to
    * [[ngramJaccardPairsFromShingles]] — via prefix-filtered candidate
    * generation. The 100 TB shape: one corpus-wide df join and one hash
    * agg by doc; the self-join that dominates the dense path runs on the
    * ~(1−t) prefix fraction of the index, and exact verification touches
    * only candidate documents (semi-filtered scan of the persisted
    * per-doc arrays — no second corpus-wide pass). A size filter
    * (Jaccard ≥ t forces t·|A| ≤ |B| ≤ |A|/t) prunes candidates before
    * the distinct.
    */
  def prefixJaccardPairsFromShingles(
      shingles: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int,
      maxShingleFreq: Option[Int] = None
  ): DataFrame = {
    val docs = prefixDocArrays(shingles, thresholdNum, thresholdDen, maxShingleFreq)
    val prefix = docs.select(col("sid"), col("sz"), explode(col("pfx")).as("s"))
    val a = prefix.select(col("sid").as("id_a"), col("s"), col("sz").as("sz_a"))
    val b = prefix.select(col("sid").as("id_b"), col("s"), col("sz").as("sz_b"))
    val cands = a.join(b, Seq("s"))
      .filter(
        col("id_a") < col("id_b") &&
          col("sz_a") * thresholdNum <= col("sz_b") * thresholdDen &&
          col("sz_b") * thresholdNum <= col("sz_a") * thresholdDen)
      .select("id_a", "id_b")
      .distinct()
      .localCheckpoint(true)
    val va = pairSideFilter(docs.select(col("sid"), col("arr"), col("sz")), cands)
    val out = cands
      .join(va.select(col("sid").as("id_a"), col("arr").as("arr_a"), col("sz").as("size_a")), "id_a")
      .join(va.select(col("sid").as("id_b"), col("arr").as("arr_b"), col("sz").as("size_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .filter(
        col("inter") * thresholdDen >= (col("size_a") + col("size_b") - col("inter")) * thresholdNum)
      .select("id_a", "id_b", "inter", "size_a", "size_b")
    val res = materializeAndRelease(out, docs)
    Caching.release(cands)
    res
  }

  /** Directional containment pairs — identical output to
    * [[containmentPairsFromShingles]] — via the prefix filter on the
    * CONTAINED side only: |A∩B| ≥ ⌈t·|A|⌉ bounds A's prefix, but says
    * nothing about |B| relative to |B| itself, so the container side
    * indexes its full shingle set. Candidates are ordered (contained,
    * container) rows; both directions of a mutual pair arise naturally
    * from each doc's own prefix. Size filter: |A∩B| ≤ min(|A|,|B|)
    * forces |B|·den ≥ |A|·num.
    *
    * r15 adds the PPJoin POSITIONAL filter (Xiao et al., WWW 2008) to
    * candidate generation: a match at 0-based positions (i, j) in the
    * df-sorted arrays bounds the overlap by `1 + min(|A|−i−1, |B|−j−1)`
    * — every common element other than the MINIMAL one is greater under
    * the shared global order, hence strictly after both positions.
    * Lossless: a qualifying pair's minimal common element always
    * satisfies the bound (the other |A∩B|−1 common elements all sit in
    * both suffixes), and the AllPairs lemma puts that element inside
    * A's prefix — so the pair always survives via at least that match.
    * The filter runs map-side on the join output, BEFORE the candidate
    * `distinct` exchange, and is sharpest exactly where the candidate
    * mass concentrates: hot shingles sort LAST in the df-ascending
    * order, so their matches sit late in the container array and fail
    * the bound unless the contained doc is tiny.
    */
  def prefixContainmentPairsFromShingles(
      shingles: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int,
      maxShingleFreq: Option[Int] = None
  ): DataFrame = {
    val docs = prefixDocArrays(shingles, thresholdNum, thresholdDen, maxShingleFreq)
    val prefixA = docs
      .select(col("sid").as("id_a"), col("sz").as("sz_a"), posexplode(col("pfx")))
      .select(col("id_a"), col("sz_a"), col("pos").as("ia"), col("col").as("s"))
    val full = docs
      .select(col("sid").as("id_b"), col("sz").as("sz_b"), posexplode(col("arr")))
      .select(col("id_b"), col("sz_b"), col("pos").as("ib"), col("col").as("s"))
    // required = ⌈t·|A|⌉, integer-exact
    val required = expr(s"(sz_a * $thresholdNum + ${thresholdDen - 1}) DIV $thresholdDen")
    val cands = prefixA.join(full, Seq("s"))
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") * thresholdDen >= col("sz_a") * thresholdNum &&
        lit(1L) + least(col("sz_a") - col("ia") - 1L, col("sz_b") - col("ib") - 1L) >= required)
      .select("id_a", "id_b")
      .distinct()
      .localCheckpoint(true)
    val va = pairSideFilter(docs.select(col("sid"), col("arr"), col("sz")), cands)
    val out = cands
      .join(
        va.select(col("sid").as("id_a"), col("arr").as("arr_a"), col("sz").as("size_contained")),
        "id_a")
      .join(
        va.select(col("sid").as("id_b"), col("arr").as("arr_b"), col("sz").as("size_container")),
        "id_b")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .filter(col("inter") * thresholdDen >= col("size_contained") * thresholdNum)
      .select(
        col("id_a").as("contained_id"), col("id_b").as("container_id"),
        col("inter"), col("size_contained"), col("size_container"))
    val res = materializeAndRelease(out, docs)
    Caching.release(cands)
    res
  }

  /** A long from `len` hex digits of md5(c) starting at `start` (1-based).
    * The engine-portable hash primitive behind MinHash/SimHash: md5 is
    * bit-identical in every SQL engine, so signatures built from its
    * chunks can be replayed exactly by the DuckDB oracle
    * (`CAST('0x'||substr(md5(s),start,len) AS BIGINT)`). Keep len ≤ 15 so
    * the value fits a signed long with headroom for index arithmetic.
    */
  private[ops] def md5Chunk(m: Column, start: Int, len: Int): Column =
    conv(substring(m, start, len), 16, 10).cast("long")

  /** 2^61 − 1: the Mersenne prime the MinHash family reduces over. Both
    * engines can do the arithmetic exactly — the JVM fold by a
    * multiplyHigh Mersenne reduction (below), DuckDB by HUGEINT `%`.
    */
  private[ops] val MersennePrime61: Long = (1L << 61) - 1

  /** Per-lane Carter–Wegman coefficients `(a_j, b_j)`, derived
    * deterministically from md5 of fixed seed strings (no RNG state —
    * identical on every executor and at oracle-construction time, where
    * they are embedded as a VALUES table). `a_j = chunk+1 ∈ [1, 2^60]`
    * (nonzero, < p), `b_j = chunk ∈ [0, 2^60)`.
    *
    * Independent per-lane coefficients matter: the cheaper shared-seed
    * double-hashing form `h1 + (j+1)·h2 mod p` keeps banding recall but
    * makes a pair's lane DISAGREEMENTS cluster (the comparison value is
    * an arithmetic progression in j, so one element beats another on a
    * structured run of lanes) — measured 10σ overdispersion of the lane-
    * agreement Jaccard estimator on near-identical docs. With an
    * independent affine map per lane the agreement indicators behave
    * binomially (pinned by CurationOpsSpec's 4σ estimator test).
    */
  private[graft] def laneCoeffs(numHashes: Int): Array[(Long, Long)] = {
    def chunk60(seed: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(seed.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    Array.tabulate(numHashes)(j => (chunk60(s"graft-minhash-a:$j") + 1, chunk60(s"graft-minhash-b:$j")))
  }

  /** The per-doc signature fold as a typed `Aggregator` (the TopKAgg
    * recipe): hashing stays a codegen'd projection, and because the
    * aggregator gets map-side PARTIAL aggregation, each map task folds
    * its co-located shingle hashes into per-doc min-states BEFORE the
    * exchange — the shuffle carries ≤ |docs-per-partition| fixed-width
    * states instead of every (sid, h) row, and the reduce side is an
    * elementwise-min merge instead of re-folding the full hash stream
    * (the previous groupByKey/mapGroups shape). min is commutative/
    * associative over exact integers, so the partial split cannot change
    * a value. A 64-column SQL `min` aggregate would get the same partial
    * aggregation but compiles to a janino class so large that
    * codegen/JIT costs dominate (seconds per query — measured).
    */
  private final class MinHashAgg(numHashes: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Seq[Long]] {
    @transient private lazy val coeffs = laneCoeffs(numHashes)
    override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    override def reduce(mins: Array[Long], h: Long): Array[Long] = {
      val p = MersennePrime61
      val cs = coeffs
      var j = 0
      while (j < numHashes) {
        // (a·h + b) mod p exactly, no 128-bit type: with the product
        // a·h = hi·2^64 + lo and 2^61 ≡ 1 (mod p), the residue is
        // hi·8 + (lo >>> 61) + (lo & p) (each term < 2^61, sum < 2^63
        // — no signed overflow), then ≤3 conditional subtractions.
        val (a, b) = cs(j)
        val hi = Math.multiplyHigh(a, h)
        val lo = a * h
        var v = (hi << 3) + (lo >>> 61) + (lo & p) + b
        while (v >= p) v -= p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      mins
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var j = 0
      while (j < numHashes) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
      a
    }
    override def finish(mins: Array[Long]): Seq[Long] = mins.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** MinHash signatures: numHashes min-values per doc over the affine
    * family `h_j(s) = (a_j·h(s) + b_j) mod (2^61−1)` with h the 60-bit
    * md5 chunk of the shingle and per-lane constants from [[laneCoeffs]]
    * (the classic universal-hash MinHash over a Mersenne-prime field).
    * Deterministic across executors AND across engines (md5 + integer
    * arithmetic — the DuckDB oracle replays the banding exactly with the
    * same constants; an xxhash64 family would be marginally faster but
    * unverifiable). The fold is [[MinHashAgg]]. Id column must be
    * integral.
    */
  private def signaturesFromShingles(shingles: DataFrame, numHashes: Int): DataFrame = {
    val sigAgg = org.apache.spark.sql.functions.udaf(new MinHashAgg(numHashes))
    shingles
      .select(col("sid").cast("long").as("sid"), md5(col("s")).as("m"))
      .select(col("sid"), md5Chunk(col("m"), 1, 15).as("h"))
      .groupBy("sid")
      .agg(sigAgg(col("h")).as("sig"))
  }

  /** MinHash LSH candidate pairs from a `(sid, s)` shingle frame
    * ([[shingleRows]]): [[signaturesFromShingles]], then banding — group
    * r consecutive signature components per band, emit (band, bandKey)
    * keys, self-join per bucket. Probability a pair with Jaccard j
    * collides: 1-(1-j^r)^b.
    */
  def lshCandidatePairsFromShingles(
      shingles: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    candidatesFromShingles(shingles, numHashes, bands)
  }

  private def candidatesFromShingles(shingles: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    // signatures are tiny (docs × numHashes longs) and feed both join
    // sides — materialize once
    val sig = signaturesFromShingles(shingles, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    materializeAndRelease(bandedPairs(sig, numHashes, bands), sig)
  }

  /** Per-document LSH band keys from a signature frame: `(sid, band,
    * bh)` — the join-ready index rows. The band key is a fixed-width
    * 60-bit md5 chunk of the r-component tuple, not the tuple itself:
    * band joins shuffle 8-byte longs instead of ~70-byte strings (pure
    * shuffle-byte savings on the hottest dedup exchange at 100 TB), and
    * with a sound min-wise family a 60-bit hash collision is negligible
    * next to the banding's own false-positive rate. Still exactly
    * oracle-replayable: DuckDB computes
    * md5(string_agg(min_j, ',' ORDER BY j)) per (doc, band).
    */
  private[graft] def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    val bandCols = (0 until bands).map { bIdx =>
      val parts = (0 until r).map(k => element_at(col("sig"), bIdx * r + k + 1))
      struct(lit(bIdx).as("band"), md5Chunk(md5(concat_ws(",", parts: _*)), 1, 15).as("bh"))
    }
    sig
      .select(col("sid"), explode(array(bandCols: _*)).as("bk"))
      .select(col("sid"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** Same-bucket pairs from a persisted signature frame: band keys,
    * bucket self-join, `id_a < id_b` dedup. Shared by the plain candidate
    * path and the estimate-carrying path.
    */
  private def bandedPairs(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    // Self-join exchange dedup: measured and NOT available under AQE in
    // this Spark — ReusedExchange fires only with AQE disabled (verified
    // on a trivial repartitioned self-join; AQE's stage cache never
    // matches the re-id'd right side), and pre-partitioning with
    // repartition(band, bh) just instantiates the same exchange twice
    // with a different origin tag (A/B'd at sf10: identical 2×174 MB
    // writes). The two symmetric exchanges are the standard cost of a
    // self-join under AQE; the alternative (collect_list per bucket +
    // in-row pair generation) carries the measured q_basket_lift
    // object-agg failure mode. Documented negative — bench/r13_notes.
    val buckets = bandKeys(sig, numHashes, bands)
    val l = buckets.select(col("sid").as("id_a"), col("band"), col("bh"))
    val rgt = buckets.select(col("sid").as("id_b"), col("band"), col("bh"))
    l.join(rgt, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Incremental fuzzy dedup against a PERSISTED snapshot signature
    * index — the daily-ingest twin of the exact `q_dedup_incremental`
    * anti-join: the snapshot's LSH band keys ([[bandKeys]]) are written
    * once to parquet (the artifact an ingest pipeline carries day to
    * day), RELOADED, and each delta batch bands only ITSELF and
    * hash-joins the reloaded index — candidate (new, snapshot) pairs
    * without re-shingling, re-hashing or re-banding the snapshot.
    *
    * 100 TB shape: per ingest, signature work is O(delta); the snapshot
    * contributes a parquet scan of docs × bands 16-byte index rows (and
    * in production that join prunes further by band-key bucketing). The
    * index round-trips through the artifact on EVERY run so the gate
    * exercises the reload path, not a warm in-memory copy.
    */
  def lshIncrementalCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isNewCol: Column,
      indexDir: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    val base = df.select(col(idCol).as("__id"), col(textCol).as("__text"), isNewCol.as("__new"))
    // snapshot side: band keys built once, persisted, dropped — queries
    // read the ARTIFACT (build-once/query-many, the buildIvfPqIndex
    // discipline)
    lshBuildIndex(
      base.filter(!col("__new")), "__id", "__text", indexDir, shingleN, numHashes, bands)
    deltaCandidatesVsIndex(base.filter(col("__new")), indexDir)
  }

  /** Persist an LSH signature index: the snapshot's per-document band
    * keys ([[bandKeys]]) at `indexDir/keys` plus the build-time banding
    * hyperparameters at `indexDir/params` (validated on every read — a
    * delta banded with different shingleN/numHashes/bands than the index
    * would join keys from incompatible hash families and silently return
    * garbage candidates; see [[graft.util.ArtifactParams]]).
    */
  def lshBuildIndex(
      snapshot: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // sig feeds exactly ONE consumer (the keys write), so no persist:
    // the r22 audit found the old cache write + blocking unpersist paid
    // for a reuse that never happens (bandKeys is a single pipeline)
    val sig = signaturesFromShingles(
      shingleRows(snapshot, idCol, textCol, shingleN), numHashes)
    // the params table and the keys write are independent — overlap the
    // two commit latencies (opt guide §2.6)
    graft.util.Par.run(
      () => graft.util.ArtifactParams.write(
        snapshot.sparkSession, s"$indexDir/params", lshParams(shingleN, numHashes, bands)),
      () => bandKeys(sig, numHashes, bands).write.mode("overwrite").parquet(s"$indexDir/keys"))
  }

  private def lshParams(shingleN: Int, numHashes: Int, bands: Int): Seq[(String, String)] =
    Seq(
      "kind" -> "lsh_band_index",
      "shingle_n" -> shingleN.toString,
      "num_hashes" -> numHashes.toString,
      "bands" -> bands.toString)

  /** Day-N ingest against a persisted LSH index ([[lshBuildIndex]]):
    * band the DELTA batch (O(delta) signature work, hyperparameters FROM
    * the artifact's params — nothing for the caller to mis-repeat), join
    * it against the reloaded index for (new, indexed) candidate pairs,
    * then APPEND the delta's band keys to the index artifact so the NEXT
    * ingest dedups against snapshot ∪ all prior deltas — the maintenance
    * step that completes the daily-ingest story (r19 verdict #3): the
    * index absorbs each delta instead of being rebuilt from the full
    * snapshot per run. Band keys are a pure per-document function of
    * (text, hyperparameters), so index-after-append is ROW-IDENTICAL to
    * a from-scratch rebuild over snapshot ∪ delta (the
    * `dedup_index_append` gate replays two consecutive ingests against
    * exactly that rebuilt-semantics oracle).
    *
    * The candidate result is eagerly materialized BEFORE the append
    * write, so a delta never bands against its own keys.
    */
  def lshIngestAppend(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String): DataFrame = {
    val base = delta.select(col(idCol).as("__id"), col(textCol).as("__text"))
    val spark = delta.sparkSession
    val params = graft.util.ArtifactParams.read(spark, s"$indexDir/params")
    require(
      params.get("kind").contains("lsh_band_index"),
      s"artifact at $indexDir is not an LSH band index (kind=${params.get("kind")})")
    val (shingleN, numHashes, bands) =
      (params("shingle_n").toInt, params("num_hashes").toInt, params("bands").toInt)
    // the delta's band keys feed BOTH the candidate join and the append —
    // checkpoint once so the signature fold runs once (no persist on the
    // sig itself: it has exactly this one consumer)
    val deltaKeys = bandKeys(
      signaturesFromShingles(shingleRows(base, "__id", "__text", shingleN), numHashes),
      numHashes, bands).localCheckpoint(true)
    val snapKeys = spark.read.parquet(s"$indexDir/keys")
    val out = deltaKeys
      .select(col("sid").as("id_new"), col("band"), col("bh"))
      .join(snapKeys.select(col("sid").as("id_snap"), col("band"), col("bh")), Seq("band", "bh"))
      .select("id_new", "id_snap")
      .distinct()
    // the candidate materialization and the keys append are overlapped
    // (opt guide §2.6; r22): "this batch never joins against its own
    // keys" still holds BY CONSTRUCTION — `snapKeys`' parquet file
    // listing was pinned above, before the append starts, and an append
    // only adds new part files, so the candidate scan reads exactly the
    // pre-append index whatever the interleaving. The NEXT ingest's read
    // lists fresh after both actions drain (Par blocks on both).
    val (res, _) = graft.util.Par.run2(
      materializeAndRelease(out),
      deltaKeys.write.mode("append").parquet(s"$indexDir/keys"))
    Caching.release(deltaKeys)
    res
  }

  /** [[lshIncrementalCandidates]]' delta half, shared with the gate that
    * does not append (build + one query).
    */
  private def deltaCandidatesVsIndex(delta: DataFrame, indexDir: String): DataFrame = {
    val spark = delta.sparkSession
    val params = graft.util.ArtifactParams.read(spark, s"$indexDir/params")
    val (shingleN, numHashes, bands) =
      (params("shingle_n").toInt, params("num_hashes").toInt, params("bands").toInt)
    val snapKeys = spark.read.parquet(s"$indexDir/keys")
    // no persist on the delta signatures: bandKeys is their single
    // consumer (r22 audit, same as lshBuildIndex)
    val out = bandKeys(
      signaturesFromShingles(shingleRows(delta, "__id", "__text", shingleN), numHashes),
      numHashes, bands)
      .select(col("sid").as("id_new"), col("band"), col("bh"))
      .join(snapKeys.select(col("sid").as("id_snap"), col("band"), col("bh")), Seq("band", "bh"))
      .select("id_new", "id_snap")
      .distinct()
    materializeAndRelease(out)
  }

  /** LSH candidate pairs ([[lshCandidatePairsFromShingles]]'s set)
    * annotated with the MinHash Jaccard ESTIMATE — the fraction of the
    * numHashes signature lanes on which the two documents agree. This is
    * the sketch-only dedup scorer: at 100 TB the estimate ranks/filters
    * candidates WITHOUT touching the documents' shingle sets again (the
    * estimate join moves docs×numHashes longs, not the corpus), and only
    * survivors go to the exact verifier. Estimator contract:
    * E[matched/numHashes] = Jaccard, σ ≈ sqrt(J(1−J)/numHashes) — at 64
    * lanes, ±0.06 at J=0.5.
    */
  def lshCandidatePairsWithEstFromShingles(
      shingles: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = signaturesFromShingles(shingles, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the candidate set FIRST: banding is precision-tuned, so
    // pairs are tiny next to the corpus (sf10: 25,610 pairs over 500k
    // docs). Joining the FULL signature frame on both sides shuffled
    // docs×numHashes longs twice (measured 2×174 MB writes + a 349 MB
    // join read at sf10); with the pair set in hand, only CANDIDATE
    // docs' signatures need to move — semi-filter each side by the
    // broadcast candidate ids, then the pair join is small enough for
    // AQE to size on its own. Values are unchanged: the semi-filter
    // only drops rows the inner joins below could never match.
    val cands = bandedPairs(sig, numHashes, bands).localCheckpoint(true)
    val sigSide = pairSideFilter(sig, cands)
    val sa = sigSide.select(col("sid").as("id_a"), col("sig").as("sa"))
    val sb = sigSide.select(col("sid").as("id_b"), col("sig").as("sb"))
    val out = cands
      .join(sa, Seq("id_a"))
      .join(sb, Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
          .cast("long")
          .as("matched")
      )
      .withColumn("est_jaccard", col("matched").cast("double") / lit(numHashes.toDouble))
    val res = materializeAndRelease(out, sig)
    Caching.release(cands)
    res
  }

  /** DISTINCT candidate ids above which the semi-filter is skipped. The
    * real cost at the bound is the driver-side collect that builds the
    * broadcast — ~48 B per id row transiently (UnsafeRow object + header
    * + backing array, not 8 B of payload), so 2M ids ≈ 100 MB of driver
    * churn; the shipped LongHashedRelation is far smaller. A candidate
    * set past this is big enough that shuffling the full per-doc frame —
    * the shape this filter replaces — is no longer the dominant cost
    * anyway.
    */
  private val MaxPairIdBroadcast = 2000000L

  /** Restrict a per-doc frame (`sid`, ...) to docs appearing in the
    * MATERIALIZED pair set, via a broadcast semi-join on the candidate
    * ids — the inner joins downstream can only ever match those docs, so
    * this drops no result rows; it only keeps the full frame's bytes out
    * of the pair-join exchanges. Falls back to the unfiltered frame when
    * the id set is too large to broadcast. The gate counts the DISTINCT
    * ids (what the collect actually pays — pairs overestimate it ~2×);
    * every caller checkpoints `cands` first, so the counting job scans
    * materialized blocks rather than recomputing the pair mining.
    */
  private def pairSideFilter(perDoc: DataFrame, cands: DataFrame): DataFrame = {
    val ids = cands.select(col("id_a").as("sid"))
      .union(cands.select(col("id_b").as("sid")))
      .distinct()
    if (ids.count() <= MaxPairIdBroadcast)
      perDoc.join(broadcast(ids), Seq("sid"), "leftsemi")
    else perDoc
  }

  /** Connected components over a near-duplicate pair graph (the final
    * step of fuzzy dedup: pairs → clusters → keep one doc per cluster,
    * SURVEY.md §2.11 "MinHash → LSH → connected components").
    *
    * Bounded min-label propagation: every node starts labeled with its own
    * id; each iteration every node takes the min label over itself and its
    * neighbors. Converges in ≤ diameter iterations — near-dup clusters are
    * short-diameter by construction (they are quasi-cliques), so a small
    * fixed bound is exact in practice and keeps the computation a
    * deterministic chain of `iterations` self-joins (each a key-partitioned
    * shuffle; at scale this is the standard large-graph CC loop, checkpoint
    * every few rounds).
    *
    * Returns (doc_id, component) for every node appearing in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, iterations: Int = 4): DataFrame = {
    // undirected edge list, both directions. Eager checkpoint (not
    // persist): materializes now — so the caller's `pairs` frame is fully
    // consumed on return and may be released — and truncates lineage so
    // every iteration scans computed partitions.
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // Each iteration references the previous labels TWICE (neighbor-min
    // join + outer update join). Without a lineage cut per round the final
    // plan re-evaluates iteration i-1 twice, i-2 four times, … — ~2^k
    // recompute (measured: 9.4 s → ~2 s at sf0.1 with the checkpoint).
    // Eager localCheckpoint both materializes the round and truncates the
    // plan, exactly the checkpoint-every-round posture a 100 TB CC loop
    // needs. The superseded generation is released EXPLICITLY (blocking)
    // the moment its successor is materialized — block footprint stays at
    // O(one generation) by construction instead of depending on the
    // ContextCleaner noticing dead RDDs (GC timing — a cluster-OOM at
    // 100 TB, and measured as multi-second block churn in the harness).
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    (1 to iterations).foreach { _ =>
      val neighborMin = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(edges("src").as("node2"))
        .agg(min(col("label")).as("nlabel"))
      val next = labels
        .join(neighborMin, labels("node") === neighborMin("node2"), "left")
        .select(
          col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label")
        )
        .localCheckpoint(true)
      Caching.release(labels)
      labels = next
    }
    Caching.release(edges)
    labels.select(col("node").as("doc_id"), col("label").as("component"))
  }

  /** The pipeline-facing end of dedup: a keep/drop verdict for EVERY
    * document. Near-dup pairs → connected components → each component's
    * minimum id is the canonical survivor; documents in no component are
    * their own canonical. Emits (id, canonical_id, is_canonical) — the
    * frame a training-mix builder semi-joins against to drop duplicates
    * while keeping one representative per cluster. One extra broadcast-or-
    * hash left join over [[connectedComponents]]' labels (labels ≪ corpus:
    * only documents that appear in a pair carry one).
    */
  def keepList(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      iterations: Int = 4
  ): DataFrame = {
    val labels = connectedComponents(pairs, iterations)
      .withColumnRenamed("doc_id", idCol)
      .withColumnRenamed("component", "__component")
    df.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__component"), col(idCol)).as("canonical_id"))
      .withColumn("is_canonical", col("canonical_id") === col(idCol))
  }

  /** The composed 100 TB dedup recipe: LSH banding generates candidate
    * pairs in O(docs × bands), then ONLY those pairs get the exact
    * integer-Jaccard verification via the inverted index. Pair-space work
    * collapses from Σ freq² to |candidates|; output schema matches
    * ngramJaccardPairsFromShingles so the verifier is a drop-in exact check.
    */
  def lshVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      thresholdNum: Int,
      thresholdDen: Int
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // ONE shingle materialization feeds both candidate generation (via
    // signatures) and exact verification
    val sh = shingleRows(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = candidatesFromShingles(sh, numHashes, bands)
    // the exact-verify joins and the size lookup only ever touch docs in
    // the (tiny, already-materialized) candidate set — semi-filter the
    // shingle frame once so the verify exchanges move candidate docs'
    // shingles, not the corpus's (same move as the est path above)
    val shC = pairSideFilter(sh, cands)
    val sizes = shC.groupBy("sid").agg(count(lit(1)).as("sz"))
    val a = shC.select(col("sid").as("id_a"), col("s"))
    val b = shC.select(col("sid").as("id_b"), col("s"))
    val inter = cands
      .join(a, Seq("id_a"))
      .join(b, Seq("id_b", "s"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    val out = materializeAndRelease(jaccardThreshold(inter, sizes, thresholdNum, thresholdDen), sh)
    // the candidate set was itself checkpointed (candidatesFromShingles);
    // its blocks are dead once the verified result is materialized
    Caching.release(cands)
    out
  }

  /** 64-bit SimHash over the token multiset: per bit, sum ±1 across token
    * hashes, bit set where the sum is positive. The 64 token-hash bits are
    * the two 32-bit md5 chunks of the token (bits 0-31 from chunk 2 = lo,
    * bits 32-63 from chunk 1 = hi), and the signature is emitted as the
    * same two 32-bit halves — md5 + bit arithmetic on values < 2^32 is
    * exactly replayable by the DuckDB oracle (a single signed 64-bit
    * signature would need `1<<63`, which ANSI engines reject).
    *
    * Same shape decision as the MinHash signatures: token hashing is a
    * codegen'd projection, the 64-lane bit-count fold is a typed
    * mapGroups with a primitive array accumulator (a 64-column SQL
    * aggregate pays seconds of janino/JIT compile). One shuffle of
    * (long, long, long) triples on the doc id. Id column must be integral.
    */
  /** The 64-lane bit-vote fold as a typed Aggregator — same shape move
    * as [[MinHashAgg]]: map-side PARTIAL aggregation folds each
    * partition's co-located token hashes into per-doc vote states before
    * the exchange, so the shuffle carries ≤ |docs-per-partition|
    * 64-int states instead of every (sid, hi, lo) token row (sf10: the
    * token stream is ~1 GB shuffled; states are ~150 MB). Vote sums are
    * exact integers and addition is commutative/associative, so the
    * partial split cannot change a signature bit.
    */
  private final class SimHashAgg
      extends org.apache.spark.sql.expressions.Aggregator[(Long, Long), Array[Int], (Long, Long)] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(acc: Array[Int], h: (Long, Long)): Array[Int] = {
      val (hi, lo) = h
      var b = 0
      while (b < 32) {
        if (((lo >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        if (((hi >>> b) & 1L) == 1L) acc(b + 32) += 1 else acc(b + 32) -= 1
        b += 1
      }
      acc
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(acc: Array[Int]): (Long, Long) = {
      var sigLo = 0L
      var sigHi = 0L
      var b = 0
      while (b < 32) {
        if (acc(b) > 0) sigLo |= (1L << b)
        if (acc(b + 32) > 0) sigHi |= (1L << b)
        b += 1
      }
      (sigHi, sigLo)
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val votes = org.apache.spark.sql.functions.udaf(new SimHashAgg)
    df
      .select(
        col(idCol).cast("long").as("sid"),
        explode(TextOps.normTokens(col(textCol))).as("t")
      )
      .select(col("sid"), md5(col("t")).as("m"))
      .select(col("sid"), md5Chunk(col("m"), 1, 8).as("hi"), md5Chunk(col("m"), 9, 8).as("lo"))
      .groupBy("sid")
      .agg(votes(col("hi"), col("lo")).as("sig"))
      .select(col("sid"), col("sig._1").as("sig_hi"), col("sig._2").as("sig_lo"))
  }


  /** SimHash near-dup pairs within a Hamming radius, banded so candidate
    * generation is a hash-join on 16-bit sub-keys (no pair enumeration).
    * Complete for radius < bands by pigeonhole.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4
  ): DataFrame = {
    require(maxHamming < bands,
      s"banding is only complete for hamming < bands (got maxHamming=$maxHamming, bands=$bands)")
    val sig = simhash64(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val width = 64 / bands
    require(width <= 32 && 32 % width == 0,
      s"band width must divide the 32-bit signature halves (got width=$width)")
    val mask = (1L << width) - 1
    // bands 0..(bands/2-1) slice the lo half, the rest slice hi — same
    // bit coverage as a single 64-bit signature, split so every shift
    // stays within a signed-long-safe 32-bit value on both engines
    val bhs = (0 until bands).map { i =>
      val (half, off) =
        if (i < bands / 2) (col("sig_lo"), i * width) else (col("sig_hi"), i * width - 32)
      shiftright(half, off).bitwiseAND(lit(mask))
    }
    // Bucket key schedule — selectivity must scale with the corpus (the
    // round-8 sf1 decomposition: with single 8-bit band keys there are
    // only 256 buckets/band, so the self-join is O(n²/2^width) BY
    // PIGEONHOLE — candidates grew ~100× at 10× corpus while true pairs
    // grew 2.75×, and the query ran 12× the wall). When the radius
    // allows, join on PAIRS of bands instead: a pair within `maxHamming`
    // dirties at most `maxHamming` bands, so for maxHamming ≤ bands−2 at
    // least two bands are clean and the pair shares a (band_i, band_j)
    // combo key — same completeness guarantee, C(bands,2) keys of
    // 2·width bits (65536 buckets at 8-bit bands), candidate population
    // cut by ~2^width/C(bands,2) (73× at 8×8). The final pair set is
    // IDENTICAL (both schemes are complete; the Hamming filter decides),
    // so oracles replaying "all pairs within the radius" are unaffected.
    val bandCols =
      if (maxHamming <= bands - 2)
        (for { i <- 0 until bands; j <- i + 1 until bands } yield
          struct(
            lit(i * bands + j).as("band"),
            (shiftleft(bhs(i), width) + bhs(j)).as("bh"))).toSeq
      else
        (0 until bands).map(i => struct(lit(i).as("band"), bhs(i).as("bh")))
    val buckets = sig.select(col("sid"), col("sig_hi"), col("sig_lo"), explode(array(bandCols: _*)).as("bk"))
      .select(col("sid"), col("sig_hi"), col("sig_lo"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val l = buckets.select(
      col("sid").as("id_a"), col("sig_hi").as("hi_a"), col("sig_lo").as("lo_a"), col("band"), col("bh"))
    val rgt = buckets.select(
      col("sid").as("id_b"), col("sig_hi").as("hi_b"), col("sig_lo").as("lo_b"), col("band"), col("bh"))
    // filter on the Hamming radius BEFORE the distinct: the radius test is
    // a per-row map over the joined band pairs, so applying it first
    // shrinks the distinct's shuffle from |all band collisions| to
    // |matching pairs × bands| — at scale the band-collision set is the
    // big one (random 2^-width collisions included)
    val pairs = l
      .join(rgt, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    materializeAndRelease(pairs, sig)
  }

  /** Sub-document (paragraph/line-level) corpus dedup, the CCNet recipe:
    * split every document into fixed `chunkTokens`-token chunks, keep only
    * the corpus-wide FIRST occurrence of each distinct chunk (ordered by
    * (doc id, chunk index)), and reassemble the surviving chunks into a
    * cleaned text. Boilerplate that repeats across millions of pages
    * (headers, footers, license blurbs) disappears from every copy but
    * the first.
    *
    * Scale shape: exactly two shuffles — one hash-shuffle on the chunk
    * hash for the first-occurrence argmin (map-side partial min), one on
    * the doc id for reassembly. No self-join, no pair space, state is one
    * (hash → argmin key) row per DISTINCT chunk. The chunk index is
    * packed with the doc id into one long (doc_id·2^20 + idx) so the
    * argmin shuffles an 8-byte key, not a struct — ordering stays
    * correct for docs up to 2^20 chunks (8M tokens at the default
    * width) and ids below 2^43.
    *
    * Documents whose token count is zero vanish (no chunks) — same
    * totality contract as the oracle's explode.
    */
  def chunkDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 8
  ): DataFrame = {
    val maxChunks = 1L << 20 // packing bound: idx must fit the low bits
    val ts = TextOps.normTokens(col(textCol))
    // Column./ is true division (0.5 for one token at width 2) — floor()
    // it back to the integer ceil-div, and guard the sequence() bound:
    // Spark's sequence(0, -1) counts DOWN (see shinglesFromTokens)
    val nChunks = floor((size(col("__ts")) + (chunkTokens - 1)) / chunkTokens).cast("int")
    val chunks = df
      .select(col(idCol).as("__id"), ts.as("__ts"))
      .select(
        col("__id"),
        when(nChunks > 0, sequence(lit(0), nChunks - 1))
          .otherwise(array().cast("array<int>")).as("__cis"),
        col("__ts"))
      .select(col("__id"), explode(col("__cis")).as("ci"), col("__ts"))
      .select(
        col("__id"), col("ci"),
        concat_ws(" ", slice(col("__ts"), col("ci") * chunkTokens + 1, lit(chunkTokens))).as("chunk"))
      .select(
        col("__id"), col("ci"), col("chunk"),
        md5(col("chunk")).as("h"),
        // packing precondition enforced loudly: a doc past 2^20 chunks,
        // a negative id, or an id past 2^43 would silently corrupt the
        // first-occurrence ordering — fail the job instead
        when(
          col("ci") >= maxChunks || col("__id") < 0 ||
            col("__id") > (Long.MaxValue / maxChunks) - 1,
          raise_error(concat(
            lit("chunkDedup order-key packing violated: doc "),
            col("__id").cast("string"), lit(" chunk "), col("ci").cast("string"))))
          .otherwise(col("__id") * maxChunks + col("ci")).as("okey"))
    val firstSeen = chunks.groupBy("h").agg(min(col("okey")).as("first_okey"))
    chunks
      .join(firstSeen, "h")
      .withColumn("kept", col("okey") === col("first_okey"))
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("total_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_chunks"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("ci"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("cleaned_text"))
      .select(
        col("__id").as(idCol),
        col("total_chunks"), col("kept_chunks"), col("cleaned_text"))
  }

  /** WITHIN-document repeated-chunk removal — the local pass of the
    * CCNet/Gopher repetition family ([[chunkDedup]] is the corpus-wide
    * twin): per document, `chunkTokens`-token chunks that repeat an
    * earlier chunk of the SAME document are excised (first occurrence
    * kept, in order). Same normalization, chunking and output contract
    * as [[chunkDedup]].
    *
    * 100 TB shape — the best one there is: a PURE per-row projection.
    * The chunk array, the first-occurrence filter (higher-order
    * `filter` with index vs `array_position`) and the reassembled text
    * all evaluate inside one codegen'd map over the scan — ZERO
    * shuffle, zero joins, zero aggregation state at any corpus size.
    * Per-doc cost is O(chunks²) string compares (array_position per
    * chunk), bounded by document length, never the corpus.
    */
  def chunkDedupLocal(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 8
  ): DataFrame = {
    val nChunks = floor((size(col("__ts")) + (chunkTokens - 1)) / chunkTokens).cast("int")
    df
      // NULL text ≡ empty doc (0 chunks), matching the oracle's coalesce:
      // without it TokenRuns null-propagates and size(null) = -1 takes the
      // empty-array path on the Spark side while a SQL NULL list
      // propagates to (NULL, NULL, NULL) — the packTokenWindows NULL
      // hazard class (r19 advice)
      .select(
        col(idCol).as("__id"),
        TextOps.normTokens(coalesce(col(textCol), lit(""))).as("__ts"))
      .select(
        col("__id"),
        transform(
          // sequence(0, -1) counts DOWN (the chunkDedup guard): empty
          // docs get an explicitly empty chunk list
          when(nChunks > 0, sequence(lit(0), nChunks - 1))
            .otherwise(array().cast("array<int>")),
          ci => concat_ws(" ", slice(col("__ts"), ci * chunkTokens + 1, lit(chunkTokens)))
        ).as("__chunks"))
      .select(
        col("__id").as(idCol),
        size(col("__chunks")).cast("long").as("total_chunks"),
        // keep chunk i iff its FIRST occurrence in this doc is i itself
        // (array_position is 1-based; filter's index is 0-based)
        filter(col("__chunks"), (c, i) => array_position(col("__chunks"), c) === (i + 1).cast("long"))
          .as("__kept"))
      .select(
        col(idCol),
        col("total_chunks"),
        size(col("__kept")).cast("long").as("kept_chunks"),
        array_join(col("__kept"), " ").as("cleaned_text"))
  }
}
