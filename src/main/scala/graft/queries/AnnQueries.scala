package graft.queries

import graft.ops.{Sampling, Similarity}
import org.apache.spark.sql.functions._

/** Embeddings and approximate nearest neighbours over the `embeddings`
  * fixture: exact, IVF, SRP-LSH, PQ and composite IVF-PQ top-k (in
  * memory, persisted and appended), recall observability, embedding
  * near-dup and semantic dedup, hybrid retrieval, and embedding
  * maintenance. The LSH, PQ and IVF-PQ oracle CTEs live here.
  */
object AnnQueries {
  import Tables.t

  /** The ±1 hyperplane component `Similarity.radSign(plane, i)` resolves
    * to, as a DuckDB array literal — the SAME deterministic Rademacher
    * signs the engine's codegen'd SRP bucketing uses (single definition:
    * the literal is generated by calling the production function at
    * oracle-construction time, so the two cannot drift).
    */
  private def radSignArray(plane: Int, dim: Int): String =
    (0 until dim)
      .map(i => if (Similarity.radSign(plane, i) > 0) "1" else "-1")
      .mkString("[", ",", "]")

  /** Multi-table SRP bucket CTE body (`b`): one SELECT per hash table
    * over a `base(vec_id, v)` CTE, bucket = Σ per-plane sign-bit CASEs,
    * global plane index = tbl·planesPerTable + p — exactly
    * [[graft.ops.Similarity.annLshTopK]]'s bucketing.
    */
  private def srpTablesSql(planesPerTable: Int, tables: Int, dim: Int): String =
    (0 until tables)
      .map { tbl =>
        val expr = (0 until planesPerTable)
          .map { p =>
            s"(CASE WHEN list_inner_product(v, CAST(${radSignArray(tbl * planesPerTable + p, dim)} AS DOUBLE[])) > 0 THEN ${1L << p} ELSE 0 END)"
          }
          .mkString(" + ")
        s"  SELECT vec_id, v, $tbl AS tbl, $expr AS bucket FROM base"
      }
      .mkString("\n  UNION ALL\n")

  /** CTE chain `b, lshcand, lsh` replaying [[Similarity.annLshTopK]]:
    * per-table buckets → DISTINCT same-bucket candidates (the engine's
    * max-sim de-dup collapses multi-table collisions the same way) →
    * exact-cosine rank within the candidate union. `lsh` has columns
    * (query_id, neighbor_id, rank), rank ≤ k. Assumes a prior
    * `base(vec_id, v)` CTE.
    */
  private def lshTopkCtes(
      planesPerTable: Int,
      tables: Int,
      dim: Int,
      k: Int,
      queryBound: Int
  ): String =
    s"""b AS (
       |${srpTablesSql(planesPerTable, tables, dim)}),
       |lshcand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM b q JOIN b c ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $queryBound),
       |lsh AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT lshcand.query_id, lshcand.neighbor_id,
       |      row_number() OVER (PARTITION BY lshcand.query_id
       |        ORDER BY list_cosine_similarity(qb.v, nb.v) DESC, lshcand.neighbor_id) AS rank
       |    FROM lshcand JOIN base qb ON qb.vec_id = lshcand.query_id
       |                 JOIN base nb ON nb.vec_id = lshcand.neighbor_id
       |  ) WHERE rank <= $k)""".stripMargin

  /** The DuckDB form of [[Similarity.adaptiveRerankK]]: the same
    * `max(200, ⌈n/250⌉)` shortlist bound, derived from the corpus count
    * as a scalar subquery over the `base` CTE — the `dedup_semantic`
    * count-derived-constant oracle pattern.
    */
  private val pqAdaptiveRerankSql: String =
    "(SELECT GREATEST(200, (COUNT(*) + 249) // 250) FROM base)"

  /** CTE chain `psub … pq` replaying [[Similarity.pqAdcTopK]] with an
    * exact-cosine re-rank: per-subspace codebook assignment → wide code
    * word → per-query LUT → fixed-order ADC sum shortlist of `rerankSql`
    * (a SQL expression — a literal, or [[pqAdaptiveRerankSql]] for the
    * corpus-adaptive bound) → exact re-rank to k. `pq` has columns
    * (query_id, neighbor_id, rank), rank ≤ k. Assumes a prior
    * `base(vec_id, v)` CTE.
    */
  private def pqTopkCtes(
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      rerankSql: String,
      k: Int,
      queryBound: Int
  ): String = {
    // ADC as a (query, neighbor) GROUP BY pivot — one hash join of the
    // long-form code assignments against the LUT — rather than an
    // m-way join of per-subspace LUT slices: DuckDB's optimizer is free
    // to reorder an m-way join into a LUT×LUT×… blowup (measured: 25+
    // minutes at m=8, gate scale), while the pivot is one 800k-row join
    // however large m gets. MAX over the single row per (q, n, s) is
    // that row's exact double, and the p0+…+p{m−1} chain keeps the
    // fixed summation order the engine's ADC uses.
    val pivotCols = (0 until subspaces)
      .map(s => s"        MAX(CASE WHEN s = $s THEN p END) AS p$s")
      .mkString(",\n")
    val adcSum = (0 until subspaces).map(s => s"p$s").mkString(" + ")
    s"""psub AS (
       |  SELECT vec_id, g.s, list_slice(v, g.s * $subDim + 1, g.s * $subDim + $subDim) AS sv
       |  FROM base, LATERAL (SELECT unnest(generate_series(0, ${subspaces - 1})) AS s) g),
       |pcb AS (SELECT vec_id AS code, s, sv AS cv FROM psub WHERE vec_id < $nCodes),
       |passign AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT a.vec_id, a.s, pcb.code,
       |      row_number() OVER (PARTITION BY a.vec_id, a.s
       |        ORDER BY list_cosine_similarity(a.sv, pcb.cv) DESC, pcb.code) AS rn
       |    FROM psub a JOIN pcb ON pcb.s = a.s) WHERE rn = 1),
       |pqq AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < $queryBound),
       |plut AS (
       |  SELECT pqq.query_id, pcb.s, pcb.code,
       |    list_inner_product(list_slice(pqq.qv, pcb.s * $subDim + 1, pcb.s * $subDim + $subDim), pcb.cv) AS p
       |  FROM pqq, pcb),
       |psc AS (
       |  SELECT l.query_id, a.vec_id AS neighbor_id, a.s, l.p
       |  FROM passign a JOIN plut l ON l.s = a.s AND l.code = a.code
       |  WHERE a.vec_id <> l.query_id),
       |ppool AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY $adcSum DESC, neighbor_id) AS rank
       |    FROM (
       |      SELECT query_id, neighbor_id,
       |$pivotCols
       |      FROM psc GROUP BY 1, 2)
       |  ) WHERE rank <= $rerankSql),
       |pq AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT ppool.query_id, ppool.neighbor_id,
       |      row_number() OVER (PARTITION BY ppool.query_id
       |        ORDER BY list_cosine_similarity(qb.v, nb.v) DESC, ppool.neighbor_id) AS rank
       |    FROM ppool JOIN base qb ON qb.vec_id = ppool.query_id
       |               JOIN base nb ON nb.vec_id = ppool.neighbor_id
       |  ) WHERE rank <= $k)""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    // ---- embedding near-dup, exact all-pairs form: the small-sf oracle
    //      validator of the bucketed path below (sequential-fold double
    //      math — bitwise equal to the DuckDB DOUBLE[] oracle). O(n²):
    //      NOT the scale path ----
    "dedup_embedding_cosine" -> QueryDef(
      (s, d) =>
        Similarity.nearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding", threshold = 0.4),
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin)
    ),

    // ---- embedding near-dup, THE scale path: multi-table SRP-bucket
    //      candidates (shuffled hash join on (table, bucket) — no
    //      BroadcastNestedLoopJoin) → exact cosine verify on candidates
    //      only. Bucketing is deterministic, and at 3 planes × 24 tables
    //      recall over the fixture's ≥0.4 pairs is exact, so the oracle is
    //      the same all-pairs exact SQL ----
    "dedup_embedding_cosine_lsh" -> QueryDef(
      (s, d) =>
        Similarity.srpVerifiedPairs(
          t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, planesPerTable = 3, tables = 24
        ),
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin),
      "SRP-bucketed candidate join + exact cosine verification; promises recall 1.0 " +
        "against the exact all-pairs oracle (sf0.1: 920/920 pairs), pinned by the oracle " +
        "and SimilaritySpec"
    ),

    // ---- the HIGH-threshold SRP dedup — the common production case
    //      (0.9+), where blocking actually prunes. The fixture has no
    //      ≥0.9 pairs (max off-pair sim 0.51), so the query plants a
    //      deterministic near-dup population first (elementwise
    //      perturbation, bitwise-replayable in the oracle): every 20th
    //      vector gains a copy at id+1000000 with cosine ≈0.989. At
    //      8 planes × 8 tables the candidate set collapses to ~O(n)
    //      (asserted ≪ n² in SimilaritySpec) while recall on the planted
    //      pairs stays exact — so the oracle is the exact all-pairs SQL
    //      over the same derived table ----
    "dedup_embedding_cosine_lsh_hi" -> QueryDef(
      (s, d) =>
        Similarity.srpVerifiedPairs(
          Similarity.plantNearDups(
            t(s, d, "embeddings"), "vec_id", "embedding",
            every = 20, idOffset = 1000000L, eps = 0.15),
          "vec_id", "embedding",
          threshold = 0.9, planesPerTable = 8, tables = 8
        ),
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
             |), d AS (
             |  SELECT vec_id, v FROM e
             |  UNION ALL
             |  SELECT vec_id + 1000000,
             |         list_transform(generate_series(1, len(v)), i -> v[i] + 0.15 * v[1 + (i % len(v))])
             |  FROM e WHERE vec_id % 20 = 0
             |)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM d a JOIN d b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin),
      "high-threshold SRP blocking: real candidate pruning + exact recall on planted " +
        "near-dups; promises planted-pair recall 1.0 (sf0.1: 100/100), pinned by the oracle " +
        "and SimilaritySpec"
    ),

    // ---- similarity search: brute-force exact top-k (rank output only —
    //      no floats in the compared result) ----
    "ann_cosine_topk" -> QueryDef(
      (s, d) =>
        Similarity.cosineTopK(
          t(s, d, "embeddings"), "vec_id", "embedding",
          k = 5, queryPred = col("cid") < 50
        ).withColumn("rank", col("rank").cast("long")),
      Some("""SELECT query_id, rank, neighbor_id FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    CAST(row_number() OVER (
             |      PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
             |               c.vec_id) AS BIGINT) AS rank
             |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             |  WHERE q.vec_id < 50
             |) WHERE rank <= 5""".stripMargin)
    ),

    // ---- ANN scale path #2: IVF cluster-probe search. Fully
    //      deterministic (fixed codebook, total orders), so the oracle
    //      replays the exact IVF pipeline: assign → probe 5 of 8 clusters
    //      → exact rank within candidates ----
    "ann_ivf_topk" -> QueryDef(
      (s, d) =>
        Similarity.ivfTopK(
          t(s, d, "embeddings"), "vec_id", "embedding",
          k = 5, queryPred = col("cid") < 50, nClusters = 8, nProbe = 5
        ).withColumn("rank", col("rank").cast("long")),
      Some("""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cent AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 8),
             |assign AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT b.vec_id, c.cid,
             |      row_number() OVER (PARTITION BY b.vec_id
             |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid) AS rn
             |    FROM base b CROSS JOIN cent c) WHERE rn = 1),
             |probes AS (
             |  SELECT query_id, cid FROM (
             |    SELECT q.vec_id AS query_id, c.cid,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid) AS rn
             |    FROM base q CROSS JOIN cent c WHERE q.vec_id < 50) WHERE rn <= 5),
             |cand AS (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    list_cosine_similarity(qb.v, nb.v) AS sim
             |  FROM probes p
             |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
             |  JOIN base qb ON qb.vec_id = p.query_id
             |  JOIN base nb ON nb.vec_id = a.vec_id)
             |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
             |  SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             |  FROM cand) WHERE rank <= 5""".stripMargin),
      "IVF probe search: shuffle-free assignment, cluster-id hash join; promises " +
        "recall@5 ≥ 0.8 against exact top-5 at sf0.1 (measured 0.836), pinned by AnnRecallSpec"
    ),

    // ---- IVF over a TRAINED codebook: one deterministic Lloyd step
    //      (first-k init → nearest-centroid assign → per-cluster mean of
    //      1e-6-quantized coordinates). Quantized sums are integer-valued
    //      doubles — exact and order-free — so DuckDB replays the
    //      training bit-for-bit and the oracle covers assignment,
    //      probing, AND the k-means step itself ----
    "ann_ivf_trained_topk" -> QueryDef(
      (s, d) =>
        Similarity.ivfTopK(
          t(s, d, "embeddings"), "vec_id", "embedding",
          k = 5, queryPred = col("cid") < 50, nClusters = 8, nProbe = 5,
          trainIterations = 1
        ).withColumn("rank", col("rank").cast("long")),
      Some("""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cent0 AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 8),
             |a0 AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT b.vec_id, c.cid,
             |      row_number() OVER (PARTITION BY b.vec_id
             |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid) AS rn
             |    FROM base b CROSS JOIN cent0 c) WHERE rn = 1),
             |comp AS (
             |  SELECT a0.cid, g.i AS dim, round(b.v[g.i] * 1000000.0) AS qv
             |  FROM a0 JOIN base b USING (vec_id),
             |  LATERAL (SELECT unnest(generate_series(1, len(b.v))) AS i) g),
             |sums AS (SELECT cid, dim, SUM(qv) AS sq, COUNT(*) AS n FROM comp GROUP BY 1, 2),
             |cent AS (SELECT cid, list(sq / (n * 1000000.0) ORDER BY dim) AS cv FROM sums GROUP BY cid),
             |assign AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT b.vec_id, c.cid,
             |      row_number() OVER (PARTITION BY b.vec_id
             |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid) AS rn
             |    FROM base b CROSS JOIN cent c) WHERE rn = 1),
             |probes AS (
             |  SELECT query_id, cid FROM (
             |    SELECT q.vec_id AS query_id, c.cid,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid) AS rn
             |    FROM base q CROSS JOIN cent c WHERE q.vec_id < 50) WHERE rn <= 5),
             |cand AS (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    list_cosine_similarity(qb.v, nb.v) AS sim
             |  FROM probes p
             |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
             |  JOIN base qb ON qb.vec_id = p.query_id
             |  JOIN base nb ON nb.vec_id = a.vec_id)
             |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
             |  SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             |  FROM cand) WHERE rank <= 5""".stripMargin),
      "IVF with a Lloyd-trained codebook; the k-means step itself is oracle-replayed"
    ),

    // ---- ANN scale path: multi-table SRP-LSH top-k (12 tables × 4
    //      deterministic Rademacher planes — recall 1−(1−p^4)^12, tuned
    //      to the ≥0.8 floor asserted in AnnRecallSpec). The oracle
    //      embeds the SAME ±1 sign vectors as literals (generated from
    //      the production radSign over the fixture's fixed dim=64) and
    //      replays bucket assignment, candidate union, and exact
    //      candidate-set cosine rank. ----
    "ann_lsh_topk" -> QueryDef(
      (s, d) =>
        Similarity.annLshTopK(
          t(s, d, "embeddings"), "vec_id", "embedding",
          k = 5, queryPred = col("cid") < 50, nPlanes = 4, tables = 12
        ).withColumn("rank", col("rank").cast("long")),
      Some {
        s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |${lshTopkCtes(planesPerTable = 4, tables = 12, dim = 64, k = 5, queryBound = 50)}
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM lsh""".stripMargin
      },
      "bucketed ANN: multi-table SRP candidate union + exact rank, both oracle-replayed; " +
        "promises recall@5 ≥ 0.8 against exact top-5 at sf0.1 (measured 0.868), pinned by " +
        "AnnRecallSpec"
    ),

    // ---- ANN recall observability: the integer-exact recall@k of each
    //      approximate method (SRP-LSH buckets, IVF probes, PQ ADC)
    //      against the exact brute-force top-k over the same queries —
    //      THE metric that tunes nPlanes/nProbe/codebooks in production.
    //      Every method is deterministic, so the oracle replays all four
    //      pipelines and counts the same set intersections ----
    "ann_recall_at_k" -> QueryDef(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // ONE prepped corpus (cid, v, nrm) persisted for all four
        // pipelines (VERDICT r11 #5): exact, LSH, IVF, and PQ previously
        // each re-scanned the parquet and re-derived the normalized base.
        // Sharing the persisted frame changes lineage only — every
        // pipeline's expressions are untouched, so results (and the
        // DuckDB oracle) replay byte-identically.
        // spread to full parallelism BEFORE the persist: the fixture
        // arrives as ~2 file splits and every pipeline below is
        // CPU-bound over the cached blocks (row values are per-row pure,
        // so placement cannot change a result)
        val base = Similarity.prepBase(emb, "vec_id", "embedding")
          .repartition(s.sparkContext.defaultParallelism)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // fill the cache once up front so the concurrent pipelines below
        // read blocks instead of racing to recompute the same partitions
        base.count()
        // the four pipelines are INDEPENDENT until the final union — run
        // them as concurrent Spark jobs (each future materializes its
        // bounded top-k result) instead of a serial chain of blocking
        // checkpoints. Wall time drops to ~max(pipeline) and the cluster
        // stays busy through each pipeline's scheduling gaps; results are
        // per-pipeline deterministic, so concurrency cannot change a row.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        val fExact = Future(graft.ops.Caching.materializeAndRelease(
          Similarity.cosineTopKFromBase(base, k = 5, queryPred = col("cid") < 50)
            .select("query_id", "neighbor_id")))
        val fLsh = Future(graft.ops.Caching.materializeAndRelease(Similarity
          .annLshTopKFromBase(base, k = 5, queryPred = col("cid") < 50,
            nPlanes = 4, tables = 12)
          .select(lit("lsh").as("method"), col("query_id"), col("neighbor_id"))))
        val fIvf = Future(graft.ops.Caching.materializeAndRelease(Similarity
          .ivfTopKFromBase(base, k = 5, queryPred = col("cid") < 50,
            nClusters = 8, nProbe = 5, trainIterations = 0)
          .select(lit("ivf").as("method"), col("query_id"), col("neighbor_id"))))
        val fPq = Future(graft.ops.Caching.materializeAndRelease(Similarity
          .pqAdcTopKFromBase(base, k = 5, queryPred = col("cid") < 50,
            subspaces = 16, subDim = 4, nCodes = 64,
            rerankK = Similarity.AdaptiveRerank)
          .select(lit("pq").as("method"), col("query_id"), col("neighbor_id"))))
        // if any pipeline fails, the rethrow must not strand the
        // persisted base or the checkpoints the sibling futures already
        // (or are still about to) materialize — drain every future,
        // release whatever landed, drop the base, then rethrow
        try {
          val exact = Await.result(fExact, Duration.Inf)
          val approx = Await.result(fLsh, Duration.Inf)
            .unionByName(Await.result(fIvf, Duration.Inf))
            .unionByName(Await.result(fPq, Duration.Inf))
          val tot = exact.agg(count(lit(1)).as("n_exact"))
          val recalls = approx
            .join(exact.withColumn("__hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
            .groupBy("method")
            .agg(
              count(lit(1)).as("n_returned"),
              sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hits"))
            .crossJoin(broadcast(tot))
            .select(
              col("method"), col("n_returned"), col("n_hits"),
              col("n_exact"),
              (col("n_hits").cast("double") / col("n_exact")).as("recall"))
          // 3-row result: eager-materialize, then drop the shared base and
          // every per-pipeline checkpoint (their blocks are dead once the
          // recall rows exist)
          val out = graft.ops.Caching.materializeAndRelease(recalls, base)
          graft.ops.Caching.release(exact)
          graft.ops.Caching.release(approx)
          out
        } catch {
          case e: Throwable =>
            Seq(fExact, fLsh, fIvf, fPq).foreach { f =>
              scala.util.Try(Await.result(f, Duration.Inf))
                .foreach(df => scala.util.Try(graft.ops.Caching.release(df)))
            }
            scala.util.Try(base.unpersist(false))
            throw e
        }
      },
      Some {
        s"""WITH base AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |exact AS MATERIALIZED (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
           |    FROM base q JOIN base c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id < 50) WHERE rank <= 5),
           |${lshTopkCtes(planesPerTable = 4, tables = 12, dim = 64, k = 5, queryBound = 50)},
           |cent AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 8),
           |iassign AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT b.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY b.vec_id
           |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid) AS rn
           |    FROM base b CROSS JOIN cent c) WHERE rn = 1),
           |iprobes AS (
           |  SELECT query_id, cid FROM (
           |    SELECT q.vec_id AS query_id, c.cid,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid) AS rn
           |    FROM base q CROSS JOIN cent c WHERE q.vec_id < 50) WHERE rn <= 5),
           |ivf AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT p.query_id, a.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY p.query_id
           |        ORDER BY list_cosine_similarity(qb.v, nb.v) DESC, a.vec_id) AS rank
           |    FROM iprobes p
           |    JOIN iassign a ON a.cid = p.cid AND a.vec_id <> p.query_id
           |    JOIN base qb ON qb.vec_id = p.query_id
           |    JOIN base nb ON nb.vec_id = a.vec_id) WHERE rank <= 5),
           |${pqTopkCtes(subspaces = 16, subDim = 4, nCodes = 64, rerankSql = pqAdaptiveRerankSql, k = 5, queryBound = 50)},
           |ap AS (
           |  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
           |  UNION ALL SELECT 'ivf', query_id, neighbor_id FROM ivf
           |  UNION ALL SELECT 'pq', query_id, neighbor_id FROM pq)
           |SELECT m.method, CAST(COUNT(*) AS BIGINT) AS n_returned,
           |  CAST(COUNT(e.query_id) AS BIGINT) AS n_hits,
           |  CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           |  CAST(COUNT(e.query_id) AS DOUBLE) / (SELECT COUNT(*) FROM exact) AS recall
           |FROM ap m LEFT JOIN exact e
           |  ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
           |GROUP BY 1""".stripMargin
      },
      "recall@k of LSH/IVF/PQ against exact brute-force top-k, integer-exact; promises " +
        "recall@5 ≥ 0.8 per method at sf0.1 (measured lsh 0.868, ivf 0.836, pq 0.992), " +
        "pinned by AnnRecallSpec"
    ),

    // ---- embedding maintenance: normalization + int8 quantization.
    //      Array cells are not driver-comparable, so the registered
    //      queries emit scalar digests (norms, inner products, integer
    //      sums) that pin every element ----
    "emb_normalize" -> QueryDef(
      (s, d) => {
        graft.ops.Embeddings.l2Normalize(t(s, d, "embeddings"), "vec_id", "embedding")
          .select(
            col("vec_id"),
            col("nrm"),
            graft.ops.Similarity.fastDot(col("unit"), col("unit")).as("unit_ip"))
      },
      Some("""WITH b AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
             |  FROM embeddings)
             |SELECT vec_id, nrm,
             |  list_inner_product(list_transform(v, x -> x / nrm), list_transform(v, x -> x / nrm)) AS unit_ip
             |FROM b""".stripMargin),
      "unit-L2 normalization; digest = norm + unit self-inner-product"
    ),
    "emb_quantize_int8" -> QueryDef(
      (s, d) =>
        graft.ops.Embeddings.quantizeInt8(t(s, d, "embeddings"), "vec_id", "embedding")
          .select(
            col("vec_id"),
            col("scale"),
            aggregate(col("q"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
            array_min(col("q")).cast("long").as("q_min"),
            array_max(col("q")).cast("long").as("q_max")),
      Some("""WITH b AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
             |  FROM embeddings),
             |q AS (
             |  SELECT vec_id,
             |    CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale,
             |    list_transform(v, x -> round(x * (CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END))) AS qq
             |  FROM b)
             |SELECT vec_id, scale,
             |  CAST(list_sum(qq) AS BIGINT) AS q_sum,
             |  CAST(list_min(qq) AS BIGINT) AS q_min,
             |  CAST(list_max(qq) AS BIGINT) AS q_max
             |FROM q""".stripMargin),
      "symmetric int8 quantization; integer digests pin every element"
    ),
    // per-label centroid sums over quantized vectors: exact integer
    // per-dimension aggregation (order-free under any shuffle), long
    // format so every value is scalar-comparable
    "emb_group_sum" -> QueryDef(
      (s, d) => {
        val r = graft.ops.Embeddings.groupSumInt8(t(s, d, "embeddings"), "label", "embedding")
        r.select(
          col("label").cast("long").as("label"),
          col("dim").cast("long").as("dim"),
          col("n_vecs"),
          col("q_sum"))
      },
      Some("""WITH b AS (
             |  SELECT label, CAST(embedding AS DOUBLE[]) AS v,
             |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
             |  FROM embeddings),
             |e AS (
             |  SELECT label, g.i - 1 AS dim,
             |    CAST(round(v[g.i] * (CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END)) AS BIGINT) AS qv
             |  FROM b, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
             |)
             |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
             |  COUNT(*) AS n_vecs, CAST(SUM(qv) AS BIGINT) AS q_sum
             |FROM e GROUP BY 1, 2""".stripMargin),
      "order-free per-group embedding centroid sums via int8 quantization"
    ),
    // IVF coarse quantizer: assign every vector to its nearest of K fixed
    // centroids (exact cosine argmax — deterministic, oracle-checked).
    // At scale this is the partitioning step: co-locate each cluster's
    // vectors, then search only the probed clusters.
    "emb_cluster_assign" -> QueryDef(
      (s, d) =>
        Similarity.clusterAssign(t(s, d, "embeddings"), "vec_id", "embedding", k = 8)
          .withColumn("centroid_id", col("centroid_id").cast("long")),
      Some("""SELECT vid AS vec_id, CAST(cid AS BIGINT) AS centroid_id FROM (
             |  SELECT v.vec_id AS vid, c.vec_id AS cid,
             |    row_number() OVER (PARTITION BY v.vec_id
             |      ORDER BY list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
             |               c.vec_id) AS rn
             |  FROM embeddings v, embeddings c WHERE c.vec_id < 8
             |) WHERE rn = 1""".stripMargin)
    ),

    // ---- product quantization: 64 dims → 4 subspaces × 16 dims, each
    //      assigned its most-similar of 8 fixed codes — the compressed
    //      code-word representation for billion-scale ANN ----
    "emb_pq_encode" -> QueryDef(
      (s, d) =>
        Similarity.pqEncode(
          t(s, d, "embeddings"), "vec_id", "embedding",
          subspaces = 4, subDim = 16, nCodes = 8
        ),
      Some("""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |sub AS (
             |  SELECT vec_id, g.s, list_slice(v, g.s * 16 + 1, g.s * 16 + 16) AS sv
             |  FROM base, LATERAL (SELECT unnest(generate_series(0, 3)) AS s) g
             |), cb AS (SELECT vec_id AS code, s, sv AS cv FROM sub WHERE vec_id < 8),
             |j AS (
             |  SELECT a.vec_id, a.s, cb.code,
             |    row_number() OVER (PARTITION BY a.vec_id, a.s
             |      ORDER BY list_cosine_similarity(a.sv, cb.cv) DESC, cb.code) AS rn
             |  FROM sub a JOIN cb ON cb.s = a.s)
             |SELECT vec_id, CAST(s AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code
             |FROM j WHERE rn = 1""".stripMargin),
      "PQ encode: per-subspace nearest-code assignment, oracle-replayed"
    ),

    // ---- SemDeDup: coarse-quantize into cells (nearest of 8 fixed
    //      centroids, same convention as emb_cluster_assign), then drop
    //      any row whose cell holds a lower-id row at cosine ≥ 0.35.
    //      The O(m²) verify never leaves a cell — the linear-ish recipe
    //      for semantic dedup over web-scale embedding corpora ----
    "dedup_semantic" -> QueryDef(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // SemDeDup's pairwise stage is O(n²/k): a FIXED cell count is
        // quadratic at scale (k=8 measured 142.7 s at the 100× fixture —
        // 2.5G in-cell dot products). Size the cell count with the
        // corpus (avg cell ≈ 2000 rows → in-cell pair work grows
        // linearly in n), exactly as the SemDeDup recipe prescribes
        // (cluster count tracks corpus size). The oracle replays the
        // SAME count-derived k, so the result stays hash-exact at every
        // scale; at the sf0.01/sf0.1 gates the formula floors to the
        // historical k=8. The count() is metadata-only on parquet.
        val k = math.max(8L, emb.count() / 2000L).toInt
        Similarity.semanticDedup(
          emb, "vec_id", "embedding",
          k = k, threshold = 0.35
        ).withColumn("centroid_id", col("centroid_id").cast("long"))
      },
      Some("""WITH kk AS (SELECT GREATEST(8, COUNT(*) // 2000) AS k FROM embeddings),
             |cl AS (
             |  SELECT vid AS vec_id, cid AS centroid_id FROM (
             |    SELECT v.vec_id AS vid, c.vec_id AS cid,
             |      row_number() OVER (PARTITION BY v.vec_id
             |        ORDER BY list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
             |                 c.vec_id) AS rn
             |    FROM embeddings v, embeddings c, kk WHERE c.vec_id < kk.k
             |  ) WHERE rn = 1),
             |m AS (SELECT cl.vec_id, cl.centroid_id, CAST(e.embedding AS DOUBLE[]) AS v
             |      FROM cl JOIN embeddings e USING (vec_id)),
             |drp AS (SELECT DISTINCT b.vec_id FROM m a JOIN m b
             |        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
             |        WHERE list_cosine_similarity(a.v, b.v) >= 0.35)
             |SELECT m.vec_id, CAST(m.centroid_id AS BIGINT) AS centroid_id,
             |       m.vec_id NOT IN (SELECT vec_id FROM drp) AS kept
             |FROM m""".stripMargin),
      "SemDeDup: per-cell cosine pruning after coarse quantization"
    ),

    // ---- PQ asymmetric-distance top-k: full-precision queries scored
    //      against PQ-coded corpus via a per-(query, subspace, code)
    //      lookup table; ADC sum is a fixed-order add chain so the FP
    //      math replays exactly. The memory-compressed ANN re-rank ----
    "emb_pq_adc_topk" -> QueryDef(
      (s, d) =>
        Similarity.pqAdcTopK(
          t(s, d, "embeddings"), "vec_id", "embedding",
          k = 5, queryPred = col("cid") < 50,
          subspaces = 16, subDim = 4, nCodes = 64,
          rerankK = Similarity.AdaptiveRerank
        ).withColumn("rank", col("rank").cast("long")),
      Some {
        s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |${pqTopkCtes(subspaces = 16, subDim = 4, nCodes = 64, rerankSql = pqAdaptiveRerankSql, k = 5, queryBound = 50)}
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM pq""".stripMargin
      },
      "PQ ADC shortlist + exact re-rank: LUT-scored compressed-corpus ANN"
    ),

    // ---- hybrid retrieval: reciprocal-rank fusion of the lexical
    //      (df-capped inverted index) and dense (exact cosine) top-20
    //      lists, integer-scaled so the fusion replays exactly. Both
    //      retrievers stay in their own scale shape; fusion only sees
    //      ≤2·poolK bounded rows per query ----
    "q_hybrid_rrf" -> QueryDef(
      (s, d) =>
        graft.ops.Retrieval.hybridRrfTopK(
          t(s, d, "documents"), t(s, d, "embeddings"),
          "doc_id", "text", "vec_id", "embedding",
          k = 5, poolK = 20, rrfK = 60, queryMax = 50L, maxDf = 50
        ),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS t
             |  FROM documents
             |), tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |kept AS (SELECT t FROM tf GROUP BY t HAVING COUNT(*) <= 50),
             |idx AS (SELECT tf.doc_id, tf.t, tf.tf FROM tf JOIN kept USING (t)),
             |sscored AS (
             |  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id, SUM(a.tf * b.tf) AS score
             |  FROM idx a JOIN idx b ON a.t = b.t AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2),
             |srk AS (
             |  SELECT query_id, neighbor_id, rs FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rs
             |    FROM sscored) WHERE rs <= 20),
             |drk AS (
             |  SELECT query_id, neighbor_id, rd FROM (
             |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
             |                 c.vec_id) AS rd
             |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             |    WHERE q.vec_id < 50) WHERE rd <= 20),
             |fused AS (
             |  SELECT COALESCE(s.query_id, d.query_id) AS query_id,
             |         COALESCE(s.neighbor_id, d.neighbor_id) AS neighbor_id,
             |         COALESCE(1000000 // (60 + s.rs), 0) + COALESCE(1000000 // (60 + d.rd), 0) AS rrf_score
             |  FROM (SELECT * FROM srk WHERE query_id < 50) s
             |  FULL OUTER JOIN drk d
             |    ON s.query_id = d.query_id AND s.neighbor_id = d.neighbor_id)
             |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, CAST(rrf_score AS BIGINT) AS rrf_score
             |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id) AS rank
             |      FROM fused)
             |WHERE rank <= 5""".stripMargin),
      "reciprocal-rank fusion of lexical and dense top-k, integer-exact"
    ),

    // ---- mutual-kNN graph: edges where each endpoint ranks the other
    //      in its cosine top-5 — the symmetrized neighbor graph that
    //      graph-based clustering/dedup consumes (mutuality prunes
    //      hub-induced false edges). Subgraph over vec_id < 100; ranks
    //      computed against the FULL corpus ----
    "emb_mutual_knn" -> QueryDef(
      (s, d) => {
        val knn = Similarity.cosineTopK(
          t(s, d, "embeddings"), "vec_id", "embedding",
          k = 5, queryPred = col("cid") < 100
        ).filter(col("neighbor_id") < 100)
        val fwd = knn.select(
          col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
          col("rank").cast("long").as("rank_ab"))
        val rev = knn.select(
          col("neighbor_id").as("id_a"), col("query_id").as("id_b"),
          col("rank").cast("long").as("rank_ba"))
        fwd.join(rev, Seq("id_a", "id_b")).filter(col("id_a") < col("id_b"))
      },
      Some("""WITH r AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS nid,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
             |               c.vec_id) AS rank
             |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             |  WHERE q.vec_id < 100),
             |k AS (SELECT qid, nid, rank FROM r WHERE rank <= 5 AND nid < 100)
             |SELECT a.qid AS id_a, a.nid AS id_b,
             |  CAST(a.rank AS BIGINT) AS rank_ab, CAST(b.rank AS BIGINT) AS rank_ba
             |FROM k a JOIN k b ON b.qid = a.nid AND b.nid = a.qid
             |WHERE a.qid < a.nid""".stripMargin),
      "symmetrized cosine top-5 edges — the mutual-kNN dedup/cluster graph"
    ),

    // ---- composite IVF-PQ (the FAISS IVFADC production shape): ADC
    //      scoring restricted to the IVF-probed cells — the ADC scan
    //      touches Σ probed-cell rows, never corpus × queries, and the
    //      compressed corpus never shuffles (the probe frame broadcasts).
    //      Deterministic end to end, so the oracle replays cell
    //      assignment, probing, LUT scoring, the adaptive shortlist, and
    //      the exact re-rank ----
    "ann_ivfpq_topk" -> QueryDef(
      (s, d) =>
        Similarity.ivfPqTopK(
          t(s, d, "embeddings"), "vec_id", "embedding",
          k = 5, queryPred = col("cid") < 50, nClusters = 8, nProbe = 6,
          subspaces = 16, subDim = 4, nCodes = 64
        ).withColumn("rank", col("rank").cast("long")),
      Some {
        s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |${ivfPqTopkCtes(
              nClusters = 8, nProbe = 6, subspaces = 16, subDim = 4, nCodes = 64,
              rerankSql = pqAdaptiveRerankSql, k = 5, queryBound = 50)}
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM pq""".stripMargin
      },
      "composite IVF-PQ ANN: cell-restricted ADC scan + corpus-adaptive exact re-rank; " +
        "promises recall@5 ≥ 0.8 against ann_cosine_topk at sf0.1 (measured 0.908), pinned " +
        "by AnnRecallSpec"
    ),

    // ---- persisted-index ANN (the production retrieval shape — VERDICT
    //      r18 gap #3): build the IVF-PQ index ONCE (centroids + the
    //      corpus-sized compressed codes, written distributed to
    //      parquet), reload the artifact, and run probe/LUT/ADC/re-rank
    //      against the RELOADED index — cell assignment and PQ encoding
    //      never recompute at query time. The build is deterministic, so
    //      the oracle replays the whole pipeline; k=3 ≠ ann_ivfpq_topk's
    //      k=5 keeps the two gates' result sets independent ----
    "ann_ivfpq_persisted" -> QueryDef(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Scratch.withDir(s, "annindex") { dir =>
          Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
            nClusters = 8, subspaces = 16, subDim = 4, nCodes = 64, dir)
          // result materializes (eager checkpoint) inside
          // ivfPqTopKWithIndex, so the scratch delete never races a
          // lazy consumer of the artifact files
          Similarity.ivfPqTopKWithIndex(emb, "vec_id", "embedding", dir,
            k = 3, queryPred = col("cid") < 50, nProbe = 6,
            subspaces = 16, subDim = 4, nCodes = 64)
            .withColumn("rank", col("rank").cast("long"))
        }
      },
      Some {
        s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |${ivfPqTopkCtes(
              nClusters = 8, nProbe = 6, subspaces = 16, subDim = 4, nCodes = 64,
              rerankSql = pqAdaptiveRerankSql, k = 3, queryBound = 50)}
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM pq""".stripMargin
      },
      "IVF-PQ top-k against a persisted index artifact: build once, reload, query many (k=3)"
    ),

    // ---- ANN index APPEND: new vectors' codes absorbed into the
    //      persisted IVF-PQ artifact under the FROZEN codebooks (coarse
    //      centroids + pqbook both ride the artifact). The build slice
    //      keeps the codebook prefix (vec_id < 64), so the frozen books
    //      equal a full-corpus rebuild's and every code row — a pure
    //      function of (vector, book) — lands identically: the oracle is
    //      the plain full-corpus IVF-PQ pipeline, and a green row proves
    //      query-over-appended-index ≡ query-over-rebuilt-index exactly
    //      (same rows ⇒ equal recall). Append cost is O(delta) encode +
    //      one parquet append; nothing indexed is recomputed ----
    "ann_ivfpq_append" -> QueryDef(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val isDelta =
          col("vec_id") >= 64 && Sampling.hashBucket(col("vec_id"), "annapp", 100) >= 80
        Scratch.withDir(s, "annappend") { dir =>
          Similarity.buildIvfPqIndex(emb.filter(!isDelta), "vec_id", "embedding",
            nClusters = 8, subspaces = 16, subDim = 4, nCodes = 64, dir)
          Similarity.appendToIvfPqIndex(emb.filter(isDelta), "vec_id", "embedding", dir)
          // result materializes (eager checkpoint) inside
          // ivfPqTopKWithIndex — the scratch delete never races it
          Similarity.ivfPqTopKWithIndex(emb, "vec_id", "embedding", dir,
            k = 4, queryPred = col("cid") < 50, nProbe = 6,
            subspaces = 16, subDim = 4, nCodes = 64)
            .withColumn("rank", col("rank").cast("long"))
        }
      },
      Some {
        s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |${ivfPqTopkCtes(
            nClusters = 8, nProbe = 6, subspaces = 16, subDim = 4, nCodes = 64,
            rerankSql = pqAdaptiveRerankSql, k = 4, queryBound = 50)}
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM pq""".stripMargin
      },
      "IVF-PQ index delta-append under frozen codebooks: query over the appended artifact ≡ full-corpus rebuild (k=4)"
    )
  )

  /** CTE chain replaying [[graft.ops.Similarity.ivfPqTopK]] — the
    * [[pqTopkCtes]] pipeline with its ADC candidate set
    * restricted to (query, corpus-vector) pairs whose vector sits in one
    * of the query's probed IVF cells. Same GROUP-BY ADC pivot (DuckDB
    * join-order safety, see the pqTopkCtes commentary), same fixed
    * p0+…+p{m−1} summation order. Emits `pq(query_id, neighbor_id, rank)`
    * with rank ≤ k; assumes a prior `base(vec_id, v)` CTE.
    */
  private def ivfPqTopkCtes(
      nClusters: Int,
      nProbe: Int,
      subspaces: Int,
      subDim: Int,
      nCodes: Int,
      rerankSql: String,
      k: Int,
      queryBound: Int
  ): String = {
    val pivotCols = (0 until subspaces)
      .map(s => s"        MAX(CASE WHEN s = $s THEN p END) AS p$s")
      .mkString(",\n")
    val adcSum = (0 until subspaces).map(s => s"p$s").mkString(" + ")
    s"""icent AS (SELECT vec_id AS ccid, v AS cv FROM base WHERE vec_id < $nClusters),
       |iassign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT b.vec_id, c.ccid AS cell,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.ccid) AS rn
       |    FROM base b CROSS JOIN icent c) WHERE rn = 1),
       |iprobes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.ccid AS cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.ccid) AS rn
       |    FROM base q CROSS JOIN icent c WHERE q.vec_id < $queryBound) WHERE rn <= $nProbe),
       |psub AS (
       |  SELECT vec_id, g.s, list_slice(v, g.s * $subDim + 1, g.s * $subDim + $subDim) AS sv
       |  FROM base, LATERAL (SELECT unnest(generate_series(0, ${subspaces - 1})) AS s) g),
       |pcb AS (SELECT vec_id AS code, s, sv AS cv FROM psub WHERE vec_id < $nCodes),
       |passign AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT a.vec_id, a.s, pcb.code,
       |      row_number() OVER (PARTITION BY a.vec_id, a.s
       |        ORDER BY list_cosine_similarity(a.sv, pcb.cv) DESC, pcb.code) AS rn
       |    FROM psub a JOIN pcb ON pcb.s = a.s) WHERE rn = 1),
       |pqq AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < $queryBound),
       |plut AS (
       |  SELECT pqq.query_id, pcb.s, pcb.code,
       |    list_inner_product(list_slice(pqq.qv, pcb.s * $subDim + 1, pcb.s * $subDim + $subDim), pcb.cv) AS p
       |  FROM pqq, pcb),
       |psc AS (
       |  SELECT l.query_id, a.vec_id AS neighbor_id, a.s, l.p
       |  FROM passign a
       |  JOIN iassign ia ON ia.vec_id = a.vec_id
       |  JOIN iprobes ip ON ip.cell = ia.cell
       |  JOIN plut l ON l.s = a.s AND l.code = a.code AND l.query_id = ip.query_id
       |  WHERE a.vec_id <> ip.query_id),
       |ppool AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY $adcSum DESC, neighbor_id) AS rank
       |    FROM (
       |      SELECT query_id, neighbor_id,
       |$pivotCols
       |      FROM psc GROUP BY 1, 2)
       |  ) WHERE rank <= $rerankSql),
       |pq AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT ppool.query_id, ppool.neighbor_id,
       |      row_number() OVER (PARTITION BY ppool.query_id
       |        ORDER BY list_cosine_similarity(qb.v, nb.v) DESC, ppool.neighbor_id) AS rank
       |    FROM ppool JOIN base qb ON qb.vec_id = ppool.query_id
       |               JOIN base nb ON nb.vec_id = ppool.neighbor_id
       |  ) WHERE rank <= $k)""".stripMargin
  }
}
