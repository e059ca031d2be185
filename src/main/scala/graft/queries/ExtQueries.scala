package graft.queries

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** North-star extension operators (SURVEY.md §2.11): the LLM-training-data
  * pipeline surface over the `documents` / `embeddings` fixtures.
  */
object ExtQueries {
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
  private[queries] def lshTopkCtes(
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
    * as a scalar subquery over the `base` CTE — the [[Ext4Queries]]
    * `dedup_semantic` count-derived-constant oracle pattern.
    */
  private[queries] val pqAdaptiveRerankSql: String =
    "(SELECT GREATEST(200, (COUNT(*) + 249) // 250) FROM base)"

  /** CTE chain `psub … pq` replaying [[Similarity.pqAdcTopK]] with an
    * exact-cosine re-rank: per-subspace codebook assignment → wide code
    * word → per-query LUT → fixed-order ADC sum shortlist of `rerankSql`
    * (a SQL expression — a literal, or [[pqAdaptiveRerankSql]] for the
    * corpus-adaptive bound) → exact re-rank to k. `pq` has columns
    * (query_id, neighbor_id, rank), rank ≤ k. Assumes a prior
    * `base(vec_id, v)` CTE.
    */
  private[queries] def pqTopkCtes(
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

  /** Shared DuckDB CTE prefix replaying the MinHash chain lane-exactly:
    * 3-gram shingles → 60-bit md5 chunk → per-lane `(a_j·h + b_j) mod
    * (2^61−1)` mins (the per-lane constants are embedded verbatim from
    * [[graft.ops.Dedup.laneCoeffs]] as a VALUES table — same literal-
    * embedding precedent as [[srpSignArray]]) → md5 band keys.
    */
  private[queries] def minhashCtes(numHashes: Int, bands: Int): String = {
    val r = numHashes / bands
    val values = graft.ops.Dedup
      .laneCoeffs(numHashes)
      .zipWithIndex
      .map { case ((a, b), j) => s"($j,$a,$b)" }
      .mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g
       |), h AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
       |  FROM sh
       |), coeffs(j, a, b) AS (VALUES $values),
       |lanes AS (
       |  SELECT doc_id, c.j,
       |    MIN(CAST((c.a * CAST(h.h AS HUGEINT) + c.b) % 2305843009213693951 AS BIGINT)) AS mv
       |  FROM h, coeffs c
       |  GROUP BY 1, 2
       |), bnd AS (
       |  SELECT doc_id, j // $r AS band,
       |    CAST(('0x' || substr(md5(string_agg(CAST(mv AS VARCHAR), ',' ORDER BY j)), 1, 15)) AS BIGINT) AS bh
       |  FROM lanes GROUP BY doc_id, j // $r
       |)""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    // ---- exact dedup: hash-groupBy, one shuffle on the content hash ----
    "dedup_exact" -> QueryDef(
      (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY 1""".stripMargin)
    ),

    // ---- n-gram Jaccard near-dup: inverted-index join, integer-exact ----
    "dedup_ngram_jaccard" -> QueryDef(
      // maxShingleFreq bounds the inverted index: heavy (stopword)
      // shingles can't discriminate near-dups. r14: prefix-filtered
      // candidate generation (AllPairs/PPJoin) — identical output to the
      // dense inverted-index join, pinned by DedupSpec — joins each
      // doc's rarest (1−t)|d|+1 shingles instead of all of them.
      (s, d) =>
        Dedup.prefixJaccardPairsFromShingles(
          SharedIntermediates.shingles(s, d),
          thresholdNum = 4, thresholdDen = 5, maxShingleFreq = Some(50)
        ),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), sh0 AS (
             |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g
             |), keep AS (SELECT s FROM (SELECT s, COUNT(*) AS c FROM sh0 GROUP BY 1) WHERE c <= 50),
             |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
             |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
             |pr AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |)
             |SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b
             |FROM pr JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 4""".stripMargin),
      "word-3gram Jaccard >= 0.8 via shared-shingle blocking, df-capped index"
    ),

    // ---- MinHash + LSH banding: the 100 TB candidate-generation path.
    //      The whole chain is md5 + modular integer arithmetic (no RNG,
    //      no engine-private hash), so the oracle replays it EXACTLY:
    //      shingles → 60-bit md5 chunk → 64 lanes of (a_j·h + b_j) mod
    //      (2^61−1) via HUGEINT → per-lane mins → md5 band keys →
    //      same-bucket pairs (CTEs shared with dedup_minhash_est). ----
    "dedup_minhash_lsh" -> QueryDef(
      (s, d) =>
        Dedup.lshCandidatePairsFromShingles(
          SharedIntermediates.shingles(s, d), numHashes = 64, bands = 16
        ),
      Some(s"""WITH ${minhashCtes(64, 16)}
              |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin),
      "LSH candidate banding, replayed lane-exact by the oracle; recall also pinned in DedupSpec"
    ),

    // ---- SimHash near-dup (banded Hamming-radius lookup). Signature =
    //      two 32-bit halves from per-token md5 chunks + ±1 bit votes —
    //      all md5/bit/integer arithmetic, replayed exactly by the
    //      oracle (token multiset, 64 vote lanes, banding, Hamming). ----
    "dedup_simhash" -> QueryDef(
      // maxHamming must stay < bands for pigeonhole completeness (8 bands
      // of 8 bits find every pair within hamming 7)
      (s, d) =>
        Dedup.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 6, bands = 8)
          .withColumn("hamming", col("hamming").cast("long")),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(
             |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS tk
             |  FROM documents
             |), h AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) AS hi,
             |    CAST(('0x' || substr(md5(tk), 9, 8)) AS BIGINT) AS lo
             |  FROM toks
             |), votes AS (
             |  SELECT doc_id, g.b,
             |    SUM(CASE WHEN ((lo >> g.b) & 1) = 1 THEN 1 ELSE -1 END) AS vlo,
             |    SUM(CASE WHEN ((hi >> g.b) & 1) = 1 THEN 1 ELSE -1 END) AS vhi
             |  FROM h, LATERAL (SELECT unnest(generate_series(0, 31)) AS b) g
             |  GROUP BY 1, 2
             |), sig AS (
             |  SELECT doc_id,
             |    CAST(SUM(CASE WHEN vlo > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig_lo,
             |    CAST(SUM(CASE WHEN vhi > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig_hi
             |  FROM votes GROUP BY 1
             |), bnd AS (
             |  SELECT doc_id, sig_hi, sig_lo, g.i AS band,
             |    CASE WHEN g.i < 4 THEN (sig_lo >> (g.i * 8)) & 255
             |         ELSE (sig_hi >> (g.i * 8 - 32)) & 255 END AS bh
             |  FROM sig, LATERAL (SELECT unnest(generate_series(0, 7)) AS i) g
             |)
             |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.sig_hi, b.sig_hi)) + bit_count(xor(a.sig_lo, b.sig_lo)) AS BIGINT) AS hamming
             |FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sig_hi, b.sig_hi)) + bit_count(xor(a.sig_lo, b.sig_lo)) <= 6""".stripMargin),
      "64-bit SimHash, banded Hamming-radius lookup, oracle-replayed bit-exact"
    ),

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
      "SRP-bucketed candidate join + exact cosine verification"
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
      "high-threshold SRP blocking: real candidate pruning + exact recall on planted near-dups"
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
      "IVF probe search: shuffle-free assignment, cluster-id hash join"
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
      "bucketed ANN: multi-table SRP candidate union + exact rank, both oracle-replayed"
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
      "recall@k of LSH/IVF/PQ against exact brute-force top-k, integer-exact"
    ),

    // ---- deterministic sampling / splitting (training-data pipeline):
    //      pure md5 math, stable across runs and engines, scan-speed ----
    "q_hash_split" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling.hashSplit(t(s, d, "documents"), col("doc_id"), "graft", 80, 10)
          .groupBy("split")
          .agg(count(lit(1)).as("n")),
      Some("""WITH b AS (
             |  SELECT CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS pb
             |  FROM documents)
             |SELECT CASE WHEN pb < 80 THEN 'train' WHEN pb < 90 THEN 'valid' ELSE 'test' END AS split,
             |       COUNT(*) AS n
             |FROM b GROUP BY 1""".stripMargin),
      "stable md5 train/valid/test split (leak-free held-out sets)"
    ),
    "q_sample_bernoulli" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling.bernoulliKeep(t(s, d, "documents"), col("doc_id"), "graft", 10)
          .select("doc_id", "lang"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10""".stripMargin),
      "deterministic ~10% Bernoulli sample by hash bucket"
    ),
    "q_group_cap" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling.groupCap(t(s, d, "documents"), "source", "doc_id", 20, "cap")
          .select("doc_id", "source"),
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents) WHERE rn <= 20""".stripMargin),
      "per-source quota: stable pseudo-random k docs per group"
    ),
    // per-stratum keep rates over the same md5 bucket as the Bernoulli
    // sample: downsample dominant event classes, keep rare ones whole —
    // zero shuffle (the rate lookup folds into the scan filter)
    "q_stratified_sample" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling.stratifiedKeep(
          t(s, d, "events"),
          col("event_type"), col("event_id"), "strat",
          Map("click" -> 5, "view" -> 5, "error" -> 20, "purchase" -> 50),
          defaultPct = 100)
          .select("event_id", "event_type"),
      Some("""SELECT event_id, event_type FROM events
             |WHERE CAST(('0x' || substr(md5('strat:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 <
             |  CASE event_type WHEN 'click' THEN 5 WHEN 'view' THEN 5
             |                  WHEN 'error' THEN 20 WHEN 'purchase' THEN 50 ELSE 100 END""".stripMargin),
      "stratified deterministic sample: per-class keep rates, stable across runs"
    ),

    // ---- text analysis ----
    "text_token_stats" -> QueryDef(
      (s, d) => {
        val r = TextOps.tokenStats(t(s, d, "documents"), "doc_id", "text")
        r.select(
          col("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_uniq_tokens").cast("long").as("n_uniq_tokens"),
          col("max_token_len").cast("long").as("max_token_len")
        )
      },
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             |CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |CAST(len(list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))) AS BIGINT) AS n_uniq_tokens,
             |CAST(list_max(list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''), x -> length(x))) AS BIGINT) AS max_token_len
             |FROM documents""".stripMargin)
    ),
    "text_quality" -> QueryDef(
      (s, d) => {
        val r = TextOps.qualityCounts(t(s, d, "documents"), "doc_id", "text")
        r.select(
          col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_stop").cast("long").as("n_stop"),
          col("n_digit_tokens").cast("long").as("n_digit_tokens"),
          col("n_short_tokens").cast("long").as("n_short_tokens"),
          col("n_chars").cast("long").as("n_chars")
        )
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, length(text) AS n_chars,
             |         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents)
             |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             |CAST(len(list_filter(ts, x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x))) AS BIGINT) AS n_stop,
             |CAST(len(list_filter(ts, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS n_digit_tokens,
             |CAST(len(list_filter(ts, x -> length(x) <= 2)) AS BIGINT) AS n_short_tokens,
             |CAST(n_chars AS BIGINT) AS n_chars
             |FROM toks""".stripMargin)
    ),
    // unigram-LM quality proxy (perplexity-style filtering without log():
    // exact integer doc-frequency sums + one final division, so the score
    // is bitwise-portable — see TextOps.lmQuality)
    "text_lm_quality" -> QueryDef(
      (s, d) => {
        val r = TextOps.lmQuality(t(s, d, "documents"), "doc_id", "text", rareDfMax = 1)
        r.select(
          col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("sum_df").cast("long").as("sum_df"),
          col("n_rare").cast("long").as("n_rare"),
          col("avg_df")
        )
      },
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS t
             |  FROM documents
             |), dfq AS (
             |  SELECT t, COUNT(DISTINCT doc_id) AS df_docs FROM tok GROUP BY 1
             |)
             |SELECT doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  CAST(SUM(df_docs) AS BIGINT) AS sum_df,
             |  CAST(SUM(CASE WHEN df_docs <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
             |  CAST(SUM(df_docs) AS DOUBLE) / COUNT(*) AS avg_df
             |FROM tok JOIN dfq USING (t) GROUP BY doc_id""".stripMargin),
      "unigram-LM quality scoring via integer doc-frequency ratios"
    ),
    // sparse lexical retrieval: per-doc top-k neighbors by integer tf dot
    // product over a df-capped inverted index (exact-arithmetic TF-IDF
    // core — BIGINT scores make the ranking engine-portable)
    "text_sparse_retrieval" -> QueryDef(
      (s, d) => TextOps.sparseTopK(t(s, d, "documents"), "doc_id", "text", k = 5, maxDf = 50),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS t
             |  FROM documents
             |), tf AS (
             |  SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2
             |), kept AS (
             |  SELECT t FROM tf GROUP BY t HAVING COUNT(*) <= 50
             |), idx AS (
             |  SELECT tf.doc_id, tf.t, tf.tf FROM tf JOIN kept USING (t)
             |), scored AS (
             |  SELECT a.doc_id AS doc_id, b.doc_id AS neighbor_id, SUM(a.tf * b.tf) AS score
             |  FROM idx a JOIN idx b ON a.t = b.t AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2
             |)
             |SELECT doc_id, neighbor_id, CAST(score AS BIGINT) AS score, CAST(rank AS BIGINT) AS rank
             |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, neighbor_id) AS rank
             |      FROM scored)
             |WHERE rank <= 5""".stripMargin),
      "per-doc top-k lexical neighbors via df-capped inverted-index dot product"
    ),
    // PII redaction at scan speed: typed placeholders for emails, long
    // digit runs, and phone-shaped sequences. The fixture has no real PII,
    // so deterministic PII is planted per row (derived from doc_id) and
    // the oracle replays both the planting and the scrub byte-identically.
    "text_pii_scrub" -> QueryDef(
      (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          TextOps.scrubPii(concat(
            col("text"),
            lit(" reach me at user"), col("doc_id"), lit("@mail.example.com or +1 555 01"),
            lpad(col("doc_id") % 100, 2, "0"), lit(" card 4111222233334444")
          )).as("scrubbed")),
      Some("""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
             |  text || ' reach me at user' || doc_id || '@mail.example.com or +1 555 01' ||
             |    lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' card 4111222233334444',
             |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |  '[0-9]{12,19}', '<NUM>', 'g'),
             |  '\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}', '<PHONE>', 'g') AS scrubbed
             |FROM documents""".stripMargin),
      "PII redaction: email/number/phone placeholders via portable regex chain"
    ),
    // Gopher-style repeated-n-gram quality signal: exact integer counts +
    // one final IEEE division (engine-portable)
    "text_repetition" -> QueryDef(
      (s, d) => TextOps.repetitionStats(t(s, d, "documents"), "doc_id", "text", n = 3),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), sh AS (
             |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g
             |), f AS (
             |  SELECT doc_id, s, COUNT(*) AS f FROM sh GROUP BY 1, 2
             |)
             |SELECT doc_id, CAST(SUM(f) AS BIGINT) AS n_shingles,
             |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |  CAST(MAX(f) AS BIGINT) AS max_freq,
             |  1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(f) AS rep_ratio
             |FROM f GROUP BY doc_id""".stripMargin),
      "repeated-n-gram repetition ratio (boilerplate/loop detector)"
    ),
    // train/heldout decontamination: near-dup pairs (LSH-verified = exact
    // pair set) that straddle the deterministic hash split — the overlap
    // a leak-free eval needs removed. Exact-fp contamination is a
    // degenerate case of the same join (the fixture has no exact dups).
    "q_split_contamination" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = SharedIntermediates.verifiedPairs(s, d)
        val sp = graft.ops.Sampling
          .hashSplit(docs.select("doc_id"), col("doc_id"), "graft", 80, 10)
        val sa = sp.select(col("doc_id").as("id_a"), col("split").as("split_a"))
        val sb = sp.select(col("doc_id").as("id_b"), col("split").as("split_b"))
        pairs.select("id_a", "id_b")
          .join(sa, "id_a").join(sb, "id_b")
          .filter((col("split_a") === "train") =!= (col("split_b") === "train"))
          .select(
            when(col("split_a") === "train", col("id_a")).otherwise(col("id_b")).as("train_id"),
            when(col("split_a") === "train", col("id_b")).otherwise(col("id_a")).as("heldout_id"),
            when(col("split_a") === "train", col("split_b")).otherwise(col("split_a")).as("heldout_split"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), sh AS (
             |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g
             |),
             |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
             |pr AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |), pairs AS (
             |  SELECT id_a, id_b FROM pr
             |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |  WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 4
             |), sp AS (
             |  SELECT doc_id, CASE WHEN pb < 80 THEN 'train' WHEN pb < 90 THEN 'valid' ELSE 'test' END AS split
             |  FROM (SELECT doc_id, CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS pb
             |        FROM documents)
             |)
             |SELECT CASE WHEN sa.split = 'train' THEN p.id_a ELSE p.id_b END AS train_id,
             |       CASE WHEN sa.split = 'train' THEN p.id_b ELSE p.id_a END AS heldout_id,
             |       CASE WHEN sa.split = 'train' THEN sb.split ELSE sa.split END AS heldout_split
             |FROM pairs p
             |JOIN sp sa ON sa.doc_id = p.id_a
             |JOIN sp sb ON sb.doc_id = p.id_b
             |WHERE (sa.split = 'train') <> (sb.split = 'train')""".stripMargin),
      "near-dup decontamination: cross-split leak pairs over the verified pair set"
    ),
    // context-window chunking: 64-token chunks, 16-token overlap (stride
    // 48) — integer index math, one sequence+explode per document
    "text_chunk" -> QueryDef(
      (s, d) => {
        val r = TextOps.chunkTokens(t(s, d, "documents"), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
        r.select(
          col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
          col("chunk_text"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), nz AS (
             |  SELECT doc_id, ts, len(ts) AS n FROM toks WHERE len(ts) > 0
             |), ch AS (
             |  SELECT doc_id, g.i AS chunk_idx, ts[g.i*48+1 : g.i*48+64] AS chunk
             |  FROM nz, LATERAL (SELECT unnest(generate_series(0, greatest(1, (n - 16 + 47) // 48) - 1)) AS i) g
             |)
             |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
             |  array_to_string(chunk, ' ') AS chunk_text
             |FROM ch""".stripMargin),
      "context-window chunking: overlapping fixed-size token chunks per document"
    ),
    // training-shard assignment by cumulative token budget — distributed
    // prefix sum (per-bucket windows + broadcast offsets), NOT the
    // single-partition global window Spark would use for ORDER BY alone
    "q_shard_pack" -> QueryDef(
      (s, d) => {
        val weighted = t(s, d, "documents").select(
          col("doc_id"),
          size(TextOps.normTokens(col("text"))).cast("long").as("n_tokens"))
        graft.ops.Packing.packShards(weighted, "doc_id", "n_tokens", budget = 1000L, buckets = 32)
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
             |  FROM documents
             |), c AS (
             |  SELECT doc_id, n_tokens,
             |    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
             |  FROM w
             |)
             |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
             |  CAST((cum_tokens - n_tokens) // 1000 AS BIGINT) AS shard_id
             |FROM c""".stripMargin),
      "token-budget shard packing via distributed prefix sum (no 1-task global window)"
    ),

    "text_fingerprint" -> QueryDef(
      (s, d) => TextOps.fingerprints(t(s, d, "documents"), "doc_id", "text", shingleN = 5),
      Some("""WITH norm AS (
             |  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt FROM documents
             |), toks AS (
             |  SELECT doc_id, nt, list_filter(regexp_split_to_array(trim(nt), '\s+'), x -> x <> '') AS ts FROM norm
             |), sh AS (
             |  SELECT doc_id, nt,
             |    CASE WHEN len(ts) >= 5 THEN
             |      list_distinct(list_transform(generate_series(1, len(ts) - 4),
             |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]))
             |    ELSE [] END AS shs
             |  FROM toks)
             |SELECT doc_id, substr(md5(nt), 1, 16) AS fp,
             |       list_min(list_transform(shs, x -> md5(x))) AS fp_min_shingle
             |FROM sh""".stripMargin)
    ),
    "text_langid" -> QueryDef(
      (s, d) =>
        TextOps.langId(t(s, d, "documents"), "doc_id", "text")
          .withColumn("lang_score", col("lang_score").cast("long")),
      // argmax over marker-token hit counts, ties → lexicographically first
      // language — the CASE chain encodes exactly that tie rule
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), sc AS (
             |  SELECT doc_id,
             |    len(list_filter(ts, x -> list_contains(['der','die','und','das','nicht','ist','ein','zu'], x))) AS s_de,
             |    len(list_filter(ts, x -> list_contains(['the','and','of','to','is','in','that','for'], x))) AS s_en,
             |    len(list_filter(ts, x -> list_contains(['el','la','de','que','y','en','los','por'], x))) AS s_es,
             |    len(list_filter(ts, x -> list_contains(['le','la','et','les','des','est','un','que'], x))) AS s_fr
             |  FROM toks)
             |SELECT doc_id,
             |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang,
             |  CAST(greatest(s_de, s_en, s_es, s_fr) AS BIGINT) AS lang_score
             |FROM sc""".stripMargin),
      "marker-token language-ID heuristic"
    ),

    // winnowing (rolling-hash) fingerprints; array cells aren't
    // driver-comparable, so the query emits integer digests that pin the
    // selected-hash set exactly
    "text_winnow_fingerprint" -> QueryDef(
      (s, d) =>
        TextOps.winnowFingerprints(t(s, d, "documents"), "doc_id", "text", k = 8, w = 4)
          .select(
            col("doc_id"),
            size(col("fps")).cast("long").as("n_fp"),
            coalesce(aggregate(col("fps"), lit(0L), (a, x) => a + x), lit(0L)).as("fp_sum"),
            array_min(col("fps")).as("fp_min"),
            array_max(col("fps")).as("fp_max")),
      Some("""WITH norm AS (
             |  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt FROM documents
             |), h AS (
             |  SELECT doc_id,
             |    CASE WHEN length(nt) >= 8 THEN
             |      list_transform(generate_series(1, length(nt)-7),
             |        i -> CAST(('0x' || substr(md5(substr(nt, i, 8)), 1, 8)) AS BIGINT))
             |    ELSE [] END AS hs
             |  FROM norm
             |), wv AS (
             |  SELECT doc_id,
             |    CASE WHEN len(hs) >= 4 THEN
             |      list_distinct(list_transform(generate_series(1, len(hs)-3), j -> list_min(hs[j:j+3])))
             |    ELSE [] END AS fps
             |  FROM h)
             |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
             |  CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_sum,
             |  CAST(list_min(fps) AS BIGINT) AS fp_min,
             |  CAST(list_max(fps) AS BIGINT) AS fp_max
             |FROM wv""".stripMargin),
      "winnowing min-hash-per-window signature (rolling hash)"
    ),

    // BPE-ish subword counting next to whitespace counting (the brief's
    // "token counting: whitespace + a BPE-ish regex")
    "text_token_bpe" -> QueryDef(
      (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tokens"),
          size(TextOps.bpeishTokens(col("text"))).cast("long").as("n_subword_tokens")),
      Some("""SELECT doc_id,
             |CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
             |CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS BIGINT) AS n_subword_tokens
             |FROM documents""".stripMargin),
      "whitespace vs BPE-ish regex token counts"
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

    // ---- multimodal plumbing (decode stubbed deterministically) ----
    "mm_binary_meta" -> QueryDef(
      (s, d) => {
        val withBin = Multimodal.withBinary(t(s, d, "documents"), "text")
        Multimodal.metaColumns(withBin, "doc_id", "media")
          .select(
            col("doc_id"),
            col("n_bytes").cast("long").as("n_bytes"),
            col("head_code").cast("long").as("head_code")
          )
      },
      // head_code is the first UTF-8 BYTE (not the first code point —
      // ascii() would disagree on non-ASCII); extracted via hex-string math
      // since DuckDB has no blob subscript
      Some("""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS h FROM documents)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
             |CAST(CASE WHEN n > 0 THEN (instr('0123456789ABCDEF', substr(h,1,1))-1)*16 + instr('0123456789ABCDEF', substr(h,2,1))-1 ELSE -1 END AS BIGINT) AS head_code
             |FROM b""".stripMargin)
    ),
    "mm_frame_sample" -> QueryDef(
      (s, d) => {
        val withBin = Multimodal.withBinary(t(s, d, "documents"), "text")
        Multimodal.sampleFrames(withBin, "doc_id", "media", stride = 64)
      },
      Some("""SELECT doc_id, CAST(g.i AS INT) AS frame_idx, CAST(g.i * 64 AS INT) AS frame_offset
             |FROM documents, LATERAL (SELECT unnest(generate_series(0,
             |  CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) - 1)) AS i) g
             |WHERE octet_length(encode(text)) > 0""".stripMargin)
    ),

    // ---- the REAL decoder path inside the oracle gate: per doc, a true
    //      PNG (w×h from doc-id arithmetic, ImageIO-encoded) and a true
    //      WAV (frames×channels, javax.sound-encoded) are synthesized on
    //      the executors and decoded back through ImageIoDecode /
    //      AudioDecode header reads. The decoders' outputs are the known
    //      synthesis parameters, so DuckDB predicts them with pure
    //      arithmetic — no stub anywhere in this path.
    //
    //      Like mm_video_real, the gate decodes a 10% doc_id SHARD — the
    //      production shape (decode-validate a shard, not the corpus):
    //      at sf10 full per-row ImageIO decode was the single most
    //      expensive sweep entry (231 s, 60×) for a validation query ----
    "mm_decode_real" -> QueryDef(
      (s, d) => {
        import s.implicits._
        // Explicit repartition to the core count: the scan projects a
        // single long column, so file-size-based splitting yields a
        // handful of partitions — fine for I/O, badly underparallelized
        // for the CPU-bound ImageIO encode/decode that follows. The
        // shuffled payload is 8 bytes/row; the decode work is ms/row.
        val ids = t(s, d, "documents").select(col("doc_id").cast("long"))
          .filter(col("doc_id") % 10 === 0)
          .as[Long]
          .repartition(s.sparkContext.defaultParallelism)
        ids.mapPartitions { it =>
          it.flatMap { id =>
            val png = Multimodal.ImageIoDecode.decode(
              Multimodal.synthPng((id % 16 + 1).toInt, (id % 13 + 1).toInt))
            val wav = Multimodal.AudioDecode.decode(
              Multimodal.synthWav((id % 50 + 1).toInt, (id % 2 + 1).toInt))
            Seq(
              (id, "png", png._1.toLong, png._2.toLong, png._3),
              (id, "wav", wav._1.toLong, wav._2.toLong, wav._3))
          }
        }.toDF("doc_id", "kind", "dim_a", "dim_b", "format_tag")
      },
      Some("""SELECT doc_id, 'png' AS kind,
             |  CAST(doc_id % 16 + 1 AS BIGINT) AS dim_a,
             |  CAST(doc_id % 13 + 1 AS BIGINT) AS dim_b,
             |  'png' AS format_tag
             |FROM documents WHERE doc_id % 10 = 0
             |UNION ALL
             |SELECT doc_id, 'wav',
             |  CAST(doc_id % 50 + 1 AS BIGINT),
             |  CAST(doc_id % 2 + 1 AS BIGINT),
             |  'wave'
             |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
      "real JDK PNG/WAV header decode round-trip on a 10% shard, oracle-predicted dims"
    ),

    // ---- REAL video decode inside the oracle gate: a true MJPEG AVI
    //      (RIFF container + ImageIO-encoded JPEG frames, dims/frame
    //      count from doc-id arithmetic) is synthesized per sampled doc
    //      and decoded back through VideoDecode's container-header parse
    //      plus a real per-frame JPEG header read on every 2nd frame.
    //      DuckDB predicts all of it with arithmetic. The 10% doc_id
    //      sample is the production shape (decode-validate a shard, not
    //      the corpus) and bounds the per-row ImageIO cost at sf10+ ----
    "mm_video_real" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "documents")
          .select(col("doc_id").cast("long"))
          .filter(col("doc_id") % 10 === 0)
          .as[Long]
          .repartition(s.sparkContext.defaultParallelism) // CPU-bound below
        ids.mapPartitions { it =>
          it.flatMap { id =>
            val w = (id % 16 + 1).toInt
            val h = (id % 13 + 1).toInt
            val n = (id % 4 + 1).toInt
            val avi = Multimodal.synthAvi(w, h, n)
            val (cw, ch, tag) = Multimodal.VideoDecode.decode(avi)
            val totalFrames =
              Multimodal.VideoDecode.aviMeta(avi).map(_._3.toLong)
            val container =
              (id, "avi", -1L, cw.toLong, ch.toLong, totalFrames, tag)
            val frames = Multimodal.videoFrames(avi).zipWithIndex.collect {
              case (fb, i) if i % 2 == 0 =>
                val (fw, fh, ftag) = Multimodal.ImageIoDecode.decode(fb)
                (id, "frame", i.toLong, fw.toLong, fh.toLong,
                  Option.empty[Long], ftag)
            }
            container +: frames
          }
        }.toDF("doc_id", "kind", "frame_idx", "dim_a", "dim_b", "n_frames", "format_tag")
      },
      Some("""SELECT doc_id, 'avi' AS kind, CAST(-1 AS BIGINT) AS frame_idx,
             |  CAST(doc_id % 16 + 1 AS BIGINT) AS dim_a,
             |  CAST(doc_id % 13 + 1 AS BIGINT) AS dim_b,
             |  CAST(doc_id % 4 + 1 AS BIGINT) AS n_frames,
             |  'avi-mjpg' AS format_tag
             |FROM documents WHERE doc_id % 10 = 0
             |UNION ALL
             |SELECT doc_id, 'frame', CAST(g.i AS BIGINT),
             |  CAST(doc_id % 16 + 1 AS BIGINT),
             |  CAST(doc_id % 13 + 1 AS BIGINT),
             |  CAST(NULL AS BIGINT),
             |  'jpeg'
             |FROM documents, LATERAL (SELECT unnest(generate_series(0, CAST(doc_id % 4 AS BIGINT), 2)) AS i) g
             |WHERE doc_id % 10 = 0""".stripMargin),
      "real MJPEG-AVI container + per-frame JPEG decode, oracle-predicted"
    ),

    // ---- typed-Dataset mapPartitions decode path. FakeDecode is pure
    //      byte math ((b0 & 0xff) % 64 + 1 etc.), so DuckDB can replay it
    //      exactly via hex-string byte extraction ----
    "mm_decode_meta" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val recs = Multimodal
          .withBinary(t(s, d, "documents"), "text")
          .select(col("doc_id"), col("media"))
          .as[Multimodal.MediaRecord]
        Multimodal.extractMeta(s, recs).toDF()
          .select(
            col("doc_id"),
            col("n_bytes"),
            col("head_code").cast("long").as("head_code"),
            col("fake_width").cast("long").as("fake_width"),
            col("fake_height").cast("long").as("fake_height"),
            col("format_tag")
          )
      },
      Some("""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS h FROM documents),
             |d AS (
             |  SELECT doc_id, n,
             |    CASE WHEN n > 0 THEN (instr('0123456789ABCDEF', substr(h,1,1))-1)*16 + instr('0123456789ABCDEF', substr(h,2,1))-1 ELSE -1 END AS b0,
             |    CASE WHEN n > 1 THEN (instr('0123456789ABCDEF', substr(h,3,1))-1)*16 + instr('0123456789ABCDEF', substr(h,4,1))-1 ELSE NULL END AS b1
             |  FROM b)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
             |  CAST(b0 AS BIGINT) AS head_code,
             |  CAST(CASE WHEN n > 0 THEN (b0 % 64) + 1 ELSE 0 END AS BIGINT) AS fake_width,
             |  CAST(CASE WHEN n > 1 THEN (b1 % 64) + 1 ELSE 0 END AS BIGINT) AS fake_height,
             |  CASE WHEN n % 2 = 0 THEN 'imgA' ELSE 'imgB' END AS format_tag
             |FROM d""".stripMargin),
      "mapPartitions batch decode with stubbed (byte-pure) media decoder"
    )
  )
}

/** Second wave of extension operators: clustering-based ANN (IVF shape),
  * corpus term statistics, and the composed LSH→exact-verify dedup that is
  * the actual 100 TB dedup recipe.
  */
object Ext2Queries {
  import Tables.t
  import graft.ops.{Dedup, Similarity}

  val defs: Seq[(String, QueryDef)] = Seq(
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

    // corpus-level term statistics (the DF side of TF-IDF) — integer-exact
    "text_term_stats" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("__ts"))
          .select(col("doc_id"), explode(col("__ts")).as("token"))
        val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("token").agg(count(lit(1)).as("doc_freq"))
        tf.join(dfreq, "token").select("doc_id", "token", "tf", "doc_freq")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
             |  FROM documents
             |), tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY 1)
             |SELECT doc_id, tf.token, tf, doc_freq FROM tf JOIN dfreq ON tf.token = dfreq.token""".stripMargin)
    ),
    "text_top_tokens" -> QueryDef(
      (s, d) =>
        t(s, d, "documents")
          .select(graft.ops.TextOps.tokens(col("text")).as("__ts"))
          .select(explode(col("__ts")).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token").asc)
          .limit(20),
      Some("""SELECT token, COUNT(*) AS n FROM (
             |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
             |  FROM documents)
             |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin)
    ),

    // ---- count-min sketch heavy hitters: the bounded-state frequency
    //      structure (4×1024 counters, independent of vocabulary size)
    //      point-queried for the exact top-20 tokens. The sketch, the
    //      probes, and the estimates are pure md5-chunk integer math, so
    //      DuckDB replays the whole grid bit-exactly; `sound` pins the
    //      CMS guarantee est ≥ true on every probe ----
    "q_heavy_hitters_cms" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("token"))
        val sketch = graft.ops.Sketches.countMin(toks, col("token"), depth = 4, width = 1024)
        val top = toks.groupBy("token").agg(count(lit(1)).as("true_n"))
          .orderBy(col("true_n").desc, col("token").asc)
          .limit(20)
        graft.ops.Sketches.cmsEstimate(sketch, top, "token", depth = 4, width = 1024)
          .select(
            col("token"), col("true_n"), col("est_n"),
            (col("est_n") >= col("true_n")).as("sound"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
             |  FROM documents),
             |sk AS (
             |  SELECT g.j,
             |    CAST(('0x' || substr(md5('cms' || CAST(g.j AS VARCHAR) || ':' || token), 1, 13)) AS BIGINT) % 1024 AS b,
             |    COUNT(*) AS c
             |  FROM toks, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g
             |  GROUP BY 1, 2),
             |top AS (
             |  SELECT token, COUNT(*) AS true_n FROM toks
             |  GROUP BY 1 ORDER BY true_n DESC, token LIMIT 20),
             |pb AS (
             |  SELECT token, true_n, g.j,
             |    CAST(('0x' || substr(md5('cms' || CAST(g.j AS VARCHAR) || ':' || token), 1, 13)) AS BIGINT) % 1024 AS b
             |  FROM top, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g)
             |SELECT pb.token, CAST(pb.true_n AS BIGINT) AS true_n,
             |  CAST(MIN(COALESCE(sk.c, 0)) AS BIGINT) AS est_n,
             |  MIN(COALESCE(sk.c, 0)) >= pb.true_n AS sound
             |FROM pb LEFT JOIN sk ON sk.j = pb.j AND sk.b = pb.b
             |GROUP BY pb.token, pb.true_n""".stripMargin),
      "count-min sketch point queries vs exact counts, soundness pinned"
    ),

    // ---- the CMS merge contract: sketches built independently on two
    //      corpus shards, sum-merged, point-queried — estimates are
    //      IDENTICAL to the whole-corpus sketch (counter addition is
    //      exact), which is what lets 1000 executors sketch 100 TB
    //      map-side and merge grids instead of shuffling occurrences.
    //      Oracle = the whole-corpus replay, pinning that identity ----
    "q_cms_merge" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        def toks(part: org.apache.spark.sql.DataFrame) =
          part.select(explode(TextOps.tokens(col("text"))).as("token"))
        val skA = graft.ops.Sketches.countMin(
          toks(docs.filter(col("doc_id") % 2 === 0)), col("token"), depth = 4, width = 1024)
        val skB = graft.ops.Sketches.countMin(
          toks(docs.filter(col("doc_id") % 2 === 1)), col("token"), depth = 4, width = 1024)
        val merged = skA.unionByName(skB)
          .groupBy("j", "b").agg(sum(col("c")).as("c"))
        val top = toks(docs).groupBy("token").agg(count(lit(1)).as("true_n"))
          .orderBy(col("true_n").desc, col("token").asc)
          .limit(20)
        graft.ops.Sketches.cmsEstimate(merged, top, "token", depth = 4, width = 1024)
          .select(
            col("token"), col("true_n"), col("est_n"),
            (col("est_n") >= col("true_n")).as("sound"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
             |  FROM documents),
             |sk AS (
             |  SELECT g.j,
             |    CAST(('0x' || substr(md5('cms' || CAST(g.j AS VARCHAR) || ':' || token), 1, 13)) AS BIGINT) % 1024 AS b,
             |    COUNT(*) AS c
             |  FROM toks, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g
             |  GROUP BY 1, 2),
             |top AS (
             |  SELECT token, COUNT(*) AS true_n FROM toks
             |  GROUP BY 1 ORDER BY true_n DESC, token LIMIT 20),
             |pb AS (
             |  SELECT token, true_n, g.j,
             |    CAST(('0x' || substr(md5('cms' || CAST(g.j AS VARCHAR) || ':' || token), 1, 13)) AS BIGINT) % 1024 AS b
             |  FROM top, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g)
             |SELECT pb.token, CAST(pb.true_n AS BIGINT) AS true_n,
             |  CAST(MIN(COALESCE(sk.c, 0)) AS BIGINT) AS est_n,
             |  MIN(COALESCE(sk.c, 0)) >= pb.true_n AS sound
             |FROM pb LEFT JOIN sk ON sk.j = pb.j AND sk.b = pb.b
             |GROUP BY pb.token, pb.true_n""".stripMargin),
      "shard-built CMS grids sum-merge to the whole-corpus sketch exactly"
    ),

    // as-of (temporal) join — an operator Spark lacks natively, composed
    // as union + carry-forward window: one shuffle of |L|+|R| on the key,
    // no point-in-time join explosion. Oracle = DuckDB's native ASOF JOIN.
    "q_asof_join" -> QueryDef(
      (s, d) => {
        val events = t(s, d, "events").select("event_id", "user_id", "ts")
        val lastOrders = t(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max("o_orderkey").as("last_order_key"))
        graft.ops.AsofJoin.asofJoin(
          events, lastOrders,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          payload = Seq("last_order_key")
        ).select("event_id", "user_id", "ts", "last_order_key")
      },
      Some("""WITH o AS (
             |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_order_key
             |  FROM orders GROUP BY 1, 2)
             |SELECT e.event_id, e.user_id, e.ts, o.last_order_key
             |FROM events e ASOF LEFT JOIN o
             |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin)
    ),

    // connected components over the near-dup graph — dedup cluster
    // formation (bounded min-label propagation, exact for short-diameter
    // near-dup clusters; deterministic integer labels on both engines)
    "dedup_components" -> QueryDef(
      (s, d) => {
        // pair build = the LSH-verified path (candidates in O(docs×bands),
        // exact integer-Jaccard verify on candidates only — oracle-equal
        // to the full exact pair set, see dedup_minhash_verified), built
        // ONCE per session and read from its materialized parquet — so CC
        // does not pay for a second full inverted-index self-join, nor for
        // a rebuild when a sibling query already materialized the pairs.
        val pairs = SharedIntermediates.verifiedPairs(s, d)
        Dedup.connectedComponents(pairs.select("id_a", "id_b"), iterations = 4)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), sh AS (
             |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g
             |),
             |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
             |pr AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |), pairs AS (
             |  SELECT id_a, id_b FROM pr
             |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |  WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 4
             |), e AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs
             |), l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
             |l1 AS (
             |  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
             |  FROM l0 l LEFT JOIN e ON e.src = l.node LEFT JOIN l0 r ON r.node = e.dst
             |  GROUP BY l.node, l.label),
             |l2 AS (
             |  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
             |  FROM l1 l LEFT JOIN e ON e.src = l.node LEFT JOIN l1 r ON r.node = e.dst
             |  GROUP BY l.node, l.label),
             |l3 AS (
             |  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
             |  FROM l2 l LEFT JOIN e ON e.src = l.node LEFT JOIN l2 r ON r.node = e.dst
             |  GROUP BY l.node, l.label),
             |l4 AS (
             |  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
             |  FROM l3 l LEFT JOIN e ON e.src = l.node LEFT JOIN l3 r ON r.node = e.dst
             |  GROUP BY l.node, l.label)
             |SELECT node AS doc_id, label AS component FROM l4""".stripMargin)
    ),
    // the pipeline-facing dedup verdict: every document → its canonical
    // representative (component min-id) + keep flag; singletons keep
    // themselves. Same LSH-verified pair build + CC as dedup_components,
    // then one left join of the corpus against the (small) label set.
    "dedup_keep_list" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = SharedIntermediates.verifiedPairs(s, d)
        Dedup.keepList(docs, "doc_id", pairs.select("id_a", "id_b"), iterations = 4)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), sh AS (
             |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g
             |),
             |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
             |pr AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |), pairs AS (
             |  SELECT id_a, id_b FROM pr
             |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |  WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 4
             |), e AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs
             |), l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
             |l1 AS (
             |  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
             |  FROM l0 l LEFT JOIN e ON e.src = l.node LEFT JOIN l0 r ON r.node = e.dst
             |  GROUP BY l.node, l.label),
             |l2 AS (
             |  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
             |  FROM l1 l LEFT JOIN e ON e.src = l.node LEFT JOIN l1 r ON r.node = e.dst
             |  GROUP BY l.node, l.label),
             |l3 AS (
             |  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
             |  FROM l2 l LEFT JOIN e ON e.src = l.node LEFT JOIN l2 r ON r.node = e.dst
             |  GROUP BY l.node, l.label),
             |l4 AS (
             |  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
             |  FROM l3 l LEFT JOIN e ON e.src = l.node LEFT JOIN l3 r ON r.node = e.dst
             |  GROUP BY l.node, l.label)
             |SELECT d.doc_id,
             |  COALESCE(cc.label, d.doc_id) AS canonical_id,
             |  COALESCE(cc.label, d.doc_id) = d.doc_id AS is_canonical
             |FROM documents d LEFT JOIN l4 cc ON cc.node = d.doc_id""".stripMargin),
      "per-document keep/drop verdict: canonical representative per near-dup cluster"
    ),

    // scalar string-function suite (F-ops generalized): case, slice,
    // reverse, length, edit distance, concat — all exact
    "q_string_funcs" -> QueryDef(
      (s, d) =>
        t(s, d, "customer").select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          reverse(col("c_name")).as("rname"),
          substring(col("c_name"), 1, 5).as("prefix5"),
          length(col("c_name")).cast("long").as("name_len"),
          levenshtein(col("c_name"), lit("Customer#1")).cast("long").as("edit_dist"),
          concat_ws("-", col("c_mktsegment"), col("c_name")).as("seg_name")
        ),
      Some("""SELECT c_custkey, upper(c_name) AS uname, reverse(c_name) AS rname,
             |substr(c_name, 1, 5) AS prefix5, CAST(length(c_name) AS BIGINT) AS name_len,
             |CAST(levenshtein(c_name, 'Customer#1') AS BIGINT) AS edit_dist,
             |concat_ws('-', c_mktsegment, c_name) AS seg_name
             |FROM customer""".stripMargin)
    ),

    // event-time sessionization, batch-native bounded-memory form (one
    // user-key shuffle + sort-within-partitions + O(1)-state linear scan).
    // Values are integerized (round(value*100)) so per-session sums are
    // exact in ANY fold order — double addition of integer-valued terms is
    // associative below 2^53, which makes the aggregate oracle-safe.
    // Oracle: lag-gap break flags → cumulative session ids; a user's
    // trailing (unclosed) session is excluded on both sides.
    "q_sessionize" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val src = t(s, d, "events")
          .select(
            col("user_id"),
            col("ts_us"),
            round(col("value") * 100).as("value"))
          .as[(Long, Long, Double)]
        graft.streaming.EventStream.sessionizeBatch(src, gapMs = 30 * 60 * 1000L).toDF()
      },
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, round(value*100) AS v FROM events
             |), g AS (
             |  SELECT user_id, ts, v,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
             |              > 1800000000 THEN 1 ELSE 0 END AS brk
             |  FROM e
             |), s AS (
             |  SELECT user_id, ts, v,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
             |  FROM g
             |), agg AS (
             |  SELECT user_id, sess, min(ts) AS session_start, max(ts) AS session_end,
             |    CAST(COUNT(*) AS BIGINT) AS n_events, SUM(v) AS sum_value
             |  FROM s GROUP BY 1, 2
             |), mx AS (SELECT user_id, max(sess) AS m FROM agg GROUP BY 1)
             |SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.sum_value
             |FROM agg a JOIN mx ON mx.user_id = a.user_id AND a.sess < mx.m""".stripMargin),
      "bounded-memory gap sessionization (shuffle + secondary sort + linear scan)"
    ),

    // the STREAMING sessionizer in the gate: AvailableNow drain of the
    // events fixture through flatMapGroupsWithState + EventTimeTimeout.
    // Differs from q_sessionize in the trailing-session contract: the
    // final watermark (delay 0 ⇒ max event time, ms-truncated) CLOSES
    // every trailing session it strictly passed (last_ms + gap < wm_ms —
    // Spark fires timeouts strictly below the eviction watermark), so the
    // oracle adds exactly those; trailing sessions still within gap of
    // the stream head stay open on both sides.
    "q_sessionize_stream" -> QueryDef(
      (s, d) =>
        graft.streaming.EventStream.sessionizeRunOnce(
          s, s"$d/events.parquet", gapMs = 30 * 60 * 1000L, watermarkDelay = "0 seconds"),
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, round(value*100) AS v FROM events
             |), wm AS (SELECT max(epoch_us(ts) // 1000) AS wm_ms FROM e
             |), g AS (
             |  SELECT user_id, ts, v,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
             |              > 1800000000 THEN 1 ELSE 0 END AS brk
             |  FROM e
             |), s AS (
             |  SELECT user_id, ts, v,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
             |  FROM g
             |), agg AS (
             |  SELECT user_id, sess, min(ts) AS session_start, max(ts) AS session_end,
             |    CAST(COUNT(*) AS BIGINT) AS n_events, SUM(v) AS sum_value
             |  FROM s GROUP BY 1, 2
             |), mx AS (SELECT user_id, max(sess) AS m FROM agg GROUP BY 1)
             |SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.sum_value
             |FROM agg a JOIN mx ON mx.user_id = a.user_id, wm
             |WHERE a.sess < mx.m
             |   OR (epoch_us(a.session_end) // 1000) + 1800000 < wm.wm_ms""".stripMargin),
      "EventTimeTimeout sessionization driven end-to-end through an AvailableNow drain"
    ),

    // the RESTART-RECOVERY proof: the same sessionization pipeline run as
    // two separate query executions against one checkpoint — stop after a
    // time-split prefix, add the rest, restart — with the merged parquet-
    // sink output oracle-checked against the uninterrupted batch replay
    // (same SQL as q_sessionize_stream; see EventStream.restartRunOnce for
    // why the split cannot change the session set). This is the streaming
    // analogue of the reference's WRITE_APPEND re-invocation pattern
    // (main.py:31-33, data_load.py:44-50): offsets, state store, watermark,
    // and sink commits all resume exactly-once.
    "q_stream_restart" -> QueryDef(
      (s, d) =>
        graft.streaming.EventStream.restartRunOnce(
          s, s"$d/events.parquet", gapMs = 30 * 60 * 1000L, watermarkDelay = "0 seconds"),
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, round(value*100) AS v FROM events
             |), wm AS (SELECT max(epoch_us(ts) // 1000) AS wm_ms FROM e
             |), g AS (
             |  SELECT user_id, ts, v,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
             |              > 1800000000 THEN 1 ELSE 0 END AS brk
             |  FROM e
             |), s AS (
             |  SELECT user_id, ts, v,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
             |  FROM g
             |), agg AS (
             |  SELECT user_id, sess, min(ts) AS session_start, max(ts) AS session_end,
             |    CAST(COUNT(*) AS BIGINT) AS n_events, SUM(v) AS sum_value
             |  FROM s GROUP BY 1, 2
             |), mx AS (SELECT user_id, max(sess) AS m FROM agg GROUP BY 1)
             |SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.sum_value
             |FROM agg a JOIN mx ON mx.user_id = a.user_id, wm
             |WHERE a.sess < mx.m
             |   OR (epoch_us(a.session_end) // 1000) + 1800000 < wm.wm_ms""".stripMargin),
      "checkpoint restart recovery: stop mid-corpus, restart, output equals the uninterrupted run"
    ),
    // stream-stream event-time interval join in the gate: purchases to
    // same-user clicks in the 6 h window ending at the purchase — two
    // watermarked streaming sources + a time-range condition (the state-
    // bounding production shape); inner-join emission is watermark-
    // independent, so the AvailableNow drain equals the batch join.
    "q_stream_interval_join" -> QueryDef(
      (s, d) =>
        graft.streaming.EventStream.intervalJoinRunOnce(
          s, s"$d/events.parquet", lookbackMs = 6 * 3600 * 1000L, watermarkDelay = "0 seconds"),
      Some("""WITH e AS (
             |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
             |)
             |SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
             |FROM e p JOIN e c ON p.user_id = c.user_id
             |  AND p.event_type = 'purchase' AND c.event_type = 'click'
             |  AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 21600000000 AND epoch_us(p.ts)""".stripMargin),
      "stream-stream interval join (watermarked two-source join, AvailableNow drain)"
    ),

    // LEFT-OUTER variant: unmatched purchases emit a null click — but
    // only once the watermark proves no matching click can still arrive
    // (null rows materialize on state EVICTION in the flush batch).
    // Oracle replays the eviction contract: global watermark = min of
    // the two inputs' max event times (multipleWatermarkPolicy=min,
    // delay 0); an unmatched purchase emits iff p_ts < wm. Purchases at
    // the stream head stay buffered — the same trailing incompleteness
    // every append drain exposes.
    "q_stream_interval_left" -> QueryDef(
      (s, d) =>
        graft.streaming.EventStream.intervalJoinLeftRunOnce(
          s, s"$d/events.parquet", lookbackMs = 6 * 3600 * 1000L, watermarkDelay = "0 seconds"),
      Some("""WITH e AS (
             |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
             |), p AS (
             |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us FROM e
             |  WHERE event_type = 'purchase'
             |), c AS (
             |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us FROM e
             |  WHERE event_type = 'click'
             |), wm AS (
             |  SELECT least((SELECT max(p_us) FROM p), (SELECT max(c_us) FROM c)) AS wm_us
             |), m AS (
             |  SELECT p.purchase_id, c.click_id, p.user_id
             |  FROM p JOIN c ON p.user_id = c.user_id
             |    AND c.c_us BETWEEN p.p_us - 21600000000 AND p.p_us
             |)
             |SELECT purchase_id, click_id, user_id FROM m
             |UNION ALL
             |SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id, p.user_id
             |FROM p, wm
             |WHERE p.p_us < wm.wm_us
             |  AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)""".stripMargin),
      "left-outer stream-stream interval join: watermark-proven null emission on eviction"
    ),

    // name-based union with missing-column tolerance — the page-union (S2)
    // generalized to evolving page schemas, mirroring the sink's
    // field-addition semantics on the read side
    "q_union_by_name" -> QueryDef(
      (s, d) => {
        val older = t(s, d, "customer")
          .filter(col("c_custkey") <= 500)
          .select(col("c_custkey"), col("c_name"))
        val newer = t(s, d, "customer")
          .filter(col("c_custkey") > 500 && col("c_custkey") <= 900)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        older.unionByName(newer, allowMissingColumns = true)
      },
      Some("""SELECT c_custkey, c_name, NULL AS c_mktsegment FROM customer WHERE c_custkey <= 500
             |UNION ALL BY NAME
             |SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE c_custkey > 500 AND c_custkey <= 900""".stripMargin),
      "unionByName with allowMissingColumns (evolving page schemas)"
    ),

    // time-series densification: per-key daily spine + forward fill over
    // a deliberately sparse event subset (integer-valued sums ⇒ exact)
    // time-proximity join: purchases vs errors within ±15 min. The
    // inequality join Spark would BNLJ becomes a rank difference
    // F(t+w) − F(t−w−1) over fine-bucket prefix sums (TimeSeries
    // .proximityCount) — join output grows with rows per FINE bucket
    // (w/16), not rows per window span, so pair mass stays linear in
    // time density (r14: the 3-bucket equi-join it replaces was 22.9×
    // wall at the 100× fixture purely from in-span pair growth).
    "q_time_proximity_join" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        graft.ops.TimeSeries.proximityCount(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "error"),
          "event_id", "ts", windowUs = 900000000L)
      },
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
             |SELECT a.event_id, COUNT(b.ts) AS n_nearby
             |FROM e a LEFT JOIN e b
             |  ON b.event_type = 'error'
             | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 900000000
             |WHERE a.event_type = 'purchase'
             |GROUP BY 1""".stripMargin),
      "interval/time-proximity join as a prefix-sum rank difference (no BNLJ)"
    ),

    "q_gap_fill" -> QueryDef(
      (s, d) => {
        val daily = t(s, d, "events")
          .filter(col("user_id") % 97 === 3)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100)).as("day_sum"))
        graft.ops.TimeSeries.fillForward(daily, "event_type", "day", Seq("day_sum"))
          .select(
            col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day_str"),
            col("day_sum"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |         SUM(round(value*100)) AS day_sum
             |  FROM events WHERE user_id % 97 = 3 GROUP BY 1, 2
             |), bounds AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1),
             |spine AS (
             |  SELECT event_type, CAST(g.dd AS DATE) AS day FROM bounds,
             |  LATERAL (SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS dd) g
             |)
             |SELECT s.event_type, strftime(s.day, '%Y-%m-%d') AS day_str,
             |  last_value(dl.day_sum IGNORE NULLS) OVER (
             |    PARTITION BY s.event_type ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS day_sum
             |FROM spine s LEFT JOIN daily dl ON dl.event_type = s.event_type AND dl.day = s.day""".stripMargin),
      "calendar gap fill + forward carry per key"
    ),

    // full-outer join completing the join family (inner/left/semi/anti/
    // as-of elsewhere): overlapping key ranges so BOTH null sides occur
    "q_full_outer_join" -> QueryDef(
      (s, d) => {
        val c = t(s, d, "customer")
          .filter(col("c_custkey") < 100)
          .select(col("c_custkey"), col("c_name"))
        val o = t(s, d, "orders")
          .filter(col("o_custkey") < 150)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"))
        c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
          .select(
            coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
            col("c_name"),
            col("n_orders"))
      },
      Some("""WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 100),
             |o AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders WHERE o_custkey < 150 GROUP BY 1)
             |SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, c.c_name, o.n_orders
             |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey""".stripMargin),
      "full outer join with nulls on both sides"
    ),

    // higher-order array functions as scalar digests (sequence, zip_with,
    // filter, exists, aggregate — the §2.9 HOF toolbox in the gate)
    "q_array_funcs" -> QueryDef(
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_orderkey") <= 1000)
          .select(
            col("l_orderkey"),
            col("l_linenumber").cast("long").as("ln"),
            aggregate(
              zip_with(
                sequence(lit(1L), col("l_linenumber").cast("long")),
                sequence(col("l_linenumber").cast("long"), lit(1L)),
                (x, y) => x * y),
              lit(0L), (a, x) => a + x).as("dotseq"),
            size(filter(
              sequence(lit(1L), col("l_linenumber").cast("long")),
              x => x % 2 === 0)).cast("long").as("n_even"),
            exists(
              sequence(lit(1L), col("l_linenumber").cast("long")),
              x => x === 3L).cast("int").cast("long").as("has_three")),
      // DuckDB mirrors the zip algebra directly: Σ i·(n−i+1) over i=1..n
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
             |CAST(list_sum(list_transform(generate_series(1, l_linenumber), i -> i * (l_linenumber - i + 1))) AS BIGINT) AS dotseq,
             |CAST(len(list_filter(generate_series(1, l_linenumber), i -> i % 2 = 0)) AS BIGINT) AS n_even,
             |CAST(CASE WHEN l_linenumber >= 3 THEN 1 ELSE 0 END AS BIGINT) AS has_three
             |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin),
      "sequence/zip_with/filter/exists/aggregate HOF suite"
    ),

    // exact discrete quantiles from the VALUE HISTOGRAM (no FP
    // interpolation — integer indexing makes the pick engine-independent).
    // The rank-r order statistic equals the smallest value whose
    // cumulative count reaches r, so the per-group row_number sort is
    // unnecessary: a (group, value) count — map-side combined, 60M rows
    // collapse to |groups|×|distinct values| ≈ 150 before any shuffle —
    // plus a cumulative sum over that tiny frame picks the identical
    // value. The sort form moved the whole fact table into 3 returnflag
    // window partitions at the 100× fixture (77 s wall, 725 MB shuffle
    // into 3 tasks — r14 forced-bench finding); this is the same answer
    // at histogram cost, the right shape for ANY low-cardinality metric
    // column at 100 TB.
    "q_quantile_disc" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy("l_returnflag")
          .orderBy(col("l_quantity").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy("l_returnflag")
        counts
          .withColumn("cum", sum(col("c")).over(wc))
          .withColumn("n", sum(col("c")).over(wn))
          .groupBy("l_returnflag")
          .agg(
            min(when(col("cum") >= greatest(lit(1L), ceil(lit(0.5) * col("n"))),
              col("l_quantity").cast("double"))).as("median_qty"),
            min(when(col("cum") >= greatest(lit(1L), ceil(lit(0.9) * col("n"))),
              col("l_quantity").cast("double"))).as("p90_qty"))
      },
      Some("""SELECT l_returnflag,
             |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.5*n) AS BIGINT)) THEN CAST(l_quantity AS DOUBLE) END) AS median_qty,
             |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.9*n) AS BIGINT)) THEN CAST(l_quantity AS DOUBLE) END) AS p90_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber,
             |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
             |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM lineitem)
             |GROUP BY 1""".stripMargin),
      "exact discrete median/p90 per group from the value histogram (no full sort)"
    ),

    // arg-max / arg-min with a composite bigint order key (price cents ×
    // 1e9 + orderkey×10 + linenumber) so the pick is total-ordered and
    // tie-free on both engines
    "q_minmax_by" -> QueryDef(
      (s, d) => {
        val ord = (col("l_extendedprice") * 100).cast("long") * 1000000000L +
          col("l_orderkey") * 10 + col("l_linenumber")
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            max_by(col("l_orderkey"), ord).as("priciest_order"),
            min_by(col("l_orderkey"), ord).as("cheapest_order"))
      },
      Some("""SELECT l_returnflag,
             |  arg_max(l_orderkey, CAST(l_extendedprice*100 AS BIGINT)*1000000000 + l_orderkey*10 + l_linenumber) AS priciest_order,
             |  arg_min(l_orderkey, CAST(l_extendedprice*100 AS BIGINT)*1000000000 + l_orderkey*10 + l_linenumber) AS cheapest_order
             |FROM lineitem GROUP BY 1""".stripMargin),
      "max_by/min_by with tie-free composite ordering"
    ),

    // hot-key mitigation IN the correctness gate: the two-phase salted sum
    // must equal the plain grouped sum exactly (decimal partials)
    "q_salted_sum" -> QueryDef(
      (s, d) =>
        graft.ops.Skew.saltedSum(
          t(s, d, "events"), "event_type", Seq("value"), col("event_id"), salts = 16),
      Some("""SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1""".stripMargin),
      "two-phase salted aggregation equals the plain grouped sum"
    ),

    // THE scalable dedup recipe: LSH candidates → exact Jaccard verify on
    // candidates only. The oracle is the full exact-Jaccard pair set: LSH
    // banding is deterministic (per-lane affine md5 hashing mod 2^61−1,
    // no RNG), and at 64 hashes / 16 bands its recall on ≥0.8-Jaccard
    // pairs is exact on the fixtures (candidates ⊇ exact pairs pinned in
    // DedupSpec), so the verified output equals the exact set.
    "dedup_minhash_verified" -> QueryDef(
      // the canonical pair build is shared (built once per session, read
      // from its materialized parquet by every family member) — see
      // SharedIntermediates.verifiedPairs
      (s, d) => SharedIntermediates.verifiedPairs(s, d),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), sh AS (
             |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g
             |), sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
             |pr AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |)
             |SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b
             |FROM pr JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 4""".stripMargin),
      "LSH candidate generation + exact integer-Jaccard verification"
    )
  )
}
