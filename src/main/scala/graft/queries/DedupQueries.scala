package graft.queries

import graft.ops.{Dedup, Sampling}
import org.apache.spark.sql.functions._

/** Document deduplication: exact, n-gram Jaccard, MinHash/LSH, SimHash,
  * containment, sub-document (paragraph, span) and incremental dedup
  * against persisted signature indexes, plus the keep-list and
  * cluster-statistics forms. The MinHash oracle CTEs live here.
  */
object DedupQueries {
  import Tables.t

  /** Shared DuckDB CTE prefix replaying the MinHash chain lane-exactly:
    * 3-gram shingles → 60-bit md5 chunk → per-lane `(a_j·h + b_j) mod
    * (2^61−1)` mins (the per-lane constants are embedded verbatim from
    * [[graft.ops.Dedup.laneCoeffs]] as a VALUES table — same literal-
    * embedding precedent as `AnnQueries.radSignArray`) → md5 band keys.
    */
  private def minhashCtes(numHashes: Int, bands: Int): String = {
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
    ),

    // incremental dedup — the production shape of exact dedup: a new
    // batch (hash buckets 80+) survives only if its content hash is (a)
    // absent from the prior corpus (anti join against the existing
    // fingerprint set, which at 100 TB is a parquet table of hashes, not
    // the corpus) and (b) the min-id representative within the batch
    "q_dedup_incremental" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"))
          .withColumn("is_new",
            graft.ops.Sampling.hashBucket(col("doc_id"), "inc", 100) >= 80)
        docs.filter(col("is_new"))
          .join(docs.filter(!col("is_new")).select("h").distinct(), Seq("h"), "left_anti")
          .groupBy("h")
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, md5(coalesce(text, '')) AS h,
             |    CAST(('0x' || substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |      % 100 >= 80 AS is_new
             |  FROM documents)
             |SELECT min(doc_id) AS doc_id FROM t
             |WHERE is_new
             |  AND h NOT IN (SELECT h FROM t WHERE NOT is_new)
             |GROUP BY h""".stripMargin),
      "anti-join incremental dedup of a new batch against a prior corpus"
    ),

    // corpus-level duplicate n-gram mass per language: the fraction of
    // 3-gram OCCURRENCES whose shingle appears more than once in that
    // language's corpus — the inter-document twin of text_repetition's
    // intra-document stats, and the scalar a pretraining mix watches to
    // decide when a source needs dedup. Exact integer numerator and
    // denominator; one shuffle on (lang, shingle) then one on lang. At
    // larger scales the shingle key would be xxhash64-compressed before
    // the shuffle (as the jaccard path does); plain strings here keep the
    // oracle engine-replayable
    "q_dup_ngram_mass" -> QueryDef(
      (s, d) => {
        val occ = t(s, d, "documents")
          .select(col("lang"), graft.ops.TextOps.tokens(col("text")).as("__ts"))
          .select(col("lang"),
            explode(graft.ops.TextOps.shingleOccurrencesFromTokens(col("__ts"), 3)).as("sh"))
        occ
          .groupBy("lang", "sh")
          .agg(count(lit(1)).as("c"))
          .groupBy("lang")
          .agg(
            sum(col("c")).as("total_occ"),
            sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_occ"))
          .select(col("lang"), col("total_occ"), col("dup_occ"),
            (col("dup_occ").cast("double") / col("total_occ").cast("double")).as("dup_ratio"))
      },
      Some("""WITH toks AS (
             |  SELECT lang, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents),
             |occ AS (
             |  SELECT lang, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g),
             |c AS (SELECT lang, sh, COUNT(*) AS c FROM occ GROUP BY 1, 2),
             |a AS (
             |  SELECT lang, CAST(SUM(c) AS BIGINT) AS total_occ,
             |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occ
             |  FROM c GROUP BY 1)
             |SELECT lang, total_occ, dup_occ,
             |  CAST(dup_occ AS DOUBLE) / CAST(total_occ AS DOUBLE) AS dup_ratio
             |FROM a""".stripMargin),
      "inter-document duplicate 3-gram occurrence mass per language"
    ),

    // ---- sketch-only dedup scoring: candidate pairs annotated with the
    //      MinHash Jaccard estimate (matching lanes / 64) — ranks and
    //      filters candidates without re-touching shingle sets ----
    "dedup_minhash_est" -> QueryDef(
      (s, d) =>
        Dedup.lshCandidatePairsWithEstFromShingles(
          SharedIntermediates.shingles(s, d), numHashes = 64, bands = 16
        ),
      Some(s"""WITH ${minhashCtes(64, 16)}, pairs AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
              |SELECT p.id_a, p.id_b,
              |  CAST(SUM(CASE WHEN la.mv = lb.mv THEN 1 ELSE 0 END) AS BIGINT) AS matched,
              |  CAST(SUM(CASE WHEN la.mv = lb.mv THEN 1 ELSE 0 END) AS DOUBLE) / 64 AS est_jaccard
              |FROM pairs p
              |JOIN lanes la ON la.doc_id = p.id_a
              |JOIN lanes lb ON lb.doc_id = p.id_b AND lb.j = la.j
              |GROUP BY 1, 2""".stripMargin),
      "MinHash lane-agreement Jaccard estimate per LSH candidate pair"
    ),

    // ---- CCNet-style sub-document dedup: 8-token chunks, corpus-wide
    //      first-occurrence keep ordered by (doc_id, chunk idx), text
    //      reassembled from survivors. Two shuffles (chunk hash, doc id);
    //      no pair space ----
    "dedup_paragraph" -> QueryDef(
      (s, d) => Dedup.chunkDedup(t(s, d, "documents"), "doc_id", "text", chunkTokens = 8),
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(
             |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents),
             |ci AS (
             |  SELECT doc_id, ts, unnest(generate_series(0, (len(ts) + 7) // 8 - 1)) AS ci
             |  FROM d),
             |ch AS (
             |  SELECT doc_id, ci,
             |    array_to_string(list_slice(ts, ci * 8 + 1, ci * 8 + 8), ' ') AS chunk,
             |    doc_id * 1048576 + ci AS okey
             |  FROM ci),
             |fo AS (SELECT md5(chunk) AS h, MIN(okey) AS first_okey FROM ch GROUP BY 1)
             |SELECT ch.doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS total_chunks,
             |  CAST(SUM(CASE WHEN ch.okey = fo.first_okey THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
             |  COALESCE(string_agg(CASE WHEN ch.okey = fo.first_okey THEN ch.chunk END, ' ' ORDER BY ch.ci), '') AS cleaned_text
             |FROM ch JOIN fo ON fo.h = md5(ch.chunk)
             |GROUP BY 1""".stripMargin),
      "sub-document chunk dedup: corpus-wide first-occurrence, text rebuilt"
    ),

    // ---- near-dup cluster-size distribution: group docs by their CC
    //      canonical representative, histogram the cluster sizes — the
    //      "how big do dup families get" observability that decides
    //      whether dedup keeps one-per-cluster or caps per-cluster ----
    "q_dedup_cluster_stats" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = SharedIntermediates.verifiedPairs(s, d)
        val kl = Dedup.keepList(docs, "doc_id", pairs.select("id_a", "id_b"), iterations = 4)
        kl.groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
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
             |  GROUP BY l.node, l.label),
             |cl AS (
             |  SELECT COALESCE(cc.label, d.doc_id) AS canonical_id, COUNT(*) AS cluster_size
             |  FROM documents d LEFT JOIN l4 cc ON cc.node = d.doc_id
             |  GROUP BY 1)
             |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
             |       CAST(COUNT(*) AS BIGINT) AS n_clusters
             |FROM cl GROUP BY 1""".stripMargin),
      "near-dup family size histogram over the CC keep-list"
    ),

    // ---- directional containment dedup: |A∩B|/|A| ≥ 0.8 over word
    //      3-grams — catches short docs embedded in long ones (quotes,
    //      excerpts) that symmetric Jaccard misses at size skew ----
    "dedup_containment" -> QueryDef(
      (s, d) =>
        // r14 measured the bare prefix form as a NEGATIVE (60-92 s vs
        // ~40 s dense at the same ~4 GB shuffle — the container side
        // admits no prefix bound, so candidates stayed dense-sized).
        // r15 added the PPJoin POSITIONAL filter, which kills the
        // late-position (hot-shingle) candidates map-side BEFORE the
        // distinct: alternating sf10 triples now read wall PARITY with
        // dense (33.1 vs 31.6 s medians) at 22% less shuffle (3.25 vs
        // 4.13 GB) and 97% less spill (31 MB vs 1.1 GB) — the better
        // 100 TB shape, so the prefix+positional form is registered.
        // Output row-identical (DedupSpec parity + same sf10 row count),
        // oracle unchanged. Cost at tiny scale: ~+0.5 s fixed (per-doc
        // array build) at sf0.1 — recorded in bench/r15_notes.md.
        Dedup.prefixContainmentPairsFromShingles(
          SharedIntermediates.shingles(s, d),
          thresholdNum = 4, thresholdDen = 5, maxShingleFreq = Some(50)),
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
             |), ws AS (
             |  SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b
             |  FROM pr JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)
             |SELECT id_a AS contained_id, id_b AS container_id, inter,
             |       sz_a AS size_contained, sz_b AS size_container
             |FROM ws WHERE inter * 5 >= sz_a * 4
             |UNION ALL
             |SELECT id_b, id_a, inter, sz_b, sz_a
             |FROM ws WHERE inter * 5 >= sz_b * 4""".stripMargin),
      "asymmetric n-gram containment pairs via the shared inverted index"
    ),

    // ---- exact duplicated-SPAN dedup (the suffix-array modality of
    //      Lee et al., relationally: positioned 4-gram match → constant-
    //      alignment islands → maximal spans ≥ 8 tokens). Catches the
    //      shared-boilerplate case every set-level method (Jaccard/
    //      MinHash/SimHash) misses at low set overlap ----
    "dedup_span" -> QueryDef(
      (s, d) => SharedIntermediates.spans(s, d),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), g AS MATERIALIZED (
             |  SELECT doc_id, CAST(i AS BIGINT) AS p,
             |    CAST(('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 13)) AS BIGINT) AS h
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 3, 0))) AS i) sq
             |), keep AS (SELECT h FROM (SELECT h, COUNT(*) AS occ FROM g GROUP BY 1) WHERE occ <= 50),
             |gk AS MATERIALIZED (SELECT g.doc_id, g.p, g.h FROM g JOIN keep USING (h)),
             |m AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb, a.p - b.p AS delta
             |  FROM gk a JOIN gk b ON a.h = b.h AND a.doc_id < b.doc_id
             |), isl AS (
             |  SELECT id_a, id_b, delta, pa, pb,
             |    pa - row_number() OVER (PARTITION BY id_a, id_b, delta ORDER BY pa) AS grp
             |  FROM m
             |), sp AS (
             |  SELECT id_a, id_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
             |         MAX(pa) - MIN(pa) + 4 AS span_len
             |  FROM isl GROUP BY id_a, id_b, delta, grp
             |)
             |SELECT id_a, id_b, CAST(start_a AS BIGINT) AS start_a,
             |       CAST(start_b AS BIGINT) AS start_b, CAST(span_len AS BIGINT) AS span_len
             |FROM sp WHERE span_len >= 8""".stripMargin),
      "maximal exact duplicated token spans (>=8 tokens) per doc pair"
    ),

    // ---- per-doc duplicated-token mass: fraction of tokens covered by
    //      at least one duplicated span (interval union via running-max
    //      islands) — the "drop docs >X% duplicated" curation metric ----
    "q_span_mass" -> QueryDef(
      (s, d) =>
        graft.ops.SpanDedup.spanMassFromSpans(
          t(s, d, "documents"), "doc_id", "text",
          SharedIntermediates.spans(s, d)),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), g AS MATERIALIZED (
             |  SELECT doc_id, CAST(i AS BIGINT) AS p,
             |    CAST(('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 13)) AS BIGINT) AS h
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 3, 0))) AS i) sq
             |), keep AS (SELECT h FROM (SELECT h, COUNT(*) AS occ FROM g GROUP BY 1) WHERE occ <= 50),
             |gk AS MATERIALIZED (SELECT g.doc_id, g.p, g.h FROM g JOIN keep USING (h)),
             |m AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb, a.p - b.p AS delta
             |  FROM gk a JOIN gk b ON a.h = b.h AND a.doc_id < b.doc_id
             |), isl AS (
             |  SELECT id_a, id_b, delta, pa, pb,
             |    pa - row_number() OVER (PARTITION BY id_a, id_b, delta ORDER BY pa) AS grp
             |  FROM m
             |), sp2 AS MATERIALIZED (
             |  SELECT id_a, id_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
             |         MAX(pa) - MIN(pa) + 4 AS span_len
             |  FROM isl GROUP BY id_a, id_b, delta, grp
             |  HAVING MAX(pa) - MIN(pa) + 4 >= 8
             |), iv AS (
             |  SELECT DISTINCT doc_id, s, e FROM (
             |    SELECT id_a AS doc_id, start_a AS s, start_a + span_len AS e FROM sp2
             |    UNION ALL
             |    SELECT id_b, start_b, start_b + span_len FROM sp2)
             |), isl2 AS (
             |  SELECT doc_id, s, e,
             |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
             |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             |           OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
             |                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |         THEN 1 ELSE 0 END AS new_island
             |  FROM iv
             |), isl3 AS (
             |  SELECT doc_id, s, e,
             |    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
             |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM isl2
             |), cov AS (
             |  SELECT doc_id, SUM(c) AS covered FROM (
             |    SELECT doc_id, island, MAX(e) - MIN(s) AS c FROM isl3 GROUP BY 1, 2) q
             |  GROUP BY 1
             |), tot AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks)
             |SELECT tot.doc_id, n_tokens,
             |  CAST(COALESCE(covered, 0) AS BIGINT) AS covered_tokens,
             |  CASE WHEN n_tokens > 0
             |       THEN CAST(COALESCE(covered, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             |       ELSE 0.0 END AS dup_mass
             |FROM tot LEFT JOIN cov USING (doc_id)""".stripMargin),
      "per-doc fraction of tokens covered by duplicated spans"
    ),

    // ---- span excision: the corpus rewrite — cut every duplicated span
    //      from the higher-id doc of its pair (keep-first-by-id) and
    //      re-join the surviving tokens. (doc, position) anti-join, not
    //      a range join; intervals explode bounded by doc length ----
    "q_span_excise" -> QueryDef(
      (s, d) =>
        graft.ops.SpanDedup.spanExciseFromSpans(
          t(s, d, "documents"), "doc_id", "text",
          SharedIntermediates.spans(s, d)),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), g AS MATERIALIZED (
             |  SELECT doc_id, CAST(i AS BIGINT) AS p,
             |    CAST(('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 13)) AS BIGINT) AS h
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 3, 0))) AS i) sq
             |), keep AS (SELECT h FROM (SELECT h, COUNT(*) AS occ FROM g GROUP BY 1) WHERE occ <= 50),
             |gk AS MATERIALIZED (SELECT g.doc_id, g.p, g.h FROM g JOIN keep USING (h)),
             |m AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb, a.p - b.p AS delta
             |  FROM gk a JOIN gk b ON a.h = b.h AND a.doc_id < b.doc_id
             |), isl AS (
             |  SELECT id_a, id_b, delta, pa, pb,
             |    pa - row_number() OVER (PARTITION BY id_a, id_b, delta ORDER BY pa) AS grp
             |  FROM m
             |), sp2 AS MATERIALIZED (
             |  SELECT id_a, id_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
             |         MAX(pa) - MIN(pa) + 4 AS span_len
             |  FROM isl GROUP BY id_a, id_b, delta, grp
             |  HAVING MAX(pa) - MIN(pa) + 4 >= 8
             |), covered AS (
             |  SELECT DISTINCT id_b AS doc_id, cp.p
             |  FROM sp2, LATERAL (SELECT unnest(generate_series(start_b, start_b + span_len - 1)) AS p) cp
             |), tp AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS p, ts[i] AS t
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) sq
             |), kept AS (
             |  SELECT tp.doc_id, tp.p, tp.t FROM tp
             |  LEFT JOIN covered c ON c.doc_id = tp.doc_id AND c.p = tp.p
             |  WHERE c.p IS NULL
             |), rebuilt AS (
             |  SELECT doc_id, COUNT(*) AS n_kept,
             |         string_agg(t, ' ' ORDER BY p) AS text_clean
             |  FROM kept GROUP BY 1
             |)
             |SELECT toks.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
             |  COALESCE(text_clean, '') AS text_clean
             |FROM toks LEFT JOIN rebuilt USING (doc_id)""".stripMargin),
      "cut duplicated spans from the higher-id doc and rebuild the clean text"
    ),

    // ---- span drop verdict: docs ≥ 1/2 span-covered by a partner form
    //      an edge; CC over edges → one canonical survivor per cluster
    //      (same keep-list contract as the set-similarity family) ----
    "dedup_span_keep_list" -> QueryDef(
      (s, d) =>
        graft.ops.SpanDedup.spanKeepListFromSpans(
          t(s, d, "documents"), "doc_id", "text",
          SharedIntermediates.spans(s, d),
          thresholdNum = 1, thresholdDen = 2),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), g AS MATERIALIZED (
             |  SELECT doc_id, CAST(i AS BIGINT) AS p,
             |    CAST(('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 13)) AS BIGINT) AS h
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 3, 0))) AS i) sq
             |), keep AS (SELECT h FROM (SELECT h, COUNT(*) AS occ FROM g GROUP BY 1) WHERE occ <= 50),
             |gk AS MATERIALIZED (SELECT g.doc_id, g.p, g.h FROM g JOIN keep USING (h)),
             |m AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb, a.p - b.p AS delta
             |  FROM gk a JOIN gk b ON a.h = b.h AND a.doc_id < b.doc_id
             |), isl AS (
             |  SELECT id_a, id_b, delta, pa, pb,
             |    pa - row_number() OVER (PARTITION BY id_a, id_b, delta ORDER BY pa) AS grp
             |  FROM m
             |), sp2 AS MATERIALIZED (
             |  SELECT id_a, id_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
             |         MAX(pa) - MIN(pa) + 4 AS span_len
             |  FROM isl GROUP BY id_a, id_b, delta, grp
             |  HAVING MAX(pa) - MIN(pa) + 4 >= 8
             |), iv AS (
             |  SELECT DISTINCT id_a, id_b, start_b AS s, start_b + span_len AS e FROM sp2
             |), i2 AS (
             |  SELECT id_a, id_b, s, e,
             |    CASE WHEN max(e) OVER (PARTITION BY id_a, id_b ORDER BY s, e
             |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             |           OR s > max(e) OVER (PARTITION BY id_a, id_b ORDER BY s, e
             |                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |         THEN 1 ELSE 0 END AS ni
             |  FROM iv
             |), i3 AS (
             |  SELECT id_a, id_b, s, e,
             |    SUM(ni) OVER (PARTITION BY id_a, id_b ORDER BY s, e
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM i2
             |), cb AS (
             |  SELECT id_a, id_b, SUM(c) AS covered_b FROM (
             |    SELECT id_a, id_b, island, MAX(e) - MIN(s) AS c FROM i3 GROUP BY 1, 2, 3) q
             |  GROUP BY 1, 2
             |), nt AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n FROM toks),
             |pairs AS (
             |  SELECT id_a, id_b FROM cb JOIN nt ON nt.doc_id = id_b
             |  WHERE covered_b * 2 >= n * 1
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
             |  COALESCE(l4.label, d.doc_id) AS canonical_id,
             |  COALESCE(l4.label, d.doc_id) = d.doc_id AS is_canonical
             |FROM documents d LEFT JOIN l4 ON l4.node = d.doc_id""".stripMargin),
      "span-coverage drop verdict: CC over >=1/2-covered pairs, min-id survivor"
    ),

    // ---- fuzzy incremental dedup against a PERSISTED signature index:
    //      the daily-ingest twin of q_dedup_incremental at near-dup
    //      sensitivity — the snapshot's LSH band keys are written to a
    //      parquet artifact, reloaded, and the delta batch bands only
    //      ITSELF against the reloaded index (O(delta) signature work per
    //      ingest; the snapshot never re-shingles). The banding is fully
    //      deterministic, so the oracle replays both sides' lanes and the
    //      split predicate exactly ----
    "dedup_incremental_fuzzy" -> QueryDef(
      (s, d) => {
        Scratch.withDir(s, "lshindex") { dir =>
          // result materializes (eager checkpoint) inside
          // lshIncrementalCandidates — the scratch delete never races a
          // lazy consumer of the index files
          graft.ops.Dedup.lshIncrementalCandidates(
            t(s, d, "documents"), "doc_id", "text",
            isNewCol = graft.ops.Sampling.hashBucket(col("doc_id"), "inc", 100) >= 80,
            indexDir = dir)
        }
      },
      Some(s"""WITH ${minhashCtes(64, 16)},
              |flags AS (
              |  SELECT doc_id,
              |    CAST(('0x' || substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 >= 80 AS is_new
              |  FROM documents)
              |SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_snap
              |FROM bnd n
              |JOIN flags fn ON fn.doc_id = n.doc_id AND fn.is_new
              |JOIN bnd o ON o.band = n.band AND o.bh = n.bh
              |JOIN flags fo ON fo.doc_id = o.doc_id AND NOT fo.is_new""".stripMargin),
      "fuzzy incremental dedup: delta LSH bands joined against the persisted snapshot signature index"
    ),

    // ---- WITHIN-document repetition removal: the local pass of the
    //      CCNet/Gopher repetition family (dedup_paragraph is the
    //      corpus-wide twin) — 8-token chunks repeating an earlier chunk
    //      of the SAME doc are excised, first occurrence kept in order.
    //      The 100 TB dream shape: ONE codegen'd projection over the
    //      scan — zero shuffle, zero joins, no aggregation state ----
    "dedup_paragraph_local" -> QueryDef(
      (s, d) =>
        graft.ops.Dedup.chunkDedupLocal(t(s, d, "documents"), "doc_id", "text", chunkTokens = 8),
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(
             |    trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    list_transform(generate_series(1, CAST(ceil(len(ts) / 8.0) AS INT)),
             |      i -> array_to_string(ts[(i-1)*8 + 1 : (i-1)*8 + 8], ' ')) AS chunks
             |  FROM d),
             |k AS (
             |  SELECT doc_id, chunks,
             |    list_filter(chunks, (x, i) -> list_position(chunks, x) = i) AS kept
             |  FROM c)
             |SELECT doc_id,
             |  CAST(len(chunks) AS BIGINT) AS total_chunks,
             |  CAST(len(kept) AS BIGINT) AS kept_chunks,
             |  array_to_string(kept, ' ') AS cleaned_text
             |FROM k""".stripMargin),
      "within-doc repeated-chunk excision (first occurrence kept): one map-only projection, zero shuffle"
    ),

    // ---- fuzzy-dedup index APPEND: two consecutive ingests against ONE
    //      persisted LSH band-key artifact. Day-1 bands only itself and
    //      joins the snapshot index, then its keys are APPENDED to the
    //      artifact; day-2 repeats against the GROWN index, so its
    //      candidates reach back to snapshot ∪ day-1 without any rebuild.
    //      The oracle replays rebuilt-from-scratch banding semantics over
    //      the full corpus (each day vs every earlier lane), so a green
    //      row PROVES index-after-append ≡ rebuilt-from-scratch — band
    //      keys are a pure per-document function of (text, params), and
    //      the params ride the artifact (ArtifactParams). Per ingest the
    //      signature work is O(delta); the snapshot is touched only as
    //      the reloaded keys parquet ----
    "dedup_index_append" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val lane = Sampling.hashBucket(col("doc_id"), "inc2", 100)
        Scratch.withDir(s, "lshappend") { dir =>
          Dedup.lshBuildIndex(docs.filter(lane < 60), "doc_id", "text", dir)
          // both ingests materialize eagerly inside lshIngestAppend (the
          // candidate join runs BEFORE that day's keys are absorbed), so
          // the scratch delete never races a lazy consumer
          val day1 = Dedup.lshIngestAppend(docs.filter(lane >= 60 && lane < 80), "doc_id", "text", dir)
          val day2 = Dedup.lshIngestAppend(docs.filter(lane >= 80), "doc_id", "text", dir)
          day1.withColumn("day", lit(1L)).unionByName(day2.withColumn("day", lit(2L)))
        }
      },
      Some(s"""WITH ${minhashCtes(64, 16)},
              |ingest_lanes AS (
              |  SELECT doc_id,
              |    CASE
              |      WHEN CAST(('0x' || substr(md5('inc2:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 60 THEN 0
              |      WHEN CAST(('0x' || substr(md5('inc2:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 1
              |      ELSE 2
              |    END AS lane
              |  FROM documents)
              |SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_snap, CAST(ln.lane AS BIGINT) AS day
              |FROM bnd n
              |JOIN ingest_lanes ln ON ln.doc_id = n.doc_id AND ln.lane >= 1
              |JOIN bnd o ON o.band = n.band AND o.bh = n.bh
              |JOIN ingest_lanes lo ON lo.doc_id = o.doc_id AND lo.lane < ln.lane""".stripMargin),
      "fuzzy-dedup index delta-append: two consecutive ingests absorb into one persisted LSH artifact; oracle replays rebuilt-from-scratch semantics"
    )
  )
}
