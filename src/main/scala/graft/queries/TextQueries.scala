package graft.queries

import graft.ops.{Bpe, TextOps, TokenPack}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text operators over the `documents` fixture: tokenizer statistics,
  * quality signals and classifiers, fingerprints, sparse retrieval, PII,
  * BPE training and inference (char- and byte-level), n-gram language
  * models, and token-ID packing. The BPE and packing oracle CTEs live
  * here.
  */
object TextQueries {
  import Tables.t

  /** Merge-table depth for the BPE and packing registry entries — enough
    * iterations that later merges build ON earlier merged symbols
    * (multi-level units), bounded so the unrolled oracle stays tractable.
    * Declared BEFORE `defs` (object-initialization order: `defs` captures
    * it eagerly).
    */
  private val BpeMerges = 8

  /** Deterministic multibyte plant for the byte-level BPE gate: the
    * fixture corpus is ASCII, so 30% of docs get a suffix containing a
    * 2-byte (é, ü), three 3-byte (日本語) and one 4-byte non-BMP (😀,
    * a Java surrogate PAIR — the case char-level BPE cannot represent)
    * UTF-8 code point; the oracle replays the plant via chr() so the
    * SQL stays pure ASCII. The `text_pii_audit` planting pattern.
    */
  private val MultibytePlant = " café über 日本語 😀tok"

  private val MultibytePlantSql =
    "CASE WHEN doc_id % 10 < 3 THEN text || ' caf' || chr(233) || ' ' || chr(252) || " +
      "'ber ' || chr(26085) || chr(26412) || chr(35486) || ' ' || chr(128512) || 'tok' " +
      "ELSE text END"

  private def plantedMultibyteDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 10 < 3, concat(col("text"), lit(MultibytePlant)))
        .otherwise(col("text")).as("text"))

  /** Context window length for the packing gate — small enough that the
    * sf fixtures produce many windows (boundary arithmetic is the thing
    * under test), shaped exactly like the production 1024/2048.
    */
  private val ContextLen = 128

  /** Context length for the artifact round-trip gate — deliberately ≠
    * [[ContextLen]] so its result set is distinct from
    * `text_pack_sequences` (same tokenizer, different window boundaries).
    */
  private val ArtifactContextLen = 96

  /** Context length for the byte-level packing gate (≠ 128/96 so all
    * three packing gates' result sets are independent).
    */
  private val BytePackContextLen = 112

  val defs: Seq[(String, QueryDef)] = Seq(
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

    // ---- Gopher-style quality gate: word-count / mean-word-length /
    //      stopword / top-token-dominance rules from one token explode,
    //      integer counts + one division per ratio → portable verdicts ----
    "text_gopher_rules" -> QueryDef(
      (s, d) => TextOps.gopherQuality(t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS t
             |  FROM documents
             |), tf AS (SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY 1, 2),
             |d AS (
             |  SELECT doc_id,
             |    CAST(SUM(c) AS BIGINT) AS n_words,
             |    CAST(SUM(c * length(t)) AS BIGINT) AS word_chars,
             |    COUNT(*) AS n_types,
             |    MAX(c) AS top_count,
             |    CAST(SUM(CASE WHEN t IN ('the','a','an','of','and','to','in','is','it','for')
             |             THEN c ELSE 0 END) AS BIGINT) AS n_stop
             |  FROM tf GROUP BY 1)
             |SELECT doc_id, n_words,
             |  CAST(word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
             |  CAST(n_types AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr,
             |  CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_frac,
             |  n_stop,
             |  (n_words BETWEEN 50 AND 100000
             |    AND CAST(word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0
             |    AND n_stop >= 2
             |    AND CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1) AS keep
             |FROM d""".stripMargin),
      "Gopher word-count/word-length/stopword/repetition gate, integer-exact"
    ),

    // ---- hashing-trick linear classifier (fastText-style scoring with
    //      a deterministic md5 weight table): token → 52-bit md5 chunk
    //      mod 4096 bucket → md5-derived integer weight in [-1000,1000],
    //      BIGINT sum per doc — integer-exact in both engines ----
    "text_hash_classifier" -> QueryDef(
      (s, d) => TextOps.hashClassifier(t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(
             |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS t
             |  FROM documents
             |), w AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT) % 4096 AS b
             |  FROM toks
             |), sc AS (
             |  SELECT doc_id,
             |    COUNT(*) AS n_tokens,
             |    SUM(CAST(('0x' || substr(md5('graft-clf:' || CAST(b AS VARCHAR)), 1, 13)) AS BIGINT) % 2001 - 1000) AS score_raw
             |  FROM w GROUP BY 1)
             |-- LEFT JOIN from documents: zero-token docs still get a
             |-- verdict (n_tokens 0, score 0, label false) — the same
             |-- totality the Spark side's per-row HOF fold has
             |SELECT d.doc_id, CAST(COALESCE(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(sc.score_raw, 0) AS BIGINT) AS score_raw,
             |  COALESCE(sc.score_raw, 0) > 0 AS label
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin),
      "hashing-trick linear scorer with md5-derived weights, integer-exact"
    ),

    // ---- vocabulary growth (Heaps-law curve): distinct word BIGRAMS
    //      seen after each 25-doc ingest prefix, from one argmin
    //      (bigram → first doc) + a small cumulative window — the
    //      corpus statistic that forecasts vocab/n-gram-table growth as
    //      data scales (bigrams, because the fixture's unigram vocab
    //      saturates inside the first bucket) ----
    "q_vocab_growth" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), TextOps.normTokens(col("text")).as("__ts"))
          .select(col("doc_id"), explode(TextOps.shinglesFromTokens(col("__ts"), 2)).as("tk"))
        val firstDoc = toks.groupBy("tk").agg(min("doc_id").as("fd"))
        val buckets = firstDoc
          .groupBy(floor(col("fd") / 25).cast("long").as("bucket"))
          .agg(count(lit(1)).as("new_tokens"))
        // the running total is the two-level distributed prefix sum, NOT
        // a bare `sum OVER (ORDER BY bucket)`: the bucket table grows
        // with the corpus (n_docs/25 rows — 100 TB of 4 KB docs is ~1B
        // buckets), so the single-partition window that sizes with the
        // DATA is replaced by per-range local sums + a |partitions|-row
        // offset side; sums are exact integers, order-free.
        // buckets is checkpointed first (r21): globalCumSum's range
        // sampler re-ran the whole explode + two-aggregate chain a
        // second time when fed lazily; the checkpoint is n_docs/25
        // 2-long rows at any scale
        // durability: local by default, reliable under
        // spark.graft.checkpoint.dir (the r22 checkpoint rule in Caching)
        val bucketsM = graft.ops.Caching.eagerCheckpoint(buckets)
        val cum = graft.ops.GlobalRank
          .globalCumSum(
            bucketsM, Seq(col("bucket")), col("new_tokens"), "vocab_size",
            parts = s.sessionState.conf.numShufflePartitions)
        graft.ops.Caching.release(bucketsM)
        cum.select(
          ((col("bucket") + 1) * 25).as("docs_ingested"),
          col("new_tokens"),
          col("vocab_size"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), toks AS (
             |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS tk
             |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i) g
             |), fo AS (SELECT tk, MIN(doc_id) AS fd FROM toks GROUP BY 1),
             |b AS (SELECT CAST(fd // 25 AS BIGINT) AS bucket, COUNT(*) AS new_tokens FROM fo GROUP BY 1)
             |SELECT (bucket + 1) * 25 AS docs_ingested,
             |  CAST(new_tokens AS BIGINT) AS new_tokens,
             |  CAST(SUM(new_tokens) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
             |FROM b""".stripMargin),
      "distinct-vocabulary growth per 25-doc ingest prefix (Heaps curve)"
    ),

    // ---- per-source quality calibration: z-score the hash-classifier
    //      score WITHIN each source (exact integer moments, identical
    //      IEEE formula both engines) — classifier scores from different
    //      feeds become comparable before a global quality cut ----
    "text_quality_calibrated" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val scores = TextOps.hashClassifier(docs, "doc_id", "text")
          .join(docs.select("doc_id", "source"), "doc_id")
          .select(col("doc_id"), col("source"), col("score_raw"))
        val stats = scores
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum(col("score_raw").cast("decimal(38,0)")).cast("double").as("sy"),
            sum((col("score_raw") * col("score_raw")).cast("decimal(38,0)")).cast("double").as("syy"))
        // nullif(sd, 0): a zero-variance source yields NULL z, not NaN/Inf —
        // engine-identical regardless of DuckDB's IEEE-division setting.
        scores
          .join(broadcast(stats), "source")
          .select(
            col("doc_id"), col("source"), col("score_raw"),
            ((col("score_raw").cast("double") - col("sy") / col("n")) /
              nullif(sqrt(col("n") * col("syy") - col("sy") * col("sy")) / col("n"), lit(0.0))).as("z_source"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS t
             |  FROM documents
             |), w AS (
             |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT) % 4096 AS b FROM toks
             |), sc AS (
             |  SELECT doc_id,
             |    SUM(CAST(('0x' || substr(md5('graft-clf:' || CAST(b AS VARCHAR)), 1, 13)) AS BIGINT) % 2001 - 1000) AS score_raw
             |  FROM w GROUP BY 1
             |), sj AS (
             |  -- LEFT JOIN: zero-token docs carry score 0 and stay in
             |  -- their source's moment statistics, as on the Spark side
             |  SELECT d.doc_id, d.source, COALESCE(sc.score_raw, 0) AS score_raw
             |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |), st AS (
             |  SELECT source, COUNT(*) AS n,
             |    CAST(SUM(CAST(score_raw AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(score_raw * score_raw AS DECIMAL(38,0))) AS DOUBLE) AS syy
             |  FROM sj GROUP BY 1)
             |SELECT sj.doc_id, sj.source, CAST(sj.score_raw AS BIGINT) AS score_raw,
             |  (CAST(sj.score_raw AS DOUBLE) - st.sy / st.n) /
             |    nullif(sqrt(st.n * st.syy - st.sy * st.sy) / st.n, 0) AS z_source
             |FROM sj JOIN st USING (source)""".stripMargin),
      "within-source z-scored classifier quality via exact integer moments"
    ),

    // ---- shingle novelty: per doc, the fraction of its distinct word
    //      3-grams whose corpus-wide FIRST owner (min doc id) it is —
    //      "how much new content does this doc add", the contribution
    //      score an ordered-ingest curation pass ranks by. JOIN-FREE
    //      shape: numerators fall out of grouping the per-shingle argmin
    //      frame BY ITS WINNER (no rejoin of the exploded corpus — the
    //      earlier join-back shuffled the shingle stream twice and
    //      spilled 50 GB at sf1), denominators are a per-doc count, and
    //      the final join touches |docs| rows. Shingles shuffle as 52-bit
    //      md5 chunks (8-byte keys, replayed exactly by the oracle), the
    //      same primitive as the LSH band keys. Per-doc distinctness is
    //      taken on the HASH (dropDuplicates after hashing) so both
    //      engines dedupe on the same domain — distincting on the string
    //      here while the oracle distincts on h would diverge on a
    //      within-doc 52-bit collision ----
    "q_shingle_novelty" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val shd = docs
          .select(col("doc_id"), TextOps.tokens(trim(col("text"))).as("__ts"))
          .select(col("doc_id"), explode(TextOps.shinglesFromTokens(col("__ts"), 3)).as("s"))
          .select(col("doc_id"),
            conv(substring(md5(col("s")), 1, 13), 16, 10).cast("long").as("h"))
          .dropDuplicates("doc_id", "h")
        val den = shd.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
        val num = shd.groupBy("h").agg(min("doc_id").as("first_doc"))
          .groupBy(col("first_doc").as("doc_id"))
          .agg(count(lit(1)).as("n_novel"))
        den.join(num, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("n_shingles"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            (coalesce(col("n_novel"), lit(0L)).cast("double") /
              col("n_shingles").cast("double")).as("novelty"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), sh AS (
             |  SELECT DISTINCT doc_id,
             |    CAST(('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 13)) AS BIGINT) AS h
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g
             |), den AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1),
             |fo AS (SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
             |num AS (SELECT first_doc AS doc_id, COUNT(*) AS n_novel FROM fo GROUP BY 1)
             |SELECT den.doc_id,
             |  CAST(den.n_shingles AS BIGINT) AS n_shingles,
             |  CAST(COALESCE(num.n_novel, 0) AS BIGINT) AS n_novel,
             |  CAST(COALESCE(num.n_novel, 0) AS DOUBLE) / den.n_shingles AS novelty
             |FROM den LEFT JOIN num USING (doc_id)""".stripMargin),
      "per-doc fraction of corpus-first n-grams — ordered-ingest novelty"
    ),

    // ---- fixed-point BM25 retrieval: rational idf (the ln argument, a
    //      monotone stand-in — ln itself is libm-dependent) and per-term
    //      contributions quantized to floor(1e9·x) BEFORE the pair sum,
    //      so scoring is an order-free BIGINT aggregation. Expression
    //      tree mirrored verbatim in the oracle ----
    "text_bm25_topk" -> QueryDef(
      (s, d) => TextOps.bm25TopK(t(s, d, "documents"), "doc_id", "text", k = 5, maxDf = 50),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS t
             |  FROM documents
             |), tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
             |st AS (
             |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             |    CAST((SELECT SUM(dl) FROM dl) AS DOUBLE) / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl),
             |kept AS (SELECT t, COUNT(*) AS df_docs FROM tf GROUP BY 1 HAVING COUNT(*) <= 50),
             |sc AS (
             |  SELECT q.doc_id AS qid, c.doc_id AS nid,
             |    SUM(CAST(FLOOR(1000000000.0 * (
             |      (CAST(st.n_docs - k2.df_docs AS DOUBLE) + 0.5) / (CAST(k2.df_docs AS DOUBLE) + 0.5)
             |      * (CAST(c.tf AS DOUBLE) * 2.2)
             |      / (CAST(c.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(d2.dl AS DOUBLE) / st.avgdl))
             |    )) AS BIGINT)) AS score_fp
             |  FROM tf q
             |  JOIN kept k2 ON k2.t = q.t
             |  JOIN tf c ON c.t = q.t AND c.doc_id <> q.doc_id
             |  JOIN dl d2 ON d2.doc_id = c.doc_id, st
             |  GROUP BY 1, 2)
             |SELECT qid AS doc_id, nid AS neighbor_id,
             |  CAST(score_fp AS BIGINT) AS score_fp, CAST(rank AS BIGINT) AS rank
             |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, nid) AS rank FROM sc)
             |WHERE rank <= 5""".stripMargin),
      "BM25-weighted top-k lexical neighbors, fixed-point and order-free"
    ),

    // ---- collocation mining: top token pairs by lift (the exp(PMI)
    //      co-occurrence ratio n_ab·N / (n_a·n_b)) over per-doc distinct
    //      tokens with a minimum support. All counts exact integers; the
    //      one division is deterministic IEEE; the global top-20 plans as
    //      a per-partition TakeOrdered merge, not a full sort ----
    "q_token_lift" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        // deliberately NOT a single-pass substrate: the r21 scan audit
        // flagged 4 executed corpus scans (the aliased self-join sides
        // are not identical subtrees, so exchange reuse cannot collapse
        // them), but materializing the token frame once was MEASURED
        // 2.7× WORSE at sf10 (10.8 → 29.5 s median-of-3) — the substrate
        // EXPANDS ~10× under the distinct-token explode, so the
        // checkpoint write+read dwarfs the three saved re-tokenizations.
        // The multi-scan lazy form is the right shape for an exploding
        // substrate; contrast incrementalVerdicts/semanticDedup, whose
        // substrates are row-preserving projections and DO persist.
        val toks = docs.select(
          col("doc_id"),
          explode(array_distinct(TextOps.normTokens(col("text")))).as("t"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val dfq = toks.groupBy("t").agg(count(lit(1)).as("n_t"))
        val pr = toks.select(col("doc_id"), col("t").as("ta"))
          .join(toks.select(col("doc_id"), col("t").as("tb")), "doc_id")
          .filter(col("ta") < col("tb"))
          .groupBy("ta", "tb").agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 5)
        val out = pr
          .join(dfq.select(col("t").as("ta"), col("n_t").as("n_a")), "ta")
          .join(dfq.select(col("t").as("tb"), col("n_t").as("n_b")), "tb")
          .crossJoin(broadcast(nDocs))
          .select(
            col("ta").as("token_a"), col("tb").as("token_b"), col("n_ab"),
            (col("n_ab").cast("double") * col("n_docs").cast("double") /
              (col("n_a") * col("n_b")).cast("double")).as("lift"))
          .orderBy(col("lift").desc, col("token_a").asc, col("token_b").asc)
          .limit(20)
        out
      },
      Some("""WITH toks AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS t
             |  FROM documents
             |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
             |dfq AS (SELECT t, COUNT(*) AS n_t FROM toks GROUP BY 1),
             |pr AS (
             |  SELECT a.t AS ta, b.t AS tb, COUNT(*) AS n_ab
             |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.t < b.t
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
             |SELECT ta AS token_a, tb AS token_b, CAST(n_ab AS BIGINT) AS n_ab,
             |  CAST(n_ab AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(da.n_t * db.n_t AS DOUBLE) AS lift
             |FROM pr, n
             |JOIN dfq da ON da.t = ta
             |JOIN dfq db ON db.t = tb
             |ORDER BY lift DESC, token_a, token_b LIMIT 20""".stripMargin),
      "top token-pair collocations by integer-exact lift with min support"
    ),

    // ---- distributed BPE merge training: M deterministic iterations of
    //      pair-count aggregate → argmax collect → codegen re-tokenize.
    //      The oracle replays the ENTIRE training loop (the
    //      ann_ivf_trained_topk pattern): M unrolled CTE blocks, each
    //      re-deriving the greedy-leftmost merge via match-run parity ----
    "text_bpe_train" -> QueryDef(
      (s, d) => Bpe.trainMerges(t(s, d, "documents"), "text", numMerges = BpeMerges),
      Some(bpeOracle(BpeMerges)),
      s"BPE tokenizer training: top-$BpeMerges merges, the full loop oracle-replayed"
    ),

    // ---- BPE tokenizer INFERENCE over the trained table: per-document
    //      whitespace vs BPE token counts (the tokens-per-doc metric
    //      shard/context budgeting runs on). Train → replay merges over
    //      the vocab (chained codegen projections) → ONE corpus token
    //      scan joined to the broadcast word→|symbols| table ----
    "text_bpe_encode" -> QueryDef(
      (s, d) => Bpe.encodeTokenCounts(t(s, d, "documents"), "doc_id", "text", BpeMerges),
      Some(bpeEncodeOracle(BpeMerges)),
      s"per-doc token counts under the trained $BpeMerges-merge BPE vs whitespace tokens"
    ),

    // ---- PII audit: the OBSERVABILITY side of redaction (the redaction
    //      pass itself is `text_pii_scrub`) — per-doc integer
    //      redaction counts per PII class (emails + IPv4, which the scrub
    //      pass lacks) + an exact fingerprint of the scrubbed text.
    //      The fixture corpus carries no PII, so the query PLANTS a
    //      deterministic email+IP suffix on 30% of docs (doc_id-derived,
    //      replayed verbatim by the oracle) — the gate then proves the
    //      scrub removes exactly the planted patterns and nothing else.
    //      Map-only projection: no shuffle at any scale ----
    "text_pii_audit" -> QueryDef(
      (s, d) => {
        val planted = t(s, d, "documents").select(
          col("doc_id"),
          when(col("doc_id") % 10 < 3,
            concat(
              col("text"), lit(" contact: user"), col("doc_id").cast("string"),
              lit("@example.com from 10."), (col("doc_id") % 256).cast("string"),
              lit(".0.1")))
            .otherwise(col("text")).as("text"))
        TextOps.piiAudit(planted, "doc_id", "text")
          .select(
            col("doc_id"), col("n_emails"), col("n_ips"),
            conv(substring(md5(col("scrubbed")), 1, 15), 16, 10)
              .cast("long").as("scrubbed_fp"))
      },
      Some(s"""WITH p AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 10 < 3
              |      THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) ||
              |           '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
              |      ELSE text END AS text
              |  FROM documents)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(text, '${TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
              |  CAST(len(regexp_extract_all(text, '${TextOps.Ipv4Pattern}')) AS BIGINT) AS n_ips,
              |  CAST(('0x' || substr(md5(
              |    regexp_replace(regexp_replace(text, '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
              |      '${TextOps.Ipv4Pattern}', '<IP>', 'g')), 1, 15)) AS BIGINT) AS scrubbed_fp
              |FROM p""".stripMargin),
      "email/IPv4 redaction with planted PII: counts + exact scrubbed-text fingerprint"
    ),

    // ---- BYTE-level BPE training: symbols are hex-coded UTF-8 bytes,
    //      exact on all text incl. non-BMP (planted multibyte suffix —
    //      the fixture corpus is ASCII). Same loop, same oracle replay;
    //      only seq0 changes ----
    "text_bpe_train_bytes" -> QueryDef(
      (s, d) =>
        Bpe.trainMergesBytes(plantedMultibyteDocs(s, d), "text", numMerges = BpeMerges),
      Some(bpeBytesOracle(BpeMerges)),
      s"byte-level BPE training (hex-coded UTF-8 byte symbols) on multibyte-planted text, top-$BpeMerges merges"
    ),

    // ---- tokenizer inference under the BYTE-LEVEL trainer: per-doc
    //      whitespace vs BPE-byte-symbol token counts on the same
    //      multibyte-planted corpus — the production tokenizer's token
    //      budget, exact on non-BMP text ----
    "text_bpe_encode_bytes" -> QueryDef(
      (s, d) =>
        Bpe.encodeTokenCountsBytes(
          plantedMultibyteDocs(s, d), "doc_id", "text", numMerges = BpeMerges),
      Some(bpeEncodeBytesOracle(BpeMerges)),
      s"per-doc token counts under the byte-level top-$BpeMerges-merge BPE tokenizer (multibyte-planted text)"
    ),

    // ---- add-1-smoothed bigram LM perplexity scoring in EXACT
    //      arithmetic: integer bit costs via bitlen(den div num) - 1 =
    //      floor(log2(1/p)) (no math-library log anywhere), fixed-point
    //      probabilities in DECIMAL/HUGEINT, one final IEEE-exact double
    //      division — the CCNet-style quality filter the curation stack
    //      was missing ----
    "text_lm_perplexity" -> QueryDef(
      (s, d) => TextOps.lmPerplexity(t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), bt AS (
             |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg, ts[i] AS w1
             |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i) g
             |), bgc AS (SELECT bg, COUNT(*) AS c12 FROM bt GROUP BY 1),
             |ctx AS (SELECT split_part(bg, ' ', 1) AS cw, SUM(c12) AS c1 FROM bgc GROUP BY 1),
             |vv AS (SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(ts) AS t FROM d)),
             |sc AS (
             |  SELECT bt.doc_id, (c12 + 1) AS num, (c1 + v) AS den
             |  FROM bt JOIN bgc USING (bg) JOIN ctx ON ctx.cw = bt.w1, vv)
             |SELECT doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(length(bin(den // num)) - 1) AS BIGINT) AS nll_bits,
             |  CAST(SUM(CAST(num AS HUGEINT) * 1000000000000 // den) AS BIGINT) AS sum_p_fp,
             |  CAST(SUM(length(bin(den // num)) - 1) AS DOUBLE) / COUNT(*) AS avg_bits
             |FROM sc GROUP BY 1""".stripMargin),
      "add-1 bigram LM scoring: exact integer bit costs + fixed-point probabilities per doc"
    ),

    // ---- the two-frame (train/score) form: model FROZEN on the 90%
    //      training split, the held-out 10% scored under it — the
    //      production CCNet shape (self-scoring can't flag text as
    //      unlike the reference corpus). Unseen bigrams LEFT-join to
    //      c12=0; unseen contexts floor at the add-1 uniform 1/V; V is
    //      the MODEL vocabulary ----
    "text_lm_ppl_holdout" -> QueryDef(
      (s, d) => {
        val split = CurationQueries.splitDocs(s, d)
        TextOps.lmPerplexityScored(
          split.filter(!col("is_bench")),
          split.filter(col("is_bench")),
          "doc_id", "text")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10 AS is_bench,
             |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), mbt AS (
             |  SELECT ts[i] || ' ' || ts[i+1] AS bg
             |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i) g
             |  WHERE NOT is_bench
             |), bgc AS (SELECT bg, COUNT(*) AS c12 FROM mbt GROUP BY 1),
             |ctx AS (SELECT split_part(bg, ' ', 1) AS cw, SUM(c12) AS c1 FROM bgc GROUP BY 1),
             |vv AS (SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(ts) AS t FROM d WHERE NOT is_bench)),
             |st AS (
             |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg, ts[i] AS w1
             |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i) g
             |  WHERE is_bench
             |), sc AS (
             |  SELECT st.doc_id, (COALESCE(c12, 0) + 1) AS num, (COALESCE(c1, 0) + v) AS den
             |  FROM st LEFT JOIN bgc USING (bg) LEFT JOIN ctx ON ctx.cw = st.w1, vv)
             |SELECT doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(length(bin(den // num)) - 1) AS BIGINT) AS nll_bits,
             |  CAST(SUM(CAST(num AS HUGEINT) * 1000000000000 // den) AS BIGINT) AS sum_p_fp,
             |  CAST(SUM(length(bin(den // num)) - 1) AS DOUBLE) / COUNT(*) AS avg_bits
             |FROM sc GROUP BY 1""".stripMargin),
      "held-out perplexity: add-1 bigram model frozen on the training split, 10% slice scored under it"
    ),

    // ---- interpolated Kneser-Ney (d = 3/4) in exact integer arithmetic
    //      over the common denominator 4*c1*B: discounted seen mass +
    //      continuation backoff (N1m = how many distinct contexts a word
    //      follows). Sums to 1 per context by construction ----
    "text_lm_kn_perplexity" -> QueryDef(
      (s, d) => TextOps.lmKnPerplexity(t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), bt AS (
             |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg
             |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i) g
             |), bgc AS (SELECT bg, COUNT(*) AS c12 FROM bt GROUP BY 1),
             |ctx AS (SELECT split_part(bg, ' ', 1) AS cw, SUM(c12) AS c1, COUNT(*) AS n1p FROM bgc GROUP BY 1),
             |cont AS (SELECT split_part(bg, ' ', 2) AS vw, COUNT(*) AS n1m FROM bgc GROUP BY 1),
             |bb AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM bgc),
             |sc AS (
             |  SELECT bt.doc_id,
             |    (4 * CAST(c12 AS HUGEINT) - 3) * b + 3 * CAST(n1p AS HUGEINT) * n1m AS num,
             |    4 * CAST(c1 AS HUGEINT) * b AS den
             |  FROM bt JOIN bgc USING (bg)
             |  JOIN ctx ON ctx.cw = split_part(bt.bg, ' ', 1)
             |  JOIN cont ON cont.vw = split_part(bt.bg, ' ', 2), bb)
             |SELECT doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(length(bin(CAST(den // num AS BIGINT))) - 1) AS BIGINT) AS nll_bits,
             |  CAST(SUM(num * 1000000000000 // den) AS BIGINT) AS sum_p_fp,
             |  CAST(SUM(length(bin(CAST(den // num AS BIGINT))) - 1) AS DOUBLE) / COUNT(*) AS avg_bits
             |FROM sc GROUP BY 1""".stripMargin),
      "interpolated Kneser-Ney bigram scoring (d=3/4): exact integer discount + continuation backoff"
    ),

    // ---- token-ID sequences + fixed-context packing: train the BPE,
    //      tokenize IN PLACE (per-doc id arrays in one projection — the
    //      bounded merge table + symbol-id map ship to the executors;
    //      id 0 = separator, alphabet 1..A in binary order, merged =
    //      A + merge_rank), concatenate in doc order via a
    //      doc-count-sized distributed prefix sum, chop into 128-token
    //      windows. The oracle replays the id assignment and the packing
    //      arithmetic exactly, down to a per-window content
    //      fingerprint ----
    "text_pack_sequences" -> QueryDef(
      (s, d) =>
        TokenPack.packTokenWindows(
          t(s, d, "documents"), "doc_id", "text",
          numMerges = BpeMerges, contextLen = ContextLen),
      Some(packOracle(BpeMerges, ContextLen)),
      s"BPE token-id packing into $ContextLen-token training windows with per-window content fingerprints"
    ),

    // ---- BYTE-LEVEL token packing: the packTokenWindows escape hatch
    //      for corpora beyond the BMP — training, symbol-id assignment
    //      and per-token inference all on hex-coded UTF-8 byte symbols,
    //      exact on non-BMP text (the multibyte-planted corpus: é, ü,
    //      日本語 and the surrogate-pair 😀 the char-level splitter
    //      cannot represent). Window length 112 keeps the result set
    //      independent of the char-level gates ----
    "text_pack_sequences_bytes" -> QueryDef(
      (s, d) =>
        TokenPack.packTokenWindows(
          plantedMultibyteDocs(s, d), "doc_id", "text",
          numMerges = BpeMerges, contextLen = BytePackContextLen, byteLevel = true),
      Some(packOracle(
        BpeMerges, BytePackContextLen,
        textSql = MultibytePlantSql,
        seq0Sql = ByteSeq0Sql)),
      s"byte-level BPE token-id packing ($BytePackContextLen-token windows) on multibyte-planted text — exact beyond the BMP"
    ),

    // ---- tokenizer-artifact round-trip: train the BPE ONCE, persist
    //      the merge table + symbol-id map as a parquet artifact, reload
    //      it (a fresh read — nothing survives from the training plan),
    //      and pack the corpus under the RELOADED tokenizer. The oracle
    //      replays the full in-job training path, so a green row proves
    //      save → load → pack ≡ train → pack — the production deployment
    //      contract: the tokenizer ships as an artifact, training never
    //      reruns. Window length 96 ≠ text_pack_sequences' 128, so the
    //      two gates' result sets are independent ----
    "text_bpe_artifact_roundtrip" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        Scratch.withDir(s, "tokenizer") { dir =>
          val (merges, symIds) = TokenPack.trainTokenizer(docs, "text", BpeMerges)
          TokenPack.saveTokenizer(s, dir, merges, symIds)
          // pack under the RELOADED artifact via the validated entry
          // point (merges + symbol ids + byteLevel all come from the
          // artifact, params checked on load); the result materializes
          // (eager checkpoint) inside packTokenWindowsWith, so the
          // cleanup can never yank files from under a lazy consumer
          TokenPack.packTokenWindowsWithArtifact(docs, "doc_id", "text", dir, ArtifactContextLen)
        }
      },
      Some(packOracle(BpeMerges, ArtifactContextLen)),
      s"tokenizer artifact round-trip: persist+reload the trained BPE, pack $ArtifactContextLen-token windows under the reloaded artifact"
    ),

    // ---- frozen-model Kneser-Ney holdout scoring: the production
    //      decontam/quality filter — the 10% md5 slice scored under the
    //      interpolated-KN model trained on the other 90%, exact integer
    //      arithmetic, every unseen-event case pinned (unseen bigram →
    //      pure continuation term; unseen context → add-1 continuation
    //      distribution; per-event floor at the uniform 1/(B+V)) ----
    "text_lm_kn_holdout" -> QueryDef(
      (s, d) => {
        val split = t(s, d, "documents").select(
          col("doc_id"),
          (conv(substring(md5(concat(lit("bench:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 100 < 10).as("is_bench"),
          col("text"))
        TextOps.lmKnPerplexityScored(
          split.filter(!col("is_bench")),
          split.filter(col("is_bench")),
          "doc_id", "text")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10 AS is_bench,
             |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), mbt AS (
             |  SELECT ts[i] || ' ' || ts[i+1] AS bg
             |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i) g
             |  WHERE NOT is_bench
             |), bgc AS (SELECT bg, COUNT(*) AS c12 FROM mbt GROUP BY 1),
             |ctx AS (SELECT split_part(bg, ' ', 1) AS cw, SUM(c12) AS c1, COUNT(*) AS n1p FROM bgc GROUP BY 1),
             |cont AS (SELECT split_part(bg, ' ', 2) AS vw, COUNT(*) AS n1m FROM bgc GROUP BY 1),
             |bb AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM bgc),
             |vv AS (SELECT CAST(COUNT(DISTINCT t) AS HUGEINT) AS v FROM (SELECT unnest(ts) AS t FROM d WHERE NOT is_bench)),
             |st AS (
             |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg, ts[i] AS w1, ts[i+1] AS w2
             |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i) g
             |  WHERE is_bench
             |), sc AS (
             |  SELECT st.doc_id,
             |    CASE
             |      WHEN c1 IS NULL THEN CAST(COALESCE(n1m, 0) + 1 AS HUGEINT)
             |      WHEN (CASE WHEN c12 IS NULL THEN CAST(0 AS HUGEINT) ELSE CAST(4 * c12 - 3 AS HUGEINT) END) * (b + v)
             |           + CAST(3 * n1p AS HUGEINT) * (COALESCE(n1m, 0) + 1) < CAST(4 * c1 AS HUGEINT)
             |        THEN CAST(1 AS HUGEINT)
             |      ELSE (CASE WHEN c12 IS NULL THEN CAST(0 AS HUGEINT) ELSE CAST(4 * c12 - 3 AS HUGEINT) END) * (b + v)
             |           + CAST(3 * n1p AS HUGEINT) * (COALESCE(n1m, 0) + 1)
             |    END AS num,
             |    CASE
             |      WHEN c1 IS NULL THEN b + v
             |      WHEN (CASE WHEN c12 IS NULL THEN CAST(0 AS HUGEINT) ELSE CAST(4 * c12 - 3 AS HUGEINT) END) * (b + v)
             |           + CAST(3 * n1p AS HUGEINT) * (COALESCE(n1m, 0) + 1) < CAST(4 * c1 AS HUGEINT)
             |        THEN b + v
             |      ELSE CAST(4 * c1 AS HUGEINT) * (b + v)
             |    END AS den
             |  FROM st LEFT JOIN bgc USING (bg)
             |  LEFT JOIN ctx ON ctx.cw = st.w1
             |  LEFT JOIN cont ON cont.vw = st.w2, bb, vv)
             |SELECT doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(length(bin(CAST(den // num AS BIGINT))) - 1) AS BIGINT) AS nll_bits,
             |  CAST(SUM(num * 1000000000000 // den) AS BIGINT) AS sum_p_fp,
             |  CAST(SUM(length(bin(CAST(den // num AS BIGINT))) - 1) AS DOUBLE) / COUNT(*) AS avg_bits
             |FROM sc GROUP BY 1""".stripMargin),
      "held-out Kneser-Ney perplexity: frozen d=3/4 model, pinned unseen-event backoff + uniform floor"
    ),

    // ---- DOCUMENT-INTACT shelf bin packing (the r19 verdict's
    //      best-fit-packing ask, distributed form): whole docs packed
    //      into fixed 80-token windows via harmonic classes — class
    //      k = ⌊L/m⌋ pieces sort (m desc, doc_id, piece) and land k per
    //      bin, so per-bin padding is < L/(k+1) by construction. The
    //      sequential best-fit-decreasing loop this approximates is a
    //      driver-side anti-pattern at any scale; the shelf assignment
    //      is ONE ranged sort (GlobalRank) + a ≤L-row broadcast of class
    //      offsets. Window length 80 ≠ 128/96/112 keeps this gate's
    //      result set independent of the three stream-cut gates ----
    "text_pack_bins" -> QueryDef(
      (s, d) =>
        graft.ops.TokenPack.packBins(
          t(s, d, "documents"), "doc_id", "text", numMerges = 8, contextLen = 80),
      Some(s"""WITH ${packIdCtes(8)},
              |dseq AS (SELECT doc_id, list(id ORDER BY tpos, spos) AS ids FROM stream GROUP BY 1),
              |pieces AS (
              |  SELECT doc_id, j.p AS pidx,
              |    ids[CAST(j.p * 80 + 1 AS BIGINT) : CAST(least((j.p + 1) * 80, len(ids)) AS BIGINT)] AS piece
              |  FROM dseq, LATERAL (SELECT unnest(generate_series(0, (len(ids) - 1) // 80)) AS p) j),
              |cls AS (
              |  SELECT doc_id, pidx, piece, len(piece) AS m, 80 // len(piece) AS k FROM pieces),
              |rnk AS (
              |  SELECT doc_id, pidx, piece, m, k,
              |    row_number() OVER (PARTITION BY k ORDER BY m DESC, doc_id, pidx) - 1 AS r
              |  FROM cls),
              |binned AS (
              |  SELECT k, r // k AS bin, r, m,
              |    array_to_string(list_transform(piece, x -> CAST(x AS VARCHAR)), ',') AS ps
              |  FROM rnk)
              |SELECT CAST(k AS BIGINT) AS bin_class, CAST(bin AS BIGINT) AS bin,
              |  CAST(COUNT(*) AS BIGINT) AS n_pieces, CAST(SUM(m) AS BIGINT) AS n_tokens,
              |  CAST(80 - SUM(m) AS BIGINT) AS padding,
              |  CAST(('0x' || substr(md5(string_agg(ps, ',' ORDER BY r)), 1, 15)) AS BIGINT) AS content_fp
              |FROM binned GROUP BY 1, 2""".stripMargin),
      "document-intact shelf bin packing into 80-token windows: harmonic classes, distributed rank, padding < L/(k+1) per bin"
    )
  )

  /** DuckDB replay of [[graft.ops.Bpe.trainMerges]]: vocab + initial
    * char sequences, then per iteration (unrolled — oracle SQL is
    * static): pair counts weighted by freq, argmax with the pair-string
    * tiebreak, and the greedy-leftmost merge. Greedy replay: a match at
    * position j overlaps the match at j-1 only inside a run of identical
    * pairs, and greedy keeps exactly the EVEN OFFSETS within each
    * maximal match run (gaps-and-islands + offset parity); a kept match
    * consumes position j+1 (the lag filter). `seq$i`/`m$i` are
    * MATERIALIZED: DuckDB inlines CTEs by default, and each iteration
    * references the previous sequence frame twice — inlined, the plan
    * tree doubles per iteration (2^M blowup; measured as a multi-minute
    * hang at M=8).
    */
  /** The shared training-replay CTE chain (vocab → seq0 → per-iteration
    * blocks up to seq`m`), consumed by both BPE oracles.
    */
  private def bpeCtes(m: Int, textSql: String, seq0Sql: String): String = {
    val iters = (1 to m).map { i =>
      val prev = s"seq${i - 1}"
      s"""p$i AS (
         |  SELECT s[j] || ' ' || s[j+1] AS pair, SUM(freq) AS cnt
         |  FROM $prev, LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS j) t$i
         |  GROUP BY 1),
         |m$i AS MATERIALIZED (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1),
         |x$i AS (
         |  SELECT w, freq, j, s[j] AS sym,
         |    COALESCE(j < len(s) AND s[j] || ' ' || s[j+1] = (SELECT pair FROM m$i), false) AS mt
         |  FROM $prev, LATERAL (SELECT unnest(generate_series(1, len(s))) AS j) u$i),
         |r$i AS (
         |  SELECT w, freq, j, sym, mt,
         |    CASE WHEN mt THEN j - ROW_NUMBER() OVER (PARTITION BY w, mt ORDER BY j) END AS grp
         |  FROM x$i),
         |k$i AS (
         |  SELECT w, freq, j, sym,
         |    (mt AND (j - MIN(j) OVER (PARTITION BY w, grp)) % 2 = 0) AS take
         |  FROM r$i),
         |c$i AS (
         |  SELECT w, freq, j, sym, take,
         |    COALESCE(lag(take) OVER (PARTITION BY w ORDER BY j), false) AS consumed
         |  FROM k$i),
         |seq$i AS MATERIALIZED (
         |  SELECT w, freq,
         |    list(CASE WHEN take THEN (SELECT replace(pair, ' ', '') FROM m$i) ELSE sym END ORDER BY j)
         |      FILTER (WHERE NOT consumed) AS s
         |  FROM c$i GROUP BY w, freq)""".stripMargin
    }.mkString(",\n")
    s"""v AS (
       |  SELECT t AS w, COUNT(*) AS freq FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(trim($textSql), '\\s+'), x -> x <> '')) AS t
       |    FROM documents) GROUP BY 1),
       |seq0 AS (SELECT w, freq, $seq0Sql AS s FROM v),
       |$iters""".stripMargin
  }

  /** Char-level seq0: unicode code points + the end-of-word marker. */
  private def CharSeq0Sql: String = "list_append(regexp_split_to_array(w, ''), '</w>')"

  /** Byte-level seq0: the word's UTF-8 bytes as 2-hex-digit symbols
    * (`hex(encode(w))` is uppercase on both engines, sliced into pairs)
    * + the end-of-word marker — replays
    * [[graft.ops.Bpe.initialByteSeqs]].
    */
  private def ByteSeq0Sql: String =
    "list_append(list_transform(generate_series(1, length(hex(encode(w))) // 2), " +
      "i -> substr(hex(encode(w)), i * 2 - 1, 2)), '</w>')"

  private def mergeRowsSql(m: Int): String =
    (1 to m).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_rank,
         |  split_part(pair, ' ', 1) AS sym_a, split_part(pair, ' ', 2) AS sym_b,
         |  replace(pair, ' ', '') AS merged, CAST(cnt AS BIGINT) AS pair_count FROM m$i""".stripMargin
    }.mkString("\nUNION ALL\n")

  private def bpeOracle(m: Int): String =
    s"""WITH ${bpeCtes(m, "text", CharSeq0Sql)}
       |${mergeRowsSql(m)}""".stripMargin

  private def bpeBytesOracle(m: Int): String =
    s"""WITH ${bpeCtes(m, MultibytePlantSql, ByteSeq0Sql)}
       |${mergeRowsSql(m)}""".stripMargin

  /** Encode oracle: the same training replay, then per-document token
    * counts — whitespace tokens joined to the trained word → |symbols|
    * table.
    */
  private def bpeEncodeOracle(m: Int): String =
    bpeEncodeOracleFor(m, "text", CharSeq0Sql)

  private def bpeEncodeBytesOracle(m: Int): String =
    bpeEncodeOracleFor(m, MultibytePlantSql, ByteSeq0Sql)

  private def bpeEncodeOracleFor(m: Int, textSql: String, seq0Sql: String): String =
    s"""WITH ${bpeCtes(m, textSql, seq0Sql)},
       |wl AS (SELECT w, len(s) AS n_sym FROM seq$m),
       |dt AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(trim($textSql), '\\s+'), x -> x <> '')) AS w
       |  FROM documents)
       |SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_ws,
       |  CAST(SUM(n_sym) AS BIGINT) AS n_tokens_bpe
       |FROM dt JOIN wl USING (w) GROUP BY 1""".stripMargin

  /** DuckDB replay of [[graft.ops.TokenPack.packTokenWindows]]: the
    * BPE training-replay CTE chain, then symbol-id assignment (alphabet
    * by binary order, merged ids by rank, MIN on string collisions), the
    * (doc, token pos, symbol pos)-ordered id stream with one separator
    * row per document, and the `row_number div contextLen` window roll-up.
    */
  private def packOracle(
      m: Int,
      contextLen: Int,
      textSql: String = "text",
      seq0Sql: String = CharSeq0Sql): String =
    s"""WITH ${packIdCtes(m, textSql, seq0Sql)},
       |pos AS (
       |  SELECT id, row_number() OVER (ORDER BY doc_id, tpos, spos) - 1 AS g
       |  FROM stream)
       |SELECT CAST(g // $contextLen AS BIGINT) AS window_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seps,
       |  CAST(('0x' || substr(md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY g)), 1, 15)) AS BIGINT) AS content_fp
       |FROM pos GROUP BY 1""".stripMargin

  /** The shared id-assignment CTE prefix of every packing oracle: BPE
    * training replay ([[bpeCtes]]), symbol-id assignment
    * (alphabet in binary order + merge ranks, min-id on collisions), and
    * the per-document token-id `stream(doc_id, tpos, spos, id)` with one
    * trailing separator row per document. Emitted WITHOUT the leading
    * `WITH`, so callers append their own packing CTEs.
    */
  private def packIdCtes(
      m: Int,
      textSql: String = "text",
      seq0Sql: String = CharSeq0Sql): String = {
    val msym = (1 to m)
      .map(i => s"SELECT replace(pair, ' ', '') AS sym, (SELECT COUNT(*) FROM alpha) + $i AS id FROM m$i")
      .mkString("\n  UNION ALL\n  ")
    s"""${bpeCtes(m, textSql, seq0Sql)},
       |alpha AS (SELECT DISTINCT sym FROM (SELECT unnest(s) AS sym FROM seq0)),
       |aids AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS id FROM alpha),
       |msym AS (
       |  $msym
       |),
       |sid AS (
       |  SELECT sym, MIN(id) AS id
       |  FROM (SELECT sym, id FROM aids UNION ALL SELECT sym, CAST(id AS BIGINT) AS id FROM msym)
       |  GROUP BY 1),
       |wsym AS (
       |  SELECT w, g.i AS spos, s[g.i] AS sym
       |  FROM seq$m, LATERAL (SELECT unnest(generate_series(1, len(s))) AS i) g),
       |wids AS (SELECT w, spos, id FROM wsym JOIN sid USING (sym)),
       |toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim($textSql), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |dt AS (
       |  SELECT doc_id, g.i AS tpos, ts[g.i] AS w
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) g),
       |stream AS (
       |  SELECT d.doc_id, d.tpos, wi.spos, wi.id FROM dt d JOIN wids wi USING (w)
       |  UNION ALL
       |  SELECT doc_id, len(ts) + 1 AS tpos, 0 AS spos, CAST(0 AS BIGINT) AS id FROM toks)""".stripMargin
  }
}
