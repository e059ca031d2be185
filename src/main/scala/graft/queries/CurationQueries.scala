package graft.queries

import graft.ops.{Decontam, Dedup, Multimodal, SpanDedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curation of a training corpus: benchmark decontamination (exact,
  * fuzzy and span-level), split leakage and cross-source leakage,
  * mixture rebalancing and budgets, the composed curation funnels, the
  * per-source corpus report, and multimodal (image, video, audio)
  * decode and near-dup.
  *
  * The held-out "benchmark" set is a deterministic 10% md5 slice of
  * `documents` (the fixture has no external eval suite; the slice gives
  * the oracle an exact replay and the corpus's planted near-duplicates
  * guarantee real 13-gram overlaps across the split boundary). In
  * production the benchmark side is a separate tiny table and the same
  * plan applies verbatim: broadcast its distinct gram set, one corpus
  * scan, anti-join verdicts.
  */
object CurationQueries {
  import Tables.t

  /** GPT-3-style width: 13 consecutive words. */
  private val GramN = 13

  /** `documents` with the benchmark-split flag `is_bench` (the 10% md5
    * slice above); `TextQueries.text_lm_ppl_holdout` scores the same
    * split.
    */
  private[queries] def splitDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id"),
      (conv(substring(md5(concat(lit("bench:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100 < 10).as("is_bench"),
      col("text"))

  private def grams(s: SparkSession, d: String): DataFrame =
    Decontam.gramRows(splitDocs(s, d), "doc_id", "text", col("is_bench"), GramN)

  /** Shared oracle CTEs: tokenize → split flag → distinct 13-gram
    * HASHES (60-bit md5 chunks, matching the Spark side's carry-the-hash
    * scale decision — see [[graft.ops.Decontam.gramRows]]) → benchmark
    * gram set. The md5-slice replay is the `q_*_roundtrip` sampling
    * pattern; the gram formation is the `dedup_ngram_jaccard` shingle
    * replay generalized to width 13 via list slicing.
    */
  private val decontamCtes: String =
    s"""toks AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10 AS is_bench,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents
       |), g AS (
       |  SELECT DISTINCT doc_id, is_bench,
       |    CAST(('0x' || substr(md5(array_to_string(ts[i:i+${GramN - 1}], ' ')), 1, 15)) AS BIGINT) AS s
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - ${GramN - 1}, 0))) AS i) t
       |), bg AS (SELECT DISTINCT s FROM g WHERE is_bench)""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    // train/heldout decontamination: near-dup pairs (LSH-verified = exact
    // pair set) that straddle the deterministic hash split — the overlap
    // a leak-free eval needs removed. Exact-fp contamination is a
    // degenerate case of the same join (the fixture has no exact dups).
    "q_split_contamination" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = DedupQueries.verifiedPairs(s, d)
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
    ),

    // exact-count mixture rebalancing to target language proportions —
    // realized mix is exact (integer-division quotas over the limiting
    // stratum), not just in-expectation like rate-based sampling
    "q_mixture_rebalance" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling
          .rebalanceExact(
            t(s, d, "documents"), "lang", "doc_id", "mix",
            Map("en" -> 40, "zh" -> 15, "es" -> 15, "de" -> 15, "fr" -> 15))
          .select("doc_id", "lang"),
      Some("""WITH c AS (
             |  SELECT lang, COUNT(*) AS cnt FROM documents
             |  WHERE lang IN ('en','zh','es','de','fr') GROUP BY 1),
             |sh AS (SELECT * FROM (VALUES ('en', 40), ('zh', 15), ('es', 15), ('de', 15), ('fr', 15)) AS t(lang, share)),
             |n AS (SELECT min((coalesce(cnt, 0) * 100) // share) AS n FROM sh LEFT JOIN c USING (lang)),
             |k AS (SELECT lang, (n.n * share) // 100 AS k FROM sh, n),
             |r AS (
             |  SELECT doc_id, lang,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents WHERE lang IN ('en','zh','es','de','fr'))
             |SELECT r.doc_id, r.lang FROM r JOIN k USING (lang) WHERE rn <= k""".stripMargin),
      "exact-proportion training-mix rebalancing"
    ),

    // ---- temperature-balanced mixture sampling (alpha = 0.5): per-source
    //      keep rate sqrt(n_min/n_s) up-weights small sources relative to
    //      big ones — the standard multilingual/multi-domain pretraining
    //      rebalance. Rates are sqrt+divide of exact integer counts (both
    //      correctly-rounded IEEE ops → identical doubles on both
    //      engines); keeps are deterministic md5 uniforms, so the sample
    //      is exactly reproducible. One agg + one broadcast join. ----
    "q_mixture_temperature" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
        val nmin = counts.agg(min(col("n_s")).as("n_min"))
        val rates = counts
          .crossJoin(broadcast(nmin))
          .select(
            col("source"),
            (sqrt(col("n_min").cast("double")) / sqrt(col("n_s").cast("double"))).as("keep_rate"))
        val u = conv(substring(md5(concat(lit("mixtemp:"), col("doc_id").cast("string"))), 1, 13), 16, 10)
          .cast("long").cast("double") / lit(4503599627370496.0) // 2^52
        docs
          .join(broadcast(rates), "source")
          .filter(u < col("keep_rate"))
          .select(col("doc_id"), col("source"))
      },
      Some("""WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1),
             |m AS (SELECT MIN(n_s) AS n_min FROM c),
             |r AS (SELECT source, sqrt(CAST(n_min AS DOUBLE)) / sqrt(CAST(n_s AS DOUBLE)) AS keep_rate
             |      FROM c, m)
             |SELECT d.doc_id, d.source
             |FROM documents d JOIN r ON r.source = d.source
             |WHERE CAST(('0x' || substr(md5('mixtemp:' || CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
             |      / 4503599627370496.0 < r.keep_rate""".stripMargin),
      "temperature (alpha=0.5) source rebalance, deterministic md5 keeps"
    ),

    // ---- the curation funnel: Gopher quality gate → hash classifier →
    //      exact dedup → fuzzy (LSH-verified CC) dedup, with cumulative
    //      survivor counts per stage — the observability artifact a
    //      curation run ends with. Pure composition of gates that are
    //      each independently oracle-proven; one extra pass computes all
    //      four per-doc flags and a 5-row rollup ----
    "q_curation_funnel" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        // Left-join from the corpus so stage 0 ("ingest") counts every doc:
        // gopherQuality derives from exploded tokens, so a zero-token doc
        // has no quality row — default it to keep=false instead of silently
        // dropping it from the funnel (totality matches the classifier flag).
        val gq = docs.select("doc_id")
          .join(
            TextOps.gopherQuality(docs, "doc_id", "text")
              .select(col("doc_id"), col("keep").as("__gk")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("__gk"), lit(false)).as("g_quality"))
        val clf = TextOps.hashClassifier(docs, "doc_id", "text")
          .select(col("doc_id"), col("label").as("g_clf"))
        val ex = docs.select(col("doc_id"), md5(col("text")).as("__h"))
        val exKeep = ex.groupBy("__h").agg(min("doc_id").as("__keeper"))
        val g3 = ex.join(exKeep, "__h")
          .select(col("doc_id"), (col("doc_id") === col("__keeper")).as("g_exact"))
        val pairs = DedupQueries.verifiedPairs(s, d)
        val kl = Dedup.keepList(docs, "doc_id", pairs.select("id_a", "id_b"), iterations = 4)
          .select(col("doc_id"), col("is_canonical").as("g_fuzzy"))
        val flags = gq.join(clf, "doc_id").join(g3, "doc_id").join(kl, "doc_id")
        val agg = flags.agg(
          count(lit(1)).as("n0"),
          sum(when(col("g_quality"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("g_quality") && col("g_clf"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("g_quality") && col("g_clf") && col("g_exact"), 1L).otherwise(0L)).as("n3"),
          sum(when(col("g_quality") && col("g_clf") && col("g_exact") && col("g_fuzzy"), 1L)
            .otherwise(0L)).as("n4"))
        agg.select(explode(array(
          struct(lit(0L).as("stage"), lit("ingest").as("stage_name"), col("n0").as("n_docs")),
          struct(lit(1L).as("stage"), lit("quality_gate").as("stage_name"), col("n1").as("n_docs")),
          struct(lit(2L).as("stage"), lit("classifier").as("stage_name"), col("n2").as("n_docs")),
          struct(lit(3L).as("stage"), lit("exact_dedup").as("stage_name"), col("n3").as("n_docs")),
          struct(lit(4L).as("stage"), lit("fuzzy_dedup").as("stage_name"), col("n4").as("n_docs"))
        )).as("r"))
          .select(col("r.stage"), col("r.stage_name"), col("r.n_docs"))
      },
      Some("""WITH gt AS (
             |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS t
             |  FROM documents
             |), gtf AS (SELECT doc_id, t, COUNT(*) AS c FROM gt GROUP BY 1, 2),
             |gd AS (
             |  SELECT doc_id, SUM(c) AS n_words, SUM(c * length(t)) AS wc, MAX(c) AS top_count,
             |    SUM(CASE WHEN t IN ('the','a','an','of','and','to','in','is','it','for') THEN c ELSE 0 END) AS n_stop
             |  FROM gtf GROUP BY 1),
             |gflag AS (
             |  -- LEFT JOIN from documents: a zero-token doc has no gd row;
             |  -- it ingests with g_quality=false rather than vanishing
             |  SELECT d.doc_id,
             |    COALESCE(gd.n_words BETWEEN 50 AND 100000
             |      AND CAST(gd.wc AS DOUBLE) / gd.n_words BETWEEN 3.0 AND 10.0
             |      AND gd.n_stop >= 2
             |      AND CAST(gd.top_count AS DOUBLE) / gd.n_words <= 0.1, FALSE) AS g_quality
             |  FROM documents d LEFT JOIN gd ON gd.doc_id = d.doc_id),
             |ct AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS t
             |  FROM documents),
             |cw AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT) % 4096 AS b FROM ct),
             |csum AS (
             |  SELECT doc_id,
             |    SUM(CAST(('0x' || substr(md5('graft-clf:' || CAST(b AS VARCHAR)), 1, 13)) AS BIGINT) % 2001 - 1000) AS s
             |  FROM cw GROUP BY 1),
             |cflag AS (
             |  -- LEFT JOIN: docs with raw tokens but zero NORMALIZED
             |  -- tokens still reach the funnel (classifier is total on
             |  -- the Spark side; score 0 → label false)
             |  SELECT d.doc_id, COALESCE(csum.s, 0) > 0 AS g_clf
             |  FROM documents d LEFT JOIN csum ON csum.doc_id = d.doc_id),
             |eflag AS (
             |  SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS g_exact
             |  FROM documents),
             |toks AS (
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
             |fflag AS (
             |  SELECT d.doc_id, COALESCE(cc.label, d.doc_id) = d.doc_id AS g_fuzzy
             |  FROM documents d LEFT JOIN l4 cc ON cc.node = d.doc_id),
             |fl AS MATERIALIZED (
             |  -- MATERIALIZED is load-bearing: fl is referenced once per
             |  -- funnel stage below, and inlining would re-run the whole
             |  -- shingle self-join + CC chain five times (observed to
             |  -- exhaust DuckDB temp disk at sf0.1)
             |  SELECT g.doc_id, g.g_quality, c.g_clf, e2.g_exact, f.g_fuzzy
             |  FROM gflag g JOIN cflag c USING (doc_id)
             |  JOIN eflag e2 USING (doc_id) JOIN fflag f USING (doc_id))
             |SELECT CAST(0 AS BIGINT) AS stage, 'ingest' AS stage_name, CAST(COUNT(*) AS BIGINT) AS n_docs FROM fl
             |UNION ALL SELECT 1, 'quality_gate', CAST(COUNT(*) FILTER (WHERE g_quality) AS BIGINT) FROM fl
             |UNION ALL SELECT 2, 'classifier', CAST(COUNT(*) FILTER (WHERE g_quality AND g_clf) AS BIGINT) FROM fl
             |UNION ALL SELECT 3, 'exact_dedup', CAST(COUNT(*) FILTER (WHERE g_quality AND g_clf AND g_exact) AS BIGINT) FROM fl
             |UNION ALL SELECT 4, 'fuzzy_dedup', CAST(COUNT(*) FILTER (WHERE g_quality AND g_clf AND g_exact AND g_fuzzy) AS BIGINT) FROM fl""".stripMargin),
      "per-stage survivor counts through the composed curation pipeline"
    ),

    // ---- UniMax budget allocation: water-fill a 550k-char training
    //      budget across sources, each capped at 4 epochs of its own
    //      units. Closed-form saturated-prefix + integer water level —
    //      no FP in the decision path, windows run over |sources| rows ----
    "q_unimax_budget" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling.unimaxAllocation(
          t(s, d, "documents"), "source", col("n_chars"),
          budget = 550000L, maxEpochs = 4),
      Some("""WITH caps AS (
             |  SELECT source, SUM(n_chars) AS n_units, SUM(n_chars) * 4 AS cap
             |  FROM documents GROUP BY 1),
             |rk AS (
             |  SELECT source, n_units, cap,
             |    row_number() OVER (ORDER BY cap, source) AS i,
             |    SUM(cap) OVER (ORDER BY cap, source ROWS UNBOUNDED PRECEDING) AS p,
             |    COUNT(*) OVER () AS n
             |  FROM caps),
             |fl AS (
             |  SELECT *, CASE WHEN cap * (n - i + 1) <= 550000 - (p - cap) THEN i ELSE 0 END AS sat_i
             |  FROM rk),
             |kk AS (
             |  SELECT MAX(sat_i) AS k,
             |         COALESCE(MAX(CASE WHEN sat_i = i THEN p END), 0) AS pk
             |  FROM fl)
             |SELECT source,
             |  CAST(n_units AS BIGINT) AS n_units,
             |  CAST(cap AS BIGINT) AS cap,
             |  CAST(CASE WHEN i <= k THEN cap ELSE (550000 - pk) // (n - k) END AS BIGINT) AS alloc,
             |  CAST(CASE WHEN i <= k THEN cap ELSE (550000 - pk) // (n - k) END AS DOUBLE) / n_units AS epochs_used
             |FROM fl, kk""".stripMargin),
      "epoch-capped water-filling of a training budget across sources"
    ),

    // ---- cross-source leakage report: verified near-dup pairs rolled up
    //      by unordered source pair — which feeds are copying which. The
    //      pair set is the composed LSH→exact-verify chain (its oracle =
    //      exact Jaccard pairs, proven by dedup_minhash_verified); the
    //      rollup adds two id-keyed joins + one small agg ----
    "q_cross_source_leakage" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = DedupQueries.verifiedPairs(s, d)
        val srcA = docs.select(col("doc_id").as("id_a"), col("source").as("src_a"))
        val srcB = docs.select(col("doc_id").as("id_b"), col("source").as("src_b"))
        pairs.select("id_a", "id_b")
          .join(srcA, "id_a").join(srcB, "id_b")
          .select(
            least(col("src_a"), col("src_b")).as("src_lo"),
            greatest(col("src_a"), col("src_b")).as("src_hi"))
          .groupBy("src_lo", "src_hi")
          .agg(count(lit(1)).as("n_pairs"))
      },
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
             |), vp AS (
             |  SELECT id_a, id_b
             |  FROM pr JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |  WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 4)
             |SELECT least(da.source, db.source) AS src_lo,
             |       greatest(da.source, db.source) AS src_hi,
             |       CAST(COUNT(*) AS BIGINT) AS n_pairs
             |FROM vp JOIN documents da ON da.doc_id = vp.id_a
             |        JOIN documents db ON db.doc_id = vp.id_b
             |GROUP BY 1, 2""".stripMargin),
      "near-dup pair counts by unordered source pair — the leakage matrix"
    ),

    // ---- per-source corpus observability: volume, exact-dup rate, size,
    //      language spread — the report a curation run publishes ----
    "q_corpus_report" -> QueryDef(
      (s, d) =>
        t(s, d, "documents")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_distinct"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("lang")).as("n_langs")
          )
          .select(
            col("source"),
            col("n_docs"),
            col("n_distinct"),
            ((col("n_docs") - col("n_distinct")).cast("double") / col("n_docs").cast("double"))
              .as("dup_rate"),
            (col("sum_chars").cast("double") / col("n_docs").cast("double")).as("avg_chars"),
            col("n_langs")
          ),
      Some("""SELECT source,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
             |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_rate,
             |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
             |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
             |FROM documents GROUP BY 1""".stripMargin),
      "per-source curation report: volume, dup rate, size, language spread"
    ),

    // ---- exact 13-gram benchmark contamination: corpus docs sharing at
    //      least one exact 13-gram with the held-out slice, with the
    //      distinct-gram overlap count as evidence. Broadcast semi-join
    //      shape — the benchmark gram set is tiny at ANY corpus scale ----
    "q_benchmark_decontam" -> QueryDef(
      (s, d) => Decontam.contaminatedDocs(grams(s, d)),
      Some(s"""WITH $decontamCtes
              |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_grams
              |FROM g JOIN bg USING (s) WHERE NOT g.is_bench GROUP BY 1""".stripMargin),
      "corpus docs sharing >=1 exact 13-gram with the benchmark slice, overlap counts as evidence"
    ),

    // ---- the keep-list form (dedup-family contract): one verdict row
    //      per document — held out, contaminated, or kept for training ----
    "q_decontam_keep_list" -> QueryDef(
      (s, d) =>
        Decontam.verdicts(splitDocs(s, d), "doc_id", col("is_bench"), grams(s, d)),
      Some(s"""WITH $decontamCtes,
              |hits AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (s) WHERE NOT g.is_bench)
              |SELECT t.doc_id, t.is_bench,
              |  (t.doc_id IN (SELECT doc_id FROM hits)) AS contaminated,
              |  (NOT t.is_bench AND t.doc_id NOT IN (SELECT doc_id FROM hits)) AS keep
              |FROM toks t""".stripMargin),
      "per-document decontamination verdicts: held-out / contaminated / keep-for-training"
    ),

    // ---- FUZZY benchmark decontamination: the near-dup complement of
    //      the exact 13-gram gate above — paraphrased/format-shifted
    //      eval leakage shares high Jaccard with a benchmark doc without
    //      sharing any verbatim 13-gram. The dedup family's corpus-wide
    //      MinHash-LSH verified-pair build (DedupQueries.verifiedPairs)
    //      restricted to cross-(bench, corpus) pairs; verdicts in the
    //      q_decontam_keep_list contract ----
    "q_decontam_fuzzy" -> QueryDef(
      (s, d) => {
        val flags = splitDocs(s, d).select(col("doc_id"), col("is_bench"))
        val pairs = DedupQueries.verifiedPairs(s, d).select("id_a", "id_b")
        val fa = flags.select(col("doc_id").as("id_a"), col("is_bench").as("bench_a"))
        val fb = flags.select(col("doc_id").as("id_b"), col("is_bench").as("bench_b"))
        // the corpus-side doc of every cross-split verified pair; the
        // pair set is tiny relative to the corpus (near-dups only), so
        // the hit list broadcasts back onto the full verdict frame
        val hits = pairs
          .join(fa, "id_a").join(fb, "id_b")
          .filter(col("bench_a") =!= col("bench_b"))
          .select(when(col("bench_a"), col("id_b")).otherwise(col("id_a")).as("doc_id"))
          .distinct()
          .select(col("doc_id"), lit(true).as("__hit"))
        flags
          .join(hits, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            col("is_bench"),
            coalesce(col("__hit"), lit(false)).as("contaminated"),
            (!col("is_bench") && !coalesce(col("__hit"), lit(false))).as("keep"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10 AS is_bench,
             |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), sh AS (
             |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) g
             |), sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
             |pr AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |), pairs AS (
             |  SELECT id_a, id_b FROM pr
             |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |  WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 4
             |), hits AS (
             |  SELECT DISTINCT CASE WHEN fa.is_bench THEN p.id_b ELSE p.id_a END AS doc_id
             |  FROM pairs p
             |  JOIN toks fa ON fa.doc_id = p.id_a
             |  JOIN toks fb ON fb.doc_id = p.id_b
             |  WHERE fa.is_bench <> fb.is_bench)
             |SELECT t.doc_id, t.is_bench,
             |  (t.doc_id IN (SELECT doc_id FROM hits)) AS contaminated,
             |  (NOT t.is_bench AND t.doc_id NOT IN (SELECT doc_id FROM hits)) AS keep
             |FROM toks t""".stripMargin),
      "near-dup (MinHash-LSH verified) benchmark contamination verdicts per document"
    ),

    // ---- incremental curation funnel: the composed gopher → dedup →
    //      decontam pipeline run as a DELTA against a prior corpus
    //      snapshot — the shape a daily-ingest 100 TB pipeline actually
    //      runs. The snapshot (hash buckets < 80) is touched ONLY as two
    //      bounded indexes: its distinct content-hash set (the
    //      q_dedup_incremental anti-join side) and the fixed benchmark
    //      gram set (broadcast); every corpus-sized stage — token
    //      explode, gram formation, quality aggregate — runs over the
    //      DELTA alone. Old docs' verdicts are structurally unreachable
    //      by the run (CurationOpsSpec pins the invariance), so a daily
    //      delta costs O(delta), not O(corpus). One verdict row per
    //      delta doc: held-out / quality / dup-vs-snapshot-or-delta /
    //      contaminated / keep ----
    "q_curation_incremental" -> QueryDef(
      (s, d) =>
        graft.ops.Curation.incrementalVerdicts(
          t(s, d, "documents"), "doc_id", "text",
          isNewCol = graft.ops.Sampling.hashBucket(col("doc_id"), "inc", 100) >= 80,
          isBenchCol =
            conv(substring(md5(concat(lit("bench:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
              .cast("long") % 100 < 10),
      Some("""WITH docs AS (
             |  SELECT doc_id, text,
             |    CAST(('0x' || substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 >= 80 AS is_new,
             |    CAST(('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10 AS is_bench
             |  FROM documents),
             |gt AS (
             |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS t
             |  FROM docs WHERE is_new),
             |gtf AS (SELECT doc_id, t, COUNT(*) AS c FROM gt GROUP BY 1, 2),
             |gd AS (
             |  SELECT doc_id, SUM(c) AS n_words, SUM(c * length(t)) AS wc, MAX(c) AS top_count,
             |    SUM(CASE WHEN t IN ('the','a','an','of','and','to','in','is','it','for') THEN c ELSE 0 END) AS n_stop
             |  FROM gtf GROUP BY 1),
             |q AS (
             |  SELECT d.doc_id,
             |    COALESCE(gd.n_words BETWEEN 50 AND 100000
             |      AND CAST(gd.wc AS DOUBLE) / gd.n_words BETWEEN 3.0 AND 10.0
             |      AND gd.n_stop >= 2
             |      AND CAST(gd.top_count AS DOUBLE) / gd.n_words <= 0.1, FALSE) AS quality_pass
             |  FROM docs d LEFT JOIN gd USING (doc_id) WHERE d.is_new),
             |h AS (SELECT doc_id, md5(coalesce(text, '')) AS h, is_new FROM docs),
             |dh AS (SELECT doc_id, h FROM h WHERE is_new),
             |snap AS (SELECT DISTINCT h FROM h WHERE NOT is_new),
             |rep AS (SELECT h, MIN(doc_id) AS rep FROM dh GROUP BY 1),
             |dup AS (
             |  SELECT dh.doc_id, (snap.h IS NOT NULL OR dh.doc_id <> rep.rep) AS dup
             |  FROM dh JOIN rep USING (h) LEFT JOIN snap USING (h)),
             |toks AS (
             |  SELECT doc_id, is_bench,
             |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM docs WHERE is_bench OR is_new),
             |g AS (
             |  SELECT DISTINCT doc_id, is_bench,
             |    CAST(('0x' || substr(md5(array_to_string(ts[i:i+12], ' ')), 1, 15)) AS BIGINT) AS gh
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 12, 0))) AS i) t),
             |bg AS (SELECT DISTINCT gh FROM g WHERE is_bench),
             |hits AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gh) WHERE NOT g.is_bench)
             |SELECT d.doc_id, d.is_bench, q.quality_pass, dup.dup,
             |  (d.doc_id IN (SELECT doc_id FROM hits)) AS contaminated,
             |  (NOT d.is_bench AND q.quality_pass AND NOT dup.dup
             |   AND d.doc_id NOT IN (SELECT doc_id FROM hits)) AS keep
             |FROM docs d JOIN q USING (doc_id) JOIN dup USING (doc_id)
             |WHERE d.is_new""".stripMargin),
      "incremental curation: gopher -> dedup-vs-snapshot -> decontam on a delta batch, O(delta) not O(corpus)"
    ),

    // ---- span-level benchmark decontamination: the stricter production
    //      gate — contaminated iff a CONTIGUOUS ≥8-token run is shared
    //      verbatim with a held-out doc (a single 13-gram can be idiom;
    //      a long aligned span is leaked eval text). The span-dedup
    //      island machinery restricted cross-(bench, corpus); keep-list
    //      contract output ----
    "q_decontam_span" -> QueryDef(
      (s, d) =>
        SpanDedup.spanDecontamVerdicts(
          t(s, d, "documents"), "doc_id", "text",
          benchCol = conv(
            substring(md5(concat(lit("bench:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 100 < 10,
          l = 4, minLen = 8, maxGramFreq = 50),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10 AS is_bench,
             |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents
             |), g AS MATERIALIZED (
             |  SELECT doc_id, is_bench, CAST(i AS BIGINT) AS p,
             |    CAST(('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 13)) AS BIGINT) AS h
             |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 3, 0))) AS i) sq
             |), cg AS (
             |  SELECT doc_id, p, h FROM (
             |    SELECT doc_id, p, h, COUNT(*) OVER (PARTITION BY h) AS occ
             |    FROM g WHERE NOT is_bench)
             |  WHERE occ <= 50
             |), m AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, a.p - b.p AS delta
             |  FROM g a JOIN cg b ON b.h = a.h WHERE a.is_bench
             |), isl AS (
             |  SELECT id_a, id_b, delta, pa,
             |    pa - row_number() OVER (PARTITION BY id_a, id_b, delta ORDER BY pa) AS grp
             |  FROM m
             |), hits AS (
             |  SELECT DISTINCT id_b AS doc_id FROM isl
             |  GROUP BY id_a, id_b, delta, grp
             |  HAVING MAX(pa) - MIN(pa) + 4 >= 8)
             |SELECT t.doc_id, t.is_bench,
             |  (t.doc_id IN (SELECT doc_id FROM hits)) AS contaminated,
             |  (NOT t.is_bench AND t.doc_id NOT IN (SELECT doc_id FROM hits)) AS keep
             |FROM toks t""".stripMargin),
      "span-level decontamination: >=8-token contiguous overlap with the benchmark slice, keep-list verdicts"
    ),

    // ---- perceptual-hash image near-dup: the multimodal twin of text
    //      near-dup. A REAL PNG per sampled doc (planted cell pattern;
    //      consecutive shard ids of an even group differ in 3 cells of
    //      one row — a near duplicate; odd groups get an unrelated
    //      second image), decoded back through ImageIO on the executors
    //      (mapPartitions batch shape), 56-bit dHash over integer cell
    //      sums, then the Hamming-band recipe: 4 bands × 14 bits,
    //      same-band-key candidates only (NEVER all-pairs), exact
    //      bit_count(xor) verify ≤ 12. The oracle predicts the planted
    //      pixels arithmetically — the decode gate is real.
    //
    //      COMPLETENESS BOUND (pigeonhole, the simhashNearDupPairs
    //      contract): 4 bands guarantee a clean band — hence a candidate
    //      — only for Hamming ≤ 3. A pair in the 4..12 verify range is
    //      surfaced only if its differing bits leave SOME 14-bit band
    //      untouched; diffs spread across all 4 bands are missed. This is
    //      the deliberate scale trade: guaranteeing Hamming ≤ 12 via
    //      single-band keys needs ≥13 bands of ≤4 bits (≤16 buckets/band
    //      → O(n²/16) candidates — all-pairs in disguise), so the
    //      operator keeps 14-bit keys (16384 buckets, linear candidates)
    //      and documents the probabilistic tail. Empirical tail recall is
    //      measured by RecallProbe's phash_band_recall line (planted
    //      cross-band diffs at each Hamming 4..12); dHash bit locality
    //      (one changed cell touches ≤2 adjacent bits, so small image
    //      edits cluster in one band) keeps real-world recall far above
    //      the adversarial bound. The oracle replays the same banding, so
    //      the gate checks the recipe, not a complete-≤12 contract ----
    "mm_phash_dedup" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "documents")
          .select(col("doc_id").cast("long"))
          .filter(col("doc_id") % 10 === 0)
          .as[Long]
          .repartition(s.sparkContext.defaultParallelism) // CPU-bound decode below
        // decode once, read thrice (two band-join sides + the verify):
        // materialize the hash table rather than re-decoding per branch
        val hashes = ids.mapPartitions { it =>
          it.map { id =>
            val sid = id / 10
            (id, Multimodal.dHash56(Multimodal.synthCellPng(sid / 2, sid % 2)))
          }
        }.toDF("doc_id", "dhash").localCheckpoint(true)
        val cand = Multimodal.dhashBandCandidates(hashes)
        val out = cand
          .join(hashes.select(col("doc_id").as("id_a"), col("dhash").as("ha")), "id_a")
          .join(hashes.select(col("doc_id").as("id_b"), col("dhash").as("hb")), "id_b")
          .select(
            col("id_a"), col("id_b"),
            expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
          .filter(col("hamming") <= 12)
          .select("id_a", "id_b", "hamming")
        graft.ops.Caching.materializeAndRelease(out, hashes)
      },
      Some("""WITH p AS (
             |  SELECT doc_id, (doc_id // 10) // 2 AS grp, (doc_id // 10) % 2 AS vr
             |  FROM documents WHERE doc_id % 10 = 0),
             |cells AS (
             |  SELECT doc_id, vr, grp, ci.i AS ci, cj.j AS cj,
             |    CASE WHEN vr = 1 AND grp % 2 = 1
             |      THEN (grp * 95 + ci.i * 31 + cj.j * 5 + 17) % 251
             |      ELSE (grp * 63 + ci.i * 9 + cj.j) % 251
             |    END AS k
             |  FROM p,
             |  LATERAL (SELECT unnest(generate_series(0, 6)) AS i) ci,
             |  LATERAL (SELECT unnest(generate_series(0, 8)) AS j) cj),
             |cv AS (
             |  SELECT doc_id, ci, cj,
             |    CASE WHEN vr = 1 AND grp % 2 = 0 AND ci = 2 AND cj % 3 = 1
             |      THEN (k * k * k % 251 + 60) % 251
             |      ELSE k * k * k % 251
             |    END AS v
             |  FROM cells),
             |bits AS (
             |  SELECT doc_id, ci, cj,
             |    CASE WHEN lead(v) OVER (PARTITION BY doc_id, ci ORDER BY cj) > v THEN 1 ELSE 0 END AS bit
             |  FROM cv),
             |dh AS (
             |  SELECT doc_id, SUM(CAST(bit AS BIGINT) << (ci * 8 + cj)) AS dhash
             |  FROM bits WHERE cj <= 7 GROUP BY 1),
             |bands AS (
             |  SELECT doc_id, dhash, b.b AS band, (dhash >> (14 * b.b)) & 16383 AS bkey
             |  FROM dh, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) b),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
             |  FROM bands a JOIN bands c ON c.band = a.band AND c.bkey = a.bkey AND a.doc_id < c.doc_id)
             |SELECT id_a, id_b, CAST(bit_count(xor(da.dhash, db.dhash)) AS BIGINT) AS hamming
             |FROM cand
             |JOIN dh da ON da.doc_id = id_a
             |JOIN dh db ON db.doc_id = id_b
             |WHERE bit_count(xor(da.dhash, db.dhash)) <= 12""".stripMargin),
      "perceptual-hash (dHash-56) image near-dup: real PNG decode, Hamming-banded candidates, exact verify"
    ),

    // ---- AUDIO near-dup (r19 verdict #7 — the mm_phash_dedup recipe
    //      over WAV): real JDK decode of planted 912-frame PCM clips →
    //      56-bit sign-of-delta-energy fingerprint → the SAME 4×14-bit
    //      Hamming banding as the image path (fpBandCandidates) → exact
    //      ≤12 verify on candidates only. Same completeness contract as
    //      the image gate: guaranteed candidates at Hamming ≤ 3
    //      (pigeonhole over 4 bands); the planted near-dups perturb ≤ 6
    //      bits confined to bands 0–2, so band 3 always recovers them;
    //      the probabilistic tail is measured by RecallProbe's
    //      audio_band_recall mode. Candidates are Σ_buckets |bucket|² —
    //      NEVER all-pairs. doc_id % 10 == 5 keeps the clip set disjoint
    //      from the image gate's % 10 == 0 ----
    "mm_audio_dedup" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "documents")
          .select(col("doc_id").cast("long"))
          .filter(col("doc_id") % 10 === 5)
          .as[Long]
          .repartition(s.sparkContext.defaultParallelism) // CPU-bound decode below
        // decode once, read thrice (two band-join sides + the verify):
        // materialize the fingerprint table rather than re-decoding
        val fps = ids.mapPartitions { it =>
          it.map { id =>
            val sid = id / 10
            (id, Multimodal.audioFp56(Multimodal.synthToneWav(sid / 2, sid % 2)))
          }
        }.toDF("doc_id", "afp").localCheckpoint(true)
        val cand = Multimodal.fpBandCandidates(fps, "afp")
        val out = cand
          .join(fps.select(col("doc_id").as("id_a"), col("afp").as("fa")), "id_a")
          .join(fps.select(col("doc_id").as("id_b"), col("afp").as("fb")), "id_b")
          .select(
            col("id_a"), col("id_b"),
            expr("bit_count(fa ^ fb)").cast("long").as("hamming"))
          .filter(col("hamming") <= 12)
          .select("id_a", "id_b", "hamming")
        graft.ops.Caching.materializeAndRelease(out, fps)
      },
      Some("""WITH p AS (
             |  SELECT doc_id, (doc_id // 10) // 2 AS grp, (doc_id // 10) % 2 AS vr
             |  FROM documents WHERE doc_id % 10 = 5),
             |wk AS (
             |  SELECT doc_id, grp, vr, wi.w AS w,
             |    CASE WHEN vr = 1 AND grp % 2 = 1
             |      THEN (grp * 95 + wi.w * 37 + 17) % 251
             |      ELSE (grp * 63 + wi.w * 11) % 251
             |    END AS k
             |  FROM p, LATERAL (SELECT unnest(generate_series(0, 56)) AS w) wi),
             |amp AS (
             |  SELECT doc_id, w,
             |    CASE WHEN vr = 1 AND grp % 2 = 0 AND w % 19 = 3
             |      THEN (k * k * k % 251 + 60) % 251
             |      ELSE k * k * k % 251
             |    END AS a
             |  FROM wk),
             |bits AS (
             |  SELECT doc_id, w,
             |    CASE WHEN lead(a) OVER (PARTITION BY doc_id ORDER BY w) > a THEN 1 ELSE 0 END AS bit
             |  FROM amp),
             |fp AS (
             |  SELECT doc_id, SUM(CAST(bit AS BIGINT) << w) AS afp
             |  FROM bits WHERE w <= 55 GROUP BY 1),
             |bands AS (
             |  SELECT doc_id, afp, b.b AS band, (afp >> (14 * b.b)) & 16383 AS bkey
             |  FROM fp, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) b),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
             |  FROM bands a JOIN bands c ON c.band = a.band AND c.bkey = a.bkey AND a.doc_id < c.doc_id)
             |SELECT id_a, id_b, CAST(bit_count(xor(fa.afp, fb.afp)) AS BIGINT) AS hamming
             |FROM cand
             |JOIN fp fa ON fa.doc_id = id_a
             |JOIN fp fb ON fb.doc_id = id_b
             |WHERE bit_count(xor(fa.afp, fb.afp)) <= 12""".stripMargin),
      "audio near-dup: real WAV decode, 56-bit delta-energy fingerprint, Hamming-banded candidates, exact verify"
    )
  )
}
