package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-SPAN detection — the substring-level dedup modality
  * (the suffix-array construction of Lee et al., "Deduplicating Training
  * Data Makes Language Models Better", re-expressed relationally): find
  * every maximal run of ≥ `minLen` consecutive tokens shared verbatim by
  * a document pair. Set-level methods (Jaccard, MinHash, SimHash) miss
  * exactly this case — two long documents sharing one boilerplate
  * paragraph have near-zero set overlap but a 100%-duplicated span, and
  * span-level dedup is what removes repeated license headers, navigation
  * chrome, and quoted passages from a training corpus.
  *
  * Relational shape (no suffix array — a distributed engine wants joins
  * and windows, not a global sorted suffix structure):
  *
  *  1. positioned L-grams: one row per (doc, token position) carrying the
  *     52-bit md5 chunk of the L-gram starting there (the engine-portable
  *     hash primitive — both engines hash identical strings).
  *  2. occurrence-capped inverted index on the gram hash (same rationale
  *     and cap semantics as the Jaccard df-cap: a gram repeated beyond
  *     the cap is boilerplate that cannot anchor a *discriminating*
  *     span; the cap bounds candidate pairs at Σ freq² — linear in the
  *     corpus at a fixed cap. The keep-list is corpus-proportional, so
  *     it is deliberately NOT broadcast-hinted — AQE decides).
  *  3. aligned-match islands: a shared span of length L+k yields k+1
  *     matches at a CONSTANT alignment offset delta = pos_a − pos_b with
  *     consecutive pos_a. Grouping by (id_a, id_b, delta) and splitting
  *     on gaps (pos_a − row_number() changes ⇔ a gap) merges each run
  *     into one maximal span — the window partitions are bounded by
  *     per-pair match counts, never by corpus size.
  *
  * A 52-bit hash collision would need ≥ minLen−L+1 CONSECUTIVE colliding
  * grams to fake a span — vanishing, and in any case both engines hash
  * identically, so results stay oracle-exact regardless.
  */
object SpanDedup {

  /** One row per (doc, 1-based token position): the md5-chunk hash of
    * the L-gram starting at that position. Tokens are projected to a
    * materialized column first (see [[TextOps.shinglesFromTokens]] —
    * an inline tokens() expression makes the gram build quadratic).
    */
  private[ops] def positionedGramRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      l: Int
  ): DataFrame =
    df.select(col(idCol).as("sid"), TextOps.tokens(trim(col(textCol))).as("__ts"))
      .select(col("sid"), posexplode(TextOps.shingleOccurrencesFromTokens(col("__ts"), l)))
      .select(
        col("sid"),
        (col("pos") + 1).cast("long").as("p"),
        conv(substring(md5(col("col")), 1, 13), 16, 10).cast("long").as("h"))

  /** Maximal exact duplicated token spans ≥ `minLen` tokens between all
    * document pairs: `(id_a, id_b, start_a, start_b, span_len)` with
    * id_a < id_b, 1-based token starts, one row per maximal aligned run.
    * A pair sharing several disjoint (or differently-aligned) spans
    * emits one row per span — the span inventory a curation pass either
    * cuts (span excision) or thresholds on (see [[spanMass]]).
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      l: Int,
      minLen: Int,
      maxGramFreq: Int
  ): DataFrame = {
    val (spans, g) = spansPlan(df, idCol, textCol, l, minLen, maxGramFreq)
    Caching.materializeAndRelease(spans, g)
  }

  /** The lazy plan behind [[duplicatedSpans]] plus its cached gram table
    * — package-visible so specs can pin the plan SHAPE (one gram
    * self-join, window-count cap, no keep-list join, no cartesian)
    * before the eager materialization hides it behind a checkpoint scan.
    */
  private[graft] def spansPlan(
      df: DataFrame,
      idCol: String,
      textCol: String,
      l: Int,
      minLen: Int,
      maxGramFreq: Int
  ): (DataFrame, DataFrame) = {
    val g = positionedGramRows(df, idCol, textCol, l)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // occurrence cap as a WINDOW count, not agg + keep-list join: the
    // keep-list is corpus-proportional (23M of 25.6M gram keys survive a
    // cap of 50 at sf10), so the agg+join form shuffles and sorts the
    // gram table twice and aggregates 23M nearly-unique keys (measured
    // 13.6 GB spill at sf10). The window form pays ONE exchange+sort on
    // h; group buffers are bounded by the cap's own target (heavy keys
    // buffer at most their occurrence count before the filter drops
    // them), and the downstream self-join on h reuses the exact same
    // partitioning and sort order — no further exchange. The inverse
    // profile — repeating keys, where the partial aggregate genuinely
    // compresses — wants the agg+join form instead; see the measured
    // head-to-head in Dedup.shingleInterSizes.
    val gk = g
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("occ") <= maxGramFreq)
      .drop("occ")
    val a = gk.select(col("sid").as("id_a"), col("p").as("pa"), col("h"))
    val b = gk.select(col("sid").as("id_b"), col("p").as("pb"), col("h"))
    val matches = a
      .join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"), (col("pa") - col("pb")).as("delta"))
    val w = Window.partitionBy("id_a", "id_b", "delta").orderBy("pa")
    val spans = matches
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("id_a", "id_b", "delta", "grp")
      .agg(
        min("pa").as("start_a"),
        min("pb").as("start_b"),
        (max("pa") - min("pa") + lit(l.toLong)).as("span_len"))
      .filter(col("span_len") >= minLen)
      .select("id_a", "id_b", "start_a", "start_b", "span_len")
    (spans, g)
  }

  /** Per-document duplicated-token mass: the fraction of a document's
    * tokens covered by at least one duplicated span (either side of any
    * pair) — the "drop documents more than X% duplicated" curation
    * metric. Interval union by the running-max island trick: intervals
    * sorted by start within a doc, a new island starts where the start
    * exceeds the running max end, covered tokens = Σ island extents.
    * Windows partition per doc and are bounded by the doc's span count.
    */
  def spanMass(
      df: DataFrame,
      idCol: String,
      textCol: String,
      l: Int,
      minLen: Int,
      maxGramFreq: Int
  ): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, l, minLen, maxGramFreq)
    val iv = spans
      .select(col("id_a").as("doc_id"), col("start_a").as("s"), (col("start_a") + col("span_len")).as("e"))
      .unionAll(
        spans.select(col("id_b").as("doc_id"), col("start_b").as("s"), (col("start_b") + col("span_len")).as("e")))
      .distinct()
    val byStart = Window.partitionBy("doc_id").orderBy("s", "e")
    val prevMax = max("e").over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    val islands = iv
      .withColumn(
        "new_island",
        when(prevMax.isNull || col("s") > prevMax, lit(1)).otherwise(lit(0)))
      .withColumn(
        "island",
        sum("new_island").over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
    val covered = islands
      .groupBy("doc_id", "island")
      .agg((max("e") - min("s")).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("covered_tokens"))
    val totals = df.select(
      col(idCol).as("doc_id"),
      size(TextOps.tokens(trim(col(textCol)))).cast("long").as("n_tokens"))
    totals
      .join(covered, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(
          col("n_tokens") > 0,
          coalesce(col("covered_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"))
          .otherwise(lit(0.0))
          .as("dup_mass"))
  }

  /** Span EXCISION — the corpus rewrite the span inventory exists for:
    * every token covered by a duplicated span is cut from the HIGHER-id
    * document of each pair (keep-first-by-id, the same canonical-owner
    * convention as exact dedup's min-id keep), and the survivors are
    * re-joined into the cleaned text. Output per doc:
    * `(doc_id, n_tokens, n_kept, text_clean)` — every doc appears, even
    * when fully excised (empty string) or empty to begin with.
    *
    * Shape: covered positions are exploded from span intervals (bounded
    * by document length, never by corpus), removed by an anti-join on
    * the exact (doc, position) key — deliberately NOT a range join — and
    * the rebuild is one groupBy with an order-restoring array_sort, so
    * the whole rewrite is hash-partitioned by doc id end to end.
    */
  def spanExcise(
      df: DataFrame,
      idCol: String,
      textCol: String,
      l: Int,
      minLen: Int,
      maxGramFreq: Int
  ): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, l, minLen, maxGramFreq)
    val (out, toks) = excisePlan(df, idCol, textCol, spans)
    Caching.materializeAndRelease(out, toks)
  }

  /** The lazy rewrite behind [[spanExcise]] over a pre-built span
    * inventory, plus its cached token table — package-visible so specs
    * can pin the anti-join shape before materialization hides it.
    */
  private[graft] def excisePlan(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame
  ): (DataFrame, DataFrame) = {
    val covered = spans
      .select(
        col("id_b").as("doc_id"),
        explode(sequence(col("start_b"), col("start_b") + col("span_len") - 1)).as("p"))
      .distinct()
    val toks = df
      .select(col(idCol).as("doc_id"), TextOps.tokens(trim(col(textCol))).as("__ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tp = toks
      .select(col("doc_id"), posexplode(col("__ts")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("t"))
    val kept = tp.join(covered, Seq("doc_id", "p"), "left_anti")
    val rebuilt = kept
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("p"), col("t")))),
            x => x.getField("t"))).as("text_clean"))
    val out = toks
      .select(col("doc_id"), size(col("__ts")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
    (out, toks)
  }

  /** Span-level benchmark DECONTAMINATION — the stricter production gate
    * over [[graft.ops.Decontam]]'s exact-13-gram flag: a corpus document
    * is contaminated iff it shares a CONTIGUOUS run of ≥ `minLen` tokens
    * with any held-out benchmark document (a single shared gram can be a
    * idiom; a long verbatim span is leaked eval text). The aligned-match
    * island machinery of [[duplicatedSpans]], restricted CROSS-split:
    * match rows are (benchmark gram) ⋈ (corpus gram) only — never
    * bench×bench or corpus×corpus — so the pair fan-out is bounded by
    * the benchmark side's gram volume (eval suites are megabytes against
    * the corpus) times the occurrence cap.
    *
    * The occurrence cap applies to the CORPUS side (the unbounded one):
    * a gram repeated beyond `maxGramFreq` across training candidates is
    * boilerplate that cannot anchor a discriminating span. Output is the
    * dedup-family keep-list contract:
    * `(doc_id, is_bench, contaminated, keep)`.
    */
  def spanDecontamVerdicts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchCol: org.apache.spark.sql.Column,
      l: Int,
      minLen: Int,
      maxGramFreq: Int
  ): DataFrame = {
    val flagged = docs.select(
      col(idCol).as("sid"), benchCol.as("is_bench"), col(textCol).as("__text"))
    val benchG = positionedGramRows(flagged.filter(col("is_bench")), "sid", "__text", l)
    // corpus-side occurrence cap: same window form (one exchange+sort on
    // h, reused by the join below) and rationale as [[spansPlan]]
    val corpusG = positionedGramRows(flagged.filter(!col("is_bench")), "sid", "__text", l)
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("occ") <= maxGramFreq)
      .drop("occ")
    val matches = benchG
      .select(col("sid").as("id_a"), col("p").as("pa"), col("h"))
      .join(corpusG.select(col("sid").as("id_b"), col("p").as("pb"), col("h")), Seq("h"))
      .select(col("id_a"), col("id_b"), col("pa"), (col("pa") - col("pb")).as("delta"))
    val w = Window.partitionBy("id_a", "id_b", "delta").orderBy("pa")
    val hits = matches
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("id_a", "id_b", "delta", "grp")
      .agg((max("pa") - min("pa") + lit(l.toLong)).as("span_len"))
      .filter(col("span_len") >= minLen)
      .select(col("id_b").as("doc_id"))
      .distinct()
      .select(col("doc_id"), lit(true).as("__hit"))
    flagged
      .select(col("sid").as("doc_id"), col("is_bench"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("is_bench"),
        coalesce(col("__hit"), lit(false)).as("contaminated"),
        (!col("is_bench") && !coalesce(col("__hit"), lit(false))).as("keep"))
  }

  /** The span family's drop VERDICT: documents that are mostly (≥
    * num/den of their tokens) covered by spans shared with another
    * document form an edge to it; connected components over those edges
    * yield one canonical survivor (min id) per cluster — the
    * `(doc_id, canonical_id, is_canonical)` keep-list a training-mix
    * builder semi-joins against, same contract as [[Dedup.keepList]]
    * over set-similarity pairs. Excision ([[spanExcise]]) cuts the
    * duplicated part of lightly-affected docs; this drops the docs that
    * would have little left.
    *
    * The per-pair coverage is an exact interval union on the b side
    * (running-max islands within (id_a, id_b) — windows bounded by the
    * pair's span count), so a doc overlapped by many small spans of one
    * partner is judged on distinct tokens, not double-counted ones.
    */
  def spanKeepList(
      df: DataFrame,
      idCol: String,
      textCol: String,
      l: Int,
      minLen: Int,
      maxGramFreq: Int,
      thresholdNum: Int,
      thresholdDen: Int
  ): DataFrame = {
    val iv = duplicatedSpans(df, idCol, textCol, l, minLen, maxGramFreq)
      .select(
        col("id_a"), col("id_b"),
        col("start_b").as("s"), (col("start_b") + col("span_len")).as("e"))
      .distinct()
    val byStart = Window.partitionBy("id_a", "id_b").orderBy("s", "e")
    val prevMax = max("e").over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    val islands = iv
      .withColumn(
        "new_island",
        when(prevMax.isNull || col("s") > prevMax, lit(1)).otherwise(lit(0)))
      .withColumn(
        "island",
        sum("new_island").over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
    val coveredB = islands
      .groupBy("id_a", "id_b", "island")
      .agg((max("e") - min("s")).as("c"))
      .groupBy("id_a", "id_b")
      .agg(sum("c").as("covered_b"))
    val nTok = df.select(
      col(idCol).as("id_b"),
      size(TextOps.tokens(trim(col(textCol)))).cast("long").as("n_b"))
    val edges = coveredB
      .join(nTok, "id_b")
      .filter(col("covered_b") * thresholdDen >= col("n_b") * thresholdNum)
      .select("id_a", "id_b")
    Dedup.keepList(df, idCol, edges, iterations = 4)
  }
}
