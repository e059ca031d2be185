package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._


/** The two cluster-scale plan behaviors the fixture queries cannot show
  * on a single parquet file: partition pruning over a partitioned layout
  * (a date/type-partitioned 100 TB table must only scan the partitions a
  * predicate selects) and AQE skew-join splitting (a hot join key must be
  * split across tasks at runtime, not serialized through one reducer).
  */
class ScalePlanSpec extends SparkSpec {
  import spark.implicits._

  test("fuzzy match broadcasts the block join (no shuffle join on the 25-value key)") {
    val plan = graft.SparkEntry
      .queries("q_fuzzy_match")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    // the low-cardinality blocking key must NOT be a shuffle join — whole
    // brands would serialize onto single tasks (measured 8.4 s vs 1.3 s)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("pqEncode is join-free: one PqCodes expression scan, codebook as a referenced object") {
    val plan = graft.ops.Similarity
      .pqEncode(
        graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings"),
        "vec_id", "embedding", subspaces = 4, subDim = 16, nCodes = 8)
      .queryExecution.executedPlan.toString
    // assignment runs inside ONE codegen'd expression against the
    // driver-collected bounded codebook — the former explode → ×nCodes
    // broadcast-join → struct-max form materialized |corpus|·m·k rows to
    // do the same arithmetic (its shuffle-agg was the PQ family's
    // heaviest stage). No join of ANY kind may appear, and the CPU-bound
    // scan must be spread to full parallelism ahead of the Generate.
    assert(plan.contains("graft_pq_codes"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("RoundRobinPartitioning"), s"expected spread-before-encode:\n$plan")
  }

  test("pqAdcTopK broadcasts ONE query-LUT map set; corpus codes never shuffle for scoring") {
    // pin the LAZY FromBase plan: the public entry persists the prepped
    // base and eagerly materializes (r21 — one corpus scan instead of
    // eight), so its own plan root is the checkpoint scan
    val plan = graft.ops.Similarity
      .pqAdcTopKFromBase(
        graft.ops.Similarity.prepBase(
          graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings"),
          "vec_id", "embedding"),
        k = 5, queryPred = col("cid") < 30,
        subspaces = 4, subDim = 16, nCodes = 8, rerankK = 0)
      .queryExecution.executedPlan.toString
    // the per-(query, subspace) code→position LUT ARRAYS are corpus-
    // size-independent (|queries| rows) and reach the compressed corpus
    // as a single broadcast; the corpus side is the MATERIALIZED code
    // table (a localCheckpoint scan — the artifact a production PQ
    // system stores), so the scoring stage is one small JIT-friendly
    // scan with positional element_at lookups: no per-subspace join
    // chain, no shuffle of the corpus for scoring.
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("element_at"), s"expected positional-lookup ADC scoring:\n$plan")
    assert(
      plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"),
      s"expected the checkpointed code-table scan:\n$plan")
    // nested-loop products are allowed only against corpus-size-
    // independent broadcast sides: the LUT batch onto the corpus (1)
    // and the queries × codebook LUT build itself (1)
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected nested-loop joins, got $bnlj:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the encode itself (behind the checkpoint) is the join-free PqCodes
    // expression scan (pinned in the dedicated test above)
    val encPlan = graft.ops.Similarity
      .pqEncode(
        graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings"),
        "vec_id", "embedding", subspaces = 4, subDim = 16, nCodes = 8)
      .queryExecution.executedPlan.toString
    assert(encPlan.contains("graft_pq_codes"), encPlan)
    assert(!encPlan.contains("Join"), encPlan)
  }

  test("chunkDedup shuffles exactly twice (chunk-hash argmin + doc regroup), no pair join") {
    val q = graft.ops.Dedup.chunkDedup(
      graft.queries.Tables.t(spark, sf("sf0.001"), "documents"),
      "doc_id", "text", chunkTokens = 8)
    val plan = q.queryExecution.executedPlan.toString
    // sub-document dedup must stay linear: hash-shuffle on the chunk
    // hash (argmin), hash-shuffle back on the doc id (reassembly), and
    // the first-occurrence lookup joined without a sort-merge of the
    // full chunk set (the argmin side is one row per DISTINCT chunk)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // exactly two: the chunk-hash exchange (shared by the argmin and the
    // join probe side via exchange reuse) and the doc-id regroup — a
    // third would mean the argmin lost its shared partitioning
    assert(exchanges == 2, s"expected exactly 2 hash exchanges (chunk hash, doc regroup), got $exchanges:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("srpVerifiedPlan carries vectors through the bucket join (exactly one join, no re-attach)") {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val (lazyPlan, base) =
      graft.ops.Similarity.srpVerifiedPlan(df, "vec_id", "embedding", 0.4, 3, 24)
    val plan = lazyPlan.queryExecution.executedPlan.toString
    base.unpersist()
    // re-attaching vectors to the candidate id pairs by two id joins
    // shuffles |candidates| × the vector width (measured 20 GB × 2
    // exchanges and 512 s at 10× the gate scale) — the verify must run
    // inline on the single bucket self-join's output
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") || l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"expected exactly the bucket self-join, got $joins:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_fuzzy_match evaluates levenshtein once, on the distinct-name frame") {
    val plan = graft.SparkEntry
      .queries("q_fuzzy_match")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    // group-first entity resolution: every levenshtein site must sit in
    // the distinct-name match build (two textual occurrences are the
    // projection + its pushed threshold filter, both downstream of the
    // (brand, name) distinct aggregate) — per-id-pair re-evaluation
    // regressed to 65× time at 10× rows
    assert(
      plan.contains("HashAggregate(keys=[p_brand"),
      s"distinct-name aggregate missing — levenshtein runs per id pair:\n$plan")
    val levLines = plan.linesIterator.zipWithIndex.filter(_._1.contains("levenshtein")).toSeq
    val exchangeIdx = plan.linesIterator.zipWithIndex
      .filter(_._1.contains("BroadcastExchange")).map(_._2).toSeq
    // every levenshtein occurrence lives inside a broadcast build side
    // (the bounded name-pair relation), never on the probe path
    assert(
      levLines.forall { case (_, i) => exchangeIdx.exists(_ < i) },
      s"levenshtein outside the broadcast match build:\n$plan")
  }

  test("q_shingle_novelty never joins the exploded shingle stream") {
    val plan = graft.SparkEntry
      .queries("q_shingle_novelty")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    // numerators come from grouping the per-shingle argmin frame by its
    // winner, denominators from a per-doc count — the only join touches
    // |docs| rows. Joining the shingle stream back to its argmin frame
    // spilled 50 GB at 10× the gate scale.
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") || l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"expected exactly the |docs|-row rollup join, got $joins:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("semanticDedup pairs via a hash join on the cell key, never a nested-loop cross") {
    // pin the LAZY FromBase plan: the public entry persists the prepped
    // base and eagerly materializes (r21 — one corpus scan instead of
    // five), so its own plan root is the checkpoint scan
    val plan = graft.ops.Similarity
      .semanticDedupFromBase(
        graft.ops.Similarity.prepBase(
          graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings"),
          "vec_id", "embedding"),
        k = 8, threshold = 0.35)
      .queryExecution.executedPlan.toString
    // the O(m²) stage must be confined to same-cell members by an
    // equi-join on the cell key — never a corpus-wide cross. The one
    // allowed nested-loop product is clusterAssign's corpus × 8-centroid
    // broadcast (k rows by construction).
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop product is clusterAssign's corpus × 8-centroid
    // broadcast; its subtree is replayed in up to 3 plan branches
    // (pair sides a/b + the final verdict join) — AQE's ReusedExchange
    // collapses the replays at runtime
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 3, s"only the centroid product may nest-loop, got $bnlj:\n$plan")
    assert(
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r.findFirstIn(plan).isDefined,
      s"pair stage must equi-join on the cell key:\n$plan")
  }

  test("bm25TopK blocks on the inverted index; only the 1-row stats ships nested-loop") {
    val plan = graft.ops.TextOps
      .bm25TopK(
        graft.queries.Tables.t(spark, sf("sf0.001"), "documents"),
        "doc_id", "text", k = 5, maxDf = 50)
      .queryExecution.executedPlan.toString
    // candidates come from equi-joins on the term (inverted index) and
    // the doc id — never the doc-pair cross. The single allowed
    // nested-loop product is the one-row (n_docs, avgdl) stats broadcast.
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the stats row may nest-loop, got $bnlj:\n$plan")
  }

  test("globalRank plans a partitioned window, never the single-partition global sort") {
    val df = graft.ops.GlobalRank.globalRankLazy(
      graft.queries.Tables.t(spark, sf("sf0.001"), "orders").select("o_orderkey", "o_totalprice"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      "rnk",
      parts = 8)
    val plan = df.queryExecution.executedPlan.toString
    // local ranks run under a partition spec (__pid) — a bare global
    // row_number would show an empty windowspecdefinition (one task for
    // the world)
    assert(plan.contains("windowspecdefinition(__pid"), plan)
    // and the layout comes from range partitioning of the data
    assert(plan.contains("rangepartitioning("), plan)
  }

  test("globalCumSum plans a partitioned window, never the single-partition running sum") {
    val df = graft.ops.GlobalRank.globalCumSumLazy(
      graft.queries.Tables.t(spark, sf("sf0.001"), "orders").select("o_orderkey", "o_totalprice"),
      Seq(col("o_orderkey").asc),
      col("o_totalprice"),
      "run",
      parts = 8)
    val plan = df.queryExecution.executedPlan.toString
    // the data-sized running sum runs under a partition spec (__pid)
    // over a range layout; the only unpartitioned window is the
    // |partitions|-row offset side (q_vocab_growth's former bare
    // `sum OVER (ORDER BY bucket)` serialized the whole bucket table —
    // n_docs/25 rows, corpus-proportional — through one task)
    assert(plan.contains("windowspecdefinition(__pid"), plan)
    assert(plan.contains("rangepartitioning("), plan)
  }

  test("encodeWithMerges gates the vocab join: hint only in the broadcast regime") {
    val docs = graft.queries.Tables
      .t(spark, sf("sf0.001"), "documents").select("doc_id", "text")
    val merges = graft.ops.Bpe.trainMergeSeq(docs, "text", numMerges = 2)
    // broadcast regime: the vocab side carries the hint down to a
    // BroadcastHashJoin in the physical plan
    val hinted = graft.ops.Bpe
      .encodeWithMerges(docs, "doc_id", "text", merges, broadcastVocab = true)
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      hinted.queryExecution.analyzed.toString)
    assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      hinted.queryExecution.executedPlan.toString)
    // above-threshold regime: NO hint anywhere in the plan — the vocab
    // (distinct words, Heaps-unbounded with the corpus) must never be
    // FORCED through the driver; AQE may still pick broadcast at
    // runtime from observed sizes, which is exactly the desired
    // behavior (forced ≠ adaptive)
    val unhinted = graft.ops.Bpe
      .encodeWithMerges(docs, "doc_id", "text", merges, broadcastVocab = false)
    assert(!unhinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      unhinted.queryExecution.analyzed.toString)
    // and the stats gate picks the broadcast shape at fixture scale
    // (sf0.001 pruned text is far under VocabBroadcastMaxTextBytes)
    val picked = graft.ops.Bpe.encodeTokenCounts(docs, "doc_id", "text", numMerges = 2)
    assert(picked.queryExecution.analyzed.toString.contains("ResolvedHint"),
      picked.queryExecution.analyzed.toString)
  }

  test("LM scorers: every product is the 1-row scalar; model stats never cross the corpus") {
    // the three bigram LM queries join a corpus-sized occurrence frame
    // to model aggregates; the ONLY permissible nested-loop product is
    // the single-row scalar (V / B) broadcast — a CartesianProduct or a
    // second nested-loop would mean a model statistic crossed the
    // corpus frame row-wise
    for (q <- Seq("text_lm_perplexity", "text_lm_kn_perplexity", "text_lm_ppl_holdout")) {
      val plan = graft.SparkEntry
        .queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(bnlj <= 1, s"$q: only the scalar row may nest-loop, got $bnlj:\n$plan")
    }
  }

  test("KN holdout: products limited to the two 1-row scalar pairings") {
    // text_lm_kn_holdout broadcasts TWO model scalars (B = distinct
    // bigrams, V = model vocab) — their 1-row × 1-row pairing plus the
    // pairing onto the scored frame are the only permissible nested
    // loops; anything more would mean a model statistic crossed a
    // data-sized frame row-wise
    val plan = graft.SparkEntry
      .queries("text_lm_kn_holdout")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"only the scalar pairings may nest-loop, got $bnlj:\n$plan")
  }

  test("ann_ivf_topk is a lazy plan that ranks probes without a window") {
    val df = graft.SparkEntry.queries("ann_ivf_topk")(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // probes are ranked in a projection against the driver-side codebook:
    // no cross join, no window, and the result is no checkpoint scan
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val ivf = graft.ops.Similarity.ivfTopK(
      graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings"), "vec_id", "embedding",
      k = 5, queryPred = col("cid") < 50, nClusters = 8, nProbe = 5)
    assert(!ivf.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
  }

  test("ivfPqTopK: ADC scan is a broadcast probe by cell id — corpus codes never shuffle") {
    val base = graft.ops.Similarity
      .prepBase(
        graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings"),
        "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val plan = graft.ops.Similarity
        .ivfPqTopKFromBase(base, k = 5, queryPred = col("cid") < 30,
          nClusters = 8, nProbe = 3, subspaces = 4, subDim = 16, nCodes = 8,
          rerankK = 0)
        .queryExecution.executedPlan.toString
      // the (query, probed cell, LUT arrays) frame is |queries|·nProbe
      // rows and reaches the compressed corpus as a broadcast hash join
      // keyed by the CELL id — the scan touches probed cells' rows only,
      // and the corpus side is the materialized code table (no shuffle,
      // no product)
      assert(plan.contains("BroadcastHashJoin [centroid_id"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(plan.contains("element_at"), s"expected positional ADC lookups:\n$plan")
    } finally base.unpersist(false)
  }

  test("ivfPqTopKWithIndex: the ADC scan broadcast-probes the RELOADED parquet index by cell id") {
    val emb = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val dir = s"${tempDir("graft-test-annindex-plan-")}/index"
    val base = graft.ops.Similarity.prepBase(emb, "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graft.ops.Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
        nClusters = 8, subspaces = 4, subDim = 16, nCodes = 8, dir)
      val plan = graft.ops.Similarity
        .ivfPqQueryFromCodes(
          base,
          spark.read.parquet(s"$dir/codes"),
          spark.read.parquet(s"$dir/centroids")
            .select("centroid_id", "cv", "cn").collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
            .sortBy(_._1),
          k = 5, queryPred = col("cid") < 30, nProbe = 3,
          subspaces = 4, subDim = 16, nCodes = 8, effRerankK = 0)
        .queryExecution.executedPlan.toString
      // query-many contract: the corpus-sized index arrives as a PARQUET
      // SCAN (assignment/encode never recompute), and the ADC probe is
      // still the broadcast hash join keyed by cell id — no shuffle of
      // the codes, no product
      assert(plan.contains("BroadcastHashJoin [centroid_id"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(
        plan.toLowerCase.contains("parquet") && plan.contains("r0"),
        s"expected the codes side to be a parquet scan of the artifact:\n$plan")
    } finally {
      base.unpersist(false)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("span decontamination: the corpus-side cap is a window on h, no product anywhere") {
    val plan = graft.ops.SpanDedup
      .spanDecontamVerdicts(
        graft.queries.Tables.t(spark, sf("sf0.001"), "documents"),
        "doc_id", "text",
        benchCol = col("doc_id") % 10 === 0,
        l = 4, minLen = 8, maxGramFreq = 50)
      .queryExecution.executedPlan.toString
    // the occurrence cap pays ONE exchange+sort on the gram hash (the
    // spansPlan window form — the agg+keep-list join shape shuffled the
    // gram table twice and spilled at sf10), and the bench⋈corpus match
    // is a hash join on that same key — never a product
    assert(plan.contains("windowspecdefinition(h"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("spreadToParallelism: an under-split scan widens to ceil(bytes / 64 KiB), capped at the cores") {
    import graft.ops.Caching
    val dir = tempDir("spread")
    // one file of incompressible hex = one scan partition of a known size
    def scan(rows: Int): (org.apache.spark.sql.DataFrame, Long) = {
      spark.range(0, rows, 1, 1).select(sha2(col("id").cast("string"), 256).as("h"))
        .write.parquet(s"$dir/$rows")
      val df = spark.read.parquet(s"$dir/$rows")
      assert(df.rdd.getNumPartitions == 1)
      (df, df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong)
    }
    val target = Caching.SpreadTargetSplitBytes
    assert(spark.sparkContext.defaultParallelism == 4)
    for ((rows, band, width) <- Seq(
        (1400, (target, 2 * target), 2),     // ~100 KB: two tasks, not four
        (3000, (3 * target, 4 * target), 4), // ~200 KB
        (6000, (5 * target, 8 * target), 4)  // ~400 KB: ceil = 6 or 7, capped at 4
    )) {
      val (df, bytes) = scan(rows)
      assert(bytes > band._1 && bytes <= band._2, s"$rows rows: $bytes bytes")
      assert(Caching.spreadToParallelism(df).rdd.getNumPartitions == width, s"$rows rows")
      // under the call site's minBytes floor the scan keeps its one task
      assert(Caching.spreadToParallelism(df, minBytes = bytes).rdd.getNumPartitions == 1)
    }
  }

  test("partition pruning: a type-partitioned layout scans only the selected partition") {
    val dir = tempDir("graft_part_")
    graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("event_type") === "purchase")
      .select(count(lit(1)))
    pruned.collect()
    // the scan hides behind AQE wrappers: AdaptiveSparkPlanExec's final
    // plan, whose materialized stages are LEAF QueryStageExec nodes that
    // normal TreeNode traversal does not descend into
    def findScan(p: org.apache.spark.sql.execution.SparkPlan): Option[FileSourceScanExec] =
      p.collectFirst {
        case s: FileSourceScanExec => Some(s)
        case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScan(q.plan)
      }.flatten
    val scan = findScan(pruned.queryExecution.executedPlan)
      .getOrElse(fail("no FileSourceScanExec in plan"))
    // the predicate must land in PartitionFilters (metadata-only pruning),
    // NOT as a data filter evaluated per row after scanning everything
    assert(scan.partitionFilters.map(_.toString).exists(_.contains("event_type")),
      scan.toString)
    // and the scan must actually touch fewer files than the full layout
    val allFiles = spark.read.parquet(dir).inputFiles.length
    val scannedFiles = scan.metrics("numFiles").value
    assert(scannedFiles > 0 && scannedFiles < allFiles,
      s"scanned $scannedFiles of $allFiles files")
  }

  test("an aggregate self-join reuses one shuffle exchange, not two") {
    val restore = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a shuffle join so both sides need the same exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val agg = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
        .groupBy("event_type").agg(sum(col("value")).as("s"))
      val joined = agg.as("a").join(agg.as("b"), "event_type").select(count(lit(1)))
      joined.collect()
      // identical shuffle subtrees must collapse to one physical exchange
      // (at 100 TB the duplicate shuffle is the whole query's cost twice)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
        plan.linesIterator.take(60).mkString("\n"))
    } finally restore match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("a selective dim filter injects a runtime bloom filter on the fact scan") {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val restore = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // the fixture scan is far below the 10 GB default application-side
      // bar that gates injection on a real cluster
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val li = graft.queries.Tables.t(spark, sf("sf0.001"), "lineitem")
      val ord = graft.queries.Tables.t(spark, sf("sf0.001"), "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey")).select(count(lit(1)))
      // Catalyst's InjectRuntimeFilter should gate the big side's scan on a
      // bloom filter built from the filtered dim — the shuffle then carries
      // ~1/5th of lineitem instead of all of it
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), plan.linesIterator.take(60).mkString("\n"))
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // one hot key owning ~99% of the left side; thresholds lowered so
      // the fixture-sized skew crosses AQE's split bar
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000)
        .select(when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")).as("k"), col("id").as("v"))
      val right = spark.range(500).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k").select(sum(col("v") + col("w")))
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.linesIterator.take(40).mkString("\n"))
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("span dedup: one gram self-join, window-count cap, no keep-list join") {
    val docs = graft.queries.Tables.t(spark, sf("sf0.001"), "documents")
    val (lazySpans, g) =
      graft.ops.SpanDedup.spansPlan(docs, "doc_id", "text", 4, 8, 50)
    val plan = lazySpans.queryExecution.executedPlan.toString
    g.unpersist()
    // the occurrence cap must be the window-count form (positioned grams
    // are nearly unique — mean occurrence ≈ 1.1 at sf10 — so an agg +
    // keep-list join re-shuffles the gram table for nothing: measured
    // 13.6 GB spill vs 0). Exactly one join may appear: the gram
    // self-join itself.
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") || l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"expected only the gram self-join, got $joins:\n$plan")
    // 3 Window nodes: the island row_number plus the cap count replayed
    // on BOTH self-join branches (the exchange beneath them is reused at
    // runtime, so the cap still shuffles once)
    val windows = plan.linesIterator.count(_.contains("Window ["))
    assert(windows == 3, s"expected island + 2× cap windows, got $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("span excision removes covered positions by exact-key anti-join, not a range join") {
    val docs = graft.queries.Tables.t(spark, sf("sf0.001"), "documents")
    val spans = graft.ops.SpanDedup.duplicatedSpans(docs, "doc_id", "text", 4, 8, 50)
    val (lazyOut, toks) = graft.ops.SpanDedup.excisePlan(docs, "doc_id", "text", spans)
    val plan = lazyOut.queryExecution.executedPlan.toString
    toks.unpersist()
    graft.ops.Caching.release(spans)
    // covered intervals are exploded to exact (doc, position) keys
    // (bounded by doc length) and removed with a hash/merge ANTI join —
    // a BETWEEN-style range join here would nested-loop
    // |tokens| × |spans| per doc pair
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_quantile_disc computes quantiles from the histogram, never a fact-table sort window") {
    // r14: the rank-r order statistic comes from the (group, value)
    // histogram + cumsum — the sort form moved the whole fact table into
    // 3 returnflag window partitions (725 MB shuffle into 3 tasks at the
    // 100x fixture). row_number anywhere in this plan means the
    // regression is back.
    val plan = graft.SparkEntry
      .queries("q_quantile_disc")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"), plan)
    // the window must run over the aggregated histogram: exactly one
    // aggregate (partial+final pair) BELOW the window operator
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("q_approx_count_distinct plans no Expand (dedup-first, not mixed-distinct agg)") {
    // r14: countDistinct mixed with a plain aggregate plans an Expand
    // over the fact table (rows doubled, 2 GB spill at the 100x
    // fixture); the dedup-first shape must keep Expand out of the plan
    val plan = graft.SparkEntry
      .queries("q_approx_count_distinct")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
  }

  test("clusterAssign argmax is an aggregate with map-side combine, not a window rank") {
    // r14: the n x k candidate fan-out must collapse via partial
    // max-struct aggregation before any exchange — a per-vector
    // row_number window would sort the whole fan-out
    val plan = graft.ops.Similarity
      .clusterAssign(
        graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings"),
        "vec_id", "embedding", k = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("row_number"), plan)
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
  }

  test("text_winnow_fingerprint is shuffle-free: one native projection over the scan") {
    val plan = graft.SparkEntry
      .queries("text_winnow_fingerprint")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("graft_winnow_runs"), plan)
  }

  test("prefixDocArrays ranks inside per-doc arrays: one hash agg, never a window sort") {
    // the r14 window variant (row_number over partitionBy(sid)) measured
    // 665 s cumulative in its sf10 stage; the array form must stay a
    // plain aggregation (sort_array is in-row) with NO window anywhere
    val docs = graft.ops.Dedup.prefixDocArrays(
      graft.ops.Dedup.shingleRows(
        graft.queries.Tables.t(spark, sf("sf0.001"), "documents"), "doc_id", "text", 3),
      thresholdNum = 4, thresholdDen = 5, maxShingleFreq = Some(50))
    val plan = docs.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("row_number"), plan)
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    // sort_array rides in the aggregate's result expressions, which the
    // physical toString elides (and the persisted frame's optimizedPlan
    // is the cache relation) — assert it on the raw logical plan
    assert(docs.queryExecution.logical.toString.contains("sort_array"),
      docs.queryExecution.logical.toString)
    graft.ops.Caching.release(docs)
  }

  test("q_rolling_distinct: one corpus exchange, no second distinct-agg of (user, wend)") {
    // the r15 shape dedups days per user in ONE map-side-partial
    // collect_set and counts exploded in-row-distinct window-ends with a
    // plain agg — exactly 2 exchanges (user groupBy + tiny window_end
    // agg), no Expand, no count(DISTINCT ...) anywhere. A third exchange
    // would mean the corpus-wide (user, wend) dedup crept back.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.SparkEntry.queries("q_rolling_distinct")(spark, sf("sf0.001"))
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 2, s"expected 2 exchanges, got ${exchanges.size}:\n$plan")
    assert(!plan.toString.contains("Expand"), plan.toString)
    // array_distinct (in-row) is the point; count(distinct …) is the
    // corpus-wide dedup this shape removed
    assert(!plan.toString.toLowerCase.contains("count(distinct"),
      plan.toString.linesIterator.take(20).mkString("\n"))
  }

  test("proximityCount windows run over the bucket inventory, never the fact table") {
    // the rank-difference form's two windows (segment prefix sum +
    // cross-segment totals) must sit above the inventory aggregation —
    // a window whose subtree reaches a file scan without an intervening
    // aggregate would be sorting event rows, not bucket counts
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    // AQE's plan node hides its subtree from collect(); build this plan
    // with AQE off — the window/aggregate nesting is identical either way
    val ev = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.ops.TimeSeries
        .proximityCount(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "error"),
          "event_id", "ts", windowUs = 900000000L)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size == 2, s"expected the 2 inventory windows, got ${windows.size}")
    for (w <- windows) {
      def scansBelowFirstAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case _: BaseAggregateExec => false
        case s: FileSourceScanExec => true
        case other => other.children.exists(scansBelowFirstAgg)
      }
      assert(!scansBelowFirstAgg(w.child),
        s"window reads a file scan with no aggregate in between:\n$w")
    }
  }

  test("bracketingStats reads the fact table exactly twice (counts scan + located-bucket scan)") {
    // regression pin for the r14 finding: lazy cum/rankValue re-ran the
    // phase-1 scan per downstream reference (15 fact scans in the
    // registry query's plan). Count actual records read off parquet
    // across ALL jobs the operator triggers: must be ~2x the table, not
    // 4x+ (tiny side-frames add only |groups x buckets| rows).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val dir = sf("sf0.001")
    val n = graft.queries.Tables.t(spark, dir, "orders").count()
    val read = new java.util.concurrent.atomic.AtomicLong()
    val l = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        read.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      // coarse buckets so the checkpointed side frames (whose cache
      // re-reads also count as recordsRead) stay ≪ n and the bound below
      // genuinely measures fact-table scans
      graft.ops.Quantiles.bracketingStats(
        graft.queries.Tables.t(spark, dir, "orders")
          .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey")),
        "o_orderpriority", "o_totalprice", "o_orderkey",
        ps = Seq(0.5, 0.9), bucketWidth = 20000.0).collect()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    val r = read.get()
    assert(r >= 2 * n, s"expected both phase scans to read the table: read=$r n=$n")
    assert(r < 3 * n, s"fact table re-scanned beyond the two phases: read=$r n=$n")
  }
}
