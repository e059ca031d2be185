package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.storage.StorageLevel

import graft.functions.BpeMergeRuns

/** Distributed BPE merge training (Sennrich et al. 2016, the word-level
  * formulation every tokenizer trainer uses): start from per-word
  * character sequences with an end-of-word marker, then repeatedly
  * (1) count adjacent symbol pairs weighted by word frequency,
  * (2) take the most frequent pair (ties broken lexicographically),
  * (3) replace its leftmost non-overlapping occurrences in every
  * sequence with the concatenated symbol.
  *
  * 100 TB shape — the [[Similarity]] Lloyd-step recipe applied to text:
  *  - ONE corpus-wide shuffle builds the word-frequency vocab; every
  *    training iteration after that runs over the vocab frame (bounded
  *    by DISTINCT words, not corpus tokens — the classic reason
  *    word-level BPE scales);
  *  - the per-iteration pair aggregate is map-side combinable and its
  *    output is bounded by the distinct adjacent-pair count; only the
  *    ARGMAX row crosses to the driver (`orderBy.limit(1)` plans
  *    TakeOrdered — no global sort), so the driver holds M merge rows
  *    total, exactly the sanctioned bounded-codebook pattern;
  *  - re-tokenization is a narrow codegen'd projection
  *    ([[BpeMergeRuns]]) with the merge stamped in as literals — M
  *    chained projections stay one whole-stage-codegen span over the
  *    persisted vocab.
  *
  * Everything is count arithmetic + binary string order, so a SQL
  * oracle replays the merge sequence exactly (the greedy-leftmost merge
  * is replayed via match-run parity: overlapping matches only occur
  * inside runs of the same pair, where greedy keeps even offsets).
  *
  * Char-level caveat: [[initialSeqs]] symbols are Java chars (UTF-16
  * units) on the Spark side and unicode code points in DuckDB replay —
  * identical on BMP text. [[initialByteSeqs]]/[[trainMergesBytes]] is
  * the production-grade variant: symbols are UTF-8 BYTES (hex-coded),
  * exact on all text including non-BMP code points.
  */
object Bpe {

  /** End-of-word marker symbol (its own trailing symbol, so merges can
    * learn word-final units without gluing the marker onto characters).
    */
  val EndOfWord = "</w>"

  /** (w, freq): the one corpus-wide aggregation. The scan is spread to
    * full parallelism first when under-split AND big enough that the
    * one-task explode would dominate (single-row-group fixtures run the
    * map side on ONE task otherwise; identity at real scale — see
    * [[Caching.spreadToParallelism]]; 8 MiB floor: below it the exchange
    * round-trip costs more than the single-task explode, measured at
    * gate scale). Counts are placement-independent.
    */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    Caching.spreadToParallelism(docs.select(col(textCol)), minBytes = 8L << 20)
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))

  /** (w, freq, s): initial symbol sequences — characters plus the
    * end-of-word marker.
    */
  def initialSeqs(vocab: DataFrame): DataFrame =
    vocab.select(
      col("w"),
      col("freq"),
      concat(split(col("w"), ""), array(lit(EndOfWord))).as("s"))

  /** (w, freq, s): BYTE-level initial sequences — each UTF-8 byte of the
    * word as a 2-hex-digit symbol ("63","61","66","C3","A9" for "café"),
    * plus the end-of-word marker. This closes the char-level caveat
    * above: symbols are bytes, so training is exact on ALL text — a
    * non-BMP code point (a Java surrogate PAIR) encodes to its 4 UTF-8
    * bytes before hexing, where the char-level splitter would produce
    * two lone surrogates. Hex-coded bytes keep every downstream
    * invariant: symbols never contain whitespace (pair keys stay "a b"
    * strings), merged symbols are plain concatenations, and binary
    * string order over [0-9A-F] is the same deterministic tiebreak on
    * both engines (Spark `hex` and DuckDB `hex(encode(...))` are both
    * uppercase).
    */
  def initialByteSeqs(vocab: DataFrame): DataFrame =
    vocab
      .select(col("w"), col("freq"), hex(encode(col("w"), "UTF-8")).as("__h"))
      .select(
        col("w"),
        col("freq"),
        concat(
          expr("transform(sequence(1, length(__h) div 2), i -> substring(__h, i * 2 - 1, 2))"),
          array(lit(EndOfWord))).as("s"))

  /** One learned merge: rank order, the pair, the merged symbol, and the
    * weighted pair count that won the argmax.
    */
  final case class Merge(
      mergeRank: Long,
      symA: String,
      symB: String,
      merged: String,
      pairCount: Long)

  /** Train `numMerges` merges over the corpus; returns the merge table
    * (merge_rank, sym_a, sym_b, merged, pair_count), merge_rank
    * ascending — the artifact a tokenizer ships.
    */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame =
    mergesDf(docs, trainMergeSeq(docs, textCol, numMerges))

  /** Byte-level training ([[initialByteSeqs]]): same loop, same merge
    * table schema — `sym_a`/`sym_b`/`merged` are hex-coded UTF-8 byte
    * sequences. Exact on all text including non-BMP code points.
    */
  def trainMergesBytes(docs: DataFrame, textCol: String, numMerges: Int): DataFrame =
    mergesDf(docs, trainMergeSeq(docs, textCol, numMerges, byteLevel = true))

  private def mergesDf(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    merges.toDF()
      .select(
        col("mergeRank").as("merge_rank"),
        col("symA").as("sym_a"),
        col("symB").as("sym_b"),
        col("merged"),
        col("pairCount").as("pair_count"))
  }

  /** Re-checkpoint the symbol-sequence chain every this many merges: the
    * incremental update appends one `filter ∪ checkpointed-slice` level
    * per merge, so the chain is re-materialized (and the superseded
    * generation released) before the lazy plan — and the per-scan cost of
    * re-evaluating the stacked contains-pair filters — can grow past a
    * constant. 16 keeps both the plan depth and the generated filter code
    * far below the JIT/janino hazard thresholds the r11 work measured.
    */
  private[graft] val SeqsCheckpointEveryMerges: Int = 16

  /** Winning-pair occurrence count above which the per-merge pair-count
    * DELTA is no longer broadcast back onto the pair table. The delta's
    * distinct-pair row count is bounded by ~5× the (freq-weighted)
    * winning count, so below the gate the update is a map-side broadcast
    * join (the pair table never shuffles); above it — the early merges
    * that touch a large corpus fraction, where an affected-slice recount
    * is proportionally no cheaper than a full one — the update falls back
    * to one union+re-aggregate shuffle. The same measured-gate discipline
    * as [[VocabBroadcastMaxTextBytes]]: nothing corpus-proportional is
    * ever FORCED through the driver.
    */
  private[graft] val DeltaBroadcastMaxPairCount: Long = 200000L

  /** Merge count above which the incremental loop is always used: the
    * naive loop chains one projection per merge, and past ~32 levels the
    * generated code approaches the janino/JIT hazard the r11 stage
    * listener measured (codegen stars print while HotSpot declines).
    */
  private[graft] val NaiveLoopMaxMerges: Int = 32

  /** The training loop itself — the collected (bounded: `numMerges`-row)
    * merge list, for callers that APPLY the table rather than ship it.
    *
    * SHAPE-PICKED between two loops producing byte-identical tables (the
    * `q_basket_lift` stats-gate discipline; parity spec-pinned):
    *  - NAIVE (full pair recount + full re-tokenize per merge): at small
    *    merge counts over a modest corpus its one job per iteration
    *    beats the incremental loop's fixed per-iteration overhead (~4
    *    small jobs + a broadcast + plan analysis — measured 2.3 vs 6.3 s
    *    at M=8/sf0.1);
    *  - INCREMENTAL ([[trainMergeSeqWithSeqs]]): per-iteration work
    *    tracks the vocab-touch fraction, lineage and partition counts
    *    stay bounded at ANY merge count — the production-M and
    *    production-corpus shape.
    * Picked incremental when the merge count exceeds
    * [[NaiveLoopMaxMerges]] (the naive chained projection approaches the
    * JIT hazard) OR the column-pruned text scan exceeds
    * [[VocabBroadcastMaxTextBytes]] (per-iteration overhead is noise
    * once each naive recount rescans a >1 GiB corpus).
    */
  private[graft] def trainMergeSeq(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      byteLevel: Boolean = false): Seq[Merge] =
    collectedSeq0(docs, textCol, byteLevel) match {
      // r21 (opt guide §1.2 step 1 — remove passes): under the local
      // gate, training is a driver loop over the one collected seq0
      // frame. The distributed loops run ~2 jobs per merge (pair
      // aggregate + argmax collect), all scheduler latency at small
      // corpus sizes — measured 2.3 s for M=8/sf0.1 naive vs
      // milliseconds local, byte-identical merge tables (parity
      // spec-pinned against the same straight-line reference).
      case Some(rows) => trainMergeSeqLocal(rows, numMerges)
      case None =>
        val prunedBytes =
          docs.select(col(textCol)).queryExecution.optimizedPlan.stats.sizeInBytes
        if (numMerges <= NaiveLoopMaxMerges && prunedBytes <= VocabBroadcastMaxTextBytes)
          trainMergeSeqNaive(docs, textCol, numMerges, byteLevel)
        else {
          val (merges, seqs) = trainMergeSeqWithSeqs(docs, textCol, numMerges, byteLevel)
          Caching.release(seqs)
          merges
        }
    }

  /** Pruned-text bytes below which the (freq, symbol-sequence) vocab
    * frame is driver-collected and BPE training runs as a LOCAL loop
    * ([[trainMergeSeqLocal]]). A quarter of
    * [[VocabBroadcastMaxTextBytes]]: the broadcast gate already asserts
    * the vocab of ≤1 GiB of text is driver-safe (a broadcast IS a
    * driver collect), and the collected seq0 rows carry the per-word
    * SYMBOL ARRAYS (~4× the word bytes in JVM object overhead), so the
    * local-train gate is scaled down by that factor. Above the gate the
    * distributed loops run unchanged — nothing corpus-proportional is
    * ever forced through the driver.
    * (A `def`, not a `val`: [[VocabBroadcastMaxTextBytes]] is declared
    * later in this object, and a val here would read its
    * pre-initialization 0.)
    */
  private[graft] def LocalTrainMaxTextBytes: Long = VocabBroadcastMaxTextBytes / 4

  /** The `(freq, initial-symbol-sequence)` vocab rows, driver-collected
    * when the column-pruned text scan is under
    * [[LocalTrainMaxTextBytes]]; None above the gate. The collect is over
    * DISTINCT words (the same bounded set the broadcast-vocab join
    * ships), and the symbol sequences come from the ENGINE's own
    * initialSeqs/initialByteSeqs projection — the local trainer never
    * re-implements the splitting semantics.
    */
  private[graft] def collectedSeq0(
      docs: DataFrame,
      textCol: String,
      byteLevel: Boolean): Option[Array[(Long, Array[String])]] = {
    val prunedBytes =
      docs.select(col(textCol)).queryExecution.optimizedPlan.stats.sizeInBytes
    if (prunedBytes > BigInt(LocalTrainMaxTextBytes)) None
    else {
      val vocab = wordVocab(docs, textCol)
      val seq0 = if (byteLevel) initialByteSeqs(vocab) else initialSeqs(vocab)
      Some(
        seq0.select(col("freq"), col("s")).collect()
          .map(r => (r.getLong(0), r.getSeq[String](1).toArray)))
    }
  }

  /** Driver-local training loop — byte-identical to the distributed
    * loops by construction: the same per-position pair occurrences
    * weighted by word freq, the same argmax tiebreak (count desc, then
    * pair key ascending under UNSIGNED UTF-8 BYTE order — exactly the
    * UTF8String comparison Spark's `orderBy(pair)` runs, via
    * `Arrays.compareUnsigned` over `getBytes(UTF_8)`), and the same
    * greedy-leftmost non-overlapping merge application
    * ([[graft.functions.BpeMergeRuns]]'s kernel, transcribed). Parity
    * with both distributed loops and the straight-line reference is
    * spec-pinned (BpeSpec).
    */
  private[graft] def trainMergeSeqLocal(
      rows: Array[(Long, Array[String])],
      numMerges: Int): Seq[Merge] = {
    val freqs = rows.map(_._1)
    // fresh outer array: merge application REPLACES inner arrays, never
    // mutates them, so callers' seq0 rows stay the initial sequences
    val seqs: Array[Array[String]] = rows.map(_._2)
    val merges = ArrayBuffer.empty[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val cnt = scala.collection.mutable.HashMap.empty[String, Long]
      var w = 0
      while (w < seqs.length) {
        val s = seqs(w)
        val f = freqs(w)
        var i = 0
        while (i < s.length - 1) {
          val k = s(i) + " " + s(i + 1)
          cnt.update(k, cnt.getOrElse(k, 0L) + f)
          i += 1
        }
        w += 1
      }
      if (cnt.isEmpty) exhausted = true
      else {
        var bestPair: String = null
        var bestBytes: Array[Byte] = null
        var bestCnt = Long.MinValue
        cnt.foreach { case (k, c) =>
          if (c > bestCnt) { bestCnt = c; bestPair = k; bestBytes = null }
          else if (c == bestCnt) {
            if (bestBytes == null)
              bestBytes = bestPair.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            if (java.util.Arrays.compareUnsigned(kb, bestBytes) < 0) {
              bestPair = k; bestBytes = kb
            }
          }
        }
        val sep = bestPair.indexOf(' ')
        val (a, b) = (bestPair.substring(0, sep), bestPair.substring(sep + 1))
        merges += Merge(rank.toLong, a, b, a + b, bestCnt)
        var w2 = 0
        while (w2 < seqs.length) {
          seqs(w2) = mergeRunLocal(seqs(w2), a, b)
          w2 += 1
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** [[graft.functions.BpeMergeRuns]]'s greedy-leftmost non-overlapping
    * kernel over plain strings — a merged element is never reconsidered
    * within the same pass.
    */
  private def mergeRunLocal(s: Array[String], a: String, b: String): Array[String] = {
    val out = new ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += s(i)
        i += 1
      }
    }
    out.toArray
  }

  /** The naive loop: per merge, one full freq-weighted pair aggregate
    * with a TakeOrdered argmax, then one chained codegen re-tokenize
    * projection over the persisted vocab. O(M·|vocab|) work and an
    * M-deep plan — correct and CHEAPEST at small M over a modest corpus;
    * [[trainMergeSeq]] gates it out of the production regimes.
    */
  private[graft] def trainMergeSeqNaive(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      byteLevel: Boolean = false): Seq[Merge] = {
    val vocab = wordVocab(docs, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var seqs = if (byteLevel) initialByteSeqs(vocab) else initialSeqs(vocab)
      val merges = ArrayBuffer.empty[Merge]
      var rank = 1
      var exhausted = false
      while (rank <= numMerges && !exhausted) {
        // pair-key and occurrence semantics identical to the incremental
        // loop (see trainMergeSeqWithSeqs) — the tables must match
        val top = seqs
          .select(
            col("freq"),
            explode(TextOps.shingleOccurrencesFromTokens(col("s"), 2)).as("pair"))
          .groupBy("pair")
          .agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc)
          .limit(1)
          .collect()
        if (top.isEmpty) {
          exhausted = true
        } else {
          val pair = top(0).getString(0)
          val cnt = top(0).getLong(1)
          val sep = pair.indexOf(' ')
          val (a, b) = (pair.substring(0, sep), pair.substring(sep + 1))
          merges += Merge(rank.toLong, a, b, a + b, cnt)
          seqs = seqs.select(
            col("w"),
            col("freq"),
            ExprBridge.column(
              BpeMergeRuns(ExprBridge.expression(col("s")), a, b)).as("s"))
          rank += 1
        }
      }
      merges.toSeq
    } finally vocab.unpersist(blocking = false)
  }

  /** Incremental trainer (the production-M shape). The naive loop
    * re-counted EVERY pair and re-tokenized EVERY word per merge —
    * O(M·|vocab|) work plus an M-deep chained projection. This form does
    * the full pair count ONCE, then per merge:
    *
    *  1. argmax from the maintained pair-count table (TakeOrdered over a
    *     checkpointed, pair-bounded frame; only the 1 winning row crosses
    *     to the driver);
    *  2. re-tokenize ONLY the words containing the winning pair — the
    *     affected slice is materialized once (eager localCheckpoint) and
    *     feeds both the count delta and the sequence update;
    *  3. pair-count delta = (new-slice pairs) − (old-slice pairs), an
    *     aggregate over the touched words only; applied to the pair table
    *     via a broadcast left join when the slice is small (the common
    *     case past the first merges — the table itself never reshuffles)
    *     or one union+re-aggregate when it is not
    *     ([[DeltaBroadcastMaxPairCount]]);
    *  4. seqs := untouched-words ∪ re-tokenized slice, re-checkpointed
    *     every [[SeqsCheckpointEveryMerges]] merges so plan depth stays
    *     bounded at any M.
    *
    * Genuinely-NEW pair keys can only involve the just-merged symbol (a
    * merge creates adjacencies only around merged positions), so the
    * delta splits exactly into an update half and an insert half —
    * UNLESS the merged string collides with a pre-existing symbol string
    * (possible: "a"+"bc" and "ab"+"c" both spell "abc"; char-level can
    * even spell the end-of-word marker). Collisions are detected on the
    * driver against the bounded set of previously-merged strings and
    * fall back to the union path, which needs no absence guarantee.
    *
    * Every maintained count equals the naive recount exactly (integer
    * deltas over the same occurrence semantics), so the learned table —
    * and the DuckDB oracle replay — are unchanged. Returns the merges
    * plus the FINAL sequence frame (checkpointed; caller releases).
    */
  private[graft] def trainMergeSeqWithSeqs(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      byteLevel: Boolean = false,
      // spec seam: 0 forces the union+re-aggregate fallback on every
      // merge so both update paths are parity-tested against the naive
      // reference; production callers use the measured default
      deltaBroadcastMax: Long = DeltaBroadcastMaxPairCount): (Seq[Merge], DataFrame) = {
    val vocab = wordVocab(docs, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    // live checkpoint generations superseded at the next seqs checkpoint
    val pendingSlices = ArrayBuffer.empty[DataFrame]
    var seqsBase: DataFrame = null
    var pc: DataFrame = null
    try {
      // pair = "a b" (symbols never contain whitespace — they are
      // non-space characters and concatenations thereof), so the
      // 2-shingle string IS the pair key and its binary order is the
      // deterministic tiebreak on both engines. OCCURRENCES, not
      // distinct-per-word: Sennrich pair statistics count every
      // adjacent position ("banana" has 'a n' twice), which is also
      // exactly what the oracle's per-position LATERAL replays
      def pairRows(frame: DataFrame, sign: Int): DataFrame =
        frame.select(
          (col("freq") * sign).as("d"),
          explode(TextOps.shingleOccurrencesFromTokens(col("s"), 2)).as("pair"))
      seqsBase =
        (if (byteLevel) initialByteSeqs(vocab) else initialSeqs(vocab)).localCheckpoint(true)
      var seqs = seqsBase
      // the ONE full corpus-vocab pair aggregation of the whole run
      pc = pairRows(seqs, 1)
        .groupBy("pair")
        .agg(sum("d").as("cnt"))
        .localCheckpoint(true)
      val merges = ArrayBuffer.empty[Merge]
      var rank = 1
      var exhausted = false
      var sinceCheckpoint = 0
      // every per-iteration frame is coalesced back to the core count
      // before its checkpoint: localCheckpoint PRESERVES partition
      // counts, and `filter ∪ slice` otherwise DOUBLES them per merge
      // (filter keeps the parent's partitions, the slice adds its own) —
      // measured as a 2^13-task stage by merge 13. coalesce is narrow
      // (no shuffle); between rebases the chain grows by one slice's
      // partitions per merge and the rebase resets it.
      val parallelism = docs.sparkSession.sparkContext.defaultParallelism
      while (rank <= numMerges && !exhausted) {
        val top = pc.orderBy(col("cnt").desc, col("pair").asc).limit(1).collect()
        if (top.isEmpty) {
          // every word fully merged into one symbol — nothing left to learn
          exhausted = true
        } else {
          val pair = top(0).getString(0)
          val cnt = top(0).getLong(1)
          val sep = pair.indexOf(' ')
          val (a, b) = (pair.substring(0, sep), pair.substring(sep + 1))
          val merged = a + b
          val mergedCollides =
            merged == EndOfWord || merges.exists(_.merged == merged)
          merges += Merge(rank.toLong, a, b, merged, cnt)
          val hasPair =
            array_contains(TextOps.shingleOccurrencesFromTokens(col("s"), 2), lit(pair))
          // the touched slice, re-tokenized under the winning merge —
          // materialized once, read by the delta AND the seqs update
          val newSlice = seqs
            .filter(hasPair)
            .select(
              col("w"),
              col("freq"),
              ExprBridge.column(
                BpeMergeRuns(ExprBridge.expression(col("s")), a, b)).as("s"))
            .coalesce(parallelism)
            .localCheckpoint(true)
          pendingSlices += newSlice
          val delta = pairRows(seqs.filter(hasPair), -1)
            .unionByName(pairRows(newSlice, 1))
            .groupBy("pair")
            .agg(sum("d").as("d"))
            .filter(col("d") =!= 0L)
          val pcNew =
            if (cnt <= deltaBroadcastMax && !mergedCollides) {
              // new keys involve the merged symbol; everything else is an
              // in-place adjustment — pc itself never reshuffles. The
              // delta feeds two consumers below, so it is materialized
              // once (it is broadcast-small by the gate)
              val deltaM = delta.localCheckpoint(true)
              val involvesMerged =
                substring_index(col("pair"), " ", 1) === merged ||
                  substring_index(col("pair"), " ", -1) === merged
              val updated = pc
                .join(broadcast(deltaM.filter(!involvesMerged)), Seq("pair"), "left")
                .select(col("pair"), (col("cnt") + coalesce(col("d"), lit(0L))).as("cnt"))
                .filter(col("cnt") > 0)
                .unionByName(
                  deltaM.filter(involvesMerged && col("d") > 0)
                    .select(col("pair"), col("d").as("cnt")))
                .coalesce(parallelism)
                .localCheckpoint(true)
              Caching.release(deltaM)
              updated
            } else {
              pc.unionByName(delta.select(col("pair"), col("d").as("cnt")))
                .groupBy("pair")
                .agg(sum("cnt").as("cnt"))
                .filter(col("cnt") > 0)
                .localCheckpoint(true)
            }
          Caching.release(pc)
          pc = pcNew
          seqs = seqs.filter(!hasPair).unionByName(newSlice)
          sinceCheckpoint += 1
          if (sinceCheckpoint >= SeqsCheckpointEveryMerges) {
            val rebased = seqs.coalesce(parallelism).localCheckpoint(true)
            Caching.release(seqsBase)
            pendingSlices.foreach(Caching.release(_))
            pendingSlices.clear()
            seqsBase = rebased
            seqs = rebased
            sinceCheckpoint = 0
          }
          rank += 1
        }
      }
      // ownership of the live chain's backing checkpoints (seqsBase +
      // pending slices) transfers to the caller: the returned frame IS
      // the (≤ one-rebase-period-deep) lazy chain over them, and
      // [[Caching.release]] on it frees every LogicalRDD leaf. Returning
      // the chain rather than a fresh checkpoint keeps its plan depth
      // observable (the bounded-lineage spec) and skips one full copy.
      seqsBase = null
      pendingSlices.clear()
      (merges.toSeq, seqs)
    } finally {
      if (pc != null) Caching.release(pc)
      if (seqsBase != null) Caching.release(seqsBase)
      pendingSlices.foreach(Caching.release(_))
      vocab.unpersist(blocking = false)
    }
  }

  /** Apply a learned merge list to a vocab's initial sequences — a pure
    * chained-projection replay (one codegen'd [[BpeMergeRuns]] per merge,
    * rank order; no jobs). The tokenizer-inference half of BPE.
    * `byteLevel` must match the regime the merges were trained under
    * (char symbols vs hex-coded UTF-8 byte symbols).
    */
  def applyMerges(
      vocab: DataFrame,
      merges: Seq[Merge],
      byteLevel: Boolean = false): DataFrame = {
    val seq0 = if (byteLevel) initialByteSeqs(vocab) else initialSeqs(vocab)
    merges.sortBy(_.mergeRank).foldLeft(seq0) { (df, m) =>
      df.select(
        col("w"),
        col("freq"),
        ExprBridge.column(
          BpeMergeRuns(ExprBridge.expression(col("s")), m.symA, m.symB)).as("s"))
    }
  }

  /** Pruned-scan bytes of the text column past which the word → symbol
    * table is no longer assumed driver/broadcast-safe. The distinct-word
    * vocab grows sublinearly (Heaps' law) but UNBOUNDEDLY with the
    * corpus — a forced broadcast of it is the exact defect class that
    * drove the r8 keep-list driver OOM at 100× data. 1 GiB of pruned
    * text keeps the gate far above every bench fixture regime (sf10
    * documents.text reads ~0.7 GB of a multi-GB file) while tripping
    * well before a web-scale vocab approaches driver limits.
    */
  private[graft] val VocabBroadcastMaxTextBytes: Long = 1L << 30

  /** Encode the corpus under a freshly-trained merge table: per-document
    * whitespace-token and BPE-token counts — the tokens-per-document
    * metric a pretraining pipeline budgets shards and context windows
    * with (the compression ratio n_tokens_bpe / n_chars is the classic
    * tokenizer-quality readout). Plan: train (bounded argmax collects),
    * replay the merges over the vocab (chained codegen projections),
    * then ONE corpus token scan joined against the vocab-bounded word →
    * symbol-count table. The join side is STATS-GATED (the
    * `q_basket_lift` shape-pick discipline): below
    * [[VocabBroadcastMaxTextBytes]] of column-pruned text the vocab is
    * hinted broadcast (one map-side hash join, no shuffle of the corpus
    * tokens); above it the hint is dropped — the join plans as a
    * shuffle join on `w`, and AQE may still convert back to broadcast
    * at runtime if the built side proves small, but nothing FORCES a
    * corpus-proportional table through the driver.
    */
  def encodeTokenCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numMerges: Int): DataFrame = {
    val merges = trainMergeSeq(docs, textCol, numMerges)
    val broadcastVocab =
      docs.select(col(textCol)).queryExecution.optimizedPlan.stats.sizeInBytes <=
        VocabBroadcastMaxTextBytes
    encodeWithMerges(docs, idCol, textCol, merges, broadcastVocab)
  }

  /** [[encodeTokenCounts]] under the BYTE-LEVEL trainer
    * ([[trainMergesBytes]]): `n_tokens_bpe` counts hex-coded UTF-8 byte
    * symbols after the learned merges — the production tokenizer's
    * token budget, exact on all text incl. non-BMP. Same stats-gated
    * vocab join, same plan shape; on pure-ASCII text the counts equal
    * the char-level encode (2-digit uppercase hex is order-preserving
    * on bytes, so the training argmax and every tiebreak correspond
    * 1:1 — spec-pinned).
    */
  def encodeTokenCountsBytes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numMerges: Int): DataFrame = {
    val merges = trainMergeSeq(docs, textCol, numMerges, byteLevel = true)
    val broadcastVocab =
      docs.select(col(textCol)).queryExecution.optimizedPlan.stats.sizeInBytes <=
        VocabBroadcastMaxTextBytes
    encodeWithMerges(docs, idCol, textCol, merges, broadcastVocab, byteLevel = true)
  }

  /** The encode plan under an already-trained merge list, with the vocab
    * join strategy explicit — exposed for the plan spec that pins BOTH
    * regimes ([[encodeTokenCounts]] picks `broadcastVocab` from scan
    * stats).
    */
  private[graft] def encodeWithMerges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[Merge],
      broadcastVocab: Boolean,
      byteLevel: Boolean = false): DataFrame = {
    val wl = applyMerges(wordVocab(docs, textCol), merges, byteLevel)
      .select(col("w"), size(col("s")).as("n_sym"))
    docs
      .select(col(idCol).as("doc_id"), explode(TextOps.tokens(col(textCol))).as("w"))
      .join(if (broadcastVocab) broadcast(wl) else wl, "w")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens_ws"),
        sum(col("n_sym").cast("long")).as("n_tokens_bpe"))
  }
}
