package graft

import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.functions._

/** Dedup operator behavior on synthetic corpora with known near-dup
  * structure, plus LSH recall against the exact Jaccard pairs on the
  * real `documents` fixture.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val df = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val out = Dedup.exact(df, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("ngram Jaccard finds a one-word edit as near-dup, not unrelated text") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val edited = base.replace("lazy", "sleepy")
    val other = "completely different words compose this second document about spark engines"
    val df = docs(1L -> base, 2L -> edited, 3L -> other)
    val pairs = Dedup
      .ngramJaccardPairs(df, "doc_id", "text", n = 3, thresholdNum = 1, thresholdDen = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ngram Jaccard: integer evidence columns are consistent") {
    val df = docs(1L -> "a b c d e", 2L -> "a b c d e")
    val row = Dedup
      .ngramJaccardPairs(df, "doc_id", "text", 3, 9, 10)
      .collect().head
    assert(row.getAs[Long]("inter") == 3) // identical: 3 trigrams shared
    assert(row.getAs[Long]("size_a") == 3 && row.getAs[Long]("size_b") == 3)
  }

  test("maxShingleFreq drops non-discriminative heavy shingles") {
    // shingle "a b c" appears in every doc; capped at 2 it can't join
    val df = docs(1L -> "a b c", 2L -> "a b c", 3L -> "a b c")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 1, 2, maxShingleFreq = Some(2))
    assert(pairs.count() == 0)
  }

  test("LSH candidates contain ALL exact >=0.8-Jaccard pairs, without exploding") {
    // This pin guards the hash family itself, both directions the round-5
    // regression failed in: a correlated (non-min-wise-independent) family
    // loses true pairs (containment fails) AND floods the candidate set
    // with false positives (the ceiling fails — measured 8× blowup when
    // the per-lane mix lost its modular wraparound). A recall-percentage
    // assert is too weak to see either on a small fixture.
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "documents")
    val exact = Dedup
      .ngramJaccardPairs(df, "doc_id", "text", 3, 4, 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cands = Dedup
      .lshCandidatePairs(df, "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val missed = exact -- cands
    assert(missed.isEmpty, s"LSH missed ${missed.size} true >=0.8-Jaccard pairs: $missed")
    assert(
      cands.size <= 3 * exact.size,
      s"candidate set ${cands.size} exceeds 3x the ${exact.size} exact pairs — family correlation blowup")
  }

  test("LSH+verify composed dedup equals the exact Jaccard pair set on the fixture") {
    val df = graft.queries.Tables.t(spark, sf("sf0.001"), "documents")
    val exact = Dedup
      .ngramJaccardPairs(df, "doc_id", "text", 3, 4, 5)
      .select("id_a", "id_b", "inter", "size_a", "size_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val verified = Dedup
      .lshVerifiedPairs(df, "doc_id", "text", 3, 64, 16, 4, 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(verified == exact, "on a corpus where LSH recall is 1.0 the composed op is exact")
  }

  test("every registered near-dup query pays for its own build: a rebuild runs the same jobs") {
    val dir = sf("sf0.001")
    val fixture = new java.io.File(dir).toURI.getPath
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def sharedDirs = tmp.list().filter(_.startsWith("graft-shared-")).toSet
    val before = sharedDirs
    val l = new QueryListener
    spark.sparkContext.addSparkListener(l)
    // jobs and rows of one forced build, the way Bench forces it
    def build(name: String): (Int, Long, Array[String]) = {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      l.reset()
      val df = SparkEntry.queries(name)(spark, dir)
      val rows = df.queryExecution.toRdd.count()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      (l.jobSpans.size, rows, df.inputFiles)
    }
    try {
      for (name <- Seq("dedup_minhash_verified", "dedup_ngram_jaccard", "dedup_span")) {
        val (jobs1, rows1, files1) = build(name)
        val (jobs2, rows2, files2) = build(name)
        assert(rows1 > 0, s"$name found nothing on the fixture")
        assert(rows2 == rows1, name)
        assert(jobs2 == jobs1, s"$name: the first build ran $jobs1 jobs, the second $jobs2")
        for (f <- files1 ++ files2)
          assert(new java.net.URI(f).getPath.startsWith(fixture), s"$name reads $f")
      }
      assert(sharedDirs -- before == Set.empty[String])
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("connectedComponents: chains and singleton pairs get min-id labels") {
    // graph: 1-2, 2-3, 3-4 (chain, diameter 3) and 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("keepList: cluster members point at the min-id canonical, singletons keep themselves") {
    val corpus = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 7L -> "e")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.keepList(corpus, "doc_id", pairs, iterations = 4)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), // cluster {1,2,3}
      (4L, 4L, true), (7L, 7L, true)                    // never paired
    ))
  }

  test("simhash: identical docs share signature; near-dups within small hamming") {
    val base = "spark catalyst optimizer rewrites logical plans into physical plans efficiently"
    val near = base.replace("efficiently", "quickly")
    val far = "unrelated text talking about cooking recipes and kitchen equipment entirely"
    val sig = Dedup.simhash64(docs(1L -> base, 2L -> base, 3L -> near, 4L -> far), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1) << 32) | r.getLong(2))).toMap
    assert(sig(1L) == sig(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }

  test("simhashNearDupPairs returns identical docs at hamming 0") {
    val df = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta", 3L -> "zz qq ww ee")
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("chunkDedup refuses ids outside the packing bound instead of corrupting order") {
    val bad = docs(-1L -> "a b c d")
    val ex = intercept[Exception] {
      Dedup.chunkDedup(bad, "doc_id", "text", chunkTokens = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("packing violated")), ex.toString)
  }

  test("wordShingles: short docs yield empty array (no descending-sequence bug)") {
    val out = docs(1L -> "one two", 2L -> "")
      .select(TextOps.wordShingles(col("text"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(out.forall(_.isEmpty))
  }

  test("containmentPairs flags a short doc embedded in a long one that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon"                     // 3 shingles
    val long = short + " zeta eta theta iota kappa lambda mu nu xi" // superset + noise
    val df = docs(1L -> long, 2L -> short, 3L -> "totally different words here now")
    val cont = Dedup.containmentPairs(df, "doc_id", "text", n = 3, 4, 5)
      .select("contained_id", "container_id").as[(Long, Long)].collect().toSet
    assert(cont == Set((2L, 1L)), cont.toString) // directional: 2 ⊂ 1 only
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, 4, 5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(jac.isEmpty, "size-skewed subset must be invisible to Jaccard >= 0.8")
  }

  test("prefix-filtered Jaccard equals the dense inverted-index path on the fixture") {
    val sh = Dedup.shingleRows(
      graft.queries.Tables.t(spark, sf("sf0.001"), "documents"), "doc_id", "text", 3)
    // registry shape (t = 4/5, df cap 50) AND a loose threshold that
    // admits many more pairs — both must agree row-for-row with the
    // dense path (the prefix filter is lossless by the AllPairs lemma)
    for ((num, den, cap) <- Seq((4, 5, Some(50)), (1, 2, None))) {
      val dense = Dedup.ngramJaccardPairsFromShingles(sh, num, den, cap)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val pref = Dedup.prefixJaccardPairsFromShingles(sh, num, den, cap)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(dense.nonEmpty, s"fixture should contain pairs at $num/$den")
      assert(pref == dense, s"t=$num/$den cap=$cap: prefix path diverged from dense path")
    }
  }

  test("prefix-filtered containment equals the dense path on the fixture") {
    val sh = Dedup.shingleRows(
      graft.queries.Tables.t(spark, sf("sf0.001"), "documents"), "doc_id", "text", 3)
    for ((num, den, cap) <- Seq((4, 5, Some(50)), (1, 2, None))) {
      val dense = Dedup.containmentPairsFromShingles(sh, num, den, cap)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val pref = Dedup.prefixContainmentPairsFromShingles(sh, num, den, cap)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(dense.nonEmpty, s"fixture should contain containment pairs at $num/$den")
      assert(pref == dense, s"t=$num/$den cap=$cap: prefix containment diverged from dense")
    }
  }

  test("prefix paths: synthetic edges — identical docs, embedded doc, df cap") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("lazy", "sleepy")
    val short0 = "alpha beta gamma delta epsilon"
    val long0 = short0 + " zeta eta theta iota kappa lambda mu nu xi"
    val df = docs(1L -> base, 2L -> base, 3L -> near, 4L -> short0, 5L -> long0,
      6L -> "completely unrelated corpus words about engines")
    val sh = Dedup.shingleRows(df, "doc_id", "text", 3)
    // identical pair found at any threshold; near pair at 1/2 only
    val jHi = Dedup.prefixJaccardPairsFromShingles(sh, 9, 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(jHi == Set((1L, 2L)))
    val jLo = Dedup.prefixJaccardPairsFromShingles(sh, 1, 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(jLo.contains((1L, 2L)) && jLo.contains((1L, 3L)))
    // directional containment: short ⊂ long, plus the identical pair both ways
    val cont = Dedup.prefixContainmentPairsFromShingles(sh, 4, 5)
      .select("contained_id", "container_id").as[(Long, Long)].collect().toSet
    assert(cont.contains((4L, 5L)) && !cont.contains((5L, 4L)), cont.toString)
    assert(cont.contains((1L, 2L)) && cont.contains((2L, 1L)), cont.toString)
    // df cap drops non-discriminative shingles entirely (dense-path parity)
    val capped = Dedup.prefixJaccardPairsFromShingles(
      Dedup.shingleRows(docs(1L -> "a b c", 2L -> "a b c", 3L -> "a b c"), "doc_id", "text", 3),
      1, 2, maxShingleFreq = Some(2))
    assert(capped.count() == 0)
  }

  test("chunkDedup: corpus-wide first occurrence survives, text reassembled in order") {
    // chunk size 2: doc 1 = [a b][c d], doc 2 = [a b][x y], doc 3 = [c d]
    // repeated within doc 3 itself would also dedup — covered by doc 4
    val df = docs(
      1L -> "a b c d",
      2L -> "a b x y",
      3L -> "c d",
      4L -> "p q p q p",   // [p q][p q][p] — 2nd chunk dups the 1st
      5L -> ""             // zero tokens → no chunks → absent from output
    )
    val out = Dedup.chunkDedup(df, "doc_id", "text", chunkTokens = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 2L, "a b c d")))      // first owner of both chunks
    assert(out(2L) == ((2L, 1L, "x y")))          // "a b" already owned by doc 1
    assert(out(3L) == ((1L, 0L, "")))             // "c d" already owned by doc 1
    assert(out(4L) == ((3L, 2L, "p q p")))        // in-doc repeat dropped once
    assert(!out.contains(5L))
  }

  test("lshIncrementalCandidates: reloaded-index candidates = cross-split slice of the full banding") {
    val docs = graft.queries.Tables.t(spark, sf("sf0.001"), "documents")
    val isNew = graft.ops.Sampling.hashBucket(col("doc_id"), "inc", 100) >= 80
    val dir = s"${tempDir("graft-test-lshindex-")}/index"
    try {
      val inc = Dedup.lshIncrementalCandidates(docs, "doc_id", "text", isNew, dir)
        .as[(Long, Long)].collect().toSet
      // ground truth: the FULL corpus banding restricted to (new, old)
      // pairs — the persisted-index path must find exactly these (band
      // keys are per-doc, so the split cannot change any key)
      val newIds = docs.select(col("doc_id").cast("long")).where(isNew)
        .as[Long].collect().toSet
      val full = Dedup.lshCandidatePairs(docs, "doc_id", "text")
        .as[(Long, Long)].collect().toSet
      val expected = full.collect {
        case (a, b) if newIds(a) && !newIds(b) => (a, b)
        case (a, b) if newIds(b) && !newIds(a) => (b, a)
      }
      assert(inc === expected)
      assert(inc.nonEmpty) // the fixture plants cross-split near-dups
      // orientation contract: left column is ALWAYS the delta doc
      assert(inc.forall { case (n, o) => newIds(n) && !newIds(o) })
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("lshIngestAppend: index absorbs each delta; appended index ≡ rebuilt; day-2 reaches snapshot ∪ day-1") {
    val docs = graft.queries.Tables.t(spark, sf("sf0.001"), "documents")
    val lane = graft.ops.Sampling.hashBucket(col("doc_id"), "inc2", 100)
    val root = tempDir("graft-test-lshappend-")
    val (dirA, dirB, dirC) = (s"$root/a", s"$root/b", s"$root/c")
    try {
      Dedup.lshBuildIndex(docs.filter(lane < 60), "doc_id", "text", dirA)
      val day1 = Dedup.lshIngestAppend(docs.filter(lane >= 60 && lane < 80), "doc_id", "text", dirA)
        .as[(Long, Long)].collect().toSet
      val day2 = Dedup.lshIngestAppend(docs.filter(lane >= 80), "doc_id", "text", dirA)
        .as[(Long, Long)].collect().toSet
      // day-1 candidates = the no-append incremental path vs the same
      // snapshot (restricted to lanes < 80 so day-2 docs don't exist yet)
      val exp1 = Dedup.lshIncrementalCandidates(
        docs.filter(lane < 80), "doc_id", "text", lane >= 60, dirB)
        .as[(Long, Long)].collect().toSet
      assert(day1 === exp1)
      // day-2 candidates against the APPENDED index = rebuilding the
      // index from snapshot ∪ day-1 from scratch — the maintenance
      // contract: the artifact absorbed the delta
      val exp2 = Dedup.lshIncrementalCandidates(
        docs, "doc_id", "text", lane >= 80, dirC)
        .as[(Long, Long)].collect().toSet
      assert(day2 === exp2)
      assert(day2.nonEmpty) // fixture plants cross-split near-dups
      // and the artifact's key rows after both appends (snapshot ∪ day-1
      // ∪ day-2 = the whole corpus) are EXACTLY a from-scratch rebuild
      // over the whole corpus (band keys are a pure per-doc function)
      val dirD = s"$root/d"
      Dedup.lshBuildIndex(docs, "doc_id", "text", dirD)
      def keys(dir: String) = spark.read.parquet(s"$dir/keys")
        .as[(Long, Int, Long)].collect().toSet
      assert(keys(dirA) === keys(dirD))
    } finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("lshIngestAppend: a delta never pairs with its own appended keys") {
    // the candidate scan overlaps the keys append; it may only ever read
    // the index as it was before this ingest. Two identical NEW docs would
    // pair with each other (and themselves), and the copy of a snapshot
    // doc with itself, if the scan saw the appended keys.
    val snapshot = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "spark engines shuffle partitions across executors during wide joins",
      3L -> "incremental dedup keeps a persisted band index between daily ingests")
    val fresh = "a brand new document about tokenizers merging byte pairs greedily"
    val delta = docs(
      101L -> fresh,
      102L -> fresh,
      103L -> "the quick brown fox jumps over the lazy dog near the river bank")
    val dir = s"${tempDir("graft-test-lshpin-")}/index"
    try {
      Dedup.lshBuildIndex(snapshot, "doc_id", "text", dir)
      val pairs = Dedup.lshIngestAppend(delta, "doc_id", "text", dir)
        .as[(Long, Long)].collect().toSet
      assert(pairs.contains((103L, 1L)), pairs)
      assert(!pairs.exists { case (a, b) => Set(a, b) == Set(101L, 102L) }, pairs)
      assert(pairs.forall { case (_, snap) => Set(1L, 2L, 3L)(snap) }, pairs)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("chunkDedupLocal: within-doc repeats excised, CROSS-doc repeats kept, map-only plan") {
    val df = docs(
      1L -> "a b c d",
      2L -> "a b x y",     // "a b" repeats doc 1 — kept here (local semantics)
      3L -> "p q p q p",   // [p q][p q][p] — in-doc repeat dropped
      4L -> ""             // zero tokens → a 0/0/'' row (total on docs, unlike chunkDedup)
    )
    val q = Dedup.chunkDedupLocal(df, "doc_id", "text", chunkTokens = 2)
    val out = q.as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 2L, "a b c d")))
    assert(out(2L) == ((2L, 2L, "a b x y")))      // cross-doc dup is NOT local
    assert(out(3L) == ((3L, 2L, "p q p")))
    assert(out(4L) == ((0L, 0L, "")))
    // the 100 TB contract: one projection over the scan — no exchange,
    // no join, no aggregate anywhere in the plan
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }
}
