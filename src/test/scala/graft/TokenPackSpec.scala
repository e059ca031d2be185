package graft

import graft.ops.TokenPack

import org.apache.spark.sql.functions._

/** Packing invariants for `text_pack_sequences` (the exact per-window
  * content is gated by the DuckDB oracle; these pin the arithmetic the
  * oracle can't see failing loudly — window shapes, totals, id space).
  */
class TokenPackSpec extends SparkSpec {
  import spark.implicits._

  test("packTokenWindows: dense window ids, exact sizes, totals reconcile") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val c = 100
    val got = TokenPack
      .packTokenWindows(docs, "doc_id", "text", numMerges = 4, contextLen = c)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val nDocs = docs.count()
    // every document ends somewhere: separators total the doc count
    assert(got.map(_._3).sum === nDocs)
    // window ids are dense 0..max
    val maxWin = got.map(_._1).max
    assert(got.map(_._1).toSeq === (0L to maxWin))
    // every window except the last holds exactly contextLen tokens; the
    // last holds the remainder (1..contextLen)
    got.dropRight(1).foreach { case (w, n, _, _) => assert(n === c.toLong, s"window $w") }
    assert(got.last._2 >= 1L && got.last._2 <= c.toLong)
    // stream length = whitespace-token-driven BPE total + one separator
    // per doc: reconcile against the encode op's corpus totals
    val bpeTotal = graft.ops.Bpe
      .encodeTokenCounts(docs, "doc_id", "text", numMerges = 4)
      .agg(sum("n_tokens_bpe")).head().getLong(0)
    assert(got.map(_._2).sum === bpeTotal + nDocs)
    // fingerprints are 60-bit md5 chunks: non-negative, and mostly
    // distinct (EQUAL fps are legitimate — the fixture's planted exact
    // duplicate docs can align into content-identical windows; a 60-bit
    // CHANCE collision at ~1.4k windows is ~8e-13)
    assert(got.forall(_._4 >= 0L))
    assert(got.map(_._4).distinct.length >= got.length * 9 / 10)
  }

  test("packTokenWindows: empty documents still emit their separator") {
    val docs = Seq((1L, "x y"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val got = TokenPack
      .packTokenWindows(docs, "doc_id", "text", numMerges = 1, contextLen = 1000)
      .collect()
    assert(got.length === 1)
    // stream: doc1 symbols + sep, sep (empty doc2), doc3 symbols + sep
    assert(got.head.getLong(2) === 3L) // n_seps = 3 docs
  }

  test("packTokenWindows: NULL documents degrade to the empty-doc case, not a corrupted prefix sum") {
    // pre-fix, a NULL text made size(ids) = -1 and silently shifted every
    // downstream doc's stream offset; now NULL ≡ "" (separator only)
    val withNull = Seq((1L, "x y"), (2L, null: String), (3L, "x")).toDF("doc_id", "text")
    val withEmpty = Seq((1L, "x y"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val a = TokenPack
      .packTokenWindows(withNull, "doc_id", "text", numMerges = 1, contextLen = 4)
      .orderBy("window_id").collect().map(_.toSeq)
    val b = TokenPack
      .packTokenWindows(withEmpty, "doc_id", "text", numMerges = 1, contextLen = 4)
      .orderBy("window_id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("byteLevel packing: ASCII counts match char level; non-BMP text packs exactly") {
    // BpeSpec proves the ASCII char<->byte 1:1 correspondence (2-hex
    // symbols are order-preserving on bytes), so on a pure-ASCII corpus
    // the two regimes produce identical window GEOMETRY (ids differ —
    // different alphabets — but every count matches)
    val ascii = Seq((1L, "low lower low"), (2L, "new newer new")).toDF("doc_id", "text")
    val ch = TokenPack.packTokenWindows(ascii, "doc_id", "text", 2, 8)
      .select("window_id", "n_tokens", "n_seps").orderBy("window_id").collect().map(_.toSeq)
    val by = TokenPack.packTokenWindows(ascii, "doc_id", "text", 2, 8, byteLevel = true)
      .select("window_id", "n_tokens", "n_seps").orderBy("window_id").collect().map(_.toSeq)
    assert(ch.toSeq === by.toSeq)
    // non-BMP: the surrogate-pair emoji packs deterministically at byte
    // level (4 UTF-8 bytes -> 4 hex symbols + </w>); every doc's
    // separator arrives (n_seps total = doc count) and repeat runs agree
    val uni = Seq((1L, "café 😀"), (2L, "😀 x")).toDF("doc_id", "text")
    val a = TokenPack.packTokenWindows(uni, "doc_id", "text", 2, 6, byteLevel = true)
      .orderBy("window_id").collect().map(_.toSeq)
    val b = TokenPack.packTokenWindows(uni, "doc_id", "text", 2, 6, byteLevel = true)
      .orderBy("window_id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    assert(a.map(_(2).asInstanceOf[Long]).sum === 2L) // one separator per doc
    // and the byte-level alphabet is pure ASCII (hex pairs + </w>), so
    // the symbol-id assignment is collation-portable by construction
    val (_, symIds) = TokenPack.trainTokenizer(uni, "text", 2, byteLevel = true)
    // alphabet = hex pairs + </w>; merged symbols concatenate those —
    // either way, pure ASCII
    assert(symIds.keys.forall(s => s.nonEmpty && s.matches("([0-9A-F]{2})*(</w>)?")))
  }

  test("tokenizer artifact round-trip: save -> load preserves the tokenizer; packing parity") {
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "new newer newest new"),
      (3L, "low new low new")).toDF("doc_id", "text")
    val (merges, symIds) = TokenPack.trainTokenizer(docs, "text", numMerges = 3)
    val dir = s"${tempDir("graft-test-tokenizer-")}/artifact"
    try {
      TokenPack.saveTokenizer(spark, dir, merges, symIds)
      val (m2, s2) = TokenPack.loadTokenizer(spark, dir)
      // the artifact IS the tokenizer: reload must be value-identical
      assert(m2 === merges)
      assert(s2 === symIds)
      // and packing under the reloaded artifact is output-identical to
      // packing under the freshly trained one (the production contract:
      // ship the artifact, never re-train)
      val a = TokenPack.packTokenWindowsWith(docs, "doc_id", "text", merges, symIds, 8)
        .orderBy("window_id").collect().map(_.toSeq)
      val b = TokenPack.packTokenWindowsWith(docs, "doc_id", "text", m2, s2, 8)
        .orderBy("window_id").collect().map(_.toSeq)
      assert(a.toSeq === b.toSeq)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("tokenizer artifact params: byteLevel rides the artifact; tampered metadata fails loudly") {
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa ab")).toDF("doc_id", "text")
    val (merges, symIds) = TokenPack.trainTokenizer(docs, "text", numMerges = 2, byteLevel = true)
    val dir = s"${tempDir("graft-test-tokparams-")}/artifact"
    try {
      TokenPack.saveTokenizer(spark, dir, merges, symIds, byteLevel = true)
      // the checked load returns the build-time byteLevel, and the
      // artifact-driven pack entry point uses it — output-identical to
      // packing with the explicitly-repeated hyperparameters
      val (m2, s2, bl) = TokenPack.loadTokenizerChecked(spark, dir)
      assert(bl)
      assert(m2 === merges && s2 === symIds)
      val a = TokenPack
        .packTokenWindowsWithArtifact(docs, "doc_id", "text", dir, contextLen = 8)
        .orderBy("window_id").collect().map(_.toSeq)
      val b = TokenPack
        .packTokenWindowsWith(docs, "doc_id", "text", merges, symIds, 8, byteLevel = true)
        .orderBy("window_id").collect().map(_.toSeq)
      assert(a.toSeq === b.toSeq && a.nonEmpty)
      // tamper the params table: a merge-count mismatch must fail the
      // load loudly, not tokenize garbage downstream
      graft.util.ArtifactParams.write(
        spark, s"$dir/params",
        Seq("kind" -> "bpe_tokenizer", "num_merges" -> "999", "byte_level" -> "true"))
      val e = intercept[IllegalArgumentException] { TokenPack.loadTokenizer(spark, dir) }
      assert(e.getMessage.contains("999"))
      // and a foreign-kind artifact is rejected up front
      graft.util.ArtifactParams.write(
        spark, s"$dir/params", Seq("kind" -> "ivfpq", "num_merges" -> "2", "byte_level" -> "true"))
      intercept[IllegalArgumentException] { TokenPack.loadTokenizer(spark, dir) }
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("packBinsShelf: docs intact, harmonic classes fill k per bin, token mass conserved, padding bounded") {
    // char-level ids with 0 merges: token of c chars → c+1 ids (chars +
    // end-of-word), plus 1 separator per doc. Doc token counts below:
    //   1 → "abcdef"      = 8 (== L: class 1, a FULL bin)
    //   2 → "abc"         = 5 (class 1)
    //   3 → "ab"          = 4 (class 2)
    //   4 → "a"           = 3 (class 2)
    //   5 → "b"           = 3 (class 2)
    //   6 → "abcdefghijk" = 13 (> L: splits into an 8-piece and a 5-piece)
    val docs = Seq(
      (1L, "abcdef"), (2L, "abc"), (3L, "ab"), (4L, "a"), (5L, "b"),
      (6L, "abcdefghijk")).toDF("doc_id", "text")
    val (merges, symIds) = TokenPack.trainTokenizer(docs, "text", numMerges = 0)
    val L = 8
    val out = TokenPack.packBinsShelf(docs, "doc_id", "text", merges, symIds, L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map { case (k, bin, np, nt, pad, fp) => ((k, bin), (np, nt, pad, fp)) }.toMap
    // token mass is conserved: Σ bin n_tokens = Σ doc (n + sep)
    assert(out.values.map(_._2).sum === (8 + 5 + 4 + 3 + 3 + 13).toLong)
    // every bin respects the window and the padding arithmetic
    assert(out.values.forall { case (_, nt, pad, _) => nt <= L && pad == L - nt })
    // class 1 (m in (4, 8]): pieces 8, 8, 5, 5 sorted desc → bins
    // (8), (8), (5), (5) — one piece each
    val c1 = out.filter(_._1._1 == 1L).values.map(_._2).toSeq.sorted
    assert(c1 == Seq(5L, 5L, 8L, 8L))
    // class 2 (m in (2, 4]): pieces 4, 3, 3 sorted desc → bin 0 = (4, 3),
    // bin 1 = the (3) tail
    val c2 = out.filter(_._1._1 == 2L).values.map(v => (v._1, v._2)).toSeq.sorted
    assert(c2 == Seq((1L, 3L), (2L, 7L)))
    // non-tail class-k bins hold exactly k pieces (the shelf contract)
    assert(out.forall { case ((k, _), (np, _, _, _)) => np <= k })
    // deterministic end to end
    val again = TokenPack.packBinsShelf(docs, "doc_id", "text", merges, symIds, L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map { case (k, bin, np, nt, pad, fp) => ((k, bin), (np, nt, pad, fp)) }.toMap
    assert(again === out)
  }
}
