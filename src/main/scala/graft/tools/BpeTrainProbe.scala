package graft.tools

/** Per-iteration cost attribution for the incremental BPE trainer — the
  * evidence that per-merge work tracks the VOCAB-TOUCH FRACTION (the
  * winning pair's weighted count), not the corpus: the naive loop paid a
  * full pair recount + full re-tokenize per merge, so its per-iteration
  * wall was flat in the merge rank; the incremental loop's cost must
  * DROP as merges move down the frequency curve.
  *
  * {{{
  * SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.BpeTrainProbe /tmp/sf10 64"
  * }}}
  *
  * Prints one JSON line per merge (rank, winning pair, weighted count,
  * iteration wall ms) plus a summary line comparing mean wall over the
  * first vs last quartile of merges.
  */
object BpeTrainProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: BpeTrainProbe <sfDir> <numMerges>")
    val (dir, m) = (args(0), args(1).toInt)
    val spark = graft.GraftSession.local()

    val docs = graft.queries.Tables.t(spark, dir, "documents").select("text")
    val iters = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val t0 = System.nanoTime()
    val (merges, seqs) =
      graft.ops.Bpe.trainMergeSeqWithSeqs(docs, "text", m, iterationProbe = {
        (rank, pair, cnt, wallMs) =>
          iters += ((rank, cnt, wallMs))
          // escape the corpus-derived pair (quotes/backslashes are routine
          // in char-level merges) so every probe line stays parseable JSON
          println(
            s"""{"probe":"bpe_train_iter","rank":$rank,"pair":"${graft.util.JsonLog.esc(pair)}",""" +
              s""""weighted_count":$cnt,"wall_ms":$wallMs}""")
      })
    graft.ops.Caching.release(seqs)
    val total = (System.nanoTime() - t0) / 1e9
    val q = math.max(1, iters.size / 4)
    def mean(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sum / xs.size
    println(
      s"""{"probe":"bpe_train_summary","sf_dir":"$dir","merges":${merges.size},""" +
        s""""total_sec":${math.round(total * 10) / 10.0},""" +
        s""""wall_ms_first_quartile_mean":${mean(iters.take(q).map(_._3).toSeq)},""" +
        s""""wall_ms_last_quartile_mean":${mean(iters.takeRight(q).map(_._3).toSeq)},""" +
        s""""count_first_quartile_mean":${mean(iters.take(q).map(_._2).toSeq)},""" +
        s""""count_last_quartile_mean":${mean(iters.takeRight(q).map(_._2).toSeq)}}""")
    spark.stop()
  }
}
