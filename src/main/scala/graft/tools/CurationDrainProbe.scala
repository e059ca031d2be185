package graft.tools

import org.apache.spark.sql.functions._

/** Evidence probe for the `q_stream_curation` files-per-trigger lever:
  * times [[graft.streaming.EventStream.curationRunOnce]] over the same
  * fixture at several `maxFilesPerTrigger` values and prints one JSON
  * line each — the slicing-independence contract means the RESULT is
  * identical at every setting (asserted via row count + keep count), so
  * the only thing that moves is the per-micro-batch overhead a
  * deployment amortizes by batching more files per trigger.
  *
  * Usage: runMain graft.tools.CurationDrainProbe <sfDir> [mft1,mft2,...]
  */
object CurationDrainProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CurationDrainProbe <sfDir> [mft1,mft2,...]")
    val sfDir = args(0)
    val mfts = args.lift(1).getOrElse("1,8,32").split(",").map(_.trim.toInt)
    val spark = graft.GraftSession.local()
    for (mft <- mfts) {
      val t0 = System.nanoTime()
      val out = graft.streaming.EventStream.curationRunOnce(
        spark, s"$sfDir/documents.parquet",
        isNewCol = graft.ops.Sampling.hashBucket(col("doc_id"), "sinc", 100) >= 70,
        isBenchCol = graft.ops.Sampling.hashBucket(col("doc_id"), "sbench", 100) < 10,
        maxFilesPerTrigger = mft)
      val (rows, kept) = {
        val agg = out.agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L))).collect().head
        (agg.getLong(0), agg.getLong(1))
      }
      graft.ops.Caching.release(out)
      val sec = (System.nanoTime() - t0) / 1e9
      println(
        s"""{"probe":"curation_drain","max_files_per_trigger":$mft,""" +
          s""""sec":$sec,"rows":$rows,"kept":$kept,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
