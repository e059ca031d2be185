package graft.tools

import org.apache.spark.sql.functions._

/** Formatted plans of the INTERNAL pipelines behind the eagerly-
  * materialized similarity operators (r22, VERDICT r21 #8): the
  * registered queries' own `_before`/`_after` dumps show only the final
  * `Scan ExistingRDD` of the checkpointed result, so the claimed internal
  * shape (scan counts, exchange counts, join strategies) was previously
  * evidenced by code + bench only. This dumps the `FromBase`-level lazy
  * frames — the exact plans those operators execute before
  * materialization — with the gate's own hyperparameters.
  *
  * {{{
  * sbt "runMain graft.tools.InternalPlanDump /root/testdata/sf0.1"
  * }}}
  */
object InternalPlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: InternalPlanDump <sfDir>")
    val d = args(0)
    val spark = graft.GraftSession.local()
    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"==== $name ====")
      println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    val emb = graft.queries.Tables.t(spark, d, "embeddings")
    val ops = graft.ops.Similarity

    // emb_pq_adc_topk's internal pipeline over the prepped base (gate
    // params; rerankK resolved to the same adaptive depth the gate uses)
    val base = ops.prepBase(emb, "vec_id", "embedding")
    show("pqAdcTopKFromBase (emb_pq_adc_topk internals)",
      ops.pqAdcTopKFromBase(base, k = 5, queryPred = col("cid") < 50,
        subspaces = 16, subDim = 4, nCodes = 64, rerankK = ops.AdaptiveRerank))

    // dedup_semantic's internal pipeline (gate-derived k)
    val kCells = math.max(8L, emb.count() / 2000L).toInt
    show("semanticDedupFromBase (dedup_semantic internals)",
      ops.semanticDedupFromBase(base, k = kCells, threshold = 0.35))

    // ann_ivfpq_persisted's query half over a freshly built artifact
    graft.queries.Scratch.withDir(spark, "plandump-index") { dir =>
      ops.buildIvfPqIndex(emb, "vec_id", "embedding",
        nClusters = 8, subspaces = 16, subDim = 4, nCodes = 64, dir)
      val pqRows = spark.read.parquet(s"$dir/pqbook")
        .select("vid", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      show("ivfPqQueryFromCodes (ann_ivfpq_persisted internals)",
        ops.ivfPqQueryFromCodes(
          base,
          spark.read.parquet(s"$dir/codes"),
          spark.read.parquet(s"$dir/centroids"),
          k = 3, queryPred = col("cid") < 50, nProbe = 6,
          subspaces = 16, subDim = 4, nCodes = 64, effRerankK = 50,
          pqRows = Some(pqRows)))
    }
    spark.stop()
  }
}
