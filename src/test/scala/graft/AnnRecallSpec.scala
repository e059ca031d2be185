package graft

import org.apache.spark.sql.functions._

/** Retrieval-quality floors for the three approximate-nearest-neighbor
  * paths (VERDICT r10 #1): oracle-correctness never guaranteed the
  * answers were USEFUL — measured recall@5 at the registered r9 configs
  * was ivf 0.55 / lsh 0.06 / pq 0.02. These floors pin the tuned r11
  * configs (LSH 12 tables × 4 planes, IVF nProbe 5/8, PQ 8×8 codebooks
  * with exact re-rank of a 200-candidate ADC shortlist) at gate scale
  * (sf0.1, the driver's bench fixture: 2000 × 64-dim vectors, 50
  * queries). Measured at tuning time: lsh 0.868 / ivf 0.836 / pq 0.876 —
  * the floors leave headroom for fixture regeneration, not for
  * regression to the untuned configs (all of which sit far below 0.8).
  */
class AnnRecallSpec extends SparkSpec {

  test("registered ann_recall_at_k: IVF, PQ-with-rerank and multi-table LSH clear the floor") {
    val rows = SparkEntry
      .queries("ann_recall_at_k")(spark, sf("sf0.1"))
      .select(col("method"), col("recall"))
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap
    assert(rows.keySet == Set("lsh", "ivf", "pq"), s"unexpected methods: $rows")
    assert(rows("ivf") >= 0.8, s"IVF recall@5 = ${rows("ivf")} < 0.8 floor")
    assert(rows("pq") >= 0.8, s"PQ-with-rerank recall@5 = ${rows("pq")} < 0.8 floor")
    assert(rows("lsh") >= 0.8, s"multi-table LSH recall@5 = ${rows("lsh")} < 0.8 floor")
  }

  test("composite IVF-PQ clears the floor at the registered config") {
    // recall of the registered ann_ivfpq_topk (cell-restricted ADC +
    // adaptive exact re-rank) against the registered brute-force
    // ann_cosine_topk over the same 50 queries at k=5 — the composition
    // can only lose candidates the IVF probe misses, so it must hold the
    // same 0.8 floor the standalone paths do
    def pairs(name: String) = SparkEntry
      .queries(name)(spark, sf("sf0.1"))
      .select("query_id", "neighbor_id")
    val exact = pairs("ann_cosine_topk")
    val nExact = exact.count()
    val hits = pairs("ann_ivfpq_topk").join(exact, Seq("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / nExact
    assert(recall >= 0.8, s"IVF-PQ recall@5 = $recall < 0.8 floor")
  }
}
