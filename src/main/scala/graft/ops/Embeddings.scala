package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-column maintenance ops for a training/retrieval pipeline
  * (SURVEY.md §2.11 extension family): unit-L2 normalization (so cosine
  * becomes a plain dot product downstream) and symmetric int8
  * quantization (4× storage/bandwidth cut — the standard trick before
  * shipping vectors to an ANN index).
  *
  * Both are per-row projections over the vector column — scan-speed, no
  * shuffle, fully codegen-compatible — and all arithmetic is sequential
  * double math so results are reproducible and oracle-comparable.
  */
object Embeddings {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** (vec_id, nrm, unit): unit-L2 normalized copy of the vector with its
    * original norm kept alongside (the norm IS the information
    * normalization destroys — retrieval pipelines store it). Zero vectors
    * pass through unscaled with nrm 0.
    */
  def l2Normalize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    emb
      .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(Similarity.fastDot(col("v"), col("v"))))
      .withColumn(
        "unit",
        when(col("nrm") > 0, transform(col("v"), x => x / col("nrm"))).otherwise(col("v")))
      .select("vec_id", "nrm", "unit")
  }

  /** (vec_id, scale, q): symmetric int8 quantization — scale = 127/max|x|
    * per vector, q_i = round(x_i × scale) ∈ [−127, 127]. Dequantize with
    * q_i / scale. All-zero vectors get scale 0 and an all-zero q.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb
      .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", when(col("maxabs") > 0, lit(127.0) / col("maxabs")).otherwise(lit(0.0)))
      .withColumn("q", transform(col("v"), x => round(x * col("scale")).cast("int")))
      .select("vec_id", "scale", "q")

  /** Per-group element-wise embedding aggregation over int8-quantized
    * vectors — the centroid-recompute step of clustering/class-profile
    * pipelines, made ORDER-FREE: float sums depend on fold order across
    * partitions, so the vectors are quantized first and the per-dimension
    * sums are exact integers (any shuffle order, any partitioning, same
    * bits). Emitted in long format (group, dim, n_vecs, q_sum): one row
    * per dimension, so results stay scalar-comparable and the downstream
    * mean is q_sum / n_vecs / scale at the consumer's precision choice.
    * Plan: per-row quantize projection → posexplode → one hash aggregate
    * on (group, dim) — dims are bounded, so cardinality is |groups|×dims.
    */
  def groupSumInt8(emb: DataFrame, groupCol: String, vecCol: String): DataFrame =
    emb
      .select(col(groupCol).as("grp"), asDouble(col(vecCol)).as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", when(col("maxabs") > 0, lit(127.0) / col("maxabs")).otherwise(lit(0.0)))
      .select(
        col("grp"),
        posexplode(transform(col("v"), x => round(x * col("scale")).cast("long"))).as(Seq("dim", "qv")))
      .groupBy("grp", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum(col("qv")).as("q_sum"))
      .select(col("grp").as(groupCol), col("dim"), col("n_vecs"), col("q_sum"))
}
