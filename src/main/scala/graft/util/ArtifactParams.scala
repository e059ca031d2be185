package graft.util

import org.apache.spark.sql.SparkSession

/** Build-time hyperparameter metadata for persisted index/tokenizer
  * artifacts (`buildIvfPqIndex`, `saveTokenizer`, `lshBuildIndex`).
  *
  * The hazard this closes (r19 advice): every `*WithIndex`/`load*` entry
  * point used to TRUST the caller to repeat the build-time
  * hyperparameters — a query passing a different `nCodes`/`subDim` than
  * the persisted codes were encoded with would index a freshly derived
  * codebook with stale code words and silently return wrong neighbors.
  * With the params file written at build time and validated on load, a
  * mismatch fails loudly instead.
  *
  * Stored as a ONE-ROW parquet (`dir/params` by convention) with string
  * columns — parquet rather than JSON so the artifact stays
  * single-format, readable by any engine, and free of hand-rolled
  * parsing. The row is bounded by construction (a handful of scalars).
  */
object ArtifactParams {

  /** Write `params` as the artifact's one-row metadata table.
    *
    * Written DRIVER-SIDE via parquet-hadoop (r22): the previous
    * `createDataFrame(...).coalesce(1).write` launched a full Spark job —
    * scheduler latency + commit protocol — to persist a handful of
    * scalars, and that job sat serially on every artifact build chain
    * (r21 job-span probe: the artifact gates are job-latency bound, not
    * compute bound). The on-disk format is unchanged: one standard
    * parquet file of required UTF-8 string columns, readable by any
    * engine (and by Spark — TokenPackSpec round-trips it).
    */
  def write(spark: SparkSession, dir: String, params: Seq[(String, String)]): Unit = {
    require(params.nonEmpty, "artifact params must not be empty")
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    val fields = params.map { case (k, _) =>
      Types.required(PrimitiveType.PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(k): org.apache.parquet.schema.Type
    }
    val schema = new MessageType("params", fields: _*)
    val group = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
    params.foreach { case (k, v) => group.append(k, v) }
    val file = new org.apache.hadoop.fs.Path(dirPath, "part-00000.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withType(schema)
      .withConf(conf)
      .build()
    try writer.write(group) finally writer.close()
  }

  /** Read the artifact's params row back as a map. Fails loudly on a
    * missing or malformed params table — an artifact without metadata is
    * not a valid artifact of this library.
    *
    * Read DRIVER-SIDE from the parquet footers + one bounded row group
    * (no Spark job — see [[write]]); any engine's one-row string parquet
    * under `dir` is accepted, exactly as before.
    */
  def read(spark: SparkSession, dir: String): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    require(fs.exists(dirPath), s"artifact params at $dir: path does not exist")
    val files = org.apache.spark.sql.graft.FooterSchema.dataFiles(fs, dirPath).map(_.getPath)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    files.foreach { p =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          val mt = g.getType
          rows += (0 until mt.getFieldCount).map { i =>
            mt.getFieldName(i) ->
              (if (g.getFieldRepetitionCount(i) == 0) "null" else g.getValueToString(i, 0))
          }.toMap
          g = reader.read()
        }
      } finally reader.close()
    }
    require(
      rows.length == 1,
      s"artifact params at $dir must be exactly one row, found ${rows.length}")
    rows.head
  }

  /** Validate that the artifact at `dir` was built with exactly
    * `expected` — fail loudly (with both sides printed) on any mismatch
    * or missing key, instead of silently querying with stale codebooks.
    */
  def validate(spark: SparkSession, dir: String, expected: Seq[(String, String)]): Unit = {
    val actual = read(spark, dir)
    val diffs = expected.flatMap { case (k, v) =>
      actual.get(k) match {
        case Some(a) if a == v => None
        case other             => Some(s"$k: expected $v, artifact has ${other.getOrElse("<missing>")}")
      }
    }
    require(
      diffs.isEmpty,
      s"artifact at $dir was built with different hyperparameters than the query supplies — " +
        s"refusing to return silently-wrong results: ${diffs.mkString("; ")}")
  }
}
