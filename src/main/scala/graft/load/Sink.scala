package graft.load

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** K1/K2 — the load stage (`/root/reference/data_load.py:27-59`).
  *
  * Reference semantics: BigQuery JSON load job with `write_disposition`
  * from env (`WRITE_APPEND`/`WRITE_TRUNCATE`), `ALLOW_FIELD_ADDITION` +
  * `autodetect=True` schema evolution, and a hard error on empty input
  * (`data_load.py:27-33`). Offline mapping (SURVEY.md §2.7): parquet with
  * append/overwrite + `mergeSchema` on read ([[writeParquetEvolving]] is the
  * one parquet load path); in production [[BigQuerySink]] loads the same
  * frame through a connector-backed [[BigQueryLoadClient]].
  */
object Sink {

  /** Empty-input guard (K2, `/root/reference/data_load.py:27-33`). */
  final class EmptyInputException(msg: String) extends RuntimeException(msg)

  sealed trait WriteDisposition { def sparkMode: String }
  case object WriteAppend extends WriteDisposition { val sparkMode = "append" }
  case object WriteTruncate extends WriteDisposition { val sparkMode = "overwrite" }

  object WriteDisposition {
    /** Env-string mapping (`/root/reference/main.py:11`, `data_load.py:44-50`). */
    def fromString(s: String): WriteDisposition = s match {
      case "WRITE_TRUNCATE" => WriteTruncate
      case _                => WriteAppend
    }
  }

  /** Destination naming: `010_warner_dl_lf_{config_id}`
    * (`/root/reference/data_load.py:36`).
    */
  def tableName(configId: String): String = s"010_warner_dl_lf_$configId"

  /** Read side of ALLOW_FIELD_ADDITION: schema union across appended runs. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Field-addition evolution attempted a type CHANGE — the reference's
    * sink would reject the load job the same way (ALLOW_FIELD_ADDITION
    * permits new fields, not relaxed ones).
    */
  final class SchemaEvolutionException(msg: String) extends RuntimeException(msg)

  /** Write side of ALLOW_FIELD_ADDITION (SURVEY.md §7.5.5 calls for this
    * explicitly): on append, the incoming frame is aligned to the UNION of
    * the destination's schema and its own — existing columns keep their
    * declared type (a type change throws), missing ones are null-filled —
    * so every new file carries the full union schema and the destination
    * only ever grows monotonically. After the write, the on-disk merged
    * schema is verified to equal the computed union, failing loudly
    * instead of leaving a silently diverged table. Returns the union.
    *
    * Only a destination that does not exist counts as empty: any other
    * failure to read its schema (a planted file whose type conflicts, a
    * corrupt footer) propagates before anything is written.
    */
  def writeParquetEvolving(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      disposition: WriteDisposition
  ): StructType = {
    if (df.isEmpty) throw new EmptyInputException(s"no records to load into $path")
    val existing: Option[StructType] = disposition match {
      case WriteTruncate => None
      case WriteAppend =>
        val dest = new Path(path)
        val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
        Option.when(fs.exists(dest))(readMerged(spark, path).schema)
    }
    val union = existing match {
      case None => df.schema
      case Some(old) =>
        old.fields.foreach { f =>
          df.schema.fields.find(_.name == f.name).foreach { g =>
            if (g.dataType != f.dataType)
              throw new SchemaEvolutionException(
                s"column ${f.name}: destination has ${f.dataType.catalogString}, " +
                  s"incoming frame has ${g.dataType.catalogString}")
          }
        }
        StructType(old.fields ++ df.schema.fields.filterNot(f => old.fieldNames.contains(f.name)))
    }
    val aligned = df.select(union.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(s"`${f.name}`")
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    aligned.write.mode(disposition.sparkMode).parquet(path)
    val after = readMerged(spark, path).schema
    val got = after.fields.map(f => f.name -> f.dataType).toSet
    val want = union.fields.map(f => f.name -> f.dataType).toSet
    if (got != want)
      throw new SchemaEvolutionException(
        s"post-write verification failed for $path: on-disk merged schema $got != expected $want")
    union
  }
}
