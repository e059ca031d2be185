package graft.load

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.types.StructType

import java.io.IOException
import java.util.UUID

/** K1/K2 — the load stage (`/root/reference/data_load.py:27-59`).
  *
  * Reference semantics: BigQuery JSON load job with `write_disposition`
  * from env (`WRITE_APPEND`/`WRITE_TRUNCATE`), `ALLOW_FIELD_ADDITION` +
  * `autodetect=True` schema evolution, and a hard error on empty input
  * (`data_load.py:27-33`). Offline mapping (SURVEY.md §2.7): parquet
  * append/truncate with field addition, [[writeParquetEvolving]] being the
  * one parquet load path. Like the reference's one load job, a load is one
  * Spark write: schemas come from parquet footers read on the driver, and
  * the write is staged beside the destination and committed by rename
  * only once it succeeded. A `mergeSchema` read of the destination sees
  * the union of every load. [[BigQuerySink]] loads the same frame into
  * BigQuery through a [[BigQueryLoadClient]].
  */
object Sink {

  /** Empty-input guard (K2, `/root/reference/data_load.py:27-33`). */
  final class EmptyInputException(msg: String) extends RuntimeException(msg)

  sealed trait WriteDisposition
  case object WriteAppend extends WriteDisposition
  case object WriteTruncate extends WriteDisposition

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
    * only ever grows monotonically. Returns the union.
    *
    * The load is one Spark write and no other job:
    *  - the destination's schema is merged on the driver from its parquet
    *    footers, as a `mergeSchema` read would infer it (a conflict raises
    *    the same `CANNOT_MERGE_SCHEMAS` error); only a destination that
    *    does not exist, or holds no data files, counts as empty, and any
    *    other failure to read its schema (a planted file whose type
    *    conflicts, a corrupt footer) propagates before anything is written;
    *  - the aligned frame is written once to a hidden sibling staging
    *    directory, `.<dest>.staging-<uuid>`;
    *  - the empty-input guard (K2) sums the staged footers' row counts:
    *    zero throws [[EmptyInputException]] with the destination untouched;
    *  - otherwise WRITE_TRUNCATE deletes the destination — only now, after
    *    the staged write succeeded, so a failing write leaves the old table
    *    whole — and the staged data files are renamed into it. `_SUCCESS`
    *    stays in staging, which is deleted whatever happens;
    *  - the merged schema of every footer now in the destination is
    *    verified to equal the computed union, failing loudly instead of
    *    leaving a silently diverged table.
    */
  def writeParquetEvolving(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      disposition: WriteDisposition
  ): StructType = {
    val dest = new Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: Option[StructType] = disposition match {
      case WriteTruncate => None
      case WriteAppend   => if (fs.exists(dest)) FooterSchema.merge(spark, FooterSchema.footers(fs, dest)) else None
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
    val staging = new Path(dest.getParent, s".${dest.getName}.staging-${UUID.randomUUID()}")
    try {
      aligned.write.parquet(staging.toString)
      val staged = FooterSchema.footers(fs, staging)
      if (FooterSchema.rowCount(staged) == 0L)
        throw new EmptyInputException(s"no records to load into $path")
      if (disposition == WriteTruncate) fs.delete(dest, true)
      fs.mkdirs(dest)
      staged.foreach { f =>
        val to = new Path(dest, f.getFile.getName)
        if (!fs.rename(f.getFile, to)) throw new IOException(s"could not move ${f.getFile} to $to")
      }
    } finally fs.delete(staging, true)
    val after = FooterSchema.merge(spark, FooterSchema.footers(fs, dest)).getOrElse(StructType(Nil))
    val got = after.fields.map(f => f.name -> f.dataType).toSet
    val want = union.fields.map(f => f.name -> f.dataType).toSet
    if (got != want)
      throw new SchemaEvolutionException(
        s"post-write verification failed for $path: on-disk merged schema $got != expected $want")
    union
  }
}
