package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkException
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Compile-checked access to the `private[sql]` half of Spark's parquet
  * schema merge, so a driver that already holds the footers gets the
  * schema a `mergeSchema` read would infer without submitting its job:
  * each footer converts as that read converts it (the embedded Spark
  * schema when present, else the parquet types under the session's
  * parquet confs), the schemas fold left with `StructType.merge`, and a
  * conflict raises the same `CANNOT_MERGE_SCHEMAS` error. It is also the
  * engine's one driver-side footer reader: the sink's schema merge and
  * empty guard, the table open ([[firstFileSchema]]) and the stream
  * drain's row count all read footers through [[footer]].
  */
object FooterSchema {

  /** The data files a Spark read of `path` reads, for reading their
    * footers on the driver: `path` itself when it is a file, else the
    * directory's files by Spark's hidden-file rule (names starting with
    * `_` or `.` are not data), in name order.
    */
  def dataFiles(fs: FileSystem, path: Path): Seq[FileStatus] = {
    val st = fs.getFileStatus(path)
    if (!st.isDirectory) Seq(st) else dataOf(fs.listStatus(path).toSeq)
  }

  private def dataOf(entries: Seq[FileStatus]): Seq[FileStatus] =
    entries.filter(f => f.isFile && !hidden(f.getPath.getName)).sortBy(_.getPath.getName)

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The footer of one parquet file, row-group metadata included. */
  def footer(fs: FileSystem, file: FileStatus): Footer = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, fs.getConf))
    try new Footer(file.getPath, r.getFooter) finally r.close()
  }

  /** The footers of `path`'s data files (see [[dataFiles]]). */
  def footers(fs: FileSystem, path: Path): Seq[Footer] = dataFiles(fs, path).map(footer(fs, _))

  /** Total row count of `footers`, from their row-group metadata. */
  def rowCount(footers: Seq[Footer]): Long =
    footers.flatMap(_.getParquetMetadata.getBlocks.asScala).map(_.getRowCount).sum

  /** The schema a plain `spark.read.parquet(path)` infers, read on the
    * driver without the one-task job that inference runs. With
    * `mergeSchema` off, Spark converts the footer of the first data file
    * in path order under the session's parquet confs; this reads that
    * footer and converts it the same way. None where the inference would
    * read something else or nothing: a missing path, a directory with no
    * data files, or one holding a `_metadata`/`_common_metadata` summary
    * (read first by Spark) or a visible subdirectory (partitions), and a
    * footer that does not read; and every path while the session sets
    * `spark.sql.parquet.mergeSchema`. The caller then falls back to the
    * plain read, which infers the schema or raises its own error.
    */
  def firstFileSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merging = spark.asInstanceOf[classic.SparkSession].sessionState.conf.isParquetSchemaMergingEnabled
    val files = Option.when(!merging && fs.exists(p))(fs.getFileStatus(p)).toSeq.flatMap { st =>
      if (!st.isDirectory) Seq(st)
      else {
        val entries = fs.listStatus(p).toSeq
        val inferredElsewhere = entries.exists { f =>
          val n = f.getPath.getName
          n == "_metadata" || n == "_common_metadata" || (f.isDirectory && !hidden(n))
        }
        if (inferredElsewhere) Nil else dataOf(entries)
      }
    }
    try files.headOption.flatMap(f => merge(spark, Seq(footer(fs, f))))
    catch { case NonFatal(_) => None }
  }

  def merge(spark: SparkSession, footers: Seq[Footer]): Option[StructType] = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(conf)
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter)).reduceOption { (a, b) =>
      try a.merge(b, conf.caseSensitiveAnalysis)
      catch {
        case cause: SparkException => throw QueryExecutionErrors.failedMergingSchemaError(a, b, cause)
      }
    }
  }
}
