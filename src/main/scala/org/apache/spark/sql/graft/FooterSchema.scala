package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.SparkException
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Compile-checked access to the `private[sql]` half of Spark's parquet
  * schema merge, so a driver that already holds the footers gets the
  * schema a `mergeSchema` read would infer without submitting its job:
  * each footer converts as that read converts it (the embedded Spark
  * schema when present, else the parquet types under the session's
  * parquet confs), the schemas fold left with `StructType.merge`, and a
  * conflict raises the same `CANNOT_MERGE_SCHEMAS` error.
  */
object FooterSchema {

  /** The data files a Spark read of `path` reads, for reading their
    * footers on the driver: `path` itself when it is a file, else the
    * directory's files by Spark's hidden-file rule (names starting with
    * `_` or `.` are not data), in name order.
    */
  def dataFiles(fs: FileSystem, path: Path): Seq[FileStatus] = {
    val st = fs.getFileStatus(path)
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(path).toSeq
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
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
