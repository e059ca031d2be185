package org.apache.spark.sql.graft

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
