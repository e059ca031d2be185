package graft.queries

import graft.util.JsonLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** One registered operator: the Spark implementation plus (where
  * SQL-expressible) a DuckDB oracle that must hash-match it exactly.
  *
  * Determinism contract for oracle-backed queries (SURVEY.md §5):
  *  - FP aggregates are decimal-cast on BOTH sides (exact, order-free);
  *  - computed integer columns are cast to BIGINT on both sides;
  *  - vector math is a sequential double fold on both sides (bitwise equal);
  *  - every ranking has a total order (unique-key tie-breaks).
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    description: String = ""
)

object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, TimestampNTZType}

  /** The event-time column is always surfaced as TimestampType regardless
    * of how the fixture was physically written. The driver has shipped
    * three encodings of `events.ts` across regenerations:
    *  - parquet TIMESTAMP(NANOS): Spark rejects by default; read nanos as
    *    long (`nanosAsLong`) and truncate to µs — the same truncation
    *    DuckDB applies reading TIMESTAMP_NS into its µs timestamps;
    *  - naive `timestamp[us]` (no isAdjustedToUTC): Spark reads
    *    TIMESTAMP_NTZ, which `unix_micros` and `withWatermark` reject —
    *    cast to TIMESTAMP (session TZ is pinned UTC everywhere, so the
    *    cast is value-identical to what DuckDB reads);
    *  - UTC-adjusted `timestamp[us]`: already TimestampType, pass through.
    * Normalizing here (one place) instead of per query keeps every
    * `unix_micros`/watermark call site encoding-agnostic.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    val typed = df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
    withTsUs(typed)
  }

  /** Canonical integer event time (`ts_us` = µs since epoch), derived
    * ONCE here from the normalized column: event-time consumers read
    * `ts_us` instead of re-deriving `unix_micros(ts)` at each site — the
    * per-query re-derivation surface is what made the round-9 fixture
    * breakage ten queries wide. Unused, the column prunes out of every
    * plan (it is a projection over `ts`, after any pushed scan filters).
    */
  private def withTsUs(df: DataFrame): DataFrame =
    if (df.schema.fieldNames.contains("ts")) df.withColumn("ts_us", unix_micros(col("ts")))
    else df

  /** Fixture loader; `events.ts` normalized to TimestampType (see
    * [[normalizeTs]]).
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** Events with a time-range predicate applied to the RAW nanosecond long
    * column, before the µs conversion — so the range reaches the parquet
    * scan as a pushable long comparison (row-group/page pruning at scale).
    * Filtering after `timestamp_micros(ts div 1000)` would defeat pushdown:
    * Catalyst cannot invert the expression. Bounds are UTC `yyyy-MM-dd`
    * (or full timestamps); start inclusive, end exclusive.
    */
  def eventsRanged(
      s: SparkSession,
      dir: String,
      startInclusive: Option[String],
      endExclusive: Option[String]
  ): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    def ns(d: String): Long = {
      val str = if (d.length == 10) s"$d 00:00:00" else d
      java.time.LocalDateTime
        .parse(str.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC)
        .getEpochSecond * 1000000000L
    }
    val ranged = raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        var df = raw
        startInclusive.foreach(d => df = df.filter(col("ts") >= lit(ns(d))))
        endExclusive.foreach(d => df = df.filter(col("ts") < lit(ns(d))))
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        // Filter on the raw NTZ column with an NTZ literal (constant-folded
        // → pushable scan predicate), THEN cast — same ordering rationale
        // as the nanos branch.
        var df = raw
        startInclusive.foreach(d => df = df.filter(col("ts") >= to_timestamp_ntz(lit(d))))
        endExclusive.foreach(d => df = df.filter(col("ts") < to_timestamp_ntz(lit(d))))
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ =>
        var df = raw
        startInclusive.foreach(d => df = df.filter(col("ts") >= lit(d).cast("timestamp")))
        endExclusive.foreach(d => df = df.filter(col("ts") < lit(d).cast("timestamp")))
        df
    }
    withTsUs(ranged)
  }
}

/** Scratch space for queries that persist an artifact and read it back. */
object Scratch {

  /** Runs `body` on the directory `/tmp/graft-<name>/<applicationId>`
    * (or its `sub` child) and deletes that directory when `body` returns
    * or throws. The path is deterministic within a run and collision-free
    * across concurrent processes. The value `body` returns must already
    * be materialized: a lazy frame over the directory would lose its
    * files to the delete. A `sub` directory's per-application parent is
    * removed too once its last `sub` is gone.
    *
    * A failed cleanup is logged, never thrown: an exception escaping a
    * `finally` replaces the primary failure, and a leaked scratch
    * directory is the lesser defect (the next run's overwrite reclaims
    * it). `NonFatal`, not just `IOException`, because Hadoop's
    * LocalFileSystem wraps some failures in RuntimeExceptions.
    */
  def withDir[T](s: SparkSession, name: String, sub: String = "")(body: String => T): T = {
    val appDir = new Path(s"/tmp/graft-$name/${s.sparkContext.applicationId}")
    val dir = if (sub.isEmpty) appDir else new Path(appDir, sub)
    try body(dir.toString)
    finally {
      try {
        val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(dir, true)
        if (dir != appDir && fs.exists(appDir) && fs.listStatus(appDir).isEmpty) fs.delete(appDir, true)
      } catch {
        case NonFatal(e) => JsonLog.warning(s"scratch directory cleanup failed for $dir: $e")
      }
    }
  }
}
