package graft.queries

import graft.util.JsonLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.FooterSchema

import java.io.IOException
import java.nio.file.{Files, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
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
    val df = open(s, s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** The parquet read of `path`, with nanos read as long, opened without
    * a Spark job: the schema is the one Spark's inference would take from
    * the first data file's footer, read here on the driver
    * ([[FooterSchema.firstFileSchema]]). Where that does not apply, the
    * plain read infers it (or raises its error for a path with no data).
    * The stream drains take their source schema from it too
    * (`graft.streaming.EventStream`), so batch and stream open alike.
    */
  private[graft] def open(s: SparkSession, path: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    FooterSchema.firstFileSchema(s, path) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None         => s.read.parquet(path)
    }
  }

  /** Events with a time-range predicate applied to the RAW `ts` column,
    * before [[normalizeTs]] — so the range reaches the parquet scan as a
    * pushable comparison (row-group/page pruning at scale). Filtering
    * after the conversion would defeat pushdown: Catalyst cannot invert
    * `timestamp_micros(ts div 1000)` or the NTZ cast. The bound literal
    * takes the raw column's encoding: nanos as long, an NTZ literal
    * (constant-folded), or a timestamp. Bounds are UTC `yyyy-MM-dd` (or
    * full timestamps); start inclusive, end exclusive.
    */
  def eventsRanged(
      s: SparkSession,
      dir: String,
      startInclusive: Option[String],
      endExclusive: Option[String]
  ): DataFrame = {
    val raw = open(s, s"$dir/events.parquet")
    def ns(d: String): Long = {
      val str = if (d.length == 10) s"$d 00:00:00" else d
      java.time.LocalDateTime
        .parse(str.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC)
        .getEpochSecond * 1000000000L
    }
    val bound: String => Column = raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => d => lit(ns(d))
      case Some(TimestampNTZType) => d => to_timestamp_ntz(lit(d))
      case _                      => d => lit(d).cast("timestamp")
    }
    var df = raw
    startInclusive.foreach(d => df = df.filter(col("ts") >= bound(d)))
    endExclusive.foreach(d => df = df.filter(col("ts") < bound(d)))
    normalizeTs(df)
  }
}

/** Scratch space for queries that persist an artifact and read it back. */
object Scratch {

  /** Runs `body` on the directory `/tmp/graft-<name>/<applicationId>`
    * (or its `sub` child) and deletes that directory when `body` returns
    * or throws. The path is deterministic within a run and collision-free
    * across concurrent processes. The value `body` returns must already
    * be materialized: a lazy frame over the directory would lose its
    * files to the delete. The emptied parents up to `/tmp/graft-<name>`
    * go too, each by a non-recursive delete: one that is not empty (a
    * concurrent application's sibling, or another `sub`) makes the
    * delete fail and is left as it is.
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
        try {
          if (dir != appDir) fs.delete(appDir, false)
          fs.delete(appDir.getParent, false)
        } catch { case _: IOException => () } // not empty: still in use
      } catch {
        case NonFatal(e) => JsonLog.warning(s"scratch directory cleanup failed for $dir: $e")
      }
    }
  }

  /** Local temp trees that a returned frame reads lazily, so they must
    * outlive the query; one shutdown hook deletes them at JVM exit.
    */
  private val atExit = ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(atExit.forEach(d => delete(d)))

  /** Delete the local tree at `dir` when the JVM exits. */
  def deleteAtExit(dir: String): Unit = atExit.add(dir)

  /** Delete the local tree at `dir` now, if it exists. A failure is
    * logged, never thrown: one undeletable tree (a file pinned by a
    * still-draining sink) must not stop the cleanup of the others, and
    * the leaked path must leave a trace.
    */
  def delete(dir: String): Unit = {
    atExit.remove(dir)
    try {
      val root = Paths.get(dir)
      if (Files.exists(root))
        Files.walk(root).sorted(Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.deleteIfExists(f))
    } catch {
      case NonFatal(e) => JsonLog.warning(s"temp-tree cleanup failed for $dir: $e")
    }
  }
}
