package graft

import graft.queries.{AnalyticsQueries, AnnQueries, CurationQueries, DedupQueries, EtlQueries, QueryDef, RelationalQueries, StreamingQueries, TextQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7).
  *
  * Every operator from SURVEY.md §2 (and the §2.11 extensions) is
  * registered here, one `graft.queries` object per operator family;
  * oracle-backed entries hash-match DuckDB on the same parquet tables,
  * the rest carry rows-only checks plus ScalaTest specs.
  */
object SparkEntry {

  /** The single registry assembly: the family objects' `defs`, in
    * family order — package-visible so SurveyDump (and any other
    * tooling) enumerates EXACTLY what the driver sees. r18's SURVEY §8
    * staleness was SurveyDump holding its own copy of this concatenation
    * and silently missing a new defs object; one list, no drift. Names
    * are unique across families (RegistrySpec pins it): `queries` and
    * `oracleSql` are built with `.toMap`, which would keep only the last
    * of two equal names.
    */
  private[graft] val all: Seq[(String, QueryDef)] =
    EtlQueries.defs ++ RelationalQueries.defs ++ AnalyticsQueries.defs ++ StreamingQueries.defs ++
      DedupQueries.defs ++ AnnQueries.defs ++ TextQueries.defs ++ CurationQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exercises the whole spec→extract path: config-driven brand filter,
    * date range, broadcast meta-dimension join, grouped metric aggregation.
    */
  def entry(spark: SparkSession): DataFrame =
    EtlQueries.analyticExec(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, qd) => name -> qd.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (dynamic pivot, probabilistic sketches, stubbed decoders) → driver
    * records a weaker rows-only check; those have ScalaTest specs instead.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (name, qd) if qd.oracle.isDefined => name -> qd.oracle.get }.toMap
}
