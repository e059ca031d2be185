package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._

import graft.sources.PagedSource

/** DSv2 paged source (S1/S2): pages-as-partitions, filter pushdown,
  * column pruning, limit and aggregate pushdown. The source reads a
  * loopback `PageStub`; every result is checked against the corpus
  * `PagedSource.row` evaluated over Scala collections. What reaches the
  * wire is `HttpPagedSourceSpec`'s concern.
  */
class PagedSourceSpec extends SparkSpec {

  private val TotalRows = 10000L
  private var stub: PageStub = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    stub = new PageStub(TotalRows, "paged-source-spec-bearer")
  }

  override def afterAll(): Unit = {
    if (stub != null) stub.stop()
    super.afterAll()
  }

  private def src(pageSize: Int = 1000) =
    spark.read
      .format("graft.sources.PagedSource")
      .option("endpoint", stub.endpoint)
      .option("tokenFile", stub.tokenFile.toString)
      .option("pageSize", pageSize.toString)
      .load()

  private lazy val corpus = (0L until TotalRows).map(PagedSource.row)

  private def scanDescription(df: DataFrame): String =
    df.queryExecution.optimizedPlan.collect {
      case s: DataSourceV2ScanRelation => s.scan.description()
    }.mkString

  private def batchScan(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectLeaves().head.asInstanceOf[BatchScanExec]

  test("reads all pages; page count = ceil(rows/pageSize) partitions") {
    val df = src(pageSize = 4000)
    assert(df.count() == TotalRows)
    assert(df.rdd.getNumPartitions == 3)
  }

  test("brand IN-list pushdown filters inside the reader and drops the residual") {
    val df = src().filter(col("brand_id").isin(1L, 2L, 3L))
    assert(df.count() == corpus.count(r => Set(1L, 2L, 3L)(r._1)))
    // the pushed IN-list is evaluated by the page server; Catalyst must
    // have dropped the residual Filter NODE (note: "RuntimeFilters:" text
    // in the BatchScan line is not a Filter node)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("+- Filter"), s"residual Filter node present:\n$plan")
    assert(scanDescription(df).contains("In(brand_id"), s"pushed filters not reported: ${scanDescription(df)}")
  }

  test("date range pushdown (P3 shape) returns exactly the in-range rows") {
    val df = src().filter(col("date_str") >= "2024-01-10" && col("date_str") <= "2024-01-12")
    assert(df.count() == corpus.count(r => r._2 >= "2024-01-10" && r._2 <= "2024-01-12"))
  }

  test("column pruning reaches the source (ReadSchema only has requested cols)") {
    val df = src().select("metric")
    assert(df.schema.fieldNames.toSeq == Seq("metric"))
    val agg = df.agg(sum(col("metric").cast("decimal(18,1)")).cast("double")).collect().head.getDouble(0)
    assert(math.abs(agg - corpus.map(_._3).sum) < 1e-6)
  }

  test("limit pushdown: only the needed pages are planned; rows still exact") {
    val limited = src().limit(1500)
    assert(limited.count() == 1500)
    // unfiltered limit plans ceil(1500/1000) = 2 pages, not all 10
    val scanned = batchScan(limited)
    assert(scanned.inputPartitions.length == 2)
    assert(scanned.scan.description().contains("PushedLimit: 1500"))
    // with a pushed filter every page stays planned (any page may match),
    // but readers cap their output and the result is still exact
    val filteredLimit = src().filter(col("brand_id") === 5L).limit(7)
    assert(filteredLimit.count() == 7)
    assert(batchScan(filteredLimit).inputPartitions.length == 10)
  }

  test("aggregate pushdown: server-side partial aggs per page, Spark merges") {
    val df = src()
      .groupBy("brand_id")
      .agg(
        sum("metric").as("s"),
        count(lit(1)).as("n"),
        min("metric").as("mn"),
        max("metric").as("mx"))
    // AQE wraps the executed plan; read the scan from the optimized plan
    assert(scanDescription(df).contains("PushedAggregation"), scanDescription(df))
    val out = df.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val raw = corpus.groupBy(_._1)
    assert(out.keySet == raw.keySet)
    raw.foreach { case (brand, rows) =>
      val (s, n, mn, mx) = out(brand)
      assert(n == rows.size)
      assert(mn == rows.map(_._3).min && mx == rows.map(_._3).max)
      assert(math.abs(s - rows.map(_._3).sum) < 1e-6)
    }
    // filters compose: pushed filter applies before the pushed aggregation
    val filtered = src()
      .filter(col("brand_id") === 5L)
      .groupBy("date_str").agg(count(lit(1)).as("n"))
    val expected = corpus.filter(_._1 == 5L).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(filtered.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expected)
  }

  test("full analytic-query shape over the source: filter + groupBy agg") {
    val out = src()
      .filter(col("brand_id").isin(5L, 7L))
      .groupBy("brand_id")
      .agg(count(lit(1)).as("n"), sum(col("metric").cast("decimal(18,1)")).cast("double").as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = corpus
      .filter(r => r._1 == 5L || r._1 == 7L)
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(out == expected)
  }

  test("a source without endpoint fails with a message naming it") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.PagedSource").option("pageSize", "500").load()
    }
    assert(e.getMessage.contains("endpoint"), e.getMessage)
  }
}
