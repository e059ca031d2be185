package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSource V2 connector with the shape of the reference's LFM analytic
  * source (`/root/reference/data_extract.py:44-92`, SURVEY.md §2.1 S1/S2):
  * a *paged* remote analytics API whose server evaluates filters.
  *
  * - **Pages become InputPartitions** (S2): the reference's
  *   `for page in client.async_analytic_query(...)` + `pd.concat` union is
  *   exactly Spark's partition model — each page is read independently, in
  *   parallel, and the union is implicit. At scale: one partition per page
  *   token, no driver-side concat, no memory cliff.
  * - **SupportsPushDownFilters** (the reference pushes its brand IN-list
  *   and date range into the API query): pushed filters are evaluated
  *   by the page server ([[PagedSource.page]] in generator mode, the HTTP
  *   server otherwise) and reported back so Catalyst drops the residual
  *   Filter node.
  * - **SupportsPushDownRequiredColumns**: column pruning reaches the
  *   source (the reference requests exactly metrics ∪ dims, P1).
  *
  * Two backing servers:
  *  - default: a deterministic in-memory generator (offline env — zero
  *    egress);
  *  - `.option("endpoint", "http://…")`: a real paged HTTP API spoken
  *    through [[HttpPageClient]] — one GET per page with the pushed
  *    filters/columns/limit/group-by serialized into the request
  *    (contract-tested against a loopback stub in HttpPagedSourceSpec;
  *    a production build points it at the live service).
  *
  * {{{
  * spark.read.format("graft.sources.PagedSource")
  *   .option("rows", "10000").option("pageSize", "1000")   // generator
  *   .load().filter($"brand_id".isin(1, 2)).select("brand_id", "metric")
  * }}}
  */
class PagedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PagedSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]
  ): Table = new PagedTable(properties.asScala.toMap)
}

object PagedSource {
  /** LFM-fact-shaped schema: brand key, daily date string, one metric. */
  val schema: StructType = StructType(Seq(
    StructField("brand_id", LongType, nullable = false),
    StructField("date_str", StringType, nullable = false),
    StructField("metric", DoubleType, nullable = false)
  ))

  /** Bearer-token source for HTTP mode: an explicit `tokenFile` option
    * wins; otherwise the env/property resolver
    * ([[graft.auth.CredentialProvider.resolve]]) applies on whichever
    * side (driver planning, executor reader) makes the request.
    */
  def creds(tokenFile: Option[String]): graft.auth.CredentialProvider =
    tokenFile.fold(graft.auth.CredentialProvider.resolve)(graft.auth.CredentialProvider.fromFile)

  /** Deterministic row for global index i — the fake "server". */
  def row(i: Long): (Long, String, Double) = {
    val brand = i % 97
    val day = (i / 97) % 28 + 1
    val metric = (i % 1000) / 10.0
    (brand, f"2024-01-$day%02d", metric)
  }

  /** Server-side filter evaluation shared by the in-memory generator
    * ([[page]]) and the loopback HTTP stub servers — ONE
    * definition of what a pushed filter means, so claiming a filter in
    * `pushFilters` can never drift from how it is evaluated.
    */
  def accept(filters: Seq[Filter], r: (Long, String, Double)): Boolean = filters.forall {
    case In("brand_id", vs)                => vs.exists(v => v.asInstanceOf[Number].longValue == r._1)
    case EqualTo("brand_id", v)            => v.asInstanceOf[Number].longValue == r._1
    case GreaterThan("brand_id", v)        => r._1 > v.asInstanceOf[Number].longValue
    case GreaterThanOrEqual("brand_id", v) => r._1 >= v.asInstanceOf[Number].longValue
    case LessThan("brand_id", v)           => r._1 < v.asInstanceOf[Number].longValue
    case LessThanOrEqual("brand_id", v)    => r._1 <= v.asInstanceOf[Number].longValue
    case EqualTo("date_str", v)            => r._2 == v.toString
    case GreaterThan("date_str", v)        => r._2 > v.toString
    case GreaterThanOrEqual("date_str", v) => r._2 >= v.toString
    case LessThan("date_str", v)           => r._2 < v.toString
    case LessThanOrEqual("date_str", v)    => r._2 <= v.toString
    case In("date_str", vs)                => vs.exists(_.toString == r._2)
    case IsNotNull(_)                      => true
    case _                                 => true
  }

  /** What one page returns, as typed values (Long, String, Double): the
    * rows of `[page·pageSize, +pageSize)` that pass [[accept]], projected
    * to the pruned columns and capped at the pushed limit — or, when an
    * aggregation is pushed, the page's per-group partial count/sum/min/max
    * in [[PushedAgg.outputSchema]] order (the server-side group-by; Spark's
    * final aggregate merges across pages, so cross-page groups stay
    * correct). Generator mode serves this in-process; HTTP mode gets the
    * same values from the server ([[HttpPageClient.page]]).
    */
  def page(p: PagePartition, q: PageQuery): Iterator[Seq[Any]] = {
    val start = p.page.toLong * p.pageSize
    val end = math.min(start + p.pageSize, p.totalRows)
    val rows = (start until end).iterator.map(row).filter(accept(q.filters, _))
    def value(r: (Long, String, Double), c: String): Any = c match {
      case "brand_id" => r._1
      case "date_str" => r._2
      case "metric"   => r._3
    }
    q.agg match {
      case None =>
        val cols = q.required.fieldNames.toSeq
        // a partition never needs more than `limit` matching rows for a
        // global limit — stop generating early (the paged API stops
        // fetching)
        q.limit.fold(rows)(rows.take).map(r => cols.map(value(r, _)))
      case Some(a) =>
        // (count, sum, min, max) of the metric per group, insertion-ordered;
        // group state per page is bounded by the page's distinct groups
        val acc = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], (Long, Double, Double, Double)]
        rows.foreach { r =>
          val key = a.groupCols.map(value(r, _))
          val (c, s, mn, mx) =
            acc.getOrElse(key, (0L, 0.0, Double.PositiveInfinity, Double.NegativeInfinity))
          acc(key) = (c + 1, s + r._3, math.min(mn, r._3), math.max(mx, r._3))
        }
        acc.iterator.map { case (key, (c, s, mn, mx)) =>
          key ++ a.aggs.map {
            case _: CountStar | _: Count => c: Any
            case _: Sum                  => s: Any
            case _: Min                  => mn: Any
            case _: Max                  => mx: Any
            case f                       => throw new IllegalStateException(s"unsupported pushed agg $f")
          }
        }
    }
  }
}

final class PagedTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "graft_paged_source"
  override def schema(): StructType = PagedSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = props ++ options.asScala
    new PagedScanBuilder(
      totalRows = merged.getOrElse("rows", "10000").toLong,
      pageSize = merged.getOrElse("pageSize", "1000").toInt,
      // `endpoint` switches the backing server from the in-memory
      // generator to a real HTTP pager (HttpPageClient); `rows` is then
      // ignored in favor of the server's meta answer. `tokenFile` names
      // a bearer-token file read executor-side (the mounted-secret
      // shape); without it the env/property resolver applies. Only the
      // PATH travels through the plan, never the token.
      endpoint = merged.get("endpoint"),
      tokenFile = merged.get("tokenFile")
    )
  }
}

/** Pushed-aggregation spec: group columns + per-page partial aggregates.
  * This is the reference's actual execution model — the LFM server
  * evaluates the group-by/metric aggregation and pages back PRE-AGGREGATED
  * rows (`/root/reference/data_extract.py:45-55`); Spark then runs the
  * final merge (sum of sums, min of mins, …) because the pushdown is
  * declared partial, which keeps cross-page groups correct.
  */
final case class PushedAgg(groupCols: Seq[String], aggs: Seq[AggregateFunc]) {
  def outputSchema: StructType = {
    val groupFields = groupCols.map(c => PagedSource.schema(c))
    val aggFields = aggs.zipWithIndex.map {
      case (_: CountStar, i) => StructField(s"agg_$i", LongType, nullable = false)
      case (_: Count, i)     => StructField(s"agg_$i", LongType, nullable = false)
      case (_: Sum, i)       => StructField(s"agg_$i", DoubleType, nullable = true)
      case (_: Min, i)       => StructField(s"agg_$i", DoubleType, nullable = true)
      case (_: Max, i)       => StructField(s"agg_$i", DoubleType, nullable = true)
      case (f, _)            => throw new IllegalStateException(s"unsupported pushed agg $f")
    }
    StructType(groupFields ++ aggFields)
  }
}

/** The query shape a scan pushes into every page: filters, pruned
  * columns, per-partition row cap, and an optional partial aggregation.
  * It travels with the plan to the readers.
  */
final case class PageQuery(
    filters: Seq[Filter],
    required: StructType,
    limit: Option[Int],
    agg: Option[PushedAgg]
) {
  def readSchema: StructType = agg.fold(required)(_.outputSchema)
}

final class PagedScanBuilder(
    totalRows: Long,
    pageSize: Int,
    endpoint: Option[String] = None,
    tokenFile: Option[String] = None
) extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = PagedSource.schema
  private var limit: Option[Int] = None
  private var agg: Option[PushedAgg] = None

  private def refName(r: NamedReference): Option[String] =
    r.fieldNames match {
      case Array(one) => Some(one)
      case _          => None
    }

  /** Accept group-bys on the dimension columns and SUM/MIN/MAX on the
    * metric plus COUNT/COUNT(*) — the aggregate vocabulary of the
    * reference's analytic query (A1). Anything else returns false and
    * Spark aggregates the raw rows itself.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val groups = aggregation.groupByExpressions().toSeq.map {
      case r: NamedReference => refName(r).filter(Set("brand_id", "date_str"))
      case _                 => None
    }
    def metricRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean = e match {
      case r: NamedReference => refName(r).contains("metric")
      case _                 => false
    }
    val aggsOk = aggregation.aggregateExpressions().toSeq.forall {
      case _: CountStar => true
      case c: Count     => !c.isDistinct && metricRef(c.column())
      case s: Sum       => !s.isDistinct && metricRef(s.column())
      case m: Min       => metricRef(m.column())
      case m: Max       => metricRef(m.column())
      case _            => false
    }
    if (groups.forall(_.isDefined) && aggsOk && aggregation.aggregateExpressions().nonEmpty) {
      agg = Some(PushedAgg(groups.flatten, aggregation.aggregateExpressions().toSeq))
      true
    } else false
  }

  /** Limit pushdown = the paged API's early termination: stop requesting
    * pages once enough rows exist. Partially pushed (the default), so
    * Spark keeps its global Limit — this only bounds what the source
    * fetches: each partition emits ≤ limit rows, and with no pushed
    * filters only ⌈limit/pageSize⌉ pages are planned at all.
    */
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    true
  }

  /** Accept the filter shapes the LFM query language supports (IN on the
    * brand key, comparisons on the date string — P2/P3); anything else is
    * left for Spark to evaluate as a residual. Claiming a filter the
    * reader does not evaluate would silently return wrong results, so the
    * column allow-list must match [[PagedSource.accept]] exactly.
    */
  private val pushableColumns = Set("brand_id", "date_str")

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) = filters.partition {
      case In(c, _) => pushableColumns(c)
      case EqualTo(c, _) => pushableColumns(c)
      case GreaterThan(c, _) => pushableColumns(c)
      case GreaterThanOrEqual(c, _) => pushableColumns(c)
      case LessThan(c, _) => pushableColumns(c)
      case LessThanOrEqual(c, _) => pushableColumns(c)
      case _: IsNotNull => true
      case _ => false
    }
    pushed = supported
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new PagedScan(totalRows, pageSize, PageQuery(pushed.toSeq, required, limit, agg), endpoint, tokenFile)
}

final class PagedScan(
    totalRows: Long,
    pageSize: Int,
    q: PageQuery,
    endpoint: Option[String] = None,
    tokenFile: Option[String] = None
) extends Scan with Batch {
  override def readSchema(): StructType = q.readSchema
  override def toBatch: Batch = this

  override def description(): String =
    s"graft_paged_source PushedFilters: [${q.filters.mkString(", ")}], " +
      s"ReadSchema: ${readSchema().catalogString}" +
      q.limit.fold("")(l => s", PushedLimit: $l") +
      q.agg.fold("")(a =>
        s", PushedAggregation: [groupBy=${a.groupCols.mkString(",")}; ${a.aggs.mkString(", ")}]")

  /** One InputPartition per page — the S2 pagination model. A pushed limit
    * with no pushed filters or aggregation needs only the first
    * ⌈limit/pageSize⌉ pages (with filters or an aggregation, any page may
    * contribute, so all stay planned and the per-reader row cap does the
    * bounding).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    // HTTP mode: page count comes from the server's meta answer (a
    // single driver-side GET at planning time — the reference reads the
    // same from its job metadata); generator mode uses the option.
    val total =
      endpoint.fold(totalRows)(e => new HttpPageClient(e, PagedSource.creds(tokenFile)).totalRows())
    val nPages = ((total + pageSize - 1) / pageSize).toInt
    val planned = q.limit match {
      case Some(l) if q.filters.isEmpty && q.agg.isEmpty =>
        math.min(nPages.toLong, (l.toLong + pageSize - 1) / pageSize).toInt
      case _ => nPages
    }
    (0 until planned).map(p => PagePartition(p, pageSize, total): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory(q, endpoint, tokenFile)
}

final case class PagePartition(page: Int, pageSize: Int, totalRows: Long) extends InputPartition

/** Picks where a page's rows come from — the in-process generator or the
  * HTTP server; either way one [[PagedReader]] turns them into rows.
  */
final class PagedReaderFactory(q: PageQuery, endpoint: Option[String], tokenFile: Option[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagePartition]
    new PagedReader(endpoint.fold(PagedSource.page(p, q))(e =>
      new HttpPageClient(e, PagedSource.creds(tokenFile)).page(p, q)))
  }
}

/** A page's typed values ([[PagedSource.page]]) as InternalRows. */
final class PagedReader(rows: Iterator[Seq[Any]]) extends PartitionReader[InternalRow] {
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) {
      val vals = rows.next()
      current =
        if (vals.isEmpty) InternalRow.empty
        else InternalRow.fromSeq(vals.map {
          case s: String => UTF8String.fromString(s)
          case v         => v
        })
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
