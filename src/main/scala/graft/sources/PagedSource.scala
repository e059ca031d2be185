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

/** DataSource V2 connector with the shape of the reference's LFM analytic
  * source (`data_extract.py:44-92`, SURVEY.md §2.1 S1/S2): a *paged*
  * remote analytics API whose server evaluates filters. Every page is one
  * GET through [[HttpPageClient]], with the pushed filters, columns,
  * limit and group-by serialized into the request.
  *
  * - **Pages become InputPartitions** (S2): the reference's
  *   `for page in client.async_analytic_query(...)` + `pd.concat` union is
  *   exactly Spark's partition model — each page is read independently, in
  *   parallel, and the union is implicit. At scale: one partition per page
  *   token, no driver-side concat, no memory cliff.
  * - **SupportsPushDownFilters** (the reference pushes its brand IN-list
  *   and date range into the API query): a filter is pushed exactly when
  *   [[HttpPageClient.encodeFilter]] can put it on the wire; the server
  *   evaluates it and Catalyst drops the residual Filter node.
  * - **SupportsPushDownRequiredColumns**: column pruning reaches the
  *   source (the reference requests exactly metrics ∪ dims, P1).
  *
  * Options: `endpoint` (required) is the page API's URL; `pageSize`
  * (default 1000) the rows per page; `tokenFile` names a bearer-token file
  * read executor-side (the mounted-secret shape) — without it the
  * env/property resolver applies. Only the PATH travels through the plan,
  * never the token.
  *
  * {{{
  * spark.read.format("graft.sources.PagedSource")
  *   .option("endpoint", "http://127.0.0.1:8080/analytics").option("pageSize", "1000")
  *   .load().filter($"brand_id".isin(1, 2)).select("brand_id", "metric")
  * }}}
  */
class PagedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PagedSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]
  ): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val endpoint = Option(opts.get("endpoint")).getOrElse(throw new IllegalArgumentException(
      "graft.sources.PagedSource needs the `endpoint` option: the URL of the paged analytics API"))
    new PagedTable(endpoint, opts.getInt("pageSize", 1000), Option(opts.get("tokenFile")))
  }
}

object PagedSource {
  /** LFM-fact-shaped schema: brand key, daily date string, one metric. */
  val schema: StructType = StructType(Seq(
    StructField("brand_id", LongType, nullable = false),
    StructField("date_str", StringType, nullable = false),
    StructField("metric", DoubleType, nullable = false)
  ))

  /** Bearer-token source: an explicit `tokenFile` option wins; otherwise
    * the env/property resolver ([[graft.auth.CredentialProvider.resolve]])
    * applies on whichever side (driver planning, executor reader) makes
    * the request.
    */
  def creds(tokenFile: Option[String]): graft.auth.CredentialProvider =
    tokenFile.fold(graft.auth.CredentialProvider.resolve)(graft.auth.CredentialProvider.fromFile)

  /** Deterministic row for global index i — the corpus page servers
    * (the loopback stubs, perfbench's PageStub) serve and specs check
    * results against.
    */
  def row(i: Long): (Long, String, Double) = {
    val brand = i % 97
    val day = (i / 97) % 28 + 1
    val metric = (i % 1000) / 10.0
    (brand, f"2024-01-$day%02d", metric)
  }

  /** What a pushed filter means, evaluated server-side by the page
    * servers over [[row]]s. Every shape [[HttpPageClient.encodeFilter]]
    * ships is matched here; IsNotNull is vacuous on this non-nullable
    * schema.
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
}

final class PagedTable(endpoint: String, pageSize: Int, tokenFile: Option[String])
    extends Table with SupportsRead {
  override def name(): String = "graft_paged_source"
  override def schema(): StructType = PagedSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(endpoint, pageSize, tokenFile)
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

final class PagedScanBuilder(endpoint: String, pageSize: Int, tokenFile: Option[String])
    extends ScanBuilder
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

  /** Push what the page API evaluates — the filters
    * [[HttpPageClient.encodeFilter]] can put on the wire (IN and
    * comparisons on the brand key and date string, P2/P3), plus IsNotNull,
    * vacuous on this non-nullable schema. Anything else stays a residual
    * for Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) =
      filters.partition(f => f.isInstanceOf[IsNotNull] || HttpPageClient.encodeFilter(f).isDefined)
    pushed = supported
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new PagedScan(endpoint, pageSize, tokenFile, PageQuery(pushed.toSeq, required, limit, agg))
}

final class PagedScan(endpoint: String, pageSize: Int, tokenFile: Option[String], q: PageQuery)
    extends Scan with Batch {
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
    // the page count comes from the server's meta answer (a single
    // driver-side GET at planning time — the reference reads the same
    // from its job metadata)
    val total = new HttpPageClient(endpoint, PagedSource.creds(tokenFile)).totalRows()
    val nPages = ((total + pageSize - 1) / pageSize).toInt
    val planned = q.limit match {
      case Some(l) if q.filters.isEmpty && q.agg.isEmpty =>
        math.min(nPages.toLong, (l.toLong + pageSize - 1) / pageSize).toInt
      case _ => nPages
    }
    (0 until planned).map(p => PagePartition(p, pageSize): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory(q, endpoint, tokenFile)
}

final case class PagePartition(page: Int, pageSize: Int) extends InputPartition

/** One page fetch per partition, made executor-side. */
final class PagedReaderFactory(q: PageQuery, endpoint: String, tokenFile: Option[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PagedReader(new HttpPageClient(endpoint, PagedSource.creds(tokenFile))
      .page(partition.asInstanceOf[PagePartition], q))
}

/** A page's typed values ([[HttpPageClient.page]]) as InternalRows. */
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
