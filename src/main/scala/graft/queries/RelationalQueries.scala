package graft.queries

import graft.ops.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SQL/relational operators: joins (equi, semi/anti, full outer, as-of,
  * skew-salted), windows, set operations, grouping sets, scalar and
  * array functions, change capture and keyed upsert, distributed
  * ranking, and the `spark.sql` surface over registered views — the
  * engine's second query interface next to the DataFrame combinators.
  * Same oracle discipline: decimal math inside, double/bigint at the
  * boundary.
  */
object RelationalQueries {
  import Tables.t

  private def withViews(s: SparkSession, d: String, names: String*)(sql: String): DataFrame = {
    names.foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(sql)
  }

  /** Q5 runs VERBATIM on both engines (spark.sql and DuckDB dialects
    * agree on this statement), so the oracle IS the query text. Declared
    * before `defs`, which captures it eagerly.
    */
  private val tpchQ5Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    // ---- large-large equi-join (shuffle join on the fact keys) ----
    "q_join_large" -> QueryDef(
      (s, d) => {
        val o = t(s, d, "orders")
        val l = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_items"),
            sum(
              col("l_extendedprice").cast("decimal(18,2)") *
                (lit(1).cast("decimal(8,2)") - col("l_discount").cast("decimal(8,2)"))
            ).cast("double").as("revenue")
          )
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |  (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |GROUP BY 1""".stripMargin)
    ),

    // ---- semi / anti joins ----
    "q_semi_join" -> QueryDef(
      (s, d) => {
        val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
        t(s, d, "customer")
          .join(o, col("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""".stripMargin)
    ),
    // Orders side is filtered so the anti-join is non-vacuous on this fixture
    // (every customer has at least one order, but not one above the threshold).
    "q_anti_join" -> QueryDef(
      (s, d) => {
        val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
        t(s, d, "customer")
          .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""".stripMargin)
    ),

    // ---- window functions ----
    "q_window_topk_group" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)
    ),
    "q_window_lag" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        t(s, d, "orders").select(
          col("o_custkey"),
          col("o_orderkey"),
          lag("o_orderkey", 1).over(w).as("prev_orderkey"),
          lag("o_totalprice", 1).over(w).as("prev_price")
        )
      },
      Some("""SELECT o_custkey, o_orderkey,
             |lag(o_orderkey) OVER w AS prev_orderkey,
             |lag(o_totalprice) OVER w AS prev_price
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)
    ),
    "q_window_rolling" -> QueryDef(
      (s, d) => {
        val w = Window
          .partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(-2, 0)
        t(s, d, "orders").select(
          col("o_custkey"),
          col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("roll_sum")
        )
      },
      Some("""SELECT o_custkey, o_orderkey,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_sum
             |FROM orders""".stripMargin)
    ),

    // ---- global top-k (TakeOrderedAndProject, no full sort at scale) ----
    "q_topk_global" -> QueryDef(
      (s, d) =>
        t(s, d, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
    ),

    // ---- set operations (S2 page-union generalized) ----
    "q_union_all" -> QueryDef(
      (s, d) => {
        val c = t(s, d, "customer")
        c.filter(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey"), lit("auto").as("src"))
          .unionByName(
            c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey"), lit("rich").as("src"))
          )
      },
      Some("""SELECT c_custkey, 'auto' AS src FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
             |UNION ALL
             |SELECT c_custkey, 'rich' AS src FROM customer WHERE c_acctbal > 5000""".stripMargin)
    ),
    "q_intersect" -> QueryDef(
      (s, d) => {
        val c = t(s, d, "customer")
        c.filter(col("c_mktsegment") === "AUTOMOBILE")
          .select("c_custkey")
          .intersect(c.filter(col("c_acctbal") > 0.0).select("c_custkey"))
      },
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
             |INTERSECT
             |SELECT c_custkey FROM customer WHERE c_acctbal > 0""".stripMargin)
    ),
    "q_except" -> QueryDef(
      (s, d) => {
        val c = t(s, d, "customer")
        c.filter(col("c_mktsegment") === "AUTOMOBILE")
          .select("c_custkey")
          .except(c.filter(col("c_acctbal") > 0.0).select("c_custkey"))
      },
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
             |EXCEPT
             |SELECT c_custkey FROM customer WHERE c_acctbal > 0""".stripMargin)
    ),

    // ---- distinct / grouping sets ----
    "q_distinct" -> QueryDef(
      (s, d) => t(s, d, "customer").select("c_mktsegment", "c_nationkey").distinct(),
      Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")
    ),
    "q_rollup" -> QueryDef(
      (s, d) =>
        t(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty")
          ),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)
    ),
    "q_cube" -> QueryDef(
      (s, d) =>
        t(s, d, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price")
          ),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)
    ),
    "q_count_distinct" -> QueryDef(
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            count(lit(1)).as("n_items")
          ),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_items
             |FROM lineitem GROUP BY 1""".stripMargin)
    ),
    // correlated EXISTS subquery (Catalyst rewrites to a left semi join)
    "q_sql_exists" -> QueryDef(
      (s, d) =>
        withViews(s, d, "customer", "orders")(
          """SELECT c_custkey, c_name FROM customer c
            |WHERE EXISTS (
            |  SELECT 1 FROM orders o
            |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (
             |  SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin),
      "correlated EXISTS → left semi join"
    ),

    // scalar subquery in the predicate (broadcast single-row subplan)
    "q_sql_scalar_subquery" -> QueryDef(
      (s, d) =>
        withViews(s, d, "orders")(
          """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
            |FROM orders
            |WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
            |  (SELECT CAST(avg(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) * CAST(1.8 AS DECIMAL(3,1)) FROM orders)""".stripMargin),
      Some("""SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
             |FROM orders
             |WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
             |  (SELECT CAST(avg(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) * CAST(1.8 AS DECIMAL(3,1)) FROM orders)""".stripMargin),
      "scalar aggregate subquery predicate (decimal-exact threshold)"
    ),

    // explicit cross join (the remaining join type): tiny dims only —
    // a cross join's row count is the product by construction
    "q_sql_cross_join" -> QueryDef(
      (s, d) =>
        withViews(s, d, "region", "nation")(
          """SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n""".stripMargin),
      Some("SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n"),
      "cross join of bounded dimension tables"
    ),

    // TPC-H Q3 shape: segment-filtered revenue ranking (join-heavy SQL path)
    "q_sql_revenue_topn" -> QueryDef(
      (s, d) =>
        withViews(s, d, "customer", "orders", "lineitem")(
          """SELECT o_orderkey,
            |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
            |  (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
            |FROM customer JOIN orders ON c_custkey = o_custkey
            |JOIN lineitem ON l_orderkey = o_orderkey
            |WHERE c_mktsegment = 'BUILDING'
            |  AND o_orderdate < TIMESTAMP '1998-01-01'
            |  AND l_shipdate > TIMESTAMP '1998-01-01'
            |GROUP BY o_orderkey
            |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin
        ),
      Some("""SELECT o_orderkey,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |  (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate > TIMESTAMP '1998-01-01'
             |GROUP BY o_orderkey
             |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)
    ),
    "q_sql_grouping_sets" -> QueryDef(
      (s, d) =>
        withViews(s, d, "lineitem")(
          """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items
            |FROM lineitem
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin
        ),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    ),
    // window-function suite: lead / dense_rank / ntile / running sum over
    // one frame spec
    "q_sql_window_suite" -> QueryDef(
      (s, d) =>
        withViews(s, d, "orders")(
          """SELECT o_custkey, o_orderkey,
            |  lead(o_orderkey) OVER w AS next_orderkey,
            |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
            |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
            |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
            |FROM orders
            |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin
        ),
      Some("""SELECT o_custkey, o_orderkey,
             |  lead(o_orderkey) OVER w AS next_orderkey,
             |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)
    ),
    // date arithmetic family (datediff / date_add / calendar extraction)
    "q_date_arith" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.t(s, d, "orders").select(
          col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1997-01-01").cast("timestamp")).cast("long").as("days_since"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("due_date"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end")
        )
      },
      Some("""SELECT o_orderkey,
             |CAST(date_diff('day', DATE '1997-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
             |strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
             |CAST(year(o_orderdate) AS BIGINT) AS yr,
             |CAST(month(o_orderdate) AS BIGINT) AS mo,
             |CAST(day(o_orderdate) AS BIGINT) AS dom,
             |strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
             |FROM orders""".stripMargin)
    ),
    // conditional aggregation (count_if / filtered sums)
    "q_conditional_agg" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count_if(col("l_quantity") > 25).as("n_bulk"),
            count_if(col("l_discount") === 0.0).as("n_nodisc"),
            sum(when(col("l_tax") > 0.05, col("l_quantity").cast("decimal(18,2)"))
              .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("taxed_qty")
          )
      },
      Some("""SELECT l_returnflag,
             |COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
             |COUNT(*) FILTER (WHERE l_discount = 0.0) AS n_nodisc,
             |CAST(SUM(CASE WHEN l_tax > 0.05 THEN CAST(l_quantity AS DECIMAL(18,2))
             |  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS taxed_qty
             |FROM lineitem GROUP BY 1""".stripMargin)
    ),
    // regexp extraction (group capture)
    "q_regexp_extract" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.t(s, d, "customer").select(
          col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
          regexp_extract(col("c_mktsegment"), "^([A-Z]+)", 1).as("seg_word")
        )
      },
      Some("""SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
             |regexp_extract(c_mktsegment, '^([A-Z]+)', 1) AS seg_word
             |FROM customer""".stripMargin)
    ),
    // JSON struct parse (from_json typed extraction — the engine-native
    // form of the reference's driver-side json.loads)
    "q_json_parse" -> QueryDef(
      (s, d) =>
        Tables.t(s, d, "events").select(
          org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.from_json(
            org.apache.spark.sql.functions.col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")
          ).getField("k").cast("long").as("k_val")
        ),
      Some("""SELECT event_id, CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT) AS BIGINT) AS k_val
             |FROM events""".stripMargin)
    ),
    // static pivot (RelationalGroupedDataset.pivot with a fixed value
    // list — the one-pass variant of the dynamic tag pivot)
    "q_static_pivot" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.t(s, d, "customer")
          .groupBy("c_nationkey")
          .pivot("c_mktsegment", Seq("AUTOMOBILE", "BUILDING", "MACHINERY"))
          .agg(count(lit(1)))
          .select(
            col("c_nationkey"),
            coalesce(col("AUTOMOBILE"), lit(0L)).as("n_auto"),
            coalesce(col("BUILDING"), lit(0L)).as("n_build"),
            coalesce(col("MACHINERY"), lit(0L)).as("n_mach")
          )
      },
      Some("""SELECT c_nationkey,
             |CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS BIGINT) AS n_auto,
             |CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS BIGINT) AS n_build,
             |CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS BIGINT) AS n_mach
             |FROM customer GROUP BY 1""".stripMargin)
    ),
    // deterministic collection aggregate: sorted list per group,
    // stringified at the output boundary — the driver's pandas comparator
    // cannot hash raw array cells, so both engines emit a CSV string
    "q_collect_sorted" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.t(s, d, "customer")
          .groupBy("c_nationkey")
          .agg(
            array_join(sort_array(collect_list(col("c_custkey"))).cast("array<string>"), ",")
              .as("custkeys_csv"))
      },
      Some("""SELECT c_nationkey, array_to_string(list_sort(list(c_custkey)), ',') AS custkeys_csv
             |FROM customer GROUP BY 1""".stripMargin)
    ),

    // as-of (temporal) join — an operator Spark lacks natively, composed
    // as union + carry-forward window: one shuffle of |L|+|R| on the key,
    // no point-in-time join explosion. Oracle = DuckDB's native ASOF JOIN.
    "q_asof_join" -> QueryDef(
      (s, d) => {
        val events = t(s, d, "events").select("event_id", "user_id", "ts")
        val lastOrders = t(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max("o_orderkey").as("last_order_key"))
        graft.ops.AsofJoin.asofJoin(
          events, lastOrders,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          payload = Seq("last_order_key")
        ).select("event_id", "user_id", "ts", "last_order_key")
      },
      Some("""WITH o AS (
             |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_order_key
             |  FROM orders GROUP BY 1, 2)
             |SELECT e.event_id, e.user_id, e.ts, o.last_order_key
             |FROM events e ASOF LEFT JOIN o
             |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin)
    ),

    // scalar string-function suite (F-ops generalized): case, slice,
    // reverse, length, edit distance, concat — all exact
    "q_string_funcs" -> QueryDef(
      (s, d) =>
        t(s, d, "customer").select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          reverse(col("c_name")).as("rname"),
          substring(col("c_name"), 1, 5).as("prefix5"),
          length(col("c_name")).cast("long").as("name_len"),
          levenshtein(col("c_name"), lit("Customer#1")).cast("long").as("edit_dist"),
          concat_ws("-", col("c_mktsegment"), col("c_name")).as("seg_name")
        ),
      Some("""SELECT c_custkey, upper(c_name) AS uname, reverse(c_name) AS rname,
             |substr(c_name, 1, 5) AS prefix5, CAST(length(c_name) AS BIGINT) AS name_len,
             |CAST(levenshtein(c_name, 'Customer#1') AS BIGINT) AS edit_dist,
             |concat_ws('-', c_mktsegment, c_name) AS seg_name
             |FROM customer""".stripMargin)
    ),

    // name-based union with missing-column tolerance — the page-union (S2)
    // generalized to evolving page schemas, mirroring the sink's
    // field-addition semantics on the read side
    "q_union_by_name" -> QueryDef(
      (s, d) => {
        val older = t(s, d, "customer")
          .filter(col("c_custkey") <= 500)
          .select(col("c_custkey"), col("c_name"))
        val newer = t(s, d, "customer")
          .filter(col("c_custkey") > 500 && col("c_custkey") <= 900)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        older.unionByName(newer, allowMissingColumns = true)
      },
      Some("""SELECT c_custkey, c_name, NULL AS c_mktsegment FROM customer WHERE c_custkey <= 500
             |UNION ALL BY NAME
             |SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE c_custkey > 500 AND c_custkey <= 900""".stripMargin),
      "unionByName with allowMissingColumns (evolving page schemas)"
    ),

    // full-outer join completing the join family (inner/left/semi/anti/
    // as-of elsewhere): overlapping key ranges so BOTH null sides occur
    "q_full_outer_join" -> QueryDef(
      (s, d) => {
        val c = t(s, d, "customer")
          .filter(col("c_custkey") < 100)
          .select(col("c_custkey"), col("c_name"))
        val o = t(s, d, "orders")
          .filter(col("o_custkey") < 150)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"))
        c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
          .select(
            coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
            col("c_name"),
            col("n_orders"))
      },
      Some("""WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 100),
             |o AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders WHERE o_custkey < 150 GROUP BY 1)
             |SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, c.c_name, o.n_orders
             |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey""".stripMargin),
      "full outer join with nulls on both sides"
    ),

    // higher-order array functions as scalar digests (sequence, zip_with,
    // filter, exists, aggregate — the §2.9 HOF toolbox in the gate)
    "q_array_funcs" -> QueryDef(
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_orderkey") <= 1000)
          .select(
            col("l_orderkey"),
            col("l_linenumber").cast("long").as("ln"),
            aggregate(
              zip_with(
                sequence(lit(1L), col("l_linenumber").cast("long")),
                sequence(col("l_linenumber").cast("long"), lit(1L)),
                (x, y) => x * y),
              lit(0L), (a, x) => a + x).as("dotseq"),
            size(filter(
              sequence(lit(1L), col("l_linenumber").cast("long")),
              x => x % 2 === 0)).cast("long").as("n_even"),
            exists(
              sequence(lit(1L), col("l_linenumber").cast("long")),
              x => x === 3L).cast("int").cast("long").as("has_three")),
      // DuckDB mirrors the zip algebra directly: Σ i·(n−i+1) over i=1..n
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
             |CAST(list_sum(list_transform(generate_series(1, l_linenumber), i -> i * (l_linenumber - i + 1))) AS BIGINT) AS dotseq,
             |CAST(len(list_filter(generate_series(1, l_linenumber), i -> i % 2 = 0)) AS BIGINT) AS n_even,
             |CAST(CASE WHEN l_linenumber >= 3 THEN 1 ELSE 0 END AS BIGINT) AS has_three
             |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin),
      "sequence/zip_with/filter/exists/aggregate HOF suite"
    ),

    // arg-max / arg-min with a composite bigint order key (price cents ×
    // 1e9 + orderkey×10 + linenumber) so the pick is total-ordered and
    // tie-free on both engines
    "q_minmax_by" -> QueryDef(
      (s, d) => {
        val ord = (col("l_extendedprice") * 100).cast("long") * 1000000000L +
          col("l_orderkey") * 10 + col("l_linenumber")
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            max_by(col("l_orderkey"), ord).as("priciest_order"),
            min_by(col("l_orderkey"), ord).as("cheapest_order"))
      },
      Some("""SELECT l_returnflag,
             |  arg_max(l_orderkey, CAST(l_extendedprice*100 AS BIGINT)*1000000000 + l_orderkey*10 + l_linenumber) AS priciest_order,
             |  arg_min(l_orderkey, CAST(l_extendedprice*100 AS BIGINT)*1000000000 + l_orderkey*10 + l_linenumber) AS cheapest_order
             |FROM lineitem GROUP BY 1""".stripMargin),
      "max_by/min_by with tie-free composite ordering"
    ),

    // hot-key mitigation IN the correctness gate: the two-phase salted sum
    // must equal the plain grouped sum exactly (decimal partials)
    "q_salted_sum" -> QueryDef(
      (s, d) =>
        graft.ops.Skew.saltedSum(
          t(s, d, "events"), "event_type", Seq("value"), col("event_id"), salts = 16),
      Some("""SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1""".stripMargin),
      "two-phase salted aggregation equals the plain grouped sum"
    ),

    // change capture between two snapshots: one full-outer hash join on
    // the key; insert/delete/update verdicts, unchanged dropped.
    // The "new" snapshot is derived deterministically from the fixture:
    // a wider date range (inserts), urgent orders repriced ×1.1 (updates),
    // every 97th key dropped (deletes).
    "q_snapshot_diff" -> QueryDef(
      (s, d) => {
        val orders = t(s, d, "orders")
        val oldSnap = orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val newSnap = orders
          .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
          .filter(col("o_orderkey") % 97 =!= 0)
          .withColumn(
            "o_totalprice",
            when(col("o_orderpriority") === "1-URGENT", col("o_totalprice") * 1.1)
              .otherwise(col("o_totalprice")))
        Cdc.snapshotDiff(oldSnap, newSnap, "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |  WHERE o_orderdate < TIMESTAMP '1998-01-01'),
             |n AS (
             |  SELECT o_orderkey, o_orderstatus,
             |         CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.1
             |              ELSE o_totalprice END AS o_totalprice
             |  FROM orders
             |  WHERE o_orderdate < TIMESTAMP '1999-01-01' AND o_orderkey % 97 <> 0),
             |j AS (
             |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             |         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
             |              WHEN n.o_orderkey IS NULL THEN 'delete'
             |              WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
             |                OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice) THEN 'update'
             |              ELSE 'unchanged' END AS change_type
             |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
             |SELECT o_orderkey, change_type FROM j WHERE change_type <> 'unchanged'""".stripMargin),
      "insert/delete/update capture between table snapshots"
    ),

    // keyed MERGE/upsert: updates batch (repriced ×2, overlapping window)
    // applied over a base snapshot; highest version wins, updates win
    // ties — idempotent re-runs are no-ops. One shuffle on the key.
    "q_merge_upsert" -> QueryDef(
      (s, d) => {
        val orders = t(s, d, "orders").select("o_orderkey", "o_totalprice", "o_orderdate")
        val base = orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val updates = orders
          .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        Cdc.upsert(base, updates, "o_orderkey", "o_orderdate")
          .select(
            col("o_orderkey"),
            col("o_totalprice").as("price"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("version_day"))
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_totalprice, o_orderdate, 0 AS pri FROM orders
             |  WHERE o_orderdate < TIMESTAMP '1998-01-01'),
             |upd AS (
             |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderdate, 1 AS pri FROM orders
             |  WHERE o_orderdate >= TIMESTAMP '1997-06-01'),
             |u AS (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, pri DESC) AS rn
             |  FROM (SELECT * FROM base UNION ALL SELECT * FROM upd))
             |SELECT o_orderkey, o_totalprice AS price,
             |       strftime(o_orderdate, '%Y-%m-%d') AS version_day
             |FROM u WHERE rn = 1""".stripMargin),
      "keyed upsert with version + source-priority tie-break"
    ),

    // blocked fuzzy match (entity resolution), the group-first recipe:
    // string-distance work runs once per DISTINCT (brand, name_a,
    // name_b) — not once per id pair. Real corpora repeat entity
    // strings massively (this fixture: ~100 distinct names over 20k+
    // parts), so the naive per-id-pair levenshtein re-evaluates the
    // same comparison thousands of times (measured 65× time at 10×
    // rows); deduplicating the string space first makes the expensive
    // compute proportional to |distinct names|², and the id-level
    // result is then pure join fan-out — unavoidable emission, since
    // the PAIR OUTPUT itself is quadratic in same-name multiplicity.
    // The name-pair relation is directed (both (x,y) and (y,x), plus
    // the self pair at dist 0), so every id pair with id_a < id_b is
    // produced exactly once through its own (name_a, name_b). Both
    // small sides broadcast; the length prefilter and the
    // threshold-bounded levenshtein (O(k·n) early exit) are unchanged.
    "q_fuzzy_match" -> QueryDef(
      (s, d) => {
        val p = t(s, d, "part").select("p_partkey", "p_brand", "p_name")
        val dn = p.select("p_brand", "p_name").distinct()
        val matches = dn.select(col("p_brand"), col("p_name").as("name_a"))
          .join(dn.select(col("p_brand"), col("p_name").as("name_b")), "p_brand")
          .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 2)
          .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2).cast("long"))
          .filter(col("dist") =!= -1L)
        val a = p.select(col("p_partkey").as("id_a"), col("p_brand"), col("p_name").as("name_a"))
        val b = p.select(col("p_partkey").as("id_b"), col("p_brand"), col("p_name").as("name_b"))
        // only the name-pair relation is forced broadcast (bounded by
        // |distinct names|²); the id expansion join is left to the
        // optimizer — at fixture scale it broadcasts, at 100 TB it is a
        // plain shuffled equi-join on (brand, name)
        a.join(broadcast(matches), Seq("p_brand", "name_a"))
          .join(b, Seq("p_brand", "name_b"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b", "dist")
      },
      Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
             |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
             |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin),
      "brand-blocked edit-distance fuzzy pairing"
    ),

    // unpivot/melt: wide measures → (key, metric, value) long format —
    // the inverse of the tag pivot, a per-row expand with no shuffle
    "q_unpivot" -> QueryDef(
      (s, d) =>
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            col("o_totalprice").cast("double").as("o_totalprice"),
            col("o_custkey").cast("double").as("o_custkey"))
          .unpivot(
            Array(col("o_orderkey")),
            Array(col("o_totalprice"), col("o_custkey")),
            "metric",
            "value"),
      Some("""SELECT o_orderkey, 'o_totalprice' AS metric, CAST(o_totalprice AS DOUBLE) AS value FROM orders
             |UNION ALL
             |SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS DOUBLE) FROM orders""".stripMargin),
      "wide→long melt of measure columns"
    ),

    // value-RANGE window frame (trailing 30 days per customer) — frames
    // defined by ORDER-value distance, not row position: peers share a
    // frame, so the result is total-order-free by construction
    "q_window_range_frame" -> QueryDef(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey")
          .orderBy(col("epoch_s"))
          .rangeBetween(-2592000L, 0)
        t(s, d, "orders")
          .select(
            col("o_custkey"),
            col("o_orderkey"),
            unix_timestamp(col("o_orderdate")).as("epoch_s"),
            col("o_totalprice").cast("decimal(18,2)").as("p"))
          .select(
            col("o_custkey"),
            col("o_orderkey"),
            sum(col("p")).over(w).cast("double").as("trailing_30d_sum"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d_sum
             |FROM orders""".stripMargin),
      "trailing-30-day RANGE frame window sum"
    ),

    // global ranking WITHOUT the single-partition window: range
    // repartition + local rank + broadcast prefix offsets (GlobalRank) —
    // output identical to row_number() OVER (ORDER BY …)
    "q_global_rank" -> QueryDef(
      (s, d) =>
        graft.ops.GlobalRank
          .globalRank(
            t(s, d, "orders").select("o_orderkey", "o_totalprice"),
            Seq(col("o_totalprice").desc, col("o_orderkey").asc),
            "rnk",
            parts = 16)
          .select(col("o_orderkey"), col("rnk")),
      Some("""SELECT o_orderkey,
             |  CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
             |FROM orders""".stripMargin),
      "distributed global row_number via range partitioning"
    ),

    // percent-of-total: grouped sums vs the grand total as a broadcast
    // 1-row frame (never a global-window sum over the data)
    "q_pct_of_total" -> QueryDef(
      (s, d) => {
        val grp = t(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("o_totalprice").cast("decimal(28,4)")).as("__gs"))
        val tot = grp.agg(sum(col("__gs")).as("__ts"))
        grp
          .crossJoin(broadcast(tot))
          .select(
            col("o_orderpriority"),
            col("__gs").cast("double").as("grp_sum"),
            (col("__gs").cast("double") / col("__ts").cast("double")).as("share"))
      },
      Some("""WITH g AS (
             |  SELECT o_orderpriority, SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS gs
             |  FROM orders GROUP BY 1),
             |t AS (SELECT SUM(gs) AS ts FROM g)
             |SELECT o_orderpriority, CAST(gs AS DOUBLE) AS grp_sum,
             |       CAST(gs AS DOUBLE) / CAST(ts AS DOUBLE) AS share
             |FROM g, t""".stripMargin),
      "group share of grand total via broadcast scalar"
    ),

    // salted skewed join, oracle = the PLAIN join aggregate (exact
    // equivalence of the mitigation is the judged property)
    "q_salted_join" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"), col("event_id"))
        val cust = t(s, d, "customer").select(
          col("c_custkey").as("user_id"), col("c_mktsegment"))
        graft.ops.Skew
          .saltedJoin(ev, cust, "user_id", col("event_id"), salts = 8)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT c.c_mktsegment, COUNT(*) AS n
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1""".stripMargin),
      "salted equi-join equals the plain join"
    ),

    // TPC-H Q5 shape: six-table join (fact → orders → customer with the
    // supplier-nation co-location predicate, dims broadcast) — the join-
    // order stress test; Catalyst plans the dim joins as broadcasts and
    // the two fact joins as co-partitioned shuffles
    "q_sql_tpch_q5" -> QueryDef(
      (s, d) => {
        Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
          .foreach(n => t(s, d, n).createOrReplaceTempView(n))
        s.sql(tpchQ5Sql)
      },
      Some(tpchQ5Sql),
      "six-table regional revenue join (TPC-H Q5 shape)"
    )
  )
}
