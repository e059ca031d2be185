package graft.queries

import graft.ops.{Analytics, GlobalRank, TextOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics over the extracted fact tables: event analytics (cohorts,
  * funnels, transitions, sessions, attribution, time windows and
  * time-series), statistics (histograms, quantiles, moments, outliers,
  * tests), deterministic sampling and splitting, and sketches (HLL,
  * count-min, approximate percentiles).
  */
object AnalyticsQueries {
  import Tables.t

  val defs: Seq[(String, QueryDef)] = Seq(
    // ---- sketch aggregate: HLL. The sketch value is approximate by
    //      construction, so the oracle asserts its CONTRACT instead of
    //      its value: per group, |approx − exact| ≤ 3·rsd·exact (rsd =
    //      0.05, Spark's default) must hold — Spark emits the measured
    //      verdict, DuckDB emits TRUE from the exact count, and the hash
    //      compare fails iff the sketch ever drifts out of bound. ----
    "q_approx_count_distinct" -> QueryDef(
      (s, d) =>
        // Dedup the (group, value) pairs FIRST, then aggregate plainly:
        // mixing countDistinct with a non-distinct aggregate plans an
        // Expand + value-keyed partial agg (60M rows doubled, 936 MB
        // shuffle, 2 GB spill at the 100× fixture — r14 forced-bench
        // finding). The HLL sketch is insertion-idempotent (registers
        // are maxes), so approx_count_distinct over the deduped pairs is
        // bit-identical to the multiset sketch, the exact count becomes
        // a plain count, and the one shuffle carries the map-side-
        // combined distinct pairs.
        t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_partkey"))
          .distinct()
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey")).as("__approx"),
            count(lit(1)).as("__exact"))
          .select(
            col("l_returnflag"),
            (abs(col("__approx") - col("__exact")).cast("double") <=
              lit(3 * 0.05) * col("__exact").cast("double")).as("within_bound")),
      Some("""SELECT l_returnflag, TRUE AS within_bound
             |FROM lineitem GROUP BY 1""".stripMargin),
      "HLL sketch checked against its 3·rsd error contract per group"
    ),

    // ---- tumbling time window (batch shape of the streaming agg) ----
    "q_tumbling_window" -> QueryDef(
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")
          )
          .select(col("w.start").as("ws"), col("event_type"), col("n_events"), col("sum_value")),
      Some("""SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n_events,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)
    ),

    // hopping (sliding) windows: duration 10 min, slide 5 min — every
    // event lands in exactly 2 overlapping windows. Spark assigns both
    // memberships in ONE projection (the window generator explodes to
    // duration/slide rows) followed by the same single hash-agg as the
    // tumbling case; the oracle replays membership as floor-div µs math.
    "q_hopping_window" -> QueryDef(
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("w.start").as("ws"), col("event_type"), col("n_events")),
      Some("""WITH e AS (
             |  SELECT make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) // 300000000) - g.kk) * 300000000) AS ws,
             |         event_type
             |  FROM events, LATERAL (SELECT unnest([0, 1]) AS kk) g
             |)
             |SELECT ws, event_type, COUNT(*) AS n_events FROM e GROUP BY 1, 2""".stripMargin)
    ),

    // ---- deterministic sampling / splitting (training-data pipeline):
    //      pure md5 math, stable across runs and engines, scan-speed ----
    "q_hash_split" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling.hashSplit(t(s, d, "documents"), col("doc_id"), "graft", 80, 10)
          .groupBy("split")
          .agg(count(lit(1)).as("n")),
      Some("""WITH b AS (
             |  SELECT CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS pb
             |  FROM documents)
             |SELECT CASE WHEN pb < 80 THEN 'train' WHEN pb < 90 THEN 'valid' ELSE 'test' END AS split,
             |       COUNT(*) AS n
             |FROM b GROUP BY 1""".stripMargin),
      "stable md5 train/valid/test split (leak-free held-out sets)"
    ),
    "q_sample_bernoulli" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling.bernoulliKeep(t(s, d, "documents"), col("doc_id"), "graft", 10)
          .select("doc_id", "lang"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10""".stripMargin),
      "deterministic ~10% Bernoulli sample by hash bucket"
    ),
    "q_group_cap" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling.groupCap(t(s, d, "documents"), "source", "doc_id", 20, "cap")
          .select("doc_id", "source"),
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents) WHERE rn <= 20""".stripMargin),
      "per-source quota: stable pseudo-random k docs per group"
    ),
    // per-stratum keep rates over the same md5 bucket as the Bernoulli
    // sample: downsample dominant event classes, keep rare ones whole —
    // zero shuffle (the rate lookup folds into the scan filter)
    "q_stratified_sample" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling.stratifiedKeep(
          t(s, d, "events"),
          col("event_type"), col("event_id"), "strat",
          Map("click" -> 5, "view" -> 5, "error" -> 20, "purchase" -> 50),
          defaultPct = 100)
          .select("event_id", "event_type"),
      Some("""SELECT event_id, event_type FROM events
             |WHERE CAST(('0x' || substr(md5('strat:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 <
             |  CASE event_type WHEN 'click' THEN 5 WHEN 'view' THEN 5
             |                  WHEN 'error' THEN 20 WHEN 'purchase' THEN 50 ELSE 100 END""".stripMargin),
      "stratified deterministic sample: per-class keep rates, stable across runs"
    ),

    // ---- count-min sketch heavy hitters: the bounded-state frequency
    //      structure (4×1024 counters, independent of vocabulary size)
    //      point-queried for the exact top-20 tokens. The sketch, the
    //      probes, and the estimates are pure md5-chunk integer math, so
    //      DuckDB replays the whole grid bit-exactly; `sound` pins the
    //      CMS guarantee est ≥ true on every probe ----
    "q_heavy_hitters_cms" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("token"))
        val sketch = graft.ops.Sketches.countMin(toks, col("token"), depth = 4, width = 1024)
        val top = toks.groupBy("token").agg(count(lit(1)).as("true_n"))
          .orderBy(col("true_n").desc, col("token").asc)
          .limit(20)
        graft.ops.Sketches.cmsEstimate(sketch, top, "token", depth = 4, width = 1024)
          .select(
            col("token"), col("true_n"), col("est_n"),
            (col("est_n") >= col("true_n")).as("sound"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
             |  FROM documents),
             |sk AS (
             |  SELECT g.j,
             |    CAST(('0x' || substr(md5('cms' || CAST(g.j AS VARCHAR) || ':' || token), 1, 13)) AS BIGINT) % 1024 AS b,
             |    COUNT(*) AS c
             |  FROM toks, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g
             |  GROUP BY 1, 2),
             |top AS (
             |  SELECT token, COUNT(*) AS true_n FROM toks
             |  GROUP BY 1 ORDER BY true_n DESC, token LIMIT 20),
             |pb AS (
             |  SELECT token, true_n, g.j,
             |    CAST(('0x' || substr(md5('cms' || CAST(g.j AS VARCHAR) || ':' || token), 1, 13)) AS BIGINT) % 1024 AS b
             |  FROM top, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g)
             |SELECT pb.token, CAST(pb.true_n AS BIGINT) AS true_n,
             |  CAST(MIN(COALESCE(sk.c, 0)) AS BIGINT) AS est_n,
             |  MIN(COALESCE(sk.c, 0)) >= pb.true_n AS sound
             |FROM pb LEFT JOIN sk ON sk.j = pb.j AND sk.b = pb.b
             |GROUP BY pb.token, pb.true_n""".stripMargin),
      "count-min sketch point queries vs exact counts, soundness pinned"
    ),

    // ---- the CMS merge contract: sketches built independently on two
    //      corpus shards, sum-merged, point-queried — estimates are
    //      IDENTICAL to the whole-corpus sketch (counter addition is
    //      exact), which is what lets 1000 executors sketch 100 TB
    //      map-side and merge grids instead of shuffling occurrences.
    //      Oracle = the whole-corpus replay, pinning that identity ----
    "q_cms_merge" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        def toks(part: org.apache.spark.sql.DataFrame) =
          part.select(explode(TextOps.tokens(col("text"))).as("token"))
        val skA = graft.ops.Sketches.countMin(
          toks(docs.filter(col("doc_id") % 2 === 0)), col("token"), depth = 4, width = 1024)
        val skB = graft.ops.Sketches.countMin(
          toks(docs.filter(col("doc_id") % 2 === 1)), col("token"), depth = 4, width = 1024)
        val merged = skA.unionByName(skB)
          .groupBy("j", "b").agg(sum(col("c")).as("c"))
        val top = toks(docs).groupBy("token").agg(count(lit(1)).as("true_n"))
          .orderBy(col("true_n").desc, col("token").asc)
          .limit(20)
        graft.ops.Sketches.cmsEstimate(merged, top, "token", depth = 4, width = 1024)
          .select(
            col("token"), col("true_n"), col("est_n"),
            (col("est_n") >= col("true_n")).as("sound"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
             |  FROM documents),
             |sk AS (
             |  SELECT g.j,
             |    CAST(('0x' || substr(md5('cms' || CAST(g.j AS VARCHAR) || ':' || token), 1, 13)) AS BIGINT) % 1024 AS b,
             |    COUNT(*) AS c
             |  FROM toks, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g
             |  GROUP BY 1, 2),
             |top AS (
             |  SELECT token, COUNT(*) AS true_n FROM toks
             |  GROUP BY 1 ORDER BY true_n DESC, token LIMIT 20),
             |pb AS (
             |  SELECT token, true_n, g.j,
             |    CAST(('0x' || substr(md5('cms' || CAST(g.j AS VARCHAR) || ':' || token), 1, 13)) AS BIGINT) % 1024 AS b
             |  FROM top, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g)
             |SELECT pb.token, CAST(pb.true_n AS BIGINT) AS true_n,
             |  CAST(MIN(COALESCE(sk.c, 0)) AS BIGINT) AS est_n,
             |  MIN(COALESCE(sk.c, 0)) >= pb.true_n AS sound
             |FROM pb LEFT JOIN sk ON sk.j = pb.j AND sk.b = pb.b
             |GROUP BY pb.token, pb.true_n""".stripMargin),
      "shard-built CMS grids sum-merge to the whole-corpus sketch exactly"
    ),

    // time-series densification: per-key daily spine + forward fill over
    // a deliberately sparse event subset (integer-valued sums ⇒ exact)
    // time-proximity join: purchases vs errors within ±15 min. The
    // inequality join Spark would BNLJ becomes a rank difference
    // F(t+w) − F(t−w−1) over fine-bucket prefix sums (TimeSeries
    // .proximityCount) — join output grows with rows per FINE bucket
    // (w/16), not rows per window span, so pair mass stays linear in
    // time density (r14: the 3-bucket equi-join it replaces was 22.9×
    // wall at the 100× fixture purely from in-span pair growth).
    "q_time_proximity_join" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        graft.ops.TimeSeries.proximityCount(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "error"),
          "event_id", "ts", windowUs = 900000000L)
      },
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
             |SELECT a.event_id, COUNT(b.ts) AS n_nearby
             |FROM e a LEFT JOIN e b
             |  ON b.event_type = 'error'
             | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 900000000
             |WHERE a.event_type = 'purchase'
             |GROUP BY 1""".stripMargin),
      "interval/time-proximity join as a prefix-sum rank difference (no BNLJ)"
    ),

    "q_gap_fill" -> QueryDef(
      (s, d) => {
        val daily = t(s, d, "events")
          .filter(col("user_id") % 97 === 3)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100)).as("day_sum"))
        graft.ops.TimeSeries.fillForward(daily, "event_type", "day", Seq("day_sum"))
          .select(
            col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day_str"),
            col("day_sum"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |         SUM(round(value*100)) AS day_sum
             |  FROM events WHERE user_id % 97 = 3 GROUP BY 1, 2
             |), bounds AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1),
             |spine AS (
             |  SELECT event_type, CAST(g.dd AS DATE) AS day FROM bounds,
             |  LATERAL (SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS dd) g
             |)
             |SELECT s.event_type, strftime(s.day, '%Y-%m-%d') AS day_str,
             |  last_value(dl.day_sum IGNORE NULLS) OVER (
             |    PARTITION BY s.event_type ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS day_sum
             |FROM spine s LEFT JOIN daily dl ON dl.event_type = s.event_type AND dl.day = s.day""".stripMargin),
      "calendar gap fill + forward carry per key"
    ),

    // exact discrete quantiles from the VALUE HISTOGRAM (no FP
    // interpolation — integer indexing makes the pick engine-independent).
    // The rank-r order statistic equals the smallest value whose
    // cumulative count reaches r, so the per-group row_number sort is
    // unnecessary: a (group, value) count — map-side combined, 60M rows
    // collapse to |groups|×|distinct values| ≈ 150 before any shuffle —
    // plus a cumulative sum over that tiny frame picks the identical
    // value. The sort form moved the whole fact table into 3 returnflag
    // window partitions at the 100× fixture (77 s wall, 725 MB shuffle
    // into 3 tasks — r14 forced-bench finding); this is the same answer
    // at histogram cost, the right shape for ANY low-cardinality metric
    // column at 100 TB.
    "q_quantile_disc" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy("l_returnflag")
          .orderBy(col("l_quantity").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy("l_returnflag")
        counts
          .withColumn("cum", sum(col("c")).over(wc))
          .withColumn("n", sum(col("c")).over(wn))
          .groupBy("l_returnflag")
          .agg(
            min(when(col("cum") >= greatest(lit(1L), ceil(lit(0.5) * col("n"))),
              col("l_quantity").cast("double"))).as("median_qty"),
            min(when(col("cum") >= greatest(lit(1L), ceil(lit(0.9) * col("n"))),
              col("l_quantity").cast("double"))).as("p90_qty"))
      },
      Some("""SELECT l_returnflag,
             |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.5*n) AS BIGINT)) THEN CAST(l_quantity AS DOUBLE) END) AS median_qty,
             |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.9*n) AS BIGINT)) THEN CAST(l_quantity AS DOUBLE) END) AS p90_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber,
             |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
             |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM lineitem)
             |GROUP BY 1""".stripMargin),
      "exact discrete median/p90 per group from the value histogram (no full sort)"
    ),
    // cohort retention: first-event-day cohorts × active-day offsets.
    // Two hash aggregates + one user-key join (firsts ≪ events).
    "q_cohort_retention" -> QueryDef(
      (s, d) => Analytics.cohortRetention(t(s, d, "events"), "user_id", "ts"),
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
             |f AS (
             |  SELECT user_id, CAST(min(ts) AS DATE) AS cd FROM e GROUP BY 1)
             |SELECT strftime(f.cd, '%Y-%m-%d') AS cohort_day,
             |       CAST(date_diff('day', f.cd, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
             |       COUNT(DISTINCT e.user_id) AS n_users
             |FROM e JOIN f USING (user_id)
             |GROUP BY 1, 2""".stripMargin),
      "cohort retention matrix over the events table"
    ),

    // strictly-ordered funnel in ONE shuffle (greedy fold per user ==
    // the nested-min SQL the oracle states)
    "q_funnel" -> QueryDef(
      (s, d) =>
        Analytics.funnelStages(
          t(s, d, "events"), "user_id", "ts", "event_id", "event_type",
          Seq("view", "click", "purchase")),
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
             |s1 AS (
             |  SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (
             |  SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
             |s3 AS (
             |  SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
             |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name, COUNT(*) AS n_users FROM s1
             |UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
             |UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3""".stripMargin),
      "view→click→purchase ordered funnel, one shuffle"
    ),

    // first-order Markov transition matrix of the event stream: one
    // window sort per user (shareable with sessionization), |types|² output
    "q_event_transitions" -> QueryDef(
      (s, d) =>
        Analytics.transitionCounts(t(s, d, "events"), "user_id", "ts", "event_id", "event_type"),
      Some("""SELECT from_type, to_type, COUNT(*) AS n FROM (
             |  SELECT event_type AS from_type,
             |         lead(event_type) OVER (
             |           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
             |  FROM events)
             |WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin),
      "event-type transition counts via one per-user window"
    ),

    // data-quality profile of a table in ONE scan (k-way expand, not
    // k scans): per column null count + distinct count
    "q_profile_table" -> QueryDef(
      (s, d) =>
        Analytics.profile(
          t(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")),
      Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
        .map(c =>
          s"SELECT '$c' AS column_name, COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct FROM orders")
        .mkString("\nUNION ALL ")),
      "per-column null/distinct profile, single scan"
    ),

    // fixed-width histogram: bin index computed with the SAME IEEE ops on
    // both engines (divide + floor), one hash aggregate on |bins| keys
    "q_histogram" -> QueryDef(
      (s, d) =>
        t(s, d, "orders")
          .groupBy(floor(col("o_totalprice") / 25000.0).cast("long").as("bin"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(28,4)")).cast("double").as("sum_price")),
      Some("""SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 1""".stripMargin),
      "fixed-width numeric histogram"
    ),

    // Pearson correlation per group WITHOUT order-dependent FP: quantity
    // is integer-valued and price has 2 decimals, so both scale to exact
    // integers (corr is scale-invariant), the five moment sums are exact
    // DECIMAL(38,0) integers (order-free under any shuffle, no int64
    // overflow on either engine), and the closed-form combination is the
    // identical IEEE double expression on both sides. Built-in corr()
    // would be shuffle-order-dependent; this is the deterministic form.
    "q_stats_corr" -> QueryDef(
      (s, d) => {
        val base = t(s, d, "lineitem").select(
          col("l_returnflag"),
          col("l_quantity").cast("long").as("xi"),
          round(col("l_extendedprice") * 100).cast("long").as("yi"))
        base
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("xi").cast("decimal(38,0)")).cast("double").as("sx"),
            sum(col("yi").cast("decimal(38,0)")).cast("double").as("sy"),
            sum((col("xi") * col("yi")).cast("decimal(38,0)")).cast("double").as("sxy"),
            sum((col("xi") * col("xi")).cast("decimal(38,0)")).cast("double").as("sxx"),
            sum((col("yi") * col("yi")).cast("decimal(38,0)")).cast("double").as("syy"))
          .select(
            col("l_returnflag"),
            col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr"))
      },
      Some("""WITH b AS (
             |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS xi,
             |         CAST(round(l_extendedprice * 100) AS BIGINT) AS yi
             |  FROM lineitem),
             |m AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(CAST(SUM(CAST(xi AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
             |    CAST(CAST(SUM(CAST(yi AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
             |    CAST(CAST(SUM(CAST(xi * yi AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxy,
             |    CAST(CAST(SUM(CAST(xi * xi AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx,
             |    CAST(CAST(SUM(CAST(yi * yi AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS syy
             |  FROM b GROUP BY 1)
             |SELECT l_returnflag, n,
             |  (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr
             |FROM m""".stripMargin),
      "order-free Pearson correlation via exact integer moments"
    ),

    // Spark's NATIVE session_window (vs the engine's stateful sessionizer
    // in q_sessionize — same islands, different machinery): one hash
    // aggregate with gap-merge, all sessions included (batch semantics,
    // no trailing exclusion). session end = last event + gap.
    "q_session_window_builtin" -> QueryDef(
      (s, d) =>
        t(s, d, "events")
          .select(col("user_id"), col("ts"), round(col("value") * 100).as("v"))
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sum_value"))
          .select(
            col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"),
            col("sum_value")),
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, round(value*100) AS v FROM events
             |), g AS (
             |  SELECT user_id, ts, v,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
             |              > 1800000000 THEN 1 ELSE 0 END AS brk
             |  FROM e
             |), s AS (
             |  SELECT user_id, ts, v,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
             |  FROM g
             |)
             |SELECT user_id, min(ts) AS session_start,
             |       max(ts) + INTERVAL 30 MINUTE AS session_end,
             |       CAST(COUNT(*) AS BIGINT) AS n_events, SUM(v) AS sum_value
             |FROM s GROUP BY user_id, sess""".stripMargin),
      "native session_window gap sessionization"
    ),

    // equi-depth (decile) histogram composed from the distributed global
    // rank — bucket boundaries by POSITION, not value width; integer
    // division on (rank-1)*B/n so bucketing is exact on both engines
    "q_equidepth_histogram" -> QueryDef(
      (s, d) => {
        val ranked = graft.ops.GlobalRank.globalRank(
          t(s, d, "orders").select("o_orderkey", "o_totalprice"),
          Seq(col("o_totalprice").asc, col("o_orderkey").asc),
          "rnk",
          parts = 16)
        val tot = ranked.agg(count(lit(1)).as("__cnt"))
        ranked
          .crossJoin(broadcast(tot))
          .groupBy(expr("CAST(((rnk - 1) * 10) div __cnt AS BIGINT)").as("decile"))
          .agg(
            count(lit(1)).as("n"),
            min(col("o_totalprice")).as("lo"),
            max(col("o_totalprice")).as("hi"),
            sum(col("o_totalprice").cast("decimal(28,4)")).cast("double").as("sum_price"))
      },
      Some("""WITH r AS (
             |  SELECT o_totalprice,
             |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
             |    COUNT(*) OVER () AS cnt
             |  FROM orders)
             |SELECT CAST(((rnk - 1) * 10) // cnt AS BIGINT) AS decile,
             |  COUNT(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
             |FROM r GROUP BY 1""".stripMargin),
      "position-based decile histogram over the global rank"
    ),

    // rolling 7-day distinct users per window-end day: windowed COUNT
    // DISTINCT is not a window function on any engine. r15 shape: ONE
    // corpus shuffle — groupBy(user) with a map-side-partial
    // collect_set(day) (per-user day sets are calendar-bounded, ≤ the
    // fixture's ~90 days), then the user's distinct window-ends computed
    // IN-ROW (flatten + array_distinct over the 7-day offsets) and
    // counted with a plain agg: each user contributes each wend exactly
    // once, so count(*) IS the distinct-user count and the former
    // second corpus-wide dedup exchange disappears. (The prior
    // distinct → ×7 explode → count_distinct form re-deduplicated
    // (user, wend) across the cluster: 238 MB second exchange and a
    // 44 s finalize stage at sf10 — StageProbe r15, bench/r15_notes.md.)
    "q_rolling_distinct" -> QueryDef(
      (s, d) =>
        t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
          // COUNT(DISTINCT user_id) ignores nulls; the plain count(*)
          // over per-user rows below would count a null-user group, so
          // the null exclusion must be explicit to stay oracle-exact on
          // any input
          .filter(col("user_id").isNotNull)
          .groupBy("user_id")
          .agg(collect_set(col("day")).as("days"))
          .select(
            col("user_id"),
            explode(array_distinct(flatten(
              transform(col("days"), dd => sequence(dd, date_add(dd, 6)))))).as("wend"))
          .groupBy(date_format(col("wend"), "yyyy-MM-dd").as("window_end"))
          .agg(count(lit(1)).as("n_users")),
      Some("""WITH du AS (
             |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id FROM events),
             |x AS (
             |  SELECT user_id, day + CAST(g.i AS INTEGER) AS wend
             |  FROM du, LATERAL (SELECT unnest(generate_series(0, 6)) AS i) g)
             |SELECT strftime(wend, '%Y-%m-%d') AS window_end,
             |       COUNT(DISTINCT user_id) AS n_users
             |FROM x GROUP BY 1""".stripMargin),
      "7-day rolling distinct users via per-user in-row window-end expansion"
    ),

    // time-weighted average value per user: each event's value holds
    // until the next event (lead window), weights are exact µs integers,
    // value is scaled to integer cents — so both moment sums are exact
    // decimals (order-free) and the single final division is the same
    // IEEE op on both engines. One window + one aggregate on the user.
    "q_time_weighted_avg" -> QueryDef(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
        t(s, d, "events")
          .select(
            col("user_id"),
            col("ts_us"),
            col("event_id"),
            round(col("value") * 100).cast("long").as("v"))
          .withColumn("w_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
          .filter(col("w_us").isNotNull)
          .groupBy("user_id")
          .agg(
            // cast BEFORE multiplying: cents × a multi-month µs gap can
            // exceed 2^63, and ANSI would throw where decimal stays exact
            sum(col("v").cast("decimal(38,0)") * col("w_us")).cast("double").as("svw"),
            sum(col("w_us").cast("decimal(38,0)")).cast("double").as("sw"))
          .filter(col("sw") > 0)
          .select(col("user_id"), (col("svw") / col("sw")).as("twa"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
             |         CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events),
             |l AS (
             |  SELECT user_id, v,
             |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS w_us
             |  FROM e),
             |a AS (
             |  SELECT user_id,
             |    CAST(CAST(SUM(CAST(v AS DECIMAL(38,0)) * w_us) AS VARCHAR) AS DOUBLE) AS svw,
             |    CAST(CAST(SUM(CAST(w_us AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sw
             |  FROM l WHERE w_us IS NOT NULL GROUP BY 1)
             |SELECT user_id, svw / sw AS twa FROM a WHERE sw > 0""".stripMargin),
      "time-weighted average via exact integer moments"
    ),

    // per-group z-score normalization (feature scaling): one stats
    // aggregate per group (exact integer moments in cents), broadcast
    // back, per-row arithmetic with the IDENTICAL double formula on both
    // engines. The split-apply-combine normalize every feature pipeline
    // runs — never a window over the whole fact table.
    "q_zscore" -> QueryDef(
      (s, d) => {
        val base = t(s, d, "orders").select(
          col("o_orderkey"),
          col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("yi"))
        val stats = base
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            sum(col("yi").cast("decimal(38,0)")).cast("double").as("sy"),
            sum((col("yi") * col("yi")).cast("decimal(38,0)")).cast("double").as("syy"))
        base
          .join(broadcast(stats), "o_orderpriority")
          .select(
            col("o_orderkey"),
            col("o_orderpriority"),
            ((col("yi").cast("double") - col("sy") / col("n")) /
              (sqrt(col("n") * col("syy") - col("sy") * col("sy")) / col("n"))).as("zscore"))
      },
      Some("""WITH b AS (
             |  SELECT o_orderkey, o_orderpriority,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS yi
             |  FROM orders),
             |st AS (
             |  SELECT o_orderpriority, COUNT(*) AS n,
             |    CAST(CAST(SUM(CAST(yi AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
             |    CAST(CAST(SUM(CAST(yi * yi AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS syy
             |  FROM b GROUP BY 1)
             |SELECT o_orderkey, b.o_orderpriority,
             |  (CAST(yi AS DOUBLE) - sy / n) / (sqrt(n * syy - sy * sy) / n) AS zscore
             |FROM b JOIN st ON b.o_orderpriority = st.o_orderpriority""".stripMargin),
      "per-group z-score via exact integer moments, broadcast stats"
    ),

    // exact interpolated percentiles (p50/p90) per group via two-phase
    // distributed selection (ops/Quantiles): the previous window form
    // sorted the whole table inside 5 priority partitions — parallelism
    // capped at |groups| at any cluster size (13.6× scale ratio at the
    // 100× fixture). Selection picks the IDENTICAL bracketing order
    // statistics; the interpolation formula is spelled out the same on
    // both engines (built-in percentile_cont impls differ in
    // association order)
    "q_percentile_cont" -> QueryDef(
      (s, d) => {
        val st = graft.ops.Quantiles.bracketingStats(
          t(s, d, "orders").select(
            col("o_orderpriority"), col("o_totalprice"), col("o_orderkey")),
          "o_orderpriority", "o_totalprice", "o_orderkey",
          ps = Seq(0.5, 0.9), bucketWidth = 1000.0)
        st
          .withColumn("value",
            col("lo") + (col("k") - floor(col("k"))) * (col("hi") - col("lo")))
          .groupBy("g")
          .agg(
            min(when(col("p") === 0.5, col("value"))).as("p50"),
            min(when(col("p") === 0.9, col("value"))).as("p90"))
          .select(col("g").as("o_orderpriority"), col("p50"), col("p90"))
      },
      Some("""WITH b AS (
             |  SELECT o_orderpriority, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
             |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
             |  FROM orders),
             |k AS (
             |  SELECT *, (n - 1) * CAST(0.5 AS DOUBLE) AS k5,
             |         (n - 1) * CAST(0.9 AS DOUBLE) AS k9 FROM b),
             |a AS (
             |  SELECT o_orderpriority,
             |    min(CASE WHEN rn = floor(k5) + 1 THEN o_totalprice END) AS l5,
             |    min(CASE WHEN rn = ceil(k5) + 1 THEN o_totalprice END) AS h5,
             |    min(CASE WHEN rn = floor(k9) + 1 THEN o_totalprice END) AS l9,
             |    min(CASE WHEN rn = ceil(k9) + 1 THEN o_totalprice END) AS h9,
             |    min(k5) AS k5, min(k9) AS k9
             |  FROM k GROUP BY 1)
             |SELECT o_orderpriority,
             |  l5 + (k5 - floor(k5)) * (h5 - l5) AS p50,
             |  l9 + (k9 - floor(k9)) * (h9 - l9) AS p90
             |FROM a""".stripMargin),
      "exact interpolated p50/p90 via bracketing order statistics"
    ),

    // importance sampling: keep each document with probability
    // n_chars/16384 via an exact integer comparison against a 32-bit md5
    // uniform — zero FP, zero shuffle, the kept set replays bitwise in
    // any engine with md5
    "q_weighted_sample" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling
          .weightedKeep(t(s, d, "documents"), col("doc_id"), "graft-ws", col("n_chars"), 16384L)
          .select(col("doc_id"), col("n_chars")),
      Some("""SELECT doc_id, n_chars FROM documents
             |WHERE CAST(('0x' || substr(md5('graft-ws:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |        * 16384
             |      < least(greatest(n_chars, 0), 16384) * 4294967296""".stripMargin),
      "length-proportional deterministic document sampling"
    ),

    // robust outliers: |v - median| > 3 × MAD per event type, both
    // medians exact discrete order statistics on integer cents — no FP
    // quantile interpolation anywhere
    "q_mad_outliers" -> QueryDef(
      (s, d) =>
        graft.ops.Analytics.madOutliers(
          t(s, d, "events").select(
            col("event_type"),
            col("event_id"),
            round(col("value") * 100).cast("long").as("vc")),
          "event_type", col("vc"), col("event_id"), k = 3),
      Some("""WITH e AS (
             |  SELECT event_type, event_id AS id, CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events WHERE value IS NOT NULL),
             |m AS (
             |  SELECT event_type,
             |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN v END) AS med
             |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY v, id) AS rn,
             |               COUNT(*) OVER (PARTITION BY event_type) AS n FROM e)
             |  GROUP BY 1),
             |dv AS (
             |  SELECT e.event_type, id, v, med, abs(v - med) AS dev
             |  FROM e JOIN m USING (event_type)),
             |m2 AS (
             |  SELECT event_type,
             |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN dev END) AS mad
             |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev, id) AS rn,
             |               COUNT(*) OVER (PARTITION BY event_type) AS n FROM dv)
             |  GROUP BY 1)
             |SELECT dv.event_type, id, v, med, mad
             |FROM dv JOIN m2 USING (event_type) WHERE dev > 3 * mad""".stripMargin),
      "median-absolute-deviation outliers on exact integer medians"
    ),

    // last-touch attribution: each purchase credits the most recent
    // strictly-preceding click/view of the same user (null if untouched).
    // One (user, time) window sort; the conversion filter applies AFTER
    // the window so touches stay in the frame
    "q_attribution" -> QueryDef(
      (s, d) =>
        graft.ops.Analytics.lastTouch(
          t(s, d, "events"), "user_id", "ts", "event_id", "event_type",
          touchTypes = Seq("click", "view"), convType = "purchase"),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
             |  FROM events)
             |SELECT user_id, event_id, touch_id, touch_type FROM (
             |  SELECT user_id, event_id, event_type,
             |    last_value(CASE WHEN event_type IN ('click','view') THEN event_id END IGNORE NULLS)
             |      OVER w AS touch_id,
             |    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
             |      OVER w AS touch_type
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
             |WHERE event_type = 'purchase'""".stripMargin),
      "last-touch conversion attribution via ignore-nulls window"
    ),

    // per-type OLS slope of daily revenue vs day index: the daily rollup
    // is an exact integer table (cents × small day ordinals), so the
    // moment sums are exact decimals and the closed-form slope is the
    // same IEEE expression on both engines. n ≥ 2 distinct days ⇒ the
    // denominator is a positive integer — no 0/0 branch
    "q_trend_slope" -> QueryDef(
      (s, d) => {
        val daily = t(s, d, "events")
          .select(
            col("event_type"),
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("x"),
            round(col("value") * 100).cast("long").as("vc"))
          .groupBy("event_type", "x")
          .agg(sum(col("vc").cast("decimal(38,0)")).cast("long").as("y"))
        daily
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
            sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
            sum((col("x") * col("y")).cast("decimal(38,0)")).cast("double").as("sxy"),
            sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double").as("sxx"))
          .filter(col("n") >= 2)
          .select(
            col("event_type"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type,
             |    date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS x,
             |    CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2),
             |m AS (
             |  SELECT event_type, COUNT(*) AS n,
             |    CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
             |    CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
             |    CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxy,
             |    CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx
             |  FROM daily GROUP BY 1)
             |SELECT event_type, n,
             |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
             |FROM m WHERE n >= 2""".stripMargin),
      "per-group OLS trend slope via exact integer moments"
    ),

    // OHLC resampling: per (type, day) bucket, the first/last/min/max of
    // the value series — the downsampling shape every time-series store
    // provides. ONE hash aggregate, no sort: open/close are min_by/max_by
    // over a scalar composite key (within-day µs offset × 2^25 +
    // event_id — offset < 2^37 so the product stays < 2^62; ANSI throws
    // rather than corrupts if event_id ever reaches 2^25). The key is
    // unique, so the pick is total-ordered on both engines
    "q_ohlc_resample" -> QueryDef(
      (s, d) => {
        val key = (col("ts_us") % 86400000000L) * 33554432L + col("event_id")
        t(s, d, "events")
          .select(
            col("event_type"),
            col("ts").cast("date").cast("string").as("day"),
            key.as("k"),
            round(col("value") * 100).cast("long").as("v"))
          .groupBy("event_type", "day")
          .agg(
            min_by(col("v"), col("k")).as("open"),
            max(col("v")).as("high"),
            min(col("v")).as("low"),
            max_by(col("v"), col("k")).as("close"),
            count(lit(1)).as("n"))
      },
      Some("""WITH e AS (
             |  SELECT event_type,
             |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
             |    (epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000) * 33554432 + event_id AS k,
             |    CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events)
             |SELECT event_type, day,
             |  arg_min(v, k) AS open,
             |  max(v) AS high, min(v) AS low,
             |  arg_max(v, k) AS close,
             |  COUNT(*) AS n
             |FROM e GROUP BY 1, 2""".stripMargin),
      "per-bucket OHLC downsampling in one sort-free hash aggregate"
    ),

    // chi-square independence of event type × ISO weekday — the drift /
    // association test a data-quality monitor runs on categorical pairs.
    // Every cell term is the same IEEE expression over exact integers
    // ((oN − rt·ct)² / (rt·ct·N), diff exact in DECIMAL(38,0)), and the
    // cross-cell sum is a SEQUENTIAL fold over the (type, wd)-sorted term
    // array — both engines add 35 doubles in the identical order, so the
    // statistic is bitwise equal. Cost: one hash agg to the 35-cell
    // contingency table; everything after runs on |types|×7 rows
    "q_chi_square" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cells = t(s, d, "events")
          .select(col("event_type"),
            (weekday(col("ts").cast("date")) + 1).as("wd")) // 1 = Monday, as isodow
          .groupBy("event_type", "wd")
          .agg(count(lit(1)).as("o"))
          .withColumn("rt", sum("o").over(Window.partitionBy("event_type")))
          .withColumn("ct", sum("o").over(Window.partitionBy("wd")))
          .withColumn("n", sum("o").over(Window.partitionBy()))
        val diff = (col("o").cast("decimal(38,0)") * col("n") -
          col("rt").cast("decimal(38,0)") * col("ct")).cast("double")
        val term = diff * diff / (col("rt").cast("double") * col("ct") * col("n"))
        cells
          .select(col("event_type"), col("wd"), term.as("t"))
          .agg(
            sort_array(collect_list(struct(col("event_type"), col("wd"), col("t")))).as("arr"),
            count(lit(1)).as("cells"),
            ((count_distinct(col("event_type")) - 1) *
              (count_distinct(col("wd")) - 1)).as("dof"))
          .select(
            aggregate(transform(col("arr"), x => x("t")), lit(0.0), (acc, x) => acc + x)
              .as("chi2"),
            col("cells"), col("dof"))
      },
      Some("""WITH e AS (
             |  SELECT event_type, isodow(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS wd
             |  FROM events),
             |c AS (SELECT event_type, wd, COUNT(*) AS o FROM e GROUP BY 1, 2),
             |m AS (
             |  SELECT *, CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
             |    CAST(SUM(o) OVER (PARTITION BY wd) AS BIGINT) AS ct,
             |    CAST(SUM(o) OVER () AS BIGINT) AS n
             |  FROM c),
             |u AS (
             |  SELECT event_type, wd,
             |    CAST(CAST(CAST(o AS DECIMAL(38,0)) * n
             |      - CAST(rt AS DECIMAL(38,0)) * ct AS VARCHAR) AS DOUBLE)
             |    * CAST(CAST(CAST(o AS DECIMAL(38,0)) * n
             |      - CAST(rt AS DECIMAL(38,0)) * ct AS VARCHAR) AS DOUBLE)
             |    / (CAST(rt AS DOUBLE) * ct * n) AS t
             |  FROM m)
             |SELECT list_reduce(list(t ORDER BY event_type, wd), (a, b) -> a + b) AS chi2,
             |  COUNT(*) AS cells,
             |  (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT wd) - 1) AS dof
             |FROM u""".stripMargin),
      "chi-square independence via exact cell terms + sequential fold"
    ),

    // contrastive negatives: each doc paired with its 2 successors on a
    // 16-arc md5 hash ring (uniform pseudo-random, deterministic, no
    // global sort — one window per arc + one (arc, position) equi-join).
    // 16 arcs suit the small fixture; production uses 256+
    "q_negative_ring_sample" -> QueryDef(
      (s, d) =>
        graft.ops.Sampling
          .ringNegatives(t(s, d, "documents"), "doc_id", "ring", k = 2, arcHexLen = 1),
      Some("""WITH p AS (
             |  SELECT doc_id AS id, md5('ring:' || CAST(doc_id AS VARCHAR)) AS h
             |  FROM documents),
             |r AS (
             |  SELECT id, substr(h, 1, 1) AS arc,
             |    row_number() OVER (PARTITION BY substr(h, 1, 1) ORDER BY h, id) AS rn,
             |    COUNT(*) OVER (PARTITION BY substr(h, 1, 1)) AS n
             |  FROM p),
             |o AS (
             |  SELECT arc, id, rn, n, off
             |  FROM r, LATERAL (SELECT unnest(generate_series(1, 2)) AS off) g),
             |j AS (
             |  SELECT o.id, o.off, r2.id AS neg_id
             |  FROM o JOIN r r2 ON r2.arc = o.arc AND r2.rn = (o.rn - 1 + o.off) % o.n + 1)
             |SELECT id, off, neg_id FROM j WHERE neg_id <> id""".stripMargin),
      "hash-ring contrastive negative sampling, arc-partitioned"
    ),

    // ---- deterministic global shuffle into training shards: md5-keyed
    //      permutation via the partitioned global rank (no single-task
    //      window), then round-robin shard + in-shard position ----
    "q_shuffle_shard" -> QueryDef(
      (s, d) => {
        val ranked = GlobalRank.globalRank(
          t(s, d, "documents").select(col("doc_id")),
          Seq(md5(concat(lit("shuf:"), col("doc_id").cast("string"))).asc, col("doc_id").asc),
          "rnk",
          parts = 16
        )
        ranked.select(
          col("doc_id"),
          ((col("rnk") - 1) % 8).cast("long").as("shard"),
          floor((col("rnk") - 1) / lit(8.0)).cast("long").as("pos")
        )
      },
      Some("""SELECT doc_id,
             |  CAST((rn - 1) % 8 AS BIGINT) AS shard,
             |  CAST((rn - 1) // 8 AS BIGINT) AS pos
             |FROM (
             |  SELECT doc_id, row_number() OVER (
             |    ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)""".stripMargin),
      "hash-keyed deterministic corpus shuffle into 8 training shards"
    ),

    // ---- market-basket lift on the FACT table: parts co-purchased in
    //      the same order, ranked by integer-exact lift with min
    //      support — the q_token_lift blocking pattern exercised at
    //      lineitem scale (pairs per order are bounded by basket size,
    //      never the part-catalog cross) ----
    // Shape note (three measured negatives, r12-r14, all rejected):
    // (1) checkpointing the distinct (order, part) frame before its four
    // consumers — the pinned ~1 GB starves the pair-expansion join
    // (sf10 55.7 -> 66.3 s); (2) per-order sorted baskets (collect_set)
    // + in-row transform×slice pair generation replacing the self-join —
    // the object-hash collect_set partial (369 s CPU, 34 s GC, 369 MB
    // spill) and a fatter pair exchange (1.5 vs 1.19 GB) cost more than
    // the join they removed (sf10 64.0 -> 72.9 s isolated). The
    // self-join over lazily re-scanned columnar parquet IS the fast
    // shape at this memory budget; the pair-space partial agg is the
    // query's inherent candidate mass. (3) support-threshold prefilter
    // (a pair needs n_ab >= 3, so semi-filtering li to parts with
    // n_p >= 3 before the self-join is sound and would bound the
    // expansion on a sparse corpus) — a measured NO-OP here: 0 of 2k/20k
    // parts at sf0.01/sf0.1 appear in <3 orders (per-part mean ~30
    // orders), and ScaleGen offsets part keys per copy, so the per-part
    // frequency distribution at sf1/sf10 is exactly sf0.1's — the filter
    // drops zero rows at every scale of this corpus and would only add a
    // frequency build + semi-join probe to the hot path.
    "q_basket_lift" -> QueryDef(
      (s, d) => {
        val nPart = s.sessionState.conf.numShufflePartitions * 2
        val liRaw = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
        // plan-time shape pick from the scan's COLUMN-PRUNED size stats
        // (file bytes × projected-width ratio — no job): past ~100 MB of
        // pruned input (≈20M+ (order, part) rows; the fixture reads
        // 2.2 MB / 27 MB / 312 MB at sf0.1/1/10) the classic shape's
        // spill (r15's one remaining sf10 spiller) moves to the
        // SPILL-PROOF shape; below it the classic AQE-coalesced shape is
        // ~1 s faster (gate-scale triples) because the spill it avoids
        // never happens there.
        //
        // The spill-proof shape (r16 StageProbe: after the r15 fixes,
        // ALL remaining spill — 2.8 GB over four stages at sf10 — was
        // the distinct's partial hash build, re-executed per consumer):
        // (a) explicit-N repartition on (order, part) BEFORE the
        // distinct — distribution satisfied → the partial drops out and
        // with it the per-task 60M-row hash build (pairs are mostly
        // unique, so the partial barely compacted the exchange anyway:
        // 597 MB written post-partial vs ~650 MB raw); (b) n_orders
        // from the RAW table, not the pair-distinct frame (stacking the
        // two distincts re-ran the pair partial just to count orders);
        // (c) explicit-N repartition on l_orderkey before the
        // self-join, so the SMJ sorts keep full width instead of AQE's
        // ~35 coalesced tasks. Measured sf10 triples: classic
        // 33.2 s / 4.9 GB disk spill → spill-proof 28.3 s / ZERO spill
        // (mem AND disk); sf1 classic 5.2 s beats spill-proof 6.3 s,
        // hence the threshold.
        val spillProof =
          liRaw.queryExecution.optimizedPlan.stats.sizeInBytes > (100L << 20)
        val li =
          if (spillProof)
            liRaw.repartition(nPart, col("l_orderkey"), col("l_partkey")).distinct()
          else liRaw.distinct()
        val nOrders =
          (if (spillProof) t(s, d, "lineitem").select("l_orderkey").distinct()
           else li.select("l_orderkey").distinct())
            .agg(count(lit(1)).as("n_orders"))
        val pf = li.groupBy("l_partkey").agg(count(lit(1)).as("n_p"))
        // explicit-N repartition on the pair key before the aggregation:
        // (a) the partial aggregate drops out (distribution satisfied →
        // one complete agg) — the map-side hash insert per generated
        // pair was pure overhead on the query's heaviest stage; (b) AQE
        // cannot coalesce an explicit-N user repartition, so the agg
        // keeps full width instead of the measured 35 coalesced tasks
        // spilling ~1.2 GB. 2× the batch lever (r14 A/B at sf10:
        // 37.9/37.3 s vs 43.8/51.1 s at 1×, sf0.1 indifferent): the
        // ~1.5B-pair agg state per task halves, cutting memory pressure
        // on the complete agg. (A SHUFFLE_HASH join hint instead:
        // measured negative, +37% wall.)
        val liJ = if (spillProof) li.repartition(nPart, col("l_orderkey")) else li
        val rawPairs = liJ.select(col("l_orderkey"), col("l_partkey").as("pa"))
          .join(liJ.select(col("l_orderkey"), col("l_partkey").as("pb")), "l_orderkey")
          .filter(col("pa") < col("pb"))
        // The explicit pair-key repartition belongs to the SPILL-PROOF
        // shape only (its two rationales — dropping the partial agg's
        // per-task hash build and defeating AQE's 35-task coalesce — are
        // both about the ~1.5B-pair sf10 state). In the classic shape it
        // was pure overhead: an extra full-width exchange of the pair
        // stream ahead of an aggregation AQE sizes fine at gate scale.
        // Measured r22 (repeat-5 medians): 2.13 -> 1.65 s at 32 cores,
        // 2.59 -> 1.69 s at 8 (bench/r22_basket_ab_*.json).
        val pairs = (if (spillProof) rawPairs.repartition(nPart * 2, col("pa"), col("pb"))
                     else rawPairs)
          .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 3)
        pairs
          .join(pf.select(col("l_partkey").as("pa"), col("n_p").as("n_a")), "pa")
          .join(pf.select(col("l_partkey").as("pb"), col("n_p").as("n_b")), "pb")
          .crossJoin(broadcast(nOrders))
          .select(
            col("pa").as("part_a"), col("pb").as("part_b"), col("n_ab"),
            (col("n_ab").cast("double") * col("n_orders").cast("double") /
              (col("n_a") * col("n_b")).cast("double")).as("lift"))
          .orderBy(col("lift").desc, col("part_a").asc, col("part_b").asc)
          .limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
             |pf AS (SELECT l_partkey, COUNT(*) AS n_p FROM li GROUP BY 1),
             |pr AS (
             |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
             |SELECT pa AS part_a, pb AS part_b, CAST(n_ab AS BIGINT) AS n_ab,
             |  CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE) / CAST(fa.n_p * fb.n_p AS DOUBLE) AS lift
             |FROM pr, n
             |JOIN pf fa ON fa.l_partkey = pa
             |JOIN pf fb ON fb.l_partkey = pb
             |ORDER BY lift DESC, part_a, part_b LIMIT 20""".stripMargin),
      "co-purchase part pairs by integer-exact lift over the fact table"
    ),

    // ---- exact time-decayed engagement: half-life decay with the decay
    //      factor bucketed to powers of two per week of age, so every
    //      term is cents · 2^(10−k) — an exact BIGINT — and the final
    //      ÷1024 is a dyadic (representation-exact) division. The
    //      portable alternative to pow(0.5, age/halflife), which is
    //      libm-dependent ----
    "q_time_decay_score" -> QueryDef(
      (s, d) =>
        t(s, d, "events")
          .withColumn("k",
            greatest(lit(0), least(lit(10),
              floor(datediff(lit("2024-03-01").cast("date"), to_date(col("ts"))) / 7))).cast("int"))
          .withColumn("w", expr("shiftright(1024, k)"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .groupBy("user_id")
          .agg(sum(col("cents") * col("w")).as("score_scaled"))
          .select(
            col("user_id"),
            col("score_scaled"),
            (col("score_scaled").cast("double") / 1024.0).as("decayed_score")),
      Some("""WITH ev AS (
             |  SELECT user_id,
             |    CAST(round(value * 100) AS BIGINT) AS cents,
             |    (1024 >> GREATEST(0, LEAST(10,
             |      CAST(FLOOR(date_diff('day', CAST(ts AS DATE), DATE '2024-03-01') / 7.0) AS INT)))) AS w
             |  FROM events)
             |SELECT user_id, CAST(SUM(cents * w) AS BIGINT) AS score_scaled,
             |  CAST(SUM(cents * w) AS DOUBLE) / 1024.0 AS decayed_score
             |FROM ev GROUP BY 1""".stripMargin),
      "weekly power-of-two decay: integer-exact half-life scoring"
    ),

    // ---- hourly volume anomaly detection: z-score each (type, hour)
    //      event count against that type's hourly distribution (exact
    //      integer moments, identical IEEE formula both engines) and
    //      flag |z| > 3 — the ops-side monitor a streaming ingest runs
    //      batch-side for backfill audits ----
    "q_event_anomaly" -> QueryDef(
      (s, d) => {
        val hourly = t(s, d, "events")
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val stats = hourly
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("m"),
            sum(col("n").cast("decimal(38,0)")).cast("double").as("sy"),
            sum((col("n") * col("n")).cast("decimal(38,0)")).cast("double").as("syy"))
        // nullif(sd, 0): a zero-variance group (e.g. a type with one hourly
        // bucket) yields NULL z instead of NaN/Inf — identical in both
        // engines regardless of DuckDB's ieee_floating_point_ops setting.
        hourly
          .join(broadcast(stats), "event_type")
          .select(
            col("event_type"), col("h"), col("n"),
            ((col("n").cast("double") - col("sy") / col("m")) /
              nullif(sqrt(col("m") * col("syy") - col("sy") * col("sy")) / col("m"), lit(0.0))).as("z_hour"))
          .withColumn("is_anomaly", abs(col("z_hour")) > 3.0)
      },
      Some("""WITH hourly AS (
             |  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
             |  FROM events GROUP BY 1, 2
             |), st AS (
             |  SELECT event_type, COUNT(*) AS m,
             |    CAST(SUM(CAST(n AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(n * n AS DECIMAL(38,0))) AS DOUBLE) AS syy
             |  FROM hourly GROUP BY 1)
             |SELECT hourly.event_type, hourly.h, CAST(hourly.n AS BIGINT) AS n,
             |  (CAST(hourly.n AS DOUBLE) - st.sy / st.m) /
             |    nullif(sqrt(st.m * st.syy - st.sy * st.sy) / st.m, 0) AS z_hour,
             |  abs((CAST(hourly.n AS DOUBLE) - st.sy / st.m) /
             |    nullif(sqrt(st.m * st.syy - st.sy * st.sy) / st.m, 0)) > 3.0 AS is_anomaly
             |FROM hourly JOIN st USING (event_type)""".stripMargin),
      "per-type hourly volume z-scores with 3-sigma anomaly flags"
    ),

    // ---- sketch aggregate #2: approximate percentile, checked against
    //      its rank-error contract (like q_approx_count_distinct's 3·rsd
    //      bound): the returned value's exact-rank interval must overlap
    //      the target rank ± n/accuracy. Spark emits the measured
    //      verdict, DuckDB emits TRUE from the exact ranks. ----
    "q_approx_percentile" -> QueryDef(
      (s, d) => {
        val li = t(s, d, "lineitem")
        val apx = li
          .groupBy("l_returnflag")
          .agg(
            percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("__apx"),
            count(lit(1)).as("__n"))
        li.join(broadcast(apx), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(
            sum(when(col("l_extendedprice") <= col("__apx"), 1L).otherwise(0L)).as("__le"),
            sum(when(col("l_extendedprice") < col("__apx"), 1L).otherwise(0L)).as("__lt"),
            max(col("__n")).as("__n"))
          .select(
            col("l_returnflag"),
            (col("__le").cast("double") >= lit(0.5) * col("__n").cast("double")
              - col("__n").cast("double") / 1000.0 - 2.0 &&
              (col("__lt") + 1).cast("double") <= lit(0.5) * col("__n").cast("double")
              + col("__n").cast("double") / 1000.0 + 2.0).as("within_bound"))
      },
      Some("""SELECT l_returnflag, TRUE AS within_bound
             |FROM lineitem GROUP BY 1""".stripMargin),
      "approx median checked against its n/accuracy rank-error contract"
    )
  )
}
