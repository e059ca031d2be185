package graft

import graft.ops.Analytics
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("cohortRetention groups users by first-event day and counts per offset") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")), // u1 cohort day 1, active d0, d2
      (1L, ts("2024-01-03 09:00:00")),
      (2L, ts("2024-01-01 23:00:00")), // u2 cohort day 1, active d0
      (3L, ts("2024-01-02 01:00:00")), // u3 cohort day 2, active d0, d1
      (3L, ts("2024-01-03 01:00:00"))
    ).toDF("user_id", "ts")
    val out = Analytics.cohortRetention(events, "user_id", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("2024-01-01", 0L) -> 2L,
      ("2024-01-01", 2L) -> 1L,
      ("2024-01-02", 0L) -> 1L,
      ("2024-01-02", 1L) -> 1L))
  }

  test("cohortRetention equals the two-scan join form on null users and null timestamps") {
    // the two-scan form cohortRetention replaced, kept here as the
    // reference: per-user first day, joined back to every event, then a
    // distinct-user count per (cohort day, offset)
    def reference(events: org.apache.spark.sql.DataFrame) = {
      val firsts = events
        .groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("__cohort_date"))
      events
        .select(col("user_id"), to_date(col("ts")).as("__day"))
        .join(firsts, "user_id")
        .groupBy(
          date_format(col("__cohort_date"), "yyyy-MM-dd").as("cohort_day"),
          datediff(col("__day"), col("__cohort_date")).cast("long").as("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)), Option(r.get(1)), r.getLong(2))).toSet
    val events = Seq[(Option[Long], Option[Timestamp])](
      (Some(1L), Some(ts("2024-01-01 10:00:00"))),
      (Some(1L), Some(ts("2024-01-01 11:00:00"))), // same day twice: one user
      (Some(1L), Some(ts("2024-01-03 09:00:00"))),
      (Some(1L), None),                            // null ts: a null offset
      (Some(2L), Some(ts("2024-01-01 23:00:00"))),
      (Some(2L), None),
      (Some(3L), None),                            // every ts null: (null, null)
      (Some(3L), None),
      (Some(4L), None),
      (None, Some(ts("2024-01-01 12:00:00"))),     // null user: dropped
      (None, Some(ts("2024-01-02 12:00:00"))),
      (None, None)
    ).toDF("user_id", "ts")
    val out = rows(Analytics.cohortRetention(events, "user_id", "ts"))
    assert(out == rows(reference(events)))
    assert(out == Set(
      (Some("2024-01-01"), Some(0L), 2L),
      (Some("2024-01-01"), Some(2L), 1L),
      (Some("2024-01-01"), None, 2L),
      (None, None, 2L)))
  }

  test("cohortRetention scans events once") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val df = SparkEntry.queries("q_cohort_retention")(spark, sf("sf0.001"))
    val scans = df.queryExecution.optimizedPlan.collect { case r: LogicalRelation => r }
    assert(scans.size == 1, df.queryExecution.optimizedPlan.treeString)
  }

  test("funnelStages: strict ordering, same-timestamp events cannot leapfrog") {
    val events = Seq(
      // u1 completes the funnel in order
      (1L, 10L, ts("2024-01-01 10:00:00"), "view"),
      (1L, 11L, ts("2024-01-01 10:05:00"), "click"),
      (1L, 12L, ts("2024-01-01 10:10:00"), "purchase"),
      // u2: click BEFORE view — click must not count; purchase after view
      // but with no qualifying click in between → stops at stage 1
      (2L, 20L, ts("2024-01-01 09:00:00"), "click"),
      (2L, 21L, ts("2024-01-01 09:30:00"), "view"),
      (2L, 22L, ts("2024-01-01 09:45:00"), "purchase"),
      // u3: click at the EXACT view timestamp — strict > rejects it
      (3L, 30L, ts("2024-01-01 08:00:00"), "view"),
      (3L, 31L, ts("2024-01-01 08:00:00"), "click"),
      // u4: never views
      (4L, 40L, ts("2024-01-01 07:00:00"), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Analytics
      .funnelStages(events, "user_id", "ts", "event_id", "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> (("view", 3L)),      // u1, u2, u3
      2L -> (("click", 1L)),     // u1 only
      3L -> (("purchase", 1L))))  // u1 only
  }

  test("funnelStages emits a zero row for unreached stages") {
    val events = Seq((1L, 1L, ts("2024-01-01 10:00:00"), "view"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = Analytics
      .funnelStages(events, "user_id", "ts", "event_id", "event_type", Seq("view", "click"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 1L, 2L -> 0L))
  }

  test("transitionCounts pairs consecutive events per user with id tie-break") {
    val events = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, 2L, ts("2024-01-01 10:01:00"), "b"),
      (1L, 3L, ts("2024-01-01 10:02:00"), "a"),
      // u2: two events at the same ts — order falls back to event_id
      (2L, 4L, ts("2024-01-01 10:00:00"), "b"),
      (2L, 5L, ts("2024-01-01 10:00:00"), "a")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Analytics.transitionCounts(events, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("a", "b") -> 1L, ("b", "a") -> 2L))
  }

  test("profile reports per-column null and distinct counts from one scan") {
    val df = Seq(
      (Some(1), Some("x")),
      (Some(1), None),
      (None, Some("y"))
    ).toDF("a", "b")
    val out = Analytics.profile(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map("a" -> ((1L, 1L)), "b" -> ((1L, 2L))))
  }

  test("madOutliers flags |v-med| > k*MAD with exact discrete medians") {
    val df = Seq(
      ("g", 1L, 10L), ("g", 2L, 10L), ("g", 3L, 10L), ("g", 4L, 10L), ("g", 5L, 100L),
      ("h", 10L, 1L), ("h", 11L, 2L), ("h", 12L, 3L), ("h", 13L, 4L),
      ("h", 14L, 5L), ("h", 15L, 6L), ("h", 16L, 7L)
    ).toDF("grp", "event_id", "v")
    val out = Analytics.madOutliers(df, "grp", col("v"), col("event_id"), k = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // g: median = 10 (rank 3 of 5), devs {0,0,0,0,90} → MAD = 0, so only
    // the 100 row (dev 90 > 3·0) flags; h: median = 4, MAD = 2, and the
    // max dev 3 ≤ 6 — a symmetric spread produces no outliers
    assert(out == Set(("g", 5L, 100L, 10L, 0L)))
  }

  test("madOutliers ignores null values — they must not shift the median rank") {
    val df = Seq[(String, Long, Option[Long])](
      ("g", 1L, None), ("g", 2L, None), // nulls-first buckets would fake med=10
      ("g", 3L, Some(10L)), ("g", 4L, Some(20L)), ("g", 5L, Some(30L)),
      ("g", 6L, Some(1000L))
    ).toDF("grp", "event_id", "v")
    val out = Analytics.madOutliers(df, "grp", col("v"), col("event_id"), k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    // non-null values {10,20,30,1000}: median = value at rank 2 = 20,
    // devs {10,0,10,980} → MAD = value at rank 2 of {0,10,10,980} = 10;
    // only 980 > 30 flags. With the null buckets counted, the median
    // would have been 10 and MAD 10 — same flag set but wrong statistics
    assert(out == Set((6L, 20L, 10L)))
  }

  test("lastTouch credits the most recent strictly-preceding touch, null when untouched") {
    val events = Seq(
      (1L, 10L, ts("2024-01-01 00:00:01"), "click"),
      (1L, 11L, ts("2024-01-01 00:00:02"), "view"),
      (1L, 12L, ts("2024-01-01 00:00:03"), "purchase"), // → view 11
      (1L, 13L, ts("2024-01-01 00:00:04"), "purchase"), // later buy: same touch
      (2L, 20L, ts("2024-01-01 00:00:01"), "purchase"), // untouched → null
      (3L, 30L, ts("2024-01-01 00:00:05"), "click"),    // equal ts: smaller id
      (3L, 31L, ts("2024-01-01 00:00:05"), "purchase")  //   precedes → click 30
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Analytics
      .lastTouch(events, "user_id", "ts", "event_id", "event_type",
        Seq("click", "view"), "purchase")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
      .toSet
    assert(out == Set(
      (1L, 12L, Some(11L), Some("view")),
      (1L, 13L, Some(11L), Some("view")),
      (2L, 20L, None, None),
      (3L, 31L, Some(30L), Some("click"))))
  }

  test("histogram discrete quantile equals sort-rank quantile (seeded, heavy ties)") {
    // q_quantile_disc (r14) computes the rank-r order statistic as the
    // smallest value whose cumulative count reaches r, from the (group,
    // value) histogram, instead of a per-group row_number sort. Pin the
    // identity where it could break: heavy ties, rank targets landing
    // exactly on a tie run's boundary, groups of size 1, odd/even sizes.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    val rows = (1 to 4000).map { i =>
      val g = s"g${rnd.nextInt(7)}"
      // small value domain → long tie runs
      (g, rnd.nextInt(9).toDouble, i.toLong)
    } :+ (("solo", 3.0, 99991L))
    val df = rows.toDF("g", "v", "id")

    def histForm(q: Double) = {
      val counts = df.groupBy("g", "v").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("g").orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy("g")
      counts
        .withColumn("cum", sum(col("c")).over(wc))
        .withColumn("n", sum(col("c")).over(wn))
        .groupBy("g")
        .agg(min(when(col("cum") >= greatest(lit(1L), ceil(lit(q) * col("n"))),
          col("v"))).as("qv"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    def sortForm(q: Double) = {
      val w = Window.partitionBy("g").orderBy(col("v").asc, col("id").asc)
      val wn = Window.partitionBy("g")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("g")
        .agg(max(when(col("rn") === greatest(lit(1L), ceil(lit(q) * col("n"))),
          col("v"))).as("qv"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    for (q <- Seq(0.1, 0.5, 0.9, 0.999))
      assert(histForm(q) == sortForm(q), s"quantile $q diverged")
  }

  test("two-phase selection equals the window sort form for bracketing order stats") {
    // ops/Quantiles.bracketingStats replaces the |groups|-partition
    // window sort with bucketed selection. Pin value-for-value equality
    // against the sort form where selection could break: rank targets on
    // bucket boundaries, duplicated values spanning buckets, singleton
    // groups, integral k (lo == hi), and a bucket width so coarse that
    // several targets land in the same bucket.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (1 to 5000).map { i =>
      (s"g${rnd.nextInt(5)}", rnd.nextInt(200).toDouble / 2.0, i.toLong)
    } ++ Seq(("solo", 7.5, 99991L), ("pair", 1.0, 99992L), ("pair", 2.0, 99993L))
    val df = rows.toDF("g", "v", "id")
    val ps = Seq(0.25, 0.5, 0.9, 0.999)

    def sortForm: Set[(String, Double, Double, Double)] = {
      val w = Window.partitionBy("g").orderBy(col("v").asc, col("id").asc)
      val wn = Window.partitionBy("g")
      val ranked = df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
      ps.flatMap { p =>
        ranked
          .withColumn("k", (col("n") - 1) * lit(p))
          .groupBy("g")
          .agg(
            min(when(col("rn") === floor(col("k")) + 1, col("v"))).as("lo"),
            min(when(col("rn") === ceil(col("k")) + 1, col("v"))).as("hi"))
          .collect().map(r => (r.getString(0), p, r.getDouble(1), r.getDouble(2)))
      }.toSet
    }
    for (width <- Seq(0.7, 5.0, 1000.0)) {
      val sel = graft.ops.Quantiles
        .bracketingStats(df, "g", "v", "id", ps, bucketWidth = width)
        .select("g", "p", "lo", "hi")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toSet
      assert(sel == sortForm, s"bucketWidth=$width: selection diverged from sort form")
    }
  }
}
