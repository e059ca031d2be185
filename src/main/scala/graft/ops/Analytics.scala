package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics operators a user of the reference's domain (social
  * analytics ETL, `/root/reference/data_extract.py:44-92`'s metric queries)
  * would run downstream of the extracted fact table: cohort retention,
  * ordered funnels, Markov transitions, and table profiling.
  *
  * Scale posture: every operator is a fixed, small number of hash
  * aggregates/joins keyed on the user id — the natural partitioning key of
  * an event table — so consecutive stages reuse one exchange instead of
  * re-shuffling, and nothing here is driver-side or O(n²).
  */
object Analytics {

  /** Cohort retention: group users by the day of their first event, then
    * count distinct active users per (cohort day, day offset). One hash
    * aggregate keyed on `userCol` takes each user's cohort day
    * (`min(to_date(ts))`, equal to `to_date(min(ts))` because `to_date`
    * is monotone) and set of active days; the exploded (user, day) rows
    * are distinct, so a plain count per (cohort day, offset) is the
    * distinct-user count. One scan of `events`, no join.
    *
    * Null users are dropped. A null `ts` is an active "day" of its own:
    * the struct wrapper keeps it in the set (`collect_set` skips null
    * elements, not structs holding a null), so it counts under a null
    * offset, and a user whose every `ts` is null lands in (null, null).
    */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame =
    events
      .filter(col(userCol).isNotNull)
      .groupBy(col(userCol))
      .agg(
        min(to_date(col(tsCol))).as("__cohort_date"),
        collect_set(struct(to_date(col(tsCol)).as("day"))).as("__days"))
      .select(col("__cohort_date"), explode(col("__days")).as("__d"))
      .groupBy(
        date_format(col("__cohort_date"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("__d.day"), col("__cohort_date")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))

  /** Strictly-ordered funnel: how many users reached stage i, where a user
    * advances to stage i only via an event of type `stages(i)` STRICTLY
    * after the time they reached stage i-1 (equivalently: t1 = min time of
    * stage-1 events, t2 = min time of stage-2 events after t1, … — the
    * greedy earliest-advance fold over the time-ordered stream, which is
    * what the nested-min SQL formulation computes).
    *
    * ONE shuffle, O(1) state: only stage-typed events shuffle to their
    * user (the IN filter prunes the rest at the scan), the partition is
    * secondary-sorted on (user, ts, id), and a linear scan folds each
    * user's stream to the deepest stage reached — the same bounded-memory
    * shape as the batch sessionizer, so a hot user with millions of
    * events streams through instead of materializing a per-user list.
    * Simultaneous-timestamp events cannot leapfrog (advance needs
    * ts strictly greater than the current stage time). The per-exact-stage
    * counts (k+1 rows) then turn into cumulative reached-counts with a
    * tiny non-equi join — no second pass over the data.
    */
  def funnelStages(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      stages: Seq[String]
  ): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val k = stages.size
    val stageArr = stages.toArray
    val spark0 = events.sparkSession
    import spark0.implicits._
    val perUser = events
      .filter(col(typeCol).isin(stages: _*))
      .select(
        col(userCol).cast("long").as("u"),
        unix_micros(col(tsCol)).as("ts_us"),
        col(idCol).cast("long").as("id"),
        col(typeCol).as("et"))
      .repartition(col("u"))
      .sortWithinPartitions("u", "ts_us", "id")
      .as[(Long, Long, Long, String)]
      .mapPartitions { it =>
        var cur = 0L
        var has = false
        var stage = 0
        var stageTs = Long.MinValue
        val main = it.flatMap { case (u, ts, _, et) =>
          var out: Option[(Long, Int)] = None
          if (!has) { has = true; cur = u }
          else if (u != cur) {
            out = Some((cur, stage)); cur = u; stage = 0; stageTs = Long.MinValue
          }
          if (stage < k && et == stageArr(stage) && ts > stageTs) {
            stage += 1; stageTs = ts
          }
          out
        }
        // ++ is lazy: the trailing emitter reads the fold state only after
        // the partition scan is exhausted
        main ++ new Iterator[(Long, Int)] {
          private var done = false
          def hasNext: Boolean = has && !done
          def next(): (Long, Int) = { done = true; (cur, stage) }
        }
      }
      .toDF("user", "reached")
    val exact = perUser.groupBy("reached").agg(count(lit(1)).as("cnt"))
    val stageDf = stages.zipWithIndex
      .map { case (name, i) => (i + 1L, name) }
      .toDF("stage", "stage_name")
    // k rows × (k+1) rows — negligible at any scale; left join so stages
    // nobody reached still report n_users = 0 (matching COUNT(*) = 0 on
    // an empty per-stage set in the SQL formulation)
    stageDf
      .join(exact, col("reached") >= col("stage"), "left")
      .groupBy("stage", "stage_name")
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_users"))
  }

  /** Event-type transition counts (the first-order Markov matrix of the
    * event stream): per user, order events by (time, id) and pair each
    * event with its successor. One window over the user partition — the
    * same sort order a sessionizer needs, so at scale the two share a
    * shuffle — then a hash aggregate on the (from, to) pair space, which is
    * |types|² regardless of corpus size.
    */
  def transitionCounts(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String
  ): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events
      .select(col(userCol), col(typeCol).as("from_type"), lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Robust outlier detection via the median absolute deviation: per
    * group, flag rows whose |v − median| exceeds k × MAD. Both medians are
    * exact discrete order statistics over integer values (the value at
    * rank ceil(n/2)), so the result is deterministic — no FP quantile
    * interpolation. Both medians are computed over the VALUE HISTOGRAM,
    * not the raw rows: one hash aggregate to (group, v, count), a
    * cumulative-count window over each group's distinct values for the
    * median, and the deviation histogram derived from the same buckets
    * (|v − med| merges the distribution's two sides), so the MAD needs no
    * second pass over the data. At scale the windowed state is the
    * bounded integer value domain, not the row count — a row-rank window
    * would sort each whole group through one task.
    *
    * Null values are excluded up front: they are rankless (no place in an
    * order statistic) and a null histogram bucket would otherwise sort
    * nulls-first into every cumulative count, silently shifting the
    * median below the true rank-ceil(n/2) value.
    */
  def madOutliers(
      df: DataFrame,
      groupCol: String,
      value: Column,
      id: Column,
      k: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val base = df.select(col(groupCol), id.as("id"), value.cast("long").as("v"))
      .filter(col("v").isNotNull)
    // exact discrete median from a (group, value, count) histogram: the
    // smallest value whose cumulative count reaches ceil(n/2) — the value
    // at rank ceil(n/2) of the sorted rows, without sorting rows
    def histMedian(hist: DataFrame, target: String, out: String): DataFrame = {
      val wcum = Window.partitionBy(groupCol).orderBy(col(target))
      val wall = Window.partitionBy(groupCol)
      hist
        .withColumn("__cum", sum(col("__c")).over(wcum))
        .withColumn("__n", sum(col("__c")).over(wall))
        .filter(col("__cum") >= greatest(lit(1L), ceil(lit(0.5) * col("__n"))))
        .groupBy(groupCol)
        .agg(min(col(target)).as(out))
    }
    // ONE row-level aggregation: everything after runs on the value
    // histogram, whose size is the integer value domain per group, not the
    // row count. The deviation histogram in particular is a FOLD OVER
    // BUCKETS (|v − med| merges the two sides of the distribution), so the
    // MAD costs no second pass over the data. The corpus is scanned
    // exactly twice: once into the histogram, once for the final filter
    // against the broadcast per-group (med, mad) row.
    val hist = base.groupBy(col(groupCol), col("v")).agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val med = histMedian(hist, "v", "med")
    val devHist = hist
      .join(broadcast(med), Seq(groupCol))
      .groupBy(col(groupCol), abs(col("v") - col("med")).as("dev"))
      .agg(sum(col("__c")).as("__c"))
    val stats = histMedian(devHist, "dev", "mad").join(med, Seq(groupCol))
    val out = base
      .join(broadcast(stats), Seq(groupCol))
      .withColumn("dev", abs(col("v") - col("med")))
      .filter(col("dev") > lit(k.toLong) * col("mad"))
      .select(col(groupCol), col("id"), col("v"), col("med"), col("mad"))
    Caching.materializeAndRelease(out, hist)
  }

  /** Last-touch attribution: for every conversion event, the most recent
    * PRECEDING event of an attributable touch type (same user, strictly
    * earlier in the (ts, id) total order; null when the user converted
    * untouched). One window pass — the `last(..., ignoreNulls)` pair runs
    * over a single (user, time) sort, the same shuffle a sessionizer
    * needs — then a post-window filter to conversions. The filter must
    * come AFTER the window: touches are window input, not output rows.
    */
  def lastTouch(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      touchTypes: Seq[String],
      convType: String
  ): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      s"touch types must be non-empty and exclude the conversion type")
    val w = Window
      .partitionBy(col(userCol))
      // ordering by the timestamp itself ≡ ordering by its µs value
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = col(typeCol).isin(touchTypes: _*)
    events
      // both window columns in ONE select: an intermediate projection
      // between two withColumn calls would block CollapseWindow and plan
      // a second (redundant) sort over the same (user, time) order
      .select(
        col(userCol), col(idCol), col(typeCol),
        last(when(touch, col(idCol)), ignoreNulls = true).over(w).as("touch_id"),
        last(when(touch, col(typeCol)), ignoreNulls = true).over(w).as("touch_type"))
      .filter(col(typeCol) === convType)
      .select(col(userCol), col(idCol), col("touch_id"), col("touch_type"))
  }

  /** Data-quality profile: per column, null count and distinct count, in
    * long format. ONE scan: all per-column aggregates run in a single
    * hash-aggregate (count-distinct over k columns costs one k-way expand —
    * rows × k, the standard profiling trade — not k scans), then the single
    * result row is unpivoted driver-free via `stack`.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(col(c))).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols
      .map(c => s"'$c', `__nn_$c`, `__nd_$c`")
      .mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stackArgs) as (column_name, n_nulls, n_distinct)")
  }
}
