package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{SharedFrames, Tables}

/** User-behavior analytics over the event stream: conversion funnel and
  * retention cohorts — the two aggregate shapes every product-analytics
  * stack derives from the same (user, type, time) event log the
  * reference's pipeline produces (reference: kafka_producer emits
  * per-post events; dashboard/app.py aggregates per request).
  *
  * Timestamps compare at MICROSECOND granularity on both engines: the
  * parquet column is TIMESTAMP(NANOS) (Spark reads it as an epoch-nanos
  * long, DuckDB truncates to µs on read), so `ts div 1000` here and
  * `epoch_ns(ts) // 1000` in the oracle floor to the same µs value and
  * no ordering can flip on sub-µs digits.
  */
object BehaviorOps {

  /** Session-cached canonical event-sequence frame: the full event
    * projection (event_id, user_id, event_type, ts_ns, ts_us, value),
    * hash-partitioned on user_id and sorted (user_id, ts_us, event_id)
    * within partitions, materialized once per session. The checkpoint
    * keeps the partitioning AND the sort order visible (see
    * [[SharedFrames.partitionedFrame]]), so the ~20 queries that run
    * user-keyed windows or per-user aggregates over the event log do so
    * with NO exchange — and those ordering by (ts_us, event_id) skip
    * the sort too. This is the 100-TB shape: one clustered, time-sorted
    * event table maintained once, every sequence analysis reading it
    * co-partitioned instead of re-shuffling the raw log.
    */
  private[graft] def eventSeq(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.partitionedFrame(spark, dir, "eventSeq") {
      Tables.fanOut(Tables.events(spark, dir))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").as("ts_ns"), expr("ts div 1000").as("ts_us"), col("value"))
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
    }

  private def ev(spark: SparkSession, dir: String): DataFrame =
    eventSeq(spark, dir).select(col("user_id"), col("event_type"), col("ts_us"))

  /** Shared per-(user, day, event_type) activity cube — the session's
    * materialized daily-activity rollup. Eight registry queries
    * (rfm, cohort LTV, CUPED, A/B z, power/MDE, lift deciles, growth
    * accounting, DAU/WAU, retention) all start by reducing the raw
    * event log to a per-user or per-(user, day) frame; each reduction
    * is a coarsening of THIS cube, so the event scan + first shuffle
    * are paid once per session instead of once per query. Money enters
    * as exact per-row integer CENTS before the first sum (the repo
    * money invariant — long addition is order-independent, so any
    * further regrouping of cube cells is hash-stable). At 100 TB this
    * is the canonical pre-aggregated activity table a warehouse would
    * maintain anyway: ~users × active-days × 4 event types, orders of
    * magnitude smaller than the event log.
    */
  private[graft] def userDayCube(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "userDayCube") {
      // coarsens the already-partitioned [[eventSeq]] — user_id is a
      // subset of the grouping key, so the BUILD aggregate is
      // exchange-free. The cube itself is cached WITHOUT pinned
      // partitioning on purpose: it is orders of magnitude smaller than
      // the log, so downstream exchanges over it are cheap and AQE's
      // runtime coalescing beats a fixed 32-way layout (measured: the
      // ntile consumers pay ~2.5 s extra when the pinned partitioning
      // forces every range-shuffle sampling pass over 32 tiny
      // partitions)
      eventSeq(spark, dir)
        .select(col("user_id"),
          expr("CAST(ts_ns div 86400000000000 AS BIGINT)").as("day"),
          col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents_row"))
        .groupBy(col("user_id"), col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents_row")).as("cents"))
    }

  /** Distinct (user, day) activity frame — the cube coarsened once
    * more, shared by the active-user family (DAU/WAU, growth
    * accounting, retention cohorts). */
  private[graft] def userDays(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "userDays") {
      userDayCube(spark, dir).select(col("user_id"), col("day")).distinct()
    }

  /** Per-(event_type, day) census — the cube coarsened to the daily
    * time-series grain shared by the trend/seasonality family
    * (Theil–Sen, ACF, Mann–Kendall, OLS forecast, calendars, bands…).
    * Exact counts and exact integer cents; at 100 TB this is the daily
    * rollup mart those queries would read anyway. */
  private[graft] def typeDaily(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "typeDaily") {
      userDayCube(spark, dir)
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
    }

  /** Conversion funnel view → click → purchase, strictly ordered in
    * time per user: stage N counts users whose earliest stage-N event
    * happens AFTER their earliest qualifying stage-(N-1) event. Each
    * stage is one hash aggregate keyed on user plus one equi-join on
    * user against the (already user-unique) previous stage — at scale
    * every shuffle key is user_id and every joined side is one row per
    * surviving user, so the funnel narrows the data monotonically.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val firstView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_view"))
    val firstClick = e.filter(col("event_type") === "click")
      .join(firstView, Seq("user_id"))
      .filter(col("ts_us") > col("first_view"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_click"))
    val firstPurchase = e.filter(col("event_type") === "purchase")
      .join(firstClick, Seq("user_id"))
      .filter(col("ts_us") > col("first_click"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_purchase"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    stage(firstView, "1_view")
      .unionByName(stage(firstClick, "2_click"))
      .unionByName(stage(firstPurchase, "3_purchase"))
      .orderBy(col("stage"))
  }

  /** Click-through rate by hour of day: one conditional aggregate over
    * the event log, keyed by a 24-value derived column — the canonical
    * time-dimension rollup. The ratio divides the two conditional counts
    * AFTER aggregation (exact int64s → one double division per output
    * row, identical cross-engine).
    */
  def ctrByHour(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .withColumn("hour", expr("(ts_us div 3600000000) % 24"))
      .groupBy(col("hour"))
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
      )
      .withColumn("ctr", round(col("clicks") /
        when(col("views") === 0, null).otherwise(col("views")), 6))
      .orderBy(col("hour"))

  /** Retention cohorts: users bucketed by their first-active day, then
    * active users per (cohort day, day offset). The raw event stream is
    * deduped to user-days first; the cohort day is a min() window over
    * user_id on that deduped frame (no self-join), and because (user,
    * day) is distinct — so each user hits a (cohort, offset) cell at
    * most once — the final cell count is a plain count(*), not a
    * countDistinct: no distinct-expand shuffle. Three bounded-key
    * exchanges total at any scale.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val days = userDays(spark, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    days
      .withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Rolling 1-hour per-user features over EVENT TIME — a RANGE window
    * (`RANGE BETWEEN 3600000000 µs PRECEDING AND CURRENT ROW`), not a
    * ROWS window: the frame is "everything in the last hour" regardless
    * of how many events landed there, which is what a time-decayed
    * feature (rate limiting, burst detection, short-horizon activity
    * features for a ranking model) actually means. One shuffle on
    * user_id; within a partition the running frame advances two pointers
    * over the time-sorted events, so cost is O(events), not
    * O(events × frame size). The sum rounds at 2 dp: inputs carry 2
    * decimals, so the true decimal sum is never at a round-half boundary
    * and a sub-ulp cross-engine difference cannot flip the rounding.
    */
  def rollingHour(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, org.apache.spark.sql.expressions.Window.currentRow)
    eventSeq(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("value_1h", round(sum(col("value")).over(w), 2))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("n_1h"), col("value_1h"))
      .orderBy(col("event_id"))
  }

  /** SCD2-style validity intervals from the event log: collapse each
    * user's time-ordered event stream into runs of the same event_type,
    * each emitted as (valid_from, valid_to) with valid_to = the next
    * run's start (NULL while current) — the slowly-changing-dimension
    * build every warehouse derives from a change stream. Gaps-and-islands
    * by the classic two-window formulation: a lag() change flag, a
    * running sum to number the runs, one aggregate per run, and a lead()
    * for the closing timestamp. Every window and the aggregate shuffle
    * on user_id alone, so the whole build is two exchanges at any scale;
    * ordering ties break on event_id (unique), which keeps run
    * numbering deterministic on both engines.
    */
  def statusIntervals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val runs = Window.partitionBy(col("user_id")).orderBy(col("seq"))
    eventSeq(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byTime))
      .withColumn("chg",
        when(col("prev_type").isNull
          || col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("seq", sum(col("chg")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("seq"), col("event_type"))
      .agg(min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(runs))
      .select(col("user_id"), col("seq"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"))
      .orderBy(col("user_id"), col("seq"))
  }

  /** Point-in-time (temporal) join — the feature-store correctness
    * primitive: each purchase joins the status interval that was valid
    * AT ITS EVENT TIME, never a later one (the leakage a naive
    * latest-state join commits). The dimension is the SCD2 interval
    * table built from the signup/error change stream (same
    * gaps-and-islands chain as [[statusIntervals]]); the probe side
    * joins it with an EQUI key on user_id plus the interval-containment
    * residual — per-user interval counts bound the fan-out, so no
    * binning or nested loop is ever needed. Purchases before any status
    * land in an explicit 'none' bucket.
    */
  def temporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val runs = Window.partitionBy(col("user_id")).orderBy(col("s"))
    // the shared [[eventSeq]] frame feeds the dimension build AND the
    // probe side (already materialized + user-partitioned)
    val e = eventSeq(spark, dir)
    val iv = e.filter(col("event_type").isin("signup", "error"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTime).isNull ||
          lag(col("event_type"), 1).over(byTime) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("s", sum(col("chg")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("s"), col("event_type").as("status"))
      .agg(min(col("ts_us")).as("from_us"))
      .withColumn("to_us", lead(col("from_us"), 1).over(runs))
      // dimension columns renamed: probe and dimension both descend from
      // the one checkpointed event frame, and same-name/-id columns
      // across that self-join trip the ambiguity analyzer
      .select(col("user_id").as("iv_user"), col("status"),
        col("from_us"), col("to_us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("value"))
    p.join(iv,
        col("user_id") === col("iv_user") && col("ts_us") >= col("from_us") &&
          (col("to_us").isNull || col("ts_us") < col("to_us")),
        "left_outer")
      .groupBy(coalesce(col("status"), lit("none")).as("status"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(round(col("value") * 100, 0).cast("long")).as("spend_cents"))
      .orderBy(col("status"))
  }

  /** MERGE-INTO semantics as a batch plan — the upsert a CDC consumer
    * applies: the base snapshot (latest state per user before the
    * cutoff) merged with the delta (latest change per user after it),
    * classified per key as insert (delta only), update (both sides) or
    * retain (base only), with per-action row counts and a value
    * checksum over the post-merge table. Both "latest" reductions are
    * WindowGroupLimit N=1 keyed on user_id (the [[statusIntervals]] /
    * q_latest_per_key shape), the merge itself is ONE full outer
    * equi-join on user_id — at scale both sides arrive hash-partitioned
    * on the join key, so the merge is a single co-partitioned exchange,
    * exactly how a MERGE INTO plans on any warehouse engine. The
    * checksum sums centi-value BIGINTs (the q_argmax scaling trick) so
    * it is order-independent and exact cross-engine. The merged state
    * is each user's last PURCHASE value: base = state as of
    * 2024-01-05T00:00:00Z, delta = the [Jan-05, Jan-09) CDC window —
    * a boundary early enough that all three actions occur (users whose
    * first purchase lands in the window → insert).
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cutoffUs = 1704412800000000L // 2024-01-05T00:00:00Z in epoch-µs
    val deltaEndUs = 1704758400000000L // 2024-01-09T00:00:00Z
    val byRecency = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    def latest(df: DataFrame, valueAs: String): DataFrame = df
      .withColumn("rn", row_number().over(byRecency))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("value").as(valueAs))
    val events = eventSeq(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"), col("ts_us"))
    val base = latest(events.filter(col("ts_us") < cutoffUs), "base_value")
    val delta = latest(events.filter(
      col("ts_us") >= cutoffUs && col("ts_us") < deltaEndUs), "delta_value")
    base.join(delta, Seq("user_id"), "full_outer")
      .withColumn("action",
        when(col("base_value").isNull, "insert")
          .when(col("delta_value").isNull, "retain")
          .otherwise("update"))
      .withColumn("final_cents",
        round(coalesce(col("delta_value"), col("base_value")) * 100, 0)
          .cast("long"))
      .groupBy(col("action"))
      .agg(count(lit(1)).as("n_users"), sum(col("final_cents")).as("sum_cents"))
      .orderBy(col("action"))
  }

  /** Experimentation readout: the two-proportion z-test between two
    * content-addressed experiment arms (md5 of user_id, A = first hex
    * digit ≤ '7') — the statistic an A/B platform computes per metric
    * per experiment. The binary metric is "purchase-heavy": a user
    * whose purchases exceed 1/5 of their events, decided by exact
    * integer cross-multiplication (5·purchases > events) so it is
    * scale-invariant and non-degenerate at any SF (plain "ever
    * purchased" saturates to 100% on this event log — a zero pooled
    * variance and a divide-by-zero z). One aggregate keyed on user
    * collapses the event log to the flag, one global conditional
    * aggregate yields the four exact BIGINT cells, and the z-score is
    * scalar algebra on those cells (pooled variance, identical
    * expression trees on both engines, significance read off the
    * 6-dp-ROUNDED z so a boundary value cannot flip cross-engine).
    * At 100 TB both aggregates are partial+final hash aggs keyed on
    * user_id then a single row — no shuffle wider than the user set.
    */
  /** AUC of "click count predicts heavy purchaser" via the rank-sum
    * (Mann–Whitney) identity, computed on the SCORE HISTOGRAM rather
    * than per-row ranks: users reduce to one (score, label) row, scores
    * reduce to (score, n, n_pos) cells, and the tie-corrected average
    * rank per cell is cum_before + (n+1)/2. The only ordered pass runs
    * over the distinct-score table — thousands of cells at 100 TB, not
    * billions of rows — which is how AUC is actually evaluated at scale
    * (a per-row global sort would be the bottleneck; the histogram form
    * makes the sort free). Every rank term is an exact multiple of 0.5
    * far below 2^52, so the double sums are exact and the final AUC is
    * one deterministic division. The label is [[abTestZ]]'s `converted`
    * (purchase-heavy user) — plain "ever purchased" saturates to
    * all-positive on this corpus, which would leave n_neg = 0 and the
    * AUC undefined.
    */
  def aucClicksToPurchase(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = ev(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("score"),
        when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) * 5 >
          count(lit(1)), 1L).otherwise(0L).as("pos"),
      )
    val perScore = perUser
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    // global window over the tiny per-score histogram (score domain ≪ users)
    val before = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perScore.withColumn("cum_before",
      coalesce(sum(col("n")).over(before), lit(0L)))
    val cells = ranked.agg(
      sum(col("n_pos") * (col("cum_before") + (col("n") + 1) / lit(2.0))).as("rank_pos"),
      sum(col("n_pos")).as("n_pos"),
      sum(col("n") - col("n_pos")).as("n_neg"),
    )
    cells.select(
      col("n_pos"), col("n_neg"),
      round((col("rank_pos") - col("n_pos") * (col("n_pos") + 1) / lit(2.0)) /
        (col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"),
    )
  }

  /** Time-decayed daily event counts: each day's count contributes to
    * the next 7 days with weight 2^(6-age) — an exponentially decayed
    * "recent volume" signal with EXACT integer arithmetic (weights are
    * powers of two, no float pow whose libm could differ cross-engine).
    * The decay is an Expand: each (type, day, n) cell emits 7 (type,
    * day+age) contributions, then one hash aggregate re-groups — the
    * same map-side fan-out shape as skip-gram windows, shuffling day
    * CELLS (types × days × 7), never events. Target days are restricted
    * to days that actually occur so sparse calendars don't invent rows.
    */
  def decayedDailyCounts(spark: SparkSession, dir: String): DataFrame = {
    // daily counts come from the shared [[typeDaily]] census: sum of
    // per-cell counts == per-day event count, exactly
    val daily = typeDaily(spark, dir).select(col("event_type"), col("day"), col("n"))
    val contrib = daily
      .select(col("event_type"), col("day"), col("n"),
        explode(sequence(lit(0), lit(6))).as("age"))
      // SQL shiftleft accepts a column shift amount (the Scala wrapper
      // only takes a literal); 1L << (6-age) keeps the weight integral
      .select(col("event_type"), (col("day") + col("age")).as("day"),
        expr("n * shiftleft(CAST(1 AS BIGINT), CAST(6 - age AS INT))").as("w"))
    val decayed = contrib
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("w")).as("decayed"))
    daily.select(col("event_type"), col("day"), col("n"))
      .join(decayed, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("n"), col("decayed"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Seasonal-naive anomaly detection on daily volume: each (type, day)
    * count is z-scored against the SAME-WEEKDAY population (mean and
    * population stddev over all days with that weekday), so weekly
    * seasonality never trips the alarm the way a global mean would.
    * Two hash aggregates (daily cells, then 7 weekday baselines per
    * type) and one broadcast join back — the baseline table is types×7
    * rows no matter the data. Moments come from exact integer sums
    * (Σx, Σx², n), one deterministic float expression per row at the
    * end; days with a degenerate (zero-variance) weekday population are
    * excluded rather than scored against a zero sigma. Every day is
    * emitted with its score (a population z over nd same-weekday days
    * is bounded by √(nd−1), so a fixed cliff could legitimately select
    * nothing); the anomaly FLAG uses 1.5 sigmas.
    */
  def weekdayAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = typeDaily(spark, dir).select(col("event_type"), col("day"), col("n"))
      .withColumn("dow", col("day") % 7)
    val base = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("sx"),
        sum(col("n") * col("n")).as("sxx"))
    val mean = col("sx").cast("double") / col("nd")
    val variance = col("sxx").cast("double") / col("nd") - mean * mean
    val z = (col("n") - mean) / sqrt(variance)
    daily.join(Tables.maybeBroadcast(base), Seq("event_type", "dow"))
      .filter(col("sxx") * col("nd") =!= col("sx") * col("sx")) // var > 0, in exact ints
      .withColumn("z", round(z, 4))
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        round(mean, 4).as("dow_mean"), col("z"),
        (abs(col("z")) >= 1.5).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Weekday seasonal-index table — the multiplicative companion of
    * [[weekdayAnomaly]]'s z-scores: per (type, weekday), the ratio of
    * that weekday's average daily volume to the type's overall average
    * daily volume. Index 1.3 on dow 5 reads "Saturdays run 30% hot";
    * dividing a day's count by its index IS the deseasonalization step
    * a forecaster applies first. Day denominators come from the global
    * observed-day spine (a type silent on a day correctly contributes
    * zero volume over a counted day). All masses exact BIGINT; the
    * index is ONE division of cross-multiplied integers —
    * ev_dow·days_all / (days_dow·ev_all); the total-day scalar is a
    * bounded driver literal (the corpus-scalar inlining pattern — a
    * 1-row broadcast would plan the registry-banned nested loop).
    */
  def seasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    val daily = typeDaily(spark, dir).select(col("event_type"), col("day"), col("n"))
      .withColumn("dow", col("day") % 7)
    val spine = daily.select(col("day"), col("dow")).distinct()
      .groupBy(col("dow")).agg(count(lit(1)).as("days_dow"))
    val daysAll = spine.agg(sum(col("days_dow"))).head().getLong(0)
    val byType = daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("ev_all"))
    daily.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).as("ev_dow"))
      .join(Tables.maybeBroadcast(spine), Seq("dow"))
      .join(Tables.maybeBroadcast(byType), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("days_dow"), col("ev_dow"),
        round((col("ev_dow") * lit(daysAll)) /
          (col("days_dow") * col("ev_all")).cast("double"), 6).as("seasonal_index"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Gini coefficient of per-user activity, one per event type — the
    * inequality audit behind "is this stream a few power users or a
    * broad base". Computed on the ACTIVITY HISTOGRAM (count value →
    * number of users), the same collapse that makes [[aucClicksToPurchase]]
    * scale: the rank-weighted sum Σ i·x_i over a tie group of m users
    * with count c is c·(cum·m + m(m+1)/2), so the only ordered pass
    * runs over distinct activity levels, and every term stays an exact
    * integer until the final G = 2Σi·x_i/(n·Σx) − (n+1)/n.
    */
  def giniActivity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = ev(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val hist = perUser.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("m"))
    val before = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cells = hist
      .withColumn("cum", coalesce(sum(col("m")).over(before), lit(0L)))
      .groupBy(col("event_type"))
      .agg(
        sum(col("m")).as("n_users"),
        sum(col("c") * col("m")).as("total"),
        // Σ i·x_i for the tie group: ranks cum+1 .. cum+m, all with value
        // c. Integer `div`, NOT `/`: Column./ is double division, and
        // the whole sum must stay in exact BIGINT arithmetic
        sum(expr("c * (cum * m + (m * (m + 1)) div 2)")).as("rix"),
      )
    cells.select(
      col("event_type"), col("n_users"), col("total"),
      round(lit(2.0) * col("rix") / (col("n_users") * col("total")).cast("double")
        - (col("n_users") + 1).cast("double") / col("n_users"), 6).as("gini"),
    ).orderBy(col("event_type"))
  }

  /** Exact distributed ntile(k) for a total order (key, ties…) —
    * bit-identical to [[distributedNtile]] over the same order, but the
    * fact table is never range-shuffled, checkpointed, OR (since r16)
    * globally sorted. Decomposition: the key is the primary sort column,
    * so each key-group owns the contiguous global-rank span
    * [_off+1, _off+_cnt] (census prefix sums). The ntile bucket function
    * is monotone in the rank, so a key whose span's two ENDPOINTS land
    * in the same tile puts every row in that tile — no per-row rank
    * needed; its rows take the tile straight off the census equi-join.
    * Only keys whose span CROSSES a tile boundary rank their rows, and
    * there are at most k−1 such keys (one per internal boundary) — a
    * provably bounded broadcast at any scale. Mechanics: ONE narrow
    * aggregate pass builds the per-key census (map-side partial agg —
    * the shuffle carries (key, count) pairs, not fact rows); the exact
    * cross-key prefix sums run over that census with the same
    * range-partition + pid-offset machinery as [[distributedNtile]];
    * the fact then pays one equi-join against the per-key tile map
    * (AQE broadcasts it at bench scale; a hash join with NO sort
    * beyond it) plus a key-partitioned window over the ≤(k−1)-key
    * boundary sliver. vs the range version the fact sheds: the
    * RangePartitioner sampling pass, the wide range exchange, the
    * full-frame localCheckpoint, and the full-fact sort (guide §2.4).
    * The boundary window still sorts one key per task, so the bounded-
    * multiplicity caveat survives in miniature: a key that can own an
    * unbounded share of rows (e.g. a modal count value) must stay on
    * [[distributedNtile]], whose range partitioner splits hot keys
    * across tasks. Callers must pass non-null keys (the census join is
    * an equi-join) — every caller's key is an aggregate or a non-null
    * fact column.
    */
  private[graft] def keyedNtile(df: DataFrame, k: Int, tileCol: String)(
      key: org.apache.spark.sql.Column, desc: Boolean,
      ties: org.apache.spark.sql.Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    def ord(c: org.apache.spark.sql.Column) = if (desc) c.desc else c.asc
    // per-key census, checkpointed so the range sampling below and the
    // offsets pass read a ≤|keys|-row materialization instead of each
    // re-executing the full upstream plan (the round-11 bounds-drift
    // hazard documented on distributedNtile applies here too)
    val census = df.groupBy(key.as("_k")).agg(count(lit(1)).as("_cnt"))
      .localCheckpoint()
    val ranged = census.repartitionByRange(parts, ord(col("_k")))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val pidSums = ranged.groupBy(col("_pid")).agg(sum(col("_cnt")).as("_s"))
    // cumulative pid offsets + grand total via the explode-to-equi trick
    // (see distributedNtile: no unpartitioned window, no non-equi join)
    val pidOff = pidSums
      .select(col("_pid").as("_q"), col("_s"))
      .select(explode(sequence(lit(0), lit(parts - 1))).as("_pid"),
        col("_q"), col("_s"))
      .groupBy(col("_pid"))
      .agg(
        sum(when(col("_q") < col("_pid"), col("_s")).otherwise(lit(0L)))
          .as("_poff"),
        sum(col("_s")).as("_n"))
    val wPid = Window.partitionBy(col("_pid")).orderBy(ord(col("_k")))
      .rowsBetween(Window.unboundedPreceding, -1L)
    // same closed-form ntile boundary as distributedNtile (CASE is lazy,
    // so the `div (_n div k)` arm can't divide by zero when n < k)
    def tileOf(rn: String): String =
      s"""CAST(CASE
            WHEN $rn <= (_n % $k) * (_n div $k + 1)
              THEN ($rn - 1) div (_n div $k + 1) + 1
            ELSE (_n % $k) + ($rn - (_n % $k) * (_n div $k + 1) - 1) div (_n div $k) + 1
          END AS INT)"""
    // per-key rank span + the tiles its endpoints land in; checkpointed
    // because BOTH fact branches below consume it (≤|keys| narrow rows;
    // measured: dropping this materialization cost ~1.3 s on
    // q_cluster_compare — the twice-run bounded window + pidOff
    // broadcast rebuild outweigh one driver action)
    val spans = ranged.join(broadcast(pidOff), Seq("_pid"))
      .withColumn("_off",
        coalesce(sum(col("_cnt")).over(wPid), lit(0L)) + col("_poff"))
      .withColumn("_tlo", expr(tileOf("(_off + 1)")))
      .withColumn("_thi", expr(tileOf("(_off + _cnt)")))
      .select(col("_k"), col("_off"), col("_n"), col("_tlo"), col("_thi"))
      .localCheckpoint()
    // uniform keys: whole span inside one tile — tile read off the join
    val factU = df.withColumn("_k", key)
      .join(spans.filter(col("_tlo") === col("_thi"))
        .select(col("_k"), col("_tlo")), Seq("_k"))
      .withColumn(tileCol, col("_tlo"))
      .drop("_k", "_tlo")
    // boundary keys (≤ k−1 of them): rank the tie-break within the key
    val factS = df.withColumn("_k", key)
      .join(broadcast(spans.filter(col("_tlo") =!= col("_thi"))
        .select(col("_k"), col("_off"), col("_n"))), Seq("_k"))
      .withColumn("_rn",
        row_number().over(Window.partitionBy(col("_k")).orderBy(ties: _*))
          + col("_off"))
      .withColumn(tileCol, expr(tileOf("_rn")))
      .drop("_k", "_off", "_n", "_rn")
    factU.unionByName(factS)
  }

  /** Exact distributed ntile(k): bit-identical to `ntile(k) OVER (ORDER
    * BY order…)` but with NO unpartitioned window. The order must be a
    * TOTAL order (distinct keys), which every caller guarantees with a
    * unique-id tie-break. Mechanics: range-partition on the order keys
    * (a parallel range shuffle — global sort order across partitions,
    * no single-partition sink), count rows per range bucket (≤
    * shuffle.partitions rows — cumulated by a triangular self-join over
    * that bounded frame, so NO window in the plan lacks a partition
    * spec), broadcast the cumulative offsets back, and
    * reconstruct the exact global row number as offset +
    * row_number-within-bucket. The tile is then pure arithmetic in
    * (rn, n): ntile gives the first n%k tiles ⌈n/k⌉ rows and the rest
    * ⌊n/k⌋, so the bucket boundary is a closed form, not a sort.
    */
  private[graft] def distributedNtile(df: DataFrame, k: Int, tileCol: String)(
      order: org.apache.spark.sql.Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // The checkpoint below is CORRECTNESS, not caching: `bucketed` feeds
    // both the counts pass and the rank pass, and without materializing
    // it the two passes each re-execute the range exchange. Column
    // pruning makes those two exchanges non-identical (no reuse), and
    // RangePartitioner samples its bounds with an rddId-derived seed, so
    // the two executions can pick DIFFERENT bounds — a boundary row then
    // gets COUNTED in partition i but RANKED in partition i+1, and every
    // downstream offset is off by one. The drift is session-structure-
    // dependent (rddIds shift as unrelated queries run first), which is
    // exactly how it escaped seven rounds of per-session gates before
    // surfacing as run-to-run flips in the ntile family.
    val bucketed = df.repartitionByRange(parts, order: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val counts = bucketed.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    // cumulative offsets + grand total over the ≤`parts`-row counts
    // frame with NO window node and NO non-equi join (both would trip
    // the plan invariants — an unpartitioned Window or a BNLJ — even on
    // a provably bounded frame): explode each bucket count to every
    // bucket id (≤parts² tiny rows) and hash-aggregate the conditional
    // sums. The only single-task structure left is the broadcast of
    // `parts` rows back onto the ranged data.
    val offsets = counts
      .select(col("_pid").as("_q"), col("_cnt"))
      .select(explode(sequence(lit(0), lit(parts - 1))).as("_pid"),
        col("_q"), col("_cnt"))
      .groupBy(col("_pid"))
      .agg(
        sum(when(col("_q") < col("_pid"), col("_cnt")).otherwise(lit(0L)))
          .as("_off"),
        sum(col("_cnt")).as("_n"))
    // CASE is lazily evaluated, so the `div (_n div k)` in the ELSE arm
    // can't divide by zero: when n < k every row satisfies the THEN
    // branch (cut = n·1 ≥ rn)
    val tileExpr =
      s"""CAST(CASE
            WHEN _rn <= (_n % $k) * (_n div $k + 1)
              THEN (_rn - 1) div (_n div $k + 1) + 1
            ELSE (_n % $k) + (_rn - (_n % $k) * (_n div $k + 1) - 1) div (_n div $k) + 1
          END AS INT)"""
    bucketed.join(broadcast(offsets), Seq("_pid"))
      .withColumn("_rn",
        row_number().over(Window.partitionBy(col("_pid")).orderBy(order: _*))
          + col("_off"))
      .withColumn(tileCol, expr(tileExpr))
      .drop("_pid", "_off", "_n", "_rn")
  }

  /** RFM segmentation — the classic CRM triple: per user, Recency (last
    * active day), Frequency (event count) and Monetary (summed value),
    * each quintile-scored 1..5 (1 = best) with deterministic total
    * orders (user_id tie-break; the monetary rank keys on the ROUNDED
    * sum so ulp drift can't flip a quintile boundary). Output is the
    * segment census: one row per observed (r, f, m) cell with its
    * population and average spend. The quintile scoring is
    * [[distributedNtile]] — exactly `ntile(5)` semantics, but each
    * metric costs one parallel range shuffle + one bucket-partitioned
    * window instead of a single-partition global sort, so the per-user
    * table (~10⁹ rows at 100 TB) never funnels through one task.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    // monetary lives in exact integer CENTS from the first aggregate on:
    // ranking and averaging 2-dp doubles would land on half-cent
    // boundaries where the engines' double sums disagree by one ulp.
    // The user reduction coarsens the shared [[userDayCube]] (regrouping
    // exact longs — associative, so values match the direct reduction).
    // checkpoint per round: each distributedNtile's range exchange
    // executes its input TWICE (RangePartitioner bound-sampling job +
    // the shuffle itself), so the un-materialized chain re-ran the
    // previous cut's join+window tail 2× per metric (the iterative-loop
    // localCheckpoint discipline, applied to a 3-step fold; the frames
    // are narrow per-user rows, so each materialization is cheap)
    val perUser = userDayCube(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"), sum(col("n")).as("freq"),
        sum(col("cents")).as("cents"))
      .localCheckpoint()
    val scored = Seq(
      ("r_score", Seq(col("last_day").desc, col("user_id"))),
      ("f_score", Seq(col("freq").desc, col("user_id"))),
      ("m_score", Seq(col("cents").desc, col("user_id"))),
    ).foldLeft(perUser) { case (df, (name, keys)) =>
      distributedNtile(df, 5, name)(keys: _*).localCheckpoint()
    }
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("cents")) / (count(lit(1)) * 100.0), 2).as("avg_monetary"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Sessionized conversion funnel: events sessionize per user by the
    * classic gap-and-cumsum window (a 30-minute silence starts a new
    * session — the PER-EVENT session assignment that complements
    * `q_window_session`'s session_window AGGREGATE), then each session
    * runs the strictly-ordered view→click→purchase funnel via three
    * chained conditional window minima over the SAME (user, session)
    * partitioning — one shuffle, three window passes, no self-joins.
    * Output is the corpus-level funnel: session counts and stage
    * conversion rates. Ordering ties break on event_id (timestamps
    * compare at microseconds cross-engine; nanos don't survive DuckDB).
    */
  def sessionFunnel(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val sessioned = e
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byTime))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts_us") - col("prev_ts") > gapMinutes * 60000000L, 1L).otherwise(0L))
      .withColumn("session",
        sum(col("new_session")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
    val bySession = Window.partitionBy(col("user_id"), col("session"))
    val staged = sessioned
      .withColumn("fv", min(when(col("event_type") === "view", col("ts_us"))).over(bySession))
      .withColumn("fc", min(when(col("event_type") === "click"
        && col("ts_us") > col("fv"), col("ts_us"))).over(bySession))
      .withColumn("fp", min(when(col("event_type") === "purchase"
        && col("ts_us") > col("fc"), col("ts_us"))).over(bySession))
      .select(col("user_id"), col("session"), col("fv"), col("fc"), col("fp"))
      .distinct()
    staged.agg(
      count(lit(1)).as("n_sessions"),
      sum(when(col("fv").isNotNull, 1L).otherwise(0L)).as("with_view"),
      sum(when(col("fc").isNotNull, 1L).otherwise(0L)).as("view_then_click"),
      sum(when(col("fp").isNotNull, 1L).otherwise(0L)).as("full_funnel"),
    ).select(
      col("n_sessions"), col("with_view"), col("view_then_click"), col("full_funnel"),
      round(col("view_then_click") / nullif(col("with_view"), lit(0)).cast("double"), 6)
        .as("click_rate"),
      round(col("full_funnel") / nullif(col("view_then_click"), lit(0)).cast("double"), 6)
        .as("purchase_rate"),
    )
  }

  /** Mutual information between event type and hour-of-day — the
    * feature-dependence audit ("does WHEN predict WHAT"): MI(T;H) in
    * nats from the 5×24 contingency table, with the marginal entropies
    * and the normalized MI/√(H·H) coefficient. The corpus reduces to
    * contingency CELLS in one hash aggregate; marginals and the grand
    * total are window sums over that tiny cell table (types×24 rows no
    * matter the data), and the entropy identities are computed as
    * cell-row sums — Σ_cells (c/n)·ln(n/ct) telescopes to H(T) because
    * Σ_h c_th = c_t. Counts stay integral into each log term.
    */
  def typeHourMi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = ev(spark, dir)
      .select(col("event_type"), expr("(ts_us div 3600000000) % 24").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("c"))
    val enriched = cells
      .withColumn("ct", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .withColumn("ch", sum(col("c")).over(Window.partitionBy(col("hour"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val p = col("c").cast("double") / col("n")
    enriched.agg(
      max(col("n")).as("n_events"),
      sum(p * log(col("c") * col("n") / (col("ct") * col("ch")))).as("mi"),
      sum(p * log(col("n") / col("ct"))).as("h_type"),
      sum(p * log(col("n") / col("ch"))).as("h_hour"),
    ).select(
      col("n_events"),
      round(col("mi"), 6).as("mi_nats"),
      round(col("h_type"), 6).as("h_type"),
      round(col("h_hour"), 6).as("h_hour"),
      round(col("mi") / sqrt(col("h_type") * col("h_hour")), 6).as("nmi"),
    )
  }

  def abTestZ(spark: SparkSession, dir: String): DataFrame = {
    val isA = substring(md5(col("user_id").cast("string")), 1, 1) <= "7"
    val perUser = userDayCube(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(col("n")).as("n_ev"),
        sum(when(col("event_type") === "purchase", col("n")).otherwise(0L)).as("n_pur"),
      )
      .withColumn("converted",
        when(col("n_pur") * 5 > col("n_ev"), 1L).otherwise(0L))
      .withColumn("in_a", isA)
    val cells = perUser.agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("in_a"), col("converted")).otherwise(0L)).as("conv_a"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("in_a"), col("converted")).otherwise(0L)).as("conv_b"),
    )
    // explicit double casts: under ANSI semantics a BIGINT/BIGINT
    // quotient is integral division, which floors the rates to 0
    val rateA = col("conv_a").cast("double") / col("n_a")
    val rateB = col("conv_b").cast("double") / col("n_b")
    val pooled =
      (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))
    val z = (rateA - rateB) /
      sqrt(pooled * (lit(1.0) - pooled) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    cells.select(
      col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(rateA, 6).as("rate_a"),
      round(rateB, 6).as("rate_b"),
      round(z, 6).as("z_score"),
      (abs(round(z, 6)) >= 1.96).as("significant"),
    )
  }

  /** CUPED variance reduction for the A/B readout ([[abTestZ]]'s
    * continuous-metric companion): adjust each user's post-period spend
    * by their PRE-period spend (the pre-experiment covariate) — y′ = y −
    * θ(x − x̄) with θ = cov(x,y)/var(x) — so the arm difference keeps
    * its expectation but sheds the variance the covariate explains
    * (reduction factor = ρ²). Discipline: per-user pre/post spend in
    * exact integer CENTS, every moment (Σx, Σy, Σxy, Σx², Σy², per-arm
    * cells) an exact BIGINT from ONE user-keyed aggregate + ONE global
    * conditional aggregate; θ / means / ρ² are then scalar double
    * algebra on those exact integers (identical IEEE ops on identical
    * inputs cross-engine — the Σx·Σy product is cast to double first,
    * because a BIGINT product of two corpus sums overflows at scale).
    * Same md5 arm assignment as the z-test; one final round per output.
    */
  def cupedAdjust(spark: SparkSession, dir: String): DataFrame = {
    // 2024-01-05T00:00:00Z, the CDC cutoff — an exact day boundary
    // (1704412800 s / 86400 = 19727), so the day-grain [[userDayCube]]
    // splits pre/post identically to the per-event µs comparison
    val cutoffDay = 19727L
    val pu = userDayCube(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("day") < cutoffDay, col("cents")).otherwise(0L)).as("x"),
        sum(when(col("day") >= cutoffDay, col("cents")).otherwise(0L)).as("y"))
      .withColumn("in_a",
        substring(md5(col("user_id").cast("string")), 1, 1) <= "7")
    val m = pu.agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("in_a"), col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("in_a"), col("y")).otherwise(0L)).as("sy_a"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("in_a"), col("x")).otherwise(0L)).as("sx_b"),
      sum(when(!col("in_a"), col("y")).otherwise(0L)).as("sy_b"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val sx = (col("sx_a") + col("sx_b")).cast("double")
    val sy = (col("sy_a") + col("sy_b")).cast("double")
    val covXY = col("sxy") - sx * sy / n
    val varX = col("sxx") - sx * sx / n
    val varY = col("syy") - sy * sy / n
    val theta = covXY / varX
    // arm means in dollars; the adjusted difference subtracts the
    // covariate imbalance scaled by theta (the global mean cancels)
    val myA = col("sy_a").cast("double") / col("n_a") / 100.0
    val myB = col("sy_b").cast("double") / col("n_b") / 100.0
    val mxA = col("sx_a").cast("double") / col("n_a") / 100.0
    val mxB = col("sx_b").cast("double") / col("n_b") / 100.0
    m.select(
      col("n_a"), col("n_b"),
      round(myA, 6).as("mean_y_a"), round(myB, 6).as("mean_y_b"),
      round(myA - myB, 6).as("diff_raw"),
      round(theta, 6).as("theta"),
      round((myA - myB) - theta * (mxA - mxB), 6).as("diff_adj"),
      round(covXY * covXY / (varX * varY), 6).as("var_reduction"))
  }

  /** DAU / WAU / stickiness — the daily-active, 7-day-active and
    * engagement-ratio table every product dashboard leads with. The
    * rolling 7-day DISTINCT count is the part a naive window cannot do
    * (count(distinct) over a sliding frame re-scans per day): instead
    * each (day, user) activity row is exploded to the 7 window-end days
    * it supports, de-duplicated, and counted — one bounded ×7 fan-out
    * of the already-reduced day×user table, two hash aggregates, all
    * exact integers. Early days keep their partial windows (standard
    * dashboard semantics); stickiness is DAU/WAU rounded once.
    */
  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    val dayUser = userDays(spark, dir).select(col("day"), col("user_id"))
    val dau = dayUser.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = dayUser
      .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
        col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau") / col("wau").cast("double"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Model-lift / gains table — the targeting readout: users ranked by
    * an engagement score (click count, the stand-in for a model score)
    * into deciles via the exact distributed ntile, then per decile the
    * purchase response and the CUMULATIVE share of all purchases
    * captured down the ranking. "The top 3 deciles hold 40% of the
    * response" is the sentence this table exists to produce. Counts
    * stay exact BIGINT; the cumulative shares come from the
    * explode-to-equi trick over the 10-row decile frame (no
    * unpartitioned window); each share is one final division.
    */
  def liftDeciles(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val perUser = userDayCube(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", col("n")).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "purchase", col("n")).otherwise(0L))
          .as("purchases"))
    val dec = distributedNtile(perUser, k, "decile")(
        col("clicks").desc, col("user_id"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("clicks")).as("clicks"),
        sum(col("purchases")).as("purchases"))
    val grid = dec.select(col("decile").as("_q"), col("purchases").as("_p"),
        col("n_users").as("_u"))
      .select(explode(sequence(lit(1), lit(k))).as("decile"),
        col("_q"), col("_p"), col("_u"))
      .groupBy(col("decile"))
      .agg(
        sum(when(col("_q") <= col("decile"), col("_p")).otherwise(lit(0L)))
          .as("cum_purchases"),
        sum(col("_p")).as("total_purchases"),
        sum(when(col("_q") <= col("decile"), col("_u")).otherwise(lit(0L)))
          .as("cum_users"),
        sum(col("_u")).as("total_users"))
    dec.join(grid, Seq("decile"))
      .select(col("decile"), col("n_users"), col("clicks"), col("purchases"),
        round(col("purchases") / col("n_users").cast("double"), 6)
          .as("resp_per_user"),
        round(col("cum_purchases") / col("total_purchases").cast("double"), 6)
          .as("cum_purchase_share"),
        round(col("cum_users") / col("total_users").cast("double"), 6)
          .as("cum_user_share"))
      .orderBy(col("decile"))
  }

  /** Experiment power readout — the minimum detectable effect (MDE) of
    * the two-arm spend test BEFORE it runs: with the realized md5 arm
    * sizes and the pooled sample variance of per-user spend, the
    * smallest true difference a 5%-two-sided / 80%-power test can
    * expect to detect is (z_α/2 + z_β)·√(s²·(1/n_a + 1/n_b)). Variance
    * comes from exact BIGINT cent moments (Σy, Σy², n) in one pass —
    * the z quantiles are literals, everything after the aggregate is
    * scalar double algebra on exact integers, so both engines compute
    * identical doubles.
    */
  def powerMde(spark: SparkSession, dir: String): DataFrame = {
    val pu = userDayCube(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(col("cents")).as("y"))
      .withColumn("in_a",
        substring(md5(col("user_id").cast("string")), 1, 1) <= "7")
    val m = pu.agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
      sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val sy = col("sy").cast("double")
    // sample variance in cents²; s and the MDE report in dollars
    val variance = (col("syy") - sy * sy / n) / (n - lit(1.0))
    // one literal, not a sum of two: 1.959964 + 0.841621 evaluated as a
    // double addition can differ from the parsed constant by an ulp,
    // and the oracle parses the constant
    val mde = lit(2.801585) *
      sqrt(variance * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val meanDollars = sy / n / 100.0
    m.select(
      col("n_a"), col("n_b"),
      round(meanDollars, 6).as("mean_spend"),
      round(sqrt(variance) / 100.0, 6).as("sd_spend"),
      round(mde / 100.0, 6).as("mde_spend"),
      round(mde / 100.0 / meanDollars, 6).as("mde_relative"))
  }

  /** Last-touch attribution — which touch type gets CREDIT for each
    * purchase: the latest preceding non-purchase event by the same
    * user, carried onto the purchase row by an `ignoreNulls` last()
    * over a ROWS-to-(-1) frame (the per-EVENT as-of lookup, the same
    * carry-forward trick as `q_asof_join` — no non-equi join, no
    * per-purchase subquery). Purchases with no prior touch credit
    * "none" explicitly. Credit census per touch type with the
    * attributed spend in exact integer cents; one user-keyed window
    * pass + one hash aggregate.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us"), col("value"))
      .withColumn("last_touch", last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("last_touch"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(round(col("value") * 100, 0).cast("long")).as("attributed_cents"))
      .orderBy(col("touch_type"))
  }

  /** User-journey transition matrix — the first-order Markov view of
    * the event stream: counts and row-normalized probabilities for
    * every (from, to) consecutive event-type pair within a user's
    * total-ordered history (ts, event_id). The product-analytics
    * staple behind "what happens after an error" and journey
    * simulation. One user-keyed lag window + one hash aggregate; the
    * row normalizer joins back over the |types|² cell table, so
    * nothing beyond the cells is ever re-shuffled.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val cells = eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("from_type"))
      .agg(sum(col("n")).as("row_total"))
    cells.join(Tables.maybeBroadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("row_total"),
        round(col("n") / col("row_total").cast("double"), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Per-event-type dwell time — the mean gap from an event to the SAME
    * user's next event (any type): how long each event type holds the
    * user before they do anything else. The engagement-latency readout
    * behind "errors stall sessions" and time-on-step dashboards. One
    * user-keyed lead window over (ts, event_id) — the standard keyed
    * exchange, no global sort — then gap micros sum as exact BIGINT per
    * type with one final division. Last events per user have no
    * successor and drop out of the count (count(gap), not count(*)).
    */
  def dwellTime(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
      .withColumn("gap_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .groupBy(col("event_type"))
      .agg(count(col("gap_us")).as("n_gaps"),
        sum(col("gap_us")).as("sum_gap_us"))
      .select(col("event_type"), col("n_gaps"), col("sum_gap_us"),
        round(col("sum_gap_us") / (col("n_gaps") * 1000000.0), 4)
          .as("avg_gap_sec"))
      .orderBy(col("event_type"))
  }

  /** Time-bound funnel — [[funnel]] with a conversion DEADLINE: stage N
    * must land within 72 h of the user's qualifying stage-(N−1) event,
    * which is how real conversion funnels are defined (an eventual
    * purchase weeks later is not attributable to the view). Same
    * narrowing per-user aggregate/equi-join chain as the unbounded
    * funnel — the deadline is one more residual predicate on the
    * already-joined rows, so the plan shape (and its single shuffle key,
    * user_id) is unchanged. Timestamps compare in exact integer µs.
    */
  def timedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val windowUs = 259200L * 1000000L // 72 h
    val e = ev(spark, dir) // projection of the materialized [[eventSeq]]
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_us"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts_us") > col("v_us") &&
        col("ts_us") <= col("v_us") + windowUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("c_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts_us") > col("c_us") &&
        col("ts_us") <= col("c_us") + windowUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_us"))
    // one tagged union + one aggregate — no 1-row cross joins (a
    // cross-joined scalar frame plans as the BroadcastNestedLoopJoin the
    // registry invariant bans)
    v.select(lit(1).as("s")).unionAll(c.select(lit(2).as("s")))
      .unionAll(p.select(lit(3).as("s")))
      .agg(
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("viewed"),
        sum(when(col("s") === 2, 1L).otherwise(0L)).as("clicked_72h"),
        sum(when(col("s") === 3, 1L).otherwise(0L)).as("purchased_72h"))
      .select(col("viewed"), col("clicked_72h"), col("purchased_72h"),
        round(col("clicked_72h") / col("viewed").cast("double"), 6)
          .as("view_to_click"),
        round(col("purchased_72h") /
          greatest(col("clicked_72h").cast("double"), lit(1.0)), 6)
          .as("click_to_purchase"))
  }

  /** Growth accounting — the canonical DAU decomposition every growth
    * team reads daily: each active (day, user) cell is NEW (first-ever
    * day), RETAINED (also active yesterday) or RESURRECTED (active
    * before, but not yesterday), and a user active yesterday but not
    * today CHURNS into today's ledger — so dau(d) = new + retained +
    * resurrected and dau(d) − dau(d−1) = new + resurrected − churned by
    * construction. The event log reduces to distinct user-days first;
    * classification is one user-keyed lag/lead window over that reduced
    * frame (never raw events), and the churn ledger is capped at the
    * observed max day (a bounded one-row scalar) so no phantom
    * churn-day extends past the data. Exact integers end to end.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val du = userDays(spark, dir).select(col("day"), col("user_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val l = du
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
      .localCheckpoint()
    // bounded driver scalar (the nDocs pattern) — a cross-joined 1-row
    // frame would plan as a BroadcastNestedLoopJoin
    val mxd = du.agg(max(col("day"))).head().getLong(0)
    val act = l.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("prev_day").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev_day") === col("day") - 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev_day").isNotNull &&
          col("prev_day") < col("day") - 1, 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = l
      .filter((col("next_day").isNull || col("next_day") > col("day") + 1) &&
        col("day") + 1 <= mxd)
      .select((col("day") + 1).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("day"), "left_outer")
      .select(col("day"), col("dau"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("day"))
  }

  /** User survival curve — S(d) = fraction of users whose activity span
    * (last day − first day) reaches at least d days: the Kaplan-Meier-
    * flavored churn readout behind "half our users are gone within a
    * week". The corpus collapses to one (lifetime, n) histogram row per
    * distinct span BEFORE any per-day work (the AUC histogram trick),
    * so the day spine × lifetime fan-out is spans², never users²; the
    * spine bound is a one-row driver-free scalar broadcast. Exact
    * integer counts, one division per output row.
    */
  def survivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val du = userDays(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("fd"), max(col("day")).as("ld"))
    val lt = du.select((col("ld") - col("fd")).as("lifetime"))
      .groupBy(col("lifetime")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // bounded driver scalars; the spine × histogram fan-out rides ONE
    // explode over the lifetime-histogram rows (spans², never users² —
    // and never the BroadcastNestedLoopJoin a crossJoin would plan)
    val r = lt.agg(max(col("lifetime")), sum(col("n"))).head()
    val (ml, total) = (r.getLong(0), r.getLong(1))
    lt.select(col("lifetime"), col("n"),
        explode(sequence(lit(0L), lit(ml))).as("d"))
      .groupBy(col("d"))
      .agg(sum(when(col("lifetime") >= col("d"), col("n")).otherwise(0L))
        .as("survivors"))
      .select(col("d"), col("survivors"),
        round(col("survivors") / lit(total.toDouble), 6).as("survival"))
      .orderBy(col("d"))
  }

  /** Poisson-bootstrap confidence interval for mean order spend — THE
    * way to bootstrap at 100 TB: instead of materializing R resamples
    * (impossible — each is a full pass with global coordination), every
    * row draws its own independent Poisson(1) multiplicity per
    * replicate, which approximates multinomial resampling exactly as
    * n → ∞ (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", Google 2012). The draw is CONTENT-ADDRESSED — inverse
    * Poisson CDF applied to an md5-uniform of (order, replicate) — so
    * both engines draw identical weights with no RNG state, and the
    * whole job is one map-side explode (×R) plus one 40-group hash
    * aggregate: partials merge, nothing global until the 40-row
    * replicate-mean table. The 95% CI is exact order statistics
    * (ranks 2 and 39 of 40 replicate means, the (r/(R+1)) positions).
    */
  def bootstrapCi(spark: SparkSession, dir: String, reps: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = Tables.fanOut(Tables.orders(spark, dir))
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .localCheckpoint()
    val drawn = cents
      .select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(1), lit(reps))).as("rep"))
      .withColumn("u",
        conv(substring(md5(concat(col("o_orderkey").cast("string"), lit("#"),
          col("rep").cast("string"))), 1, 6), 16, 10).cast("long") / 16777216.0)
      // inverse Poisson(1) CDF: cumulative probs as shared literals with
      // the oracle, so the branch a draw lands in can never differ
      .withColumn("w",
        when(col("u") < 0.367879441171, 0L)
          .when(col("u") < 0.735758882343, 1L)
          .when(col("u") < 0.919698602929, 2L)
          .when(col("u") < 0.981011843123, 3L)
          .when(col("u") < 0.996340153246, 4L)
          .when(col("u") < 0.999405815182, 5L)
          .when(col("u") < 0.999916758850, 6L)
          .otherwise(7L))
    val means = drawn.groupBy(col("rep"))
      .agg((sum(col("w") * col("cents")) / (sum(col("w")) * 100.0)).as("m"))
    // rank the R replicate means — R = 40 rows, provably bounded — and
    // collapse both CI bounds in ONE conditional aggregate; the point
    // estimate arrives as a bounded driver scalar (no 1-row cross joins,
    // which would plan as BroadcastNestedLoopJoin)
    val ranked = means.withColumn("rk",
      row_number().over(Window.orderBy(col("m"), col("rep"))))
    val pt = cents.agg(
      (sum(col("cents")) / (count(lit(1)) * 100.0))).head().getDouble(0)
    ranked
      .agg(min(when(col("rk") === 2, col("m"))).as("lo"),
        min(when(col("rk") === reps - 1, col("m"))).as("hi"))
      .select(round(lit(pt), 4).as("mean_spend"),
        round(col("lo"), 4).as("ci_lo"),
        round(col("hi"), 4).as("ci_hi"),
        round(col("hi") - col("lo"), 4).as("ci_width"))
  }

  /** Precision/recall/F1 threshold sweep of "click count predicts
    * purchase-heavy user" — the operating-point table read next to
    * [[aucClicksToPurchase]]'s single ranking number before a threshold
    * is committed. Same histogram collapse as the AUC: users reduce to
    * (score, label), scores reduce to (score, n, n_pos) cells, and every
    * threshold's confusion cells are conditional sums over that tiny
    * table (thresholds × score-levels, never thresholds × users). The
    * threshold grid is RELATIVE — k/10 of the max score, integer
    * cross-multiplied — so the sweep stays non-degenerate at any scale
    * factor.
    */
  def prCurve(spark: SparkSession, dir: String): DataFrame = {
    val perUser = ev(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("score"),
        when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) * 5 >
          count(lit(1)), 1L).otherwise(0L).as("pos"))
    val h = perUser.groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .localCheckpoint()
    // max score as a bounded driver scalar from the tiny histogram —
    // not a cross-joined 1-row frame (BroadcastNestedLoopJoin)
    val ms = h.agg(max(col("score"))).head().getLong(0)
    val cells = h
      .select(explode(sequence(lit(1L), lit(10L))).as("k"),
        col("score"), col("n"), col("n_pos"))
      .groupBy(col("k"))
      .agg(
        sum(when(col("score") * 10 >= lit(ms) * col("k"), col("n_pos"))
          .otherwise(0L)).as("tp"),
        sum(when(col("score") * 10 >= lit(ms) * col("k"),
          col("n") - col("n_pos")).otherwise(0L)).as("fp"),
        sum(when(col("score") * 10 < lit(ms) * col("k"), col("n_pos"))
          .otherwise(0L)).as("fn"))
    cells.select(col("k"), col("tp"), col("fp"), col("fn"),
        round(col("tp") / greatest((col("tp") + col("fp")).cast("double"),
          lit(1.0)), 6).as("precision"),
        round(col("tp") / greatest((col("tp") + col("fn")).cast("double"),
          lit(1.0)), 6).as("recall"),
        round(col("tp") * 2 / greatest(
          (col("tp") * 2 + col("fp") + col("fn")).cast("double"),
          lit(1.0)), 6).as("f1"))
      .orderBy(col("k"))
  }

  /** Top user-journey trigrams — the order-3 extension of
    * [[eventTransitions]]: the 20 most common 3-step event sequences
    * across all users' total-ordered histories. One user-keyed window
    * emits both leads in a single pass (3-position sequences never
    * self-join), the trigram census is one hash aggregate over a
    * keyspace bounded by |event types|³, and the top-20 cliff is
    * sort+limit (TakeOrderedAndProject) with the trigram string as the
    * deterministic tie-break.
    */
  def pathTrigrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns").as("ts"), col("event_id"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("trigram"))
      .groupBy(col("trigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram"))
      .limit(k)
  }

  /** Per-day bounce rate: share of 30-minute-gap sessions containing
    * exactly one event — the engagement-quality readout beside raw
    * session counts. Sessionization is the standard gaps-and-islands
    * chain (one user-keyed window: gap flag → running sum → session id),
    * identical to the session_window batch twin; the census is two hash
    * aggregates over the session table. Exact integers, one division per
    * day row.
    */
  def bounceRate(spark: SparkSession, dir: String, gapSec: Long = 1800): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = eventSeq(spark, dir)
      .select(col("user_id"), expr("ts_ns div 1000000000").as("ts_s"), col("event_id"))
      .withColumn("brk",
        when(col("ts_s") - lag(col("ts_s"), 1).over(w) >= gapSec ||
          lag(col("ts_s"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(wRun))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_s")).as("start_s"), count(lit(1)).as("n"))
    sess
      .groupBy(expr("start_s div 86400").as("day"))
      .agg(count(lit(1)).as("sessions"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("bounces"))
      .select(col("day"), col("sessions"), col("bounces"),
        round(col("bounces") * lit(1.0) / col("sessions"), 6).as("bounce_rate"))
      .orderBy(col("day"))
  }

  /** Cohort LTV curves: users cohorted by FIRST-purchase day, cumulative
    * subsequent purchase revenue per cohort member by week offset — the
    * payback table under every acquisition decision. The event log
    * reduces to (cohort, week, cents) cells before any window; the
    * cumulative ride is a window over week offsets (bounded by the
    * observation span) partitioned by cohort; revenue stays EXACT
    * integer cents until the single per-row LTV division.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    // purchase cells of the shared [[userDayCube]] — cohort day and the
    // weekly revenue buckets both only need day grain, and the cube's
    // cents are already the exact per-row integer conversion
    val e = userDayCube(spark, dir).filter(col("event_type") === "purchase")
    val cohort = e.groupBy(col("user_id")).agg(min(col("day")).as("cd"))
    val sizes = cohort.groupBy(col("cd")).agg(count(lit(1)).as("n_users"))
    val rev = e.join(Tables.maybeBroadcast(cohort), Seq("user_id"))
      .groupBy(col("cd"), expr("(day - cd) div 7").as("wk"))
      .agg(sum(col("cents")).as("cents"))
    val wCum = Window.partitionBy(col("cd")).orderBy(col("wk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum_cents", sum(col("cents")).over(wCum))
      .join(Tables.maybeBroadcast(sizes), Seq("cd"))
      .select(col("cd").as("cohort_day"), col("wk"), col("cum_cents"), col("n_users"),
        round(col("cum_cents") / (col("n_users") * lit(100.0)), 4).as("ltv"))
      .orderBy(col("cohort_day"), col("wk"))
  }

  /** Welch's two-sample t on order spend between md5-split arms — the
    * continuous-metric significance test completing the A/B tier (z for
    * proportions, CUPED for variance reduction, MDE for power, this for
    * plain two-arm spend). Moments are exact integer DOLLAR sums (cents
    * squared would overflow int64 at sf0.1 — the dollar grain keeps
    * Σx² exact to ~10⁹ orders); the t statistic and Welch–Satterthwaite
    * df assemble row-locally on the 1-row moment table.
    */
  def welchT(spark: SparkSession, dir: String): DataFrame = {
    val va = (col("qa") - col("sa") * lit(1.0) / col("na") * col("sa")) /
      (col("na") - lit(1.0)) / col("na")
    val vb = (col("qb") - col("sb") * lit(1.0) / col("nb") * col("sb")) /
      (col("nb") - lit(1.0)) / col("nb")
    Tables.fanOut(Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_totalprice")))
      .select(
        when(conv(substring(md5(col("o_custkey").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2 === 0, "A").otherwise("B").as("arm"),
        round(col("o_totalprice"), 0).cast("long").as("d"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sx"),
        sum(col("d") * col("d")).as("sxx"))
      .agg(
        max(when(col("arm") === "A", col("n"))).as("na"),
        max(when(col("arm") === "B", col("n"))).as("nb"),
        max(when(col("arm") === "A", col("sx"))).as("sa"),
        max(when(col("arm") === "B", col("sx"))).as("sb"),
        max(when(col("arm") === "A", col("sxx"))).as("qa"),
        max(when(col("arm") === "B", col("sxx"))).as("qb"))
      .select(col("na"), col("nb"),
        round(col("sa") * lit(1.0) / col("na"), 2).as("mean_a"),
        round(col("sb") * lit(1.0) / col("nb"), 2).as("mean_b"),
        round((col("sa") * lit(1.0) / col("na") - col("sb") * lit(1.0) / col("nb")) /
          sqrt(va + vb), 6).as("welch_t"),
        round(pow(va + vb, 2) /
          (pow(va, 2) / (col("na") - lit(1.0)) + pow(vb, 2) / (col("nb") - lit(1.0))), 2)
          .as("welch_df"))
  }

  /** Wilson 95% score interval for the per-hour purchase share among
    * click/purchase traffic — the proportion CI that stays honest at
    * small n where the normal approximation leaks past [0,1] (the
    * proportion sibling of the mean's t-interval in `q_mean_ci`). All
    * counts exact integers; the z² constants (1.96² and its halves)
    * are SINGLE literals shared with the oracle — composing them from
    * arithmetic can drift an ulp; one sqrt per row.
    */
  def wilsonCi(spark: SparkSession, dir: String): DataFrame = {
    val center = (col("x") + 1.9208) / (col("n") + 3.8416)
    val half = lit(1.96) *
      sqrt(col("x") * lit(1.0) * (col("n") - col("x")) / col("n") + 0.9604) /
      (col("n") + 3.8416)
    eventSeq(spark, dir)
      .select((expr("ts_ns div 3600000000000") % 24).as("hr"), col("event_type"))
      .groupBy(col("hr"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type").isin("click", "purchase"), 1L).otherwise(0L)).as("n"))
      .select(col("hr"), col("x"), col("n"),
        round(col("x") * lit(1.0) / col("n"), 6).as("p_hat"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
      .orderBy(col("hr"))
  }

  /** Inter-event latency percentiles — the tail companion of
    * [[dwellTime]]'s mean: per type of the LATER event, the exact lower
    * p50/p95 of the user's gap to their previous event. Gaps come from
    * one user-keyed lag; the percentiles are EXACT order statistics
    * (rank-selected with a total-order tie-break, no interpolation ulp),
    * ranked inside each type partition — the same discipline as
    * `q_iqr_outliers`.
    */
  def gapPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val byGap = Window.partitionBy(col("event_type"))
      .orderBy(col("gap_us"), col("user_id"), col("event_id"))
    val wType = Window.partitionBy(col("event_type"))
    eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byTime))
      .filter(col("gap_us").isNotNull)
      .withColumn("rk", row_number().over(byGap))
      .withColumn("n", count(lit(1)).over(wType))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_gaps"),
        max(when(col("rk") === expr("(n + 1) DIV 2"), col("gap_us"))).as("p50_us"),
        max(when(col("rk") === expr("(n * 95 + 99) DIV 100"), col("gap_us"))).as("p95_us"))
      .orderBy(col("event_type"))
  }

  /** Session-to-session journey consistency: each user's sessions render
    * as event-initial strings (the same 30-minute gaps-and-islands
    * sessionization as [[bounceRate]]), consecutive session journeys
    * compare by edit distance, and the corpus reports the distance
    * histogram — dist 0 means habitual repetition, the tail means
    * erratic behavior. The per-session string is built from ONE sorted
    * collect (array_sort on a (ts, id, char) struct — deterministic
    * regardless of aggregation order), capped at 20 events so the
    * codegen'd `levenshtein` cost is bounded per pair; the comparison is
    * a keyed lag, never a pairwise join.
    */
  def journeyEdit(spark: SparkSession, dir: String, gapSec: Long = 1800): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bySid = Window.partitionBy(col("user_id")).orderBy(col("sid"))
    eventSeq(spark, dir)
      .select(col("user_id"), substring(col("event_type"), 1, 1).as("c"),
        expr("ts_ns div 1000000000").as("ts_s"), col("event_id"))
      .withColumn("brk",
        when(col("ts_s") - lag(col("ts_s"), 1).over(w) >= gapSec ||
          lag(col("ts_s"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(wRun))
      .groupBy(col("user_id"), col("sid"))
      .agg(substring(array_join(transform(
        array_sort(collect_list(struct(col("ts_s"), col("event_id"), col("c")))),
        x => x.getField("c")), ""), 1, 20).as("journey"))
      .withColumn("prev_j", lag(col("journey"), 1).over(bySid))
      .filter(col("prev_j").isNotNull)
      .groupBy(levenshtein(col("journey"), col("prev_j")).cast("long").as("dist"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("dist"))
  }

  /** Fixed-step Markov chain evolution of the journey transition matrix:
    * starting uniform, the state distribution after 1, 2 and 3 steps —
    * the mixing-rate readout next to [[eventTransitions]]' one-step
    * cells (near-identical columns across steps = the chain mixes in one
    * hop). Every "matrix multiply" is a join-aggregate over the
    * |types|²-bounded cell table against a |types|-row vector — bounded
    * work regardless of corpus size; the corpus is touched exactly once
    * to build the transition counts.
    */
  def markovSteps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cells = eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns").as("ts"), col("event_id"))
      .withColumn("b", lead(col("event_type"), 1).over(w))
      .filter(col("b").isNotNull)
      .groupBy(col("event_type").as("a"), col("b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // the bounded matrix: every later stage reads this
    val marg = cells.groupBy(col("a")).agg(sum(col("n")).as("na"))
    // matrix and vector carry DISJOINT column names (ta/tb/tp vs s/ps):
    // every step joins a vector derived from the matrix back onto it, and
    // shared names across that self-join trip the ambiguity analyzer
    val t = cells.join(marg, Seq("a"))
      .select(col("a").as("ta"), col("b").as("tb"),
        (col("n") * lit(1.0) / col("na")).as("tp"))
      .localCheckpoint() // |types|² rows
    val k = cells.select(col("a")).distinct().count() // bounded scalar
    val p0 = cells.select(col("a").as("s")).distinct()
      .withColumn("ps", lit(1.0) / k)
    def step(pv: DataFrame): DataFrame = pv
      .join(t, col("s") === col("ta"))
      .groupBy(col("tb"))
      .agg(sum(col("ps") * col("tp")).as("ps"))
      .withColumnRenamed("tb", "s")
    val p1 = step(p0).localCheckpoint()
    val p2 = step(p1).localCheckpoint()
    val p3 = step(p2)
    p1.select(col("s"), col("ps").as("q1"))
      .join(p2.select(col("s"), col("ps").as("q2")), Seq("s"))
      .join(p3.select(col("s"), col("ps").as("q3")), Seq("s"))
      .select(col("s").as("state"),
        round(col("q1"), 6).as("p_step1"),
        round(col("q2"), 6).as("p_step2"),
        round(col("q3"), 6).as("p_step3"))
      .orderBy(col("state"))
  }

  /** χ² test of independence between event type and weekday — "does the
    * traffic mix shift across the week", the categorical sibling of the
    * weekday z-scores in [[weekdayAnomaly]]. The contingency table is
    * one hash aggregate over a |types|×7 keyspace; marginals re-aggregate
    * THAT bounded table (never the corpus) and broadcast back; expected
    * counts are an exact integer cross-multiply with one division, so
    * every χ² cell is reproducible bit-for-bit up to the 6-dp emission
    * rounding.
    */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val cells = typeDaily(spark, dir)
      .groupBy(col("event_type"), (col("day") % 7).as("wd"))
      .agg(sum(col("n")).as("n"))
      .localCheckpoint() // feeds both marginals and the total
    val rowsM = cells.groupBy(col("event_type")).agg(sum(col("n")).as("rn"))
    val colsM = cells.groupBy(col("wd")).agg(sum(col("n")).as("cn"))
    val total = cells.agg(sum(col("n"))).head().getLong(0) // bounded scalar
    val expected = col("rn") * col("cn") * lit(1.0) / lit(total)
    cells
      .join(Tables.maybeBroadcast(rowsM), Seq("event_type"))
      .join(Tables.maybeBroadcast(colsM), Seq("wd"))
      .select(
        col("event_type"), col("wd"), col("n"),
        round(expected, 6).as("expected"),
        round(pow(col("n") - expected, 2) / expected, 6).as("chi2_term"))
      .orderBy(col("event_type"), col("wd"))
  }

  /** Kaplan–Meier time-to-first-purchase curve with administrative
    * censoring at a fixed horizon — the survival-analysis member of the
    * experimentation tier (conversion funnels give the terminal rate;
    * KM gives the full WHEN curve, and censoring handles users the
    * observation window cut short without biasing the estimate). The
    * corpus reduces to one (duration, event) row per user, the risk-set
    * census is a bounded explode over the ≤(horizon+1)-day grid + one
    * hash aggregate, and the survival product rides an ordered running
    * sum of ln(1−hazard) over the tiny KM table — sequential identical
    * FP addition order in both engines, so the 6-dp survival column is
    * hash-stable. Nothing here scales with events except the first
    * per-user aggregate.
    */
  def survivalKm(spark: SparkSession, dir: String, horizon: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayNs = 86400000000000L
    val u = eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns").as("ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      .select(expr(s"(tp - t0) div $dayNs").as("d"), col("tp").isNotNull.as("hasp"))
    val dur = u.select(
      when(col("hasp") && col("d") <= horizon, col("d"))
        .otherwise(lit(horizon.toLong)).as("t"),
      when(col("hasp") && col("d") <= horizon, 1L).otherwise(0L).as("ev"))
    val km = dur
      .select(explode(sequence(lit(0L), lit(horizon.toLong))).as("day"),
        col("t"), col("ev"))
      .filter(col("t") >= col("day"))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("at_risk"),
        sum(when(col("t") === col("day") && col("ev") === 1L, 1L).otherwise(0L))
          .as("n_events"),
        sum(when(col("t") === col("day") && col("ev") === 0L, 1L).otherwise(0L))
          .as("n_censored"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Degenerate-day guard: if an entire risk set converts (hazard = 1)
    // Spark's log(0) would yield NULL while DuckDB's ln(0) raises — the
    // engines would diverge instead of failing together. A finite large
    // negative sentinel makes exp(running sum) underflow to exactly 0.0
    // in BOTH engines from that day onward, which is the KM semantics
    // (survival pinned to 0 once everyone at risk has converted).
    km
      .withColumn("hazard", round(col("n_events") / col("at_risk"), 6))
      .withColumn("survival",
        round(exp(sum(
          when(col("n_events") < col("at_risk"),
            log(lit(1.0) - col("n_events") / col("at_risk")))
            .otherwise(lit(-1.0e9))).over(w)), 6))
      .orderBy(col("day"))
  }

  /** Gap-constrained sequential-pattern mining (the GSP/SPADE 2-sequence
    * support census): for every ordered event-type pair (a, b), the
    * number of users with some b occurring strictly after some a within
    * a 30-minute gap. One pass over [[eventSeq]] computes, per event,
    * the NEXT occurrence timestamp of each of the 5 types via five
    * `min(when(type=X, ts))` columns over a single shared
    * (1 FOLLOWING, UNBOUNDED FOLLOWING) user window — the frame is
    * already user-partitioned and time-sorted, so the window runs with
    * no exchange and no sort, and the candidate step is O(events × 5)
    * instead of the O(events²/user) self-join a naive pattern miner
    * pays. Support counting then reduces to a distinct over
    * (user, a, b) — at most 25 rows per user regardless of log depth.
    */
  def seqMining(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val e = eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(1L, Window.unboundedFollowing)
    // all 5 next-occurrence minima in ONE select → ONE WindowExec (a
    // per-type withColumn chain plans 5 stacked Window nodes instead)
    val withNext = e.select(
      Seq(col("user_id"), col("event_type"), col("ts_us")) ++
        types.map(t =>
          min(when(col("event_type") === t, col("ts_us"))).over(w).as(s"n_$t")): _*)
    // bounded driver scalar (PlanSpec: never cross-join a 1-row frame),
    // memoized per session: query construction alone must not rerun it
    val nUsers = SharedFrames.value(spark, dir, "nUsers")(
      e.select(countDistinct(col("user_id"))).head().getLong(0))
    withNext
      .select(col("user_id"), col("event_type").as("a_type"), col("ts_us"),
        explode(array(types.map(t =>
          struct(lit(t).as("b_type"), col(s"n_$t").as("b_us"))): _*)).as("b"))
      .where(col("b.b_us").isNotNull &&
        col("b.b_us") - col("ts_us") <= 1800000000L) // 30 min in µs
      .select(col("user_id"), col("a_type"), col("b.b_type").as("b_type"))
      .distinct()
      .groupBy(col("a_type"), col("b_type"))
      .agg(
        count(lit(1)).as("support"),
        round(count(lit(1)) / lit(nUsers).cast("double"), 6)
          .as("support_ratio"))
      .orderBy(col("a_type"), col("b_type"))
  }

  /** Run-length encoding of per-user behavior sequences (the SQL
    * gaps-and-islands pattern): consecutive same-type events collapse to
    * runs via a break flag + running sum over the user timeline, then a
    * (type, run_length) histogram. Both windows and the first groupBy
    * key on user_id, so everything up to the final ≤|types×lengths|-row
    * histogram is exchange-free over the pinned [[eventSeq]] layout —
    * the repetition-structure profile of a 100-TB event log costs one
    * linear pass. */
  def eventRuns(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val run = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("brk",
        when(lag(col("event_type"), 1).over(w) <=> col("event_type"), 0L)
          .otherwise(1L))
      .withColumn("run_id", sum(col("brk")).over(run))
      .groupBy(col("user_id"), col("event_type"), col("run_id"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("event_type"), col("run_len"))
      .agg(count(lit(1)).as("n_runs"))
      .orderBy(col("event_type"), col("run_len"))
  }

  /** Interval union (merge-overlapping-intervals): each event opens a
    * 5-minute activity interval; overlapping intervals per user merge
    * into islands and the report histograms users by island count with
    * total merged busy time. The merge is the classic one-pass sweep —
    * an island opens where the interval start clears the running max of
    * all previous ends — so it is two windows and two aggregates, all
    * keyed on user_id over the pinned [[eventSeq]] layout: exchange-free
    * until the final ≤|island-count|-row histogram. (The naive
    * interval-overlap SELF-JOIN this replaces is O(events²/user) and
    * the reason interval union is a named hard problem in SQL.) All
    * arithmetic is exact integer µs. */
  def intervalUnion(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("s_us"), col("event_id"))
    val e = eventSeq(spark, dir)
      .select(col("user_id"), col("ts_us").as("s_us"),
        (col("ts_us") + 300000000L).as("e_us"), col("event_id"))
    e
      .withColumn("prev_max",
        max(col("e_us")).over(w.rowsBetween(Window.unboundedPreceding, -1L)))
      .withColumn("island", sum(
          when(col("prev_max").isNull || col("s_us") > col("prev_max"), 1L)
            .otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg((max(col("e_us")) - min(col("s_us"))).as("busy_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"), sum(col("busy_us")).as("busy_us"))
      .groupBy(col("n_islands"))
      .agg(count(lit(1)).as("n_users"), sum(col("busy_us")).as("total_busy_us"))
      .orderBy(col("n_islands"))
  }

  /** Cumulative reach curve: per hour, how many users touched the
    * product for the FIRST time, and the running total — the launch
    * readout every growth dashboard opens with. Each user reduces to
    * their first hour (a per-user min over the user-partitioned
    * [[eventSeq]] — exchange-free), then the curve is one hash
    * aggregate on the ≤|hours| key and one running sum over the
    * hour-bounded frame. The naive spelling — COUNT(DISTINCT user)
    * OVER a cumulative window — re-scans the user set per hour and
    * cannot distribute; first-touch attribution makes reach a plain
    * SUM, which is why warehouses store it this way. */
  def cumulativeReach(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eventSeq(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(expr("ts_ns div 3600000000000")).as("hr"))
      .groupBy(col("hr"))
      .agg(count(lit(1)).as("new_users"))
      .withColumn("reach", sum(col("new_users")).over(w))
      .orderBy(col("hr"))
  }

  /** CUSUM change-point detection on daily purchase revenue — the
    * classic mean-shift detector (Page's cumulative sum): S_d =
    * Σ_{d'≤d} (x_d' − μ), with the day of max |S| flagged as the most
    * likely shift point. All arithmetic stays EXACT integers by scaling
    * through the day count (x·n − total instead of x − total/n), so no
    * division ever happens and the flag cannot sit on a float boundary.
    * The log reduces to the ≤|days| daily grain (shared [[typeDaily]])
    * before the only window — the same bounded-frame shape as
    * [[cumulativeReach]]; the grand total and the argmax are bounded
    * driver scalars, never a cross join. */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = typeDaily(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("day"), col("cents"))
    val t = daily.agg(count(lit(1)).as("n"), sum(col("cents")).as("tot")).head()
    require(t.getLong(0) > 0,
      "CUSUM needs at least one purchase day (sum is NULL on an empty log)")
    val (nDays, total) = (t.getLong(0), t.getLong(1))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // checkpoint the ≤|days|-row curve: the argmax scalar and the output
    // both consume it, and a single materialization keeps them one scan
    val s = daily
      .withColumn("s_scaled",
        sum(col("cents") * lit(nDays) - lit(total)).over(wCum))
      .localCheckpoint()
    val maxAbs = s.agg(max(abs(col("s_scaled")))).head().getLong(0)
    s.select(col("day"), col("cents"), col("s_scaled"),
        when(abs(col("s_scaled")) === lit(maxAbs), 1L).otherwise(0L)
          .as("is_changepoint"))
      .orderBy(col("day"))
  }

  /** Peak concurrency per day — how many 30-minute-gap sessions overlap
    * at the busiest instant. The textbook solution is one GLOBAL +1/−1
    * sweep in boundary order, which does not distribute; this is the
    * exact two-level decomposition: (1) session intervals reduce on the
    * user-partitioned [[eventSeq]] (exchange-free); (2) the running sum
    * is computed INSIDE each day partition (at 100 TB: hour partitions);
    * (3) the cross-partition carry-in — sessions still open at each
    * day's start — is the running net (+starts − ends) over the BOUNDED
    * day grain, added as an offset. Identical to the global sweep by
    * construction: the global prefix sum at any point splits into
    * (prior days' net) + (within-day prefix). Ties at one instant order
    * starts before ends, then by (user, session) — pinned on both
    * engines so touching intervals count as overlapping everywhere.
    *
    * Day-boundary semantics (deliberate, mirrored in the oracle): the
    * carry-in itself is a peak candidate — greatest(carry_in, carry_in
    * + max_run) — so a day whose busiest instant is its first
    * microsecond (only session ENDS all day: every prefix run is
    * negative) reports the true peak, not carry_in + a negative run. A
    * day with NO boundary points at all (fully inside long sessions)
    * emits no row; emitting those would take a dense day spine
    * (cross-join calendar), which the readout deliberately avoids —
    * consumers joining against [[ScaleOps.denseCalendar]] can forward-fill the
    * carry level if they need every-day coverage. */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val iv = eventSeq(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"))
      .withColumn("brk", when(lag(col("ts_us"), 1).over(wU).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(wU) > 1800000000L, 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("brk"))
        .over(wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
    val pts = iv
      .select(col("t0").as("t"), lit(1L).as("delta"), col("user_id"), col("sid"))
      .unionAll(iv.select(col("t1").as("t"), lit(-1L).as("delta"),
        col("user_id"), col("sid")))
      .withColumn("day", expr("(t div 1000) div 86400000"))
    val wDay = Window.partitionBy(col("day"))
      .orderBy(col("t"), col("delta").desc, col("user_id"), col("sid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dayAgg = pts
      .withColumn("run", sum(col("delta")).over(wDay))
      .groupBy(col("day"))
      .agg(max(col("run")).as("max_run"), sum(col("delta")).as("net"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L))
          .as("n_sessions_started"))
    val wCarry = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1L)
    dayAgg
      .withColumn("carry_in", coalesce(sum(col("net")).over(wCarry), lit(0L)))
      .select(col("day"),
        greatest(col("carry_in"), col("carry_in") + col("max_run"))
          .as("peak_concurrent"),
        col("n_sessions_started"))
      .orderBy(col("day"))
  }
}
