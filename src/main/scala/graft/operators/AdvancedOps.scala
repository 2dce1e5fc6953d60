package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.roundCents
import graft.model.Tables

/** Capability extensions beyond the reference's surface: as-of join,
  * range (theta) join, cube, pivot, date bucketing, a typed custom
  * aggregator, and sketch-based distinct counting.
  */
object AdvancedOps {

  /** Events with exact nanosecond timestamps (unique in practice — the
    * deterministic as-of tiebreak). */
  private def ev(spark: SparkSession, dir: String): DataFrame =
    BehaviorOps.eventSeq(spark, dir)
      .select(col("event_id"), col("ts_ns"), col("user_id"),
        col("event_type"), col("value"))

  /** As-of join: for every purchase, the most recent click by the same
    * user at or before it. Spark lacks the operator; the scalable
    * formulation is union + per-user window (one shuffle on user_id,
    * then a running last_value with ignoreNulls) — never a range
    * cross-product. Clicks order before purchases at identical
    * timestamps via the tag sort key.
    */
  def asofPurchaseClick(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_ns"), lit(0).as("tag"),
        col("event_id").as("click_event_id"), lit(null).cast("long").as("purchase_event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns"), lit(1).as("tag"),
        lit(null).cast("long").as("click_event_id"), col("event_id").as("purchase_event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("tag"), col("click_event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click", last(col("click_event_id"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      // microseconds in the output: DuckDB reads the nanos-parquet column
      // at microsecond precision, so the oracle can't see full ns.
      .select(col("purchase_event_id"), col("user_id"),
        expr("ts_ns div 1000").as("ts_us"), col("asof_click"))
      .orderBy(col("purchase_event_id"))
  }

  /** Range join via INTERVAL BINNING — the scale-true formulation of a
    * point-in-interval join: each band is exploded into the fixed-width
    * (50k) bins it covers, the fact side computes its bin with one
    * map-side floor-division (clamped into the open-ended top band), and
    * the join is a plain EQUI join on the bin with the exact range as a
    * residual filter. No nested-loop stage: the pairwise work is keyed,
    * so at 100 TB this is a BroadcastHashJoin (tiny dim) or shuffle on
    * the bin (big×big intervals), never O(n·bands) condition evaluation
    * per row.
    */
  def ordersByPriceBand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val binWidth = 50000d
    val maxBin = 6L // bins 0..5 cover [0, 300k); everything >= 300k clamps to 6
    // (band, lo, hi, binLo, binHi): bin bounds precomputed from the
    // literal edges — bin i covers [i*50k, (i+1)*50k)
    val bands = Seq(
      ("p0_50k", 0d, 50000d, 0L, 0L),
      ("p50k_150k", 50000d, 150000d, 1L, 2L),
      ("p150k_300k", 150000d, 300000d, 3L, 5L),
      ("p300k_plus", 300000d, Double.MaxValue, 6L, 6L),
    ).toDF("band", "lo", "hi", "bin_lo", "bin_hi")
    val bandBins = bands
      .withColumn("bin", explode(sequence(col("bin_lo"), col("bin_hi"))))
      .select(col("band"), col("lo"), col("hi"), col("bin"))
    Tables.orders(spark, dir)
      .withColumn("bin",
        least(floor(col("o_totalprice") / binWidth), lit(maxBin)).cast("long"))
      .join(broadcast(bandBins), Seq("bin"))
      .filter(col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("band"))
  }

  /** CUBE over event_type × value-sign: all four grouping combinations,
    * labels folded so the oracle needs no null-ordering agreement. */
  def eventCube(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .withColumn("size_class", when(col("value") >= 100, "big").otherwise("small"))
      .cube(col("event_type"), col("size_class"))
      .agg(
        grouping(col("event_type")).as("ge"),
        grouping(col("size_class")).as("gs"),
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"),
      )
      .select(
        when(col("ge") === 1, "ALL").otherwise(col("event_type")).as("event_type"),
        when(col("gs") === 1, "ALL").otherwise(col("size_class")).as("size_class"),
        col("n"), col("total_value"),
      )
      .orderBy(col("event_type"), col("size_class"))

  /** Pivot: user cohort × event type counts as columns. The pivot values
    * are pinned so the output schema is static (required at scale — a
    * dynamic pivot scans twice). */
  def eventPivot(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .withColumn("cohort", col("user_id") % 10)
      .groupBy(col("cohort"))
      .pivot("event_type", Seq("click", "purchase", "view", "signup", "error"))
      .count()
      .na.fill(0L)
      .orderBy(col("cohort"))

  /** Date bucketing + formatting (DT-2/DT-3 generalization): monthly
    * order rollup with both a truncated date and a formatted label. */
  def ordersByMonth(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
      .groupBy(col("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        roundCents(avg(col("o_totalprice"))).as("avg_price"),
      )
      .withColumn("month_label", date_format(col("month"), "yyyy-MM"))
      .orderBy(col("month"))

  /** U-3: a typed custom Aggregator (UDAF) — geometric mean over the
    * positive event values, as exp(mean(ln x)) with a (sumLog, n)
    * buffer. Runs as a real partial/final aggregate (merge is
    * associative), so it scales like any built-in agg.
    */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    override def zero: (Double, Long) = (0.0, 0L)
    override def reduce(b: (Double, Long), x: Double): (Double, Long) =
      (b._1 + math.log(x), b._2 + 1)
    override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Double, Long)): Double =
      if (b._2 == 0) 0.0 else math.exp(b._1 / b._2)
    override def bufferEncoder = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    override def outputEncoder = Encoders.scalaDouble
  }

  def geoMeanPerType(spark: SparkSession, dir: String): DataFrame = {
    val geomean = udaf(GeoMean)
    ev(spark, dir)
      .filter(col("value") > 0)
      .groupBy(col("event_type"))
      .agg(round(geomean(col("value")), 6).as("geo_mean_value"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** GROUPING SETS: per-type totals, per-cohort totals, and the grand
    * total in one pass over an Expand. */
  def eventGroupingSets(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .withColumn("cohort", col("user_id") % 3)
      .groupingSets(Seq(Seq(col("event_type")), Seq(col("cohort")), Seq()),
        col("event_type"), col("cohort"))
      .agg(
        when(grouping("event_type") === 1, lit("ALL"))
          .otherwise(col("event_type")).as("event_type_all"),
        when(grouping("cohort") === 1, lit(-1))
          .otherwise(col("cohort")).as("cohort_all"),
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("event_type_all").as("event_type"),
        col("cohort_all").as("cohort"), col("n"), col("total_value"))
      .orderBy(col("event_type"), col("cohort"))

  /** argmax/argmin (max_by/min_by) with a deterministic composite key:
    * value has exactly 2 decimals, so round(value*100) is an exact
    * integer and the composite (value, event_id) order is total —
    * ties cannot make the picked row engine-dependent. */
  def extremeEventPerType(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        max_by(col("event_id"),
          expr("CAST(round(value * 100, 0) AS BIGINT) * 1000000000 + event_id"))
          .as("max_value_event"),
        min_by(col("event_id"),
          expr("CAST(round(value * 100, 0) AS BIGINT) * 1000000000 + event_id"))
          .as("min_value_event"),
        round(max(col("value")), 2).as("max_value"),
        round(min(col("value")), 2).as("min_value"),
      )
      .orderBy(col("event_type"))

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation definition).
    * The approximate sibling at scale is approx_percentile (t-digest) —
    * same story as count-distinct vs HLL. */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n"),
      )
      .orderBy(col("event_type"))

  /** Dispersion statistics per group: sample stddev/variance plus the
    * value↔hour-of-day correlation (a genuinely bivariate agg). */
  def valueDispersion(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .withColumn("hour", expr("(ts_ns div 1000000000 div 3600) % 24").cast("double"))
      .groupBy(col("event_type"))
      .agg(
        round(stddev_samp(col("value")), 4).as("stddev_value"),
        round(var_samp(col("value")), 4).as("var_value"),
        round(corr(col("value"), col("hour")), 6).as("corr_value_hour"),
        count(lit(1)).as("n"),
      )
      .orderBy(col("event_type"))

  /** A-8 approx variant: HLL++ distinct-user sketch next to the exact
    * count (the 100-TB path: constant memory per group vs a distinct
    * shuffle). No DuckDB oracle — sketch estimates are
    * implementation-specific; the driver records a rows-only check.
    */
  /** IQR outlier census per event type — the robust-statistics filter a
    * data-quality pass runs before training. Quartiles are EXACT ORDER
    * STATISTICS (the value at rank floor((n-1)·q)+1), not interpolated
    * percentiles: the fence is then an actual data value, bit-identical
    * on any engine, so the < / > comparisons below cannot flip on the
    * ulp drift interpolation would introduce. Shape: one window shuffle
    * for ranks, a 5-row fence broadcast, one counting scan.
    */
  def iqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("event_type"), col("value"))
    val wRank = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wAll = Window.partitionBy(col("event_type"))
    // Single pass: the quartile values are order statistics at fixed
    // ranks, so instead of aggregating them out and broadcast-joining
    // the fences back onto a SECOND scan of the events, read them onto
    // every row as type-partitioned window maxima (exactly one row
    // matches each rank, so max == that order statistic) and take the
    // census from the same windowed frame — one type exchange total,
    // no re-scan, no join (guide §2.4: two passes keyed the same way
    // share one exchange).
    e.select(col("event_type"), col("value"),
        row_number().over(wRank).as("rn"),
        count(lit(1)).over(wAll).as("n"))
      .select(col("event_type"), col("value"),
        max(when(col("rn") === expr("(n - 1) div 4 + 1"), col("value")))
          .over(wAll).as("p25"),
        max(when(col("rn") === expr("(n - 1) * 3 div 4 + 1"), col("value")))
          .over(wAll).as("p75"))
      .withColumn("lo", col("p25") - lit(1.5) * (col("p75") - col("p25")))
      .withColumn("hi", col("p75") + lit(1.5) * (col("p75") - col("p25")))
      .groupBy(col("event_type"))
      .agg(
        round(min(col("lo")), 6).as("lo"),
        round(min(col("hi")), 6).as("hi"),
        count(lit(1)).as("n"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"),
      )
      .orderBy(col("event_type"))
  }

  /** Robust outlier census via the median absolute deviation — the
    * heavy-tail-safe twin of [[iqrOutliers]]: MAD's 50% breakdown point
    * survives contamination that drags IQR fences (25%) or z-scores
    * (0%). Both medians are EXACT lower-median order statistics chosen
    * by rank (row_number == (n−1) div 2 + 1), the [[iqrOutliers]]
    * pattern — no interpolation, so the fence values are actual input
    * doubles and the cross-engine comparison can't drift on an
    * interpolation ulp. Two keyed window+aggregate passes (one per
    * median: deviations need the first median joined back) plus the
    * final broadcast of per-type fences — every shuffle keys on
    * event_type. The 2.5 × 1.4826 scale factor (≈2.5σ under normality)
    * is written as the single literal 3.7065 so both engines threshold
    * with the same double. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    // The [[iqrOutliers]] single-exchange discipline, applied twice in
    // sequence: each median is an order statistic at a fixed rank, read
    // onto every row as a type-partitioned window max (exactly one row
    // matches the rank) instead of aggregated out and broadcast-joined
    // onto a SECOND scan. The old shape ran the event scan 3× with two
    // broadcast joins; every window below keys on event_type, so this
    // is ONE scan and ONE exchange with the deviation re-sort riding
    // the same partitioning in-stage (guide §2.4).
    val e = ev(spark, dir).select(col("event_type"), col("value"))
    val wRank = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wAll = Window.partitionBy(col("event_type"))
    val wDev = Window.partitionBy(col("event_type")).orderBy(col("dev"))
    e.select(col("event_type"), col("value"),
        row_number().over(wRank).as("rn"),
        count(lit(1)).over(wAll).as("n"))
      .select(col("event_type"), col("value"), col("n"),
        max(when(col("rn") === expr("(n - 1) div 2 + 1"), col("value")))
          .over(wAll).as("med"))
      .withColumn("dev", abs(col("value") - col("med")))
      .select(col("event_type"), col("med"), col("dev"), col("n"),
        row_number().over(wDev).as("rnd"))
      .select(col("event_type"), col("med"), col("dev"),
        max(when(col("rnd") === expr("(n - 1) div 2 + 1"), col("dev")))
          .over(wAll).as("mad"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("med")), 6).as("med"),
        round(min(col("mad")), 6).as("mad"),
        sum(when(col("dev") > lit(3.7065) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
      )
      .orderBy(col("event_type"))
  }

  /** Winsorized statistics per group — the third robust-stats member
    * next to IQR fences and MAD: instead of DROPPING tail values
    * (trimming) the tails are CLAMPED to the exact p05/p95 order
    * statistics, preserving n while bounding any single value's
    * leverage — the standard pre-aggregation guard for metrics fed by
    * user-controlled numbers. Fences are rank-selected actual input
    * values (the [[iqrOutliers]] trick: row_number == (n−1)·k div 100
    * + 1), so clamping compares exact doubles and only the final means
    * round. One keyed window pass + one broadcast of 2 fences per key. */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("event_type"), col("value"))
    val wAll = Window.partitionBy(col("event_type"))
    val fences = e
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("value"))))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("event_type"))
      .agg(
        min(when(col("rn") === expr("(n - 1) * 5 div 100 + 1"), col("value"))).as("lo"),
        min(when(col("rn") === expr("(n - 1) * 95 div 100 + 1"), col("value"))).as("hi"),
      )
    e.join(broadcast(fences), Seq("event_type"))
      .withColumn("w", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("lo")), 6).as("p05"),
        round(min(col("hi")), 6).as("p95"),
        round(avg(col("value")), 6).as("mean_raw"),
        round(avg(col("w")), 6).as("mean_winsorized"),
        sum(when(col("value") =!= col("w"), 1L).otherwise(0L)).as("n_clamped"),
      )
      .orderBy(col("event_type"))
  }

  /** Quantile-sketch audit — the third member of the sketch tier next to
    * HLL++ ([[approxDistinctUsers]]) and Misra–Gries (`q_heavy_hitters`):
    * percentile_approx's mergeable Greenwald–Khanna-style summary at
    * accuracy 1000 (rank error ε = 1/1000), with the realized rank
    * INTERVAL of each returned value measured in-query. Because the
    * sketch returns an actual data value and this column carries heavy
    * point masses (2-dp values), the honest check is interval coverage —
    * count(< v)/n … count(≤ v)/n must straddle the target rank within ε
    * — not distance to a single rank. Merge order makes the sketch
    * result partitioning-dependent, so the query is declared rows-only;
    * the ε guarantee itself (which holds under ANY merge order) is
    * spec-asserted. One sketch pass + one audit pass over the fact
    * table with the 5-row sketch result broadcast back.
    */
  def approxPercentileAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("event_type"), col("value"))
    val sk = e.groupBy(col("event_type"))
      .agg(
        percentile_approx(col("value"), array(lit(0.5), lit(0.9)), lit(1000)).as("ap"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        col("ap").getItem(0).as("p50"), col("ap").getItem(1).as("p90"))
    def rankOf(bound: org.apache.spark.sql.Column) =
      round(sum(when(bound, 1L).otherwise(0L)) / max(col("n")).cast("double"), 6)
    e.join(broadcast(sk), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        max(col("p50")).as("p50_approx"),
        rankOf(col("value") < col("p50")).as("p50_rank_lo"),
        rankOf(col("value") <= col("p50")).as("p50_rank_hi"),
        max(col("p90")).as("p90_approx"),
        rankOf(col("value") < col("p90")).as("p90_rank_lo"),
        rankOf(col("value") <= col("p90")).as("p90_rank_hi"),
      )
      .orderBy(col("event_type"))
  }

  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        // rsd 0.05 (the engine default), NOT 0.01: HLL++ register count
        // grows ~1/rsd² — at 0.01 the aggregation buffer is 1639 longs
        // PER GROUP and every row update drags that row through the
        // imperative-aggregate path (~5× the whole-query time). The
        // sketch's job here is the cardinality-vs-exact comparison, not
        // 1% error.
        approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
      )
      .orderBy(col("event_type"))

  /** Oracle-facing audit of [[approxDistinctUsers]] — same conversion as
    * `q_hll_union`: the HLL++ estimate has no DuckDB twin, but the exact
    * distinct count does, and "the estimate landed within 3×rsd of
    * exact" is a deterministic fact of the seeded, merge-order-
    * insensitive sketch over fixed data. Emitting (exact, bound-check)
    * turns a bare rows-only row into a full rows+schema+hash check; the
    * raw estimates stay reachable via [[approxDistinctUsers]]
    * (spec-pinned error bound).
    */
  def approxDistinctAudit(spark: SparkSession, dir: String): DataFrame =
    approxDistinctUsers(spark, dir)
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          < col("exact_users") * 0.15).as("hll_ok"))
      .orderBy(col("event_type"))

  /** Oracle-facing audit of [[approxPercentileAudit]]: the GK-style
    * sketch VALUE is partitioning-dependent, but its ε guarantee — the
    * returned value's realized rank interval straddles the target rank
    * within ε — holds under ANY merge order, so the boolean is a
    * deterministic fact and the exact row count anchors the hash. ε is
    * 1/accuracy = 0.001, padded 5× for the point-mass plateaus of 2-dp
    * values (the interval endpoints are exact counts, the guarantee is
    * on interval-to-target distance).
    */
  def approxPercentileOracleAudit(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.005
    approxPercentileAudit(spark, dir)
      .select(col("event_type"), col("n"),
        (col("p50_rank_lo") <= 0.5 + eps && col("p50_rank_hi") >= 0.5 - eps)
          .as("p50_ok"),
        (col("p90_rank_lo") <= 0.9 + eps && col("p90_rank_hi") >= 0.9 - eps)
          .as("p90_ok"))
      .orderBy(col("event_type"))
  }

  /** 95% confidence interval for the mean value per event type, from
    * exact integer-free moments (n, Σx, Σx² in one hash aggregate —
    * the same mergeable-moment discipline as the weekday z-scores):
    * half-width = 1.96·s/√n with the sample (n−1) variance. At 100 TB
    * a CI is the difference between "the dashboard number moved" and
    * "the dashboard number moved SIGNIFICANTLY"; computing it from
    * mergeable sums means the same statistic falls out of incremental
    * partials for free. Values are 2-dp currency-like doubles whose
    * sums are stable to far beyond the rounded output precision.
    */
  def meanValueCi(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sx"),
        sum(col("value") * col("value")).as("sxx"))
      .withColumn("mean", col("sx") / col("n"))
      .withColumn("sd", sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
        / (col("n") - 1)))
      .withColumn("half", lit(1.96) * col("sd") / sqrt(col("n").cast("double")))
      .select(
        col("event_type"), col("n"),
        round(col("mean"), 4).as("mean_value"),
        round(col("sd"), 4).as("sd"),
        round(col("mean") - col("half"), 4).as("ci_lo"),
        round(col("mean") + col("half"), 4).as("ci_hi"),
      )
      .orderBy(col("event_type"))

  /** Equi-depth (equal-frequency) histogram of value per event type:
    * ntile(10) assigns every row to a decile — ties broken by event_id
    * so the bucketing is total-ordered and deterministic — then one
    * hash aggregate per (type, decile) emits count and the exact value
    * boundaries. Equi-depth is the histogram query optimizers and
    * drift monitors actually want (equal-width buckets starve on
    * skewed data); the per-group sort is the unavoidable cost and the
    * only shuffle.
    */
  def equidepthHist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    ev(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("event_type"), col("decile"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("value")), 2).as("lo"),
        round(max(col("value")), 2).as("hi"),
      )
      .orderBy(col("event_type"), col("decile"))
  }

  /** KMV (k-minimum-values) distinct sketch per event type, k=64: keep
    * the k smallest values of a uniform content hash over the distinct
    * keys; the k-th smallest order statistic U_(k) estimates the
    * cardinality as (k-1)/U_(k) (Bar-Yossef et al., 2002). Unlike
    * HLL++ this sketch is fully ORACLE-CHECKABLE — md5 is deterministic
    * and both engines keep the same 64 hashes — which makes it the
    * auditable member of the sketch family (HLL/CMS/Misra–Gries/GK are
    * seeded or order-dependent). Shape: distinct (type, key) pairs,
    * hash to a 32-bit integer via the first 8 md5 hex digits, per-group
    * bottom-k via row_number (WindowGroupLimit pushes the k-cap below
    * the sort), then one row per group. Mergeable by construction:
    * bottom-k of a union is the bottom-k of pooled bottom-k sets.
    */
  def kmvDistinctUsers(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = ev(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"),
        col("user_id"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
          .as("h"))
    val byH = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sketch = hashed
      .withColumn("rn", row_number().over(byH))
      .filter(col("rn") <= k)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("k_kept"), max(col("h")).as("kth_hash"))
    val exact = ev(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    // U_(k) = kth_hash / 2^32 (the hash is uniform on [0, 2^32))
    val est = (col("k_kept") - 1).cast("double") * lit(4294967296.0) / col("kth_hash")
    sketch.join(exact, Seq("event_type"))
      .select(
        col("event_type"), col("k_kept"), col("kth_hash"), col("exact_users"),
        round(est, 2).as("kmv_estimate"),
        round(abs(est - col("exact_users")) / col("exact_users"), 4).as("rel_err"),
      )
      .orderBy(col("event_type"))
  }

  /** The native-operator as-of join ([[graft.plans.AsOfJoinExec]] — a
    * custom logical node + Strategy + physical merge-walk plan) driving
    * the same purchase←click semantics as [[asofPurchaseClick]]'s
    * composed union+window formulation: for every purchase, the latest
    * click by the same user at or before it, rolled up by hour. DuckDB's
    * native `ASOF LEFT JOIN` is the oracle — engine-native operator on
    * both sides of the correctness gate. Right-side columns are renamed
    * before the node (fresh exprIds + collision-free concatenated
    * output).
    */
  def asofNative(spark: SparkSession, dir: String): DataFrame = {
    // both sides read the one materialized session frame
    val e = BehaviorOps.eventSeq(spark, dir)
      .select(col("user_id"), col("ts_ns").as("tsn"), col("event_type"), col("value"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsn"), col("value"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tsn").as("c_tsn"),
        col("value").as("c_value"))
    graft.plans.AsOfOps.asof(p, c, "user_id", "tsn", "c_user", "c_tsn")
      .groupBy((expr("tsn div 3600000000000") % 24).as("hr"))
      .agg(
        count(lit(1)).as("n_purchases"),
        count(col("c_tsn")).as("n_matched"),
        coalesce(sum(when(col("c_tsn").isNotNull,
          round(col("c_value") * 100, 0).cast("long"))), lit(0L)).as("matched_cents"))
      .orderBy(col("hr"))
  }

  /** Skyline (Pareto frontier) of parts: cheapest-ever price (lower
    * better) vs lifetime quantity sold (higher better); a part is on the
    * frontier iff nothing is at-least-as-good on both axes and strictly
    * better on one. Both measures are exact integers (price as cents).
    *
    * The textbook formulation — "max y over all strictly-cheaper points"
    * — is a running max over a GLOBAL price order, i.e. a
    * single-partition window at scale. This runs the same math in two
    * bounded phases instead: the distinct-x table is bucketed by price
    * range, the running max runs INSIDE each bucket (partitioned
    * window), and the cross-bucket carry-in comes from a prefix max
    * over the ≤257-row per-bucket summary (a bounded-dimension window,
    * broadcast back) — the classic frontier-of-frontiers decomposition,
    * same shape as the curriculum-shard offset arithmetic.
    */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.fanOut(Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_extendedprice"), col("l_quantity")))
      .groupBy(col("l_partkey").as("pk"))
      .agg(
        round(min(col("l_extendedprice")) * 100, 0).cast("long").as("x"),
        sum(col("l_quantity")).cast("long").as("y"))
      .localCheckpoint() // feeds the distinct-x reduction and the final join
    val r = pts.agg(min(col("x")), max(col("x"))).head() // bounded scalars
    val width = math.max(1L, (r.getLong(1) - r.getLong(0) + 1) / 256)
    val atx = pts.groupBy(col("x")).agg(max(col("y")).as("ymax"))
      .withColumn("bucket", expr(s"x div $width"))
    // phase 1: strict running max inside each price bucket (rows are
    // distinct x, so ROWS ... 1 PRECEDING is exactly "strictly cheaper")
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // phase 2: carry-in from all earlier buckets via the bounded summary
    val wPre = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val carry = atx.groupBy(col("bucket")).agg(max(col("ymax")).as("bmax"))
      .withColumn("carry", max(col("bmax")).over(wPre))
      .select(col("bucket"), col("carry"))
    val sentinel = Long.MinValue
    val frontier = atx
      .join(Tables.maybeBroadcast(carry), Seq("bucket"))
      .withColumn("ylt", greatest(
        coalesce(max(col("ymax")).over(wIn), lit(sentinel)),
        coalesce(col("carry"), lit(sentinel))))
      .select(col("x"), col("ymax"), col("ylt"))
    pts.join(frontier, Seq("x"))
      .filter(col("y") === col("ymax") && col("y") > col("ylt"))
      .select(col("pk"), col("x"), col("y"))
      .orderBy(col("x"), col("pk"))
  }

  /** Error-budget burn rate — the SRE multi-window alert as a query:
    * hourly error share against a 25% budget, with the 1-hour (fast)
    * and rolling 6-hour (slow) burn multipliers and the page-worthy
    * flag only when BOTH windows burn hot (the standard guard against
    * paging on a single noisy hour). The corpus reduces to hourly
    * integer cells before any window; both windows are exact integer
    * sums; the paging predicate is an integer cross-multiply so no
    * float share can flip it.
    */
  def burnRate(spark: SparkSession, dir: String, budgetPct: Int = 25): DataFrame = {
    val w6 = Window.orderBy(col("hr")).rowsBetween(-5, Window.currentRow)
    BehaviorOps.eventSeq(spark, dir)
      .select(expr("ts_ns div 3600000000000").as("hr"), col("event_type"))
      .groupBy(col("hr"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errs"))
      .withColumn("n6", sum(col("n")).over(w6))   // hour dimension: bounded
      .withColumn("e6", sum(col("errs")).over(w6))
      .select(col("hr"), col("n"), col("errs"),
        round(col("errs") * lit(1.0) / col("n") / (budgetPct / 100.0), 6).as("burn_1h"),
        round(col("e6") * lit(1.0) / col("n6") / (budgetPct / 100.0), 6).as("burn_6h"),
        (col("errs") * (100 / budgetPct) > col("n") &&
          col("e6") * (100 / budgetPct) > col("n6")).as("paging"))
      .orderBy(col("hr"))
  }

  /** Per-day value bands (exact lower p10/p50/p90) — the percentile
    * ribbon behind every latency/spend band chart, computed as exact
    * rank-selected order statistics inside each day partition (the
    * `q_iqr_outliers` discipline: total-order tie-break, no
    * interpolation ulp, identical on any engine).
    */
  def dailyBands(spark: SparkSession, dir: String): DataFrame = {
    val byVal = Window.partitionBy(col("day")).orderBy(col("value"), col("event_id"))
    val wDay = Window.partitionBy(col("day"))
    BehaviorOps.eventSeq(spark, dir)
      .select(expr("ts_ns div 86400000000000").as("day"), col("value"), col("event_id"))
      .withColumn("rk", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(wDay))
      .groupBy(col("day"))
      .agg(max(col("n")).as("n"),
        round(max(when(col("rk") === expr("(n + 9) DIV 10"), col("value"))), 2).as("p10"),
        round(max(when(col("rk") === expr("(n + 1) DIV 2"), col("value"))), 2).as("p50"),
        round(max(when(col("rk") === expr("(n * 9 + 9) DIV 10"), col("value"))), 2).as("p90"))
      .orderBy(col("day"))
  }

  /** Median-of-means robust mean estimator — the heavy-tail-tolerant
    * alternative to the plain average (and the estimator sketch-style
    * pipelines reach for when a single corrupted shard could drag the
    * global mean): rows land in k=32 content-addressed buckets (md5 of
    * the event id — deterministic, no RNG state), each bucket averages
    * independently as ONE partial+final aggregate, and the estimate is
    * the exact lower median of the 32 bucket means (a bounded 32-row
    * rank, not a corpus sort).
    */
  def medianOfMeans(spark: SparkSession, dir: String, k: Int = 32): DataFrame = {
    val buckets = Tables.fanOut(Tables.events(spark, dir)
        .select(col("event_id"), col("value")))
      .select(
        (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % k).as("g"),
        col("value"))
    val means = buckets.groupBy(col("g"))
      .agg(round(avg(col("value")), 6).as("mean_v"), count(lit(1)).as("n"))
    val wRank = Window.orderBy(col("mean_v"), col("g")) // k-row bounded window
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    means
      .withColumn("rk", row_number().over(wRank))
      .withColumn("kk", count(lit(1)).over(wAll))
      .filter(col("rk") === expr("(kk + 1) DIV 2"))
      .select(col("kk").as("k_groups"), col("mean_v").as("mom_estimate"))
  }

  /** Benford first-digit audit of the value stream — the classic
    * fabricated-data screen: observed first-significant-digit shares vs
    * Benford's log10(1+1/d), with per-digit χ² contributions. The digit
    * is extracted from the INTEGER cents string (×100 preserves the
    * leading significant digit and sidesteps float formatting and
    * log-of-value boundary ulps), so the census is exact; the only
    * floats are the nine final share/χ² divisions over the 9-row
    * digit table, where the corpus total rides a bounded-dimension
    * window instead of a driver scalar.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val obs = BehaviorOps.eventSeq(spark, dir).select(col("value"))
      .filter(col("value") > 0)
      .select(substring(round(col("value") * 100, 0).cast("long").cast("string"), 1, 1)
        .cast("long").as("d"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_obs"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val p = log(10.0, lit(1.0) + lit(1.0) / col("d"))
    obs
      .withColumn("n", sum(col("n_obs")).over(wAll)) // 9-row bounded window
      .select(
        col("d"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n"), 6).as("obs_share"),
        round(p, 6).as("benford_p"),
        round(pow(col("n_obs") - col("n") * p, 2) / (col("n") * p), 6).as("chi2_term"))
      .orderBy(col("d"))
  }
}
