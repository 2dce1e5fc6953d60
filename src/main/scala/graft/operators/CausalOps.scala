package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{SharedFrames, Tables}

/** Causal-inference and model-evaluation operators over the event log —
  * the experimentation tier beyond single-test statistics (`q_ab_ztest`,
  * `q_welch_t`, `q_power_mde`): difference-in-differences, uplift/Qini
  * curves, multi-touch attribution, k-fold cross-validation and split
  * conformal prediction. The reference computes none of these (its
  * dashboard stops at descriptive stats, dashboard/app.py:92-115); a
  * 100-TB behavioral store is exactly where these designs run, and every
  * operator here keeps the engine's exactness discipline: money in
  * integer cents, credit in integer basis points, order statistics by
  * rank (never interpolation), and md5-keyed deterministic assignment so
  * the DuckDB oracle can replay the randomization.
  *
  * Scale shapes: every per-user reduction rides the user-partitioned
  * [[BehaviorOps.eventSeq]] / [[BehaviorOps.userDayCube]] shared frames
  * (exchange-free), model/threshold tables are ≤|folds×types| rows and
  * broadcast, and the only global rank (Qini deciles) goes through the
  * exact [[BehaviorOps.distributedNtile]] instead of a single-partition
  * ntile.
  */
object CausalOps {

  /** Deterministic 50/50 arm assignment from the user id — md5 parity,
    * the engine's replayable stand-in for a randomization log. */
  private val treatExpr =
    "CASE WHEN ascii(substring(md5(CAST(user_id AS STRING)), 1, 1)) % 2 = 1" +
      " THEN 1 ELSE 0 END"

  /** 2024-01-16 as an epoch day: the pre/post boundary splitting the
    * fixed 30-day observation window in half. */
  private val postDay = 19738L

  /** Difference-in-differences on purchase spend: the 2×2 (arm × period)
    * cell means and the DiD estimate — the workhorse quasi-experimental
    * readout when treatment rolls out at a known date. Cell means are
    * exact integer micro-cents (cents·10⁶ div n, no float division);
    * an EMPTY arm×period cell yields NULL explicitly on BOTH sides
    * (Spark div returns NULL on /0 where DuckDB // errors — the edge
    * guard is spelled out even though this data never triggers it);
    * the whole query is ONE hash aggregate over the purchase cells of
    * the shared [[BehaviorOps.userDayCube]] with eight conditional sums,
    * then pure literal arithmetic — no join, no window, one row out. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val cells = BehaviorOps.userDayCube(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("treat", expr(treatExpr))
      .withColumn("post", (col("day") >= postDay).cast("int"))
    def cellMean(t: Int, p: Int) =
      expr(s"CASE WHEN sum(CASE WHEN treat=$t AND post=$p THEN n ELSE 0 END) = 0" +
        " THEN NULL ELSE" +
        s" CAST(sum(CASE WHEN treat=$t AND post=$p THEN cents ELSE 0 END) * 1000000" +
        s" div sum(CASE WHEN treat=$t AND post=$p THEN n ELSE 0 END) AS BIGINT) END")
    cells
      .agg(
        cellMean(1, 1).as("t_post"),
        cellMean(1, 0).as("t_pre"),
        cellMean(0, 1).as("c_post"),
        cellMean(0, 0).as("c_pre"))
      .select(col("t_post"), col("t_pre"), col("c_post"), col("c_pre"),
        ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
          .as("did_micro"))
  }

  /** Per-user (arm, targeting score, post-period purchase cents) frame
    * shared by the uplift estimators ([[qiniCurve]],
    * [[propensityStrata]]): one reduction of the shared
    * [[BehaviorOps.userDayCube]], session-cached so each consumer
    * rereads ≤|users| rows. */
  private def userArm(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "userArm") {
      BehaviorOps.userDayCube(spark, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("day") < postDay, col("n")).otherwise(0L)).as("score"),
          sum(when(col("day") >= postDay && col("event_type") === "purchase",
            col("cents")).otherwise(0L)).as("cents"))
        .withColumn("treat", expr(treatExpr))
    }

  /** Qini (uplift) curve on post-period purchase revenue: users ranked
    * by a targeting score (pre-period activity), cut into exact deciles,
    * and the cumulative treated-vs-scaled-control revenue gap read out
    * per decile — Q(k) = Y_T(k) − Y_C(k)·N_T(k)/N_C(k), the standard
    * uplift audit for "did targeting the top deciles actually buy
    * lift?". Revenue stays integer cents; the control scaling is a
    * single integer division per decile row. The decile cut is the
    * distributed exact ntile (range shuffle + bucket windows), so the
    * per-user frame (~10⁹ rows at 100 TB) never sorts in one task. */
  def qiniCurve(spark: SparkSession, dir: String): DataFrame = {
    val u = userArm(spark, dir)
    val dec = BehaviorOps.distributedNtile(u, 10, "decile")(
      col("score").desc, col("user_id"))
    val perDecile = dec.groupBy(col("decile"))
      .agg(
        sum(when(col("treat") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treat") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("treat") === 1, col("cents")).otherwise(0L)).as("y_t"),
        sum(when(col("treat") === 0, col("cents")).otherwise(0L)).as("y_c"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile
      .select(col("decile"),
        sum(col("n_t")).over(wCum).as("cn_t"),
        sum(col("n_c")).over(wCum).as("cn_c"),
        sum(col("y_t")).over(wCum).as("cy_t"),
        sum(col("y_c")).over(wCum).as("cy_c"))
      .withColumn("qini_cents",
        when(col("cn_c") === 0, lit(null).cast("long"))
          .otherwise(col("cy_t") - expr("(cy_c * cn_t) div cn_c")))
      .orderBy(col("decile"))
  }

  /** U-shaped (position-based) multi-touch attribution: every purchase
    * credits its preceding touches 40% to the first, 40% to the last,
    * and 20% spread over the middles — the industry-standard multi-touch
    * family member next to the existing last-touch `q_attribution`.
    * Credit is EXACT integer basis points summing to 10000 per purchase
    * (the 2000-bp middle pool is divided with remainder-to-earliest, so
    * no float ever splits money). Touch→purchase assignment is a
    * forward `first IGNORE NULLS` window on the user-partitioned
    * [[BehaviorOps.eventSeq]] (exchange-free), then one purchase-keyed
    * join + one purchase-partitioned window — every shuffle keys on
    * user or purchase id. */
  def multiTouch(spark: SparkSession, dir: String): DataFrame = {
    val e = BehaviorOps.eventSeq(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val wFwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(1L, Window.unboundedFollowing)
    val touches = e
      .withColumn("next_pid",
        first(when(col("event_type") === "purchase", col("event_id")),
          ignoreNulls = true).over(wFwd))
      .filter(col("event_type") =!= "purchase" && col("next_pid").isNotNull)
      .select(col("event_type"), col("event_id"), col("ts_us"), col("next_pid"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("next_pid"), col("cents"))
    val wP = Window.partitionBy(col("next_pid"))
      .orderBy(col("ts_us"), col("event_id"))
    val positioned = touches.join(purchases, Seq("next_pid"))
      .select(col("event_type"), col("cents"),
        row_number().over(wP).as("rn"),
        count(lit(1)).over(wP.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
    positioned
      .withColumn("bps",
        when(col("n") === 1, 10000L)
          .when(col("n") === 2, 5000L)
          .when(col("rn") === 1 || col("rn") === col("n"), 4000L)
          .otherwise(expr(
            "2000 div (n - 2) + CASE WHEN rn - 1 <= 2000 % (n - 2)" +
              " THEN 1 ELSE 0 END")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("bps")).as("total_bps"),
        sum(expr("cents * bps div 10000")).as("credited_cents"))
      .select(col("event_type").as("touch_type"), col("n_touches"),
        col("total_bps"), col("credited_cents"))
      .orderBy(col("touch_type"))
  }

  /** K-fold cross-validation of the per-type mean spend model, folds
    * keyed on user_id so no user leaks across the train/eval boundary
    * (the grouped-CV discipline `q_leakage_split` pins for corpus
    * splits, applied to model eval). The out-of-fold mean needs NO
    * second scan: per-(fold, type) sums are one hash aggregate, and
    * leave-one-fold-out means are (total − fold) div (n − n_fold) over
    * that ≤|folds×types|-row table, broadcast back for the error pass.
    * Errors are exact integer cents; MAE is reported in centicents
    * (÷100 precision) to keep the division integer. */
  def cvFolds(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = BehaviorOps.eventSeq(spark, dir)
      .select((col("user_id") % k).as("fold"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val perFold = e.groupBy(col("fold"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val global = perFold.groupBy(col("event_type"))
      .agg(sum(col("n")).as("ng"), sum(col("s")).as("sg"))
    val oof = perFold.join(global, Seq("event_type"))
      // a type confined to one fold has NO out-of-fold data: NULL model
      // (its rows drop from that fold's MAE via null propagation), never
      // a 0/0 — Spark's div would return NULL but DuckDB's // raises,
      // so the guard is spelled out on both sides
      .select(col("fold"), col("event_type"),
        expr("CASE WHEN ng = n THEN NULL" +
          " ELSE (sg - s) div (ng - n) END").as("mean_oof"))
    e.join(broadcast(oof), Seq("fold", "event_type"))
      .withColumn("ae", abs(col("cents") - col("mean_oof")))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_eval"),
        sum(col("ae")).as("total_abs_err_cents"))
      .withColumn("mae_centicents",
        expr("total_abs_err_cents * 100 div n_eval"))
      .orderBy(col("fold"))
  }

  /** Subclassification (propensity-stratified) treatment-effect
    * estimate: users cut into 5 exact strata on the pre-period activity
    * score, per-stratum arm means differenced in exact integer
    * micro-cents, and the overall effect read as the stratum-size-
    * weighted average — the classic observational-causal design that
    * removes confounding carried by the stratification score. Arms are
    * the same md5-parity assignment the DiD/Qini family replays. One
    * cached per-user reduction ([[userArm]]), one distributed-ntile cut,
    * one ≤5-row aggregate, one union for the ALL row — the heavy
    * lifting all rides user-keyed shuffles. */
  def propensityStrata(spark: SparkSession, dir: String): DataFrame = {
    val strata = BehaviorOps.distributedNtile(userArm(spark, dir), 5, "stratum")(
      col("score").desc, col("user_id"))
      .groupBy(col("stratum"))
      .agg(
        sum(when(col("treat") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treat") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("treat") === 1, col("cents")).otherwise(0L)).as("y_t"),
        sum(when(col("treat") === 0, col("cents")).otherwise(0L)).as("y_c"))
      // a stratum with an empty arm has no contrast: NULL diff, NULL
      // contribution (both engines' sum() skips it in the ALL row)
      .withColumn("diff_micro",
        expr("CASE WHEN n_t = 0 OR n_c = 0 THEN NULL" +
          " ELSE y_t * 1000000 div n_t - y_c * 1000000 div n_c END"))
      // w_num is the stratum's contribution to the subclassification ATE
      // numerator; it may be NEGATIVE, so it is never divided (Spark div
      // truncates where DuckDB // floors — they only agree above zero).
      // Consumers divide w_num(ALL) by n_t+n_c themselves.
      .withColumn("w_num", expr("(n_t + n_c) * diff_micro"))
      .localCheckpoint() // ≤5 rows; consumed by the output AND the ALL row
    val overall = strata
      .agg(sum(col("n_t")).as("n_t"), sum(col("n_c")).as("n_c"),
        sum(col("y_t")).as("y_t"), sum(col("y_c")).as("y_c"),
        sum(col("w_num")).as("w_num"))
      .withColumn("diff_micro",
        expr("CASE WHEN n_t = 0 OR n_c = 0 THEN NULL" +
          " ELSE y_t * 1000000 div n_t - y_c * 1000000 div n_c END"))
      .withColumn("stratum", lit(0))
    strata.unionByName(overall.select(strata.columns.map(col): _*))
      .select(col("stratum"), col("n_t"), col("n_c"), col("y_t"), col("y_c"),
        col("diff_micro"), col("w_num"))
      .orderBy(col("stratum"))
  }

  /** Simpson's-paradox detector: the SIGN of the spend-vs-time trend,
    * pooled and within each order-priority stratum — the canonical
    * aggregation-reversal audit. Slope signs come from the exact
    * integer cross-multiplication sign(n·Σxy − Σx·Σy) on offset integer
    * week indexes and whole dollars. The cross products are O(n²·x·y)
    * and outgrow int64 around 30× this data (n·Σxy wraps silently in
    * Spark, errors in DuckDB), so they are carried in DECIMAL(38,0) —
    * Spark decimal128 and DuckDB HUGEINT, the same exact integer
    * arithmetic with 10³⁸ headroom, safe past any real scale-up — and
    * still no float ever enters, so the verdict cannot sit on a
    * rounding boundary. The numerator leaves the query as an
    * exact-integer STRING: decimal-to-text is exact in both engines,
    * whereas a decimal128 output column round-trips DuckDB's parquet
    * writer as double (HUGEINT has no parquet logical type) and can
    * never hash-match. One hash aggregate per stratum plus a
    * ≤|strata|-row re-aggregate for the pooled row.
    */
  def simpson(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')" +
          " AS BIGINT) div 7").as("wk"),
        round(col("o_totalprice"), 0).cast("long").as("dollars"))
    val w0 = o.agg(min(col("wk"))).head().getLong(0)
    val c = o.select(col("grp"), (col("wk") - lit(w0)).as("x"), col("dollars").as("y"))
    val per = c.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
      .localCheckpoint() // ≤|strata| rows; feeds output AND the pooled row
    val pooled = per
      .agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"), sum(col("sxy")).as("sxy"))
      .withColumn("grp", lit("ALL"))
    val num = col("n").cast("decimal(38,0)") * col("sxy") -
      col("sx").cast("decimal(38,0)") * col("sy")
    per.unionByName(pooled.select(per.columns.map(col): _*))
      .select(col("grp"), col("n"),
        num.cast("decimal(38,0)").cast("string").as("slope_num"),
        when(num > 0, 1L).when(num < 0, -1L).otherwise(0L).as("slope_sign"))
      .orderBy(col("grp"))
  }

  /** Split conformal prediction: train the per-type mean on even days,
    * take the ⌈(n+1)·0.9⌉-th smallest absolute residual on odd
    * (calibration) days as the 90% interval half-width q̂, and audit the
    * realized calibration coverage — the distribution-free uncertainty
    * wrapper modern serving stacks put around any point model. q̂ is an
    * exact rank-selected order statistic (the `q_mad_outliers` pattern:
    * row_number against a window count, no interpolation), residuals are
    * exact integer cents, and coverage is integer basis points — so the
    * guarantee (coverage ≥ 9000 bps up to discreteness) is checkable
    * bit-for-bit against the oracle. */
  def conformal(spark: SparkSession, dir: String): DataFrame = {
    val e = BehaviorOps.eventSeq(spark, dir)
      .select(col("event_type"), col("event_id"),
        (expr("ts_ns div 86400000000000") % 2).as("cal"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val mu = e.filter(col("cal") === 0)
      .groupBy(col("event_type"))
      .agg(expr("sum(cents) div count(1)").as("mean_cents"))
    val res = e.filter(col("cal") === 1)
      .join(broadcast(mu), Seq("event_type"))
      .withColumn("r", abs(col("cents") - col("mean_cents")))
    val wT = Window.partitionBy(col("event_type"))
      .orderBy(col("r"), col("event_id"))
    val ranked = res
      .select(col("event_type"), col("r"),
        row_number().over(wT).as("rn"),
        count(lit(1)).over(wT.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
    val qHat = ranked.groupBy(col("event_type"))
      .agg(min(when(col("rn") === expr("((n + 1) * 9) div 10"), col("r")))
          .as("q_hat"),
        min(col("n")).as("n_cal"))
    ranked.join(broadcast(qHat), Seq("event_type"))
      .groupBy(col("event_type"), col("n_cal"), col("q_hat"))
      .agg(expr("CAST(sum(CASE WHEN r <= q_hat THEN 1 ELSE 0 END) * 10000" +
        " div min(n_cal) AS BIGINT)").as("coverage_bps"))
      .select(col("event_type"), col("n_cal"), col("q_hat"), col("coverage_bps"))
      .orderBy(col("event_type"))
  }
}
