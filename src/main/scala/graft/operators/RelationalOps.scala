package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{SharedFrames, Tables}

/** Relational capability set over the TPC-H-ish star schema (SURVEY.md
  * §2.3/§2.5: the reference has zero joins and zero window functions; these
  * are the engine-capability extensions the north star requires).
  *
  * Scale posture: dimension tables (region/nation/customer/part/supplier)
  * are broadcast — at 100 TB the fact tables shuffle on join keys only when
  * the dim side is genuinely large; AQE re-plans skew. Aggregations are
  * partial+final hash aggs; top-k is TakeOrderedAndProject (no global
  * sort); top-N-per-group is a single window over one shuffle by the
  * partition key.
  */
object RelationalOps {

  /** TPC-H Q1-shaped pricing summary: the canonical scan→agg→sort probe.
    * Whole-stage codegen end to end; only one shuffle (the final 4-group
    * agg exchange).
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"),
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** J-1 equi inner join fact⋈dim: order volume per customer. The dim side
    * (customer) is explicitly broadcast — no shuffle of the fact table.
    */
  def ordersPerCustomer(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("order_count"),
        round(sum(col("o_totalprice")), 2).as("total_spent"),
      )
      .orderBy(col("c_custkey"))

  /** J-2 multi-way join chain lineitem⋈orders⋈customer⋈nation⋈region with
    * revenue rollup per region/nation. Catalyst broadcast-joins every dim;
    * the only fact shuffle is the final group-by exchange.
    */
  def revenueByRegionNation(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
      // The orders side is pruned to 2 int columns before the join; at
      // bench scale that projection is comfortably broadcastable, so the
      // fact table never shuffles before the final agg. The hint is
      // size-gated, not unconditional: past the cutoff orders outgrows a
      // sane broadcast and the un-hinted plan (sort-merge, AQE-managed)
      // is the correct one.
      .join(Tables.maybeBroadcast(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("line_count"),
      )
      .orderBy(col("r_name"), col("n_name"))

  /** J-3 left semi + left anti in one result: every customer tagged by
    * whether they have orders. Emitted as a per-segment count so the result
    * is small and stable. Both sides share one scan of orders.
    */
  def customerOrderPresence(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_orders").as("status"))
    val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("status"))
    withOrders.unionByName(withoutOrders)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("status"))
  }

  /** W-1 top-N per group: top 3 orders per customer by totalprice.
    * One shuffle on o_custkey; rank + filter inside the same stage.
    * o_orderkey breaks price ties deterministically.
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** CDC latest-wins compaction: the current-state snapshot a change
    * stream compacts to — one row per key, the newest version by event
    * time (event_id breaks exact-timestamp ties, so "newest" is total and
    * deterministic on every engine and partitioning). Same WindowGroupLimit
    * shape as top-N-per-group with N=1: each side of the exchange keeps
    * one row per key in memory, so the compaction never materializes a
    * full partition — the read-side merge of any upsert/CDC table format
    * at 100 TB. Raw `value` passes through untouched (no float
    * arithmetic to drift cross-engine).
    */
  def latestPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    graft.operators.BehaviorOps.eventSeq(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us"), col("value"))
      .orderBy(col("user_id"))
  }

  /** W-2 running aggregate: cumulative value per user over event order.
    * ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW on a per-user window
    * — one shuffle on user_id.
    */
  def runningSumPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.operators.BehaviorOps.eventSeq(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("running_value", round(sum(col("value")).over(w), 2))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** W-3 lag/lead delta: per-user value delta between consecutive events. */
  def lagDeltaPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    graft.operators.BehaviorOps.eventSeq(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("delta", round(col("value") - col("prev_value"), 2))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** W-4 rank-family windows: percent_rank + cume_dist of each event's
    * value within its type. One shuffle on event_type; the full ORDER BY
    * includes event_id so every rank is distinct and both engines agree
    * exactly (k/n in double is bit-identical for identical k, n).
    */
  def rankStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"),
        // both window columns in ONE select: the withColumn chain
        // planned a stacked WindowExec per call over the same spec
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** SET-1/SET-2: key-set algebra over two event-type populations —
    * users who clicked INTERSECT users who purchased, and click EXCEPT
    * purchase, union'd with tags. Spark plans these as semi/anti joins.
    */
  def userSetOps(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.BehaviorOps.userDayCube(spark, dir)
    val clickers   = e.filter(col("event_type") === "click").select(col("user_id")).distinct()
    val purchasers = e.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
    val both = clickers.intersect(purchasers).withColumn("set_op", lit("click_and_purchase"))
    val only = clickers.except(purchasers).withColumn("set_op", lit("click_only"))
    both.unionByName(only)
      .orderBy(col("set_op"), col("user_id"))
  }

  /** A-8 distinct aggregation: exact distinct users per event type.
    * (The approx_count_distinct/HLL variant is benchmarked separately; it
    * has no deterministic oracle.)
    */
  def distinctUsersPerType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("distinct_users"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"),
      )
      .orderBy(col("event_type"))

  /** A-9 hierarchical rollup region→nation over the dim chain, with
    * grouping() folded to an explicit 'ALL' label so the result needs no
    * null-ordering agreement with the oracle.
    */
  def customerRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        grouping(col("r_name")).as("gr"),
        grouping(col("n_name")).as("gn"),
        count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_balance"),
      )
      .select(
        when(col("gr") === 1, "ALL").otherwise(col("r_name")).as("region"),
        when(col("gn") === 1, "ALL").otherwise(col("n_name")).as("nation"),
        col("n_customers"),
        col("total_balance"),
      )
      .orderBy(col("region"), col("nation"))

  /** Left-outer join with null-row discipline: every customer keeps a
    * row, order-less customers aggregate to 0 via count(col)'s null-skip
    * and an explicit coalesce — the F-2 default-degradation pattern at
    * the join level. */
  def customerOrderSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"),
      )
      .orderBy(col("c_custkey"))

  /** CORRELATED scalar subqueries (the TPC-H Q2/Q17 shape): orders
    * priced above 1.5x their own customer's average. Catalyst
    * decorrelates each subquery into a per-custkey aggregate joined back
    * on the correlation key (RewriteCorrelatedScalarSubquery), and
    * MergeScalarSubqueries fuses the two aggregates over the same
    * correlated source into ONE — so the plan is a single grouped
    * aggregate + equi-join, never a per-row re-execution.
    *
    * The "1.5x the average" predicate is spelled cross-multiplied in
    * integer cents (`cents * 2 * n > 3 * sum_cents`) so the comparison
    * is exact 64-bit arithmetic on both engines — an avg-of-doubles
    * threshold can flip boundary rows between engines on partial-sum
    * order alone (the reason the original double spelling of this query
    * was retired in round 7).
    */
  def correlatedOutliers(spark: SparkSession, dir: String): DataFrame = {
    SharedFrames.sql(spark, "graft_orders" -> Tables.orders(spark, dir))(
      """WITH o AS (
           SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
           FROM graft_orders)
         SELECT o_orderkey, o_custkey, cents
         FROM o
         WHERE cents * 2 * (SELECT count(*) FROM o o2
                            WHERE o2.o_custkey = o.o_custkey)
             > 3 * (SELECT sum(o2.cents) FROM o o2
                    WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""")
  }

  /** One-pass column profiling — null count, distinct count, min/max —
    * for the numeric columns of orders, unpivoted to one row per column.
    * All aggregates compute in a SINGLE scan (the profiling shape that
    * matters at 100 TB: never one pass per column); the unpivot is a
    * zero-cost stack() over the one-row aggregate result.
    */
  def schemaProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nu1"),
        countDistinct(col("o_orderkey")).as("nd1"),
        round(min(col("o_orderkey")).cast("double"), 2).as("mn1"),
        round(max(col("o_orderkey")).cast("double"), 2).as("mx1"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nu2"),
        countDistinct(col("o_custkey")).as("nd2"),
        round(min(col("o_custkey")).cast("double"), 2).as("mn2"),
        round(max(col("o_custkey")).cast("double"), 2).as("mx2"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nu3"),
        countDistinct(col("o_totalprice")).as("nd3"),
        round(min(col("o_totalprice")).cast("double"), 2).as("mn3"),
        round(max(col("o_totalprice")).cast("double"), 2).as("mx3"),
      )
      .selectExpr(
        """stack(3,
             'o_orderkey', n_rows, nu1, nd1, mn1, mx1,
             'o_custkey', n_rows, nu2, nd2, mn2, mx2,
             'o_totalprice', n_rows, nu3, nd3, mn3, mx3)
           AS (col_name, n_rows, n_nulls, n_distinct, min_val, max_val)""")
      .orderBy(col("col_name"))

  /** Data-quality expectation suite — the ingest gate run before any
    * downstream job trusts a batch: one row per RULE with checked/failed
    * counts and the pass verdict. The execution shape is the one that
    * matters at 100 TB: every rule on a table folds into that table's
    * ONE conditional-aggregate scan (never a pass per rule), stack()ed
    * to rule rows at zero cost, and the referential-integrity rule is a
    * keyed LEFT join probe (dim side broadcastable), not a subquery per
    * row. The suite deliberately includes a rule that FAILS on this
    * corpus (`events_value_under_250`) so the report demonstrably
    * carries real failure counts, not a wall of zeros.
    */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("f1"),
        sum(when(col("value").isNull || col("value") <= 0, 1L).otherwise(0L))
          .as("f2"),
        sum(when(!col("event_type").isin(
          "view", "click", "purchase", "signup", "error"), 1L).otherwise(0L))
          .as("f3"),
        sum(when(col("value") > 250, 1L).otherwise(0L)).as("f4"))
      .selectExpr("'events' AS table_name",
        """stack(4,
             'events_user_id_not_null', n, f1,
             'events_value_positive', n, f2,
             'events_type_in_domain', n, f3,
             'events_value_under_250', n, f4)
           AS (rule, n_checked, n_failed)""")
    val li = Tables.lineitem(spark, dir)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("f1"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("f2"))
      .selectExpr("'lineitem' AS table_name",
        """stack(2,
             'lineitem_quantity_in_1_50', n, f1,
             'lineitem_discount_in_0_01', n, f2)
           AS (rule, n_checked, n_failed)""")
    val docs = Tables.documents(spark, dir)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("text").isNull || col("text") === "", 1L).otherwise(0L))
          .as("f1"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("f2"))
      .selectExpr("'documents' AS table_name",
        """stack(2,
             'documents_text_nonempty', n, f1,
             'documents_nchars_consistent', n, f2)
           AS (rule, n_checked, n_failed)""")
    val ri = Tables.orders(spark, dir).select(col("o_custkey"))
      .join(Tables.maybeBroadcast(
        Tables.customer(spark, dir).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("f1"))
      .selectExpr("'orders' AS table_name",
        """stack(1, 'orders_custkey_references_customer', n, f1)
           AS (rule, n_checked, n_failed)""")
    ev.unionByName(li).unionByName(docs).unionByName(ri)
      .select(col("rule"), col("table_name"), col("n_checked"),
        col("n_failed"), (col("n_failed") === 0L).cast("int").as("pass"))
      .orderBy(col("rule"))
  }

  /** MAP-1/JSON-1: JSON prop extraction from the events.props payload —
    * get_json_object keeps the parse inside codegen.
    */
  def propsExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.events(spark, dir).select(col("event_id"), col("props")))
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
      )
      .groupBy((col("k") % 10).as("k_mod10"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("k_mod10"))

  /** UNPIVOT (wide→long melt): the per-type stat row flips into
    * (event_type, metric, value) triples via the native `unpivot`
    * operator — Catalyst plans one Expand, the exact inverse of
    * `q_pivot`'s wide rotation, and the long form is what metric stores
    * and plotting layers ingest. Values are normalized to one DOUBLE
    * column (unpivot requires a common type); counts convert exactly.
    */
  def statsUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast("double").as("n_events"),
        round(sum(col("value")), 2).as("total_value"),
        round(max(col("value")), 2).as("max_value"),
      )
      .unpivot(
        Array(col("event_type")),
        Array(col("n_events"), col("total_value"), col("max_value")),
        "metric", "value")
      .orderBy(col("event_type"), col("metric"))

  /** LATERAL correlated subquery (Spark 4 SQL surface): for every
    * region, the top-2 nations by customer count — the "per-row top-k
    * lookup" join SQL writers reach for before they know window
    * functions. Catalyst decorrelates the LATERAL into a ranked window
    * over the grouped nation counts (no per-region re-execution), so
    * the plan is the same shuffle-once shape as `q_topn_per_group` —
    * asserting the API, not inventing a new execution path.
    */
  def lateralTopNations(spark: SparkSession, dir: String): DataFrame = {
    SharedFrames.sql(spark, "graft_region" -> Tables.region(spark, dir),
        "graft_nation" -> Tables.nation(spark, dir),
        "graft_customer" -> Tables.customer(spark, dir))(
      """SELECT r.r_name AS region, t.n_name AS nation, t.n_customers
         FROM graft_region r,
         LATERAL (
           SELECT n.n_name, count(c.c_custkey) AS n_customers
           FROM graft_nation n JOIN graft_customer c ON c.c_nationkey = n.n_nationkey
           WHERE n.n_regionkey = r.r_regionkey
           GROUP BY n.n_name
           ORDER BY n_customers DESC, n.n_name
           LIMIT 2
         ) t
         ORDER BY region, n_customers DESC, nation""")
  }

  /** Customer-by-order-count distribution (the TPC-H Q13 shape): LEFT
    * join so zero-order customers survive into the histogram — the
    * double aggregation (per-customer count, then count-of-counts) is
    * the canonical "distribution of engagement" query, and the
    * zero-bucket is exactly what an inner join silently loses.
    * count(o_orderkey) counts MATCHES (null-padded rows contribute 0),
    * which is what makes the outer join and the aggregate compose.
    */
  def custOrderDist(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Scalar-subquery HAVING (the TPC-H Q11 shape): parts whose revenue
    * share exceeds 1.4× the mean part share, with BOTH corpus scalars
    * (part count and total revenue) read through uncorrelated scalar
    * subqueries over the same CTE — Catalyst plans each as a one-row
    * subquery reused as a literal, so the fact table is scanned once
    * for the grouped aggregate and once (reduced) for the scalars,
    * never per-row. The threshold is an integer cross-multiply of
    * exact cents (rev · n · 10 > total · 14): scale-free, so the
    * predicate selects the same top tier at any scale factor, and no
    * float division exists for engines to disagree on.
    */
  def scalarSubqueryParts(spark: SparkSession, dir: String): DataFrame = {
    // materialize the per-part revenue CTE ONCE: Catalyst inlines a WITH
    // body into every reference, so the three mentions (main + two
    // scalar subqueries) each re-ran the 600k-row aggregation — 3× the
    // work for the same rows. The scalar-subquery SURFACE stays: both
    // scalars still read through uncorrelated subqueries, now over the
    // checkpointed part-keyed table.
    // project to the 3 consumed columns BEFORE the fan-out exchange —
    // the full 16-column lineitem was round-robin-shuffled just to be
    // dropped by the aggregate's pruning (guide §2: shuffle fewer bytes)
    val pv = SharedFrames.sql(spark, "graft_li_ssq" -> Tables.fanOut(
        Tables.lineitem(spark, dir)
          .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))))(
      """SELECT l_partkey,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) AS BIGINT) AS rev_cents
         FROM graft_li_ssq GROUP BY l_partkey""")
    SharedFrames.sql(spark, "graft_pv_ssq" -> pv.localCheckpoint())(
      """SELECT l_partkey, rev_cents
         FROM graft_pv_ssq
         WHERE rev_cents * (SELECT count(*) FROM graft_pv_ssq) * 10 >
               (SELECT sum(rev_cents) FROM graft_pv_ssq) * 14
         ORDER BY rev_cents DESC, l_partkey""")
  }

  /** Correlated NOT EXISTS (the TPC-H Q22 shape): above-average-balance
    * customers who have never placed an URGENT order, rolled up by
    * market segment. Exercises two subquery forms the DataFrame API
    * hides: the uncorrelated scalar average (compared as an integer
    * cross-multiply of exact cents — a float avg boundary could flip a
    * row on an ulp) and the correlated NOT EXISTS, which Catalyst
    * decorrelates into a left-anti hash join on o_custkey — the same
    * scale shape as `q_semi_anti`, driven from SQL.
    */
  def notExistsSegments(spark: SparkSession, dir: String): DataFrame = {
    SharedFrames.sql(spark, "graft_cust_ne" -> Tables.customer(spark, dir),
        "graft_ord_ne" -> Tables.orders(spark, dir))(
      """WITH pos AS (
           SELECT CAST(count(*) AS BIGINT) AS n_pos,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS cents_pos
           FROM graft_cust_ne WHERE c_acctbal > 0)
         SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_cents
         FROM graft_cust_ne c
         WHERE CAST(round(c_acctbal * 100) AS BIGINT) *
                 (SELECT n_pos FROM pos) > (SELECT cents_pos FROM pos)
           AND NOT EXISTS (SELECT 1 FROM graft_ord_ne o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** Recursive CTE (Spark 4's UnionLoop): walk each customer's order
    * history as a LINKED LIST — stride-4 pointers precomputed by a keyed
    * lead window, the recursion following them four positions per
    * iteration (classic pointer jumping) — and histogram the chain
    * positions. Each order at position p ≤ 4 seeds its own interleaved
    * sub-chain (its seed position read off the lag columns, NOT a rank:
    * p is the first k with lag(k) missing), and every later order is
    * reached from position p−4 exactly once, so UNION ALL recursion
    * still visits every order exactly once and total work across all
    * iterations is Σ|orders| — but the iteration count (a separate
    * Spark job per UnionLoop round, the floor this query was stuck at)
    * drops from max-orders-per-customer to a quarter of it. This is the
    * SQL-surface demonstration; for unbounded-depth graph traversal the
    * iterative star-contraction loop (GraphOps) with per-round
    * localCheckpoint stays the 100-TB path.
    */
  def recursiveChain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the stride-pointer table ONCE: inlining it into the
    // recursive arm re-ran the lead/lag window on EVERY iteration (~30
    // windows + shuffles for a 30-hop walk — the whole 10 s cost of the
    // first cut); the checkpoint makes each iteration a cheap in-memory
    // scan. All five window columns ride ONE spec in ONE select. The
    // walk frontier is the broadcast side (≤ 4 rows per customer per
    // round — bounded the same way the old 1-row frontier was).
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val nxt = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        lead(col("o_orderkey"), 4).over(byDate).as("next4_key"),
        lag(col("o_orderkey"), 1).over(byDate).as("p1"),
        lag(col("o_orderkey"), 2).over(byDate).as("p2"),
        lag(col("o_orderkey"), 3).over(byDate).as("p3"),
        lag(col("o_orderkey"), 4).over(byDate).as("p4"))
      .select(col("o_custkey"), col("o_orderkey"), col("next4_key"),
        when(col("p1").isNull, 1)
          .when(col("p2").isNull, 2)
          .when(col("p3").isNull, 3)
          .when(col("p4").isNull, 4).as("seed_pos"))
      .localCheckpoint()
    SharedFrames.sql(spark, "graft_ord_nxt" -> nxt)(
      """WITH RECURSIVE walk AS (
           SELECT o_custkey, o_orderkey, next4_key, seed_pos AS pos
           FROM graft_ord_nxt WHERE seed_pos IS NOT NULL
           UNION ALL
           SELECT /*+ BROADCAST(w) */
             n.o_custkey, n.o_orderkey, n.next4_key, w.pos + 4
           FROM walk w
           JOIN graft_ord_nxt n ON n.o_orderkey = w.next4_key)
         SELECT CAST(pos AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
         FROM walk GROUP BY pos ORDER BY pos""")
  }
}
