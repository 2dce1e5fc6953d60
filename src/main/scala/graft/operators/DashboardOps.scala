package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{riskScore, roundCents}
import graft.functions.TextFunctions
import graft.model.Tables

/** The dashboard's hand-rolled Python statistics (reference:
  * dashboard/app.py:30-85), re-expressed as declarative aggregations over
  * the `documents` / `events` testdata. Each per-request Python loop becomes
  * one hash-aggregate Catalyst plans with map-side partial aggregation —
  * the shape that scales to 100 TB, unlike the reference's full rescan per
  * HTTP request.
  */
object DashboardOps {

  /** Risk-scored documents: the corpus stand-in for the processed-post
    * stream. One narrow projection, fully codegen'd.
    */
  def scoredDocuments(spark: SparkSession, dir: String): DataFrame = {
    // riskScore builds the native RiskScore expression on any session: ~10
    // lines of Java per use vs the 16-way contains tree of the Column-algebra
    // form (which, once a filter predicate duplicates it, dominates codegen
    // compile time).
    Tables.fanOut(Tables.documents(spark, dir))
      .select(
        col("doc_id"),
        col("lang"),
        col("source"),
        col("n_chars"),
        riskScore(col("text")).as("risk_score"),
      )
  }

  /** A-1 global count + A-2 global mean + A-3 conditional count
    * (reference: dashboard/app.py:43-45). One single-row aggregate.
    * `avg_chars` keeps the query non-degenerate on the synthetic corpus
    * (risk_score is uniformly 0 there).
    */
  def globalStats(spark: SparkSession, dir: String): DataFrame =
    scoredDocuments(spark, dir).agg(
      count(lit(1)).as("total_posts"),
      roundCents(avg(col("risk_score"))).as("avg_risk"),
      sum(when(col("risk_score") >= 30, 1L).otherwise(0L)).as("high_risk_count"),
      roundCents(avg(col("n_chars"))).as("avg_chars"),
    )

  /** A-4 hash group-by with multi-agg (reference: dashboard/app.py:48-59):
    * per group count / sum / mean in a single pass. Partial+final hash agg
    * — the single-pass dict accumulation the reference hand-rolled.
    */
  def statsByGroup(spark: SparkSession, dir: String): DataFrame =
    scoredDocuments(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("post_count"),
        sum(col("n_chars")).as("total_chars"),
        roundCents(avg(col("n_chars"))).as("avg_chars"),
        roundCents(avg(col("risk_score"))).as("avg_risk"),
      )
      .orderBy(col("lang"))

  /** A-5 capped per-group row collection (reference: dashboard/app.py:52,55
    * collects EVERY post per group — unbounded; we cap at K as the
    * 100-TB-safe variant). Emitted as a comma-joined string for stable
    * hashing.
    */
  def groupSamples(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        array_join(slice(sort_array(collect_list(col("doc_id"))), 1, k), ",")
          .as("sample_doc_ids"),
        count(lit(1)).as("post_count"),
      )
      .orderBy(col("lang"))

  /** The fixed bucket labels of A-6, in order
    * (reference: dashboard/app.py:62). */
  val riskBuckets: Seq[String] = Seq("0-9", "10-19", "20-29", "30+")

  /** Bucket expression for A-6: left-closed edges [0,10) [10,20) [20,30)
    * [30,∞) (reference: dashboard/app.py:65-72). */
  def riskBucket(risk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(risk < 10, "0-9")
      .when(risk < 20, "10-19")
      .when(risk < 30, "20-29")
      .otherwise("30+")

  /** A-6 bucketed histogram with all four buckets always present even when
    * empty (the reference pre-seeds the dict keys, dashboard/app.py:62) —
    * realized as a right join against a literal bucket dimension.
    */
  def riskHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = scoredDocuments(spark, dir)
      .groupBy(riskBucket(col("risk_score")).as("bucket"))
      .agg(count(lit(1)).as("n"))
    val buckets = riskBuckets.toDF("bucket")
    // Left-outer from the 4-row literal bucket dim, broadcasting the
    // (already ≤4-row) aggregated counts: no shuffle, and the preserved
    // side is the streamed one so the broadcast hint is legal.
    buckets
      .join(broadcast(counts), Seq("bucket"), "left_outer")
      .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("bucket"))
  }

  /** S-1 sort desc + limit (top-k recency; reference: dashboard/app.py:75).
    * Catalyst plans TakeOrderedAndProject — no global sort, each partition
    * keeps k rows and the driver merges: exactly the scalable top-k.
    * event_id is the unique tiebreak (Spark sort is not stable; the
    * reference relied on Python's stable sort).
    */
  def recentTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id").desc)
      .limit(k)

  /** F-1 high-risk filter (reference: kafka_consumer_simple.py:168,
    * dashboard/app.py:45): the alert predicate as a standalone scan —
    * pushed down into the parquet reader.
    */
  def highRisk(spark: SparkSession, dir: String, threshold: Int = 30): DataFrame =
    scoredDocuments(spark, dir)
      .filter(col("risk_score") >= threshold)
      .select(col("doc_id"), col("risk_score"))
      .orderBy(col("doc_id"))

  /** The `/api/stats` payload in ONE job (reference: dashboard/app.py:30-97
    * assembles total/avg/high-risk/per-group/histogram/recent-10 into one
    * response per request, each via its own Python rescan). Here the scored
    * frame is computed ONCE and cached; every payload section reads the
    * cache, so the corpus is scanned and risk-scored exactly once per
    * refresh — at 100 TB the cache is the materialized serving view and
    * each section is a small aggregate over it. The sections union into a
    * tall (section, key, n, metric) frame so the whole payload is one
    * hashable result set.
    */
  def dashboardPayload(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocuments(spark, dir).cache()
    scored.createOrReplaceTempView("graft_dashboard_scored")
    val payload = spark.sql(
      """SELECT 'stats' AS section, 'all' AS key,
           CAST(count(*) AS BIGINT) AS n, avg(risk_score) AS metric
         FROM graft_dashboard_scored
         UNION ALL
         SELECT 'stats', 'avg_chars', CAST(count(*) AS BIGINT), avg(n_chars)
         FROM graft_dashboard_scored
         UNION ALL
         SELECT 'stats', 'high_risk',
           CAST(sum(CASE WHEN risk_score >= 30 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(NULL AS DOUBLE)
         FROM graft_dashboard_scored
         UNION ALL
         SELECT 'lang', lang, CAST(count(*) AS BIGINT), avg(risk_score)
         FROM graft_dashboard_scored GROUP BY lang
         UNION ALL
         SELECT 'hist', b.bucket, CAST(coalesce(c.n, 0) AS BIGINT), CAST(NULL AS DOUBLE)
         FROM (VALUES ('0-9'), ('10-19'), ('20-29'), ('30+')) AS b(bucket)
         LEFT JOIN (
           SELECT CASE WHEN risk_score < 10 THEN '0-9'
                       WHEN risk_score < 20 THEN '10-19'
                       WHEN risk_score < 30 THEN '20-29'
                       ELSE '30+' END AS bucket, count(*) AS n
           FROM graft_dashboard_scored GROUP BY 1) c
         ON b.bucket = c.bucket
         UNION ALL
         SELECT 'recent', CAST(doc_id AS STRING), CAST(rn AS BIGINT),
           CAST(risk_score AS DOUBLE)
         FROM (SELECT doc_id, risk_score,
                 -- global window is SAFE here: its input is the 10-row
                 -- TakeOrderedAndProject result, not the corpus (the
                 -- WindowExec single-partition warning is about this
                 -- bounded frame)
                 row_number() OVER (ORDER BY doc_id DESC) AS rn
               FROM (SELECT doc_id, risk_score FROM graft_dashboard_scored
                     ORDER BY doc_id DESC LIMIT 10))
         ORDER BY section, key""")
      // rounds the means; the identity on the other rows (NULL, integers)
      .withColumn("metric", roundCents(col("metric")))
    // Materialize the (22-row) payload eagerly so neither the scored
    // cache nor the temp view outlives the call in a shared session:
    // localCheckpoint pins the tiny result, the corpus-sized cache is
    // released, and the namespaced view is dropped. One corpus scan +
    // risk pass per refresh, no session-level residue.
    val out = payload.localCheckpoint(true)
    scored.unpersist()
    spark.catalog.dropTempView("graft_dashboard_scored")
    out
  }
}
