package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.functions.GraftFunctions.{riskScore, roundCents}
import graft.model.{SharedFrames, Tables}

/** The dashboard's hand-rolled Python statistics (reference:
  * dashboard/app.py:30-85), re-expressed as declarative aggregations over
  * the `documents` / `events` testdata. Each per-request Python loop becomes
  * one hash-aggregate Catalyst plans with map-side partial aggregation —
  * the shape that scales to 100 TB, unlike the reference's full rescan per
  * HTTP request.
  */
object DashboardOps {

  /** Risk-scored documents: the corpus stand-in for the posts the
    * reference's streaming consumer scores once, at ingest. A session
    * shared frame ([[graft.model.SharedFrames]]) holding only what the
    * dashboard queries read, so a request is a small aggregate over it
    * and never re-scores the corpus. `riskScore` is the native RiskScore
    * expression: ~10 lines of Java per use vs the 16-way contains tree of
    * the Column-algebra form.
    */
  def scoredDocuments(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "scoredDocuments") {
      Tables.fanOut(Tables.documents(spark, dir)).select(
        col("doc_id"),
        col("lang"),
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
    * empty (the reference pre-seeds the dict keys, dashboard/app.py:62):
    * one global aggregate of a conditional count per bucket, which
    * `stack` turns into one row per bucket in label order. No join, no
    * broadcast, no sort.
    */
  def riskHistogram(spark: SparkSession, dir: String): DataFrame = {
    val labels = riskBuckets.indices.map(i => s"n$i")
    val counts = riskBuckets.zip(labels).map { case (b, n) =>
      count(when(col("bucket") === b, 1)).as(n)
    }
    val rows = riskBuckets.zip(labels).flatMap { case (b, n) => Seq(lit(b), col(n)) }
    scoredDocuments(spark, dir)
      .select(riskBucket(col("risk_score")).as("bucket"))
      .agg(counts.head, counts.tail: _*)
      .select(stack(lit(riskBuckets.size) +: rows: _*).as(Seq("bucket", "n")))
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
    * dashboard/app.py:45): the alert predicate as a standalone filter
    * over the scored frame.
    */
  def highRisk(spark: SparkSession, dir: String, threshold: Int = 30): DataFrame =
    scoredDocuments(spark, dir)
      .filter(col("risk_score") >= threshold)
      .select(col("doc_id"), col("risk_score"))
      .orderBy(col("doc_id"))

  /** The `/api/stats` payload (reference: dashboard/app.py:30-97
    * assembles total/avg/high-risk/per-group/histogram/recent-10 into one
    * response per request, each via its own Python rescan). Two bounded
    * reads of the scored frame answer the whole request: one aggregate
    * grouped by (lang, risk bucket), at most |lang| × 4 rows, and the top
    * 10 by doc_id. The driver folds the first into the global, per-lang
    * and histogram sections and numbers the second. Every sum is an exact
    * integer, so each mean is the same double division `avg` performs.
    * The rows come back as a tall (section, key, n, metric) local frame
    * in (section, key) order, so the payload is one hashable result set.
    * The request caches nothing and registers nothing on the session.
    */
  def dashboardPayload(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocuments(spark, dir)
    val risk = col("risk_score")
    // one row per (lang, bucket) cell; getAs[Long] reads a null sum as 0
    val cells = scored
      .groupBy(col("lang"), riskBucket(risk).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(risk).as("risk"), count(col("n_chars")).as("n_chars"),
        sum(col("n_chars")).as("chars"), count(when(risk >= 30, 1)).as("high"))
      .collect().toSeq
    val recent = scored.select(col("doc_id"), risk)
      .orderBy(col("doc_id").desc).limit(10).collect()

    def total(rs: Seq[Row], c: String): Long = rs.map(_.getAs[Long](c)).sum
    def mean(rs: Seq[Row], sumCol: String, nCol: String): Any = {
      val n = total(rs, nCol)
      if (n == 0) null else total(rs, sumCol).toDouble / n
    }
    val hist = riskBuckets.map(b =>
      Row("hist", b, total(cells.filter(_.getAs[String]("bucket") == b), "n"), null))
    val byLang = cells.groupBy(r => Option(r.getAs[String]("lang"))).toSeq.sortBy(_._1)
      .map { case (lang, rs) => Row("lang", lang.orNull, total(rs, "n"), mean(rs, "risk", "n")) }
    val top = recent.toSeq.zipWithIndex.map { case (r, i) =>
      Row("recent", r.getLong(0).toString, i + 1L, r.getInt(1).toDouble)
    }.sortBy(_.getString(1))
    val stats = Seq(
      Row("stats", "all", total(cells, "n"), mean(cells, "risk", "n")),
      Row("stats", "avg_chars", total(cells, "n"), mean(cells, "chars", "n_chars")),
      Row("stats", "high_risk", if (cells.isEmpty) null else total(cells, "high"), null))
    val schema = StructType(Seq(
      StructField("section", StringType, nullable = false),
      StructField("key", StringType),
      StructField("n", LongType),
      StructField("metric", DoubleType)))
    spark.createDataFrame((hist ++ byLang ++ top ++ stats).asJava, schema)
      // rounds the means; the identity on the other rows (NULL, integers)
      .withColumn("metric", roundCents(col("metric")))
  }
}
