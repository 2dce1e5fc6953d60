package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.jobsOf
import graft.operators.DashboardOps

/** The dashboard tier reads one session-shared scored frame, and each
  * request is a small aggregate over it: no join, no residue left on the
  * caller's session, and no job beyond its bounded reads. */
class DashboardPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  test("the risk histogram plans no join and no broadcast") {
    val df = DashboardOps.riskHistogram(spark, dir)
    assert(df.collect().map(_.getString(0)).toSeq === DashboardOps.riskBuckets)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"), p)
  }

  test("the payload leaves the session's temp views and cache as it found them") {
    def tempViews = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val views = tempViews
    // a caller that cached the scored frame keeps its cache entry
    val scored = DashboardOps.scoredDocuments(spark, dir).cache()
    try {
      DashboardOps.dashboardPayload(spark, dir).collect()
      assert(tempViews === views)
      assert(DashboardOps.scoredDocuments(spark, dir).storageLevel !== StorageLevel.NONE)
    } finally scored.unpersist(blocking = true)
  }

  test("on a warm scored frame the payload launches only its two bounded reads") {
    val scored = DashboardOps.scoredDocuments(spark, dir)
    val reads = jobsOf {
      scored.groupBy(col("lang"), DashboardOps.riskBucket(col("risk_score")))
        .count().collect()
      scored.orderBy(col("doc_id").desc).limit(10).collect()
    }
    val payload = jobsOf(DashboardOps.dashboardPayload(spark, dir).collect())
    assert(payload <= reads, s"payload ran $payload jobs, its two reads $reads")
  }
}
