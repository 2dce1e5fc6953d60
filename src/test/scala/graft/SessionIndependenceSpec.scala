package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BehaviorOps, DashboardOps, DivergenceOps, MlOps}

/** A query's result must not depend on which session built the shared
  * frames it reads, and a query must leave its caller's session as it
  * found it. `SharedFrames` hands each hit back as the stored plan bound
  * to the CALLER, so plans over it run under the caller's conf; work
  * that needs its own conf or temp views runs on a private session.
  * Here each query's shared frames are built on one fresh session (no
  * function registration), and the query runs on a second fresh session.
  */
class SessionIndependenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // A copy of the sf0.001 tables under a dir string no other spec uses,
  // so every SharedFrames entry below is built inside this spec.
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-session-independence")
    Files.list(Paths.get(SparkTestSession.sf0001)).iterator().asScala.foreach { p =>
      Files.copy(p, d.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    }
    d.toString
  }

  /** Each query with the shared frames it reads. */
  private val queries: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "q_orders_by_month" -> ((_, _) => ()),
    "q_grouping_sets" -> ((s, d) => BehaviorOps.eventSeq(s, d)),
    "q_cms_counts" -> ((s, d) => MlOps.docTermsWide(s, d)),
    "q_heavy_hitters" -> ((s, d) => MlOps.docTermsWide(s, d)),
    "q_prefix_join" -> ((s, d) => MlOps.docTermsDistinct(s, d)),
    "q_dashboard_payload" -> ((s, d) => DashboardOps.scoredDocuments(s, d)),
    "q_global_stats" -> ((s, d) => DashboardOps.scoredDocuments(s, d)),
    "q_risk_histogram" -> ((s, d) => DashboardOps.scoredDocuments(s, d)),
    "q_source_js" -> ((s, d) => DivergenceOps.sourceJs(s, d)),
  )

  for ((name, buildShared) <- queries)
    test(s"$name: shared frames from one fresh session, query on another") {
      buildShared(spark.newSession(), dir)
      val got = SparkEntry.queries(name)(spark.newSession(), dir).collect().toSeq
      val want = SparkEntry.queries(name)(spark, SparkTestSession.sf0001).collect().toSeq
      assert(want.nonEmpty)
      assert(got === want)
    }

  test("plans over a frame built elsewhere run under the caller's conf") {
    BehaviorOps.eventSeq(spark.newSession(), dir)
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    val p = BehaviorOps.eventSeq(caller, dir).groupBy("event_type").count()
      .queryExecution.executedPlan.toString
    assert("""hashpartitioning\(event_type#\d+, 3\)""".r.findFirstIn(p).isDefined, p)
  }

  test("SQL-surface queries, q_agg_pushdown: caller's views and conf unchanged") {
    val caller = spark.newSession()
    caller.range(3).toDF("o_orderkey").createOrReplaceTempView("graft_orders")
    def views = caller.catalog.listTables().collect().map(_.name).toSet
    val (viewsBefore, confBefore) = (views, caller.conf.getAll)
    for (name <- Seq("q_correlated_subquery", "q_lateral_topk", "q_scalar_subquery",
        "q_not_exists", "q_recursive_cte", "q_agg_pushdown")) {
      assert(SparkEntry.queries(name)(caller, dir).collect().nonEmpty, name)
      assert(views === viewsBefore, name)
      assert(caller.conf.getAll === confBefore, name)
      assert(caller.table("graft_orders").count() === 3, name)
    }
  }
}
