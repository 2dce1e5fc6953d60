package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BehaviorOps, DashboardOps, MlOps}

/** A query's result must not depend on which session built the shared
  * frames it reads. `SharedFrames` hands back a frame bound to the
  * session that BUILT it; a query that resolved graft's native functions
  * by name through a session's function registry, or that registered a
  * temp view on the frame's session and queried its own, worked only if
  * some earlier query had prepared that session. Here each query's
  * shared frames are built on one fresh session (no function
  * registration), and the query runs on a second fresh session.
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
  )

  for ((name, buildShared) <- queries)
    test(s"$name: shared frames from one fresh session, query on another") {
      buildShared(spark.newSession(), dir)
      val got = SparkEntry.queries(name)(spark.newSession(), dir).collect().toSeq
      val want = SparkEntry.queries(name)(spark, SparkTestSession.sf0001).collect().toSeq
      assert(want.nonEmpty)
      assert(got === want)
    }
}
