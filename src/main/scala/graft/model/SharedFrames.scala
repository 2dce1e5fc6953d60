package graft.model

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, GraftPlanBuilder, SparkSession}

/** The session-artifact registry: every artifact several registry
  * queries share (term frames, minhash bands, the divergence grid, BPE
  * merges, lake layout paths, collected scalars) is built once per
  * (applicationId, dir, name), so a new application never sees a stale
  * entry and Verify/Bench (one app each) pay each build exactly once.
  * Names are global across modules and must stay distinct. Frames are
  * `localCheckpoint`ed (lineage truncated) — the single-app stand-in
  * for writing a feature or lake table out once and scanning it per
  * query at 100 TB. Scalars live here because an unmemoized `.head()`
  * reruns a full pass each time a query is merely constructed.
  *
  * The engine never writes a caller's conf or catalog: work needing its
  * own conf or temp views runs on a private `spark.newSession()` (conf
  * and views are per session; SparkContext and block manager are shared)
  * and hands its plan back bound to the caller ([[handBack]]). A frame is
  * stored as its checkpoint's plan and re-bound on each hit, so plans over
  * it run under the caller's conf. A key's first caller builds while
  * holding the key's cell: one build per key; a failed build is not kept.
  */
object SharedFrames {

  private final class Cell { var built: Option[Any] = None }

  private val registry = TrieMap.empty[(String, String, String), Cell]

  /** The artifact under `name`, built by `build` on first use only. */
  private[graft] def value[T](spark: SparkSession, dir: String, name: String)(
      build: => T): T = {
    val cell = registry.getOrElseUpdate((spark.sparkContext.applicationId, dir, name), new Cell)
    cell.synchronized {
      if (cell.built.isEmpty) cell.built = Some(build)
      cell.built.get.asInstanceOf[T]
    }
  }

  /** A shared frame, materialized once by `localCheckpoint`. */
  private[graft] def frame(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    handBack(spark, value(spark, dir, name)(build.localCheckpoint()))

  /** [[frame]] variant for frames whose VALUE includes their
    * physical layout: the build runs on a private session with AQE off
    * so the localCheckpoint's LogicalRDD captures the child plan's
    * hash-partitioning and sort order (under AQE the pre-execution
    * physical plan reports UnknownPartitioning and the checkpoint
    * records neither). Downstream keyed windows and aggregates over the
    * cached frame then meet their distribution/ordering requirements
    * with NO exchange and NO sort — the exchange reuse that makes a
    * shared partitioned+sorted frame worth materializing once per
    * session (probe-verified: a user-keyed lag window over the frame
    * plans Window ← Scan ExistingRDD directly).
    */
  private[graft] def partitionedFrame(spark: SparkSession, dir: String,
      name: String)(build: SparkSession => DataFrame): DataFrame =
    frame(spark, dir, name)(
      build(privateSession(spark, "spark.sql.adaptive.enabled" -> "false")))

  /** A private session: the SparkContext's conf plus `confs`. */
  private[graft] def privateSession(spark: SparkSession,
      confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** `df`'s analyzed plan, bound to `spark`. */
  private[graft] def handBack(spark: SparkSession, df: DataFrame): DataFrame =
    GraftPlanBuilder.ofRows(spark, df.queryExecution.analyzed)

  /** `query` run on a private session whose catalog holds `views`. */
  private[graft] def sql(spark: SparkSession, views: (String, DataFrame)*)(
      query: String): DataFrame = {
    val s = privateSession(spark)
    views.foreach { case (n, df) => handBack(s, df).createOrReplaceTempView(n) }
    handBack(spark, s.sql(query))
  }
}
