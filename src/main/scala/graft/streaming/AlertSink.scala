package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The consumer's high-risk alert side-channel (reference:
  * spark_jobs/kafka_consumer_simple.py:152-173 — a console banner printed
  * for every message with risk_score >= 30) as a BRANCH of the same
  * foreachBatch that feeds the snapshot: each micro-batch is evaluated
  * once (persisted), the full batch goes to the ring-buffer snapshot, and
  * the filtered high-risk slice goes to an append-only alert log.
  *
  * Scale posture: the alert predicate runs distributed inside the batch's
  * own plan; only rows that ALREADY passed `risk_score >= threshold`
  * reach the driver, so the transfer is bounded by the alert rate, not
  * the stream rate (and additionally capped at maxAlerts retained).
  */
class AlertSink(threshold: Int = 30, maxAlerts: Int = 1000) extends Serializable {

  private val alerts = mutable.ArrayDeque.empty[Row]

  def alertRows: Seq[Row] = synchronized(alerts.toSeq)

  /** Append the batch's high-risk slice, newest kept under the cap.
    * The cap applies EXECUTOR-side as orderBy(key desc, id desc).limit —
    * TakeOrderedAndProject, so an alert-storm micro-batch transfers at
    * most maxAlerts rows to the driver AND the retained subset is the
    * NEWEST maxAlerts (a bare limit would keep an arbitrary
    * partition-order subset within an over-cap batch). The key is event
    * time (`created_utc`) when the frame carries it, else the arrival
    * time (`timestamp`, the key `SnapshotSink` ranks by) that survives
    * `Pipeline.prune`. Rows append oldest-first so the deque stays
    * chronological and eviction always drops the oldest. A frame with
    * neither column falls back to a bare limit: still capped transfer,
    * retained subset arbitrary within one over-cap batch. */
  def update(batch: DataFrame, batchId: Long): Unit = {
    val hiRisk = batch.filter(col("risk_score") >= threshold)
    val capped = Seq("created_utc", "timestamp").find(batch.columns.contains) match {
      case Some(key) =>
        hiRisk.orderBy(col(key).desc_nulls_last, col("id").desc_nulls_last)
          .limit(maxAlerts).collect().reverse
      case None => hiRisk.limit(maxAlerts).collect()
    }
    synchronized {
      capped.foreach { r =>
        alerts.append(r)
        if (alerts.size > maxAlerts) alerts.removeHead()
      }
    }
  }
}

object AlertSink {

  /** Attach snapshot + alert branch to one stream: a single foreachBatch
    * evaluates the micro-batch once and fans it out to both sinks — the
    * pipeline's only multi-consumer point, made explicit with persist so
    * the enrichment is not recomputed per branch.
    */
  def attachWithSnapshot(df: DataFrame, snapshot: SnapshotSink,
      alerts: AlertSink, checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        b.persist()
        try {
          snapshot.update(b, id)
          alerts.update(b, id)
        } finally b.unpersist()
      }
      .start()
}
