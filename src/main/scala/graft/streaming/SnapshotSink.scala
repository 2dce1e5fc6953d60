package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** ST-4 / S-6 / SNK-2: the consumer's last-100 ring buffer + whole-file
  * JSON snapshot (reference: spark_jobs/kafka_consumer_simple.py:14,
  * 49-61,104,143-146) as a foreachBatch sink.
  *
  * The reference rewrites the entire file once PER MESSAGE (O(buffer)
  * write amplification per record); here the snapshot is rewritten once
  * per MICRO-BATCH. The buffer is bounded (maxRows), so the per-batch
  * `limit(maxRows).collect()` is a constant-size driver transfer no
  * matter how large the batch — the unbounded part of the stream never
  * reaches the driver.
  *
  * The ring already lives on the driver, so the snapshot is written there
  * too, with no Spark write job: each row is rendered by Spark's own JSON
  * generator (`to_json(struct(*))` over a local relation, which the
  * optimizer folds on the driver), so the lines are byte-identical to the
  * JSON writer's. They go to a hidden temp file inside `path` that is
  * atomically renamed onto `path/part-00000.json`: `path` stays a
  * directory `spark.read.json` reads, and a concurrent reader sees either
  * the previous snapshot or the new one, never a missing or partial file.
  */
class SnapshotSink(path: String, maxRows: Int = 100,
    arrivalCols: Seq[String] = Seq("timestamp", "id")) extends Serializable {

  /** Ring buffer in arrival order, newest at the end (deque maxlen twin). */
  private val buffer = mutable.ArrayDeque.empty[Row]

  def snapshotRows: Seq[Row] = synchronized(buffer.toSeq)

  /** Process one micro-batch: keep only the newest maxRows of the batch,
    * append in arrival order, evict oldest, rewrite the snapshot file.
    */
  def update(batch: DataFrame, batchId: Long): Unit = synchronized {
    val ordered = batch
      .orderBy(arrivalCols.map(c => col(c).desc): _*)
      .limit(maxRows)
      .collect()
      .reverse // back to ascending arrival order
    ordered.foreach { r =>
      buffer.append(r)
      if (buffer.size > maxRows) buffer.removeHead()
    }
    val lines = batch.sparkSession
      .createDataFrame(buffer.toList.asJava, batch.schema)
      .select(to_json(struct(col("*"))))
      .collect()
    val dir = Files.createDirectories(Paths.get(path))
    val tmp = dir.resolve(".part-00000.json.tmp") // readers skip "."/"_" files
    Files.write(tmp, lines.map(_.getString(0) + "\n").mkString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve("part-00000.json"), ATOMIC_MOVE, REPLACE_EXISTING)
  }

  /** Attach to a streaming DataFrame. */
  def attach(df: DataFrame, checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: Dataset[Row], id: Long) => update(b, id))
      .start()
}
