package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{byteStats, chunkSplit}
import graft.model.Tables

/** Multimodal-column plumbing: payloads as opaque `binary` columns with a
  * typed metadata struct, and batch feature extraction via mapPartitions
  * — the Scala twin of a vectorized pandas-UDF decode stage
  * (`mapInPandas`). Real image/audio codecs aren't in this container, so
  * the DECODE step is a deterministic byte-statistics stub; the
  * Spark-side contract — schema, opaque payload handling, partition-
  * parallel batched extraction — is the real operator and is what would
  * carry a JPEG decoder at 100 TB (payload bytes never shuffle; features
  * do).
  */
object MultimodalOps {

  /** Extracted per-payload features (mean/max/min byte stand in for the
    * decoded-feature vector). */
  case class MediaFeatures(doc_id: Long, n_bytes: Long,
      mean_byte: Double, max_byte: Int, min_byte: Int)

  /** Attach an opaque binary payload + queryable metadata struct. */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        length(col("text")).cast("long").as("n_bytes"),
        lit("text/plain").as("mime"),
      ).as("media_meta"),
    )

  /** "Decode" over payload bytes via the native [[graft.expr.ByteStats]]
    * expression: one codegen'd O(n) byte walk per row, inside the scan's
    * whole-stage-codegen span — no iterator bridge, no row
    * deserialization, which is why this is the primary path (the
    * expression preference the engine applies everywhere: native
    * `Expression` > typed map). The feature struct is the only thing the
    * operator emits; payload bytes never leave their scan task.
    */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    withPayload(Tables.fanOut(Tables.documents(spark, dir)))
      .select(col("doc_id"),
        byteStats(col("payload")).as("bs"))
      .select(col("doc_id"), col("bs.n_bytes").as("n_bytes"),
        col("bs.mean_byte").as("mean_byte"), col("bs.max_byte").as("max_byte"),
        col("bs.min_byte").as("min_byte"))
      .as[MediaFeatures]
  }

  /** The batched-iterator decoder contract, kept as the documented
    * alternative for decoders that genuinely need imperative per-batch
    * state (codec contexts, pinned buffers — what `mapInPandas` does for
    * Python codecs): rows stream through as an iterator, never
    * materialized wholesale. Bit-identical output to [[extractFeatures]]
    * (spec-asserted); prefer the expression path when the kernel is a
    * pure per-row function.
    */
  def extractFeaturesBatched(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    withPayload(Tables.fanOut(Tables.documents(spark, dir)))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          var sum = 0L
          var mx = 0
          var mn = 255
          bytes.foreach { b =>
            val v = b & 0xff
            sum += v
            if (v > mx) mx = v
            if (v < mn) mn = v
          }
          MediaFeatures(id, bytes.length.toLong, sum.toDouble / bytes.length, mx, mn)
        }
      }
  }

  /** Deterministic frame sampling over the opaque payload — the
    * video-style access pattern done entirely in Column algebra: treat
    * the payload as fixed 64-byte frames, keep every 4th frame, digest
    * each sampled frame, and fold the digests (in frame order) into one
    * per-payload sample fingerprint. Map-only: the per-row transform
    * slices the binary in place, no explode, no shuffle until the final
    * presentation sort — at 100 TB the payload bytes never leave their
    * scan task, exactly like [[extractFeatures]]; a real codec would
    * decode the sampled frames where this digests them. Frame math is
    * integer (byte offsets), so any engine agrees exactly.
    */
  def frameSample(spark: SparkSession, dir: String,
      frameBytes: Int = 64, stride: Int = 4): DataFrame =
    withPayload(Tables.fanOut(Tables.documents(spark, dir)))
      .withColumn("n_frames",
        ceil(length(col("payload")) / lit(frameBytes.toDouble)).cast("long"))
      .withColumn("hs", expr(
        s"""transform(sequence(0, CAST((n_frames - 1) / $stride AS BIGINT)),
              k -> md5(substring(payload, CAST(k * ${stride * frameBytes} + 1 AS INT),
                $frameBytes)))"""))
      .select(col("doc_id"), col("n_frames"),
        size(col("hs")).cast("long").as("n_sampled"),
        md5(concat_ws("", col("hs")).cast("binary")).as("sample_digest"))
      .orderBy(col("doc_id"))

  /** Chunk-level dedup census over content-defined chunks (the
    * [[graft.expr.ChunkSplit]] kernel): every payload splits at
    * content-local rolling-hash boundaries, the corpus counts each
    * chunk digest, and each document reports how much of it is made of
    * chunks seen elsewhere — the binary-payload twin of the
    * positional-n-gram span census, and the reason CDC beats the
    * fixed-stride frames for dedup: an insertion re-chunks only its
    * neighborhood, so shared content keeps its digests. Scale shape:
    * map-only chunking (one O(n) kernel pass per payload), partial+
    * final hash agg on the 16-byte digest, one equi-join back — digests
    * shuffle, payload bytes never do.
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    // the chunk table feeds the census AND the join back — one kernel
    // pass (feature-store pattern)
    val chunks = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(chunkSplit(col("text"))).as("chunk"))
      .localCheckpoint()
    val census = chunks.groupBy(col("chunk")).agg(count(lit(1)).as("n_occ"))
    chunks.join(census, Seq("chunk"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        round(sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("dup_fraction"),
      )
      .orderBy(col("doc_id"))
  }

  /** Oracle-facing projection (mean rounded like every other float). */
  def features(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(spark, dir)
      .toDF()
      .select(col("doc_id"), col("n_bytes"),
        round(col("mean_byte"), 6).as("mean_byte"),
        col("max_byte"), col("min_byte"))
      .orderBy(col("doc_id"))
}
