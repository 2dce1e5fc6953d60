package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table loaders for the driver testdata (TPC-H-ish star schema + events/
  * documents/embeddings; see /root/repo/TESTDATA.md) and the reference's
  * post schema (reference: spark_jobs/preprocessing_streaming.py:75-86).
  *
  * All reads are plain parquet scans: Catalyst handles column pruning and
  * predicate pushdown into the vectorized parquet reader, so callers just
  * compose DataFrame ops and let the optimizer trim the scan.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Fan a small single-split input out to all cores before CPU-heavy
    * per-row work (hashing, scoring, codec stubs). The testdata tables
    * are single-row-group parquet files, which Spark scans as ONE task;
    * on a real cluster the same data arrives in many splits and this
    * round-robin exchange is a no-op cost-wise. Only applied where the
    * downstream per-row work dominates the (tiny) shuffle.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Broadcast-hint a pruned mid-size side only while its estimated scan
    * size fits a sane driver budget. Catalyst never demotes an explicit
    * broadcast hint (AQE only promotes), so an unconditional hint on a
    * fact-derived projection would OOM the driver at 100×; gating on the
    * optimized-plan size estimate keeps the hint a bench-scale
    * optimization and falls back to the AQE-managed shuffle join when
    * the side is genuinely large.
    */
  def maybeBroadcast(df: DataFrame, maxBytes: Long = 256L << 20): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes)
      org.apache.spark.sql.functions.broadcast(df)
    else df

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** events.ts arrives as epoch-NANOS LongType, whatever the parquet
    * file declares — the engine-wide contract every downstream `ts div
    * …` / RANGE-frame expression is written against. Two generations of
    * driver testdata exist: TIMESTAMP(NANOS), which Spark's schema
    * converter only accepts as a raw long under the legacy conf, and
    * TIMESTAMP(MICROS, NTZ), which resolves as TIMESTAMP_NTZ and is converted to
    * epoch-nanos (`unix_micros` × 1000; the NTZ→LTZ cast reads the wall
    * clock in the session zone, UTC at every entry point — matching the
    * oracle, whose `epoch_ns` treats the naive value as UTC). The legacy
    * conf is the one setting the engine writes on a caller's session: the
    * caller's own plans over this lazy scan need it, which a private
    * session cannot provide. The write is idempotent.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case _ =>
        import org.apache.spark.sql.functions.{col, unix_micros}
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** All testdata table names, in TESTDATA.md order. */
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table as a temp view so the whole engine is
    * drivable from plain `spark.sql(...)` — the SQL API surface of the
    * library. Views are lazy scans: each query still gets full pruning /
    * pushdown, and `events` goes through the nanos-safe loader.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { name =>
      val df = if (name == "events") events(spark, dir) else table(spark, dir, name)
      df.createOrReplaceTempView(name)
    }

  /** The reference's wire schema for a Reddit post
    * (reference: spark_jobs/preprocessing_streaming.py:75-86). `created_utc`
    * is deliberately DoubleType (epoch seconds) and `timestamp` a bare
    * ISO-8601 string — quirks preserved for parity.
    */
  val postSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("title", StringType),
    StructField("text", StringType),
    StructField("author", StringType),
    StructField("subreddit", StringType),
    StructField("created_utc", DoubleType),
    StructField("score", IntegerType),
    StructField("num_comments", IntegerType),
    StructField("url", StringType),
    StructField("timestamp", StringType),
  ))

  /** Typed model of the post record (§1.4 of SURVEY.md). */
  case class Post(
      id: String,
      title: String,
      text: String,
      author: String,
      subreddit: String,
      created_utc: Double,
      score: Int,
      num_comments: Int,
      url: String,
      timestamp: String,
  )

  /** The processed/serving record shape
    * (reference: spark_jobs/kafka_consumer_simple.py:128-140).
    */
  case class ProcessedPost(
      id: String,
      title: String,
      subreddit: String,
      author: String,
      url: String,
      text: String,
      score: Int,
      num_comments: Int,
      risk_score: Int,
      cleaned_text: String,
      processed_at: String,
  )
}
