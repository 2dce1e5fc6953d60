package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{lit, to_timestamp}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables.Post
import graft.streaming.{AlertSink, Pipeline, SnapshotSink}

/** ST-1..ST-4 behavior via MemoryStream (no Kafka in this environment —
  * the source is swappable by construction). */
class StreamingPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkPost(i: Int, title: String = "t", text: String = "x"): Post =
    // fixed-width microseconds keep the ISO string monotone in i (arrival order)
    Post(s"id$i", title, text, "author", "sub", 0.0, 1, 0, "",
      f"2025-01-01T00:00:00.${i}%06d")

  test("process: kafka-shaped json stream → parsed, scored, pruned posts") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val raw = input.toDF().selectExpr("value") // kafka value column
    val out = Pipeline.process(raw)
    val q = out.writeStream.format("memory").queryName("processed")
      .outputMode("append").start()
    try {
      input.addData(
        """{"id":"a1","title":"feeling depressed","text":"and anxious too","author":"u1","subreddit":"depression","created_utc":1.0,"score":5,"num_comments":2,"url":"","timestamp":"2025-01-01T00:00:00"}""",
        """{"id":"a2","title":"all good","text":"sunny day","author":"u2","subreddit":"mentalhealth","created_utc":2.0,"score":1,"num_comments":0,"url":"","timestamp":"2025-01-01T00:00:01"}""",
      )
      q.processAllAvailable()
      val rows = spark.table("processed").collect()
      assert(rows.length === 2)
      val byId = rows.map(r => r.getAs[String]("id") -> r.getAs[Int]("risk_score")).toMap
      assert(byId === Map("a1" -> 20, "a2" -> 0))
      val cols = spark.table("processed").columns.toSeq
      assert(cols === Seq("id", "author", "subreddit", "title", "risk_score",
        "score", "num_comments", "timestamp", "processed_at"))
    } finally q.stop()
  }

  test("malformed json lines degrade to null-field rows; the stream survives") {
    // P-3's tolerance contract: from_json is PERMISSIVE — a corrupt wire
    // message must become a null-field row (filterable downstream), not
    // a stream-killing exception. At scale one poison message must never
    // wedge a consumer.
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val out = Pipeline.process(input.toDF().selectExpr("value"))
    val q = out.writeStream.format("memory").queryName("tolerant")
      .outputMode("append").start()
    try {
      input.addData(
        """{"id":"ok1","title":"fine","text":"fine","author":"u","subreddit":"s","created_utc":1.0,"score":1,"num_comments":0,"url":"","timestamp":"2025-01-01T00:00:00"}""",
        """{not json at all""",
        """{"id":123}""", // number where a string field is declared
      )
      q.processAllAvailable()
      val rows = spark.table("tolerant").collect()
      assert(rows.length === 3, "corrupt lines must not be dropped or crash")
      assert(rows.count(_.getAs[String]("id") == "ok1") === 1)
      // unparseable line → all-null row; type mismatch → lenient string
      // coercion ("123") with the missing fields null — both filterable,
      // neither fatal
      assert(rows.count(r => r.getAs[String]("id") == null) === 1)
      assert(rows.count(r => r.getAs[String]("id") == "123") === 1)
      assert(rows.filter(r => r.getAs[String]("id") != "ok1")
        .forall(_.getAs[Int]("risk_score") === 0))
    } finally q.stop()
  }

  test("snapshot sink keeps exactly the last N by arrival across batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Post]
    val sink = new SnapshotSink(
      Files.createTempDirectory("snap").toString + "/posts", maxRows = 100)
    val cp = Files.createTempDirectory("cp").toString
    val q = sink.attach(Pipeline.enrich(input.toDF()), cp)
    try {
      input.addData((1 to 60).map(mkPost(_)))
      q.processAllAvailable()
      assert(sink.snapshotRows.size === 60)
      input.addData((61 to 130).map(mkPost(_)))
      q.processAllAvailable()
      val rows = sink.snapshotRows
      assert(rows.size === 100)
      // oldest 30 evicted: ids id31..id130 remain
      val ids = rows.map(_.getAs[String]("id")).toSet
      assert(!ids.contains("id30") && ids.contains("id31") && ids.contains("id130"))
    } finally q.stop()
  }

  /** Jobs started by `f`, counted by a listener. The bus delivers events
    * in order, so once a later marker job has been seen every job of `f`
    * has been counted. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(body: => Unit): Unit = {
        sc.setJobGroup(g, g)
        try body finally sc.clearJobGroup()
      }
      inGroup("jobs-of")(f)
      inGroup("jobs-of-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains("jobs-of-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("jobs-of-marker"), "listener bus did not drain")
      groups.asScala.count(_ == "jobs-of")
    } finally sc.removeSparkListener(listener)
  }

  test("snapshot file: reads back, matches Spark's JSON writer byte for byte, replaced whole, one job per update") {
    val dir = Files.createTempDirectory("snapfile")
    val path = dir.resolve("posts")
    val sink = new SnapshotSink(path.toString, maxRows = 100)
    // the pipeline's output shape; a millisecond processed_at round-trips
    // exactly through the JSON timestamp format, and null, non-ASCII and
    // escaped titles exercise the generator
    def batch(ids: Range) = Pipeline.prune(Pipeline.enrich(ids.map(i =>
        mkPost(i, if (i % 7 == 0) null else "é \"" + i + "\"\t")).toDF()))
      .withColumn("processed_at", to_timestamp(lit("2025-01-01 00:00:00.123")))
    def writerBytes(rows: Seq[Row], schema: StructType): Seq[Byte] = {
      val out = Files.createTempDirectory(dir, "writer").resolve("out")
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.json(out.toString)
      val parts = Files.list(out).iterator.asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size === 1)
      Files.readAllBytes(parts.head).toSeq
    }
    for ((ids, batchId) <- Seq(1 to 60, 61 to 130).zipWithIndex) {
      val b = batch(ids).persist() // as attachWithSnapshot hands it over
      try {
        assert(jobsOf(sink.update(b, batchId)) === 1)
        val rows = sink.snapshotRows
        assert(rows.map(_.getAs[String]("id")) ===
          (math.max(1, ids.last - 99) to ids.last).map(i => s"id$i"))
        assert(spark.read.schema(b.schema).json(path.toString).collect().toSeq === rows)
        // batch 2's file replaced batch 1's; no temp or _temporary file left
        assert(Files.list(path).iterator.asScala.map(_.getFileName.toString).toSeq ===
          Seq("part-00000.json"))
        assert(Files.readAllBytes(path.resolve("part-00000.json")).toSeq ===
          writerBytes(rows, b.schema))
      } finally b.unpersist()
    }
  }

  test("alert cap keeps the newest maxAlerts of a pruned over-cap batch, oldest first") {
    // 12 alerting posts in shuffled order; the pruned shape has no
    // created_utc, so the cap must rank by the arrival timestamp
    val posts = new scala.util.Random(7).shuffle((1 to 12).map(i =>
      mkPost(i, "hopeless and worthless", "thinking about suicide")))
    val batch = Pipeline.prune(Pipeline.enrich(posts.toDF().repartition(3)))
    assert(!batch.columns.contains("created_utc"))
    val alerts = new AlertSink(threshold = 30, maxAlerts = 5)
    alerts.update(batch, 0L)
    assert(alerts.alertRows.map(_.getAs[String]("id")) === (8 to 12).map(i => s"id$i"))
  }

  test("alert branch: high-risk rows split to the side sink, snapshot gets all") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Post]
    val snap = new SnapshotSink(
      Files.createTempDirectory("snap").toString + "/posts", maxRows = 100)
    val alerts = new AlertSink(threshold = 30)
    val cp = Files.createTempDirectory("cp").toString
    val q = AlertSink.attachWithSnapshot(
      Pipeline.enrich(input.toDF()), snap, alerts, cp)
    try {
      // +10 per keyword hit: post 1 scores 30 (hopeless/worthless/suicide),
      // post 2 scores 10, post 3 scores 0 — only post 1 alerts in batch 1
      input.addData(
        mkPost(1, "hopeless and worthless", "thinking about suicide"),
        mkPost(2, "feeling depressed", "meh"),
        mkPost(3, "sunny day", "all good"))
      q.processAllAvailable()
      input.addData(mkPost(4, "lonely isolated scared", "and depressed"))
      q.processAllAvailable()
      assert(snap.snapshotRows.size === 4)
      val alertIds = alerts.alertRows.map(_.getAs[String]("id"))
      assert(alertIds === Seq("id1", "id4"))
      assert(alerts.alertRows.forall(_.getAs[Int]("risk_score") >= 30))
    } finally q.stop()
  }

  test("kafka wire roundtrip: parse(serialize(posts)) preserves every field") {
    val posts = Seq(mkPost(1, "Feeling depressed", "it's bad… ü"), mkPost(2)).toDF()
    val back = Pipeline.parse(Pipeline.serialize(posts))
    // compare names+types; JSON-parsed columns are always nullable while
    // case-class-derived primitives are not
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      posts.schema.map(f => (f.name, f.dataType)))
    assert(back.exceptAll(posts).isEmpty && posts.exceptAll(back).isEmpty)
  }

  test("restart from checkpoint resumes at the committed offset: no reprocessing") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Post]
    val cp = Files.createTempDirectory("cp-restart").toString
    val outDir = Files.createTempDirectory("out-restart").toString + "/data"
    // file sink, not memory: only sinks with a durable commit log
    // support recovering from a checkpoint location
    val out = Pipeline.prune(Pipeline.enrich(input.toDF()))
    def start() = out.writeStream.format("json")
      .option("path", outDir).option("checkpointLocation", cp)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(mkPost(1), mkPost(2))
      q1.processAllAvailable()
    } finally q1.stop()
    // second incarnation, SAME checkpoint: the committed offset log must
    // carry over, so only post-restart data is appended (the ST-6
    // exactly-once contract across driver restarts)
    val q2 = start()
    try {
      input.addData(mkPost(3))
      q2.processAllAvailable()
      val ids = spark.read.json(outDir).collect()
        .map(_.getAs[String]("id")).sorted.toSeq
      assert(ids === Seq("id1", "id2", "id3"), s"offset log not honored: $ids")
    } finally q2.stop()
  }

  test("idempotent foreachBatch sink: replaying a batch id does not duplicate output") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Post]
    val base = Files.createTempDirectory("idem").toString
    // The exactly-once recipe for sinks WITHOUT a transactional commit
    // log: key every write by batchId (overwrite the batch's own
    // directory), so at-least-once delivery from the engine collapses to
    // exactly-once in storage — a replayed batch rewrites the same path
    // instead of appending twice.
    def writeBatch(b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long): Unit =
      b.write.mode("overwrite").json(s"$base/batch_id=$id")
    val q = input.toDF().writeStream
      .foreachBatch(writeBatch _)
      .option("checkpointLocation", Files.createTempDirectory("idem-cp").toString)
      .start()
    try {
      input.addData(mkPost(1), mkPost(2))
      q.processAllAvailable()
    } finally q.stop()
    // simulate the failure-replay: the SAME micro-batch delivered again
    // (twice, as at-least-once allows)
    val replay = Seq(mkPost(1), mkPost(2)).toDF()
    writeBatch(replay, 0L)
    writeBatch(replay, 0L)
    val ids = spark.read.json(s"$base/batch_id=0").collect()
      .map(_.getAs[String]("id")).sorted.toSeq
    assert(ids === Seq("id1", "id2"), s"batch replay duplicated rows: $ids")
  }

  test("stream-static join enriches the stream against a broadcast dimension") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.{broadcast, col}
    val input = MemoryStream[Post]
    val dim = Seq(("depression", "clinical"), ("mentalhealth", "general"))
      .toDF("subreddit", "category")
    // the canonical serving enrichment: unbounded stream joined to a
    // small static dim — broadcast, so no stream-side state or shuffle
    val joined = Pipeline.enrich(input.toDF())
      .join(broadcast(dim), Seq("subreddit"), "left_outer")
    val q = joined.writeStream.format("memory").queryName("enriched_static")
      .outputMode("append").start()
    try {
      input.addData(
        mkPost(1).copy(subreddit = "depression"),
        mkPost(2).copy(subreddit = "mentalhealth"),
        mkPost(3).copy(subreddit = "unknown_sub"))
      q.processAllAvailable()
      val got = spark.table("enriched_static").collect()
        .map(r => r.getAs[String]("id") -> r.getAs[String]("category")).toMap
      assert(got === Map("id1" -> "clinical", "id2" -> "general", "id3" -> null))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog then stops on its own") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Post]
    input.addData((1 to 25).map(mkPost(_)))
    val q = Pipeline.enrich(input.toDF())
      .writeStream.format("memory").queryName("drained")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      // backfill mode: processes everything available, then terminates —
      // the batch-catchup half of the stream/batch unification story
      assert(q.awaitTermination(60000), "query did not self-terminate")
      assert(spark.table("drained").count() === 25)
    } finally q.stop()
  }

  test("streaming dedup drops repeated post ids within the watermark") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Post]
    val deduped = Pipeline.dedupWithinWatermark(input.toDF())
    val q = deduped.writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      input.addData(mkPost(1), mkPost(1), mkPost(2))
      q.processAllAvailable()
      input.addData(mkPost(2), mkPost(3))
      q.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getAs[String]("id")).sorted
      assert(ids.toSeq === Seq("id1", "id2", "id3"))
    } finally q.stop()
  }
}
