package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** The commit-log streaming source: version-as-offset tailing, schema
  * from the parquet footer, checkpointed resume that serves each commit
  * exactly once. */
class VersionedStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def stream(root: String) = spark.readStream
    .format("graft.sources.VersionedStreamProvider")
    .option("path", root).load()

  test("schema comes from the footer; appended commits arrive as batches") {
    val root = freshDir("vstream")
    val t = new VersionedTable(root)
    t.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(spark, Seq((3L, "c")).toDF("id", "v"))

    val df = stream(root)
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Seq(("id", LongType), ("v", StringType)))

    val q = df.writeStream.format("memory").queryName("vs1")
      .option("checkpointLocation", freshDir("vs1ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("vs1").as[(Long, String)].collect().sorted ===
      Array((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("checkpointed restart serves only commits after the stored version") {
    val root = freshDir("vstream2")
    val ck = freshDir("vs2ck")
    val out = freshDir("vs2out")
    val t = new VersionedTable(root)
    t.append(spark, Seq((1L, "a")).toDF("id", "v"))

    // the memory sink cannot recover a checkpoint, so exactly-once
    // shows up on a file sink: across a restart no commit is re-served
    def drain(): Unit = {
      val q = stream(root).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() === 1)

    // two more commits while the consumer is down; an overwrite's ADD
    // side streams (the re-frozen rows), its removes do not
    t.append(spark, Seq((2L, "b")).toDF("id", "v"))
    t.overwrite(spark, Seq((9L, "z")).toDF("id", "v"))

    drain()
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted ===
      Array((1L, "a"), (2L, "b"), (9L, "z")),
      "resume must serve exactly the unseen commits, never re-serve v0")
  }

  test("full lake loop: stream in via foreachBatch appends, stream out via the log tail") {
    implicit val sc = spark.sqlContext
    val root = freshDir("vloop")
    val t = new VersionedTable(root)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]

    // producer leg: each micro-batch lands as one commit
    val ingest = input.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        t.append(spark, b); ()
      }
      .option("checkpointLocation", freshDir("vloop-ick"))
      .outputMode("append").start()
    try {
      input.addData(1, 2, 3)
      ingest.processAllAvailable()
      input.addData(4, 5)
      ingest.processAllAvailable()
    } finally ingest.stop()

    // consumer leg: tail the commit log the producer just wrote
    val q = stream(root).writeStream.format("memory").queryName("vloop")
      .option("checkpointLocation", freshDir("vloop-ock"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("vloop").as[Int].collect().sorted === Array(1, 2, 3, 4, 5),
      "every ingested micro-batch must round-trip through the table exactly once")
  }

  test("batch face: versionAsOf, zone-map file skipping, physical column pruning") {
    import org.apache.spark.sql.functions._
    val root = freshDir("vbatch")
    val t = new VersionedTable(root)
    // three single-file commits with disjoint id ranges + footer stats
    Seq((0L, 50L), (50L, 100L), (100L, 150L)).foreach { case (lo, hi) =>
      t.append(spark,
        spark.range(lo, hi).toDF("id")
          .withColumn("v", concat(lit("r"), col("id").cast("string")))
          .repartition(1),
        statsCol = Some("id"))
    }
    def batch(opts: (String, String)*) = {
      val r = spark.read.format("graft.sources.VersionedStreamProvider")
        .option("path", root)
      opts.foldLeft(r) { case (b, (k, x)) => b.option(k, x) }.load()
    }

    assert(batch().count() === 150, "count(*) reads only footers, still exact")
    assert(batch("versionAsOf" -> "0").select("id").as[Long].collect().sorted
      === (0L until 50L).toArray, "time travel through the batch face")

    // a pushed comparison must open ONE of the three files
    val hit = batch().filter(col("id") === 120L)
    assert(hit.rdd.getNumPartitions === 1, "zone maps did not skip files")
    assert(hit.select("v").as[String].collect() === Array("r120"))
    assert(batch().rdd.getNumPartitions === 3, "unfiltered scan reads all files")

    // projection reordered vs file order exercises the positional map
    assert(batch().select("v", "id").where(col("id") === 7L)
      .as[(String, Long)].collect() === Array(("r7", 7L)))
  }

  test("a window whose data file is gone fails loudly, never skips history") {
    val root = freshDir("vstream3")
    val t = new VersionedTable(root)
    t.append(spark, Seq((1L, "a")).toDF("id", "v"))    // v0
    t.overwrite(spark, Seq((2L, "b")).toDF("id", "v")) // v1: v0's file dies
    // reclaim v0's file outside the table's API
    t.filesAt(0L).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    assertThrows[IllegalArgumentException](t.filesAddedAt(0L))
    assert(t.filesAddedAt(1L).nonEmpty, "intact windows still serve")
    // both feeds fail the drain instead of silently skipping v0's window
    Seq(false, true).foreach { cdc =>
      val q = spark.readStream
        .format("graft.sources.VersionedStreamProvider")
        .option("path", root).option("changeFeed", cdc.toString).load()
        .writeStream.format("memory").queryName(s"vs3$cdc")
        .option("checkpointLocation", freshDir("vs3ck"))
        .trigger(Trigger.AvailableNow()).start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination())
      assert(e.getMessage.contains("missing"), e.getMessage)
    }
  }

  test("a restore replays its re-referenced files to log-tailing consumers") {
    // append-mode CDF semantics (the public Delta behavior): a RESTORE
    // commit re-ADDS the rolled-back files, so a downstream consumer
    // tailing the log sees those rows again — by design, since its view
    // must converge to the restored table state. Consumers that resumed
    // BEFORE the restore already hold the bad window; the replay is what
    // lets an idempotent sink (keyed upsert) settle on the target rows.
    val root = freshDir("vstream-restore")
    val t = new VersionedTable(root)
    t.append(spark, Seq((1L, "good")).toDF("id", "v"))   // v0
    t.overwrite(spark, Seq((2L, "bad")).toDF("id", "v")) // v1
    val rv = t.restore(0L)                               // v2: re-adds v0's file
    assert(rv === 2L)
    assert(t.filesAddedAt(rv) === t.filesAt(0L),
      "the restore commit's adds are v0's files by reference")

    // a consumer tailing the whole log serves v0, the bad v1, and then
    // the restore window's re-referenced rows again
    val q = stream(root)
      .writeStream.format("memory").queryName("vsr")
      .option("checkpointLocation", freshDir("vsrck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("vsr").as[(Long, String)].collect().sorted ===
      Array((1L, "good"), (1L, "good"), (2L, "bad")))
  }

  test("changeFeed streams MoR deletes as tagged rows; absent without the option") {
    val root = freshDir("vstream-cdc")
    val t = new VersionedTable(root)
    t.append(spark, spark.range(0, 30).toDF("id").repartition(2))  // v0
    t.deleteRowsWhere(spark, "id % 10 = 3")                        // v1: 3,13,23
    t.deleteRowsWhere(spark, "id % 10 = 7")                        // v2: 7,17,27

    // default contract unchanged: the delete windows serve NOTHING and
    // there is no _change_type column
    val plain = stream(root)
    assert(!plain.schema.fieldNames.contains("_change_type"))
    val q0 = plain.writeStream.format("memory").queryName("vcdc0")
      .option("checkpointLocation", freshDir("vcdc0ck"))
      .trigger(Trigger.AvailableNow()).start()
    q0.awaitTermination()
    assert(spark.table("vcdc0").count() === 30,
      "without changeFeed the MoR delete windows must stay invisible")

    // with the option: inserts for v0, and each delete window serves
    // exactly ITS vector growth (the v2 window diffs against v1's
    // sidecar — never re-serves v1's positions)
    val cdc = spark.readStream.format("graft.sources.VersionedStreamProvider")
      .option("path", root).option("changeFeed", "true").load()
    assert(cdc.schema.fieldNames.takeRight(2) ===
      Array("_change_type", "_commit_version"))
    val q1 = cdc.writeStream.format("memory").queryName("vcdc1")
      .option("checkpointLocation", freshDir("vcdc1ck"))
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val rows = spark.table("vcdc1").as[(Long, String, Long)].collect()
    assert(rows.count(_._2 == "insert") === 30)
    assert(rows.filter(_._2 == "insert").forall(_._3 == 0L),
      "inserts carry their commit version")
    val deletes = rows.filter(_._2 == "delete").map(_._1).sorted
    assert(deletes === Array(3L, 7L, 13L, 17L, 23L, 27L),
      "each deleted row surfaces exactly once across the two windows")
    // _commit_version orders the feed: v1's deletes vs v2's
    assert(rows.filter(r => r._2 == "delete" && r._3 == 1L).map(_._1).sorted ===
      Array(3L, 13L, 23L))
    assert(rows.filter(r => r._2 == "delete" && r._3 == 2L).map(_._1).sorted ===
      Array(7L, 17L, 27L))

    // an aggregate that projects ONLY the tag column still counts right
    // (the footer-count path must honor include-mode cardinality)
    val q2 = spark.readStream.format("graft.sources.VersionedStreamProvider")
      .option("path", root).option("changeFeed", "true").load()
      .select("_change_type")
      .writeStream.format("memory").queryName("vcdc2")
      .option("checkpointLocation", freshDir("vcdc2ck"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("vcdc2").as[String].collect()
      .count(_ == "delete") === 6)

    // changeFeed is a streaming option: the batch face refuses it
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.VersionedStreamProvider")
        .option("path", root).option("changeFeed", "true").load().count()
    }
    assert(ex.getMessage.contains("changeFeed") ||
      Option(ex.getCause).exists(_.getMessage.contains("changeFeed")))
  }

  test("changeFeed serves file-CDC for rewrite commits; maintenance is invisible") {
    val root = freshDir("vstream-cdc2")
    val t = new VersionedTable(root)
    t.append(spark, spark.range(0, 20).toDF("id")
      .withColumn("b", org.apache.spark.sql.functions.col("id") % 4)
      .repartition(1), statsCol = Some("id")) // v0: 20 inserts
    t.deleteWhere(spark, "id", 5L, 9L)   // v1: CoW rewrite of the one file
    // v2: maintenance — must serve NOTHING
    t.compactZOrder(spark, "id", "b", targetFiles = 1)
    val q = spark.readStream.format("graft.sources.VersionedStreamProvider")
      .option("path", root).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("vcdc3")
      .option("checkpointLocation", freshDir("vcdc3ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("vcdc3")
      .select("id", "_change_type", "_commit_version").as[(Long, String, Long)].collect()
    // v1 is file-CDC: the removed file's 20 rows surface as deletes,
    // the rewritten survivors (15) as inserts — carried rows on both
    // sides, the changesBetween contract; v2 contributes zero rows
    assert(rows.count(_._2 == "insert") === 35)
    assert(rows.filter(_._2 == "delete").map(_._1).sorted ===
      (0L until 20L).toArray)
    assert(rows.forall(_._3 < 2L), "the maintenance commit v2 serves nothing")
    assert(rows.count(_._3 == 1L) === 35, "v1's file-CDC = 20 deletes + 15 inserts")
    // consumer-side reconciliation nets out to exactly the head state
    val net = rows.groupBy(_._1).view.mapValues(rs =>
      rs.count(_._2 == "insert") - rs.count(_._2 == "delete")).toMap
    assert(net.filter(_._2 > 0).keys.toSeq.sorted ===
      t.read(spark).select("id").as[Long].collect().sorted)

    // the CDC tag column name is RESERVED under the option
    val t2 = new VersionedTable(freshDir("vstream-cdc3"))
    t2.append(spark, Seq((1L, "x")).toDF("id", "_change_type"))
    val ex = intercept[Exception] {
      spark.readStream.format("graft.sources.VersionedStreamProvider")
        .option("path", t2.root).option("changeFeed", "true").load()
    }
    assert(ex.getMessage.contains("_change_type") ||
      Option(ex.getCause).exists(_.getMessage.contains("_change_type")))
  }

  test("include-mode reader stays correct across multiple row groups") {
    // a small parquet block size forces several row groups per file —
    // the shape where the grown-position reader's group skipping must
    // still deliver exactly the wanted rows
    val hc = spark.sparkContext.hadoopConfiguration
    val old = Option(hc.get("parquet.block.size"))
    hc.set("parquet.block.size", (64 * 1024).toString)
    val root = try {
      val r = freshDir("vstream-cdcrg")
      val t = new VersionedTable(r)
      t.append(spark, spark.range(0, 200000).toDF("id").repartition(1))
      t.deleteRowsWhere(spark, "id = 123 OR id = 199999")
      r
    } finally old match {
      case Some(v) => hc.set("parquet.block.size", v)
      case None => hc.unset("parquet.block.size")
    }
    val file = new VersionedTable(root).filesAt(0L).head
    val pr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        new org.apache.hadoop.conf.Configuration()))
    val nGroups = try pr.getFooter.getBlocks.size finally pr.close()
    assert(nGroups > 1, s"need a multi-row-group file, got $nGroups group(s)")
    val q = spark.readStream.format("graft.sources.VersionedStreamProvider")
      .option("path", root).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("vcdcrg")
      .option("checkpointLocation", freshDir("vcdcrgck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("vcdcrg").as[(Long, String, Long)].collect()
    assert(rows.count(_._2 == "insert") === 200000)
    assert(rows.filter(_._2 == "delete").map(_._1).sorted ===
      Array(123L, 199999L),
      "group skipping must still surface exactly the grown positions")
  }

  test("the batch scan reports PRUNED statistics to the planner") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val root = freshDir("vstream-stats")
    val t = new VersionedTable(root)
    // a tiny file [0, 9] and a big file [1000, 100999], zone maps on id
    t.append(spark, spark.range(0, 10).toDF("id").repartition(1),
      statsCol = Some("id"))
    t.append(spark, spark.range(1000, 101000).toDF("id").repartition(1),
      statsCol = Some("id"))
    def statsOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.computeStats()
      }.head
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", root).load()
    val full = statsOf(dsv2)
    val pruned = statsOf(dsv2.filter("id < 100"))
    // the pruned probe reports ONE small file, not the table
    assert(pruned.sizeInBytes < full.sizeInBytes / 10,
      s"pruned=${pruned.sizeInBytes} full=${full.sizeInBytes}")
    // row counts are exact from the recorded footer rows
    assert(full.rowCount.contains(BigInt(100010)))
    assert(pruned.rowCount.contains(BigInt(10)))
    // ...and a MoR delete's vector cardinality is subtracted
    t.deleteRowsWhere(spark, "id < 5")
    val afterDv = statsOf(spark.read
      .format("graft.sources.VersionedStreamProvider")
      .option("path", root).load().filter("id < 100"))
    assert(afterDv.rowCount.contains(BigInt(5)))
    // the payoff: a selective probe joined against a big frame is
    // AUTO-broadcast — no hint — because the scan's reported size sits
    // under the broadcast threshold
    val big = spark.range(0, 200000).toDF("id")
    val joined = big.join(dsv2.filter("id < 100"), "id")
    val hasBroadcast = joined.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin")
    assert(hasBroadcast,
      "a pruned scan under the broadcast threshold must plan a broadcast join:\n" +
        joined.queryExecution.sparkPlan.toString)

    // a scan serving a STREAM reports UNKNOWN: head-snapshot numbers
    // would mis-describe a drain (it replays history) and per-trigger
    // stats would sweep the table's files every trigger
    val builder = new graft.sources.VersionedScanBuilder(
      root, None, false, dsv2.schema)
    val scan = builder.build()
    scan.toMicroBatchStream(freshDir("vstatsck"))
    val streamStats = scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(!streamStats.sizeInBytes.isPresent && !streamStats.numRows.isPresent,
      "a streaming scan must not report head-snapshot statistics")
  }

  test("the provider refuses options it does not read and has no write path") {
    val root = freshDir("vstream-opts")
    val t = new VersionedTable(root)
    t.append(spark, Seq((1L, "a")).toDF("id", "v"))
    val provider = "graft.sources.VersionedStreamProvider"
    // options of dropped features must fail by name, never be ignored
    Seq("maxFilesPerTrigger" -> "1", "startingVersion" -> "1",
        "failOnDataLoss" -> "false").foreach { case (k, x) =>
      val batch = intercept[IllegalArgumentException](
        spark.read.format(provider).option("path", root).option(k, x).load())
      assert(batch.getMessage.contains(k), batch.getMessage)
      val streaming = intercept[IllegalArgumentException](
        spark.readStream.format(provider).option("path", root).option(k, x).load())
      assert(streaming.getMessage.contains(k), streaming.getMessage)
    }
    // the options it does read still load
    assert(spark.read.format(provider).option("path", root)
      .option("versionAsOf", "0").load().count() === 1)
    // a write through the provider falls back to Spark's V1 write
    // path, which refuses a source that is not a writable relation
    val w = intercept[org.apache.spark.SparkException](
      Seq((2L, "b")).toDF("id", "v").write.format(provider)
        .option("path", root).mode("append").save())
    assert(w.getMessage.contains("does not allow create table as select"), w.getMessage)
    assert(t.version === 0L && t.read(spark).count() === 1)
  }
}
