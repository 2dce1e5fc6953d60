package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{VersionOffset, VersionedMicroBatchStream, VersionedTable}

/** Round-15 lake-layer invariants: pushed IN filters over deletion
  * vectors, log-served planner byte stats, the carried change-feed
  * fold, and the explicit-schema changeFeed contract. */
class Round15LakeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString

  /** Three single-file commits with disjoint id ranges + zone maps. */
  private def threeFileTable(tag: String): (String, VersionedTable) = {
    val root = freshDir(tag)
    val t = new VersionedTable(root)
    Seq((0L, 50L), (50L, 100L), (100L, 150L)).foreach { case (lo, hi) =>
      t.append(spark, spark.range(lo, hi).toDF("id")
        .withColumn("v", concat(lit("r"), col("id").cast("string")))
        .repartition(1), statsCol = Some("id"))
    }
    (root, t)
  }

  private def dsv2(root: String) = spark.read
    .format("graft.sources.VersionedStreamProvider")
    .option("path", root).load()

  test("pushed STRING IN filters prune and respect MoR deletion vectors") {
    // a string IN-set must prune through the recorded truncated byte
    // bounds
    val root = freshDir("in-str")
    val t = new VersionedTable(root)
    Seq("ar" -> "de", "en" -> "fr", "it" -> "pt").foreach { case (lo, hi) =>
      t.append(spark, Seq((1L, lo), (2L, hi)).toDF("id", "lang")
        .repartition(1), statsCol = Some("lang"))
    }
    assert(dsv2(root).filter(col("lang").isin("en", "fr")).rdd.getNumPartitions === 1,
      "a string IN-set must prune through the byte bounds")
    // a pruned read over a MoR-deleted file stays exact: the kept
    // partition still carries its deletion vector
    t.deleteRowsWhere(spark, "lang = 'fr'")
    val rows = dsv2(root).filter(col("lang").isin("en", "fr"))
      .select("id", "lang").as[(Long, String)].collect()
    assert(rows === Array((1L, "en")),
      "pruned partitions must still subtract their deletion vectors")
  }

  test("static integer IN pushdown prunes files (the pre-runtime twin)") {
    val (root, _) = threeFileTable("in-static")
    val hit = dsv2(root).filter(col("id").isin(7L, 120L))
    assert(hit.rdd.getNumPartitions === 2,
      "an integer IN list must prune through the zone maps statically")
    assert(hit.select("id").as[Long].collect().sorted === Array(7L, 120L))
  }

  test("byte stats: planner size is served from the log, not the file system") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val (root, t) = threeFileTable("bytes-log")
    val files = t.filesAt(t.version).map(Paths.get(_))
    val sizes = files.map(Files.size)
    // INFLATE one file on disk: the recorded numbers must keep serving —
    // proof that statistics do not re-stat the files
    val victim = files.head
    Files.write(victim, new Array[Byte](4096),
      java.nio.file.StandardOpenOption.APPEND)
    assert(Files.size(victim) === sizes.head + 4096)
    val stats = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", root).load()
      .queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.computeStats()
      }.head
    assert(stats.sizeInBytes === BigInt(sizes.sum),
      "the reported scan size is the RECORDED sum, not a live stat sweep")
  }

  test("the change-feed fold is carried across triggers: O(window) log reads each") {
    val root = freshDir("cdc-carry")
    val t = new VersionedTable(root)
    (0 until 7).foreach(i => t.append(spark,
      spark.range(i * 10L, (i + 1) * 10L).toDF("id").repartition(1)))
    val s = new VersionedMicroBatchStream(root, changeFeed = true,
      spark.readStream.format("graft.sources.VersionedStreamProvider")
        .option("path", root).option("changeFeed", "true").load().schema)
    def drain(from: Long, to: Long): Int =
      s.planInputPartitions(VersionOffset(from), VersionOffset(to)).length
    // first window seeds the fold (empty below v0), then 3 window reads
    assert(drain(-1, 2) === 3)
    val afterFirst = s.table.logFileReads.get()
    // the steady-state tail: each subsequent window folds ONLY its own
    // commits — no re-seed, no checkpoint read, no batch-start re-fold
    assert(drain(2, 4) === 2)
    assert(s.table.logFileReads.get() - afterFirst === 2L,
      "a carried fold must read exactly the window's log files")
    val afterSecond = s.table.logFileReads.get()
    assert(drain(4, 6) === 2)
    assert(s.table.logFileReads.get() - afterSecond === 2L)
    // a non-contiguous (retried) window falls back to a fresh seed and
    // still serves the right commits
    assert(drain(3, 5) === 2)

    // a commit landing BETWEEN triggers is served from the carried
    // state — the steady-state tail never re-seeds for fresh commits
    assert(drain(5, 6) === 1) // realign the carry to the head
    t.deleteRowsWhere(spark, "id = 42") // v7: a dvset-only commit
    val before = s.table.logFileReads.get()
    val parts = s.planInputPartitions(VersionOffset(6), VersionOffset(7))
    assert(parts.length === 1, "the MoR delete serves one grown partition")
    assert(s.table.logFileReads.get() - before === 1L,
      "a fresh commit folds from the carried state: one log read")
  }

  test("a PACED changeFeed drain serves exact CDC across triggers (carried-fold e2e)") {
    // a running stream drains each group of commits as it lands, which
    // drives the REAL engine through multiple contiguous
    // planInputPartitions windows — the call pattern the carried fold
    // assumes — over a history mixing appends, a MoR delete (zero ADD
    // actions), and a CoW delete
    val root = freshDir("cdc-paced")
    val t = new VersionedTable(root)
    t.append(spark, spark.range(0, 20).toDF("id").repartition(1),
      statsCol = Some("id"))                 // v0: 20 inserts
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = spark.readStream.format("graft.sources.VersionedStreamProvider")
      .option("path", root).option("changeFeed", "true").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2)))
        acc.synchronized { acc ++= rows; batches += rows.length.toLong }
        ()
      }
      .option("checkpointLocation", freshDir("cdc-paced-ck"))
      .start()
    try {
      q.processAllAvailable()
      t.append(spark, spark.range(20, 40).toDF("id").repartition(1),
        statsCol = Some("id"))               // v1: 20 inserts
      t.deleteRowsWhere(spark, "id = 7")     // v2: 1 positional delete
      q.processAllAvailable()
      t.append(spark, spark.range(40, 50).toDF("id").repartition(1),
        statsCol = Some("id"))               // v3: 10 inserts
      q.processAllAvailable()
      t.deleteWhere(spark, "id", 45L, 49L)   // v4: CoW rewrite of v3's file
      q.processAllAvailable()
    } finally q.stop()
    assert(batches.count(_ > 0) >= 3, s"the drain must span triggers (got $batches)")
    val all = acc.toArray
    // exactly-once CDC across every trigger boundary:
    assert(all.count(_._2 == "insert") === 55,
      "50 appended rows + the CoW rewrite's 5 survivors re-inserted")
    assert(all.filter(_._2 == "delete").map(_._1).sorted ===
      (Seq(7L) ++ (40L until 50L)).toArray,
      "the MoR needle + the CoW-removed file's 10 visible rows")
    assert(all.filter(r => r._2 == "delete" && r._3 == 2L).map(_._1) ===
      Array(7L), "the dvset-only commit's window serves its grown position")
  }

  test("explicit readStream.schema() cannot bypass the changeFeed contract") {
    val root = freshDir("cdc-schema")
    val t = new VersionedTable(root)
    t.append(spark, Seq((1L, "a")).toDF("id", "v"))
    val base = t.read(spark).schema
    // a schema WITHOUT the feed columns is refused, not silently served
    val ex = intercept[Exception] {
      spark.readStream.schema(base)
        .format("graft.sources.VersionedStreamProvider")
        .option("path", root).option("changeFeed", "true").load()
    }
    assert(ex.getMessage.contains("_change_type") ||
      Option(ex.getCause).exists(_.getMessage.contains("_change_type")))
    // the full contract schema loads
    val full = base
      .add("_change_type", org.apache.spark.sql.types.StringType, false)
      .add("_commit_version", org.apache.spark.sql.types.LongType, false)
    val ok = spark.readStream.schema(full)
      .format("graft.sources.VersionedStreamProvider")
      .option("path", root).option("changeFeed", "true").load()
    assert(ok.schema.fieldNames.takeRight(2) ===
      Array("_change_type", "_commit_version"))
    // the reserved-name check also holds on this path
    val t2 = new VersionedTable(freshDir("cdc-schema2"))
    t2.append(spark, Seq((1L, "x")).toDF("id", "_change_type"))
    val ex2 = intercept[Exception] {
      spark.readStream
        .schema(t2.read(spark).schema
          .add("_commit_version", org.apache.spark.sql.types.LongType, false))
        .format("graft.sources.VersionedStreamProvider")
        .option("path", t2.root).option("changeFeed", "true").load()
    }
    assert(ex2.getMessage.contains("reserved") ||
      Option(ex2.getCause).exists(_.getMessage.contains("reserved")))
  }
}
