package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** Round-12 lake-scale features: log checkpoints (snapshot reads are
  * O(interval) log files at any version count), string zone maps
  * (truncated-bound BYTE_ARRAY skipping), merge-on-read DELETE
  * (deletion vectors — no data-file rewrite), and the generalized
  * string/IN copy-on-write delete.
  */
class LakeScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dir(): String = Files.createTempDirectory("lake").toString

  /** The action lines commit v wrote to the log. */
  private def logLines(t: VersionedTable, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(t.root, "_log", f"$v%012d.json")).asScala.toSeq

  /** Summed `card` of the deletion-vector sidecars commit v set. */
  private def dvCard(t: VersionedTable, v: Long): Long =
    logLines(t, v).flatMap("\"card\":(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toLong).sum

  // ------------------------------------------------------------------
  // Log checkpoints
  // ------------------------------------------------------------------

  test("checkpoints bound snapshot reads to O(interval) log files at any version count") {
    val root = dir()
    val t = new VersionedTable(root, checkpointInterval = 5)
    (0 until 23).foreach { i =>
      t.append(spark, Seq((i, s"v$i")).toDF("id", "v"))
    }
    t.awaitCheckpoints() // checkpoint writes are async (off the commit path)
    // checkpoints landed at every 5th commit
    val cps = Files.list(Paths.get(root, "_log")).iterator()
    var cpNames = List.empty[String]
    cps.forEachRemaining(p => if (p.getFileName.toString.endsWith(".checkpoint"))
      cpNames ::= p.getFileName.toString)
    assert(cpNames.sorted === List("000000000005.checkpoint",
      "000000000010.checkpoint", "000000000015.checkpoint",
      "000000000020.checkpoint"))

    // a FRESH instance's head read folds checkpoint-20 + logs 21-22 only
    val fresh = new VersionedTable(root, checkpointInterval = 5)
    fresh.logFileReads.set(0L)
    assert(fresh.read(spark).count() === 23)
    val readsAt23 = fresh.logFileReads.get()
    assert(readsAt23 <= 5,
      s"head read touched $readsAt23 log files; want <= interval (cp + tail)")

    // double the history: the bound DOES NOT grow with version count
    (23 until 46).foreach(i => t.append(spark, Seq((i, s"v$i")).toDF("id", "v")))
    t.awaitCheckpoints()
    val fresh2 = new VersionedTable(root, checkpointInterval = 5)
    fresh2.logFileReads.set(0L)
    assert(fresh2.read(spark).count() === 46)
    assert(fresh2.logFileReads.get() <= 5,
      s"head read after 2x history touched ${fresh2.logFileReads.get()} log files")

    // structural proof: a head read needs NOTHING before the checkpoint —
    // park the pre-checkpoint logs elsewhere and the head still serves
    val bak = Files.createTempDirectory("logbak")
    val parked = (0L until 45L).map(v => f"$v%012d.json")
    parked.foreach { n =>
      Files.move(Paths.get(root, "_log", n), bak.resolve(n))
    }
    try {
      val headOnly = new VersionedTable(root, checkpointInterval = 5)
      assert(headOnly.read(spark).count() === 46)
      assert(headOnly.read(spark).select("id").as[Int].collect().sorted ===
        (0 until 46).toArray)
    } finally parked.foreach { n =>
      Files.move(bak.resolve(n), Paths.get(root, "_log", n))
    }
  }

  test("checkpoints carry schema and zone maps forward") {
    val root = dir()
    val t = new VersionedTable(root, checkpointInterval = 4)
    t.append(spark, spark.range(0, 100).toDF("id").repartition(1),
      statsCol = Some("id"))                                        // v0
    t.append(spark, spark.range(100, 120).toDF("id"))               // v1
    t.append(spark, spark.range(120, 150).toDF("id"))               // v2
    t.append(spark, spark.range(150, 200).toDF("id")
      .withColumn("tag", org.apache.spark.sql.functions.lit("x"))) // v3: evolve
    t.append(spark, spark.range(200, 210).toDF("id"))               // v4 → checkpoint
    t.append(spark, spark.range(210, 220).toDF("id"))               // v5
    t.awaitCheckpoints()
    assert(Files.exists(Paths.get(root, "_log", "000000000004.checkpoint")))

    val fresh = new VersionedTable(root, checkpointInterval = 4)
    // schema (evolved at v3) rides the checkpoint
    assert(fresh.read(spark).schema.fieldNames === Array("id", "tag"))
    assert(fresh.read(spark).count() === 220)
    // v0's zone map is served from the checkpointed add action: a probe
    // outside its [0, 99] interval skips that file (the stats-free later
    // files are always candidates — skipping is sound, not complete)
    assert(fresh.readWhere(spark, 5L, "id", 500L, 600L).inputFiles.length ===
      fresh.filesAt(5L).size - 1)
  }

  test("write paths fold the log once per commit attempt") {
    val root = dir()
    val t = new VersionedTable(root, checkpointInterval = 5)
    (0 until 12).foreach(i => t.append(spark, Seq((i, "x")).toDF("id", "v")))
    t.awaitCheckpoints()
    // head = 11, checkpoint at 10 → one fold costs 2 file reads (cp +
    // log 11). An append folds once per commit attempt; refolding per
    // accessor (schema, live files) would read 4+.
    val fresh = new VersionedTable(root, checkpointInterval = 5)
    fresh.logFileReads.set(0L)
    fresh.append(spark, Seq((99, "y")).toDF("id", "v"))
    val reads = fresh.logFileReads.get()
    assert(reads <= 5,
      s"append touched $reads log files; a commit must fold at most twice")
  }

  test("an unknown-format checkpoint is skipped, never mis-parsed") {
    val root = dir()
    val t = new VersionedTable(root, checkpointInterval = 3)
    (0 until 8).foreach(i => t.append(spark, Seq((i, s"v$i")).toDF("id", "v")))
    t.awaitCheckpoints()
    assert(Files.exists(Paths.get(root, "_log", "000000000006.checkpoint")))
    // a future writer lands a checkpoint at v7 in an encoding this
    // reader does not understand — a TEXT header declaring fmt:3, or a
    // binary file under a different magic. Seeding from either would
    // corrupt the fold, so the reader must fall back (older checkpoint
    // or full log), which stays available and correct.
    Files.write(Paths.get(root, "_log", "000000000007.checkpoint"),
      "{\"op\":\"cp\",\"fmt\":3,\"v\":7}\n{\"op\":\"adds-v3\",\"packed\":\"bogus\"}"
        .getBytes("UTF-8"))
    val fresh = new VersionedTable(root, checkpointInterval = 3)
    assert(fresh.read(spark).select("id").as[Int].collect().sorted ===
      (0 until 8).toArray,
      "reads must skip the fmt:3 checkpoint and still serve the exact state")
    assert(fresh.readAsOf(spark, 7L).count() === 8)
    // the binary variant: magic "GCP9" + garbage
    Files.write(Paths.get(root, "_log", "000000000007.checkpoint"),
      Array[Byte](0x47, 0x43, 0x50, 0x39, 1, 2, 3, 4, 5, 6, 7, 8))
    val fresh2 = new VersionedTable(root, checkpointInterval = 3)
    assert(fresh2.read(spark).select("id").as[Int].collect().sorted ===
      (0 until 8).toArray,
      "reads must skip an unknown-magic binary checkpoint")
    // ...and a TRUNCATED fmt:2 checkpoint (torn write survived the
    // rename somehow) parses to None, not to a partial state
    val good = Files.readAllBytes(Paths.get(root, "_log", "000000000006.checkpoint"))
    Files.write(Paths.get(root, "_log", "000000000007.checkpoint"),
      java.util.Arrays.copyOf(good, good.length / 2))
    val fresh3 = new VersionedTable(root, checkpointInterval = 3)
    assert(fresh3.read(spark).select("id").as[Int].collect().sorted ===
      (0 until 8).toArray,
      "a truncated fmt:2 checkpoint must fall back, never half-parse")
  }

  test("pre-checkpoint-era logs (no .checkpoint files) read unchanged") {
    val root = dir()
    // an r11-era writer: checkpointing did not exist
    val legacy = new VersionedTable(root, checkpointInterval = 0)
    legacy.append(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    legacy.overwrite(spark, Seq((3, "c")).toDF("id", "v"))
    legacy.append(spark, Seq((4, "d")).toDF("id", "v"))
    val logs = Files.list(Paths.get(root, "_log")).iterator()
    var names = List.empty[String]
    logs.forEachRemaining(p => names ::= p.getFileName.toString)
    assert(names.forall(_.endsWith(".json")), "legacy layout: no checkpoints")

    // a current-format reader folds it from version 0, bit-identical
    val now = new VersionedTable(root)
    assert(now.read(spark).select("id").as[Int].collect().sorted === Array(3, 4))
    assert(now.readAsOf(spark, 0L).count() === 2)
    assert(now.history.map(_._2) === Seq("append", "overwrite", "append"))
  }

  // ------------------------------------------------------------------
  // Merge-on-read DELETE (deletion vectors)
  // ------------------------------------------------------------------

  test("deleteRowsWhere commits positions, not rewrites: needle delete rewrites zero files") {
    val t = new VersionedTable(dir())
    // three single-file commits — the needle-per-file worst case for CoW
    Seq((0L, 50L), (50L, 100L), (100L, 150L)).foreach { case (lo, hi) =>
      t.append(spark, spark.range(lo, hi).toDF("id").repartition(1),
        statsCol = Some("id"))
    }
    val before = t.filesAt(2L).toSet

    val v = t.deleteRowsWhere(spark, "id % 50 = 7") // one row in EVERY file
    assert(v === 3L)
    assert(t.history.last._2 === "delete_mor")
    // ZERO data files changed — the delete is pure metadata
    assert(t.filesAt(v).toSet === before,
      "merge-on-read delete must not rewrite or add any data file")
    assert(dvCard(t, v) === 3)
    // the read subtracts exactly the matches
    assert(t.read(spark).count() === 147)
    assert(t.read(spark).filter("id % 50 = 7").count() === 0)
    assert(t.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 150L).filterNot(_ % 50 == 7).toArray)
    // the deleted rows stay time-travelable
    assert(t.readAsOf(spark, 2L).count() === 150)

    // a second MoR delete MERGES into the existing vectors
    t.deleteRowsWhere(spark, "id IN (7, 12)") // 7 already deleted, 12 fresh
    assert(t.read(spark).count() === 146)
    assert(t.filesAt(t.version).toSet === before)

    // the DSv2 batch face serves the post-delete state positionally
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).load()
    assert(dsv2.count() === 146)
    assert(dsv2.filter("id % 50 = 7 OR id = 12").count() === 0)
    assert(dsv2.select("id").as[Long].collect().sorted ===
      (0L until 150L).filterNot(i => i % 50 == 7 || i == 12).toArray)
    // ...including the no-column footer-count path (count(*) shape)
    assert(dsv2.selectExpr("count(*)").as[Long].head() === 146)

    // a no-match predicate commits nothing
    val head = t.version
    assert(t.deleteRowsWhere(spark, "id > 100000") === head)
    assert(t.version === head)
  }

  test("deletion vectors stay position-exact under schema evolution") {
    val t = new VersionedTable(dir())
    t.append(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")) // v0
    t.append(spark, Seq((4L, "d", 9.5)).toDF("id", "v", "score"))        // v1: evolve
    t.deleteRowsWhere(spark, "id = 2")                                   // v2: DV on the OLD-schema file
    // the DV'd old file null-fills the evolved column AND subtracts its
    // position; the evolved file is untouched
    val head = t.read(spark)
    assert(head.schema.fieldNames === Array("id", "v", "score"))
    assert(head.as[(Long, String, Option[Double])].collect().sortBy(_._1) ===
      Array((1L, "a", None), (3L, "c", None), (4L, "d", Some(9.5))))
    // predicates over the evolved column three-value correctly on old rows
    assert(t.deleteRowsWhere(spark, "score < 100") === 3L) // only id=4 matches
    assert(t.read(spark).select("id").as[Long].collect().sorted === Array(1L, 3L))
    // and the DSv2 face agrees positionally
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).load()
    assert(dsv2.select("id").as[Long].collect().sorted === Array(1L, 3L))
  }

  test("deletion vectors are sidecar files: O(1) log line per file, no position cap") {
    val t = new VersionedTable(dir())
    t.append(spark, spark.range(0, 200000).toDF("id").repartition(2))
    // a BULK merge-on-read delete — 150k positions, 1.5× the r12 cap
    // that used to refuse this toward the copy-on-write path
    val v = t.deleteRowsWhere(spark, "id % 4 != 3")
    assert(v === 1L)
    assert(t.read(spark).count() === 50000)
    assert(t.read(spark).filter("id % 4 != 3").count() === 0)
    // the log lines reference sidecars — the positions themselves never
    // enter the log, so a dvset line is O(1) however many rows matched
    val lines = Files.readAllLines(
      Paths.get(t.root, "_log", "000000000001.json"))
    lines.forEach { l =>
      assert(l.length < 300, s"log line must stay O(1) per file: $l")
      if (l.contains("dvset")) {
        assert(l.contains("\"dvref\""), s"expected a sidecar reference: $l")
        assert(!l.contains("\"positions\""), s"positions leaked into the log: $l")
      }
    }
    // the referenced sidecars exist under data/ (range-run encoded —
    // this delete's positions are runs of 3, so the files stay tiny)
    val refs = lines.toArray.map(_.toString).filter(_.contains("dvset"))
      .map(l => "\"dvref\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1))
    assert(refs.length === 2)
    refs.foreach { n =>
      val p = Paths.get(t.root, "data", n)
      assert(Files.exists(p))
      assert(Files.size(p) < (1 << 20),
        "150k clustered positions must run-length-collapse, not pack verbatim")
    }
    // the DSv2 face loads the sidecars task-side and agrees
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).load()
    assert(dsv2.count() === 50000)

    // a second bulk delete MERGES into the sidecar vectors
    t.deleteRowsWhere(spark, "id % 4 = 3 AND id < 40000")
    assert(t.read(spark).count() === 40000)
    assert(t.readAsOf(spark, v).count() === 50000, "history intact")
  }

  test("r12-era inline-position dvset logs read unchanged") {
    val t = new VersionedTable(dir())
    t.append(spark, spark.range(0, 10).toDF("id").repartition(1)) // v0
    val file = Paths.get(t.filesAt(0L).head).getFileName.toString
    // an r12 writer's merge-on-read delete: positions INLINE in the log
    Files.write(Paths.get(t.root, "_log", "000000000001.json"),
      (s"""{"op":"meta","operation":"delete_mor"}""" + "\n" +
        s"""{"op":"dvset","file":"$file","positions":"1,3"}""").getBytes("UTF-8"))
    assert(t.read(spark).select("id").as[Long].collect().sorted ===
      Array(0L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
    // the DSv2 face serves the inline vector too
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).load()
    assert(dsv2.select("id").as[Long].collect().sorted ===
      Array(0L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
    // a NEW delete on top merges the legacy inline vector into a sidecar
    t.deleteRowsWhere(spark, "id = 5")
    assert(t.read(spark).select("id").as[Long].collect().sorted ===
      Array(0L, 2L, 4L, 6L, 7L, 8L, 9L))
    assert(dvCard(t, 2L) === 3L,
      "the merged vector must carry the inline positions forward")
  }

  test("a lost race against a disjoint commit rebases without re-running the delete job") {
    val t = new VersionedTable(dir())
    t.append(spark, spark.range(0, 100).toDF("id").repartition(1))   // v0
    // interleave a DISJOINT commit (an append: new files only) between
    // the delete's Spark job and its commit attempt — deterministic
    // lost race
    var fired = false
    t.onDvCommitAttempt = () => {
      if (!fired) {
        fired = true
        t.append(spark, spark.range(100, 110).toDF("id").repartition(1))
      }
    }
    val v = t.deleteRowsWhere(spark, "id IN (3, 7)")
    t.onDvCommitAttempt = () => ()
    assert(v === 2L, "the delete must land AFTER the interleaved append")
    assert(t.dvDeleteJobRuns.get() === 1L,
      "a disjoint interleave must rebase the commit, not re-run the Spark job")
    // both effects visible: the append's rows AND the delete's vector
    assert(t.read(spark).count() === 108)
    assert(t.read(spark).filter("id IN (3, 7)").count() === 0)
    // under WriteSerializable the delete does NOT retro-match the
    // concurrent append's rows
    assert(t.read(spark).filter("id >= 100").count() === 10)

    // a CONFLICTING interleave (same file re-vectored) must recompute
    val t2 = new VersionedTable(dir())
    t2.append(spark, spark.range(0, 100).toDF("id").repartition(1))
    var fired2 = false
    t2.onDvCommitAttempt = () => {
      if (!fired2) {
        fired2 = true
        // a second writer vectors the SAME file first
        val w = new VersionedTable(t2.root)
        w.deleteRowsWhere(spark, "id = 50")
      }
    }
    t2.deleteRowsWhere(spark, "id IN (3, 7)")
    t2.onDvCommitAttempt = () => ()
    assert(t2.dvDeleteJobRuns.get() === 2L,
      "a conflicting interleave must recompute against the new head")
    assert(t2.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 100L).filterNot(i => i == 3 || i == 7 || i == 50).toArray,
      "both deletes must survive the race")
  }

  test("compact folds deletion vectors into clean files") {
    val t = new VersionedTable(dir())
    t.append(spark, spark.range(0, 100).toDF("id")
      .withColumn("b", org.apache.spark.sql.functions.col("id") % 7)
      .repartition(2))
    t.deleteRowsWhere(spark, "id IN (3, 97)")
    assert(dvCard(t, t.version) === 2L)
    val cv = t.compactZOrder(spark, "id", "b", targetFiles = 1)
    // the rewrite replaces every DV'd file with clean ones: no live file
    // is carried over and the compaction commit sets no vector
    assert((t.filesAt(cv).toSet & t.filesAt(1L).toSet).isEmpty,
      "compaction must retire the DV debt")
    assert(!logLines(t, cv).exists(_.contains("\"op\":\"dvset\"")))
    assert(t.read(spark).count() === 98)
    assert(t.read(spark).filter("id IN (3, 97)").count() === 0)
    // pre-compaction state still time-travels WITH its DV applied
    assert(t.readAsOf(spark, 1L).count() === 98)
    assert(t.readAsOf(spark, 0L).count() === 100)
  }

  test("copy-on-write deletes never resurrect DV-deleted rows") {
    val t = new VersionedTable(dir())
    Seq((0L, 50L), (50L, 100L)).foreach { case (lo, hi) =>
      t.append(spark, spark.range(lo, hi).toDF("id").repartition(1),
        statsCol = Some("id"))
    }
    t.deleteRowsWhere(spark, "id = 60")                 // DV on file 2
    val v = t.deleteWhere(spark, "id", 55L, 58L)        // CoW touches file 2
    assert(t.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 100L).filterNot(i => i == 60 || (i >= 55 && i <= 58)).toArray,
      "the rewrite of file 2 must keep its DV'd row deleted")
    // file 1 carried by reference throughout
    assert((t.filesAt(0L).toSet & t.filesAt(v).toSet).size === 1)
  }

  test("restore rolls deletion vectors back and forward exactly") {
    val t = new VersionedTable(dir())
    t.append(spark, spark.range(0, 100).toDF("id").repartition(1)) // v0
    val dv1 = t.deleteRowsWhere(spark, "id IN (10, 20)")           // v1
    val dv2 = t.deleteRowsWhere(spark, "id = 30")                  // v2
    assert(t.read(spark).count() === 97)

    // back to the pre-delete state: the DV reset is pure metadata
    val filesBefore = t.filesAt(dv2).toSet
    t.restore(0L)                                                  // v3
    assert(t.read(spark).count() === 100)
    assert(logLines(t, t.version).exists(_.contains("\"positions\":\"\"")),
      "the restore must clear the file's vector")
    assert(t.filesAt(t.version).toSet === filesBefore, "no data file moved")

    // forward again to the mid-delete state
    t.restore(dv1)                                                 // v4
    assert(t.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 100L).filterNot(i => i == 10 || i == 20).toArray)
    assert(t.readAsOf(spark, dv2).count() === 97, "history intact throughout")
  }

  test("change feed surfaces DV deletes and restores positionally") {
    val t = new VersionedTable(dir())
    t.append(spark, Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")) // v0
    t.deleteRowsWhere(spark, "id = 2")                                 // v1
    // the window (0,1] has NO file changes — only a DV grew
    val w01 = t.changesBetween(spark, 0L, 1L)
      .select("_change_type", "id").as[(String, Int)].collect().sorted
    assert(w01 === Array(("delete", 2)),
      "a merge-on-read delete must surface as a positional delete row")
    t.restore(0L)                                                      // v2
    val w12 = t.changesBetween(spark, 1L, 2L)
      .select("_change_type", "id").as[(String, Int)].collect().sorted
    assert(w12 === Array(("insert", 2)),
      "a rolled-back DV must surface the row as a positional insert")
    // net window: delete at v1 cancels against the v2 restore
    assertThrows[IllegalArgumentException](t.changesBetween(spark, 0L, 2L))
  }

  // ------------------------------------------------------------------
  // String zone maps + deleteWhereIn
  // ------------------------------------------------------------------

  test("string zone maps: a lang-equality probe skips files, read stays exact") {
    val t = new VersionedTable(dir())
    val langs = Seq("de", "en", "es", "fr", "zh")
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("lang", org.apache.spark.sql.functions
        .element_at(org.apache.spark.sql.functions.lit(langs.toArray),
          (org.apache.spark.sql.functions.col("id") % 5 + 1).cast("int")))
      .repartitionByRange(5, org.apache.spark.sql.functions.col("lang"))
    t.append(spark, df, statsCol = Some("lang"))
    val all = t.filesAt(0L)
    val probe = t.readWhereIn(spark, 0L, "lang", Seq("en"))
    val candidates = probe.inputFiles.length
    assert(candidates < all.size,
      s"no skipping happened: $candidates of ${all.size}")
    val got = probe.select("id").as[Long].collect().sorted
    assert(got === (0L until 1000L).filter(_ % 5 == 1).toArray)
    // a column with no recorded string stats always reads everything
    // (sound): `id` carries no string bounds
    assert(t.readWhereIn(spark, 0L, "id", Seq("1")).inputFiles.length === all.size)

    // the DSv2 batch face prunes its input partitions on the same maps
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).load()
    val en = dsv2.filter("lang = 'en'")
    assert(en.count() === 200)
    assert(en.rdd.getNumPartitions === candidates,
      "pushed string equality must plan only the zone-map candidates")
    val inTwo = dsv2.filter("lang IN ('en', 'zh')")
    assert(inTwo.count() === 400)
    assert(inTwo.rdd.getNumPartitions ===
      t.readWhereIn(spark, 0L, "lang", Seq("en", "zh")).inputFiles.length)
  }

  test("string bounds use sound truncation: 64-byte cap never loses a candidate") {
    val t = new VersionedTable(dir())
    val longA = "a" * 100 + "x" // shares a 100-byte prefix family
    val longB = "b" * 100
    t.append(spark, Seq((1L, longA)).toDF("id", "s").repartition(1),
      statsCol = Some("s"))
    t.append(spark, Seq((2L, longB)).toDF("id", "s").repartition(1),
      statsCol = Some("s"))
    // recorded bounds are capped, not full values
    val bounds = (0L to 1L).flatMap(logLines(t, _))
      .flatMap("\"smin\":\"([^\"]*)\",\"smax\":\"([^\"]*)\"".r.findFirstMatchIn(_))
    assert(bounds.size === 2)
    bounds.foreach { m =>
      assert(java.util.Base64.getDecoder.decode(m.group(1)).length <= 64)
      assert(java.util.Base64.getDecoder.decode(m.group(2)).length <= 64)
    }
    // probing the full long value still finds its file (sound bounds)...
    val readA = t.readWhereIn(spark, 1L, "s", Seq(longA))
    val hitA = readA.inputFiles
    assert(hitA.length === 1)
    assert(readA.count() === 1)
    // ...and skips the provably-foreign file
    val hitB = t.readWhereIn(spark, 1L, "s", Seq(longB)).inputFiles
    assert(hitB.length === 1)
    assert(hitA.head !== hitB.head)
  }

  test("deleteWhereIn rewrites only the files the string zone maps implicate") {
    val t = new VersionedTable(dir())
    Seq("alpha", "beta", "gamma").foreach { src =>
      t.append(spark, spark.range(0, 50).toDF("id")
        .withColumn("source", org.apache.spark.sql.functions.lit(src))
        .repartition(1), statsCol = Some("source"))
    }
    val before = t.filesAt(2L).toSet
    // a provably-miss value set commits nothing (every live file has
    // stats here; a stats-free file would be rewritten — sound, not
    // complete)
    assert(t.deleteWhereIn(spark, "source", Seq("zzz_nowhere")) === 2L)
    assert(t.version === 2L)

    val v = t.deleteWhereIn(spark, "source", Seq("beta"))
    assert(v === 3L)
    assert(t.history.last._2 === "delete")
    assert(t.read(spark).count() === 100)
    assert(t.read(spark).filter("source = 'beta'").count() === 0)
    // alpha and gamma files carried BY REFERENCE
    assert((before & t.filesAt(v).toSet).size === 2,
      "files whose string interval cannot contain 'beta' must not be rewritten")
    // deleted rows stay time-travelable
    assert(t.readAsOf(spark, 2L).count() === 150)
    // NULLs survive an IN delete (three-valued predicate)
    val t2 = new VersionedTable(dir())
    t2.append(spark, Seq((1L, Some("keep")), (2L, None), (3L, Some("drop")))
      .toDF("id", "source"))
    t2.deleteWhereIn(spark, "source", Seq("drop"))
    assert(t2.read(spark).select("id").as[Long].collect().sorted === Array(1L, 2L))
  }

  // ------------------------------------------------------------------
  // Round-13: async fmt:2 checkpoints, string RANGE skipping,
  // schema-carried pruned reads
  // ------------------------------------------------------------------

  test("checkpoint writes happen OFF the commit path, in fmt:2 binary") {
    val root = dir()
    val t = new VersionedTable(root, checkpointInterval = 2)
    // hold the async writer at the gate: if the checkpoint were written
    // ON the commit path, this commit would block forever — instead it
    // returns while the checkpoint is provably not yet on disk
    val gate = new java.util.concurrent.CountDownLatch(1)
    // bounded await: a failing assertion below must not wedge the shared
    // checkpoint writer thread for the rest of the JVM
    t.checkpointGate = () =>
      { gate.await(30, java.util.concurrent.TimeUnit.SECONDS); () }
    t.append(spark, Seq((1, "a")).toDF("id", "v"))                // v0
    t.append(spark, Seq((2, "b")).toDF("id", "v"))                // v1
    t.append(spark, Seq((3, "c")).toDF("id", "v"))                // v2 → cp due
    val cp = Paths.get(root, "_log", "000000000002.checkpoint")
    assert(!Files.exists(cp),
      "the interval-th commit must return before its checkpoint is written")
    assert(t.read(spark).count() === 3,
      "reads are correct while the checkpoint is outstanding (longer fold)")
    gate.countDown()
    t.checkpointGate = () => ()
    t.awaitCheckpoints()
    assert(Files.exists(cp))
    // fmt:2 = binary, magic "GCP2"
    val head4 = Files.readAllBytes(cp).take(4)
    assert(head4 === Array[Byte](0x47, 0x43, 0x50, 0x32), "fmt:2 magic")
    // and a fresh reader seeds from it
    val fresh = new VersionedTable(root, checkpointInterval = 2)
    fresh.logFileReads.set(0L)
    assert(fresh.read(spark).count() === 3)
    assert(fresh.logFileReads.get() <= 2, "cp seed + one tail log file")
  }

  test("r12-era fmt:1 TEXT checkpoints still seed the fold") {
    val root = dir()
    val t = new VersionedTable(root, checkpointInterval = 0) // no auto-cp
    t.append(spark, spark.range(0, 50).toDF("id").repartition(1),
      statsCol = Some("id"))                                       // v0
    t.append(spark, spark.range(50, 100).toDF("id").repartition(1)) // v1
    t.append(spark, spark.range(100, 120).toDF("id"))               // v2
    // hand-write the checkpoint EXACTLY as an r12 writer would have at
    // v1: the fmt:1 header plus the add actions verbatim from the log
    val adds = (0L to 1L).flatMap { v =>
      Files.readAllLines(Paths.get(root, "_log", f"$v%012d.json")).asScala
        .filter(_.contains("\"op\":\"add\""))
    }
    val schemaB64 = "\"schemaB64\":\"([^\"]+)\"".r.findFirstMatchIn(
      Files.readAllLines(Paths.get(root, "_log", "000000000001.json"))
        .asScala.head).get.group(1)
    Files.write(Paths.get(root, "_log", "000000000001.checkpoint"),
      (Seq(s"""{"op":"cp","fmt":1,"v":1,"schemaB64":"$schemaB64"}""") ++ adds)
        .mkString("\n").getBytes("UTF-8"))
    val fresh = new VersionedTable(root)
    fresh.logFileReads.set(0L)
    assert(fresh.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 120L).toArray)
    assert(fresh.logFileReads.get() <= 2,
      "the fmt:1 text checkpoint must seed the fold (cp + v2 tail)")
    // v0's zone map survives the text checkpoint seed: a probe above
    // its recorded interval skips that file (v1/v2 wrote no stats —
    // always candidates; skipping is sound, not complete)
    assert(fresh.readWhere(spark, 2L, "id", 500L, 600L).inputFiles.length ===
      fresh.filesAt(2L).size - 1)
  }

  test("string RANGE predicates prune on the truncated byte bounds") {
    val t = new VersionedTable(dir())
    val langs = Seq("de", "en", "es", "fr", "zh")
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("lang", org.apache.spark.sql.functions
        .element_at(org.apache.spark.sql.functions.lit(langs.toArray),
          (org.apache.spark.sql.functions.col("id") % 5 + 1).cast("int")))
      .repartitionByRange(5, org.apache.spark.sql.functions.col("lang"))
    t.append(spark, df, statsCol = Some("lang"))
    val all = t.filesAt(0L)
    // [de, es] overlaps the de/en/es files, provably misses fr/zh
    val probe = t.readWhereBetween(spark, 0L, "lang", "de", "es")
    val candidates = probe.inputFiles.length
    assert(candidates < all.size,
      s"no skipping happened: $candidates of ${all.size}")
    val got = probe.select("id").as[Long].collect().sorted
    assert(got === (0L until 1000L).filter(i => i % 5 <= 2).toArray)
    // a column with no recorded string stats always reads everything
    // (sound): `id` carries no string bounds
    assert(t.readWhereBetween(spark, 0L, "id", "1", "2").inputFiles.length === all.size)
    // an empty range is refused, not silently empty
    assertThrows[IllegalArgumentException](
      t.readWhereBetween(spark, 0L, "lang", "zz", "aa"))

    // the DSv2 batch face prunes partitions on pushed string ranges
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).load()
    val ranged = dsv2.filter("lang >= 'de' AND lang <= 'es'")
    assert(ranged.count() === 600)
    assert(ranged.rdd.getNumPartitions === candidates,
      "pushed string comparisons must plan only the zone-map candidates")
  }

  test("copy-on-write paths rebase lost races against disjoint commits") {
    // deleteWhere vs a concurrent APPEND: the staged rewrite re-commits,
    // no Spark re-execution, and the appended rows are NOT retro-deleted
    val t = new VersionedTable(dir())
    Seq((0L, 50L), (50L, 100L)).foreach { case (lo, hi) =>
      t.append(spark, spark.range(lo, hi).toDF("id").repartition(1),
        statsCol = Some("id"))
    }
    var fired = false
    t.onCowCommitAttempt = () => {
      if (!fired) {
        fired = true
        t.append(spark, spark.range(100, 110).toDF("id").repartition(1),
          statsCol = Some("id"))
      }
    }
    val v = t.deleteWhere(spark, "id", 10L, 19L)
    t.onCowCommitAttempt = () => ()
    assert(v === 3L, "the delete must land AFTER the interleaved append")
    assert(t.cowJobRuns.get() === 1L,
      "a disjoint interleave must rebase the CoW commit, not re-run the rewrite")
    assert(t.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 110L).filterNot(i => i >= 10 && i <= 19).toArray)
    // the untouched file (50-99) and the appended file carried by reference
    assert((t.filesAt(1L).toSet & t.filesAt(v).toSet).size === 1)

    // compaction vs a concurrent APPEND: Delta's OPTIMIZE-vs-append
    // non-conflict — the rebase removes exactly the compacted files,
    // the appended file stays live for the NEXT compaction
    def withB(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("b", org.apache.spark.sql.functions.col("id") % 3)
    val t2 = new VersionedTable(dir())
    t2.append(spark, withB(spark.range(0, 60).toDF("id")).repartition(3))
    t2.deleteRowsWhere(spark, "id = 5") // a DV the compaction must fold
    val dvFiles = t2.filesAt(t2.version).toSet
    var fired2 = false
    t2.onCowCommitAttempt = () => {
      if (!fired2) {
        fired2 = true
        t2.append(spark, withB(spark.range(60, 70).toDF("id")).repartition(1))
      }
    }
    t2.cowJobRuns.set(0L)
    val cv = t2.compactZOrder(spark, "id", "b", targetFiles = 1)
    t2.onCowCommitAttempt = () => ()
    assert(t2.cowJobRuns.get() === 1L,
      "compaction must rebase over a concurrent append, not re-run the rewrite")
    assert(t2.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 70L).filterNot(_ == 5).toArray,
      "compacted rows (DV folded) AND the appended rows must both survive")
    assert((t2.filesAt(cv).toSet & dvFiles).isEmpty,
      "the compacted files' DV debt is retired")

    // a CONFLICTING interleave (a delete touching a compacted file)
    // must recompute — re-committing the stale rewrite would resurrect
    // the deleted rows
    val t3 = new VersionedTable(dir())
    t3.append(spark, withB(spark.range(0, 40).toDF("id")).repartition(2),
      statsCol = Some("id"))
    var fired3 = false
    t3.onCowCommitAttempt = () => {
      if (!fired3) {
        fired3 = true
        val w = new VersionedTable(t3.root)
        w.deleteWhere(spark, "id", 0L, 9L)
      }
    }
    t3.cowJobRuns.set(0L)
    t3.compactZOrder(spark, "id", "b", targetFiles = 1)
    t3.onCowCommitAttempt = () => ()
    assert(t3.cowJobRuns.get() === 2L,
      "a conflicting interleave must recompute the compaction")
    assert(t3.read(spark).select("id").as[Long].collect().sorted ===
      (10L until 40L).toArray,
      "the winner's delete must survive the compaction race")
  }

  test("merge rebases a lost race only under the key-range predicate test") {
    // merge's read set is KEY-level: file-level disjointness is not
    // enough, so the rebase requires the interleaved files' key zone
    // maps to PROVABLY miss the updates' key interval
    def freshTable(): VersionedTable = {
      val t = new VersionedTable(dir())
      t.append(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .repartition(1), statsCol = Some("id"))
      t
    }
    // 1) disjoint interleave WITH stats: append keys 100+ while merging
    //    keys 2-3 → rebase, no re-execution
    val t1 = freshTable()
    var fired1 = false
    t1.onCowCommitAttempt = () => {
      if (!fired1) {
        fired1 = true
        t1.append(spark, Seq((100L, "x"), (101L, "y")).toDF("id", "v")
          .repartition(1), statsCol = Some("id"))
      }
    }
    t1.cowJobRuns.set(0L)
    t1.merge(spark, Seq((2L, "B"), (4L, "D")).toDF("id", "v"), "id",
      statsCol = Some("id"))
    t1.onCowCommitAttempt = () => ()
    assert(t1.cowJobRuns.get() === 1L,
      "a provably-key-disjoint append must rebase the merge, not re-run it")
    assert(t1.read(spark).as[(Long, String)].collect().sortBy(_._1) ===
      Array((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D"), (100L, "x"), (101L, "y")))

    // 2) OVERLAPPING keys: the concurrent append inserts a key the merge
    //    must replace → recompute, and the merge wins over the appended row
    val t2 = freshTable()
    var fired2 = false
    t2.onCowCommitAttempt = () => {
      if (!fired2) {
        fired2 = true
        t2.append(spark, Seq((4L, "stale")).toDF("id", "v")
          .repartition(1), statsCol = Some("id"))
      }
    }
    t2.cowJobRuns.set(0L)
    t2.merge(spark, Seq((4L, "D")).toDF("id", "v"), "id", statsCol = Some("id"))
    t2.onCowCommitAttempt = () => ()
    assert(t2.cowJobRuns.get() === 2L,
      "a key-overlapping append must force the merge to recompute")
    assert(t2.read(spark).as[(Long, String)].collect().sortBy(_._1) ===
      Array((1L, "a"), (2L, "b"), (3L, "c"), (4L, "D")),
      "the recomputed merge must replace the concurrently-appended key")

    // 3) an interleaved append WITHOUT key stats is unknowable → recompute
    val t3 = freshTable()
    var fired3 = false
    t3.onCowCommitAttempt = () => {
      if (!fired3) {
        fired3 = true
        t3.append(spark, Seq((200L, "z")).toDF("id", "v").repartition(1))
      }
    }
    t3.cowJobRuns.set(0L)
    t3.merge(spark, Seq((2L, "B")).toDF("id", "v"), "id", statsCol = Some("id"))
    t3.onCowCommitAttempt = () => ()
    assert(t3.cowJobRuns.get() === 2L,
      "an interleave with no key zone map must recompute (sound, not clever)")
    assert(t3.read(spark).as[(Long, String)].collect().sortBy(_._1) ===
      Array((1L, "a"), (2L, "B"), (3L, "c"), (200L, "z")))
  }

  test("concurrent writers: racing appends and a MoR delete all land exactly once") {
    val t = new VersionedTable(dir())
    t.append(spark, spark.range(0, 100).toDF("id").repartition(2)) // v0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // 4 appenders of disjoint key ranges + 1 MoR delete targeting only
      // the PRE-COMMITTED rows, so the outcome is deterministic under
      // WriteSerializable whatever the interleaving
      val writers = (1 to 4).map { k =>
        Future {
          new VersionedTable(t.root).append(spark,
            spark.range(1000L * k, 1000L * k + 50).toDF("id").repartition(1))
        }
      } :+ Future {
        new VersionedTable(t.root).deleteRowsWhere(spark, "id IN (7, 42, 77)")
      }
      // generous: a full parallel-suite run shares the box's 32 threads
      Await.result(Future.sequence(writers),
        scala.concurrent.duration.Duration(300, "s"))
    } finally pool.shutdown()
    // every commit landed under its own version — no lost updates
    assert(t.version === 5L)
    val expect = ((0L until 100L).filterNot(Set(7L, 42L, 77L)) ++
      (1 to 4).flatMap(k => 1000L * k until 1000L * k + 50)).sorted.toArray
    assert(t.read(spark).select("id").as[Long].collect().sorted === expect)
    val ops = t.history.map(_._2)
    assert(ops.count(_ == "append") === 5 && ops.count(_ == "delete_mor") === 1,
      s"unexpected op mix: $ops")
  }

  test("commit publish is put-if-absent: a raw 8-thread rename race loses no version") {
    // Regression for a silent-lost-commit race: Files.move without
    // REPLACE_EXISTING raises FileAlreadyExists from a NON-ATOMIC
    // exists-then-rename, and POSIX rename() REPLACES — two racers could
    // both pass the check and one commit vanished (caught once by the
    // writer-storm spec at full-suite contention). commit() now
    // publishes via hard link (atomic EEXIST). This hammer is
    // Spark-free, so it drives thousands of head collisions in seconds.
    val t = new VersionedTable(dir())
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 8).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 50).foreach { i =>
            var done = false
            while (!done) {
              val head = t.version
              done = t.commit(head + 1,
                Seq(s"""{"op":"meta","operation":"append","w":$w,"i":$i}"""))
              if (done) landed.add(head + 1)
            }
          }
        })
      }
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(t.version === 399L, "400 commits must take versions 0..399")
    assert(landed.asScala.toSeq.sorted === (0L to 399L),
      "every version must be won by exactly one writer — none lost, none doubled")
  }

  test("pruned reads serve the log-carried schema after evolution") {
    val t = new VersionedTable(dir())
    t.append(spark, spark.range(0, 100).toDF("id").repartition(1),
      statsCol = Some("id"))                                        // v0
    t.append(spark, Seq((200L, "tagged")).toDF("id", "tag")
      .repartition(1), statsCol = Some("id"))                       // v1: evolve
    // the probe prunes to the PRE-EVOLUTION file only — the evolved
    // column must still appear, null-filled, exactly like readAsOf
    val pruned = t.readWhere(spark, 1L, "id", 10L, 20L)
    assert(pruned.schema.fieldNames === Array("id", "tag"))
    assert(pruned.count() === 11)
    assert(pruned.filter("tag IS NULL").count() === 11)
    // same contract for the string faces
    val t2 = new VersionedTable(dir())
    t2.append(spark, Seq((1L, "en")).toDF("id", "lang").repartition(1),
      statsCol = Some("lang"))
    t2.append(spark, Seq((2L, "zh", 0.5)).toDF("id", "lang", "q")
      .repartition(1), statsCol = Some("lang"))
    val en = t2.readWhereIn(spark, 1L, "lang", Seq("en"))
    assert(en.schema.fieldNames === Array("id", "lang", "q"))
    assert(en.select("q").head().isNullAt(0))
    val rng = t2.readWhereBetween(spark, 1L, "lang", "aa", "ez")
    assert(rng.schema.fieldNames === Array("id", "lang", "q"))
  }

  // ------------------------------------------------------------------
  // Per-file null-count stats (round 14)
  // ------------------------------------------------------------------

  /** One file per shape: all-null, mixed, null-free on column `v`. */
  private def nullShapedTable(): VersionedTable = {
    val t = new VersionedTable(dir())
    def f(rows: Seq[(Long, Option[Long])]) = rows.toDF("id", "v").repartition(1)
    t.append(spark, f(Seq((0L, None), (1L, None))), statsCol = Some("v"))
    t.append(spark, f(Seq((2L, Some(10L)), (3L, None))), statsCol = Some("v"))
    t.append(spark, f(Seq((4L, Some(20L)), (5L, Some(30L)))), statsCol = Some("v"))
    t
  }

  test("null counts prune IS NULL / IS NOT NULL and close the all-null blind spot") {
    val t = nullShapedTable()
    val v = t.version
    // every add recorded (rows, v → nulls) from the footer
    val ns = (0L to v).flatMap(logLines(t, _))
      .flatMap("\"rows\":(\\d+),\"bytes\":\\d+,\"nulls\":\"v:(\\d+)\"".r.findFirstMatchIn(_))
      .map(m => (m.group(1).toLong, m.group(2).toLong))
    assert(ns.toSet === Set((2L, 2L), (2L, 1L), (2L, 0L)))
    // IS NULL skips the null-free file; IS NOT NULL skips the all-null one
    val isNull = t.readWhereNull(spark, v, "v", isNull = true)
    val notNull = t.readWhereNull(spark, v, "v", isNull = false)
    assert(isNull.inputFiles.length === 2)
    assert(notNull.inputFiles.length === 2)
    // unrecorded column (`id` has no null counts): always a candidate
    assert(t.readWhereNull(spark, v, "id", isNull = true).inputFiles.length === 3)
    // the pruned reads stay exact
    assert(isNull.select("id").as[Long].collect().sorted === Array(0L, 1L, 3L))
    assert(notNull.select("id").as[Long].collect().sorted === Array(2L, 4L, 5L))
    // the BLIND SPOT: the all-null file records no bounds, but its null
    // count proves no VALUE can match — value probes now skip it too
    assert(t.readWhere(spark, v, "v", 0L, 100L).inputFiles.length === 2,
      "an all-null file must not survive a value probe")
    assert(t.readWhere(spark, v, "v", 10L, 20L)
      .select("id").as[Long].collect().sorted === Array(2L, 4L))

    // the DSv2 batch face prunes partitions on pushed null probes —
    // and Spark pushes IsNotNull beside every comparison, so a plain
    // range scan sheds the all-null file for free
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).load()
    assert(dsv2.filter("v IS NULL").count() === 3)
    assert(dsv2.filter("v IS NULL").rdd.getNumPartitions === 2)
    assert(dsv2.filter("v IS NOT NULL").rdd.getNumPartitions === 2)
    assert(dsv2.filter("v >= 10").rdd.getNumPartitions === 2,
      "a value scan must shed the all-null file via the pushed IsNotNull")
    assert(dsv2.filter("v >= 10").count() === 3)

    // r13-era add lines (no rows/nulls fields) keep reading: strip the
    // fields from the log in place and re-probe — no pruning anywhere
    // (sound), results unchanged
    (0L to 2L).foreach { i =>
      val p = Paths.get(t.root, "_log", f"$i%012d.json")
      val stripped = Files.readAllLines(p).asScala
        .map(_.replaceAll(
          ",\"rows\":\\d+(,\"bytes\":\\d+)?(,\"nulls\":\"[^\"]*\")?", ""))
      Files.write(p, stripped.mkString("\n").getBytes("UTF-8"))
    }
    val t2 = new VersionedTable(t.root)
    assert(t2.readWhereNull(spark, v, "v", isNull = true).inputFiles.length === 3)
    assert(t2.readWhere(spark, v, "v", 0L, 100L).inputFiles.length === 3,
      "without null counts the all-null file is back to always-a-candidate")
    assert(t2.readWhereNull(spark, v, "v", isNull = true)
      .select("id").as[Long].collect().sorted === Array(0L, 1L, 3L))
  }

  test("fully-pruned reads return an empty frame under the log schema") {
    val t = nullShapedTable()
    val v = t.version
    // integer probe outside every bound (and past the all-null file)
    val r1 = t.readWhere(spark, v, "v", 1000L, 2000L)
    assert(r1.schema.fieldNames === Array("id", "v") && r1.count() === 0)
    // null probe nothing can serve: a null-free table probed IS NULL
    val clean = new VersionedTable(dir())
    clean.append(spark, Seq((1L, Some(5L))).toDF("id", "v").repartition(1),
      statsCol = Some("v"))
    val r2 = clean.readWhereNull(spark, 0L, "v", isNull = true)
    assert(r2.schema.fieldNames === Array("id", "v") && r2.count() === 0)
    // string faces: an IN set / range no file's interval can contain
    val ts = new VersionedTable(dir())
    ts.append(spark, Seq((1L, "en"), (2L, "fr")).toDF("id", "lang")
      .repartition(1), statsCol = Some("lang"))
    val r3 = ts.readWhereIn(spark, 0L, "lang", Seq("zz"))
    assert(r3.schema.fieldNames === Array("id", "lang") && r3.count() === 0)
    val r4 = ts.readWhereBetween(spark, 0L, "lang", "zz", "zzz")
    assert(r4.schema.fieldNames === Array("id", "lang") && r4.count() === 0)
  }

  test("a lost delete race against an OVERLAPPING append recomputes") {
    // the appended file's zone map intersects the delete predicate —
    // rebasing the staged rewrite would let the appended matching row
    // silently survive; the guard forces a recompute that deletes it
    val t = new VersionedTable(dir())
    t.append(spark, spark.range(0, 50).toDF("id").repartition(1),
      statsCol = Some("id"))
    var fired = false
    t.onCowCommitAttempt = () => {
      if (!fired) {
        fired = true
        t.append(spark, Seq(15L).toDF("id").repartition(1),
          statsCol = Some("id"))
      }
    }
    val v = t.deleteWhere(spark, "id", 10L, 19L)
    t.onCowCommitAttempt = () => ()
    assert(v === 2L, "the delete lands after the interleaved append")
    assert(t.cowJobRuns.get() === 2L,
      "an append INSIDE the predicate range must force a recompute")
    assert(t.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 50L).filterNot(i => i >= 10 && i <= 19).toArray,
      "the appended matching row must be deleted, not survive the rebase")

    // a STATS-LESS interleaved append can't prove disjointness → recompute
    val t2 = new VersionedTable(dir())
    t2.append(spark, spark.range(0, 50).toDF("id").repartition(1),
      statsCol = Some("id"))
    var fired2 = false
    t2.onCowCommitAttempt = () => {
      if (!fired2) {
        fired2 = true
        t2.append(spark, Seq(100L).toDF("id").repartition(1)) // no stats
      }
    }
    t2.deleteWhere(spark, "id", 10L, 19L)
    t2.onCowCommitAttempt = () => ()
    assert(t2.cowJobRuns.get() === 2L,
      "a stats-less append is unprovable — the rebase must not be trusted")
    assert(t2.read(spark).select("id").as[Long].collect().sorted ===
      ((0L until 50L).filterNot(i => i >= 10 && i <= 19) :+ 100L).toArray)
  }
}
