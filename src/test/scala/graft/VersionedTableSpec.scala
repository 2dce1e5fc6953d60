package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** Snapshot isolation, time travel, and optimistic concurrency of the
  * commit-log versioned table.
  */
class VersionedTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def table(): VersionedTable =
    new VersionedTable(Files.createTempDirectory("vtab").toString)

  /** The add-action lines commit v wrote to the log. */
  private def addLines(t: VersionedTable, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(t.root, "_log", f"$v%012d.json")).asScala.toSeq
      .filter(_.contains("\"op\":\"add\""))

  test("append grows the snapshot; every old version stays readable") {
    val t = table()
    assert(t.version === -1L)
    assert(t.append(spark, Seq((1, "a"), (2, "b")).toDF("id", "v")) === 0L)
    assert(t.append(spark, Seq((3, "c")).toDF("id", "v")) === 1L)
    assert(t.readAsOf(spark, 0L).count() === 2)
    assert(t.read(spark).count() === 3)
    assert(t.read(spark).select("id").as[Int].collect().sorted === Array(1, 2, 3))
    assert(t.history.map(h => (h._1, h._2)) === Seq((0L, "append"), (1L, "append")))
  }

  test("overwrite replaces the head but not history") {
    val t = table()
    t.append(spark, Seq((1, "old")).toDF("id", "v"))
    val v = t.overwrite(spark, Seq((9, "new"), (10, "new")).toDF("id", "v"))
    assert(v === 1L)
    assert(t.read(spark).select("id").as[Int].collect().sorted === Array(9, 10))
    // time travel across the overwrite: version 0 is intact
    assert(t.readAsOf(spark, 0L).select("v").as[String].collect() === Array("old"))
  }

  test("staged-but-uncommitted data files are invisible to readers") {
    val t = table()
    t.append(spark, Seq((1, "a")).toDF("id", "v"))
    // a writer crashed after staging: drop an orphan parquet into data/
    val orphanSrc = Files.createTempDirectory("orphan")
    Seq((99, "ghost")).toDF("id", "v").write.mode("overwrite")
      .parquet(orphanSrc.toString + "/p")
    val part = Files.list(Paths.get(orphanSrc.toString + "/p")).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val f = part.next()
      if (f.getFileName.toString.endsWith(".parquet")) {
        Files.copy(f, Paths.get(t.root, "data", "orphan.parquet"))
        moved = true
      }
    }
    assert(moved)
    // the snapshot folds the LOG, not the directory: the orphan is invisible
    assert(t.read(spark).count() === 1)
  }

  test("footer-stats skipping: narrow range reads a strict file subset, exactly") {
    val t = table()
    // range-clustered layout: 4 files with tight disjoint id intervals —
    // what a writer clustering on its skipping key produces
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("payload", org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("id").cast("string")))
      .repartitionByRange(4, org.apache.spark.sql.functions.col("id"))
    t.append(spark, df, statsCol = Some("id"))
    val all = t.filesAt(0L)
    assert(all.size === 4)
    // a 10%-selectivity range must not open every file
    val probe = t.readWhere(spark, 0L, "id", 0L, 99L)
    assert(probe.inputFiles.length < all.size,
      s"no skipping happened: ${probe.inputFiles.length} of ${all.size}")
    // and the pruned read is EXACT vs the full-scan filter
    assert(probe.select("id").as[Long].collect().sorted === (0L to 99L).toArray)
    // a column with no recorded stats always reads everything (sound)
    assert(t.readWhere(spark, 0L, "payload", 0L, 1L).inputFiles.length === all.size)
  }

  test("stats-free commits skip nothing but stay correct") {
    val t = table()
    t.append(spark, spark.range(0, 100).toDF("id"))
    val probe = t.readWhere(spark, 0L, "id", 5L, 6L)
    assert(probe.inputFiles.length === t.filesAt(0L).size)
    assert(probe.select("id").as[Long].collect().sorted === Array(5L, 6L))
  }

  test("optimistic concurrency: one writer wins a version, the loser retries") {
    val t = table()
    t.append(spark, Seq((1, "a")).toDF("id", "v"))
    // two writers race for version 1 at the commit layer
    assert(t.commit(1L, Seq("""{"op":"meta","operation":"append"}""")))
    assert(!t.commit(1L, Seq("""{"op":"meta","operation":"append"}""")),
      "second commit of the same version must lose")
    // the public API retries past the conflict: this append lands at 2
    assert(t.append(spark, Seq((2, "b")).toDF("id", "v")) === 2L)
    assert(t.read(spark).count() === 2)
  }

  test("change feed: appends are inserts, an overwrite is deletes + inserts") {
    val t = table()
    t.append(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"))   // v0
    t.append(spark, Seq((3, "c")).toDF("id", "v"))             // v1
    t.overwrite(spark, Seq((9, "z")).toDF("id", "v"))          // v2

    // pure-append window: only inserts
    val w01 = t.changesBetween(spark, 0L, 1L)
      .select("_change_type", "id").as[(String, Int)].collect().sorted
    assert(w01 === Array(("insert", 3)))

    // overwrite window: everything prior deleted, the new state inserted
    val w12 = t.changesBetween(spark, 1L, 2L)
      .select("_change_type", "id").as[(String, Int)].collect().sorted
    assert(w12 === Array(("delete", 1), ("delete", 2), ("delete", 3), ("insert", 9)))

    // whole-history window: v0/v1 files were added AND removed inside
    // the window, so they cancel — the feed nets to the head snapshot
    val w02 = t.changesBetween(spark, -1L, 2L)
      .select("_change_type", "id").as[(String, Int)].collect().sorted
    assert(w02 === Array(("insert", 9)),
      "intra-window add+remove must cancel to the net change")
  }

  test("merge upserts on the key; history keeps the pre-merge state") {
    val t = table()
    t.append(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(t.merge(spark, Seq((2, "B"), (3, "C")).toDF("id", "v"), "id") === 1L)
    assert(t.read(spark).as[(Int, String)].collect().sorted ===
      Array((1, "a"), (2, "B"), (3, "C")),
      "matched row replaced, unmatched kept, new row inserted")
    assert(t.readAsOf(spark, 0L).as[(Int, String)].collect().sorted ===
      Array((1, "a"), (2, "b")), "pre-merge state stays time-travelable")
    assert(t.history.map(_._2) === Seq("append", "merge"))

    // merge into an empty table is a plain insert
    val t2 = table()
    t2.merge(spark, Seq((9, "z")).toDF("id", "v"), "id")
    assert(t2.read(spark).as[(Int, String)].collect() === Array((9, "z")))
  }

  test("deleteWhere rewrites only the files the zone maps implicate") {
    import org.apache.spark.sql.functions._
    val t = table()
    // three single-file commits with disjoint id ranges + stats
    Seq((0L, 50L), (50L, 100L), (100L, 150L)).foreach { case (lo, hi) =>
      t.append(spark, spark.range(lo, hi).toDF("id").repartition(1),
        statsCol = Some("id"))
    }
    val before = t.filesAt(2L).toSet

    val v = t.deleteWhere(spark, "id", 60L, 80L)
    assert(v === 3L)
    assert(t.history.last._2 === "delete")
    assert(t.read(spark).count() === 129, "exactly [60, 80] removed")
    assert(t.read(spark).filter(col("id").between(60, 80)).count() === 0)

    // the two non-intersecting files are carried BY REFERENCE
    val after = t.filesAt(3L).toSet
    assert((before & after).size === 2, "untouched files must not be rewritten")
    // the deleted rows stay time-travelable
    assert(t.readAsOf(spark, 2L).count() === 150)
    // a provably-miss predicate commits nothing
    assert(t.deleteWhere(spark, "id", 900L, 999L) === 3L)
    assert(t.version === 3L)
  }

  test("schema evolution rides the log; type conflicts are refused") {
    val t = table()
    t.append(spark, Seq((1, "a")).toDF("id", "v"))
    t.append(spark, Seq((2, "b", 7.5)).toDF("id", "v", "score"))

    // head reads under the widened schema, old rows null-fill
    val head = t.read(spark)
    assert(head.schema.fieldNames === Array("id", "v", "score"))
    assert(head.as[(Int, String, Option[Double])].collect().sortBy(_._1) ===
      Array((1, "a", None), (2, "b", Some(7.5))))
    // the old version still reads under ITS schema
    assert(t.readAsOf(spark, 0L).schema.fieldNames === Array("id", "v"))

    // an upsert frame may OMIT existing columns (they read as null)
    t.merge(spark, Seq((1, 9.9)).toDF("id", "score"), "id")
    assert(t.read(spark).as[(Int, Option[String], Option[Double])]
      .collect().sortBy(_._1) ===
      Array((1, None, Some(9.9)), (2, Some("b"), Some(7.5))))

    // enforcement: a type flip on a shared column is corpus corruption
    assertThrows[IllegalArgumentException](
      t.append(spark, Seq((3, 5)).toDF("id", "v")))

    // the DSv2 face sees the log-carried schema too, null-filling files
    // that predate the evolved column
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).load()
    assert(dsv2.schema.fieldNames === Array("id", "v", "score"))
    assert(dsv2.select("id", "score").as[(Int, Option[Double])]
      .collect().sortBy(_._1) === Array((1, Some(9.9)), (2, Some(7.5))))
  }

  test("footer stats on an unsupported column type fail with a diagnosable error") {
    val t = table()
    val df = Seq((1L, 0.5), (2L, 0.7)).toDF("id", "score")
    val e = intercept[IllegalArgumentException](
      t.append(spark, df, statsCol = Some("score")))
    assert(e.getMessage.contains("integer- or string-typed"),
      s"want the writer-path message, got: ${e.getMessage}")
    assert(t.version === -1L, "the failed append must not commit")
  }

  test("compactZOrder: logical no-op whose multi-column zone maps prune BOTH dims") {
    val t = table()
    // two independent query dimensions over an arbitrary pre-layout
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("a", org.apache.spark.sql.functions.col("id") % 100)
      .withColumn("b", org.apache.spark.sql.functions.expr("id div 100"))
      .repartition(4)
    t.append(spark, df)
    val before = t.read(spark).select("id").as[Long].collect().sorted

    val v = t.compactZOrder(spark, "a", "b", targetFiles = 8)
    assert(t.history.last._2 === "zorder")
    assert(t.read(spark).select("id").as[Long].collect().sorted === before,
      "z-order compaction must not change the snapshot")
    val nf = t.filesAt(v).size
    assert(nf >= 2)
    // pruning now bites on EITHER dimension...
    val onA = t.readWhere(spark, v, "a", 0, 9)
    val onB = t.readWhere(spark, v, "b", 0, 9)
    assert(onA.inputFiles.length < nf, s"a-range probe must skip some of the $nf files")
    assert(onB.inputFiles.length < nf, s"b-range probe must skip some of the $nf files")
    // ...and pruned reads stay exact
    assert(onA.count() === 1000)
    assert(onB.count() === 1000)
    // the DSv2 batch face prunes through the same multi-column maps
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).option("versionAsOf", v.toString).load()
    assert(dsv2.filter("b >= 0 AND b <= 9").count() === 1000)
    // legacy single-column logs still read (pre-zorder version untouched)
    assert(t.readAsOf(spark, 0L).count() === 10000)
  }

  test("restore rolls the head back by reference; zone maps and history survive") {
    val t = table()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("id").repartition(1)
    t.append(spark, mk(0, 100), statsCol = Some("id"))     // v0
    t.append(spark, mk(100, 200), statsCol = Some("id"))   // v1: the good state
    t.overwrite(spark, mk(900, 903), statsCol = Some("id")) // v2: the bad freeze
    val goodFiles = t.filesAt(1L).sorted
    val goodProbe = t.readWhere(spark, 1L, "id", 0L, 50L).inputFiles.toSet

    val rv = t.restore(1L)
    assert(rv === 3L)
    assert(t.history.map(_._2) === Seq("append", "append", "overwrite", "restore"))
    // exact v1 snapshot, served by the ORIGINAL files — no rewrite
    assert(t.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 200L).toArray)
    assert(t.filesAt(rv).sorted === goodFiles,
      "restore must re-reference v1's files, not rewrite them")
    // the replayed add actions carry the original zone maps: a probe
    // opens exactly the files it opened at v1, a strict subset
    val restoredProbe = t.readWhere(spark, rv, "id", 0L, 50L).inputFiles.toSet
    assert(restoredProbe === goodProbe)
    assert(restoredProbe.size < goodFiles.size)
    // the undone window stays time-travelable
    assert(t.readAsOf(spark, 2L).count() === 3)
    // restoring TO the head is a metadata no-op commit
    assert(t.restore(rv) === 4L)
    assert(t.filesAt(4L).sorted === goodFiles)
  }

  test("compactZOrder lost race rebases: a concurrent delete's rows stay deleted") {
    val root = Files.createTempDirectory("vtab").toString
    val plain = new VersionedTable(root)
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("a", org.apache.spark.sql.functions.col("id") % 10)
      .withColumn("b", org.apache.spark.sql.functions.expr("id div 100"))
    plain.append(spark, df, statsCol = Some("id"))          // v0

    // the z-order rewrite's FIRST commit attempt loses to a concurrent
    // deleteWhere; the rebase must re-stage against the post-delete head
    // so the deleted rows are not resurrected by the clustered rewrite
    var injected = false
    val racy = new VersionedTable(root) {
      override private[graft] def commit(v: Long, actions: Seq[String]): Boolean = {
        if (!injected && actions.exists(_.contains("\"operation\":\"zorder\""))) {
          injected = true
          plain.deleteWhere(spark, "id", 100L, 199L)        // wins version v
        }
        super.commit(v, actions)
      }
    }
    val cv = racy.compactZOrder(spark, "a", "b", targetFiles = 4)
    assert(cv === 2L)
    assert(plain.history.map(_._2) === Seq("append", "delete", "zorder"))
    assert(plain.read(spark).select("id").as[Long].collect().sorted ===
      ((0L to 99L) ++ (200L to 999L)).toArray,
      "a rebased z-order rewrite must not resurrect deleted rows")
    // every re-staged file records zone maps on BOTH clustering columns
    assert(addLines(plain, cv).forall(l =>
      l.contains("\"multi\":\"a,") && l.contains("|b,")))
  }

  test("restore lost race rebases: a concurrent append is rolled back too") {
    val root = Files.createTempDirectory("vtab").toString
    val plain = new VersionedTable(root)
    plain.append(spark, spark.range(0, 50).toDF("id"))     // v0: the target
    plain.overwrite(spark, spark.range(900, 903).toDF("id")) // v1: bad freeze

    // the restore's FIRST commit attempt loses the race to a concurrent
    // append; the rebase must recompute its remove set against the new
    // head, so the restored state is EXACTLY v0 — the racing append is
    // serialized before the restore and undone by it
    var injected = false
    val racy = new VersionedTable(root) {
      override private[graft] def commit(v: Long, actions: Seq[String]): Boolean = {
        if (!injected && actions.exists(_.contains("\"operation\":\"restore\""))) {
          injected = true
          plain.append(spark, spark.range(1000, 1010).toDF("id")) // wins v
        }
        super.commit(v, actions)
      }
    }
    val rv = racy.restore(0L)
    assert(rv === 3L)
    assert(plain.history.map(_._2) ===
      Seq("append", "overwrite", "append", "restore"))
    assert(plain.read(spark).select("id").as[Long].collect().sorted ===
      (0L until 50L).toArray,
      "the restored head must be exactly v0 — racing append rolled back")
    assert(plain.filesAt(rv).sorted === plain.filesAt(0L).sorted)
    // the raced append stays time-travelable
    assert(plain.readAsOf(spark, 2L).count() === 13)
  }

  test("restore to a legitimately-empty snapshot (post delete-all) works") {
    val t = table()
    t.append(spark, spark.range(0, 100).toDF("id"), statsCol = Some("id")) // v0
    val dv = t.deleteWhere(spark, "id", 0L, 99L)                           // v1: empty
    assert(t.readAsOf(spark, dv).count() === 0,
      "a delete-all snapshot must read as an empty frame under its schema")
    t.append(spark, spark.range(500, 510).toDF("id"))                      // v2
    val rv = t.restore(dv)
    assert(t.read(spark).count() === 0)
    assert(t.read(spark).schema.fieldNames === Array("id"))
    assert(t.history.map(_._2).last === "restore")
    // the rolled-back window stays time-travelable
    assert(t.readAsOf(spark, 2L).count() === 10)
    // the DSv2 batch face serves the empty snapshot under the
    // log-carried schema too (zero input partitions, no footer probe)
    val dsv2 = spark.read.format("graft.sources.VersionedStreamProvider")
      .option("path", t.root).option("versionAsOf", dv.toString).load()
    assert(dsv2.schema.fieldNames === Array("id") && dsv2.count() === 0)
    // and a restore FORWARD out of the empty state works too
    t.restore(2L)
    assert(t.read(spark).count() === 10)
    assert(rv === 3L)
  }

  test("compactZOrder buckets huge-range keys without BIGINT overflow") {
    // values k·2^56: multiply-first bucketing ((v-lo)·256) wraps at
    // k ≥ 128 and degrades the layout to garbage buckets; divide-first
    // keeps buckets monotone in v, so the range repartition yields
    // files whose zone maps on the clustering column are DISJOINT.
    val t = table()
    val huge = (0L until 16L).map(k => k << 56)
    val df = huge.toDF("a").withColumn("b", org.apache.spark.sql.functions.col("a"))
    t.append(spark, df, statsCol = Some("a"))
    val v = t.compactZOrder(spark, "a", "b", targetFiles = 4)
    assert(t.filesAt(v).size > 1)
    // disjoint zone maps on `a` ⇔ every point probe opens exactly one
    // file: overlapping intervals would put some value in two of them
    huge.foreach { x =>
      val opened = t.readWhere(spark, v, "a", x, x).inputFiles.length
      assert(opened === 1,
        s"value $x falls in $opened files' zone maps: bucket expression lost monotonicity (overflow)")
    }
    assert(t.read(spark).select("a").as[Long].collect().sorted === huge.toArray)
  }

  test("writer storm: concurrent appends all land exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = table()
    val writers = (0 until 4).map { w =>
      Future {
        (0 until 5).foreach { i =>
          t.append(spark, Seq((w * 5 + i, s"w$w-$i")).toDF("id", "v"))
        }
      }
    }
    // generous: under a full parallel-suite run this shares 32 threads
    // with every other Spark job on the box
    Await.result(Future.sequence(writers), 300.seconds)
    assert(t.version === 19L, "20 appends must take versions 0..19")
    assert(t.read(spark).select("id").as[Int].collect().sorted ===
      (0 until 20).toArray, "every writer's rows land exactly once")
    assert(t.history.forall(_._2 === "append"))
  }

  test("concurrent append + overwrite rebase: overwrite owns the final state") {
    val t = table()
    t.append(spark, Seq((1, "a")).toDF("id", "v"))       // v0
    t.append(spark, Seq((2, "b")).toDF("id", "v"))       // v1 (the "concurrent" append)
    val v = t.overwrite(spark, Seq((7, "x")).toDF("id", "v"))
    assert(v === 2L)
    // overwrite removed BOTH earlier files (its remove set rebased to the head)
    assert(t.read(spark).select("id").as[Int].collect() === Array(7))
    assert(t.readAsOf(spark, 1L).count() === 2)
  }
}
