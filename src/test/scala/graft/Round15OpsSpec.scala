package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral invariants for the round-15 tier (causal/eval family,
  * CUSUM, concurrency sweep, RAKE, clustering compare, sampling designs,
  * BFS reach) — properties the DuckDB oracle can't state directly. */
class Round15OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  test("cusum: the full cumulative sum telescopes to zero; argmax flagged") {
    val rows = graft.operators.BehaviorOps.cusumChangepoint(spark, dir).collect()
    assert(rows.nonEmpty)
    // S_n = sum(x_d * n - total) over all days = total*n - total*n = 0
    assert(rows.last.getLong(2) === 0L,
      "the terminal scaled CUSUM must telescope to exactly zero")
    val maxAbs = rows.map(r => math.abs(r.getLong(2))).max
    rows.foreach { r =>
      assert((r.getLong(3) === 1L) === (math.abs(r.getLong(2)) === maxAbs))
    }
    assert(rows.map(_.getLong(3)).sum >= 1L)
  }

  test("peak concurrency: bounded by the user count; starts partition sessions") {
    val rows = graft.operators.BehaviorOps.peakConcurrency(spark, dir).collect()
    assert(rows.nonEmpty)
    val nUsers = graft.model.Tables.events(spark, dir)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    // one user's gap-based sessions are disjoint by construction, so no
    // instant can have more concurrent sessions than users
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= nUsers)
    }
    // every session starts exactly once, somewhere
    val starts = rows.map(_.getLong(2)).sum
    assert(starts >= nUsers, "every user has at least one session")
  }

  test("diff-in-diff: the estimate is exactly the cell-mean combination") {
    val r = graft.operators.CausalOps.diffInDiff(spark, dir).head()
    val (tp, tq, cp, cq, did) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(did === (tp - tq) - (cp - cq))
    Seq(tp, tq, cp, cq).foreach(m =>
      assert(m > 0L && m < 101L * 100L * 1000000L, s"cell mean $m out of range"))
  }

  test("qini: cumulative counts are monotone and exhaust the user universe") {
    val rows = graft.operators.CausalOps.qiniCurve(spark, dir).collect()
    assert(rows.length === 10)
    val nUsers = graft.model.Tables.events(spark, dir)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(rows.last.getLong(1) + rows.last.getLong(2) === nUsers,
      "decile 10 must contain every user across both arms")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) >= a.getLong(1) && b.getLong(2) >= a.getLong(2))
      assert(b.getLong(3) >= a.getLong(3) && b.getLong(4) >= a.getLong(4))
    }
  }

  test("multi-touch: every credited purchase's basis points sum to 10000") {
    val rows = graft.operators.CausalOps.multiTouch(spark, dir).collect()
    val totalBps = rows.map(_.getLong(2)).sum
    // recompute the credited-purchase count independently: a purchase is
    // credited iff >=1 non-purchase event precedes it since the user's
    // previous purchase (those are exactly the touches whose NEXT
    // purchase it is)
    val evs = graft.model.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts").as("ts_ns"),
        col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val credited = evs.groupBy(_._1).values.map { u =>
      val ordered = u.sortBy(e => (e._3 / 1000, e._4))
      var touches = 0
      var creditedPurchases = 0
      ordered.foreach { e =>
        if (e._2 == "purchase") {
          if (touches > 0) creditedPurchases += 1
          touches = 0
        } else touches += 1
      }
      creditedPurchases
    }.sum
    assert(totalBps === 10000L * credited,
      s"credit must split each of the $credited purchases into exactly 10000 bps")
  }

  test("cv folds: evaluation partitions the event log exactly") {
    val rows = graft.operators.CausalOps.cvFolds(spark, dir).collect()
    assert(rows.map(_.getLong(0)).sorted === Array(0L, 1L, 2L, 3L, 4L))
    val total = graft.model.Tables.events(spark, dir).count()
    assert(rows.map(_.getLong(1)).sum === total,
      "every event is evaluated in exactly one fold")
    rows.foreach(r => assert(r.getLong(3) >= 0L))
  }

  test("conformal: realized coverage honors the 90% guarantee") {
    val rows = graft.operators.CausalOps.conformal(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nCal, qHat, cov) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nCal > 0L && qHat >= 0L)
      // coverage >= ceil(0.9(n+1))/n up to the integer-bps floor
      assert(cov >= 8900L && cov <= 10000L,
        s"${r.getString(0)}: conformal coverage $cov bps outside guarantee")
    }
  }

  test("rake: no stopword inside any phrase; candidate runs capped at 4") {
    val rows = graft.operators.CorpusOps.rakePhrases(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val docs = graft.model.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
    val df = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { d =>
      d.getString(1).split(" ").filter(_.nonEmpty).distinct.foreach { w =>
        df(w) = df.getOrElse(w, Set.empty) + d.getLong(0)
      }
    }
    val stop = df.toSeq.map { case (w, s) => (w, s.size) }
      .sortBy { case (w, n) => (-n, w) }.take(5).map(_._1).toSet
    rows.foreach { r =>
      val words = r.getString(0).split(" ")
      assert(words.length >= 1 && words.length <= 4)
      assert(words.forall(w => !stop(w)),
        s"phrase '${r.getString(0)}' contains a stopword from $stop")
      assert(r.getLong(1) >= 1L && r.getLong(2) > 0L)
    }
  }

  test("clustering compare: z-order trades leading-dim pruning for balance") {
    val rows = graft.operators.ScaleOps.clusteringCompare(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows.size === 4)
    // linear clustering by partkey prunes its own dimension far better
    // than the other, and better than the curve does
    assert(rows(("linear", "partkey")) < rows(("linear", "suppkey")))
    assert(rows(("linear", "partkey")) < rows(("zorder", "partkey")))
    // the space-filling curve wins where the linear sort cannot prune
    assert(rows(("zorder", "suppkey")) < rows(("linear", "suppkey")),
      "z-order must prune the non-leading dimension better than a linear sort")
  }

  test("neyman allocation: budget conserved up to per-stratum rounding") {
    val rows = graft.operators.ScaleOps.neymanAlloc(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(3)).sum
    assert(math.abs(total - 10000L) <= rows.length / 2 + 1,
      s"allocations sum to $total, want ~10000")
    rows.foreach(r => assert(r.getLong(3) > 0L && r.getLong(2) >= 0L))
  }

  test("A-ES sample: k rows in strict key order with dense ranks") {
    val rows = graft.operators.ScaleOps.aesSample(spark, dir).collect()
    assert(rows.length === 20)
    assert(rows.map(_.getInt(3).toLong).toSeq === (1L to 20L))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(2) < b.getDouble(2) ||
        (a.getDouble(2) == b.getDouble(2) && a.getLong(0) < b.getLong(0)))
    }
    rows.foreach(r => assert(r.getLong(1) >= 1L && r.getDouble(2) >= 0.0))
  }

  test("semantic decontamination: census exact, flags consistent") {
    val rows = graft.operators.SimilarityOps.semDecontaminate(spark, dir).collect()
    assert(rows.length === 5)
    val corpus = graft.model.Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= 5).count()
    rows.foreach { r =>
      assert(r.getLong(1) === corpus, "every probe checks the whole corpus")
      assert(r.getLong(2) >= 0L && r.getLong(2) <= corpus)
      assert(r.getDouble(3) <= 1.000001)
      assert(r.isNullAt(4) === (r.getLong(2) === 0L),
        "first flagged id present exactly when something was flagged")
    }
  }

  test("propensity strata: the ALL row aggregates its strata exactly") {
    val rows = graft.operators.CausalOps.propensityStrata(spark, dir).collect()
    assert(rows.length === 6)
    val all = rows.find(_.getInt(0) === 0).get
    val strata = rows.filter(_.getInt(0) != 0)
    assert(strata.length === 5)
    assert(all.getLong(1) === strata.map(_.getLong(1)).sum)
    assert(all.getLong(2) === strata.map(_.getLong(2)).sum)
    assert(all.getLong(3) === strata.map(_.getLong(3)).sum)
    assert(all.getLong(4) === strata.map(_.getLong(4)).sum)
    val contributing = strata.filterNot(_.isNullAt(6))
    assert(all.getLong(6) === contributing.map(_.getLong(6)).sum,
      "the subclassification numerator is the sum of stratum contributions")
    contributing.foreach { r =>
      assert(r.getLong(6) === (r.getLong(1) + r.getLong(2)) * r.getLong(5))
    }
    strata.foreach(r => assert(r.isNullAt(5) === (r.getLong(1) == 0L || r.getLong(2) == 0L),
      "diff is NULL exactly when an arm is empty"))
  }

  test("simpson: pooled row sums the strata; signs match their numerators") {
    val rows = graft.operators.CausalOps.simpson(spark, dir).collect()
    assert(rows.length === 6)
    val all = rows.find(_.getString(0) == "ALL").get
    val strata = rows.filter(_.getString(0) != "ALL")
    assert(all.getLong(1) === strata.map(_.getLong(1)).sum)
    rows.foreach { r =>
      // slope_num ships as an exact-integer STRING (decimal128 output is
      // structurally unhashable through the driver's parquet oracle leg)
      assert(r.getLong(3) === BigInt(r.getString(2)).signum.toLong,
        s"${r.getString(0)}: sign must match the exact integer numerator")
    }
  }

  test("two-hop reach: expansion dominates the frontier and stays bounded") {
    val rows = graft.operators.GraphOps.twoHopReach(spark, dir).collect()
    assert(rows.length === graft.model.Tables.nation(spark, dir).count())
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"${r.getString(0)}: 2-hop reach must contain the 1-hop frontier")
      assert(r.getLong(1) <= 24L)
    }
    assert(rows.map(_.getLong(1)).sum <= 100L,
      "1-hop edges cannot exceed the top-100 sparsification")
  }

  test("lake restore: the head is v0's files by reference after the bad freeze") {
    val root = graft.operators.ScaleOps.restoredOrders(spark, dir)
    val t = new graft.sources.VersionedTable(root)
    assert(t.history.map(_._2) === Seq("append", "overwrite", "restore"))
    assert(t.filesAt(2L).sorted === t.filesAt(0L).sorted,
      "restore must re-reference the good freeze's files, not rewrite them")
    // the corrupt window stays auditable
    assert(t.readAsOf(spark, 1L).count() < t.read(spark).count())
  }

  test("zorder compact: head files carry both zone maps; both probes skip files") {
    val root = graft.operators.ScaleOps.zorderedOrders(spark, dir)
    val t = new graft.sources.VersionedTable(root)
    val v = t.version
    assert(t.history.map(_._2) === Seq("append", "zorder"))
    val nf = t.filesAt(v).size
    assert(nf > 0)
    // both dimensions' zone maps are recorded: a probe on EITHER skips
    assert(t.readWhere(spark, v, "ck", 10L, 19L).inputFiles.length < nf,
      s"the ck probe must skip some of the $nf z-ordered files")
    assert(t.readWhere(spark, v, "mo", 23953L, 23964L).inputFiles.length < nf,
      s"the mo probe must skip some of the $nf z-ordered files")
    // the registry face: probes are strict subsets of the full census
    val rows = graft.operators.ScaleOps.zorderCompact(spark, dir).collect()
    val byProbe = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byProbe.keySet === Set("all", "ck", "mo"))
    assert(byProbe("ck")._1 > 0 && byProbe("mo")._1 > 0)
    assert(byProbe("ck")._1 < byProbe("all")._1)
    assert(byProbe("mo")._1 < byProbe("all")._1)
  }
}
