package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.operators.{CorpusOps, DivergenceOps, ScaleOps, SimilarityOps}

/** Behavioral invariants for the round-7 tier (semantic dedup,
  * classifier calibration, footer-stats metadata scan, curriculum
  * sharding) — the properties the DuckDB hash check can't state:
  * accounting identities, bounds, and monotone structure. */
class Round7OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  test("semDedup: one keeper per cluster, members share the keeper's cell-bounded origin") {
    val rows = SimilarityOps.semDedup(spark, dir).collect()
    assert(rows.nonEmpty, "no semantic-dup clusters found at all")
    val byCluster = rows.groupBy(_.getLong(0))
    byCluster.foreach { case (c, members) =>
      assert(members.count(_.getInt(4) == 1) === 1,
        s"cluster $c does not keep exactly one representative")
      // the cluster label is the min member id (star-contraction root)
      assert(members.map(_.getLong(1)).min === c,
        s"cluster $c not labeled by its min member")
      // the keeper is the member least similar to its centroid
      val keeper = members.find(_.getInt(4) == 1).get
      val minCos = members.map(_.getDouble(3)).min
      assert(keeper.getDouble(3) === minCos,
        s"cluster $c keeper is not the least-centroid-similar member")
    }
    // every cluster has at least two members (singletons carry no edge)
    byCluster.foreach { case (c, members) =>
      assert(members.length >= 2, s"cluster $c is a singleton")
    }
  }

  test("marginCalibration: doc population conserved, accuracy within [0,1]") {
    val rows = DivergenceOps.marginCalibration(spark, dir).collect()
    assert(rows.nonEmpty)
    val nDocs = rows.map(_.getLong(1)).sum
    // every scored document lands in exactly one bin
    val scoredDocs = Tables.documents(spark, dir).count()
    assert(nDocs === scoredDocs,
      s"calibration bins hold $nDocs docs, corpus has $scoredDocs")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "more correct than present")
      val acc = r.getDouble(3)
      assert(acc >= 0.0 && acc <= 1.0)
      val bin = r.getInt(0)
      assert(bin >= 0 && bin <= 9)
    }
  }

  test("aggPushdownStats: footer stats equal the truth, caller conf never written") {
    // a second thread samples the caller's conf for as long as the build
    // runs: the pushdown confs belong to a private session
    val caller = spark.newSession()
    val before = caller.conf.getAll
    @volatile var building = true
    @volatile var samples = 0
    @volatile var written: Option[Map[String, String]] = None
    val sampler = new Thread(() => while (building) {
      val now = caller.conf.getAll
      if (now != before) written = Some(now)
      samples += 1
    })
    sampler.start()
    val got = try ScaleOps.aggPushdownStats(caller, dir).collect()(0)
      finally { building = false; sampler.join() }
    assert(samples > 0)
    assert(written === None)
    assert(caller.conf.getAll === before)
    val li = Tables.lineitem(spark, dir)
    val truth = li.agg(count(lit(1)), min(col("l_orderkey")),
      max(col("l_orderkey")), min(col("l_linenumber")),
      max(col("l_linenumber"))).collect()(0)
    assert(got.getLong(0) === truth.getLong(0))
    assert(got.getLong(1) === truth.getLong(1))
    assert(got.getLong(2) === truth.getLong(2))
    assert(got.getInt(3) === truth.getInt(3))
    assert(got.getInt(4) === truth.getInt(4))
  }

  test("bpeEncode: symbol mass between token and char mass, equals the trainer's total") {
    import graft.operators.MlOps
    val rows = MlOps.bpeEncode(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tokens, chars, syms) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // every token is at least one symbol; merging never grows past chars
      assert(syms >= tokens && syms <= chars,
        s"source ${r.getString(0)}: symbol mass $syms outside [$tokens, $chars]")
    }
    // accounting identity: the encoder's corpus symbol total IS the
    // trainer's post-step-3 compression-progress number
    val encTotal = rows.map(_.getLong(3)).sum
    val trainerTotal = MlOps.bpeMerges(spark, dir).collect()
      .maxBy(_.getInt(0)).getLong(3)
    assert(encTotal === trainerTotal,
      s"encoder total $encTotal != trainer total_symbols_after $trainerTotal")
  }

  test("qualitySchedule: greedy fill meets the budget exactly, rates fall monotonically") {
    val rows = CorpusOps.qualitySchedule(spark, dir).collect().sortBy(_.getInt(0))
    assert(rows.length === 10)
    val total = rows.map(_.getLong(2)).sum
    val budget = total * 50 / 100
    // the greedy fill admits exactly the budget (boundary decile fractional)
    assert(rows.map(_.getLong(3)).sum === budget,
      s"kept ${rows.map(_.getLong(3)).sum} != budget $budget")
    // keep rates never rise as quality falls
    rows.map(_.getDouble(4)).sliding(2).foreach {
      case Array(hi, lo) => assert(lo <= hi + 1e-12, "keep_rate rose down-decile")
      case _ =>
    }
    // per-decile kept tokens never exceed the decile's mass
    rows.foreach(r => assert(r.getLong(3) >= 0L && r.getLong(3) <= r.getLong(2)))
  }

  test("joinCardinality: prediction equals the join actually run") {
    val rows = ScaleOps.joinCardinality(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val predicted = rows.head.getLong(4) // total_pairs, same on every row
    val ev = Tables.events(spark, dir).select(col("user_id"), col("event_type"))
    val actual = ev.filter(col("event_type") === "view")
      .join(ev.filter(col("event_type") === "purchase"), Seq("user_id"))
      .count()
    assert(predicted === actual,
      s"predicted $predicted pairs, the join produced $actual")
    // contributors arrive largest-first with sane shares
    val pairs = rows.map(_.getLong(3))
    assert(pairs.sameElements(pairs.sortBy(-_)))
    rows.foreach(r => assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0))
  }

  test("cupedAdjust: moments algebra matches an exact driver recompute") {
    import graft.operators.BehaviorOps
    val r = BehaviorOps.cupedAdjust(spark, dir).collect()(0)
    // brute-force the same exact-integer moments on the driver
    val cutoffUs = 1704412800000000L
    val pu = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
      .groupBy(col("user_id"))
      .agg(
        round(sum(when(col("ts_us") < cutoffUs, col("value")).otherwise(0.0))
          * 100, 0).cast("long").as("x"),
        round(sum(when(col("ts_us") >= cutoffUs, col("value")).otherwise(0.0))
          * 100, 0).cast("long").as("y"))
      .withColumn("in_a",
        substring(md5(col("user_id").cast("string")), 1, 1) <= "7")
      .collect().map(u => (u.getLong(1), u.getLong(2), u.getBoolean(3)))
    assert(r.getLong(0) + r.getLong(1) === pu.length.toLong)
    val n = pu.length.toDouble
    val (sx, sy) = (pu.map(_._1).sum.toDouble, pu.map(_._2).sum.toDouble)
    val sxy = pu.map(u => u._1 * u._2).sum.toDouble
    val sxx = pu.map(u => u._1 * u._1).sum.toDouble
    val theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    assert(math.abs(r.getDouble(5) - theta) < 1e-6,
      s"theta ${r.getDouble(5)} != driver recompute $theta")
    // the covariate explains a FRACTION of the variance, never more
    val vr = r.getDouble(7)
    assert(vr >= 0.0 && vr <= 1.0, s"var_reduction $vr outside [0,1]")
  }

  test("dqChecks: every rule checks its table's full population, verdict matches counts") {
    import graft.operators.RelationalOps
    val rows = RelationalOps.dqChecks(spark, dir).collect()
    assert(rows.length === 9)
    val expected = Map(
      "events" -> Tables.events(spark, dir).count(),
      "lineitem" -> Tables.lineitem(spark, dir).count(),
      "documents" -> Tables.documents(spark, dir).count(),
      "orders" -> Tables.orders(spark, dir).count())
    rows.foreach { r =>
      assert(r.getLong(2) === expected(r.getString(1)),
        s"rule ${r.getString(0)} checked ${r.getLong(2)} rows, table has ${expected(r.getString(1))}")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= r.getLong(2))
      assert((r.getInt(4) == 1) === (r.getLong(3) == 0L),
        s"rule ${r.getString(0)} verdict disagrees with its failure count")
    }
  }

  test("thresholdCurve: counts fall monotonically with tau, docs bounded by pairs") {
    import graft.operators.DedupOps
    val rows = DedupOps.thresholdCurve(spark, dir).collect().sortBy(_.getDouble(0))
    assert(rows.length === 5)
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(hi.getLong(1) <= lo.getLong(1), "pair count rose with tau")
        assert(hi.getLong(2) <= lo.getLong(2), "doc count rose with tau")
      case _ =>
    }
    rows.foreach { r =>
      // each qualifying pair touches at most 2 docs, at least... 2 docs
      // require at least 1 pair; zero pairs must mean zero docs
      assert(r.getLong(2) <= 2 * r.getLong(1))
      assert((r.getLong(1) == 0L) === (r.getLong(2) == 0L))
    }
  }

  test("attribution: conversions conserve the purchase population") {
    import graft.operators.BehaviorOps
    val rows = BehaviorOps.lastTouchAttribution(spark, dir).collect()
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getLong(1)).sum === purchases,
      "attributed conversions do not sum to the purchase count")
    // credit only goes to non-purchase touch types (or explicit none)
    rows.foreach(r => assert(r.getString(0) != "purchase"))
  }

  test("eventTransitions: rows are distributions, cells conserve the lagged stream") {
    import graft.operators.BehaviorOps
    val rows = BehaviorOps.eventTransitions(spark, dir).collect()
    assert(rows.nonEmpty)
    // per-from row: cell counts sum to the row total, probabilities to ~1
    rows.groupBy(_.getString(0)).foreach { case (from, cells) =>
      val rowTotal = cells.head.getLong(3)
      assert(cells.map(_.getLong(2)).sum === rowTotal,
        s"$from cells do not sum to their row total")
      val pSum = cells.map(_.getDouble(4)).sum
      assert(math.abs(pSum - 1.0) < 1e-4, s"$from probabilities sum to $pSum")
    }
    // total transitions = events - users-with-events (one lag loss per user)
    val ev = Tables.events(spark, dir)
    val expected = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(2)).sum === expected)
  }

  test("liftDeciles: shares cumulate to one, populations conserve the user base") {
    import graft.operators.BehaviorOps
    val rows = BehaviorOps.liftDeciles(spark, dir).collect().sortBy(_.getInt(0))
    assert(rows.length === 10)
    val users = Tables.events(spark, dir).select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(1)).sum === users)
    // both cumulative share columns are non-decreasing and end at 1
    Seq(5, 6).foreach { i =>
      val shares = rows.map(_.getDouble(i))
      shares.sliding(2).foreach {
        case Array(a, b) => assert(b >= a - 1e-12)
        case _ =>
      }
      assert(math.abs(shares.last - 1.0) < 1e-9)
    }
    // ranking is by clicks desc: per-decile click mass never rises
    rows.map(_.getLong(2)).sliding(2).foreach {
      case Array(a, b) => assert(b <= a)
      case _ =>
    }
  }

  test("powerMde: detectable effect positive and above the arms' observed noise floor") {
    import graft.operators.BehaviorOps
    val r = BehaviorOps.powerMde(spark, dir).collect()(0)
    assert(r.getLong(0) > 0L && r.getLong(1) > 0L)
    assert(r.getDouble(3) > 0.0, "zero spend variance is not this corpus")
    // mde = 2.801585 * sd * sqrt(1/n_a + 1/n_b) up to rounding
    val expected = 2.801585 * r.getDouble(3) *
      math.sqrt(1.0 / r.getLong(0) + 1.0 / r.getLong(1))
    assert(math.abs(r.getDouble(4) - expected) < 1e-4,
      s"mde ${r.getDouble(4)} != recomputed $expected")
    assert(r.getDouble(5) > 0.0 && r.getDouble(5) < 1.0,
      "relative MDE outside a sane band for this corpus")
  }

  test("compactionAudit: file count collapses to the contract, content survives") {
    val r = ScaleOps.compactionAudit(spark, dir).collect()(0)
    val (rowsB, filesB, rowsA, filesA) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(rowsB === rowsA, "compaction lost rows")
    assert(filesA === math.max(1L, (rowsB + 49999) / 50000),
      s"compacted to $filesA files, contract says ${(rowsB + 49999) / 50000}")
    assert(filesA < filesB, "compaction did not reduce the file count")
    assert(r.getInt(4) === 1, "content checksum changed across the rewrite")
  }

  test("dauWau: window dominates the day, both bounded by the user base") {
    import graft.operators.BehaviorOps
    val rows = BehaviorOps.dauWau(spark, dir).collect()
    assert(rows.nonEmpty)
    val users = Tables.events(spark, dir).select(col("user_id")).distinct().count()
    rows.foreach { r =>
      val (dau, wau) = (r.getLong(1), r.getLong(2))
      assert(dau >= 1L && dau <= wau, "a day's actives exceed its 7-day window")
      assert(wau <= users, "window actives exceed the user base")
      val s = r.getDouble(3)
      assert(s > 0.0 && s <= 1.0)
    }
    // every observed activity day appears
    val days = Tables.events(spark, dir)
      .select(expr("CAST(ts div 86400000000000 AS BIGINT)").as("day"))
      .distinct().count()
    assert(rows.length.toLong === days)
  }

  test("seasonalIndex: day-weighted indices average to one per type") {
    import graft.operators.BehaviorOps
    val rows = BehaviorOps.seasonalIndex(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (tpe, cells) =>
      assert(cells.length <= 7)
      // Σ days_dow·idx / days_all = 1 by construction (exact masses)
      val daysAll = cells.map(_.getLong(2)).sum.toDouble
      val weighted = cells.map(r => r.getLong(2) * r.getDouble(4)).sum / daysAll
      assert(math.abs(weighted - 1.0) < 1e-4,
        s"$tpe day-weighted index $weighted != 1")
      cells.foreach(r => assert(r.getDouble(4) > 0.0))
    }
  }

  test("curriculumShards: population conserved, quality spans descend without overlap") {
    val rows = CorpusOps.curriculumShards(spark, dir).collect()
    assert(rows.length === 8)
    assert(rows.map(_.getLong(1)).sum === Tables.documents(spark, dir).count())
    // ntile balance: shard sizes differ by at most one
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1L)
    // contiguous global order: shard k's max quality never exceeds
    // shard k-1's min quality (ties may touch, never cross)
    rows.sortBy(_.getInt(0)).sliding(2).foreach {
      case Array(hi, lo) =>
        assert(lo.getDouble(3) <= hi.getDouble(4) + 1e-12,
          s"shard ${lo.getInt(0)} overlaps shard ${hi.getInt(0)}")
      case _ =>
    }
  }
}
