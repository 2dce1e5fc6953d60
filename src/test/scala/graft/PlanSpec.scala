package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.operators.{DashboardOps, RelationalOps}

/** Physical-plan shape assertions: the properties that make these
  * operators scale are visible in explain output, so pin them. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters and projections push down to the parquet scan") {
    val df = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_quantity"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$p")
  }

  test("fact-dim joins broadcast the dimension side") {
    val p = plan(RelationalOps.ordersPerCustomer(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(DashboardOps.recentTopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("scan->agg queries stay inside whole-stage codegen") {
    // AQE wraps the plan and hides codegen spans until runtime; disable
    // it for this shape assertion only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = RelationalOps.pricingSummary(spark, dir)
      // compact plan strings mark codegen stages as "*(n)"; the explain
      // codegen mode spells the subtrees out
      val p = plan(df)
      val codegen = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(p.contains("*(1)") && codegen.contains("WholeStageCodegen"),
        s"no codegen span:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("semi/anti joins plan as join types, not subquery re-scans") {
    val p = plan(RelationalOps.customerOrderPresence(spark, dir))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
  }

  test("rank-filter top-N per group plans a two-phase WindowGroupLimit") {
    // rn <= k over a row_number window must NOT sort whole groups: Spark
    // inserts a partial group-limit before the exchange and a final one
    // after — each side keeps at most k rows per group in memory.
    val p = plan(RelationalOps.topOrdersPerCustomer(spark, dir))
    assert(p.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$p")
  }

  test("CDC compaction and stratified sampling keep the group-limit shape") {
    // the same WindowGroupLimit guarantee must hold for rank-1 compaction
    // (latest per key) and the exact-N stratum cut — neither may
    // materialize a whole partition to pick its head rows
    val compaction = plan(RelationalOps.latestPerUser(spark, dir))
    assert(compaction.contains("WindowGroupLimit"),
      s"compaction sorts whole keys:\n$compaction")
    val sample = plan(graft.operators.CorpusOps.stratifiedSample(spark, dir))
    assert(sample.contains("WindowGroupLimit"),
      s"stratified cut sorts whole strata:\n$sample")
    // the weighted-sample stratum cut carries the same guarantee (the
    // simhash-radius bucket cap has the identical rn<=k shape but sits
    // above an eager localCheckpoint, so its executed plan is not
    // inspectable here)
    val weighted = plan(graft.operators.CorpusOps.weightedSample(spark, dir))
    assert(weighted.contains("WindowGroupLimit"),
      s"weighted sample sorts whole strata:\n$weighted")
  }

  test("revenue join broadcasts every non-fact side: no sort-merge join") {
    // The pruned orders projection joins as a broadcast at bench scale —
    // the fact table must reach the final agg without a join shuffle.
    val p = plan(RelationalOps.revenueByRegionNation(spark, dir))
    assert(!p.contains("SortMergeJoin"), s"fact side shuffled for a join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("bucketed near-dup joins on the bucket key: no nested-loop or cartesian stage") {
    // The LSH candidate generator must be a plain equi-join on bucket —
    // any BroadcastNestedLoopJoin/CartesianProduct means the O(n²/c)
    // brute-force shape crept back in.
    val p = plan(graft.operators.SimilarityOps.bucketedNearDup(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"non-equi pair stage:\n$p")
  }

  test("bucketed co-located join: sort-merge join with no exchange beneath it") {
    // Both sides are written bucketed+sorted on the join key, so the
    // scans already satisfy the join's distribution requirement — the
    // shuffle-free fact⋈fact shape. Any Exchange under the join means
    // the bucketing metadata was lost and the 100-TB write-once
    // join-for-free contract is broken.
    val p = plan(graft.operators.ScaleOps.bucketedJoin(spark, dir))
    val at = p.indexOf("SortMergeJoin")
    assert(at >= 0, s"join did not plan as sort-merge:\n$p")
    assert(!p.substring(at).contains("Exchange"),
      s"shuffle under the bucketed join:\n$p")
  }

  test("partitioned layout prunes the scan to the matching directories") {
    // The partitionBy(event_type) write puts each value in its own
    // directory; the IN filter must surface as PartitionFilters on the
    // scan (directory pruning before any row is read), not a post-scan
    // Filter over all five partitions.
    val p = plan(graft.operators.ScaleOps.partitionedScan(spark, dir))
    val scanAt = p.indexOf("PartitionFilters")
    assert(scanAt >= 0, s"no partition filters on the scan:\n$p")
    assert(p.substring(scanAt, p.indexOf(']', scanAt) + 1).contains("click"),
      s"IN values not pushed to partition pruning:\n$p")
  }

  test("dim-filtered star join prunes fact partitions at runtime (DPP)") {
    // The dimension's weight filter must reach the fact scan as a
    // dynamicpruningexpression in PartitionFilters: the runtime list of
    // surviving event_type directories, discovered from the broadcast —
    // no literal predicate on the fact anywhere in the query.
    val p = plan(graft.operators.ScaleOps.dppJoin(spark, dir))
    assert(p.contains("dynamicpruningexpression"),
      s"no runtime partition pruning on the fact scan:\n$p")
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // The configured shuffle width (a 1000-executor number) must not
    // dictate tiny-stage task counts: after execution the adaptive plan
    // reads the shuffle through a coalesced AQEShuffleRead. This is the
    // runtime half of the partition story — static width for the big
    // stages, adaptive narrowing for the small ones.
    val df = graft.operators.DashboardOps.statsByGroup(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead coalesced"),
      s"no adaptive partition coalescing after execution:\n$p")
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The modern answer to reducer stragglers, next to the manual salting
    // remedy q_salted_agg demonstrates: when one join key owns most of a
    // side, AQE's skew-join splits the hot shuffle partition into
    // advisory-sized slices and replicates the matching other side —
    // turning the one straggler task into many balanced ones with no
    // query rewrite. Thresholds are lowered here so toy-scale bytes
    // trip the same machinery a 100-TB hot key would.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "102400")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "102400")
      // 90% of the fact lands on key 0; the dim is uniform
      val fact = spark.range(300000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        concat(lit("pad-pad-pad-pad-pad-pad-"), col("id")).as("payload"))
      val dim = spark.range(1000).select(col("id").as("k"), col("id").as("v"))
      val joined = fact.join(dim, "k")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"hot key did not trigger an adaptive skew split:\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("a selective dim filter injects a runtime bloom filter into the fact scan") {
    // The row-level sibling of DPP: when the dimension side of a shuffle
    // join is selective, Spark builds a bloom filter over its join keys
    // at runtime and pushes might_contain into the FACT side — fact rows
    // whose key can't match die before the exchange. At 100 TB this is
    // the difference between shuffling the whole fact table and
    // shuffling the matching sliver; thresholds are lowered so toy-scale
    // stats trip the same machinery.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
    )
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join
      val fact = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"))
      val dim = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT") // selective build side
        .select(col("o_orderkey"), col("o_totalprice"))
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("NO registry query plans a BroadcastNestedLoopJoin, CartesianProduct, " +
      "or an unpartitioned window over an unbounded frame") {
    // The registry-wide scale invariants, checked in ONE enumeration
    // (building every query is the expensive part — eager checkpoints
    // run): (1) every pairwise stage must be keyed (equi-join) so its
    // cost is bounded by collisions, never by corpus size; (2) every
    // window must be partitioned unless the frame beneath it is bounded
    // by construction — an unpartitioned window over a data-sized frame
    // funnels the table through one task at 100 TB.
    // The only tolerated nested-loop joins are those whose broadcast
    // side is CONSTANT-BOUNDED by construction (a fixed probe set, not
    // a corpus sample): O(n·k) with k a literal in the query.
    val constantSideBnl = Set(
      "q_knn_cosine", // broadcast side = 5 fixed query vectors (vec_id < 5)
      "q_ivf_topk",   // broadcast side = 8 fixed centroids / 5 fixed queries
      "q_ivf_recall", // composes q_ivf_topk + the same 5-query exact rank
      "q_ivf_ndcg",   // same composition, position-weighted scoring
      "q_ivf_mrr",    // same composition, first-hit reciprocal rank
      "q_hard_negatives", // same 5-probe broadcast, label-inequality residual
      "q_ivf_nprobe", // same constant sides, swept over 3 nprobe literals
      "q_kmeans_step", // broadcast side = k=8 fixed init centroids (vec_id < 8)
      "q_kmeans_iters", // same k=8 constant centroid side, re-broadcast per iter
      "q_matryoshka_recall", // broadcast side = 5 fixed probes (vec_id < 5)
      "q_hamming_recall", // broadcast side = 5 fixed probes (vec_id < 5)
      "q_cluster_purity", // broadcast side = k=8 fixed init centroids
      "q_sem_decontaminate", // broadcast side = 5 fixed benchmark probes
    )
    // Unpartitioned windows tolerated ONLY over frames bounded by
    // construction — a groupBy on an enum/bin/day keyspace, a top-k
    // cliff, or a vocab cap upstream; each entry names the bound.
    val boundedFrameWindows = Set(
      "q_als_step",        // rank window over the TakeOrdered ≤K survivors
      "q_assoc_rules",     // rank window over the TakeOrdered ≤K survivors
      "q_auc",             // per-score histogram (|score domain| ≪ users)
      "q_backtest",        // per-day cells (observation span)
      "q_sax_motifs",      // per-day cells (observation span)
      "q_decision_stump",  // 9 candidate rows (literal threshold grid)
      "q_cumulative_reach", // per-hour cells (observation span)
      "q_mom_growth",      // per-month cells (observation span)
      "q_cusum",           // per-day cells (observation span)
      "q_peak_concurrency", // carry-in window over per-day cells (span)
      "q_qini",            // 10 decile rows (decile count a literal)
      "q_neyman_alloc",    // |event types| stratum rows
      "q_aes_sample",      // rank window over the TakeOrdered ≤k sample
      "q_cluster_compare", // cell-offset cumsum over the literal 64×64 grid
      "q_benford",         // 9 first-digit rows
      "q_bootstrap_ci",    // B resample-statistic rows (B a literal)
      "q_burn_rate",       // per-day burn cells (observation span)
      "q_domain_reweight", // |source| rows
      "q_rolling_corr",    // per-day cells (observation span)
      "q_runs_test",       // per-day cells (observation span)
      "q_token_budget",    // |source| rows
      "q_join_skew",       // per-key count summary of a bounded key domain
      "q_ks_drift",        // per-length histogram cells (len domain)
      "q_median_of_means", // k group means (k a literal)
      "q_psi_drift",       // fixed bin table
      "q_shard_skew",      // |shards| rows (shard count a literal)
      "q_skyline",         // per-bucket carry summary (bucket width literal)
      "q_survival_km",     // ≤(horizon+1)-row KM table (horizon a literal)
      "q_type_hour_mi",    // |event types| × 24 cells
      "q_zipf_fit",        // vocab rank table (corpus vocabulary, not rows)
    )
    val unkeyed = scala.collection.mutable.ArrayBuffer.empty[String]
    val unpartitioned = scala.collection.mutable.ArrayBuffer.empty[String]
    val decimalOut = scala.collection.mutable.ArrayBuffer.empty[String]
    // Decimal output columns are banned registry-wide: DuckDB's HUGEINT
    // twin demotes to double through the driver's parquet round-trip of
    // the oracle (no parquet logical type), so a decimal128 output can
    // never hash-match — the q_cohort_ltv(r8)/q_simpson(r10) class.
    // Decimals are fine INSIDE a query; re-type (string for exact
    // integers beyond int64, BIGINT/round otherwise) before the final
    // select.
    def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.DecimalType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasDecimal(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasDecimal(a.elementType)
      case m: org.apache.spark.sql.types.MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _ => false
    }
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, dir)
      if (df.schema.fields.exists(f => hasDecimal(f.dataType))) decimalOut += name
      if (!constantSideBnl(name)) {
        val p = plan(df)
        if (p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
          unkeyed += name
      }
      if (!boundedFrameWindows(name)) {
        val hasUnpart = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.nonEmpty
        if (hasUnpart) unpartitioned += name
      }
    }
    assert(unkeyed.isEmpty,
      s"unkeyed pair stages in registry queries: ${unkeyed.mkString(", ")}")
    assert(unpartitioned.isEmpty,
      "unpartitioned windows over frames not in the bounded allowlist: " +
        unpartitioned.mkString(", "))
    assert(decimalOut.isEmpty,
      "DecimalType in a registry query's OUTPUT schema (oracle HUGEINT " +
        "demotes to double through the driver's parquet leg — re-type " +
        s"before the final select): ${decimalOut.mkString(", ")}")
  }

  test("behavior family reads the shared user-day cube, not the event log") {
    // Nine queries (rfm, cohort LTV, CUPED, A/B z, power/MDE, lift
    // deciles, growth accounting, DAU/WAU, retention) reduce events to a
    // per-user/per-day frame. They must all coarsen the ONE materialized
    // session cube — visible in the plan as a Scan ExistingRDD (the
    // localCheckpoint) with NO parquet FileScan left anywhere.
    graft.operators.BehaviorOps.userDayCube(spark, dir).count() // warm once
    Seq("q_rfm_segments", "q_cohort_ltv", "q_cuped", "q_ab_ztest",
      "q_power_mde", "q_lift_deciles", "q_growth_accounting", "q_dau_wau",
      "q_retention_cohorts").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, dir))
      assert(!p.contains("FileScan"), s"$name re-scans parquet instead of the cube:\n$p")
      assert(p.contains("ExistingRDD"), s"$name does not read the checkpointed cube:\n$p")
    }
  }

  test("rfm quintile scoring plans no single-partition stage") {
    // The distributedNtile contract: three exact ntile(5) scorings with
    // parallel range shuffles + bucket-partitioned windows — the
    // per-user table must NEVER pass through an Exchange SinglePartition
    // (the scale-killer the op replaced: ntile over an unpartitioned
    // global window).
    val p = plan(graft.operators.BehaviorOps.rfmSegments(spark, dir))
    assert(!p.contains("SinglePartition"),
      s"single-partition stage crept back into rfmSegments:\n$p")
  }

  test("curriculum sharding plans no single-partition stage") {
    // same distributedNtile contract as rfm: a global quality order with
    // NO Exchange SinglePartition anywhere in the plan
    val p = plan(graft.operators.CorpusOps.curriculumShards(spark, dir))
    assert(!p.contains("SinglePartition"),
      s"single-partition stage in curriculumShards:\n$p")
  }

  test("footer-stats aggregate pushes down to the parquet scan") {
    // COUNT/MIN/MAX answered from parquet metadata: the v2 scan carries
    // PushedAggregation, so no data page is ever materialized
    import graft.operators.ScaleOps
    val p = plan(ScaleOps.aggPushdownFrame(ScaleOps.aggPushdownSession(spark), dir))
    assert(p.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate not pushed to the scan:\n$p")
  }

  test("top-k cliffs cut with TakeOrderedAndProject before any rank window") {
    // assocRules / alsRank1Step / invertedIndex rank only the ≤K
    // survivors of a distributed sort+limit; a global rank window over
    // the full scored table funnels everything through one task first.
    for ((name, fn) <- Seq[(String, org.apache.spark.sql.DataFrame)](
        ("q_assoc_rules", graft.operators.MlOps.assocRules(spark, dir)),
        ("q_als_step", graft.operators.MlOps.alsRank1Step(spark, dir)),
        ("q_inverted_index", graft.operators.MlOps.invertedIndex(spark, dir)))) {
      val p = plan(fn)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name lost its distributed top-k cut:\n$p")
    }
  }

  test("schema profiling reads the table exactly once") {
    // the one-pass promise: 13 aggregates over 3 columns must not become
    // one scan per column
    val p = plan(RelationalOps.schemaProfile(spark, dir))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"expected a single scan, got $scans:\n$p")
  }

  test("interval-binned range join plans a keyed broadcast join") {
    val p = plan(graft.operators.AdvancedOps.ordersByPriceBand(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no keyed join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop crept back:\n$p")
  }

  test("fingerprint plans the native kernel, not the interpreted substring fold") {
    // The O(d) byte-walk expression must be in the plan; the O(d²)
    // aggregate(sequence(1, length(text)), ...) spelling re-scans the
    // string per character on the interpreted lambda path.
    val p = plan(graft.operators.TextAnalysisOps.fingerprints(spark, dir))
    assert(p.contains("fingerprint("), s"native kernel missing:\n$p")
    assert(!p.contains("aggregate(sequence("), s"interpreted char fold crept back:\n$p")
  }

  test("simhash computes each token digest once, outside the bit loop") {
    // One transform(tokens, t -> md5(t)) feeding the 32 bit-folds — the
    // naive spelling calls md5 inside the per-bit lambda, recomputing
    // every digest 32×. Exactly one md5 call may appear in the plan.
    val p = plan(graft.operators.DedupOps.simhash(spark, dir))
    val md5Calls = "md5\\(".r.findAllIn(p).length
    assert(md5Calls === 1, s"expected one hoisted md5 call, got $md5Calls:\n$p")
  }

  test("bloom decontamination prefilters map-side before the confirm join") {
    // might_contain must sit below the (broadcast) confirm join — the
    // whole point is that non-member grams die inside the scan stage and
    // never reach the join.
    val p = plan(graft.operators.CorpusOps.bloomDecontaminate(spark, dir))
    assert(p.contains("might_contain"), s"bloom prefilter missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"confirm join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"confirm join shuffled the gram stream:\n$p")
  }

  test("json prop extraction fans out before the per-row parse") {
    // Testdata parquet is single-split; without the round-robin exchange
    // every get_json_object runs in ONE task.
    val p = plan(RelationalOps.propsExtract(spark, dir))
    assert(p.contains("Exchange RoundRobinPartitioning"),
      s"no fan-out before JSON parse:\n$p")
  }

  test("KMV bottom-k cap pushes through WindowGroupLimit") {
    // the rank-then-filter k-cap must plan the two-phase group limit —
    // the k smallest hashes are selected partially BEFORE the shuffle,
    // so the sort never sees the full distinct-key set. (The prefix
    // join's per-token cap has the same spelling but sits behind a
    // localCheckpoint, so its fragment isn't visible from the result
    // plan; its cap semantics are pinned by Round9OpsSpec's capped ⊆
    // uncapped assertion instead.)
    val kmv = plan(graft.operators.AdvancedOps.kmvDistinctUsers(spark, dir))
    assert(kmv.contains("WindowGroupLimit"), s"KMV k-cap not pushed:\n$kmv")
  }

  test("sessionized funnel runs on the shared event frame with NO hash exchange") {
    // sessionization partitions by user; the three funnel windows
    // partition by (user, session) — HashPartitioning(user) satisfies
    // clustering on the superset. Since the query reads the session's
    // user-partitioned, time-sorted eventSeq checkpoint, the whole
    // window chain now plans with ZERO data exchanges (only the final
    // single-row aggregate's SinglePartition exchange remains).
    val p = plan(graft.operators.BehaviorOps.sessionFunnel(spark, dir))
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(dataExchanges == 0,
      s"expected no hash exchange over the shared event frame, got $dataExchanges:\n$p")
  }
}
