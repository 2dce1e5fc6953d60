package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{SharedFrames, Tables}

/** Graph post-processing for dedup pipelines: candidate PAIRS (from
  * MinHash bands, cosine thresholds, …) become duplicate GROUPS via
  * connected components. Two interchangeable implementations, both
  * join+aggregate rounds with no driver-side graph materialization:
  * Pregel-style min-label propagation (O(diameter) rounds — fine for
  * shallow near-dup clusters, and the simplest correct loop) and the
  * alternating large-star/small-star algorithm (O(log diameter) rounds —
  * the published-at-scale formulation, used by the registry query).
  */
object GraphOps {

  /** Minimum reachable node id per node, over the undirected graph given
    * by (src, dst) pairs. Returns (node, component). */
  def connectedComponents(pairs: DataFrame, src: String, dst: String,
      maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col(src).as("a"), col(dst).as("b"))
    // localCheckpoint (eager), NOT cache: in an iterative loop each
    // round's plan otherwise embeds the whole accumulated lineage and
    // re-optimization time grows without bound — checkpointing cuts the
    // lineage so every round plans against materialized partitions.
    val edges = fwd.unionByName(fwd.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    // labels only ever decrease, so the label sum is a strictly monotone
    // convergence measure — one cheap aggregate per round instead of a
    // change-detection join. sum() over an empty frame is null (empty
    // pair graph → no nodes): treat it as 0 so convergence is immediate
    // instead of an NPE.
    def labelSum(df: DataFrame): Long = {
      val row = df.agg(sum(col("label"))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // each node takes the min of its own label and its neighbors' labels
      val viaNeighbors = edges
        .join(labels, edges("b") === labels("node"))
        .select(edges("a").as("node"), col("label"))
      labels = labels.unionByName(viaNeighbors)
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"))
        .localCheckpoint()
      val s = labelSum(labels)
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    labels.select(col("node"), col("label").as("component"))
  }

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the published-at-scale formulation: round count is
    * O(log diameter) where min-label propagation needs O(diameter)
    * rounds, because every round rewires whole neighborhoods onto their
    * minimum instead of moving labels one hop.
    *
    * Edges keep the invariant u > v ("child points down to a smaller
    * id"). Large-star hangs every neighbor ABOVE u onto u's neighborhood
    * minimum; small-star rewires every neighbor BELOW u (plus u itself)
    * onto that minimum. Both are one aggregation + one equi-join on node
    * id — two shuffles per half-round regardless of graph size, no
    * driver-side graph state. Convergence = the edge set is a star
    * forest: no child endpoint is also a parent (one semi-join to test,
    * exact — no checksum heuristics that could false-converge).
    * Returns (node, component) for every node of the pair graph,
    * identical to [[connectedComponents]].
    */
  def connectedComponentsStar(pairs: DataFrame, src: String, dst: String,
      maxIter: Int = 20): DataFrame = {
    // checkpoint the edge list once: allNodes and the initial
    // orientation below are two independent consumers, and without the
    // materialization each re-executed the caller's whole candidate
    // generator (pair scoring, fuzzy joins) from scratch
    val fwd = pairs.select(col(src).as("u"), col(dst).as("v"))
      .localCheckpoint()
    // no checkpoint: the node census has exactly one consumer (the
    // final labeling join) and reads the checkpointed edge list, so
    // materializing it was one wasted driver action per CC call
    val allNodes = fwd.select(col("u").as("node"))
      .unionByName(fwd.select(col("v").as("node")))
      .distinct()
    // canonical downward orientation; self-loops carry no connectivity
    var edges = fwd
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()

    // Both stars are ONE window pass each, not groupBy+join-back: the
    // per-neighborhood minimum rides a whole-partition window min over
    // the same exchange that groups the neighborhood, so the input is
    // consumed exactly once and the round plans as a linear chain —
    // measured r16: the join-back form re-executed largeStar twice per
    // round (its output fed smallStar's aggregate AND its probe side)
    // and the edge scan 4x, ~11 stages/round vs 3 (guide §2.4: two
    // operations keyed the same way share one exchange).
    val wU = Window.partitionBy(col("u"))

    // large-star(u): m = min(Γ(u) ∪ {u}); every neighbor v > u re-hangs
    // as (v, m). Output preserves u > v: m ≤ u < v. No distinct here:
    // duplicates ((v, m) from several u hitting the same m) are harmless
    // to the min-aggregates downstream, are bounded by the symmetrized
    // edge count, and the composing small-star ends in its own distinct.
    def largeStar(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .select(col("u"), col("v"), least(col("u"), min(col("v")).over(wU)).as("m"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))

    // small-star(u): over the downward edges alone, m = min(Γ<(u));
    // every other below-neighbor re-hangs as (v, m) and u keeps (u, m).
    // The (u, m) keeper is emitted per ROW (not per group) and the
    // terminal distinct collapses the copies — same set, single pass.
    def smallStar(e: DataFrame): DataFrame =
      e.select(col("u"), col("v"), min(col("v")).over(wU).as("m"))
        .select(explode(when(col("v") =!= col("m"),
            array(struct(col("v").as("u"), col("m").as("v")),
              struct(col("u"), col("m").as("v"))))
          .otherwise(array(struct(col("u"), col("m").as("v"))))).as("_e"))
        .select(col("_e.u").as("u"), col("_e.v").as("v"))
        .distinct()

    var converged = edges.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      // one round per materialization + convergence probe: batching two
      // rounds per probe was measured (r16) and REJECTED — the probe on
      // a just-checkpointed edge set costs ~¼ of a round, so paying an
      // extra idempotent round to skip a probe loses whenever the graph
      // converges in an odd number of rounds (entity_clusters: 2.8 s →
      // 3.3 s isolated under batching).
      edges = smallStar(largeStar(edges)).localCheckpoint()
      // star forest ⇔ no child (u side) ever appears as a parent (v side)
      converged = edges
        .join(edges.select(col("u").as("v")).distinct(), Seq("v"), "left_semi")
        .isEmpty
      i += 1
    }
    // converged stars: each non-root child carries exactly one (u, root)
    // edge; roots and isolated nodes label themselves (min is a no-op
    // guard for the maxIter-truncated case)
    allNodes
      .join(edges.groupBy(col("u")).agg(min(col("v")).as("root")),
        allNodes("node") === col("u"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("component"))
  }

  /** Near-dup clusters over the embedding-cosine pair graph: every vector
    * that has at least one near-duplicate, labeled with its component
    * (the min vec_id reachable through near-dup edges). Components run
    * the O(log d)-round [[connectedComponentsStar]]; the pair input is
    * the LSH-bucketed candidate generator — shuffle-by-bucket, no O(n)
    * broadcast, no O(n²) pair stage — so the whole chain (candidates →
    * exact score → components) is the shape that survives 100×. */
  def nearDupComponents(spark: SparkSession, dir: String): DataFrame =
    nearDupCC(spark, dir).orderBy(col("node"))

  /** The (node, component) labeling of the embedding near-dup graph,
    * materialized once per (app, dir): components, cluster sizes (and
    * any future cluster census) all start from the same labeling, and
    * the O(log d)-round star loop is the expensive part — same
    * amortization discipline as the pair frames themselves. */
  private def nearDupCC(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "nearDupCC") {
      connectedComponentsStar(
        SimilarityOps.nearDupPairs(spark, dir), "a_id", "b_id")
    }

  /** The text near-dup graph's component labeling (band-collision
    * candidates → exact bigram Jaccard ≥ 0.1 → star components),
    * materialized once: canonical selection, the leakage-free split,
    * and the cluster span census all consume it. */
  private def jaccardCC(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "jaccardCC") {
      connectedComponentsStar(
        DedupOps.jaccardPairs(spark, dir).select(col("a_id"), col("b_id")),
        "a_id", "b_id")
    }

  /** Degree distribution of the near-dup graph — the health check a
    * dedup run reads first (a fat-tailed degree histogram means a
    * near-dup "hub" is about to glue unrelated clusters). Each
    * undirected edge contributes to both endpoints; one hash aggregate
    * over the exploded endpoints. */
  def nearDupDegrees(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SimilarityOps.nearDupPairs(spark, dir)
      .select(col("a_id"), col("b_id"))
    pairs.select(col("a_id").as("node"))
      .unionAll(pairs.select(col("b_id").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("node"))
  }

  /** Cluster-size histogram of the near-dup graph — the third dedup
    * health check next to degrees and triangles: a healthy corpus shows
    * many small clusters and a thin tail; one giant component means the
    * pair threshold (or a hub) is gluing unrelated documents and a
    * transitive merge would over-delete. Two cheap keyed aggregates on
    * top of the connected-components output. */
  def nearDupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    nearDupCC(spark, dir)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** Triangle census of the near-dup graph: per-node triangle count and
    * local clustering coefficient 2T/(d(d−1)). High clustering says the
    * candidate pairs form tight cliques (true duplicate clusters); low
    * clustering with high degree flags the hub nodes that glue unrelated
    * documents — THE failure mode transitive-closure dedup must catch
    * before merging components. Edges arrive canonically oriented
    * (a < b), so each triangle a<b<c is counted exactly once by the
    * standard two-join formulation: wedges (a,b)+(b,c) closed by the
    * (a,c) edge — both joins are equi-joins on node ids, the shape
    * triangle counting takes on any MapReduce-class engine. The edge
    * table feeds three joins and the degree count, so it is materialized
    * once.
    */
  def nearDupTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleStats(
      SimilarityOps.nearDupPairs(spark, dir).select(col("a_id"), col("b_id")),
      "a_id", "b_id")

  /** PageRank over the near-dup graph — the fourth dedup health check:
    * a node whose rank is far above the teleport floor is a hub that
    * near-duplicates "everything" (boilerplate, templates) and would
    * glue unrelated clusters in a transitive merge; ranking the graph
    * surfaces those hubs ordered by how much of the corpus flows into
    * them, where raw degree ([[nearDupDegrees]]) cannot distinguish one
    * hub from a clique member. */
  def nearDupPagerank(spark: SparkSession, dir: String): DataFrame =
    pagerank(SimilarityOps.nearDupPairs(spark, dir)
      .select(col("a_id"), col("b_id")), "a_id", "b_id")

  /** k-core peel of the co-purchase graph — the DENSITY audit beside
    * degrees/triangles/pagerank: the 2-core is what survives after
    * iteratively shaving leaf nodes, so the surviving core is the part
    * of the network held together by genuinely recurring co-purchase
    * structure rather than one-off basket coincidences (the same shave
    * run on a near-dup doc graph isolates the template farms a
    * transitive merge would collapse; this corpus's near-dup graph is
    * pair-sparse, so the co-purchase graph is the instructive input).
    * Nodes are parts, edges are part pairs sharing ≥2 orders — the
    * basket self-join is keyed on the ORDER (fan-out bounded by basket
    * size², never catalog²). Each peel round is one degree aggregate
    * plus two left-semi equi-joins on the endpoints (standard keyed
    * shuffles — no broadcast of anything O(n)); rounds are FIXED (3,
    * unrolled identically in the oracle) with a localCheckpoint per
    * round to cut the iterative lineage, and the per-round survivor
    * counts are bounded driver scalars (the documented CC-convergence
    * pattern). Full peeling to fixpoint would loop until `n_alive`
    * stops changing — same body, data-dependent round count — which
    * the fixed-round form keeps oracle-checkable.
    */
  def kCorePeel(spark: SparkSession, dir: String, k: Int = 2,
      rounds: Int = 3, minSupport: Long = 2L): DataFrame = {
    import spark.implicits._
    // thresholds the session-cached basket-pair table (shared with the
    // association-rule miner) instead of re-running the basket self-join
    var edges = graft.operators.MlOps.basketPairs(spark, dir)
      .filter(col("c_ab") >= minSupport)
      .select(col("a_item").as("a_id"), col("b_item").as("b_id"))
      .localCheckpoint()
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    for (r <- 1 to rounds) {
      val deg = edges.select(col("a_id").as("node"))
        .unionAll(edges.select(col("b_id").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val alive = deg.filter(col("deg") >= k).select(col("node"))
        .localCheckpoint()
      edges = edges
        .join(alive.withColumnRenamed("node", "a_id"), Seq("a_id"), "left_semi")
        .join(alive.withColumnRenamed("node", "b_id"), Seq("b_id"), "left_semi")
        .localCheckpoint()
      // one tagged-union aggregate per round for BOTH bounded scalars —
      // alive and edges are already materialized, so this scans blocks,
      // not lineage, and halves the per-round driver actions
      val counts = alive.select(lit("n").as("t"))
        .unionAll(edges.select(lit("e").as("t")))
        .agg(
          coalesce(sum(when(col("t") === "n", 1L).otherwise(0L)), lit(0L)),
          coalesce(sum(when(col("t") === "e", 1L).otherwise(0L)), lit(0L)))
        .head()
      stats += ((r.toLong, counts.getLong(0), counts.getLong(1)))
    }
    stats.toSeq.toDF("round", "n_alive", "n_edges")
      .orderBy(col("round"))
  }

  /** Fixed-iteration PageRank (damping 0.85) over an undirected edge
    * list, in EXACT fixed-point arithmetic: ranks live as BIGINT parts
    * per billion and every update is integer floor arithmetic
    * (`rank div degree`, `(85 * inflow) div 100`), so the result is
    * bit-identical under any partitioning, summation order, or engine —
    * no float drift to quantize away between iterations (the k-means
    * loop needs 6-dp centroid quantization for the same guarantee; the
    * integer formulation gets it for free). Each iteration is one
    * equi-join of ranks onto edges plus one hash aggregate keyed on the
    * destination node — two shuffles per round regardless of graph
    * size, the standard scale shape — with a localCheckpoint to cut the
    * iterative lineage. The node count is a single bounded driver
    * scalar (same documented pattern as the CC convergence aggregate).
    * Teleport mass uses the symmetric-graph fact that every node has
    * degree >= 1 (no dangling-node redistribution needed). */
  def pagerank(pairs: DataFrame, src: String, dst: String,
      iters: Int = 3): DataFrame = {
    val fwd = pairs.select(col(src).as("a"), col(dst).as("b"))
    val edges = fwd.unionByName(fwd.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint()
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .select(col("a").as("node"), col("deg"))
      .localCheckpoint()
    val n = deg.count()
    if (n == 0) {
      return deg.select(col("node"), col("deg").as("degree"),
        lit(0L).as("rank_ppb"))
    }
    val teleport = (1000000000L / n) * 15L / 100L
    var ranks = deg.select(col("node"), lit(1000000000L / n).as("rank_ppb"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = ranks.join(deg, Seq("node"))
        .select(col("node"), expr("rank_ppb div deg").as("share"))
      val inflow = edges.join(contrib, edges("b") === contrib("node"))
        .groupBy(edges("a"))
        .agg(sum(col("share")).as("inflow"))
        .select(col("a").as("node"), col("inflow"))
      ranks = deg.select(col("node"))
        .join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + expr("(85 * coalesce(inflow, 0L)) div 100"))
            .as("rank_ppb"))
        .localCheckpoint()
    }
    ranks.join(deg, Seq("node"))
      .select(col("node"), col("deg").as("degree"), col("rank_ppb"))
      .orderBy(col("node"))
  }

  /** Triangle count + local clustering coefficient for an edge list with
    * canonical orientation src < dst (each undirected edge exactly once).
    * See [[nearDupTriangles]] for the shape discussion. */
  def triangleStats(pairs: DataFrame, src: String, dst: String): DataFrame = {
    val edges = pairs.select(col(src).as("a_id"), col(dst).as("b_id"))
      .localCheckpoint()
    val wedges = edges.as("e1")
      .join(edges.as("e2"), col("e1.b_id") === col("e2.a_id"))
      .select(col("e1.a_id").as("a"), col("e1.b_id").as("b"), col("e2.b_id").as("c"))
    val tris = wedges.join(edges.as("e3"),
        col("a") === col("e3.a_id") && col("c") === col("e3.b_id"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
    val degrees = edges.select(col("a_id").as("node"))
      .unionAll(edges.select(col("b_id").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
    degrees.join(perNode, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("clustering", when(col("degree") >= 2,
        round(lit(2.0) * col("n_triangles")
          / (col("degree") * (col("degree") - lit(1))), 6)))
      .select(col("node"), col("degree"), col("n_triangles"), col("clustering"))
      .orderBy(col("node"))
  }

  /** Canonical-document selection — the step that turns near-dup
    * CLUSTERS into a dedup DECISION: for every connected component of
    * the text near-dup graph (band-collision candidates → exact bigram
    * Jaccard ≥ 0.1 → components), keep the member with the highest
    * quality score (doc_id as tie-break) and count what gets dropped.
    * This is the terminal stage of the dedup pipeline: candidates →
    * verify → cluster → CHOOSE, with quality (length/stopword algebra)
    * deciding the survivor rather than arbitrary min-id. Shapes: the
    * quality table joins the (already tiny) component labeling on
    * doc_id, the survivor is one row_number per component — shuffle
    * keys are doc_id then component, nothing pairwise.
    */
  def clusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = jaccardCC(spark, dir)
    val quality = TextAnalysisOps.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    val labeled = comp.join(quality, comp("node") === quality("doc_id"))
      .select(col("component"), col("node"), col("quality"))
    val byQuality = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("node"))
    labeled
      .withColumn("rn", row_number().over(byQuality))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(when(col("rn") === 1, col("node"))).as("keep_id"),
        min(when(col("rn") === 1, col("quality"))).as("keep_quality"),
        (count(lit(1)) - 1).as("n_dropped"),
      )
      .orderBy(col("component"))
  }

  /** Leakage-free train/val/test split: hash-splitting DOCUMENTS leaks
    * near-duplicate content across splits (a doc and its near-dup land
    * in train and test, and the eval is contaminated); the fix is to
    * split by near-dup CLUSTER — every document inherits its component
    * label (its own id when unclustered) and the md5 split decision is
    * content-addressed on that GROUP key, so a whole cluster moves as
    * one unit. Same split thresholds as the per-doc `q_hash_split`
    * (a..b → train, c..d → val, else test). Output is the per-split
    * census with the leakage audit columns: because clusters are
    * indivisible under the group key, Σ n_clusters across splits equals
    * the total cluster count (spec-pinned) — the identity a per-doc
    * split violates whenever a cluster straddles a boundary.
    */
  def leakageFreeSplit(spark: SparkSession, dir: String): DataFrame = {
    val comp = jaccardCC(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("group_key"),
        col("component").isNotNull.as("clustered"))
    val h = substring(md5(col("group_key").cast("string")), 1, 1)
    docs
      .withColumn("split",
        when(h <= "b", "train").when(h.isin("c", "d"), "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("clustered"), 1L).otherwise(0L)).as("clustered_docs"),
        countDistinct(when(col("clustered"), col("group_key"))).as("n_clusters"),
      )
      .orderBy(col("split"))
  }

  /** Cluster span census — the syndication detector over the text
    * near-dup graph: per component, how many distinct SOURCES and
    * LANGUAGES its members cover. A cluster spanning several sources is
    * syndicated/boilerplate content (dedup it once globally, or every
    * per-source pipeline pays for it); a cluster spanning languages is
    * the near-dup sibling of `q_crosslang_dups`' exact-fingerprint
    * finding. One metadata equi-join on doc_id against the cached
    * component labeling + one hash aggregate.
    */
  def nearDupClusterSpan(spark: SparkSession, dir: String): DataFrame = {
    val meta = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"))
    jaccardCC(spark, dir)
      .join(meta, col("node") === col("doc_id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("node")).as("first_doc"))
      .orderBy(col("component"))
  }

  /** HITS link analysis (Kleinberg's hubs & authorities) over the
    * customer-nation → supplier-nation trade graph: who routes demand
    * (hubs) and who absorbs it (authorities). Two full h→a power
    * iterations in EXACT integer arithmetic — edge weights are lineitem
    * counts, each iteration is one equi-join + one grouped sum, and the
    * conventional float normalization is replaced by a floor division
    * by 2^10 per iteration, which is engine-deterministic where a
    * float 1/√Σx² rescale is not, and bounds the magnitude growth the
    * same way. The expensive part is building the edge list (fact-fact
    * equi-join + broadcast dims, shuffled once on the nation pair and
    * then checkpointed so the 4 iteration consumers reread ~|nations|²
    * rows, not the lineitem table); the iterations themselves touch
    * frames bounded by |nations|², independent of corpus size.
    */
  /** Weighted nation→nation trade edges (customer nation → supplier
    * nation, one row per pair with its lineitem count) — the shared
    * graph under [[hitsNationTrade]] and [[twoHopReach]]. The fact-fact
    * equi-join + broadcast dims shuffles once on the nation pair, and
    * [[SharedFrames]] materializes the ≤|nations|² result so
    * every consumer rereads a tiny checkpoint, never the lineitem
    * table. */
  private[graft] def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "tradeEdges") {
      Tables.fanOut(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_suppkey")))
        .join(Tables.maybeBroadcast(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(spark, dir)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey").as("cnk"), col("n_name").as("src"))),
          col("c_nationkey") === col("cnk"))
        .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey").as("snk"), col("n_name").as("dst"))),
          col("s_nationkey") === col("snk"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
    }

  def hitsNationTrade(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val h1 = edges.groupBy(col("src")).agg(sum(col("w")).as("h"))
    val a1 = edges.join(h1, "src")
      .groupBy(col("dst")).agg(expr("sum(w * h) div 1024").as("a"))
    val h2 = edges.join(a1, "dst")
      .groupBy(col("src")).agg(expr("sum(w * a) div 1024").as("h"))
      .select(col("src").as("hub_node"), col("h").as("hub_score"))
      .localCheckpoint() // consumed by a2 AND the final join
    val a2 = edges.join(h2, col("src") === col("hub_node"))
      .groupBy(col("dst")).agg(expr("sum(w * hub_score) div 1024").as("a"))
      .select(col("dst").as("auth_node"), col("a").as("auth_score"))
    h2.join(a2, col("hub_node") === col("auth_node"), "full_outer")
      .select(
        coalesce(col("hub_node"), col("auth_node")).as("nation"),
        coalesce(col("hub_score"), lit(0L)).as("hub_score"),
        coalesce(col("auth_score"), lit(0L)).as("auth_score"))
      .orderBy(col("nation"))
  }

  /** Two-hop frontier expansion over the strongest trade relationships:
    * keep the top-100 nation→nation edges by weight (a deterministic,
    * scale-free sparsification — a relative mean-multiple cutoff
    * degenerates as volume grows and the weight distribution
    * concentrates), then per origin count the 1-hop partners and the
    * distinct nations reachable in ≤2 hops. This is one BFS frontier
    * step — the building block of friend-of-friend / supply-chain-risk
    * reach — done as a self-join of the bounded edge list: at 100 TB
    * the heavy part is the edge AGGREGATION (shared, cached
    * [[tradeEdges]]); the expansion itself touches ≤top-k² rows. */
  def twoHopReach(spark: SparkSession, dir: String): DataFrame = {
    val top = tradeEdges(spark, dir)
      .filter(col("src") =!= col("dst"))
      .orderBy(col("w").desc, col("src"), col("dst"))
      .limit(100)
      .select(col("src"), col("dst"))
      .localCheckpoint() // consumed by both hop joins and the 1-hop census
    val right = top.select(col("src").as("mid2"), col("dst").as("dst2"))
    val hop2 = top.select(col("src"), col("dst").as("mid"))
      .join(right, col("mid") === col("mid2"))
      .filter(col("dst2") =!= col("src"))
      .select(col("src"), col("dst2").as("dst"))
      .distinct()
    val reach = top.unionByName(hop2).distinct()
    val h1 = top.groupBy(col("src")).agg(count(lit(1)).as("c1"))
    val h2r = reach.groupBy(col("src")).agg(count(lit(1)).as("c2"))
    Tables.nation(spark, dir).select(col("n_name").as("nation"))
      .join(h1.select(col("src").as("nation"), col("c1")), Seq("nation"), "left")
      .join(h2r.select(col("src").as("nation"), col("c2")), Seq("nation"), "left")
      .select(col("nation"),
        coalesce(col("c1"), lit(0L)).as("n_1hop"),
        coalesce(col("c2"), lit(0L)).as("n_2hop"))
      .orderBy(col("nation"))
  }
}
