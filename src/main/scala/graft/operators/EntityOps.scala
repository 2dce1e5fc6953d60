package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{SharedFrames, Tables}

/** Entity-resolution operators: fuzzy (edit-distance) matching and
  * sorted-neighborhood pairing. The reference has no entity resolution at
  * all — its dedup is exact id equality (reference:
  * spark_jobs/kafka_consumer_simple.py:96 `if post_id in seen`); these are
  * the capability extensions a record-linkage / catalog-cleanup pipeline
  * needs, built on the same bounded-candidate discipline as the MinHash
  * family in [[DedupOps]]: NEVER materialize the all-pairs space — block
  * first, cap per block, then score only candidates.
  *
  * Scale notes (the part of the design that matters at 100 TB):
  *  - blocking keys are computed map-side; the only shuffle is the
  *    candidate self-join on the block key;
  *  - per-block candidate caps (`row_number <= cap` inside the block)
  *    bound the worst block at cap²/2 pairs no matter how skewed the
  *    blocking key distribution gets;
  *  - `levenshtein` is a codegen'd Catalyst expression on both sides of
  *    the comparison — no UDF in the hot loop.
  */
object EntityOps {

  /** Blocked fuzzy self-join over part names: block on the head noun
    * (last token of `p_name`), cap each block, pair within the block, and
    * keep pairs whose full-name edit distance is ≤ maxDist. Emits the
    * distance and a normalized similarity = 1 - d/maxlen.
    */
  def fuzzyPartPairs(spark: SparkSession, dir: String,
      maxDist: Int = 3, cap: Int = 40): DataFrame =
    if (maxDist <= 3 && cap == 40)
      // the d≤3 pair table subsumes every tighter threshold, so the
      // fuzzy join and the cluster build share ONE cached blocked
      // self-join and filter it (dist is emitted per pair anyway)
      SharedFrames.frame(spark, dir, "fuzzyPartPairs") {
        buildFuzzyPairs(spark, dir, 3, 40)
      }.filter(col("dist") <= maxDist)
        .orderBy(col("a_key"), col("b_key")) // re-assert the output order
    else buildFuzzyPairs(spark, dir, maxDist, cap)

  private def buildFuzzyPairs(spark: SparkSession, dir: String,
      maxDist: Int, cap: Int): DataFrame = {
    val parts = Tables.fanOut(
        Tables.part(spark, dir).select(col("p_partkey"), col("p_name")))
      .withColumn("noun", element_at(split(col("p_name"), " "), 2))
    // per-block cap: the block key is data-derived and can skew; the cap
    // turns a pathological block into at most cap²/2 comparisons
    val byBlock = Window.partitionBy(col("noun")).orderBy(col("p_partkey"))
    val capped = parts
      .withColumn("rn", row_number().over(byBlock))
      .filter(col("rn") <= cap)
      .select(col("noun"), col("p_partkey"), col("p_name"))
      .localCheckpoint() // both sides of the self-join read this frame
    val l = capped.select(col("noun"), col("p_partkey").as("a_key"), col("p_name").as("a_name"))
    val r = capped.select(col("noun"), col("p_partkey").as("b_key"), col("p_name").as("b_name"))
    l.join(r, Seq("noun"))
      .filter(col("a_key") < col("b_key"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
      .filter(col("dist") <= maxDist)
      .withColumn("sim",
        round(lit(1.0) - col("dist") / greatest(length(col("a_name")), length(col("b_name"))), 6))
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"), col("dist"), col("sim"))
      .orderBy(col("a_key"), col("b_key"))
  }

  /** Entity clusters: the transitive closure of the blocked fuzzy pairs
    * (edit distance ≤ 2) contracted with the star connected-components
    * algorithm — "small ring", "smal ring" and "small rings" become ONE
    * entity id with a canonical name (the minimum-key member, the
    * deterministic survivorship rule). This is the resolve step that
    * turns [[fuzzyPartPairs]]' match candidates into a usable crosswalk
    * table; work stays bounded by the capped pair stage plus O(log d)
    * contraction rounds on the (tiny) edge set.
    */
  def entityClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = fuzzyPartPairs(spark, dir, maxDist = 2)
      .select(col("a_key"), col("b_key"))
    val comps = GraphOps.connectedComponentsStar(pairs, "a_key", "b_key")
    comps
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_name")),
        col("node") === col("p_partkey"))
      .groupBy(col("component").as("entity"))
      .agg(count(lit(1)).as("n_members"),
        min(when(col("node") === col("component"), col("p_name"))).as("canonical_name"))
      .orderBy(col("entity"))
  }

  /** Sorted-neighborhood near-dup pairs over documents: sort each
    * language block by a 40-char text prefix, slide a window of
    * `w` neighbors via lag(), and score each (doc, neighbor) pair with
    * token-set Jaccard. The classic SNM trade: candidate volume is
    * exactly (w × rows) — linear, not quadratic — at the cost of recall
    * for dups whose prefixes diverge (which the MinHash family in
    * [[DedupOps]] covers from the other direction; run both in a real
    * cleanup pass).
    *
    * The sort is per-language-block (partitioned window, no global
    * funnel); at 100 TB the blocks would be (lang, prefix-range) buckets
    * from a range partitioner, same plan shape.
    */
  def snmNearDupPairs(spark: SparkSession, dir: String,
      w: Int = 3, threshold: Double = 0.6): DataFrame = {
    val docs = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")))
      .select(
        col("doc_id"), col("lang"),
        substring(col("text"), 1, 40).as("pre"),
        array_distinct(array_remove(split(col("text"), " "), "")).as("toks"),
      )
    val byPrefix = Window.partitionBy(col("lang")).orderBy(col("pre"), col("doc_id"))
    // one window pass emits all w neighbors as an array, exploded once —
    // a unionAll of per-offset branches would re-run the sort per offset
    val pairs = docs
      .select(
        col("doc_id"), col("toks"),
        array((1 to w).map { i =>
          struct(
            lag(col("doc_id"), i).over(byPrefix).as("l_id"),
            lag(col("toks"), i).over(byPrefix).as("l_t"))
        }: _*).as("nbrs"),
      )
      .select(col("doc_id").as("r_id"), col("toks").as("r_t"),
        explode(col("nbrs")).as("n"))
      .filter(col("n.l_id").isNotNull)
      .select(col("r_id"), col("r_t"), col("n.l_id").as("l_id"), col("n.l_t").as("l_t"))
    def inter: Column = size(array_intersect(col("l_t"), col("r_t")))
    pairs
      .select(
        least(col("l_id"), col("r_id")).as("a_id"),
        greatest(col("l_id"), col("r_id")).as("b_id"),
        round(inter.cast("double") /
          (size(col("l_t")) + size(col("r_t")) - inter), 6).as("jaccard"),
      )
      // the same unordered pair can surface at two offsets after ties in
      // the prefix sort; collapse to one row before the threshold
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(col("jaccard")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("a_id"), col("b_id"))
  }
}
