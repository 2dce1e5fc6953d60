package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{bloomAgg, mightContain}
import graft.model.{SharedFrames, Tables}

/** Corpus-preparation operators a large-scale LLM training-data pipeline
  * needs beyond dedup/similarity (SURVEY.md §2.11 extensions): fixed-size
  * context chunking, deterministic hash-based dataset splits, and
  * benchmark decontamination. All pure Column algebra (codegen'd,
  * map-side except the final small aggregations), all DuckDB-oracle'd.
  */
object CorpusOps {

  /** Non-empty whitespace tokens. */
  private def toksCol: Column = filter(split(col("text"), " "), t => t =!= lit(""))

  /** Context-window chunking: split every document into fixed-size token
    * chunks with overlap (size 50, stride 40 → 10-token overlap), the
    * packing step before tokenizer/training shards. Map-only: each row
    * expands to its own chunks, no shuffle at all until a downstream
    * consumer — at 100 TB this runs entirely inside the scan stage.
    * Chunks are emitted as (count, md5) so the result hashes stably.
    */
  def chunkDocs(spark: SparkSession, dir: String,
      chunkSize: Int = 50, stride: Int = 40): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("toks", toksCol)
      .withColumn("chunks", expr(
        s"""transform(sequence(0, cast(floor(greatest(0, size(toks) - 1) / $stride) as int)),
              i -> struct(i AS chunk_id, slice(toks, i * $stride + 1, $chunkSize) AS ctoks))"""))
      // explode_outer: chunks is never empty (sequence(0, x>=0) has at
      // least one element) and the outer generator dodges the
      // InferFiltersFromGenerate re-evaluation below the fan-out exchange
      .select(col("doc_id"), explode_outer(col("chunks")).as("c"))
      .select(
        col("doc_id"),
        col("c.chunk_id").as("chunk_id"),
        size(col("c.ctoks")).as("chunk_tokens"),
        md5(concat_ws(" ", col("c.ctoks"))).as("chunk_md5"),
      )
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Deterministic content-addressed train/val/test split: the first hex
    * digit of md5(doc_id) buckets every document 12/2/2 sixteenths into
    * train/val/test. No RNG, no state, stable under re-runs and
    * repartitioning — the property a reproducible data pipeline needs;
    * emitted as per-split-per-lang counts.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    Tables.documents(spark, dir)
      .select(
        when(h <= "b", "train").when(h.isin("c", "d"), "val")
          .otherwise("test").as("split"),
        col("lang"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"), col("lang"))
  }

  /** Vocabulary coverage / OOV rate: build the top-50 term vocabulary
    * from the corpus itself (count desc, term asc tie-break), then score
    * every document by the share of its token occurrences outside that
    * vocabulary — the tokenizer-fit statistic computed before committing
    * to a vocab. The vocabulary is bounded (50 rows) so it broadcasts;
    * the corpus side never shuffles tokens, only per-doc counts.
    */
  def vocabOov(spark: SparkSession, dir: String, vocabSize: Int = 50): DataFrame = {
    val tokens = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode_outer(toksCol).as("term"))
      .filter(col("term").isNotNull)
    val vocab = tokens.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(true).as("in_vocab"))
    tokens
      .join(broadcast(vocab), Seq("term"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(sum(when(col("in_vocab").isNull, 1L).otherwise(0L)) * lit(1.0)
          / count(lit(1)), 6).as("oov_rate"),
      )
      .orderBy(col("doc_id"))
  }

  /** word2vec-style negative sampling at corpus scale: k=3 noise words
    * per document drawn from the unigram^0.75 distribution (Mikolov et
    * al. 2013) by INVERSE-CDF lookup — the top-50 vocabulary's smoothed
    * weights become contiguous integer intervals, every draw is a
    * content-addressed md5 integer modulo the total weight, and the
    * interval containing each draw is found through the binned range
    * join (intervals exploded into the 64 fixed-width bins they touch,
    * draws equi-joined on their bin, residual range filter) — no
    * inequality join anywhere, and the CDF side is vocabulary-bounded
    * so it broadcasts. The ^0.75 is computed as sqrt(c)·sqrt(sqrt(c)):
    * IEEE sqrt is correctly rounded where pow() is libm-dependent, so
    * both engines build BIT-IDENTICAL integer weights and every draw
    * lands in the same interval. Output: per-term draw counts vs their
    * expected shares — the sampler-quality audit.
    */
  def negativeSamples(spark: SparkSession, dir: String,
      vocabSize: Int = 50, k: Int = 3, bins: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    val vocab = docs
      .select(explode_outer(toksCol).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .withColumn("w", expr(
        """CAST(round(sqrt(CAST(cnt AS DOUBLE)) *
             sqrt(sqrt(CAST(cnt AS DOUBLE))) * 1000000) AS BIGINT)"""))
    // cumulative intervals over the ≤vocabSize-row table (bounded window)
    val cum = vocab
      .withColumn("cumhi", sum(col("w")).over(
        Window.orderBy(col("cnt").desc, col("term"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cumlo", col("cumhi") - col("w"))
      .localCheckpoint()
    // total weight from the vocab-bounded table and the draw count
    // (docs × k, a metadata count) travel as bounded driver scalars —
    // cross-joined 1-row frames would plan as BroadcastNestedLoopJoin
    val tw = cum.agg(sum(col("w"))).head().getLong(0)
    val intervals = cum
      .withColumn("bin", explode(sequence(
        expr(s"cumlo * $bins div $tw"),
        expr(s"(cumhi - 1) * $bins div $tw"))))
    val draws = docs.select(col("doc_id"))
      .select(col("doc_id"), explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("t",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit("~"),
          col("j").cast("string"))), 1, 12), 16, 10).cast("long") % tw)
      .withColumn("bin", expr(s"t * $bins div $tw"))
    val hits = draws.join(broadcast(intervals.select(col("term"),
        col("cumlo"), col("cumhi"), col("bin"))), Seq("bin"))
      .filter(col("t") >= col("cumlo") && col("t") < col("cumhi"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val nd = Tables.documents(spark, dir).count() * k
    cum.join(hits, Seq("term"), "left_outer")
      .select(col("term"), col("cnt"),
        coalesce(col("n"), lit(0L)).as("n_draws"),
        round(col("w") / lit(tw.toDouble), 6).as("expected_share"),
        round(coalesce(col("n"), lit(0L)) / lit(nd.toDouble), 6)
          .as("realized_share"))
      .orderBy(col("term"))
  }

  /** Document novelty curve: per ingestion cohort (doc_id blocks of
    * 100), the share of distinct bigrams making their FIRST corpus
    * appearance there — the marginal-contribution readout a curation
    * loop watches to decide when a source is mined out (novelty decays
    * toward zero as the vocabulary saturates). First-seen attribution is
    * one gram-keyed min aggregate; the per-doc share joins back on the
    * gram — both stages shuffle gram digests, never text.
    */
  def docNovelty(spark: SparkSession, dir: String): DataFrame = {
    // the per-doc distinct-bigram arrays are exactly the Jaccard family's
    // shared cache (same split, same consecutive-pair concat, same
    // array_distinct; its array_sort is invisible to the explode) — read
    // it instead of re-tokenizing, and explode in place of the old
    // checkpointed long table (the explode of an in-memory array is
    // cheaper than materializing |grams| rows twice)
    val x = DedupOps.bigrams(spark, dir)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .localCheckpoint() // feeds first-seen AND the per-doc census
    val fs = x.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    x.join(fs, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .groupBy(expr("doc_id div 100").as("cohort"))
      .agg(count(lit(1)).as("docs"), sum(col("n_grams")).as("grams"),
        sum(col("novel")).as("novel"))
      .select(col("cohort"), col("docs"), col("grams"), col("novel"),
        round(col("novel") * lit(1.0) / col("grams"), 6).as("novelty"))
      .orderBy(col("cohort"))
  }

  /** Class-balanced downsampling: every language capped at the minority
    * class size, members chosen by a content-addressed md5 order — the
    * deterministic twin of random undersampling, and the standard
    * rebalance before training a classifier on skewed labels. The cap is
    * a bounded driver scalar from the |classes|-row size table; the draw
    * is one keyed rank window (per-class, never global); the audit row
    * reports before/after populations per class.
    */
  def classBalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang")))
      .localCheckpoint() // feeds the size census AND the ranked draw
    val sizes = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
    val m = sizes.agg(min(col("n_before"))).head().getLong(0) // bounded scalar
    val byDraw = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val kept = docs
      .withColumn("rk", row_number().over(byDraw))
      .filter(col("rk") <= m)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_after"))
    sizes.join(kept, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .orderBy(col("lang"))
  }

  /** Quantile normalization of per-source document lengths onto the
    * corpus reference distribution — the cross-source calibration step
    * (borrowed from bioinformatics microarray practice) that makes
    * length-based quality thresholds comparable across corpora with
    * different length scales: each document's within-source decile is
    * mapped to the CORPUS decile boundary, so after normalization every
    * source shares the same ten reference values. Global deciles come
    * from the exact distributed ntile (parallel range shuffle — no
    * single-partition sort); within-source deciles are a keyed window;
    * the boundary map is 10 rows and broadcasts. Output: per (source,
    * decile) population, raw char mass, and the reference value —
    * the alignment table.
    */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars")))
      .localCheckpoint()
    val bounds = BehaviorOps.distributedNtile(docs, 10, "decile")(
        col("n_chars"), col("doc_id"))
      .groupBy(col("decile").cast("long").as("decile"))
      .agg(max(col("n_chars")).as("ref_chars"))
    val bySource = docs.withColumn("decile",
      ntile(10).over(Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))).cast("long"))
    bySource.join(broadcast(bounds), Seq("decile"))
      .groupBy(col("source"), col("decile"), col("ref_chars"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("source"), col("decile"), col("n_docs"), col("sum_chars"),
        col("ref_chars"))
      .orderBy(col("source"), col("decile"))
  }

  /** int8 vector quantization for ANN index compression: per-vector
    * absmax scale, each component mapped to round(x / scale * 127).
    * Map-only (one pass inside the scan stage); the quantized vector is
    * emitted as an md5 so the result hashes stably. The real pipeline
    * would write (scale, int8[]) back to parquet — 4× smaller index.
    */
  def quantizeVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", expr(
        "aggregate(v, cast(0 AS double), (acc, x) -> greatest(acc, abs(x)))"))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale"),
        md5(expr(
          "concat_ws(',', transform(v, x -> cast(cast(round(x / scale * 127, 0) AS int) AS string)))"))
          .as("q_md5"),
      )
      .orderBy(col("vec_id"))

  /** Repetition-based quality signal (the Gopher-rules shape): per
    * document, the share of word bigrams occupied by the single most
    * frequent bigram and by all repeated bigrams. High ratios flag
    * boilerplate/spam for corpus filtering. Two-level aggregation —
    * partial counts per (doc, gram), then per-doc rollup — both
    * partial+final hash aggs, shuffling only (id, gram-count) pairs.
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    val gramCounts = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("toks", toksCol)
      .withColumn("grams", expr(
        """CASE WHEN size(toks) < 2 THEN array()
           ELSE transform(sequence(1, size(toks) - 1),
             i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) END"""))
      .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
      .filter(col("gram").isNotNull)
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("n"))
    gramCounts
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_grams"),
        max(col("n")).as("max_gram_count"),
        round(max(col("n")) * lit(1.0) / sum(col("n")), 6).as("max_gram_ratio"),
        round(sum(when(col("n") >= 2, col("n")).otherwise(0L)) * lit(1.0)
          / sum(col("n")), 6).as("rep_gram_ratio"),
      )
      .orderBy(col("doc_id"))
  }

  /** Mixture re-weighting: deterministic per-source downsampling, the
    * step that balances source proportions in a training mix. Keep
    * probability is content-addressed (first md5 hex digit of doc_id vs a
    * per-source rate threshold — even-numbered sources keep 8/16, odd
    * 4/16), so the sample is stable under re-runs and repartitioning and
    * needs no RNG state. Emitted as per-source kept/total counts; the
    * kept subset itself is the same filter without the aggregate.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val hexDigit = substring(md5(col("doc_id").cast("string")), 1, 1)
    val rate = when(substring(col("source"), 4, 10).cast("int") % 2 === 0, "8")
      .otherwise("4")
    Tables.documents(spark, dir)
      .select(col("source"), (hexDigit < rate).as("keep"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
      )
      .orderBy(col("source"))
  }

  /** One row per (doc_id, distinct word 3-gram) — the shared expansion
    * of both decontamination variants. Session-cached: each variant
    * consumed it TWICE per execution (bench side + corpus side), and
    * the per-source rollup embeds the exact variant again — five
    * tokenize+expand passes per bench cycle read one materialization.
    * Downstream is distinct counting, so the shared frame cannot move
    * a hash. */
  private def docTrigrams(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "docTrigrams") {
      Tables.fanOut(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .withColumn("toks", toksCol)
        .withColumn("grams", expr(
          """CASE WHEN size(toks) < 3 THEN array()
             ELSE array_distinct(transform(sequence(1, size(toks) - 2),
               i -> concat_ws(' ', slice(toks, i, 3)))) END"""))
        .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
    }

  /** Benchmark decontamination: count, per corpus document, the distinct
    * word 3-grams it shares with a benchmark set (here: doc_id < benchMax
    * stands in for the eval suite). The benchmark side is SMALL by nature,
    * so broadcasting its distinct gram set is the legitimate scale plan —
    * the corpus side stays map-local (gram expansion + broadcast-hash
    * probe) and only the per-doc hit counts aggregate.
    */
  def decontaminate(spark: SparkSession, dir: String, benchMax: Int = 5): DataFrame = {
    val grams = docTrigrams(spark, dir)
    val bench = grams.filter(col("doc_id") < benchMax).select(col("gram")).distinct()
    grams.filter(col("doc_id") >= benchMax)
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the formulation
    * that survives a benchmark suite too big to broadcast raw: the bench
    * gram set aggregates into a FIXED-SIZE Bloom filter
    * (`bloom_agg`, Spark's BloomFilterAggregate — mergeable partials, so the build is one
    * aggregation whose shuffle carries kilobytes per partition no matter
    * how many grams), the filter ships to every corpus task as a scalar
    * literal, and `might_contain` drops non-member grams MAP-SIDE before
    * the confirm join ever sees them. The exact equi-join against the
    * bench set then removes the Bloom's false positives; false negatives
    * cannot exist, so the result is BIT-IDENTICAL to [[decontaminate]]
    * (same oracle). At 100 TB the prefilter turns the join input from
    * every corpus gram into (true hits + ~0.1% FPs) — decontamination
    * hit rates are tiny, so that is a ~1000× cut in shuffled rows.
    *
    * The driver-side fetch of the serialized filter is a bounded scalar
    * (numBits/8 bytes), the same documented pattern as the TF-IDF corpus
    * size — NOT an O(data) collect.
    */
  def bloomDecontaminate(spark: SparkSession, dir: String,
      benchMax: Int = 5): DataFrame = {
    val grams = docTrigrams(spark, dir)
    // used twice (bloom build + exact confirm): materialize the tiny
    // bench gram set once instead of re-running the expansion
    val bench = grams.filter(col("doc_id") < benchMax)
      .select(col("gram")).distinct().localCheckpoint()
    val bloomBytes = bench
      .agg(bloomAgg(xxhash64(col("gram")), 4096L, 65536L))
      .head().getAs[Array[Byte]](0)
    grams.filter(col("doc_id") >= benchMax)
      .filter(mightContain(bloomBytes, xxhash64(col("gram"))))
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled mixture weights — the multilingual-LM sampling
    * recipe: raw source shares p_s are flattened to q_s ∝ p_s^α
    * (α = 0.3, the published low-resource-upsampling setting), and each
    * source reports its raw share, its temperature share, and the
    * implied upsample factor q_s/p_s (> 1 for small sources, < 1 for
    * dominant ones). One token-count aggregate; the corpus total and the
    * partition constant Σ p^α are bounded driver scalars inlined as
    * literals. All ratios are computed from UNROUNDED intermediates and
    * rounded once at the end.
    */
  def temperatureMix(spark: SparkSession, dir: String,
      alpha: Double = 0.3): DataFrame = {
    val s = Tables.fanOut(
        Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(col("source"), size(toksCol).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("tokens"))
      .localCheckpoint() // feeds the two scalars AND the output projection
    val tot = s.agg(sum(col("tokens"))).head().getLong(0).toDouble
    val z = s.agg(sum(pow(col("tokens") / lit(tot), lit(alpha))))
      .head().getDouble(0)
    val p = col("tokens") / lit(tot)
    val q = pow(p, lit(alpha)) / lit(z)
    s.withColumn("raw_share", round(p, 6))
      .withColumn("temp_share", round(q, 6))
      .withColumn("upsample", round(q / p, 6))
      .orderBy(col("source"))
  }

  /** Per-source contamination pressure: [[decontaminate]]'s per-doc
    * verdicts rolled up to the table a data owner acts on — which
    * sources leak benchmark text, at what rate. The hit set joins back
    * to the doc→source map on the doc key (plain equi-join; the hit set
    * is unbounded at scale, so no broadcast), then one hash agg per
    * source. */
  def contaminationBySource(spark: SparkSession, dir: String,
      benchMax: Int = 5): DataFrame = {
    val hits = decontaminate(spark, dir, benchMax)
      .select(col("doc_id"), lit(1L).as("hit"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") >= benchMax)
      .select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"),
        round(sum(when(col("hit").isNotNull, 1L).otherwise(0L)) * lit(1.0)
          / count(lit(1)), 6).as("contamination_rate"),
      )
      .orderBy(col("source"))
  }

  /** The quality-filter funnel: how many documents survive each rule of
    * a Gopher-style cleaning cascade, cumulatively — the attrition
    * report a pipeline owner reads before committing to a filter config.
    * Rules (min length, max length, lexical diversity, max-term
    * dominance, function-word presence) are all computed from ONE
    * (doc, term) count pass; the thresholds are integer cross-products
    * (n_types·10 ≥ n_tokens·3, not a float ratio) so every engine
    * agrees exactly. One per-doc aggregate, one global 6-counter
    * aggregate, then a 6-row stack — nothing in the plan retains
    * documents. */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(toksCol).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        max(col("tf")).as("max_tf"),
        sum(when(col("term").isin("a", "the"), col("tf")).otherwise(0L))
          .as("stop_hits"),
      )
    val r1 = col("n_tokens") >= 20
    val r2 = col("n_tokens") <= 400
    val r3 = col("n_types") * 10 >= col("n_tokens") * 3
    val r4 = col("max_tf") * 10 <= col("n_tokens") * 2
    val r5 = col("stop_hits") >= 1
    m.agg(
        count(lit(1)).as("s0"),
        sum(when(r1, 1L).otherwise(0L)).as("s1"),
        sum(when(r1 && r2, 1L).otherwise(0L)).as("s2"),
        sum(when(r1 && r2 && r3, 1L).otherwise(0L)).as("s3"),
        sum(when(r1 && r2 && r3 && r4, 1L).otherwise(0L)).as("s4"),
        sum(when(r1 && r2 && r3 && r4 && r5, 1L).otherwise(0L)).as("s5"),
      )
      .select(expr(
        // SQL-literal 1.0 is DECIMAL — divide via a double cast so the
        // rate column is DOUBLE like the oracle's
        """stack(6,
             '0_all',        s0, round(s0 / CAST(s0 AS DOUBLE), 6),
             '1_minlen',     s1, round(s1 / CAST(s0 AS DOUBLE), 6),
             '2_maxlen',     s2, round(s2 / CAST(s0 AS DOUBLE), 6),
             '3_diversity',  s3, round(s3 / CAST(s0 AS DOUBLE), 6),
             '4_repetition', s4, round(s4 / CAST(s0 AS DOUBLE), 6),
             '5_stopwords',  s5, round(s5 / CAST(s0 AS DOUBLE), 6))
           AS (stage, n_surviving, survival_rate)"""))
      .orderBy(col("stage"))
  }

  /** Exact-N stratified sampling: precisely `perSource` documents from
    * every source, chosen content-addressed (ranked by md5(doc_id)) so
    * the sample is a deterministic pseudo-random draw — stable under
    * re-runs, repartitioning, and data-order changes, with none of the
    * approximate-fraction drift of `sample()`. Complements
    * [[mixtureSample]] (rate-based) when the mixture recipe demands
    * exact per-stratum counts. Plans as the WindowGroupLimit shape:
    * row_number ≤ N keeps at most N rows per stratum on each side of
    * the exchange, so no stratum is ever materialized whole.
    */
  def stratifiedSample(spark: SparkSession, dir: String,
      perSource: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perSource)
      .select(col("source"), col("doc_id"), col("rn"))
      .orderBy(col("source"), col("rn"))
  }

  /** Sequence packing for training shards: lay every document's tokens
    * end to end (per source, in doc_id order) and chop the stream at
    * fixed `binTokens` boundaries — the concatenate-and-chop packing
    * step that turns ragged documents into fixed-length training
    * sequences. Each document is assigned to the bin its FIRST token
    * lands in; the running offset is one window cumulative sum keyed on
    * the source, so at 100 TB the packing parallelizes per shard (no
    * global order is ever imposed — a per-source sort, not a total
    * sort). `binTokens` is a power of two so the offset→bin division is
    * exact in binary floating point on every engine.
    */
  def seqPack(spark: SparkSession, dir: String, binTokens: Int = 512): DataFrame = {
    require((binTokens & (binTokens - 1)) == 0, "binTokens must be a power of two")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), size(toksCol).as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin", floor(col("start_off") / lit(binTokens)).cast("int"))
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc_id"),
      )
      .orderBy(col("source"), col("bin"))
  }

  /** Deterministic weighted sampling without replacement (the
    * Efraimidis–Spirakis A-Res scheme): every document draws a uniform
    * u from its own content address (the first 6 hex digits of
    * md5(doc_id)), its sort key is ln(u)/weight — equivalent to ranking
    * by u^(1/w) — and the top `perSource` keys per source win. Longer
    * documents (weight = n_chars) are proportionally likelier to be
    * drawn, yet the sample is fully reproducible: no RNG state, stable
    * under re-runs and repartitioning, and the per-source rank plans as
    * WindowGroupLimit so no stratum is materialized whole. The key is
    * rounded to 9 dp BEFORE ranking (doc_id tie-break) so cross-engine
    * ulp drift in ln cannot reorder the draw.
    */
  def weightedSample(spark: SparkSession, dir: String,
      perSource: Int = 10): DataFrame = {
    val uInt = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long")
    // u in (0,1]: (u_int+1)/(16^6+1) — never 0, so ln is finite
    val esKey = round(
      log((uInt + lit(1.0)) / lit(16777217.0)) / col("n_chars"), 9)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("es_key").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("es_key", esKey)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perSource)
      .select(col("source"), col("doc_id"),
        col("n_chars").cast("int").as("weight"), col("es_key"), col("rn"))
      .orderBy(col("source"), col("rn"))
  }

  /** Corpus token accounting for mixture design: per-source token
    * totals with each source's share of the corpus and the cumulative
    * share in descending-size order — the "which sources cover 80% of
    * the tokens" table a mixture recipe starts from. The token count is
    * one partial+final hash agg; the cumulative window runs over the
    * post-aggregation frame (one row per source), so the unpartitioned
    * window is bounded by source cardinality, not data size. The grand
    * total is a driver-side bounded scalar inlined as a literal (the
    * documented TF-IDF pattern — a 1-row cross join would plan as the
    * BroadcastNestedLoopJoin the registry invariant bans).
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    // feeds the grand-total scalar AND the share projection: materialize
    // the (tiny, one row per source) aggregate once
    val s = Tables.fanOut(
        Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(col("source"), size(toksCol).as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .localCheckpoint()
    val grand = s.agg(sum(col("total_tokens"))).head().getLong(0).toDouble
    val w = Window.orderBy(col("total_tokens").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s.withColumn("share", round(col("total_tokens") / lit(grand), 6))
      .withColumn("cum_share",
        round(sum(col("total_tokens")).over(w) / lit(grand), 6))
      .orderBy(col("total_tokens").desc, col("source"))
  }

  /** The corpus-prep pipeline END TO END in one job — the ML-side twin of
    * q_dashboard_payload's composed serving query: tokenize → canonical
    * token-set dedup (keep the min-id representative) → length quality
    * gate → content-addressed train/val/test split → per-(split, lang)
    * corpus stats. One tokenize pass, one window shuffle on the
    * fingerprint, one final aggregate; every stage is the oracle-proven
    * building block it composes (tokensetDedup, qualityScore's length
    * gate, hashSplit), so this is what a user would actually run nightly
    * over 100 TB.
    */
  def corpusPipeline(spark: SparkSession, dir: String,
      minTokens: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    Tables.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text")))
      .withColumn("toks", array_remove(split(col("text"), " "), ""))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("fp",
        md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))))
      .withColumn("surviving", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("surviving"))
      .filter(col("n_tokens") >= minTokens)
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string")), 1, 1) <= "b", "train")
          .when(substring(md5(col("doc_id").cast("string")), 1, 1).isin("c", "d"), "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  /** Kolmogorov–Smirnov drift statistic between the train and val
    * document-length distributions under the deterministic md5 split
    * (the [[hashSplit]] assignment) — the distribution-level companion
    * to `q_idf_drift`'s per-term check: a content-addressed split
    * SHOULD leave every marginal identical, so a large D flags a
    * corrupted split or a length-correlated id scheme. The empirical
    * CDFs never materialize per-document: one hash aggregate reduces
    * the corpus to per-(length, split) counts — hundreds of rows
    * regardless of corpus size — and only THAT reduced table flows
    * through the ordered window (the same aggregate-then-window shape
    * as the token-budget cumulative). D is maximized in CROSS-MULTIPLIED
    * integer space (|cum_t·n_val − cum_v·n_train|, exact BIGINTs — the
    * q_filter_funnel trick) so engines agree on the argmax bit-for-bit;
    * the single division happens once, on the final row. */
  def ksSplitDrift(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val counts = Tables.documents(spark, dir)
      .select(col("n_chars").as("len"),
        when(h <= "b", "train").when(h.isin("c", "d"), "val").as("split"))
      .filter(col("split").isNotNull)
      .groupBy(col("len"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("c_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("c_val"),
      )
    val wCum = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    counts
      .withColumn("cum_t", sum(col("c_train")).over(wCum))
      .withColumn("cum_v", sum(col("c_val")).over(wCum))
      .withColumn("n_train", sum(col("c_train")).over(wAll))
      .withColumn("n_val", sum(col("c_val")).over(wAll))
      .withColumn("d_num",
        abs(col("cum_t") * col("n_val") - col("cum_v") * col("n_train")))
      .withColumn("max_d", max(col("d_num")).over(wAll))
      .filter(col("d_num") === col("max_d"))
      .groupBy(col("n_train"), col("n_val"), col("max_d"))
      .agg(min(col("len")).as("at_len"))
      .select(col("n_train"), col("n_val"), col("at_len"),
        round(col("max_d") / (col("n_train") * col("n_val")).cast("double"), 6)
          .as("ks_stat"))
      .orderBy(col("at_len"))
  }

  /** Population Stability Index between the train and val document-
    * length distributions under the md5 split — [[ksSplitDrift]]'s
    * industry-standard companion: KS reports the single worst CDF gap,
    * PSI integrates log-odds drift over the whole histogram (the score
    * model-monitoring systems threshold at 0.1/0.25). Lengths collapse
    * to fixed-width integer bins (`n_chars DIV binWidth` — exact
    * integer floor division, no float boundary can disagree between
    * engines), one hash aggregate reduces the corpus to per-bin split
    * counts, and the totals the shares divide by come from an
    * unpartitioned window over that bin table (hundreds of rows
    * regardless of corpus size — the aggregate-then-window shape).
    * Laplace smoothing (+1 per bin over the OBSERVED bin set) keeps
    * empty-side bins finite; each per-bin term (p−q)·ln(p/q) is ≥ 0 by
    * construction, so the report is a per-bin attribution table whose
    * sum IS the PSI. */
  def psiSplitDrift(spark: SparkSession, dir: String, binWidth: Int = 100): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val counts = Tables.documents(spark, dir)
      .select(expr(s"n_chars DIV $binWidth").as("bin"),
        when(h <= "b", "train").when(h.isin("c", "d"), "val").as("split"))
      .filter(col("split").isNotNull)
      .groupBy(col("bin"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
      )
    val wAll = Window.partitionBy()
    val p = (col("n_train") + lit(1.0)) / (col("nt") + col("nb"))
    val q = (col("n_val") + lit(1.0)) / (col("nv") + col("nb"))
    counts
      .withColumn("nt", sum(col("n_train")).over(wAll))
      .withColumn("nv", sum(col("n_val")).over(wAll))
      .withColumn("nb", count(lit(1)).over(wAll))
      .select(col("bin"), col("n_train"), col("n_val"),
        round(p, 6).as("p_train"), round(q, 6).as("p_val"),
        round((p - q) * log(p / q), 6).as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Source-concentration audit of the token mixture: Herfindahl–
    * Hirschman index, effective source count (1/HHI, the "how many
    * sources is this really" number), top-source share, and Shannon
    * entropy over per-source token shares — the one-row summary a
    * mixture designer reads before setting sampling weights (HHI near 1
    * = one source dominates and temperature flattening will upsample
    * aggressively). One partial+final hash aggregate to per-source
    * token counts (20 rows), then scalar algebra: HHI and the effective
    * count are computed from Σt² and (Σt)² as exact BIGINT sums with
    * ONE final division each, so no float accumulates across rows. */
  def sourceConcentration(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(col("source"),
        size(array_remove(split(col("text"), " "), "")).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("tokens"))
      .agg(
        count(lit(1)).as("n_sources"),
        sum(col("tokens")).as("total_tokens"),
        sum(col("tokens") * col("tokens")).as("sum_sq"),
        max(col("tokens")).as("max_tokens"),
        sum(col("tokens") * log(col("tokens").cast("double"))).as("t_lnt"),
      )
      .select(
        col("n_sources"), col("total_tokens"),
        round(col("sum_sq") / (col("total_tokens") * col("total_tokens"))
          .cast("double"), 6).as("hhi"),
        round((col("total_tokens") * col("total_tokens")).cast("double")
          / col("sum_sq"), 4).as("effective_sources"),
        round(col("max_tokens") / col("total_tokens").cast("double"), 6)
          .as("top_share"),
        round(log(col("total_tokens").cast("double"))
          - col("t_lnt") / col("total_tokens"), 6).as("entropy"),
      )

  /** Curriculum sharding: the corpus in a GLOBAL quality order, cut into
    * k contiguous shards (shard 1 = highest quality) — the layout a
    * quality-ordered curriculum or an annealed data schedule trains
    * from. The global total order (rounded quality desc, doc_id) runs
    * through [[BehaviorOps.distributedNtile]]: a parallel range
    * shuffle + bucket-offset arithmetic, bit-identical to `ntile(k)`
    * with NO single-partition sort — the one operation a naive global
    * ORDER BY cannot survive at 100 TB. Output is the shard manifest:
    * population, token mass, and the quality span per shard; spans must
    * be non-overlapping and descending, which the audit makes visible
    * (and the spec asserts). */
  def curriculumShards(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val q = graft.operators.TextAnalysisOps.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    BehaviorOps.distributedNtile(q, k, "shard")(col("quality").desc, col("doc_id"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        round(max(col("quality")), 6).as("max_quality"),
        round(min(col("quality")), 6).as("min_quality"))
      .orderBy(col("shard"))
  }

  /** Token-budget quality schedule — the admission policy a quality-
    * filtered pretraining mix runs: quality DECILES (the same exact
    * distributed ntile as [[curriculumShards]], order rounded-quality
    * desc with doc_id tie-break), then a greedy top-down fill against a
    * `budgetPct`% corpus token budget. Whole deciles are admitted while
    * they fit, the boundary decile keeps exactly the fractional
    * remainder, lower deciles drop — per-decile keep rates ARE the
    * sampling policy to ship. All accounting in exact BIGINT token
    * masses (budget = total·pct div 100; kept = clamp(budget −
    * cum_before, 0, decile)); the cumulative-before sums come from the
    * explode-to-equi trick over the 10-row decile frame, so no window in
    * the plan lacks a partition spec and nothing funnels one task.
    */
  def qualitySchedule(spark: SparkSession, dir: String,
      budgetPct: Int = 50, deciles: Int = 10): DataFrame = {
    val q = graft.operators.TextAnalysisOps.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    val dec = BehaviorOps.distributedNtile(q, deciles, "decile")(
        col("quality").desc, col("doc_id"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("decile_tokens"))
    val grid = dec.select(col("decile").as("_q"), col("decile_tokens").as("_t"))
      .select(explode(sequence(lit(1), lit(deciles))).as("decile"),
        col("_q"), col("_t"))
      .groupBy(col("decile"))
      .agg(
        sum(when(col("_q") < col("decile"), col("_t")).otherwise(lit(0L)))
          .as("cum_before"),
        sum(col("_t")).as("total_tokens"))
    dec.join(grid, Seq("decile"))
      .withColumn("kept_tokens", greatest(lit(0L), least(col("decile_tokens"),
        expr(s"total_tokens * $budgetPct div 100") - col("cum_before"))))
      .select(col("decile"), col("n_docs"), col("decile_tokens"),
        col("kept_tokens"),
        round(col("kept_tokens") / col("decile_tokens").cast("double"), 6)
          .as("keep_rate"))
      .orderBy(col("decile"))
  }

  /** Packing-efficiency audit over [[seqPack]]'s concat-and-chop shard
    * assembly — the fragmentation-vs-padding readout every pretraining
    * team tracks: chopping at a fixed bin size wastes almost nothing to
    * padding (only each source's final partial bin) but SPLITS any
    * document that straddles a boundary, costing context coherence. Per
    * source: bins, fill rate (tokens over bins×512), and the count and
    * rate of boundary-straddling documents — exact integers from the
    * same one-pass cumulative-offset window seqPack uses, with terminal
    * divisions only.
    */
  def packingAudit(spark: SparkSession, dir: String, binTokens: Int = 512): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), size(toksCol).as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("splits", when(col("n_tokens") > 0 &&
        expr(s"start_off div $binTokens") =!=
          expr(s"(start_off + n_tokens - 1) div $binTokens"), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (expr(s"(sum(n_tokens) + ${binTokens - 1}) div $binTokens"))
          .as("n_bins"),
        sum(col("splits")).as("n_split_docs"))
      .select(col("source"), col("n_docs"), col("total_tokens"), col("n_bins"),
        round(col("total_tokens") / (col("n_bins") * lit(binTokens.toDouble)), 6)
          .as("fill_rate"),
        col("n_split_docs"),
        round(col("n_split_docs") / col("n_docs").cast("double"), 6)
          .as("split_rate"))
      .orderBy(col("source"))
  }

  /** Sampling-bias audit: PSI between the full corpus' per-source
    * document shares and the 5% content-addressed md5 sample's shares —
    * the pre-flight that says whether "develop on the sample" is safe
    * or the sample under-represents a source. Same Laplace-smoothed
    * per-cell (p−q)·ln(p/q) attribution table as the split-drift PSI;
    * counts are exact integers, every term is row-local double algebra
    * on identical inputs. A content-addressed sample is provably
    * unbiased in expectation — the realized PSI quantifies the finite-
    * sample luck, which is the number a reviewer actually asks for.
    */
  def samplePsi(spark: SparkSession, dir: String): DataFrame = {
    val keep = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100) < 5
    val cells = Tables.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_full"),
        sum(when(keep, 1L).otherwise(0L)).as("n_sample"))
      .localCheckpoint() // feeds the totals AND the per-cell terms
    val tot = cells.agg(sum(col("n_full")), sum(col("n_sample"))).head()
    val (nf, ns) = (tot.getLong(0), tot.getLong(1))
    val k = cells.count() // bounded: |sources|
    val p = (col("n_full") + lit(1.0)) / lit(nf + k.toDouble)
    val q = (col("n_sample") + lit(1.0)) / lit(ns + k.toDouble)
    cells
      .select(col("source"), col("n_full"), col("n_sample"),
        round(p, 6).as("p_full"), round(q, 6).as("p_sample"),
        round((p - q) * log(p / q), 6).as("psi_term"))
      .orderBy(col("source"))
  }

  /** The end-to-end corpus FREEZE — the four canonical curation stages
    * composed into the one census a dataset release actually ships:
    * (1) quality gate (token count inside [20, 1000]), (2) exact
    * dedup (min-doc_id survivor per token-set digest — WindowGroupLimit
    * rank, never a whole-group sort), (3) benchmark decontamination
    * (any distinct trigram shared with the held-out bench docs ejects
    * the document — broadcast bench grams, left-anti verdict), (4) the
    * content-addressed md5 train/val/test split, then per-split
    * docs/tokens/source-diversity. Every stage is the registry's own
    * oracle-checked building block; composing them in ONE plan proves
    * the engine's pieces actually pipeline — the tokenize pass is paid
    * once (checkpoint feeds the quality chain AND the gram chain), and
    * nothing anywhere is keyed on more than a digest or a gram.
    */
  def corpusFreeze(spark: SparkSession, dir: String,
      minTokens: Int = 20, maxTokens: Int = 1000, benchMax: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // single consumer since the gram side moved to the shared trigram
    // cache — no checkpoint needed; the tokenize fuses into dedup's scan
    val t = Tables.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text")))
      .withColumn("toks", toksCol)
      .select(col("doc_id"), col("source"), col("toks"))
    val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val dedup = t
      .filter(size(col("toks")).between(minTokens, maxTokens))
      .select(col("doc_id"), col("source"), size(col("toks")).as("n_tokens"),
        md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))).as("fp"))
      .withColumn("rn", row_number().over(wFp))
      .filter(col("rn") === 1)
    // byte-identical to the decontamination family's shared trigram
    // expansion — read the session cache instead of re-expanding t twice
    // (bench side + corpus side each scanned the gram subtree)
    val grams = docTrigrams(spark, dir)
    val bench = grams.filter(col("doc_id") < benchMax)
      .select(col("gram")).distinct()
    val contaminated = grams.filter(col("doc_id") >= benchMax)
      .join(broadcast(bench), Seq("gram"))
      .select(col("doc_id")).distinct()
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    dedup
      .filter(col("doc_id") >= benchMax)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("split",
        when(h <= "b", "train").when(h.isin("c", "d"), "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("split"))
  }

  /** Regex redaction census — the PII-scrub shape every training-data
    * pipeline runs before release (emails, phones, keys → placeholder
    * tags), expressed as codegen'd per-row regexp_count/regexp_replace
    * with ONE hash aggregate per source: match counts, hit-document
    * counts, and the redacted byte size all fall out of the same pass,
    * so the audit costs one corpus scan at 100 TB. The pattern table is
    * configurable; the defaults are instantiated on vocabulary this
    * synthetic corpus actually contains (it carries no real PII shapes —
    * an email regex here would be an untestable all-zero row) so every
    * output cell is a live, oracle-checkable count. Patterns stay in
    * the Java-regex ∩ RE2 dialect (no backreferences/lookahead) so the
    * DuckDB twin runs them verbatim.
    */
  def redactionAudit(spark: SparkSession, dir: String,
      entityPat: String = "\\bcustomer\\b",
      productPat: String = "\\bspark\\b"): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(col("source"),
        regexp_count(col("text"), lit(entityPat)).as("ne"),
        regexp_count(col("text"), lit(productPat)).as("np"),
        length(regexp_replace(regexp_replace(col("text"),
          entityPat, "[ENTITY]"), productPat, "[PRODUCT]")).as("rl"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ne") > 0, 1L).otherwise(0L)).as("docs_entity"),
        sum(col("ne")).as("n_entity"),
        sum(col("np")).as("n_product"),
        sum(col("rl")).as("redacted_len"))
      .orderBy(col("source"))

  /** RAKE keyphrase extraction (Rose et al.'s Rapid Automatic Keyword
    * Extraction, the public algorithm): candidate phrases are maximal
    * stopword-free token runs (capped at 4 tokens), each scored by
    * Σ_w degree(w)/freq(w) over the co-occurrence graph of candidate
    * words. The stopword list is DISCOVERED from the corpus itself —
    * the top-5 document-frequency terms, the `q_stopwords` signal fed
    * back in — so the operator is self-contained on any corpus. The
    * score is kept exact: per-word degree·10⁶ div freq in integers,
    * summed per phrase occurrence, so ranking never sits on a float.
    * Scale shape: one token explode, one ≤5-row broadcast stopword
    * join, gaps-and-islands phrase ids on a doc-partitioned window,
    * and word-keyed joins for the stats — no all-pairs stage anywhere.
    */
  def rakePhrases(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    // the token table feeds the stop-list pass AND the phrase pass;
    // without the checkpoint every downstream re-derivation below
    // re-ran the fan-out + tokenize from the parquet scan (the r15
    // before-plan carried 58 Exchanges from this one subtree duplicated
    // 8×). Guide §1/§5: materialize once, consume many times.
    val tok = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
      .localCheckpoint()
    val stop = tok.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("word")).limit(5)
      .select(col("word"), lit(1).as("is_stop"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grp = tok.join(broadcast(stop), Seq("word"), "left")
      .withColumn("stop", coalesce(col("is_stop"), lit(0)))
      .withColumn("g", sum(col("stop")).over(wDoc))
      .filter(col("stop") === 0)
      .select(col("doc_id"), col("g"), col("pos"), col("word"))
    // Run length comes from a window COUNT and the >4 runs are dropped
    // BEFORE collect_list, so no per-group array is ever built for an
    // unbounded run — a boilerplate doc with zero stopwords would
    // otherwise collect its whole token stream into one array just to
    // discard it (a per-group memory spike at 100 TB). The count rides
    // a PEERS frame (orderBy g, RANGE current..current) partitioned by
    // doc_id alone, so it reuses the hash exchange already planned for
    // the gaps-and-islands window above — one extra sort, NO extra
    // shuffle (partitionBy(doc_id, g) would re-shuffle the corpus).
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("g"))
      .rangeBetween(Window.currentRow, Window.currentRow)
    // Every row of a (doc, g) run carries the SAME plen (wRun's peers
    // frame counts the whole run), so the old phrase-table join that
    // re-attached max(plen) per group was a no-op: per-word degree
    // stats read plen straight off `bounded`, and the phrase string
    // assembles inside the same (doc, g) aggregate that sums the
    // score. vs the r15 plan this drops the ph/kept joins and the 8×
    // subtree re-execution they forced (58 Exchanges → ~10); the
    // checkpoint feeds the word-stats pass and the scoring pass once.
    val bounded = grp
      .select(col("doc_id"), col("g"), col("pos"), col("word"),
        count(lit(1)).over(wRun).as("plen"))
      .filter(col("plen") <= 4)
      .localCheckpoint()
    val stats = bounded.groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    bounded.join(stats, Seq("word"))
      .groupBy(col("doc_id"), col("g"))
      .agg(sum(expr("deg * 1000000 div freq")).as("score_micro"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ").as("phrase"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"), min(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(topK)
  }
}
