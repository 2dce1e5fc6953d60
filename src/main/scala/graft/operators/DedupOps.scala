package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.intersectSizeSorted
import graft.model.{SharedFrames, Tables}

/** Near-duplicate detection for training-data pipelines: MinHash,
  * SimHash, and n-gram Jaccard. All signature computation is per-row
  * higher-order-function Column algebra (transform/aggregate/array_min)
  * — embarrassingly parallel, no shuffle until the final (tiny) signature
  * group-by, which is exactly the shape that scales: at 100 TB the
  * signatures (bytes per doc) shuffle, never the documents.
  *
  * Hashes are md5-hex based so the DuckDB oracle computes bit-identical
  * signatures (Spark murmur3 `hash()` has no DuckDB twin).
  */
object DedupOps {

  /** Distinct non-empty whitespace tokens as an array column. */
  private def tokensCol = array_remove(array_distinct(split(col("text"), " ")), "")

  /** MinHash signature columns on ANY (doc_id, text) frame — batch or
    * streaming (every expression is a stateless per-row map, so the same
    * plan fragment is legal under a streaming source). */
  private[graft] def withSignature(df: DataFrame): DataFrame =
    df.withColumn("tokens", tokensCol)
      .withColumn("signature", expr(
        """concat_ws(',', transform(sequence(0, 7), i ->
             substring(array_min(transform(tokens, t ->
               md5(concat(cast(i AS string), '|', t)))), 1, 8)))"""))
      .select(col("doc_id"), col("signature"))

  /** MinHash signature computation without the presentation sort —
    * the md5 fan-out dominates, so the scan is spread across all cores
    * first. */
  private def signatures(spark: SparkSession, dir: String): DataFrame =
    withSignature(
      Tables.fanOut(Tables.documents(spark, dir).select(col("doc_id"), col("text"))))

  /** MinHash signature, k=8 permutations approximated by seed-prefixed
    * md5: sig_i = min over tokens of md5(i || '|' || token), first 8 hex
    * chars kept. Docs sharing a full signature are near-dup candidates
    * (the LSH band-bucket join is this group-by on signature prefixes).
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    signatures(spark, dir).orderBy(col("doc_id"))

  /** One row per (doc, band): the LSH bucket key for each of 4 bands of
    * 2 minhashes. This is the candidate generator every text-similarity
    * query shares: docs colliding in any (band, bucket) are near-dup
    * candidates, and at scale the (band, bucket) pair is the shuffle key
    * — no pairwise stage ever sees a non-colliding pair.
    */
  private def bandBuckets(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "bandBuckets")(withBandBuckets(signatures(spark, dir)))

  /** (band, bucket) expansion on any frame carrying a `signature`
    * column — shared by the batch candidate generators and the streaming
    * stateful dedup. */
  private[graft] def withBandBuckets(sigs: DataFrame): DataFrame =
    sigs
      .withColumn("bands", expr(
        """transform(sequence(0, 3), b -> struct(b AS band,
             concat(element_at(split(signature, ','), b * 2 + 1), '|',
                    element_at(split(signature, ','), b * 2 + 2)) AS bucket))"""))
      // explode_outer, deliberately: bands is always length 4, and the
      // non-outer form makes InferFiltersFromGenerate add a size(bands)>0
      // filter that Catalyst pushes below the fan-out exchange — where it
      // re-evaluates the whole minhash expression single-threaded. The
      // outer generator is exempt from that rule and semantically
      // identical here.
      .select(col("doc_id"), explode_outer(col("bands")).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** LSH band join on the MinHash signature: 4 bands of 2 minhashes;
    * docs colliding in any band are candidate pairs. Output is the
    * bucket census (band, bucket, n_docs) for buckets with >1 doc.
    */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    bandBuckets(spark, dir)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("band"), col("bucket"))

  /** 32-bit SimHash from md5 hex digits: bit j is the sign of the sum
    * over tokens of ±1 by the high bit of hex digit j of md5(token).
    *
    * Each token is digested ONCE: the md5 transform is the aggregate's
    * INPUT child, so one pass folds every digest's 32 hex-digit tests
    * into a 32-counter accumulator (zip_with add), and the finish lambda
    * renders the signs. The naive spelling — a per-bit outer loop calling
    * `md5(t)` inside its lambda — recomputes every token's digest 32×,
    * and hoisting the digest array into a separate column does NOT fix
    * it: CollapseProject inlines a once-referenced alias back into the
    * consuming lambda, where the outer per-bit loop re-evaluates it per
    * iteration. Making the digests the fold's input is the structural
    * guarantee no optimizer rewrite can undo. Bit-identical output (a
    * per-bit ±1 sum is order-free), 1/32nd of the digest work.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("tokens", tokensCol)
      .withColumn("simhash", expr(
        """aggregate(
             transform(tokens, t -> md5(t)),
             array_repeat(0, 32),
             (acc, d) -> zip_with(acc,
               transform(sequence(0, 31), j ->
                 CASE WHEN substring(d, j + 1, 1) IN ('8','9','a','b','c','d','e','f')
                      THEN 1 ELSE -1 END),
               (x, y) -> x + y),
             acc -> concat_ws('', transform(acc, s ->
               CASE WHEN s > 0 THEN '1' ELSE '0' END)))"""))
      .select(col("doc_id"), col("simhash"))
      .orderBy(col("doc_id"))

  /** Simhash near-dup pairs within Hamming radius 3, by the pigeonhole
    * multi-index: split every 32-bit [[simhash]] into 4 bands of 8 bits
    * — any pair within distance 3 differs in at most 3 bands, so it
    * EXACTLY matches on at least one band. Candidates are therefore a
    * plain equi-join on (band, 8-bit value); the Hamming check inside
    * the candidate set is a 32-position compare on bounded pairs. The
    * degenerate corpus makes identical signatures cluster, so buckets
    * are capped like [[bucketedJaccard]] (row_number → WindowGroupLimit,
    * pair fan-out ≤ cap²/2 per bucket, declared in the result contract).
    * Completes the near-dup family: minhash answers set overlap, cosine
    * answers embedding angle, simhash-radius answers weighted-feature
    * drift — same scale shape for all three (map-only signature, shuffle
    * on the band key, nothing pairwise outside buckets).
    */
  def simhashRadius(spark: SparkSession, dir: String,
      cap: Int = 8, maxHamming: Int = 3): DataFrame = {
    val bands = simhash(spark, dir)
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bucket", expr("substring(simhash, b * 8 + 1, 8)"))
    val w = Window.partitionBy(col("b"), col("bucket")).orderBy(col("doc_id"))
    // feeds both sides of the candidate join — one signature pass total
    val capped = bands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("b"), col("bucket"), col("doc_id"), col("simhash"))
      .localCheckpoint()
    val a = capped.select(col("b"), col("bucket"),
      col("doc_id").as("a_id"), col("simhash").as("a_sim"))
    val bb = capped.select(col("b"), col("bucket"),
      col("doc_id").as("b_id"), col("simhash").as("b_sim"))
    a.join(bb, Seq("b", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sim"), col("b_sim"))
      .distinct() // a close pair can collide in several bands
      .withColumn("hamming", expr(
        "size(filter(sequence(1, 32), j -> substring(a_sim, j, 1) <> substring(b_sim, j, 1)))"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The distinct doc ids a candidate pair frame touches — the semi-join
    * key set that keeps per-doc feature tables CANDIDATE-sized. Every
    * pairwise scorer here fetches features (bigrams, token sets,
    * signatures, tf-idf weights) by equi-join; without a prefilter the
    * feature pass tokenizes the WHOLE corpus even though only colliding
    * docs are ever looked up. A left-semi join on this set pushes below
    * the feature Project (PushDownLeftSemiAntiJoin), so at 100 TB the
    * expensive per-doc compute runs on the colliding sliver only —
    * mostly-unique corpora skip almost everything. Callers pass an
    * already-checkpointed candidate frame so the id scan doesn't re-run
    * the candidate generator. */
  private def candidateIds(cand: DataFrame): DataFrame =
    cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id")))
      .distinct()

  /** Distinct word bigrams per document, SORTED — the exact-similarity
    * unit the Jaccard scorers share. The sort is paid once per document
    * here so the per-PAIR intersection downstream can be the zero-alloc
    * two-pointer merge ([[graft.expr.IntersectSizeSorted]]) instead of a
    * hash-set build per candidate pair. */
  private[operators] def bigrams(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "bigrams") {
    Tables.fanOut(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("grams", expr(
        """CASE WHEN size(toks) < 2 THEN array()
           ELSE array_sort(array_distinct(transform(sequence(1, size(toks) - 1), i ->
             concat(element_at(toks, i), ' ', element_at(toks, i + 1))))) END"""))
      .select(col("doc_id"), col("grams"))
    }

  /** Exact word-bigram Jaccard over a candidate pair frame (a_id, b_id):
    * two equi-joins to fetch each side's gram set, then distinct-array
    * algebra. inter/union via |A|+|B|-|A∩B| so no cross-system array
    * ordering matters; the threshold (when set) filters on the ROUNDED
    * score so boundary pairs cannot flip between engines on ulp drift.
    */
  private def scoreJaccard(spark: SparkSession, dir: String,
      candidates: DataFrame, threshold: Option[Double]): DataFrame =
    scoreJaccardRaw(spark, dir, candidates, threshold)
      .orderBy(col("a_id"), col("b_id"))

  /** [[scoreJaccard]] without the presentation sort — for callers that
    * aggregate the scored pairs further (a sort feeding an aggregation
    * would be a wasted exchange). */
  private def scoreJaccardRaw(spark: SparkSession, dir: String,
      candidates: DataFrame, threshold: Option[Double]): DataFrame = {
    // localCheckpoint: the gram table feeds BOTH sides of the pair join
    // and Catalyst does not reuse the subtree across the two aliases —
    // without it the whole tokenize+distinct pass runs twice. This is
    // the feature-store pattern: materialize the per-doc feature table
    // once, join it many times. (Blocks are freed by the context cleaner
    // once the query's result is materialized and dereferenced.)
    val cand = candidates.localCheckpoint()
    val g = bigrams(spark, dir)
      .join(candidateIds(cand), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val scored = cand
      .join(g.select(col("doc_id").as("a_id"), col("grams").as("a_grams")), Seq("a_id"))
      .join(g.select(col("doc_id").as("b_id"), col("grams").as("b_grams")), Seq("b_id"))
      // native sorted-merge intersect: same value as
      // size(array_intersect(...)), with neither the intersection-array
      // allocation nor a per-pair hash-set build (the hot spot — hundreds
      // of grams per side across every candidate pair; arrays arrive
      // sorted from the feature table above)
      .withColumn("inter",
        intersectSizeSorted(col("a_grams"), col("b_grams")))
      .withColumn("uni", size(col("a_grams")) + size(col("b_grams")) - col("inter"))
      .withColumn("jaccard",
        round(col("inter") / when(col("uni") === 0, 1).otherwise(col("uni")), 6))
    threshold.fold(scored)(t => scored.filter(col("jaccard") >= t))
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Word-bigram Jaccard for a sampled probe set (every-50th doc),
    * scored only against its MinHash band-collision candidates: the
    * probe side's (band, bucket) keys equi-join the full corpus's band
    * table, colliding later-id docs become the distinct candidate pairs,
    * and exact Jaccard runs on those pairs alone. No broadcast of
    * anything O(n), no inequality join — at 100 TB the shuffle keys are
    * (band, bucket) and doc_id, and the pairwise stage is bounded by
    * collisions, not corpus size. (This replaced the round-2 brute-force
    * broadcast-sample formulation; [[bucketedJaccard]] is the unsampled
    * full-corpus variant with a per-bucket cap.)
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // one minhash pass, not two: the band table is probe side AND corpus
    // side of the collision join, and arrives pre-materialized from the
    // SharedFrames registry
    val bands = bandBuckets(spark, dir)
    val probes = bands.filter(col("doc_id") % 50 === 0)
      .select(col("band"), col("bucket"), col("doc_id").as("a_id"))
    val candidates = bands.join(probes, Seq("band", "bucket"))
      .filter(col("doc_id") > col("a_id"))
      // a pair can collide in several bands — dedup BEFORE the expensive
      // exact-Jaccard stage, not after
      .select(col("a_id"), col("doc_id").as("b_id"))
      .distinct()
    // uncapped probe collisions are the LARGEST candidate set in the
    // family (a degenerate bucket contributes cap-free pairs), and AQE
    // coalesces the tiny distinct output to a couple of partitions —
    // fan it across all cores so the intersect kernel inherits full
    // parallelism (measured ~1 s; the small capped candidate sets skip
    // this on purpose: the extra exchange cost them more than it won)
    scoreJaccard(spark, dir, Tables.fanOut(candidates), threshold = None)
  }

  /** Full-corpus bucketed exact Jaccard — the text twin of
    * SimilarityOps.bucketedNearDup: MinHash band collisions generate
    * candidates, a per-bucket cap (first `cap` doc_ids per band bucket)
    * bounds the pairwise stage at cap²/2 per bucket, and exact bigram
    * Jaccard runs within buckets only. The cap is what makes degenerate
    * buckets safe: this corpus's shuffled-word duplicates collapse whole
    * clusters into one bucket (1477 docs share a signature at sf0.1 —
    * see tokensetDedup for why fingerprint dedup is the right tool for
    * FULL-set equivalence), and without a cap that one bucket would
    * plan 1.1M pairs. At 100 TB: shuffle on (band, bucket), window-ranked
    * cap (WindowGroupLimit — each side keeps ≤ cap rows per bucket),
    * pair fan-out bounded by construction.
    */
  def bucketedJaccard(spark: SparkSession, dir: String,
      cap: Int = 20, threshold: Double = 0.1): DataFrame =
    jaccardPairs(spark, dir, cap, threshold).orderBy(col("a_id"), col("b_id"))

  /** The scored (a_id, b_id, jaccard) pair frame without the
    * presentation sort, materialized once per (app, dir, cap, threshold):
    * the graph family (canonical selection, leakage-free split) and the
    * registry query all start from the same scored pairs, and the
    * candidate cache alone still left each consumer re-running the
    * bigram joins + intersect kernel. */
  private[operators] def jaccardPairs(spark: SparkSession, dir: String,
      cap: Int = 20, threshold: Double = 0.1): DataFrame =
    SharedFrames.frame(spark, dir, s"jaccardPairs:$cap:$threshold") {
      // fanned out: this scored-pair table serves the whole graph
      // family, and without the spread its kernel pass ran on the
      // AQE-coalesced couple of partitions (measured ~0.6 s)
      scoreJaccardRaw(spark, dir,
        Tables.fanOut(cappedBandCandidates(spark, dir, cap)),
        threshold = Some(threshold))
    }

  /** Asymmetric containment over the capped band-collision candidates:
    * |A∩B|/|A| and |A∩B|/|B| on the word-bigram sets. Symmetric Jaccard
    * under-scores SUBSET duplicates (a short document quoted whole
    * inside a long one: intersection ≈ |A| but union ≈ |B| ≫ |A|);
    * containment is the standard fix — a pair with high max-containment
    * and middling Jaccard is a quote/expansion, not noise. Same plan
    * skeleton as [[bucketedJaccard]] (capped candidates → feature-table
    * joins → sorted-merge intersect kernel), so the 100-TB shape is
    * identical; only the score algebra differs.
    */
  def containment(spark: SparkSession, dir: String,
      cap: Int = 20, threshold: Double = 0.8): DataFrame = {
    val cand = cappedBandCandidates(spark, dir, cap) // cache-materialized
    val g = bigrams(spark, dir)
      .join(candidateIds(cand), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    def denom(s: org.apache.spark.sql.Column) = when(s === 0, 1).otherwise(s)
    cand
      .join(g.select(col("doc_id").as("a_id"), col("grams").as("a_grams")), Seq("a_id"))
      .join(g.select(col("doc_id").as("b_id"), col("grams").as("b_grams")), Seq("b_id"))
      .withColumn("inter",
        intersectSizeSorted(col("a_grams"), col("b_grams")))
      .withColumn("containment_a",
        round(col("inter") / denom(size(col("a_grams"))), 6))
      .withColumn("containment_b",
        round(col("inter") / denom(size(col("b_grams"))), 6))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(col("a_id"), col("b_id"), col("containment_a"), col("containment_b"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Dedup-threshold sensitivity curve — the tuning audit read before a
    * Jaccard cutoff is committed: for each candidate threshold τ, how
    * many candidate pairs qualify and how many documents those pairs
    * touch. A cliff between two τ values means the corpus has a dense
    * near-dup band there and the choice genuinely matters; a flat curve
    * means any τ in the range deletes the same material. One scored pass
    * over the SAME capped band-collision candidates as
    * [[bucketedJaccard]] (cache-materialized), a bounded ×|τ| fan-out,
    * two keyed aggregates; a literal τ dimension keeps zero-pair
    * thresholds as explicit rows (the empty-bucket discipline of
    * `q_risk_histogram`).
    */
  def thresholdCurve(spark: SparkSession, dir: String,
      cap: Int = 20): DataFrame = {
    val taus = Seq(0.1, 0.2, 0.3, 0.4, 0.5)
    val tauDim = spark.range(1).select(
      explode(typedLit(taus)).as("tau"))
    val scored = scoreJaccardRaw(spark, dir,
        cappedBandCandidates(spark, dir, cap), threshold = None)
      .localCheckpoint()
    val qualifying = scored
      .select(col("a_id"), col("b_id"), col("jaccard"),
        explode(typedLit(taus)).as("tau"))
      .filter(col("jaccard") >= col("tau"))
    val pairs = qualifying.groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pairs"))
    val docs = qualifying
      .select(col("tau"), explode(array(col("a_id"), col("b_id"))).as("d"))
      .distinct()
      .groupBy(col("tau")).agg(count(lit(1)).as("n_docs_affected"))
    tauDim
      .join(pairs, Seq("tau"), "left")
      .join(docs, Seq("tau"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_affected"))
      .orderBy(col("tau"))
  }

  /** Distinct (a_id, b_id) candidate pairs from MinHash band collisions,
    * with the first `cap` doc_ids per (band, bucket) kept (row_number →
    * WindowGroupLimit, so each side holds ≤ cap rows per bucket in
    * memory). The cap bounds the pairwise fan-out at cap²/2 per bucket
    * regardless of how degenerate a bucket gets.
    */
  private def cappedBandCandidates(spark: SparkSession, dir: String,
      cap: Int): DataFrame = SharedFrames.frame(spark, dir, s"cappedCands:$cap") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("doc_id"))
    val capped = bandBuckets(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("band"), col("bucket"), col("doc_id"))
      // both sides of the pair self-join read this (tiny, ≤ 4n×3-col)
      // frame; materialize so the window pass runs once within the build
      .localCheckpoint()
    val a = capped.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
    val b = capped.select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** Sparse tf-idf cosine over the capped band-collision candidates —
    * the WEIGHTED text-similarity scorer that completes the near-dup
    * family (set overlap/Jaccard, subset/containment, bit drift/
    * simhash, char edits/levenshtein, dense angle/embedding cosine):
    * rare shared terms count for more, so boilerplate overlap scores
    * low where Jaccard scores high. Smooth idf (ln((N+1)/(df+1))+1,
    * strictly positive) keeps norms nonzero on a flat vocabulary. The
    * plan is the [[bucketedJaccard]] skeleton: capped candidates, then
    * per-pair dot via two keyed joins on (doc, term) — candidate-
    * bounded fan-out, nothing pairwise; norms divide RAW sums (the
    * rounding-halves rule). Pairs sharing no term drop out (cosine 0).
    */
  def sparseCosine(spark: SparkSession, dir: String, cap: Int = 20): DataFrame = {
    val cand = cappedBandCandidates(spark, dir, cap) // cache-materialized
    val tf = MlOps.docTf(spark, dir) // shared session-cached tf table
    // idf statistics stay CORPUS-wide (df must count every document);
    // only the per-pair weight fetch narrows to candidate docs
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).count().toDouble
    val w = tf.join(candidateIds(cand), Seq("doc_id"), "left_semi")
      .join(broadcast(dft), Seq("term"))
      .select(col("doc_id"), col("term"),
        (col("tf") * (log((lit(n) + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
          .as("w"))
      .localCheckpoint()
    val nrm = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("n2"))
    val dot = cand
      .join(w.select(col("doc_id").as("a_id"), col("term"), col("w").as("wa")),
        Seq("a_id"))
      .join(w.select(col("doc_id").as("b_id"), col("term"), col("w").as("wb")),
        Seq("b_id", "term"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dot
      .join(nrm.select(col("doc_id").as("a_id"), col("n2").as("n2a")), Seq("a_id"))
      .join(nrm.select(col("doc_id").as("b_id"), col("n2").as("n2b")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(col("dot"), 6).as("dot"),
        round(col("dot") / (sqrt(col("n2a")) * sqrt(col("n2b"))), 6).as("cosine"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Substring-level duplication census (the signal behind exact
    * substring dedup à la "Deduplicating Training Data Makes Language
    * Models Better"): every POSITIONAL word 5-gram — occurrences, not
    * the distinct set — is counted corpus-wide, and each document
    * reports how many of its spans belong to a 5-gram seen ≥ 2 times
    * anywhere in the corpus. High `dup_fraction` docs are boilerplate /
    * copy candidates whose repeated spans would be cut by a
    * suffix-array pass. Scale shape: the span expansion is map-only,
    * the occurrence count is a partial+final hash agg on the gram, and
    * the count join back to spans is a plain equi-join on the gram key
    * — every stage is keyed, nothing pairwise.
    */
  def dupNgramSpans(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    // the span table feeds the corpus count AND the join back —
    // materialize the tokenize+expand pass once (feature-store pattern,
    // see scoreJaccard)
    val spans = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("toks", array_remove(split(col("text"), " "), ""))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(toks) - ${n - 1}),
              i -> concat_ws(' ', slice(toks, i, $n)))""")).as("gram"))
      .localCheckpoint()
    val counts = spans.groupBy(col("gram")).agg(count(lit(1)).as("n_occ"))
    spans.join(counts, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_spans"),
        round(sum(when(col("n_occ") >= 2, 1L).otherwise(0L)) * lit(1.0)
          / count(lit(1)), 6).as("dup_fraction"),
      )
      .orderBy(col("doc_id"))
  }

  /** The LSH b×r tuning curve, measured on real pairs: for a
    * content-addressed RANDOM pair sample (docs grouped by an md5 bucket
    * of their id and paired within groups — a keyed join, so the sample
    * spans the whole similarity spectrum without any pairwise scan over
    * the corpus), count how many of the 8 signature components agree and
    * whether the pair would collide under each band layout: 8 bands of 1
    * (recall-greedy), 4 bands of 2 (the production config every
    * candidate generator here uses), 2 bands of 4 (precision-greedy).
    * Grouping by the component-match count renders the S-curve
    * steepening as r grows — the empirical version of the 1−(1−s^r)^b
    * analysis, which is how the 4×2 config gets justified rather than
    * assumed. The signature table feeds both pair sides (one minhash
    * pass); everything downstream is integer algebra.
    */
  def lshCurve(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(spark, dir)
      .withColumn("pb", substring(md5(col("doc_id").cast("string")), 1, 2))
      .localCheckpoint()
    val a = sigs.select(col("pb"), col("doc_id").as("a_id"), col("signature").as("a_sig"))
    val b = sigs.select(col("pb"), col("doc_id").as("b_id"), col("signature").as("b_sig"))
    a.join(b, Seq("pb"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("am", split(col("a_sig"), ","))
      .withColumn("bm", split(col("b_sig"), ","))
      .withColumn("n_match", expr(
        "size(filter(sequence(1, 8), i -> element_at(am, i) = element_at(bm, i)))"))
      .withColumn("c_b4r2", expr(
        """exists(sequence(0, 3), k ->
             element_at(am, k * 2 + 1) = element_at(bm, k * 2 + 1)
             AND element_at(am, k * 2 + 2) = element_at(bm, k * 2 + 2))"""))
      .withColumn("c_b2r4", expr(
        """exists(sequence(0, 1), k ->
             size(filter(sequence(1, 4),
               i -> element_at(am, k * 4 + i) = element_at(bm, k * 4 + i))) = 4)"""))
      .groupBy(col("n_match"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum(when(col("n_match") >= 1, 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("rate_b8r1"),
        round(sum(when(col("c_b4r2"), 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("rate_b4r2"),
        round(sum(when(col("c_b2r4"), 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("rate_b2r4"),
      )
      .orderBy(col("n_match"))
  }

  /** MinHash estimator quality: for the capped band-collision pairs, the
    * ESTIMATED Jaccard (fraction of the 8 signature components that
    * agree — the quantity LSH actually thresholds on) side by side with
    * the EXACT distinct-token-set Jaccard it estimates. The pair set,
    * both signature fetches, and both token-set fetches are all plain
    * equi-joins on doc_id; estimates are exact eighths so the 6-dp round
    * cannot drift between engines.
    */
  def minhashEstVsExact(spark: SparkSession, dir: String,
      cap: Int = 20): DataFrame = {
    val cand = cappedBandCandidates(spark, dir, cap) // cache-materialized
    val ids = candidateIds(cand).localCheckpoint() // keys both feature fetches
    val sig = signatures(spark, dir)
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), split(col("signature"), ",").as("parts"))
      .localCheckpoint() // joined for both pair sides — one minhash pass
    val toks = Tables.fanOut(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_sort(tokensCol).as("toks"))
      .localCheckpoint() // ditto for the token sets (sorted once for the merge kernel)
    cand
      .join(sig.select(col("doc_id").as("a_id"), col("parts").as("a_parts")), Seq("a_id"))
      .join(sig.select(col("doc_id").as("b_id"), col("parts").as("b_parts")), Seq("b_id"))
      .join(toks.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), Seq("a_id"))
      .join(toks.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), Seq("b_id"))
      .withColumn("est_jaccard", round(expr(
        """size(filter(sequence(1, 8), i ->
             element_at(a_parts, i) = element_at(b_parts, i)))""") / 8.0, 6))
      .withColumn("inter",
        intersectSizeSorted(col("a_toks"), col("b_toks")))
      .withColumn("uni", size(col("a_toks")) + size(col("b_toks")) - col("inter"))
      .withColumn("exact_jaccard",
        round(col("inter") / when(col("uni") === 0, 1).otherwise(col("uni")), 6))
      .select(col("a_id"), col("b_id"), col("est_jaccard"), col("exact_jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The daily NEAR-dup job: a fresh shard (doc_id % 10 == 0, the same
    * content-addressed split [[graft.operators.MlOps.incrementalDedup]]
    * uses) screened against the historical corpus without ever pairing
    * history with itself. Exact incremental dedup answers "seen this
    * byte-identical/reordered doc before?"; this answers the question
    * that actually gates corpus growth — "is this NEW document a near
    * copy of ANYTHING already ingested?" — at incremental cost:
    *
    *   - one signature pass over the corpus (at 100 TB the historical
    *     band table is a stored artifact; only the fresh shard's bands
    *     are computed per run),
    *   - fresh bands equi-join historical bands on (band, bucket) — the
    *     shuffle key is the bucket, so candidate volume tracks fresh-
    *     shard collisions, never |history|²,
    *   - per-bucket caps on BOTH sides (row_number → WindowGroupLimit)
    *     bound the fan-out at cap² per bucket even when a degenerate
    *     signature cluster spans history and shard,
    *   - exact bigram Jaccard confirms candidates only, and a per-fresh-
    *     doc verdict row comes back: candidate count, best historical
    *     match (highest rounded score, oldest doc breaking ties), and
    *     the ≥ `threshold` near-dup flag the ingest decision reads.
    *
    * Fresh docs colliding with nothing are clean admits and do not
    * appear (their absence IS the verdict; the left-join presentation
    * belongs to the serving layer).
    */
  def incrementalNearDup(spark: SparkSession, dir: String,
      cap: Int = 20, threshold: Double = 0.5): DataFrame = {
    // one minhash+band pass feeds both split sides (SharedFrames)
    val bands = bandBuckets(spark, dir)
    def cappedSide(side: DataFrame, as: String) = {
      val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("doc_id"))
      side.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= cap)
        .select(col("band"), col("bucket"), col("doc_id").as(as))
    }
    val hist = cappedSide(bands.filter(col("doc_id") % 10 =!= 0), "b_id")
    val fresh = cappedSide(bands.filter(col("doc_id") % 10 === 0), "a_id")
    val candidates = fresh.join(hist, Seq("band", "bucket"))
      .select(col("a_id"), col("b_id"))
      .distinct() // a pair can collide in several bands
    val scored = scoreJaccardRaw(spark, dir, candidates, threshold = None)
    val byDoc = Window.partitionBy(col("a_id"))
    val best = Window.partitionBy(col("a_id"))
      .orderBy(col("jaccard").desc, col("b_id"))
    scored
      .withColumn("n_candidates", count(lit(1)).over(byDoc))
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(
        col("a_id").as("new_id"),
        col("b_id").as("best_old_id"),
        col("jaccard").as("best_jaccard"),
        col("n_candidates"),
        (col("jaccard") >= threshold).as("is_neardup"),
      )
      .orderBy(col("new_id"))
  }

  /** Edit-distance near-dup pairs via prefix+length blocking — the
    * entity-resolution member of the near-dup family (set overlap:
    * minhash; embedding angle: cosine; weighted drift: simhash; EDIT
    * operations: this). Candidate generation is the classic blocking
    * scheme: documents sharing a 32-char prefix AND within `maxLenDiff`
    * characters of each other pair up through an EQUI-join on the prefix
    * key (length is a residual filter), so the O(n²) pair space never
    * materializes — only same-block pairs shuffle, keyed by prefix.
    * Levenshtein is O(len²) per pair, which is why it runs LAST, on the
    * blocked candidates only, never as a similarity scan. Similarity
    * normalizes by the longer document (1 − d/max_len), the standard
    * edit-similarity form; the corpus is ASCII so Spark's
    * codepoint-counting levenshtein and DuckDB's agree exactly. */
  def editBlocked(spark: SparkSession, dir: String,
      maxLenDiff: Int = 16): DataFrame = {
    val d = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("n_chars")))
      .withColumn("blk", substring(col("text"), 1, 32))
    val a = d.select(col("blk"), col("doc_id").as("a_id"),
      col("text").as("a_text"), col("n_chars").as("a_len"))
    val b = d.select(col("blk"), col("doc_id").as("b_id"),
      col("text").as("b_text"), col("n_chars").as("b_len"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id")
        && abs(col("a_len") - col("b_len")) <= maxLenDiff)
      .withColumn("edit_dist", levenshtein(col("a_text"), col("b_text")).cast("long"))
      .withColumn("similarity", round(lit(1.0) -
        col("edit_dist") / greatest(col("a_len"), col("b_len")).cast("double"), 6))
      .select(col("a_id"), col("b_id"), col("edit_dist"), col("similarity"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Prefix-filter set-similarity join (the AllPairs/PPJoin candidate
    * scheme, Bayardo et al. 2007 / Xiao et al. 2008): the EXACT-recall
    * alternative to MinHash LSH for token-set Jaccard ≥ τ. Order every
    * document's distinct tokens by GLOBAL document frequency (rarest
    * first, token as tie-break); if Jaccard(a,b) ≥ τ then a and b must
    * share a token within their first |d| − ⌈τ·|d|⌉ + 1 tokens — so
    * candidates are an EQUI-join on prefix tokens only, and prefixes are
    * mostly RARE tokens, which is what bounds the join fan-out (the
    * frequent tokens that would explode a plain token join never enter
    * a prefix at τ-sized slack). ⌈τ·n⌉ is computed in INTEGER arithmetic
    * ((3n+9) div 10 for τ=0.3) — `ceil(0.3 * n)` overshoots on n=10
    * because 0.3·10 = 3.0000000000000004 in binary.
    *
    * Per-token candidate lists are capped like every bucketed generator
    * here (row_number → WindowGroupLimit): the testdata's degenerate
    * near-identical clusters would otherwise pair quadratically through
    * their shared rare tokens. Within capped blocks recall is exact by
    * the prefix principle; verification is exact token-set Jaccard via
    * the sorted-merge intersect kernel on candidate-sized feature
    * tables.
    */
  def prefixJaccardJoin(spark: SparkSession, dir: String,
      cap: Int = 20): DataFrame = {
    // per-doc distinct tokens = the session-cached presence pairs (the
    // local tokenize+explode ran ~3x: df counts, prefix probe, verify
    // sets — now all three read the shared materialization)
    val tok = MlOps.docTermsDistinct(spark, dir)
      .select(col("doc_id"), col("term").as("t"))
    val dfreq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("t"))
    val nTok = Window.partitionBy(col("doc_id"))
    val prefix = tok.join(dfreq, Seq("t"))
      .withColumn("pos", row_number().over(byRarity))
      .withColumn("n", count(lit(1)).over(nTok))
      .filter(col("pos") <= col("n") - expr("(3 * n + 9) div 10") + 1)
      .select(col("t"), col("doc_id"))
    val byToken = Window.partitionBy(col("t")).orderBy(col("doc_id"))
    val capped = prefix.withColumn("rn", row_number().over(byToken))
      .filter(col("rn") <= cap)
      .select(col("t"), col("doc_id"))
      .localCheckpoint() // feeds both sides of the candidate join
    val cand = capped.select(col("t"), col("doc_id").as("a_id"))
      .join(capped.select(col("t"), col("doc_id").as("b_id")), Seq("t"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct() // a pair can share several prefix tokens
      .localCheckpoint()
    val sets = tok
      .join(candidateIds(cand), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("t"))).as("toks"))
      .localCheckpoint() // feeds both sides of the verify join
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), Seq("b_id"))
      .withColumn("inter",
        intersectSizeSorted(col("a_toks"), col("b_toks")))
      .withColumn("jaccard", round(col("inter") /
        (size(col("a_toks")) + size(col("b_toks")) - col("inter")), 6))
      .filter(col("jaccard") >= 0.3)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }
}
