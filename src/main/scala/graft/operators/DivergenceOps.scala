package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{SharedFrames, Tables}

/** Corpus-divergence analytics: the source-mixture audits a training-data
  * pipeline runs before blending corpora — per-source KL divergence
  * against the corpus, pairwise Jensen–Shannon distances between
  * sources, log-likelihood (G²) keyness per term, and LM-score domain
  * classification. All four share one scale shape: a single corpus-wide
  * tokenize+count pass whose partial-aggregate keyspace is bounded by
  * sources × capped vocabulary, after which every distribution table is
  * vocabulary-sized and broadcastable. Nothing downstream of the first
  * aggregate ever touches document text again.
  */
object DivergenceOps {

  /** Frequency cap on the modeled vocabulary. At corpus scale the raw
    * vocabulary is unbounded (typos, IDs); every distribution below is
    * computed over the top-`VocabCap` terms by corpus frequency so the
    * smoothing grid stays S×`VocabCap` no matter the data. The oracle
    * applies the same cap (deterministic tie-break on the term). */
  val VocabCap = 4096

  /** The shared statistics: per-(source, term) counts over the capped
    * vocabulary, the smoothing grid (every source × every vocab term,
    * zero-filled), and the corpus scalars T (total tokens) and V (vocab
    * size). The grid is built by exploding the collected vocabulary
    * (bounded by [[VocabCap]] — the documented literal-inlining pattern)
    * over the per-source totals frame: map-side explode + two broadcast
    * joins, no cartesian product in the plan. */
  private final case class Corpus(grid: DataFrame, t: Double, v: Double)

  private def corpus(spark: SparkSession, dir: String): Corpus =
    SharedFrames.value(spark, dir, "corpus")(buildCorpus(spark, dir))

  private def buildCorpus(spark: SparkSession, dir: String): Corpus = {
    // the one corpus-scale pass: the session's cached token stream +
    // (source, term) partial agg
    val st = MlOps.docTermsWide(spark, dir)
      .select(col("source"), col("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val vocab = st.groupBy(col("term")).agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("term")).limit(VocabCap)
      .localCheckpoint()
    val stv = st.join(broadcast(vocab.select(col("term"))), Seq("term"))
      .select(col("source"), col("term"), col("c"))
    val stot = stv.groupBy(col("source")).agg(sum(col("c")).as("ts"))
    val vocabTerms = vocab.select(col("term")).collect().map(_.getString(0)).toSeq
    val agg = vocab.agg(sum(col("ct")).as("t"), count(lit(1)).as("v")).head()
    val grid = stot
      .select(col("source"), col("ts"), explode(typedlit(vocabTerms)).as("term"))
      .join(broadcast(vocab), Seq("term"))
      .join(broadcast(stv), Seq("source", "term"), "left")
      .na.fill(0L, Seq("c"))
      .withColumnRenamed("c", "c0")
      // sources×vocab rows — materialize once for the six consumers
      .localCheckpoint()
    Corpus(grid, agg.getLong(0).toDouble, agg.getLong(1).toDouble)
  }

  /** Per-source KL divergence D(P_src ‖ P_corpus) over add-one-smoothed
    * unigram distributions, in bits — the "how far does this source sit
    * from the blend" number that decides mixture weights and flags a
    * polluted source before it trains. Smoothing needs the zero-count
    * cells, hence the grid; the sum per source runs over ≤ |V| rows. */
  def unigramKl(spark: SparkSession, dir: String): DataFrame = {
    val cp = corpus(spark, dir)
    val p = (col("c0") + lit(1.0)) / (col("ts") + lit(cp.v))
    val q = (col("ct") + lit(1.0)) / (lit(cp.t) + lit(cp.v))
    cp.grid
      .groupBy(col("source"), col("ts"))
      .agg(round(sum(p * log2(p / q)), 6).as("kl_bits"))
      .select(col("source"), col("ts").as("n_tokens"), col("kl_bits"))
      .orderBy(col("source"))
  }

  /** Dunning log-likelihood (G²) keyness of every (source, term) cell
    * against the rest of the corpus: which terms are over- or
    * under-represented in a source, with the significance-style score
    * corpus linguistics uses instead of raw frequency ratios. Expected
    * counts come from the marginals; zero cells contribute nothing to
    * their term (the 0·ln 0 = 0 convention). Output is the full S×V
    * keyness table — rank-free, so no cross-engine tie instability. */
  def keynessG2(spark: SparkSession, dir: String): DataFrame = {
    val cp = corpus(spark, dir)
    val a  = col("c0").cast("double")
    val b  = (col("ct") - col("c0")).cast("double")
    val cs = col("ts").cast("double")
    val ds = lit(cp.t) - col("ts")
    val e1 = cs * col("ct") / lit(cp.t)
    val e2 = ds * col("ct") / lit(cp.t)
    val g2 = lit(2.0) * (
      when(a > 0, a * log(a / e1)).otherwise(lit(0.0)) +
      when(b > 0, b * log(b / e2)).otherwise(lit(0.0)))
    cp.grid.select(
        col("source"), col("term"), col("c0").as("n_src"),
        round(g2, 6).as("g2"),
        when(a / cs > col("ct") / lit(cp.t), lit("over"))
          .otherwise(lit("under")).as("direction"))
      .orderBy(col("source"), col("term"))
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions, in bits (bounded by 1) — the symmetric source-
    * similarity matrix behind "which corpora are interchangeable".
    * The self-join runs on the vocabulary-sized distribution table
    * (equi-key on term, broadcast right side), so the pair fan-out is
    * S²·V grid cells, never documents². */
  def sourceJs(spark: SparkSession, dir: String): DataFrame = {
    val cp = corpus(spark, dir)
    val withP = cp.grid.select(col("source"), col("term"),
      ((col("c0") + lit(1.0)) / (col("ts") + lit(cp.v))).as("p"))
    val l = withP.select(col("source").as("src_a"), col("term"), col("p").as("pa"))
    val r = withP.select(col("source").as("src_b"), col("term"), col("p").as("pb"))
    val m = (col("pa") + col("pb")) / lit(2.0)
    l.join(broadcast(r), Seq("term"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(round(sum(
        lit(0.5) * col("pa") * log2(col("pa") / m) +
        lit(0.5) * col("pb") * log2(col("pb") / m)), 6).as("js_bits"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** One exponentiated-gradient step of domain reweighting (the DoReMi
    * recipe (Xie et al., 2023) with an order-0 proxy loss): each
    * source's average NLL under the corpus unigram LM stands in for the
    * excess loss, and the mixture weight moves as
    * w′ ∝ w·exp(η·excess) — sources the blend models WORSE than average
    * get upsampled. Alongside [[graft.operators.CorpusOps.temperatureMix]]
    * this gives both published mixture policies: temperature flattening
    * (size-based) and loss-proportional reweighting. The corpus reduces
    * to the S×V grid in one pass; everything after — per-source NLL,
    * the corpus baseline, the partition constant Z — is source-bounded
    * window algebra, rounded once at the end. */
  def domainReweight(spark: SparkSession, dir: String,
      eta: Double = 1.0): DataFrame = {
    val cp = corpus(spark, dir)
    val wAll = Window.partitionBy()
    val tD = lit(cp.t)
    val lp = log((col("ct") + lit(1.0)) / (lit(cp.t) + lit(cp.v)))
    cp.grid
      .groupBy(col("source"), col("ts"))
      .agg((-sum(col("c0") * lp) / col("ts")).as("nll"))
      .withColumn("nll_corpus", sum(col("ts") * col("nll")).over(wAll) / tD)
      .withColumn("excess", col("nll") - col("nll_corpus"))
      .withColumn("unnorm", (col("ts") / tD) * exp(lit(eta) * col("excess")))
      .withColumn("z", sum(col("unnorm")).over(wAll))
      .select(col("source"), col("ts").as("n_tokens"),
        round(col("nll"), 6).as("avg_nll"),
        round(col("excess"), 6).as("excess_nll"),
        round(col("ts") / tD, 6).as("raw_weight"),
        round(col("unnorm") / col("z"), 6).as("doremi_weight"))
      .orderBy(col("source"))
  }

  /** LM-score domain classification: score every document under every
    * source's add-one unigram LM and tag it with the argmax source —
    * the cheap domain-tagger (CCNet's per-domain LM filter, order-0)
    * whose confusion matrix against the true source labels is the
    * "are my sources actually distinguishable" audit. The LM table is
    * the broadcastable S×V grid; the big side is one tokenize + per-doc
    * tf aggregate; scoring is an equi-join on term followed by a keyed
    * window (argmax by rounded score, candidate-name tie-break — ranks
    * on 6-dp-quantized scores so cross-engine float noise cannot flip
    * the winner unless two LMs genuinely tie). */
  /** The (doc, true-source, candidate) 6-dp LM score grid — built
    * identically by the classifier and its calibration audit, so it is
    * session-cached: one tf aggregate + score join instead of two. */
  private def lmScoredGrid(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "lmScoredGrid") {
      val cp = corpus(spark, dir)
      val lm = cp.grid.select(col("source").as("cand"), col("term"),
        log((col("c0") + lit(1.0)) / (col("ts") + lit(cp.v))).as("lp"))
      MlOps.docTermsWide(spark, dir)
        .select(col("doc_id"), col("source"), col("term"))
        .groupBy(col("doc_id"), col("source"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .join(broadcast(lm), Seq("term"))
        .groupBy(col("doc_id"), col("source"), col("cand"))
        .agg(round(sum(col("tf") * col("lp")), 6).as("score"))
    }

  def lmSourceClassify(spark: SparkSession, dir: String): DataFrame = {
    val scored = lmScoredGrid(spark, dir)
    // argmax as a max_by hash aggregate instead of the rank window:
    // orderBy(score desc, cand asc) == min_by on (-score, cand) — the
    // 6-dp-rounded score makes the key pair unique per doc, so the
    // winner is bit-identical and the doc-keyed exchange+sort is gone
    scored
      .groupBy(col("doc_id"), col("source"))
      .agg(min_by(col("cand"), struct(negate(col("score")), col("cand")))
        .as("cand"))
      .groupBy(col("source"), col("cand"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source").as("actual_source"),
        col("cand").as("predicted_source"), col("n_docs"))
      .orderBy(col("actual_source"), col("predicted_source"))
  }

  /** Cross-source content overlap matrix: for every ordered source pair,
    * how many document HEAD fingerprints (md5 of the first 64 chars —
    * the canonicalization that catches re-crawls whose tails drifted;
    * full-text digests find zero cross-source hits on this corpus)
    * appear in both, with containment (share of the smaller corpus the
    * other source already has) and fingerprint-level Jaccard. This is
    * the corpus-level twin of per-document dedup: it answers "is source
    * B a re-crawl of source A" before any pairwise document work is
    * spent. Shape: documents reduce to distinct (source, digest) pairs
    * — the only corpus-scale pass — then the pair matrix is an
    * equi-join on digest between two projections of that reduced table,
    * so the shuffle key is the digest and the output is S² rows, never
    * docs².
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint: the reduced (source, digest) table feeds the per-source
    // census AND both sides of the pair join — without it the corpus
    // scan + md5 + distinct ran three times
    val sd = Tables.fanOut(
        Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(col("source"), md5(substring(col("text"), 1, 64)).as("digest"))
      .distinct()
      .localCheckpoint()
    val perSource = sd.groupBy(col("source")).agg(count(lit(1)).as("n_digests"))
    val both = sd.select(col("source").as("src_a"), col("digest"))
      .join(sd.select(col("source").as("src_b"), col("digest")), Seq("digest"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    both
      .join(Tables.maybeBroadcast(perSource.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n_digests", "n_a")), Seq("src_a"))
      .join(Tables.maybeBroadcast(perSource.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n_digests", "n_b")), Seq("src_b"))
      .select(
        col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_shared"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 6)
          .as("containment"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"),
      )
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Score-margin reliability table for the unigram-LM domain classifier
    * — the calibration audit read before [[lmSourceClassify]]'s labels
    * are trusted for pseudo-labeling/routing: per document, the margin
    * between the winning and runner-up LM scores (both already 6-dp
    * sums, so the difference is the same double on every engine), binned
    * in width-0.25 margin bands, with per-band document count, correct
    * count and accuracy. A well-calibrated classifier shows accuracy
    * rising monotonically with margin; the band where accuracy crosses
    * the target threshold IS the pseudo-label admission rule. Same
    * one-corpus-pass shape as the classifier itself: everything after
    * the (doc, cand) score grid is doc-keyed window + hash aggregate.
    * The bin is floor(margin/0.25) capped at 9 — floor of a double both
    * engines computed identically, not a re-round of a rounded value.
    */
  def marginCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = lmScoredGrid(spark, dir) // shared with the classifier
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand"))
    val perDoc = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("doc_id"), col("source"))
      .agg(
        max(when(col("rn") === 1, col("cand"))).as("pred"),
        max(when(col("rn") === 1, col("score"))).as("s1"),
        max(when(col("rn") === 2, col("score"))).as("s2"))
      .withColumn("margin", col("s1") - col("s2"))
      .withColumn("margin_bin",
        least(floor(col("margin") / 0.25), lit(9L)).cast("int"))
      .withColumn("correct",
        when(col("pred") === col("source"), 1L).otherwise(0L))
    perDoc.groupBy(col("margin_bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("correct")).as("n_correct"),
        round(sum(col("correct")) / count(lit(1)).cast("double"), 6)
          .as("accuracy"))
      .orderBy(col("margin_bin"))
  }
}
