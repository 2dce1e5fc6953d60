package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{SharedFrames, Tables}

/** North-star text/ML operators over the documents corpus (SURVEY.md
  * §2.11): tokenization, TF-IDF, hash dedup — all pure DataFrame ops so
  * Catalyst keeps them in codegen and the shapes scale: tokenize→explode
  * fans out map-side, both aggregations are partial+final hash aggs, and
  * the doc-frequency join broadcasts the (vocabulary-sized) small side.
  */
object MlOps {

  /** (doc_id, term) pairs — whitespace tokenization with empties
    * dropped. Session-cached: ~16 call sites across the term-statistics
    * family (term counts, df/idf, TF-IDF, BM25, keyness, stopwords,
    * inverted index…) otherwise each pay the tokenize+explode scan.
    * Everything downstream is exact integer counting, so the shared
    * materialization cannot move a hash. */
  def docTerms(spark: SparkSession, dir: String): DataFrame =
    docTermsWide(spark, dir).select(col("doc_id"), col("term"))

  /** Session-cached per-document term FREQUENCIES — the (doc_id, term,
    * tf) table five term-statistics queries (TF-IDF, BM25, unigram LM,
    * token entropy, sparse cosine) each built and checkpointed
    * themselves: one tokenize + count shuffle per app instead of one
    * per query. tf is an exact integer, so sharing the materialization
    * cannot move a hash. */
  private[graft] def docTf(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "docTf") {
      docTerms(spark, dir)
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
    }

  /** Session-cached PRESENCE pairs — distinct (doc_id, term). The
    * co-occurrence and inverted-index queries each materialized this
    * distinct themselves (per bench run, so twice each); the shared
    * frame pays the tokenize+distinct shuffle once per app. Everything
    * downstream is exact integer counting or explicitly sorted output,
    * so the shared materialization cannot move a hash. */
  private[graft] def docTermsDistinct(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "docTermsDistinct") {
      docTerms(spark, dir).distinct()
    }

  /** The cached token stream with its document metadata — the
    * (doc, source, lang, term) long table every per-source divergence /
    * mixture query re-derived with its own explode. */
  private[graft] def docTermsWide(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "docTerms") {
      Tables.fanOut(Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("lang"), col("text")))
        .select(col("doc_id"), col("source"), col("lang"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
    }

  /** ML-1: corpus term counts, top 20. TakeOrderedAndProject after one
    * hash agg — no global sort. */
  def termCounts(spark: SparkSession, dir: String): DataFrame =
    docTerms(spark, dir)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)

  /** ML-2: TF-IDF top-3 terms per document.
    * score = tf * ln((N+1)/(df+1)), rounded to 6 dp BEFORE ranking so the
    * rank order is identical under any ulp-level math drift vs the oracle.
    * df (vocabulary-sized) is broadcast; the corpus size N is fetched
    * ONCE as a driver-side scalar — a metadata-only parquet count, the
    * same bounded-scalar pattern as the CC loop's convergence check —
    * and inlined as a literal, so the plan has no unkeyed 1-row join
    * stage at all (a cross-joined scalar frame plans as a
    * BroadcastNestedLoopJoin, the shape the registry invariant bans).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    // the shared session-cached tf table feeds both the df aggregate
    // and the scored join (feature-store pattern, see docTf)
    val tf = docTf(spark, dir)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).count()
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("score"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Term co-occurrence with PMI over a CAPPED vocabulary — the corpus
    * statistics pass behind topic/collocation analysis. The pairwise
    * space is bounded BEFORE the self-join: only the top-N terms by
    * document frequency (a TakeOrdered, broadcast back) enter the
    * per-document pair stage, so the pair keyspace is ≤ N²/2 regardless
    * of corpus size — vocabulary capping is what makes co-occurrence
    * tractable at 100 TB. PMI = ln(c_ab·n / (c_a·c_b)): exact int64
    * products divided as doubles, identical on both engines, rounded
    * before emission.
    */
  def termCooccurrence(spark: SparkSession, dir: String,
      topN: Int = 50, minSupport: Int = 5): DataFrame = {
    // presence pairs (doc, term), used by df, both join sides — one pass
    val dt = docTermsDistinct(spark, dir)
    val df = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val top = df.orderBy(col("df").desc, col("term")).limit(topN)
    val nDocs = Tables.documents(spark, dir).count()
    val t = dt.join(broadcast(top), Seq("term"))
    t.select(col("doc_id"), col("term").as("a"), col("df").as("ca"))
      .join(t.select(col("doc_id"), col("term").as("b"), col("df").as("cb")),
        Seq("doc_id"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("ca"), col("cb"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
      .withColumn("pmi",
        round(log((col("c_ab") * lit(nDocs)) / (col("ca") * col("cb"))), 6))
      .select(col("a"), col("b"), col("c_ab"), col("pmi"))
      .orderBy(col("a"), col("b"))
  }

  /** The dataset card in one row — the header block of a "datasheets
    * for datasets" writeup, assembled in ONE job the way the dashboard
    * payload assembles its page: corpus size (docs/chars/tokens),
    * diversity (sources, languages, distinct texts), and the exact-dup
    * pressure number a consumer reads first. One tokenize pass; the
    * distinct counts run in the same aggregate (Catalyst plans the
    * multi-distinct expand); every ratio divides RAW counts once at the
    * end. At 100 TB the md5 distinct is the only wide piece and it
    * shuffles 16-byte digests.
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(array_remove(split(col("text"), " "), "")).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("h")).as("n_unique_texts"),
      )
      .select(
        col("n_docs"), col("n_sources"), col("n_langs"),
        col("total_chars"), col("total_tokens"), col("n_unique_texts"),
        round(col("total_tokens").cast("double") / col("n_docs"), 6)
          .as("mean_tokens_per_doc"),
        round(lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs"), 6)
          .as("exact_dup_rate"),
      )

  /** Skip-gram window co-occurrence — the (center, context) pair table
    * word2vec/GloVe trainers actually consume, beside the document-level
    * PMI of [[termCooccurrence]]: pairs of vocabulary terms within a
    * ±3-token window, with per-distance counts and the GloVe 1/distance
    * weighting computed EXACTLY from the integer distance cells
    * ((6·n₁ + 3·n₂ + 2·n₃)/6 — no float accumulates across rows, so no
    * summation-order drift). The window expansion is MAP-ONLY (each
    * position emits ≤ 3 forward pairs — O(3n) per document, never a
    * per-document position self-join, which would be quadratic in
    * vocab-dense documents); the vocabulary cap is a bounded driver
    * list (the top-`topN` cut is ≤ topN rows by construction) folded
    * INTO the expansion lambda as an InSet probe, so the Generate emits
    * only qualifying pairs — the old broadcast-join spelling
    * materialized every ±window pair (|tokens|·window rows) first and
    * ran the top-terms aggregate once per broadcast side. The aggregate
    * keyspace stays bounded at topN²/2 regardless of corpus size.
    */
  def skipGramPairs(spark: SparkSession, dir: String,
      topN: Int = 50, window: Int = 3, minSupport: Int = 5): DataFrame = {
    val topTerms = docTerms(spark, dir)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(topN)
      .select(col("term"))
      .collect().map(_.getString(0)).toIndexedSeq // ≤ topN driver rows
    val pairsArr = expr(
      s"""flatten(transform(sequence(1, size(toks) - 1), i ->
            transform(sequence(1, least($window, size(toks) - i)), d ->
              struct(least(element_at(toks, i), element_at(toks, i + d)) AS a,
                     greatest(element_at(toks, i), element_at(toks, i + d)) AS b,
                     d AS d))))""")
    Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("toks", array_remove(split(col("text"), " "), ""))
      .filter(size(col("toks")) >= 2)
      .select(explode(filter(pairsArr, p =>
        p.getField("a").isInCollection(topTerms) &&
          p.getField("b").isInCollection(topTerms))).as("p"))
      .select(col("p.a"), col("p.b"), col("p.d"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(
        sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_d1"),
        sum(when(col("d") === 2, 1L).otherwise(0L)).as("n_d2"),
        sum(when(col("d") === 3, 1L).otherwise(0L)).as("n_d3"),
        count(lit(1)).as("n_total"),
      )
      .filter(col("n_total") >= minSupport)
      .withColumn("glove_weight", round(
        (col("n_d1") * 6 + col("n_d2") * 3 + col("n_d3") * 2).cast("double") / 6.0, 6))
      .orderBy(col("a"), col("b"))
  }

  /** Unigram language-model quality score (the CCNet-style perplexity
    * filter, reduced to its order-0 form): train a unigram LM on the
    * corpus itself — add-one smoothed, P(t) = (c(t)+1)/(T+V) — and score
    * every document by its mean token log-probability. Documents far
    * below the corpus mean are gibberish/outlier candidates; far above,
    * repetitive boilerplate. One tokenize pass total (tf is
    * materialized and feeds the term-count aggregate AND the scoring
    * join); the LM side is vocabulary-sized so it broadcasts; the two
    * corpus scalars (T, V) are driver-side bounded aggregates inlined
    * as literals (the documented TF-IDF pattern). The per-doc mean is
    * the tf-weighted sum — identical algebra in the oracle so summation
    * grouping matches.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val tf = docTf(spark, dir) // shared session-cached materialization
    val tc = tf.groupBy(col("term")).agg(sum(col("tf")).as("n"))
    val stats = tc.agg(sum(col("n")), count(lit(1))).head()
    val denom = stats.getLong(0).toDouble + stats.getLong(1).toDouble
    tf.join(broadcast(tc), Seq("term"))
      .withColumn("lp", log((col("n") + lit(1.0)) / lit(denom)))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        round(sum(col("tf") * col("lp")) / sum(col("tf")), 6).as("avg_logprob"),
      )
      .orderBy(col("doc_id"))
  }

  /** Order-1 sibling of [[unigramLogprob]]: a bigram language model
    * trained on the corpus itself scores every document by its mean
    * conditional log-probability, P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V)
    * add-one smoothed over the corpus vocabulary V. The gap between a
    * document's unigram and bigram scores is the classic fluency signal
    * (word salad scores fine under order-0, collapses under order-1).
    * Scale shape mirrors the unigram pass: positional bigram expansion
    * is map-only, the per-doc bigram tf is materialized once and feeds
    * the two LM count aggregates AND the scoring join, the LM sides are
    * bigram-vocabulary-sized (≤ V²) so they broadcast, and V is a
    * driver-side bounded scalar inlined as a literal.
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("toks", array_remove(split(col("text"), " "), ""))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
             i -> struct(toks[i-1] AS w1, toks[i] AS w2))""")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val tf = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val bc = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("nb"))
    val uc = tf.groupBy(col("w1")).agg(sum(col("tf")).as("na"))
    val vocab = docTerms(spark, dir).select(col("term")).distinct().count()
    tf.join(broadcast(bc), Seq("w1", "w2"))
      .join(broadcast(uc), Seq("w1"))
      .withColumn("lp", log((col("nb") + lit(1.0)) / (col("na") + lit(vocab.toDouble))))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        round(sum(col("tf") * col("lp")) / sum(col("tf")), 6).as("avg_logprob"),
      )
      .orderBy(col("doc_id"))
  }

  /** CCNet-style head/middle/tail corpus partition: per source, rank
    * every document by its [[unigramLogprob]] quality score and cut the
    * ranking into perplexity tertiles with ntile(3) — "head" is the
    * most-fluent third the mixture oversamples, "tail" the third a
    * cleaning pass inspects first. The tertile assignment is exact and
    * deterministic (scores are rounded to 6 dp BEFORE ranking and ties
    * break on doc_id), and the window is keyed on source, so at scale
    * each shard ranks independently — no global sort. Output is the
    * per-(source, bucket) summary a mixture recipe reads.
    */
  def ppxBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = unigramLogprob(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    scored
      .withColumn("t", ntile(3).over(w))
      .groupBy(col("source"), col("t"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("avg_logprob")), 6).as("mean_logprob"),
        round(min(col("avg_logprob")), 6).as("min_logprob"),
        round(max(col("avg_logprob")), 6).as("max_logprob"),
      )
      .withColumn("bucket",
        when(col("t") === 1, "head").when(col("t") === 2, "middle").otherwise("tail"))
      .select(col("source"), col("bucket"), col("n_docs"),
        col("mean_logprob"), col("min_logprob"), col("max_logprob"))
      .orderBy(col("source"), col("bucket"))
  }

  /** The first step of BPE tokenizer training, as a corpus query:
    * adjacent character-pair frequencies over the vocabulary, weighted
    * by word frequency — the merge-candidate table a byte-pair-encoding
    * trainer ranks before its first merge. The corpus collapses to
    * (term, count) first, so the expensive character fan-out runs once
    * per DISTINCT term (vocabulary-sized), not once per token
    * occurrence — at 100 TB this is the difference between a
    * vocabulary-bounded job and a full-corpus reshuffle. Reports both
    * the occurrence-weighted count (what BPE ranks on) and the distinct
    * term coverage per pair.
    */
  def bpePairStats(spark: SparkSession, dir: String, topK: Int = 30): DataFrame =
    docTerms(spark, dir)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .filter(length(col("term")) >= 2)
      .select(col("term"), col("n"), explode(expr(
        "transform(sequence(1, length(term) - 1), i -> substring(term, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("n")).as("corpus_count"),
        countDistinct(col("term")).as("n_terms"))
      .orderBy(col("corpus_count").desc, col("pair"))
      .limit(topK)

  /** The first `steps` merges of BPE tokenizer training actually
    * APPLIED — where [[bpePairStats]] ranks the step-1 merge candidates,
    * this runs the trainer loop: count frequency-weighted adjacent
    * symbol pairs over the vocabulary, merge the winner (count desc,
    * pair asc — the deterministic tie-break), recount on the updated
    * symbol sequences, repeat. The iterative-text twin of the k-means
    * and PageRank loops, with the same discipline: vocabulary-bounded
    * work per round (never corpus-bounded), a ONE-row driver fetch per
    * round for the winning pair (the bounded-scalar handoff pattern the
    * k-means centroid block documents), and `localCheckpoint` per round
    * so lineage cannot snowball.
    *
    * The merge itself is pure string algebra both engines share: the
    * symbol sequence is space-joined, separators are doubled so every
    * occurrence of the winning pair is surrounded by its own padding
    * (adjacent occurrences of a pair share a boundary space — a plain
    * single-space replace would silently skip every second occurrence
    * in an `a b a b` run), the padded pair is replaced left-to-right,
    * and separators collapse back. Greedy left-to-right overlap
    * handling (`a a a` merges once) matches the reference BPE
    * formulation. Reports per step: the merged pair, its pre-merge
    * weighted count, and the corpus symbol total after the merge — the
    * compression-progress curve a tokenizer trainer watches.
    */
  def bpeMerges(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir, steps)
      .toDF("step", "merged_pair", "pair_count", "total_symbols_after")
      .orderBy(col("step"))
  }

  private def trainedMerges(spark: SparkSession, dir: String,
      steps: Int): Seq[(Int, String, Long, Long)] =
    SharedFrames.value(spark, dir, s"bpeMerges:$steps") {
    var vocab = docTerms(spark, dir)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .withColumn("repr", concat_ws(" ", expr(
        "transform(sequence(1, length(term)), i -> substring(term, i, 1))")))
      .select(col("n"), col("repr"))
      .localCheckpoint()
    val out = Seq.newBuilder[(Int, String, Long, Long)]
    for (step <- 1 to steps) {
      val top = vocab
        .withColumn("syms", split(col("repr"), " "))
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          """transform(sequence(1, size(syms) - 1), i ->
               concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"""))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()(0) // the round's ONE winning pair
      val (pair, cnt) = (top.getString(0), top.getLong(1))
      val Array(a, b) = pair.split(" ", 2)
      // symbols are space-free by construction, so lit() carries them
      // verbatim — no pattern language, no injection surface
      val padded = concat(lit(" "),
        replace(col("repr"), lit(" "), lit("  ")), lit(" "))
      vocab = vocab
        .withColumn("repr", trim(replace(
          replace(padded, lit(s" $a  $b "), lit(s" $a$b ")),
          lit("  "), lit(" "))))
        .localCheckpoint()
      val totalSyms = vocab
        .agg(sum(col("n") * size(split(col("repr"), " "))))
        .head().getLong(0)
      out += ((step, pair, cnt, totalSyms))
    }
    out.result()
  }

  /** BPE ENCODER — the apply half of the trainer/encoder pair: take the
    * merges [[bpeMerges]] learned (a bounded `steps`-row driver handoff,
    * exactly the artifact a tokenizer ships) and segment the corpus with
    * them, reporting the per-source encoding outcome: token/char/symbol
    * mass, mean symbols per token, and the symbols-per-char compression.
    * The expensive half runs VOCABULARY-bounded, not corpus-bounded: all
    * `steps` merges compose into ONE lazy projection over the distinct
    * terms (the same padded double-space replace as the trainer, chained
    * — no per-step materialization needed because nothing iterates on
    * the result), and the corpus only joins the finished (term →
    * symbol-count) table by term. At 100 TB that is one broadcast-sized
    * vocabulary pass plus one equi-join — per-occurrence string work
    * never happens.
    */
  def bpeEncode(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    val merges = trainedMerges(spark, dir, steps)
      .sortBy(_._1).map(_._2)
    val chars = concat_ws(" ", expr(
      "transform(sequence(1, length(term)), i -> substring(term, i, 1))"))
    val reprFinal = merges.foldLeft(chars) { (repr, pair) =>
      val Array(a, b) = pair.split(" ", 2)
      trim(replace(replace(
        concat(lit(" "), replace(repr, lit(" "), lit("  ")), lit(" ")),
        lit(s" $a  $b "), lit(s" $a$b ")), lit("  "), lit(" ")))
    }
    val encoded = docTerms(spark, dir).select(col("term")).distinct()
      .select(col("term"),
        size(split(reprFinal, " ")).as("n_syms"),
        length(col("term")).as("n_chars"))
    val stf = docTermsWide(spark, dir)
      .select(col("source"), col("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    stf.join(Tables.maybeBroadcast(encoded), Seq("term"))
      .groupBy(col("source"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("n_chars")).as("total_chars"),
        sum(col("tf") * col("n_syms")).as("total_symbols"))
      .select(col("source"), col("n_tokens"), col("total_chars"),
        col("total_symbols"),
        round(col("total_symbols") / col("n_tokens").cast("double"), 6)
          .as("syms_per_token"),
        round(col("total_symbols") / col("total_chars").cast("double"), 6)
          .as("compression"))
      .orderBy(col("source"))
  }

  /** Train/validation distribution-shift audit: per-term document
    * frequency in the train split vs the val split (the deterministic
    * md5 buckets of `q_hash_split`), scored by the smoothed log-odds
    * drift ln((df_t+1)/(N_t+1)) − ln((df_v+1)/(N_v+1)) and ranked by
    * |drift| on the ROUNDED value. Terms far from 0 mark vocabulary the
    * split did not balance — the check that catches a skewed split
    * before training does. One distinct-terms fan-out, one (split, term)
    * hash agg folded to a term-keyed row; the two split sizes are
    * bounded driver scalars inlined as literals (the documented TF-IDF
    * pattern). The term cap bounds the output at scale.
    */
  def idfDrift(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val hex = substring(md5(col("doc_id").cast("string")), 1, 1)
    val part = when(hex <= "b", "train").when(hex.isin("c", "d"), "val")
      .otherwise("test")
    val docs = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("part", part)
      .filter(col("part") =!= "test")
    val counts = docs.groupBy(col("part")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (nt, nv) = (counts.getOrElse("train", 0L), counts.getOrElse("val", 0L))
    val drift = round(
      log((col("df_train") + lit(1.0)) / lit(nt + 1.0)) -
        log((col("df_val") + lit(1.0)) / lit(nv + 1.0)), 6)
    docs
      .select(col("part"),
        explode(array_distinct(array_remove(split(col("text"), " "), ""))).as("term"))
      .groupBy(col("term"))
      .agg(
        sum(when(col("part") === "train", 1L).otherwise(0L)).as("df_train"),
        sum(when(col("part") === "val", 1L).otherwise(0L)).as("df_val"),
      )
      .withColumn("drift", drift)
      .orderBy(abs(col("drift")).desc, col("term"))
      .limit(topK)
  }

  /** ML-2 extension: BM25 top-3 terms per document — TF-IDF's saturating
    * big sibling (Okapi BM25, k1=1.2, b=0.75):
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
    * Same join shape as TF-IDF plus a doc-length join keyed on doc_id;
    * the two corpus scalars (N, total tokens → avgdl) are driver-side
    * bounded aggregates inlined as literals. All numeric constants are
    * spelled as the SAME decimal literals in the oracle SQL so both
    * engines parse identical doubles, and the score is rounded BEFORE
    * ranking so rank order cannot flip on ulp drift.
    */
  def bm25TopTerms(spark: SparkSession, dir: String): DataFrame = {
    // zero tokenize passes when the shared tf cache is warm: it feeds
    // df, dl AND the scored join; dl folds tf rather than re-scanning
    // the corpus — sum of per-term counts = doc length
    val tf = docTf(spark, dir)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tf.agg(count_distinct(col("doc_id")).as("n"),
      sum(col("tf")).as("tot")).head()
    val nDocs = stats.getLong(0)
    // exact int64 sum / int64 count → the identical IEEE double on any
    // engine that evaluates the same division
    val avgdl = stats.getLong(1).toDouble / nDocs
    // dl as a window sum over doc_id, NOT a groupBy+self-join: the rank
    // window below already shuffles on doc_id, so the document length
    // rides the same exchange for free (exact integer sum either way)
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .withColumn("dl",
        sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("score", round(
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("score"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** ML-3: exact near-zero-cost dedup via content hash: one surviving
    * doc per md5(text). At 100 TB this is THE first dedup pass — hash
    * group-by shuffles 16-byte digests, never the documents themselves.
    */
  def hashDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir).select(col("text"), col("doc_id")))
      .select(md5(col("text")).as("text_md5"), col("doc_id"))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("surviving_doc_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("text_md5"))

  /** The dedup MANIFEST — what a downstream pipeline actually consumes:
    * every document with its canonical-cluster representative and a
    * keep/drop verdict. One shuffle on the fingerprint (window min), no
    * self-join; at 100 TB the fingerprint is the natural partition key
    * and survivors stream straight to the filtered write.
    */
  def dedupManifest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("tokenset_md5"))
    Tables.fanOut(Tables.documents(spark, dir).select(col("text"), col("doc_id")))
      .select(
        md5(concat_ws(" ",
          array_sort(array_remove(array_distinct(split(col("text"), " ")), ""))))
          .as("tokenset_md5"),
        col("doc_id"))
      .withColumn("surviving_doc_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("surviving_doc_id"),
        (col("doc_id") === col("surviving_doc_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Dedup pressure per source — the per-corpus summary a mixture
    * designer reads before setting sampling weights: how much of each
    * source survives canonical-fingerprint dedup. Same single-shuffle
    * shape as [[tokensetDedup]], keyed by (source) with a distinct count
    * on the 16-byte fingerprint. */
  def dedupRateBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(col("source"),
        md5(concat_ws(" ",
          array_sort(array_remove(array_distinct(split(col("text"), " ")), ""))))
          .as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_unique"))
      .withColumn("dup_rate",
        round((col("n_docs") - col("n_unique")) / col("n_docs"), 6))
      .orderBy(col("source"))

  /** What each dedup method would actually save — the decision table
    * comparing exact-text, canonical token-set, and simhash-value
    * dedup on the same corpus: documents dropped and characters
    * reclaimed (keeping the min-id representative per group), as counts
    * and corpus fractions. Each method is one hash agg on its 16-byte /
    * 32-bit key — documents never pairwise-compare — and the keyed
    * frame is materialized once for all three. The corpus totals are
    * bounded driver scalars inlined as literals.
    */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val toks = array_remove(array_distinct(split(col("text"), " ")), "")
    val keyed = Tables.fanOut(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"), col("n_chars")))
      .withColumn("tokens", toks)
      .select(
        col("doc_id"), col("n_chars"),
        md5(col("text")).as("k_exact"),
        md5(concat_ws(" ", array_sort(col("tokens")))).as("k_tokenset"),
        expr(
          """aggregate(
               transform(tokens, t -> md5(t)),
               array_repeat(0, 32),
               (acc, d) -> zip_with(acc,
                 transform(sequence(0, 31), j ->
                   CASE WHEN substring(d, j + 1, 1) IN ('8','9','a','b','c','d','e','f')
                        THEN 1 ELSE -1 END),
                 (x, y) -> x + y),
               acc -> concat_ws('', transform(acc, s ->
                 CASE WHEN s > 0 THEN '1' ELSE '0' END)))""").as("k_simhash"),
      )
      .localCheckpoint() // three method aggregates read this one pass
    val totals = keyed.agg(count(lit(1)), sum(col("n_chars"))).head()
    val (nDocs, nChars) = (totals.getLong(0).toDouble, totals.getLong(1).toDouble)
    def savings(key: String, label: String) =
      keyed.groupBy(col(key))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"),
          min_by(col("n_chars"), col("doc_id")).as("kept_chars"))
        .agg(
          sum(col("cnt") - 1).as("docs_dropped"),
          sum(col("chars") - col("kept_chars")).as("chars_dropped"))
        .select(lit(label).as("method"), col("docs_dropped"), col("chars_dropped"))
    savings("k_exact", "1_exact_text")
      .unionByName(savings("k_tokenset", "2_token_set"))
      .unionByName(savings("k_simhash", "3_simhash"))
      .withColumn("docs_pct", round(col("docs_dropped") / lit(nDocs), 6))
      .withColumn("chars_pct", round(col("chars_dropped") / lit(nChars), 6))
      .orderBy(col("method"))
  }

  /** Incremental dedup — the daily 100-TB job: a NEW shard (documents
    * with doc_id divisible by 10 stand in for today's arrivals) deduped
    * against the HISTORICAL
    * manifest (the rest of the corpus) without ever touching historical
    * documents — history participates only as its distinct 16-byte
    * fingerprint set, exactly what a dedup manifest table stores. Per
    * new document: is it a duplicate of history (fingerprint join), is
    * it first within its shard (window min), and the composed keep
    * verdict. One window shuffle + one digest join; at scale the
    * manifest is the bucketed-by-fp table this engine's storage tier
    * already demonstrates, so the join co-locates without a shuffle —
    * and a Bloom of the manifest ([[graft.operators.CorpusOps.bloomDecontaminate]]'s
    * pattern) prefilters the shard map-side when even the digest join is
    * too much.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val fp = md5(concat_ws(" ",
      array_sort(array_remove(array_distinct(split(col("text"), " ")), ""))))
    val docs = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), fp.as("fp"))
    val history = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("fp")).distinct()
      .withColumn("in_history", lit(true))
    val w = Window.partitionBy(col("fp"))
    docs.filter(col("doc_id") % 10 === 0)
      .withColumn("shard_rep", min(col("doc_id")).over(w))
      .join(history, Seq("fp"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("in_history"), lit(false)).as("dup_of_history"),
        (col("doc_id") === col("shard_rep")).as("shard_first"),
        (coalesce(col("in_history"), lit(false)) === false
          && col("doc_id") === col("shard_rep")).as("keep"),
      )
      .orderBy(col("doc_id"))
  }

  /** ML-3 at the canonical-form tier: dedup by the md5 of the SORTED
    * DISTINCT token set. Catches reordered/shuffled near-copies that
    * byte-exact hashing misses (this corpus is full of them: 500 docs →
    * 446 token sets at sf0.01) with the SAME scale shape as hashDedup —
    * one map-side fingerprint, one group-by on a 16-byte digest, no
    * pairwise stage at all. Pairwise similarity (MinHash & co) is only
    * worth its candidate-pair cost for *partial* overlap; whole-set
    * equivalence belongs in a canonical-fingerprint group-by.
    */
  def tokensetDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir).select(col("text"), col("doc_id")))
      .select(
        md5(concat_ws(" ",
          array_sort(array_remove(array_distinct(split(col("text"), " ")), ""))))
          .as("tokenset_md5"),
        col("doc_id"))
      .groupBy(col("tokenset_md5"))
      .agg(min(col("doc_id")).as("surviving_doc_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("tokenset_md5"))

  /** Cross-SOURCE duplication matrix: for every duplicate token-set
    * group, who holds the canonical copy (the min-doc_id member, the
    * dedup survivor convention) and which sources contribute the
    * redundant members — the "who copies from whom" curation readout
    * that decides which feed to deprioritize. Deliberately LINEAR, not
    * pairwise: members attribute to their group's one canonical row via
    * an equi-join on the 16-byte digest, so a cell (a, b) counts source
    * b's docs that duplicate a canonical doc of source a and the whole
    * matrix costs one fingerprint pass + one keyed join at 100 TB.
    */
  def sourceDedupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text")))
      .select(
        md5(concat_ws(" ",
          array_sort(array_remove(array_distinct(split(col("text"), " ")), ""))))
          .as("fp"),
        col("doc_id"), col("source"))
      .localCheckpoint() // feeds the canonical pick AND the member join
    val canon = fp.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("source"))).as("c"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("fp").as("cfp"), col("c.doc_id").as("canon_id"),
        col("c.source").as("canon_source"))
    fp.join(canon,
        col("fp") === col("cfp") && col("doc_id") =!= col("canon_id"))
      .groupBy(col("canon_source"), col("source").as("dup_source"))
      .agg(count(lit(1)).as("n_dup_docs"))
      .orderBy(col("canon_source"), col("dup_source"))
  }

  /** Cross-lingual contamination audit: token-set fingerprints that
    * appear under MORE THAN ONE language tag — the mislabeled-language
    * detector run before per-language dedup or mixture sampling trusts
    * the `lang` column (a fingerprint shared by an "en" and a "zh" row
    * means one of the labels is wrong, or the text is language-free
    * boilerplate that per-lang pipelines will double-count). Same scale
    * shape as [[tokensetDedup]]: one map-side fingerprint, one group-by
    * on the 16-byte digest carrying a bounded language set — no
    * pairwise stage, nothing keyed on document count.
    */
  def crosslangDups(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir)
        .select(col("text"), col("lang"), col("doc_id")))
      .select(
        md5(concat_ws(" ",
          array_sort(array_remove(array_distinct(split(col("text"), " ")), ""))))
          .as("tokenset_md5"),
        col("lang"), col("doc_id"))
      .groupBy(col("tokenset_md5"))
      .agg(countDistinct(col("lang")).as("n_langs"),
        count(lit(1)).as("n_docs"),
        array_join(array_sort(collect_set(col("lang"))), ",").as("langs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_langs") >= 2)
      .orderBy(col("tokenset_md5"))

  /** Hapax-legomena audit per source: how much of each source's text is
    * once-in-the-corpus vocabulary — the unique-ID/serial-number/noise
    * pollution detector (the same failure a Heaps β near 1 flags at the
    * growth-curve level, here localized to sources and documents).
    * One hash aggregate builds the global term spectrum, the hapax set
    * filters it, and a LEFT SEMI equi-join on term marks the hapax
    * occurrences — the join key is a term string, never a document, and
    * the semi-join shrinks the stream instead of widening it. Rates are
    * exact BIGINT ratios with one final division per source row. */
  def hapaxDocs(spark: SparkSession, dir: String): DataFrame = {
    // everything reads the shared tf cache (the old version re-ckpt'd
    // the already-cached docTerms — a wasted copy action — and
    // re-tokenized the corpus a second time for the per-doc lengths):
    // corpus frequency = sum(tf); a hapax term has exactly one
    // occurrence, so hapax rows per doc = hapax occurrences per doc;
    // doc length = sum of its term counts. The doc universe (zero-token
    // docs included) is a 2-column parquet scan that never reads text.
    val tf = docTf(spark, dir)
    val hapax = tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("n"))
      .filter(col("n") === 1)
      .select(col("term"))
    val perDoc = tf.join(hapax, Seq("term"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hapax"))
    val lens = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_tokens"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(lens, Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_hapax", coalesce(col("n_hapax"), lit(0L)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_hapax")).as("total_hapax"),
        round(sum(col("n_hapax")) / sum(col("n_tokens")).cast("double"), 6)
          .as("hapax_rate"),
        sum(when(col("n_hapax") > 0, 1L).otherwise(0L)).as("docs_with_hapax"),
        max(col("n_hapax")).as("max_hapax"),
      )
      .orderBy(col("source"))
  }

  /** One rank-1 ALS half-sweep over the implicit (customer, part,
    * quantity) rating matrix derived from order lines — the training
    * STEP of a matrix-factorization recommender expressed as relational
    * algebra. With item factors initialized to 1, the ridge-regularized
    * user solve collapses to u_c = Σr / (n_c + λ): exact integer sums
    * over one hash aggregate. The item half-sweep then solves
    * v_p = Σ(r·u) / (λ + Σu²) — ratings keyed by user join the (already
    * user-sized) factor table, then one hash aggregate keyed by part.
    * At 100 TB both halves are single shuffles on the natural keys
    * (user, then item); nothing iterates driver-side, and a full ALS
    * run is this step under the repo's localCheckpoint loop discipline.
    * Output: the top 20 items by learned factor (rank window), with the
    * support counts that explain them.
    */
  /** Inverted-index construction: per-term posting lists for the top
    * `topTerms` document-frequency terms, each list capped to its first
    * `cap` doc ids — the index-build stage of a search/retrieval
    * pipeline expressed as a query. Shape: the (doc, term) explode is
    * the corpus pass; postings shuffle keyed by TERM (the index key,
    * exactly how a distributed index partitions); the per-term cap is a
    * rank-filter (WindowGroupLimit) so no reducer ever buffers a full
    * stopword posting list — the skew guard an uncapped collect_list
    * lacks. Lists render as csv of sorted ids (array cells don't
    * hash-compare cross-engine).
    */
  def invertedIndex(spark: SparkSession, dir: String,
      topTerms: Int = 20, cap: Int = 10): DataFrame = {
    val dt = docTermsDistinct(spark, dir) // df + postings
    val top = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // top-terms cut as sort+limit (TakeOrderedAndProject — per-partition
    // heaps + merge of ≤topTerms rows each), NOT a global rank window:
    // the df table is vocab-sized, and a windowed rank would funnel all
    // of it through one task before the cliff filter
    val kept = top.orderBy(col("df").desc, col("term")).limit(topTerms)
    val byDoc = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    dt.join(Tables.maybeBroadcast(kept), Seq("term"))
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") <= cap)
      .groupBy(col("term"), col("df"))
      .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
        x => x.cast("string")), ",").as("postings"))
      .orderBy(col("df").desc, col("term"))
  }

  /** Market-basket association rules over co-ordered parts: support,
    * directional confidence, and lift for every part pair appearing in
    * ≥ `minPairs` orders. The pair space never materializes globally —
    * baskets self-join on the ORDER key, so fan-out is bounded by
    * basket size squared (TPC-H orders hold ~4 lines), and the pair
    * aggregate shuffles (a, b) count cells. Item supports join back by
    * broadcast (item dimension ≪ pair table). Counts stay integral
    * until the three final divisions; the top-50 cliff ranks on the
    * ROUNDED lift with the pair as tie-break.
    */
  /** Session-cached distinct (order, item) basket table — the base of
    * both the association-rule miner and the k-core co-purchase graph.
    */
  private[graft] def baskets(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "baskets") {
      Tables.fanOut(
          Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")))
        .select(col("l_orderkey").as("o"), col("l_partkey").as("item"))
        .distinct()
    }

  /** Session-cached full basket-pair count table (a < b, every observed
    * pair): [[assocRules]] and the k-core peel both threshold THIS one
    * self-join instead of each paying it — the pair space stays bounded
    * by basket size squared, keyed on the order. */
  private[graft] def basketPairs(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.frame(spark, dir, "basketPairs") {
      val b = baskets(spark, dir)
      b.select(col("o"), col("item").as("a_item"))
        .join(b.select(col("o"), col("item").as("b_item")), Seq("o"))
        .filter(col("a_item") < col("b_item"))
        .groupBy(col("a_item"), col("b_item"))
        .agg(count(lit(1)).as("c_ab"))
    }

  def assocRules(spark: SparkSession, dir: String,
      minPairs: Int = 3): DataFrame = {
    val basket = baskets(spark, dir)
    val nOrders = basket.select(col("o")).distinct().count()
    val support = basket.groupBy(col("item")).agg(count(lit(1)).as("c"))
    val pairs = basketPairs(spark, dir).filter(col("c_ab") >= minPairs)
    val scored = pairs
      .join(Tables.maybeBroadcast(support.select(col("item").as("a_item"),
        col("c").as("c_a"))), Seq("a_item"))
      .join(Tables.maybeBroadcast(support.select(col("item").as("b_item"),
        col("c").as("c_b"))), Seq("b_item"))
      .withColumn("conf_ab", round(col("c_ab") / col("c_a").cast("double"), 6))
      .withColumn("conf_ba", round(col("c_ab") / col("c_b").cast("double"), 6))
      .withColumn("lift", round(col("c_ab") * lit(nOrders) /
        (col("c_a") * col("c_b")).cast("double"), 6))
    // the top-50 cliff is sort+limit FIRST (TakeOrderedAndProject, no
    // global-rank funnel of the whole pair table through one task);
    // only the ≤50 survivors see the rank window that materializes `rk`
    val byLift = Window.orderBy(col("lift").desc, col("a_item"), col("b_item"))
    scored.orderBy(col("lift").desc, col("a_item"), col("b_item")).limit(50)
      .withColumn("rk", row_number().over(byLift))
      .select(col("rk"), col("a_item"), col("b_item"), col("c_ab"),
        col("c_a"), col("c_b"), col("conf_ab"), col("conf_ba"), col("lift"))
      .orderBy(col("rk"))
  }

  /** One full-batch logistic-regression gradient step — "training as a
    * dataflow", the same one-deterministic-iteration pattern as
    * [[alsRank1Step]] and kmeansStep. Model: P(lang = 'en' | doc) over
    * three scaled quality features (token count, type-token ratio,
    * char count). Starting at w = 0 the sigmoid is EXACTLY 0.5, so the
    * first gradient g_j = Σ (0.5 − y)·x_j / n involves no
    * transcendentals at all; the post-step log-loss and accuracy under
    * w₁ = −lr·g are the only exp() sites and are rounded before
    * emission. Two passes over the feature frame (gradient, then loss),
    * both all-partial hash aggregates; the learned weights travel as
    * driver literals (4 bounded scalars — the nDocs pattern above), so
    * the scoring pass has no 1-row join stage.
    */
  def logisticStep(spark: SparkSession, dir: String, lr: Double = 1.0): DataFrame = {
    val toks = array_remove(split(col("text"), " "), "")
    val feats = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text"), col("n_chars")))
      .select(
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        (size(toks).cast("double") * 0.01).as("x1"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("x2"),
        (col("n_chars") * 0.001).as("x3"),
      )
      .localCheckpoint() // feeds the gradient pass AND the scoring pass
    val g = feats.agg(
        count(lit(1)).as("n"),
        (sum((lit(0.5) - col("y")) * 1.0) / count(lit(1))).as("g0"),
        (sum((lit(0.5) - col("y")) * col("x1")) / count(lit(1))).as("g1"),
        (sum((lit(0.5) - col("y")) * col("x2")) / count(lit(1))).as("g2"),
        (sum((lit(0.5) - col("y")) * col("x3")) / count(lit(1))).as("g3"),
      ).head()
    val w = Array(1, 2, 3, 4).map(i => -lr * g.getDouble(i))
    val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    feats
      .select(col("y"), p.as("p"))
      .agg(
        round(avg(-(col("y") * log(col("p")) + (lit(1.0) - col("y")) * log(lit(1.0) - col("p")))), 6)
          .as("log_loss"),
        round(avg(when((col("p") >= 0.5) === (col("y") === 1.0), 1.0).otherwise(0.0)), 6).as("acc"),
      )
      .select(
        round(lit(w(0)), 6).as("w0"), round(lit(w(1)), 6).as("w1"),
        round(lit(w(2)), 6).as("w2"), round(lit(w(3)), 6).as("w3"),
        col("log_loss"), col("acc"),
      )
  }

  /** Mutual information between binned quality features and the
    * language label — the feature-selection ranking read before a
    * classifier is trained (MI sees non-monotone dependence a
    * correlation coefficient misses). Each feature is cut into exact
    * deciles via the distributed ntile (parallel range shuffle, no
    * single-partition sort); the (bin, label) contingency cells, their
    * margins, and MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) all live on
    * bounded tables (≤20 cells per feature) with exact integer counts —
    * the log argument is one integer cross-multiply per cell.
    */
  def mutualInformation(spark: SparkSession, dir: String): DataFrame = {
    val toks = array_remove(split(col("text"), " "), "")
    val f = Tables.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars")))
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        size(toks).cast("long").as("ntok"), col("n_chars"))
      .localCheckpoint() // feeds one ntile pass per feature
    def binned(feature: String, c: org.apache.spark.sql.Column): DataFrame =
      graft.operators.BehaviorOps.distributedNtile(f, 10, "bin")(c, col("doc_id"))
        .select(lit(feature).as("feature"), col("bin").cast("long").as("bin"), col("y"))
    val cells = binned("n_chars", col("n_chars"))
      .unionAll(binned("n_tokens", col("ntok")))
      .groupBy(col("feature"), col("bin"), col("y"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // margins re-aggregate THIS bounded table
    val bm = cells.groupBy(col("feature"), col("bin")).agg(sum(col("c")).as("cb"))
    val ym = cells.groupBy(col("feature"), col("y")).agg(sum(col("c")).as("cy"))
    val tot = cells.groupBy(col("feature")).agg(sum(col("c")).as("n"))
    cells
      .join(Tables.maybeBroadcast(bm), Seq("feature", "bin"))
      .join(Tables.maybeBroadcast(ym), Seq("feature", "y"))
      .join(Tables.maybeBroadcast(tot), Seq("feature"))
      .groupBy(col("feature"))
      .agg(round(sum(col("c") * lit(1.0) / col("n") *
        log(col("c") * lit(1.0) * col("n") / (col("cb") * col("cy")))), 6).as("mi_nats"))
      .orderBy(col("feature"))
  }

  def alsRank1Step(spark: SparkSession, dir: String,
      lambda: Double = 1.0): DataFrame = {
    val ratings = Tables.fanOut(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"),
        col("l_quantity").cast("long").as("r"))
      // the rating matrix feeds the user solve AND the item half-sweep;
      // without the materialization the scan + order join ran twice
      // (the r16 before-plan shows the whole subtree duplicated)
      .localCheckpoint()
    val users = ratings.groupBy(col("user"))
      .agg((sum(col("r")) / (count(lit(1)) + lit(lambda))).as("u"))
    val items = ratings.join(users, Seq("user"))
      .groupBy(col("item"))
      .agg(
        count(lit(1)).as("n_ratings"),
        sum(col("r")).as("sum_r"),
        (sum(col("r") * col("u")) / (lit(lambda) + sum(col("u") * col("u"))))
          .as("v"),
      )
    // rank on the ROUNDED factor (item tie-break): raw double sums can
    // differ at ulp level cross-engine, and a rank cliff on an unrounded
    // key would flip membership of the top-20 between engines. The cliff
    // itself is sort+limit (TakeOrderedAndProject) so the item-factor
    // table never funnels through a single-partition rank window; only
    // the ≤20 survivors get `rk` materialized
    val byFactor = Window.orderBy(col("v_factor").desc, col("item"))
    items
      .withColumn("v_factor", round(col("v"), 6))
      .orderBy(col("v_factor").desc, col("item")).limit(20)
      .withColumn("rk", row_number().over(byFactor))
      .select(col("rk"), col("item"), col("n_ratings"), col("sum_r"), col("v_factor"))
      .orderBy(col("rk"))
  }

  /** Decision-stump training (1R / depth-1 CART): pick the `value`
    * threshold that best splits purchases from the rest by weighted Gini
    * impurity. All 9 candidate splits evaluate in ONE scan — each
    * candidate is a conditional-count pair in a single aggregate row, so
    * training cost is one map-side-combined pass regardless of how many
    * thresholds the grid carries (the column-per-candidate trick; a
    * per-candidate scan or a threshold×events join would be the 100-TB
    * anti-pattern). The impurity per candidate assembles row-locally
    * from exact BIGINT counts — 2·p·(n−p)/n per side, two deterministic
    * divisions and one fixed-order add — and the argmin ranks on the
    * 6-dp-rounded key with the threshold as tie-break (the repo's
    * rank-on-rounded-keys convention). The candidate frame is 9 literal
    * rows exploded from the aggregate row itself (never a 1-row cross
    * join), so the rank window is bounded by the grid, not the data.
    */
  def decisionStump(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ths = 50 to 450 by 50
    val isPos = when(col("event_type") === "purchase", 1L).otherwise(0L)
    val aggCols = Seq(
      count(lit(1)).as("n"), sum(isPos).as("p")) ++
      ths.flatMap { t =>
        Seq(
          sum(when(col("value") <= t, 1L).otherwise(0L)).as(s"nl_$t"),
          sum(when(col("value") <= t, isPos).otherwise(0L)).as(s"pl_$t"))
      }
    val agg = Tables.fanOut(
        Tables.events(spark, dir).select(col("event_type"), col("value")))
      .agg(aggCols.head, aggCols.tail: _*)
    val cand = agg.select(col("n"), col("p"),
        explode(array(ths.map(t => struct(lit(t.toLong).as("th"),
          col(s"nl_$t").as("nl"), col(s"pl_$t").as("pl"))): _*)).as("c"))
      .select(
        col("c.th").as("threshold"),
        col("c.nl").as("n_left"), col("c.pl").as("pos_left"),
        (col("n") - col("c.nl")).as("n_right"),
        (col("p") - col("c.pl")).as("pos_right"))
      .where(col("n_left") > 0 && col("n_right") > 0)
      .withColumn("gini", round(
        lit(2.0) * col("pos_left") * (col("n_left") - col("pos_left")) / col("n_left")
          + lit(2.0) * col("pos_right") * (col("n_right") - col("pos_right")) / col("n_right"),
        6))
    val byGini = Window.orderBy(col("gini"), col("threshold"))
    cand
      .withColumn("is_best", rank().over(byGini) === 1)
      .orderBy(col("threshold"))
  }
}
