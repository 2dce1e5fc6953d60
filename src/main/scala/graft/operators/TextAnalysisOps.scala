package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{fingerprint, freqItems, ngramPos}
import graft.model.Tables

/** Corpus text analysis for training-data pipelines: language-ID
  * heuristic, quality scoring, token counting, document fingerprinting.
  * Every score is a pure per-row Column expression (map-only, no shuffle
  * except explicit final aggregations) so the pass parallelizes linearly
  * with input splits.
  */
object TextAnalysisOps {

  private def tokens = split(col("text"), " ")

  /** Stopword-membership language-ID heuristic: count stopword hits per
    * candidate language, pick the max with a fixed priority order for
    * ties. (On real corpora the lists are per-language frequency tables;
    * the mechanism — token membership scoring — is the operator.)
    */
  def langProfile(spark: SparkSession, dir: String): DataFrame = {
    def hits(words: Seq[String]) = words
      .map(wd => array_contains(tokens, wd).cast("int"))
      .reduce(_ + _)
    Tables.documents(spark, dir)
      .withColumn("s_en", hits(Seq("the", "a", "is", "of")))
      .withColumn("s_es", hits(Seq("el", "la", "los", "de")))
      .withColumn("s_de", hits(Seq("der", "das", "und", "ist")))
      .withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
      .select(col("doc_id"), col("s_en"), col("s_es"), col("s_de"), col("predicted"))
      .orderBy(col("doc_id"))
  }

  /** Quality score: token count (capped contribution) + inverse stopword
    * ratio, the length/stopword components of a C4-style quality filter.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", array_remove(tokens, ""))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_hits", size(expr("filter(toks, t -> t = 'the' OR t = 'a')")))
      // quality is computed from the RAW ratio, not the rounded one: a
      // 6-dp-rounded ratio halved lands on exact decimal halves at the
      // 7th digit, where Spark's BigDecimal rounding and other engines'
      // multiply-then-round disagree by 1 ulp.
      .withColumn("stop_ratio", round(col("stop_hits") / col("n_tokens"), 6))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tokens") / lit(100.0)) * 0.5
          + (lit(1.0) - col("stop_hits") / col("n_tokens")) * 0.5, 6))
      .select(col("doc_id"), col("n_tokens"), col("stop_hits"),
        col("stop_ratio"), col("quality"))
      .orderBy(col("doc_id"))

  /** Quality-vs-duplication lift — does duplication concentrate in
    * low-quality documents (the usual hope: dedup doubles as a quality
    * filter) or uniformly (dedup and quality filtering are independent
    * passes)? Every document joins its token-set group size, buckets
    * into unique / 2-4 / 5+, and each bucket reports exact counts plus
    * a mean quality computed from per-row integer micro-units
    * (round(quality·10⁶) summed as BIGINT — the money-cents discipline
    * applied to scores) so the bucket means are hash-stable under any
    * partitioning. One fingerprint aggregate + one digest-keyed join.
    */
  def qualityDupLift(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          array_sort(array_remove(array_distinct(split(col("text"), " ")), ""))))
          .as("fp"))
      .localCheckpoint() // feeds the group census AND the doc join
    val groups = fp.groupBy(col("fp")).agg(count(lit(1)).as("dup_count"))
      .select(col("fp").as("gfp"), col("dup_count"))
    val q = qualityScore(spark, dir).select(col("doc_id"), col("quality"))
    fp.join(groups, col("fp") === col("gfp"))
      .join(q, Seq("doc_id"))
      .select(
        when(col("dup_count") === 1, "unique")
          .when(col("dup_count") <= 4, "2-4").otherwise("5+").as("dup_bucket"),
        round(col("quality") * 1e6, 0).cast("long").as("q_micro"))
      .groupBy(col("dup_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q_micro")).as("q_micro_sum"))
      .withColumn("mean_quality",
        round(col("q_micro_sum") / (col("n_docs") * 1000000.0), 6))
      .orderBy(col("dup_bucket"))
  }

  /** Token counting two ways: whitespace split and regex word extraction
    * (the BPE-ish pre-tokenizer count). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("re_tokens"),
        length(col("text")).as("n_chars_actual"),
      )
      .orderBy(col("doc_id"))

  /** Lexical-diversity quality metrics: per-document Shannon entropy of
    * the token distribution and the type-token ratio. Entropy uses the
    * algebraic identity H = ln(n) − Σ tf·ln(tf)/n so the whole metric is
    * one grouped aggregate over the (doc, term) counts — no second pass
    * to form probabilities. Low entropy (relative to length) flags
    * repetitive boilerplate the same way [[graft.operators.CorpusOps]]'s
    * repetition ratio does, but from the distribution rather than from
    * specific repeated bigrams. Two chained hash aggs, both keyed on
    * doc_id — map-side partials all the way at scale.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    MlOps.docTf(spark, dir) // shared session-cached (doc, term, tf)
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(log(sum(col("tf"))) -
          sum(col("tf") * log(col("tf"))) / sum(col("tf")), 6).as("entropy"),
        round(count(lit(1)) / sum(col("tf")).cast("double"), 6).as("ttr"),
      )
      .orderBy(col("doc_id"))

  /** Corpus n-gram diversity report — the Self-BLEU-style repetition
    * summary at corpus grain: for n = 1..3, total positional word
    * n-grams vs distinct n-grams and their ratio. Collapsing diversity
    * across n is the first symptom of a template-generated or
    * over-duplicated corpus. Each n level is a map-only expansion into
    * one count + count-distinct aggregate; the three levels union into
    * a 3-row report.
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    // one corpus pass for all three levels: the old per-level union
    // re-scanned + re-tokenized the corpus three times and planned a
    // separate two-exchange count-distinct per level; tagging each gram
    // with its n and grouping by it shares the scan, the tokenize, and
    // the aggregation machinery (guide §1.2: don't pay passes you can
    // fuse). Values are unchanged — same grams, same per-n counts.
    graft.model.Tables.fanOut(
        graft.model.Tables.documents(spark, dir).select(col("text")))
      .withColumn("toks", array_remove(split(col("text"), " "), ""))
      .select(explode(expr(
        """flatten(transform(array(1, 2, 3), n ->
             CASE WHEN size(toks) >= n THEN
               transform(sequence(1, size(toks) - n + 1),
                 i -> struct(n AS n, concat_ws(' ', slice(toks, i, n)) AS gram))
             ELSE array() END))""")).as("g"))
      .select(col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("total_grams"),
        countDistinct(col("gram")).as("distinct_grams"))
      .select(col("n"), col("total_grams"), col("distinct_grams"),
        round(col("distinct_grams") / col("total_grams").cast("double"), 6)
          .as("diversity"))
      .orderBy(col("n"))
  }

  /** Zipf rank-frequency fit over the corpus vocabulary: regress
    * ln(frequency) on ln(rank) and report the slope (the Zipf exponent,
    * ≈ −1 for natural language — a flat slope means a synthetic or
    * truncated vocabulary), intercept, and R². The vocabulary is
    * aggregated first, so the regression runs over vocabulary-sized
    * input (the unpartitioned rank window is bounded by |V|, not data);
    * `regr_*` aggregates are moment-based and mergeable, identical
    * algebra in any engine at 4 dp.
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("n").desc, col("term"))
    MlOps.docTerms(spark, dir)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
      .agg(
        count(lit(1)).as("n_terms"),
        round(expr("regr_slope(y, x)"), 4).as("zipf_slope"),
        round(expr("regr_intercept(y, x)"), 4).as("intercept"),
        round(expr("regr_r2(y, x)"), 4).as("r2"),
      )
  }

  /** Heaps'-law fit per source: vocabulary growth V(n) ≈ k·n^β as the
    * corpus streams in — the companion shape fingerprint to the Zipf
    * rank-frequency fit ([[zipfFit]]): natural text grows vocabulary
    * sublinearly (β ≈ 0.4–0.6); β near 0 flags a template corpus, β
    * near 1 flags noise/unique-ID pollution. The expanding-window
    * distinct count that makes this expensive naively is rewritten with
    * the FIRST-OCCURRENCE trick: one hash aggregate finds each term's
    * first document (min doc_id), a second counts new terms per
    * document, and the cumulative vocabulary is then a plain running
    * sum — every window is PARTITIONED BY source (keyed, never global)
    * and the regression over (ln n, ln V) is the mergeable moment-based
    * `regr_*` family, identical algebra in any engine at 4 dp. */
  def heapsFit(spark: SparkSession, dir: String): DataFrame = {
    // the old version tokenized the corpus TWICE (the unmaterialized
    // `docs` fed both the first-seen aggregate and the per-doc length
    // row) — both facts now read the shared token-event cache: per-doc
    // non-empty token count = rows per doc in the cache (same filter),
    // first-seen = the same min-doc aggregate. The doc universe (which
    // must keep zero-token documents the cache necessarily drops) is a
    // 2-column parquet scan that never touches `text`.
    val wide = MlOps.docTermsWide(spark, dir)
      .select(col("source"), col("doc_id"), col("term"))
    val perDoc = wide.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTerms = wide
      .groupBy(col("source"), col("term"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("new_terms"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir).select(col("source"), col("doc_id"))
      .join(perDoc, Seq("source", "doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .join(newTerms, Seq("source", "doc_id"), "left")
      .withColumn("new_terms", coalesce(col("new_terms"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("new_terms")).over(w))
      .filter(col("cum_tokens") > 0)
      .select(col("source"),
        log(col("cum_tokens").cast("double")).as("x"),
        log(col("cum_vocab").cast("double")).as("y"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr("regr_slope(y, x)"), 4).as("heaps_beta"),
        round(exp(expr("regr_intercept(y, x)")), 4).as("heaps_k"),
        round(expr("regr_r2(y, x)"), 4).as("r2"),
      )
      .orderBy(col("source"))
  }

  /** Per-language heavy-hitter tokens via the Misra–Gries sketch
    * ([[graft.expr.FreqItemsAgg]]): constant memory per group no matter
    * the vocabulary size — the sketch answer to "what dominates this
    * corpus" that an exact term count (full-vocabulary shuffle) cannot
    * give at 100 TB. Candidates below the n/(k+1) guarantee are
    * processing-order dependent, so the query is oracle-free (rows-only:
    * one row per language regardless).
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    MlOps.docTermsWide(spark, dir)
      .select(col("lang"), col("term"))
      .groupBy(col("lang"))
      .agg(array_join(
        freqItems(col("term"), 10), ",").as("heavy_hitters"))
      .orderBy(col("lang"))
  }

  /** Oracle-facing audit of [[heavyHitters]] — the Misra–Gries
    * conversion in the `q_hll_union` pattern: the candidate set below
    * the n/(k+1) threshold is processing-order dependent, but the
    * GUARANTEED part is not — every term with exact frequency
    * > n/(k+1) must appear among the sketch's k candidates under any
    * partitioning. So the oracle row is (lang, exact token count, the
    * exact over-threshold term list — both DuckDB-computable) plus the
    * deterministic containment boolean. The exact side is one extra
    * (lang, term) hash aggregate over the SAME exploded frame the
    * sketch consumes (checkpointed once); at 100 TB the audit would
    * sample, the sketch path alone stays constant-memory.
    */
  def heavyHittersAudit(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    // the cached token stream feeds the sketch AND the exact census
    val terms = MlOps.docTermsWide(spark, dir).select(col("lang"), col("term"))
    val sk = terms.groupBy(col("lang"))
      .agg(freqItems(col("term"), k).as("cands"),
        count(lit(1)).as("n_tokens"))
    val guaranteed = terms.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
      .join(sk.select(col("lang").as("sk_lang"), col("n_tokens"), col("cands")),
        col("lang") === col("sk_lang"))
      .filter(col("c") * (k + 1) > col("n_tokens"))
      .groupBy(col("lang"))
      .agg(array_join(sort_array(collect_list(col("term"))), ",")
          .as("guaranteed_terms"),
        min(when(array_contains(col("cands"), col("term")), 1L).otherwise(0L))
          .as("all_in"))
    sk.join(guaranteed, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_tokens"),
        coalesce(col("guaranteed_terms"), lit("")).as("guaranteed_terms"),
        (coalesce(col("all_in"), lit(1L)) === 1L).as("mg_ok"))
      .orderBy(col("lang"))
  }

  /** Positional-checksum document fingerprint:
    * sum_i ascii(text[i]) * i (1-based) mod 1e9+7 — the shape of a
    * rolling hash, with a sum that any engine reproduces exactly in
    * int64. Computed by the native [[graft.expr.Fingerprint]] kernel: one
    * O(d) byte walk per document in generated code, replacing the
    * equivalent-but-O(d²) interpreted fold
    * `aggregate(sequence(1, length(text)), ..., acc + ascii(substring(text, i, 1)) * i)`
    * whose every `substring` re-scans the string to find char i.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the per-character walk below is the per-row CPU hot spot of
    // the whole text tier, and the single-split scan would run it in one
    // task
    Tables.fanOut(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("fingerprint", fingerprint(col("text")))
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Per-source readability profile — the Flesch reading-ease family of
    * corpus-quality filters: sentences from punctuation runs, words from
    * whitespace tokens, syllables approximated by vowel GROUPS per word
    * (the standard regex surrogate — exact syllabification needs a
    * dictionary; vowel runs are deterministic and engine-portable).
    * Everything is a per-row regexp_count (map-only, codegen'd), the
    * corpus reduces to per-source integer sums, and the Flesch formula
    * 206.835 − 1.015·(W/S) − 84.6·(Sy/W) is applied once per source on
    * exact aggregate counts — never per document, so per-doc rounding
    * can't accumulate.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(
        col("source"),
        // a trailing sentence without closing punctuation still counts:
        // segments = punctuation runs + 1 when text ends unpunctuated
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).as("sents"),
        size(array_remove(split(col("text"), " "), "")).as("words"),
        regexp_count(col("text"), lit("[aeiou]+")).as("sylls"),
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("sents")).cast("bigint").as("sentences"),
        sum(col("words")).cast("bigint").as("words"),
        sum(col("sylls")).cast("bigint").as("syllables"),
      )
      .withColumn("words_per_sentence",
        round(col("words").cast("double") / col("sentences"), 4))
      .withColumn("syllables_per_word",
        round(col("syllables").cast("double") / col("words"), 4))
      .withColumn("flesch", round(
        lit(206.835)
          - lit(1.015) * (col("words").cast("double") / col("sentences"))
          - lit(84.6) * (col("syllables").cast("double") / col("words")), 4))
      .orderBy(col("source"))

  /** Corpus-driven stopword discovery: terms present in over half the
    * documents, with their document-share and corpus-mass share — the
    * data-derived list an indexer or TF-IDF consumer prunes instead of
    * shipping someone else's language-specific table. One tokenize pass
    * feeds both frequency views (term and distinct-doc counts share the
    * exploded frame); the corpus scalars travel as bounded driver values;
    * the threshold is an integer cross-multiply (df·2 > N), so no float
    * share can flip membership.
    */
  def stopwordDiscovery(spark: SparkSession, dir: String): DataFrame = {
    // ONE aggregate over the cached token stream carries cf AND df —
    // the old separate tf/dfreq aggregates scanned the stream twice and
    // paid an extra join to glue them back
    val tok = MlOps.docTerms(spark, dir).select(col("doc_id"), col("term").as("t"))
    val stats = tok.groupBy(col("t"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .localCheckpoint() // vocab-bounded; feeds the mass scalar + output
    val nDocs = Tables.documents(spark, dir).count() // metadata count
    val mass = stats.agg(sum(col("cf"))).head().getLong(0) // vocab-bounded scalar
    stats
      .filter(col("df") * 2 > nDocs)
      .select(col("t").as("term"), col("df"), col("cf"),
        round(col("df") * lit(1.0) / nDocs, 6).as("doc_share"),
        round(col("cf") * lit(1.0) / mass, 6).as("mass_share"))
      .orderBy(col("df").desc, col("term"))
  }

  /** KWIC (keyword-in-context) concordance: every occurrence of a probe
    * term across the corpus with its ±`ctx`-token window — the
    * annotation/QA view a corpus linguist or red-teamer reads next to
    * the aggregate term stats. One tokenize + posexplode pass (map-side
    * fan-out, no shuffle until the final presentation sort); the context
    * slice is array arithmetic on the ALREADY-tokenized row, so the text
    * is never re-scanned per hit. At 100 TB the presentation `orderBy`
    * would be replaced by the consumer's pagination — the hit extraction
    * itself is embarrassingly parallel.
    */
  def kwic(spark: SparkSession, dir: String,
      probe: String = "spark", ctx: Int = 2): DataFrame = {
    // explode only the MATCHING positions: the old posexplode emitted
    // one generator row per token — each dragging the full `toks` array
    // along — just to filter almost all of them away. The indexed
    // transform+filter finds match positions inside the row, so the
    // Generate fan-out is |matches|, not |tokens| (guide §2.3: shed
    // bytes before they exist; the array is materialized once per doc,
    // not once per token).
    val toks = Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("_p", lit(probe))
      .select(col("doc_id"), col("toks"), explode(expr(
        "filter(transform(toks, (t, i) -> IF(t = _p, i, -1)), i -> i >= 0)"))
        .as("p0"))
    val pos1 = col("p0") + 1 // 1-based token position
    val start = greatest(lit(1), pos1 - ctx)
    val end = least(size(col("toks")), pos1 + ctx)
    toks.select(
        col("doc_id"), pos1.cast("long").as("pos"),
        concat_ws(" ", slice(col("toks"), start, end - start + 1)).as("context"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Positional trigram census on the NATIVE generator
    * [[graft.expr.NGramPos]] (`ngram_pos(tokens, 3)` — the UDTF leg of
    * the extension surface): where in documents do repeated trigrams
    * sit? Each (pos, gram) row streams out of GenerateExec without the
    * per-document gram array a transform-then-explode spelling would
    * materialize; the census is then one hash aggregate on the gram and
    * a top-k cliff (TakeOrdered, never a global sort). Burst-repeated
    * boilerplate shows up as a tight [min_pos, max_pos] band across many
    * docs — the positional signal the span census (q_dup_ngram_spans)
    * aggregates away.
    */
  def udtfNgramCensus(spark: SparkSession, dir: String): DataFrame = {
    Tables.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("toks"))
      .select(col("doc_id"), ngramPos(col("toks"), 3).as(Seq("pos", "gram")))
      .groupBy(col("gram"))
      .agg(
        count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("pos")).as("min_pos"),
        max(col("pos")).as("max_pos"))
      .where(col("n_occ") >= 3)
      .orderBy(col("n_occ").desc, col("gram"))
      .limit(40)
  }

  /** Tokenizer fertility by language — the tokenizer-efficiency metric
    * every multilingual training pipeline tracks (how many characters /
    * subword pieces one word costs per language; a high-fertility
    * language pays more sequence length for the same text). Words are
    * whitespace tokens; the subword proxy is fixed 4-char chunking
    * (ceil(len/4), the BPE-free stand-in available without a trained
    * vocab). One explode + one hash aggregate on the ≤|langs| key;
    * ratios are row-local single divisions over exact BIGINT sums. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("t"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(length(col("t")).cast("long")).as("n_chars"),
        sum(expr("(length(t) + 3) div 4").cast("long")).as("n_pieces"))
      .withColumn("chars_per_token",
        round(col("n_chars") / col("n_tokens").cast("double"), 6))
      .withColumn("pieces_per_token",
        round(col("n_pieces") / col("n_tokens").cast("double"), 6))
      .orderBy(col("lang"))
}
