package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting.
  *
  * Everything here is pure Catalyst `Column` composition over the built-in
  * string/array higher-order functions — no UDFs, so the whole pipeline
  * stays inside whole-stage codegen and scales linearly with input: no
  * shuffles, no driver round-trips, pushdown-friendly.
  */
object TextAnalysis {

  /** Whitespace tokens: strip ALL edge whitespace (Spark's `trim` strips
    * only spaces — a trailing newline would otherwise yield a bogus empty
    * token), then split on \s+; empty text -> empty array. */
  def wsTrim(text: Column): Column =
    regexp_replace(text, "^\\s+|\\s+$", "")

  def tokens(text: Column): Column = {
    val t = wsTrim(text)
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word pieces + standalone punctuation, the
    * `\w+|[^\w\s]` convention used by byte-pair pre-tokenizers. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\w]+|[^\\w\\s]"), lit(0)))

  /** Distinct-token count via the native one-pass [[graft.expressions.WordGrams]]
    * (case-preserving) — the interpreted `array_distinct` it replaces is
    * O(tokens²) per document. */
  def distinctTokenCount(text: Column): Column =
    size(graft.expressions.WordGrams.distinctTokens(text))

  /** Mean characters per token (whitespace removed / token count). */
  def avgWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") * lit(1.0) /
      tokenCount(text).cast("double")

  // --- language identification (stopword n-gram heuristic) ---

  /** Tiny per-language stopword lists; a document votes for the language
    * whose stopwords it contains most. Deliberately simple and fully
    * SQL-expressible so the operator has a DuckDB oracle. */
  val StopwordSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se", "del", "las"),
    "fr" -> Seq("le", "la", "les", "de", "et", "des", "un", "une", "du", "est"),
    "de" -> Seq("der", "die", "das", "und", "von", "zu", "den", "mit", "ist", "im")
  )

  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isInCollection(words)))

  /** Argmax over per-language stopword hit counts; first language in
    * [[StopwordSets]] order wins ties; zero hits everywhere -> "und"
    * (undetermined, BCP-47 convention). */
  def langId(text: Column): Column = {
    val hits = StopwordSets.map { case (lang, words) => lang -> stopwordHits(text, words) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val firstMax = hits.foldRight(lit("und")) { case ((lang, h), rest) =>
      when(h === best && h > 0, lit(lang)).otherwise(rest)
    }
    firstMax
  }

  // --- quality scoring ---

  def punctRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[!-/:-@\\[-`{-~]"), lit(0))).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  def digitRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  def stopwordRatio(text: Column): Column =
    stopwordHits(text, StopwordSets.head._2).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))

  // --- repetition signals (Gopher-style quality rules) ---

  /** Fraction of non-empty lines that are duplicates of an earlier line —
    * boilerplate/template pages repeat navigation and legal lines. 0.0 for
    * documents with no non-empty lines. The `lines` subtree appears three
    * times and HOFs don't participate in codegen subexpression
    * elimination, but line counts per document are tens, not thousands —
    * unlike the token-level paths this stays cheap without a native
    * expression. */
  def duplicateLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    when(size(lines) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(lines)).cast("double") / size(lines).cast("double"))
  }

  /** Fraction of tokens that repeat an earlier token (1 - distinct/total)
    * — keyword-stuffed or looping generations score high. Uses the native
    * one-pass counts. 0.0 for empty documents. */
  def repeatedTokenFraction(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        distinctTokenCount(text).cast("double") / tokenCount(text).cast("double"))

  /** Composite [0,100] heuristic quality score: reward natural word
    * lengths and stopword presence, penalize punctuation/digit soup. The
    * exact blend is this engine's own (the reference has no text ops);
    * each component is separately exposed for pipelines that want their
    * own blend. */
  def qualityScore(text: Column): Column = {
    val awl = avgWordLen(text)
    val lengthTerm = when(awl >= 3.0 && awl <= 8.0, lit(40.0))
      .otherwise(greatest(lit(0.0), lit(40.0) - abs(awl - lit(5.5)) * lit(5.0)))
    val stopTerm = least(stopwordRatio(text) * lit(200.0), lit(30.0))
    val punctTerm = greatest(lit(0.0), lit(15.0) - punctRatio(text) * lit(100.0))
    val digitTerm = greatest(lit(0.0), lit(15.0) - digitRatio(text) * lit(100.0))
    // null text must score null (engine-wide null ≡ unrankable contract);
    // without the guard, greatest/least IGNORE the null components and
    // null documents score a spurious 30.0, leaking through quality gates
    when(text.isNull, lit(null).cast("double"))
      .otherwise(lengthTerm + stopTerm + punctTerm + digitTerm)
  }

  /** Character-level Shannon entropy (bits/char) — the
    * information-density quality signal: single-character spam scores
    * 0, keyboard mash and natural prose separate cleanly, highly
    * repetitive generations sit low. Computed as a DETERMINISTIC fold
    * in SORTED-character order (`-Σ (c/n)·log2(c/n)`), so the FP result
    * is bit-reproducible across runs, partitionings, and engines (an
    * unordered sum would be arrival-order-dependent).
    *
    * Implementation is a run-length fold over the sorted character
    * array: one pass, O(len·log len) total, INDEPENDENT of alphabet
    * size — safe for CJK / mixed-script corpora with thousands of
    * distinct characters per document, where the naive
    * replace-per-distinct-char formulation degrades to
    * O(distinct·len). Each run's term is added exactly when its
    * character's run ends, i.e. in sorted-distinct-character order —
    * bit-identical to folding the sorted distinct set (the q116 oracle's
    * shape). Empty text scores 0.0; null scores null. */
  def charEntropy(text: Column): Column = {
    val n = length(text).cast("double")
    // drop empty elements: Spark's split keeps trailing empties (limit
    // -1), DuckDB's does not — filtering makes both engines agree
    val chars = array_sort(filter(split(text, ""), c => length(c) > 0))
    val ln2 = log(lit(2.0)) // constant-folded; == DuckDB ln(2) bit-exact
    // a completed run of `cnt` occurrences contributes (c/n)·log2(c/n);
    // the cnt = 0 sentinel (before the first run) contributes exact 0.0.
    // n rides IN the fold state: a lambda capturing `length(text)` would
    // re-walk the string's bytes at every run transition (the captured-
    // expression re-evaluation trap) — a state field is evaluated once.
    def term(st: Column): Column = {
      val cnt = st.getField("cnt")
      val p = cnt.cast("double") / st.getField("n")
      when(cnt > lit(0L), p * log(p) / ln2).otherwise(lit(0.0))
    }
    val st0 = struct(lit("").as("prev"), lit(0L).as("cnt"), lit(0.0).as("acc"),
      n.as("n"))
    val folded = aggregate(chars, st0,
      (st, c) => when(c === st.getField("prev"),
        struct(st.getField("prev").as("prev"),
          (st.getField("cnt") + lit(1L)).as("cnt"),
          st.getField("acc").as("acc"),
          st.getField("n").as("n")))
        .otherwise(struct(c.as("prev"), lit(1L).as("cnt"),
          (st.getField("acc") + term(st)).as("acc"),
          st.getField("n").as("n"))),
      st => st.getField("acc") + term(st))
    when(text.isNull, lit(null).cast("double"))
      .otherwise(when(n === 0, lit(0.0)).otherwise(-folded))
  }

  // --- fingerprinting ---

  /** Canonical-form fingerprint: lowercase, collapse whitespace, md5.
    * Identical canonical forms <=> identical fingerprints; used by exact
    * dedup at 100 TB (32-byte key instead of full text). */
  def fingerprint(text: Column): Column =
    md5(canonicalize(text))

  /** Shared canonical form: lowercase, collapse runs of whitespace to one
    * space, strip edges — texts differing only in whitespace layout are
    * identical canonical forms. */
  def canonicalize(text: Column): Column =
    trim(lower(regexp_replace(text, "\\s+", " ")))

  /** 64-bit rolling-window fingerprint set (winnowing-style): hash every
    * k-shingle, keep the minimum hash per sliding window of w shingles,
    * dedupe. Robust to small edits; the document-similarity analogue of
    * Rabin fingerprinting. Returns array<long>. Native one-pass
    * expression ([[graft.expressions.WinnowingFingerprints]]) — the HOF
    * formulation the specs keep as its differential oracle is O(len³):
    * its outer lambda re-evaluates the entire shingle transform (which
    * itself re-canonicalizes) per window position. */
  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.expressions.WinnowingFingerprints.winnowing(canonicalize(text), k, w)

  /** Convenience: full per-document text-analysis projection. */
  def analyze(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_distinct_tokens", distinctTokenCount(t))
      .withColumn("avg_word_len", avgWordLen(t))
      .withColumn("lang_id", langId(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("digit_ratio", digitRatio(t))
      .withColumn("quality_score", qualityScore(t))
      .withColumn("dup_line_fraction", duplicateLineFraction(t))
      .withColumn("repeated_token_fraction", repeatedTokenFraction(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** EXACT n-gram novelty against a reference corpus: per document, the
    * fraction of its DISTINCT lowercased n-grams that appear nowhere in
    * `ref` — the memorization/derivative-content measure (a crawl slice
    * that restates the reference scores near 0; genuinely new text near
    * 1). Output: idCol, `n_grams`, `n_novel`, `novelty_r`; documents
    * with no tokens produce no row (they have no grams to judge).
    *
    * Cost shape: the reference gram set is distinct-aggregated once and
    * the doc grams anti-join against it — at reference scales where that
    * distinct tail is itself the problem, use [[novelGramFractionBloom]]
    * (map-side probe, never a gram shuffle; its estimate only ever
    * UNDERCOUNTS novelty, by the Bloom false-positive rate). */
  def novelGramFraction(
      docs: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3
  ): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val wg = graft.expressions.WordGrams.wordGrams(col(textCol), n)
    val dg = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), explode(wg).as("__g"))
    val refG = ref
      .filter(col(textCol).isNotNull)
      .select(explode(wg).as("__g"))
      .distinct()
    val totals = dg.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val novel = dg.join(refG, Seq("__g"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (round(coalesce(col("n_novel"), lit(0L)) / col("n_grams"), 6) + lit(0.0))
          .as("novelty_r"))
  }

  /** [[novelGramFraction]] at reference scales where the distinct gram
    * tail cannot shuffle: the reference grams fold into ONE Bloom sketch
    * (a distributed aggregate, bounded bytes), and every document scores
    * MAP-SIDE — `n_novel` counts grams the sketch has never seen, via a
    * codegen'd HOF probe, no explode, no join, no shuffle of the corpus.
    * False positives make a truly-novel gram look known, so the estimate
    * only ever UNDERCOUNTS novelty (by ≈ `fpp`); there are no false
    * negatives. Same output schema as the exact operator. */
  def novelGramFractionBloom(
      docs: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      expectedGrams: Long = 1L << 20,
      fpp: Double = 0.01
  ): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    require(expectedGrams > 0, "expectedGrams must be positive")
    val wg = graft.expressions.WordGrams.wordGrams(col(textCol), n)
    val numBits = math.max(64L, math.ceil(
      -expectedGrams.toDouble * math.log(fpp) / (math.log(2.0) * math.log(2.0))).toLong)
    val bloom = ref
      .filter(col(textCol).isNotNull)
      .select(explode(wg).as("__g"))
      .agg(org.apache.spark.sql.graft.BloomBridge
        .bloomAgg(xxhash64(col("__g")), expectedGrams, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val grams = wg
    val nGrams = size(grams)
    val nNovel =
      if (bloom == null) nGrams.cast("long") // empty reference: everything novel
      else size(filter(grams, g => !org.apache.spark.sql.graft.BloomBridge
        .mightContain(bloom, xxhash64(g)))).cast("long")
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), nGrams.cast("long").as("n_grams"), nNovel.as("n_novel"))
      .filter(col("n_grams") > 0)
      .select(col(idCol), col("n_grams"), col("n_novel"),
        (round(col("n_novel") / col("n_grams"), 6) + lit(0.0)).as("novelty_r"))
  }

  /** Corpus collocation mining: the top-k ADJACENT token pairs by
    * pointwise mutual information — `pmi = ln c_xy + ln N − ln c_x −
    * ln c_y` over corpus token counts (the ln-decomposed form never
    * overflows, at any corpus size, where the `c_xy·N/(c_x·c_y)`
    * product would) — the standard multi-word-expression detector
    * ("new york", "machine learning"): a pair that co-occurs far more
    * than its parts' frequencies predict. `minCount` floors the pair
    * count (PMI famously explodes on hapax pairs — two singletons
    * co-occurring once score the corpus maximum; 5 is the classic
    * floor). Bigrams are POSITIONAL (adjacent tokens, order kept),
    * counted with repetition.
    *
    * Determinism: integer counts; `ln` agrees cross-engine (the q84
    * precedent); ranking by raw PMI through the string heap, ties
    * toward the binary-smaller bigram. Scale shape: one tokenize pass
    * (cached — it feeds unigram and bigram counts plus N), two count
    * aggregates, two broadcast joins of |vocab|-grain frames, the
    * size-k heap. Output: (bigram, n_pair, pmi_r, rank). */
  def collocations(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minCount: Long = 5L,
      k: Int = 25
  ): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    require(k >= 1, "k must be >= 1")
    val toks = graft.Checkpoints.trackCache(docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"), tokens(lower(col(textCol))).as("__ts"))
      .filter(size(col("__ts")) > 0)
      .repartition(col("__id"))
      .persist())
    val uni = toks.select(explode(col("__ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
    val nTotal = toks.select(sum(size(col("__ts"))).as("__n"))
    val pairs = toks
      .select(explode(zip_with(
        slice(col("__ts"), lit(1), size(col("__ts")) - 1),
        slice(col("__ts"), lit(2), size(col("__ts")) - 1),
        (x, y) => struct(x.as("x"), y.as("y")))).as("p"))
      .groupBy(col("p.x").as("__x"), col("p.y").as("__y"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val scored = pairs
      .join(broadcast(uni.select(col("tok").as("__x"), col("__c").as("__cx"))), "__x")
      .join(broadcast(uni.select(col("tok").as("__y"), col("__c").as("__cy"))), "__y")
      .crossJoin(broadcast(nTotal))
      .withColumn("__pmi",
        log(col("n_pair").cast("double")) + log(col("__n").cast("double"))
          - log(col("__cx").cast("double")) - log(col("__cy").cast("double")))
      .withColumn("bigram", concat_ws(" ", col("__x"), col("__y")))
    // n_pair rides the heap as payload: the old join-back re-evaluated
    // the whole pair aggregation a second time just to recover it
    GroupTopK.topKPerGroupStringPayload(
        scored.withColumn("__g", lit(0)), Seq("__g"), "bigram", "__pmi", "n_pair", k)
      .select(col("bigram"), col("n_pair"),
        (round(col("__pmi"), 6) + lit(0.0)).as("pmi_r"), col("rank"))
  }

  /** Per-document TF-IDF keyword extraction: the `k` highest-scoring
    * tokens of each document under `score = tf · ln(N ⁄ df)` (raw term
    * frequency × classic idf; a corpus-ubiquitous token has df = N,
    * idf = 0, and can never out-rank a discriminative one) — the
    * corpus-tagging primitive behind topic labeling, dedup
    * explanations ("these two docs share their top keywords"), and
    * retrieval debugging. Tokens are the engine's canonical lowercase
    * whitespace tokens ([[tokens]]); `tf` counts repeats (unlike the
    * DISTINCT set semantics of the Jaccard family — repetition is
    * signal here), `df` counts documents containing the token at
    * least once, `N` counts documents with at least one token.
    *
    * Determinism: tf/df/N are exact integer counts; `ln` is the
    * engine-agreeing `Math.log` (the q84 BM25 precedent); ranking is
    * the [[GroupTopK.topKPerGroupString]] heap — score DESC, ties
    * toward the BINARY-smaller token, exactly SQL's `ORDER BY score
    * DESC, token`. `tfidf_r` is the 6-decimal display rounding; the
    * heap ranks the raw double.
    *
    * Scale shape: one tokenize pass (cached — it feeds tf, df, and N),
    * a |vocab|-grain df aggregate broadcast back onto the (doc, token)
    * grain, and the size-k heap with map-side partial aggregation —
    * no window, no full sort. Output: (idCol, rank, token, tf,
    * tfidf_r). */
  def tfidfKeywords(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val toks = graft.Checkpoints.trackCache(docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"), explode(tokens(lower(col(textCol)))).as("token"))
      .repartition(col("__id"))
      .persist())
    val tf = toks.groupBy(col("__id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("__df"))
    val n = toks.select(countDistinct(col("__id")).as("__n"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(n))
      .withColumn("__score",
        col("tf").cast("double") *
          log(col("__n").cast("double") / col("__df").cast("double")))
    // tf rides the heap as payload: the old join-back re-ran the tf
    // aggregate and paid a (doc, token)-grain exchange just to recover it
    GroupTopK.topKPerGroupStringPayload(
        scored, Seq("__id"), "token", "__score", "tf", k)
      .select(col("__id").as(idCol), col("rank"), col("token"), col("tf"),
        (round(col("__score"), 6) + lit(0.0)).as("tfidf_r"))
  }
}
