package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Corpus retrieval primitives for training-data pipelines: vocabulary
  * statistics, BM25 keyword search, and fixed-window document chunking.
  * The reference has no text-retrieval surface (its pipeline is numeric
  * scoring, `bid_evaluation/evaluator.py`); these extend the engine the
  * way the dedup/similarity operators do — every formula is plain-SQL
  * expressible so each has a DuckDB oracle.
  *
  * Scale shapes:
  *  - [[vocabulary]]: explode is map-side; the (doc, term) pre-aggregate
  *    combines map-side before its shuffle; the final per-term aggregate
  *    is tiny; top-k lands on `TakeOrderedAndProject` (per-partition
  *    top-k, driver merges |partitions|·k rows — never a full sort).
  *  - [[bm25Search]]: postings are pruned to the query's terms BEFORE any
  *    corpus-wide aggregation (a broadcast semi-join), so document
  *    frequency and scoring touch only matching postings; the final
  *    per-query top-k uses the [[GroupTopK]] heap aggregate (map-side
  *    partial, the exchange carries k·|queries| rows).
  *  - [[chunkText]]: pure per-row explode arithmetic, no shuffle.
  */
object Retrieval {

  /** Loud ceiling on the query-grain / served-page frames the serving
    * paths collect to the driver as local relations (the query-term
    * sliver, the PRF feedback page and picked terms). These frames are
    * topK- or |queries|·terms-bounded by construction AND were already
    * broadcast whole before the local-relation optimization — but a
    * pathologically large query batch must refuse with the knob's name,
    * not OOM the driver with a generic error (the maxIncrementNodes /
    * maxPrefixFreq refusal convention). 5M rows ≈ a few hundred MB of
    * Row objects — far past any sane serving batch, well short of the
    * heap. */
  private val maxLocalPageRows = 5000000

  /** Collects a driver page, refusing BEFORE the rows land: at most
    * `max + 1` rows are collected, so an oversized batch fails with the
    * knob's name instead of exhausting the driver heap mid-collect. */
  private[graft] def collectLocalPage(
      df: DataFrame,
      what: String,
      op: String,
      max: Int = maxLocalPageRows
  ): Array[Row] = {
    val rows = df.limit(max + 1).collect()
    require(rows.length <= max,
      s"$op: $what has more than $max rows (maxLocalPageRows=$max) — " +
        "batch the query set; this frame lands on the driver as a local " +
        "relation by design")
    rows
  }

  /** Corpus vocabulary: for each whitespace token, the number of documents
    * containing it (`doc_freq`) and its total occurrence count
    * (`term_freq`); the `topK` most document-frequent terms, ties broken
    * by term ascending so the cut is deterministic.
    */
  def vocabulary(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int
  ): DataFrame = {
    require(topK > 0, "topK must be positive")
    val perDoc = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"))
    perDoc
      .groupBy("term")
      .agg(count(lit(1)).as("doc_freq"), sum("__tf").as("term_freq"))
      .orderBy(col("doc_freq").desc, col("term").asc)
      .limit(topK)
  }

  /** QUERY SPELL CORRECTION (symmetric-delete, SymSpell-style) — the
    * query-understanding step in front of lexical search: each query
    * term meets every vocabulary term within Levenshtein distance
    * `maxEdits` (1 or 2) through a DELETE-KEY join (a term's keys are
    * itself plus its deletions up to `maxEdits` chars; two terms
    * within that many edits share a key — `maxEdits = 2` reaches
    * transpositions like "qeury"), the exact distance verifies the
    * survivors, and candidates rank by (distance asc, corpus frequency
    * desc, term asc) — an exact-match query term wins its own rank 1,
    * so correction never rewrites a word the corpus knows. Output:
    * `(queryIdCol, termCol, suggestion, distance, freq, sugg_rank)`;
    * terms with NO candidate in range emit nothing (the caller's
    * fallback is the raw term).
    *
    * Scale shape: the delete-key tables are |terms| · O(len^maxEdits)
    * rows (len capped loudly at `maxTermLen`), the join is an
    * equi-join on the key, and the exact-distance verify runs only on
    * key-colliding pairs — never all-pairs. The vocabulary side is
    * re-derived per call; pass a bounded vocabulary (e.g.
    * [[vocabulary]]'s top-k), not a raw corpus. */
  def spellCorrect(
      queries: DataFrame,
      queryIdCol: String,
      termCol: String,
      vocab: DataFrame,
      vocabTermCol: String,
      freqCol: String,
      topK: Int = 3,
      maxTermLen: Int = 64,
      maxEdits: Int = 1
  ): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    require(maxTermLen >= 1, "maxTermLen must be >= 1")
    require(maxEdits == 1 || maxEdits == 2,
      s"maxEdits must be 1 or 2, got $maxEdits — symmetric delete keys " +
        "grow O(len^maxEdits) per term")
    def checkedLen(t: Column, side: String): Column =
      when(length(t) > maxTermLen, raise_error(concat(
        lit(s"spellCorrect: $side term longer than maxTermLen=$maxTermLen: '"),
        t, lit("' — raise the ceiling or pre-filter"))))
        .otherwise(t)
    def delsOf(t: Column): Column =
      transform(sequence(lit(1), length(t)),
        i => concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t) - i)))
    // maxEdits = 2 adds the deletions OF the deletions (distance-2
    // keys): two terms within two edits share a key — the exact
    // Levenshtein verify below still decides, keys only generate
    def keysOf(t: Column): Column = {
      val d1 = delsOf(t)
      val base = array_union(array(t), d1)
      if (maxEdits == 1) base
      else array_union(base, array_distinct(flatten(transform(d1, delsOf(_)))))
    }
    val q = queries
      .filter(col(queryIdCol).isNotNull && col(termCol).isNotNull)
      .select(col(queryIdCol).as("__qid"),
        checkedLen(col(termCol).cast("string"), "query").as("__qt"))
      .distinct()
      .select(col("__qid"), col("__qt"), explode(keysOf(col("__qt"))).as("__k"))
    val v = vocab
      .filter(col(vocabTermCol).isNotNull)
      .select(checkedLen(col(vocabTermCol).cast("string"), "vocab").as("__vt"),
        col(freqCol).cast("long").as("__f"))
      .select(col("__vt"), col("__f"), explode(keysOf(col("__vt"))).as("__k"))
    val cand = q.join(v, Seq("__k"))
      .select(col("__qid"), col("__qt"), col("__vt"), col("__f"))
      .distinct()
      .withColumn("__d", levenshtein(col("__qt"), col("__vt")))
      .filter(col("__d") <= maxEdits)
    import org.apache.spark.sql.expressions.Window
    cand.withColumn("sugg_rank", row_number().over(
        Window.partitionBy(col("__qid"), col("__qt"))
          .orderBy(col("__d").asc, col("__f").desc, col("__vt").asc)).cast("int"))
      .filter(col("sugg_rank") <= topK)
      .select(col("__qid").as(queryIdCol), col("__qt").as(termCol),
        col("__vt").as("suggestion"), col("__d").cast("int").as("distance"),
        col("__f").as("freq"), col("sugg_rank"))
  }

  /** PHRASE SEARCH — exact token-sequence matching over a corpus, the
    * quoted-query operator BM25's bag-of-words scoring cannot express:
    * a document matches when the phrase's tokens appear CONSECUTIVELY
    * (same [[TextAnalysis.tokens]] tokenizer both sides). The verify
    * is the POSITIONAL-JOIN algorithm [[phraseSearchPreindexed]] runs
    * off stored positions, built ad hoc: a posting (doc, pos, term)
    * joined to phrase slot (phrase, j, term) votes for start
    * `pos − j + 1`, and a start holding ALL m slot votes is an
    * occurrence — an equi-join on the term plus hash aggregations at
    * (phrase, doc, start) grain, never a cross join of corpus ×
    * phrases and never a shuffle of token arrays. Output:
    * `(phraseIdCol, idCol, n_occurrences, first_pos)` (1-based;
    * matches only, occurrences >= 1). Phrases longer than
    * `maxPhraseTerms` refuse loudly; token-less phrases emit nothing.
    *
    * Scale shape: verification runs at DISTINCT-PHRASE grain with ids
    * expanded back by one equi-join (the [[graft.ops.Joins]] deletion-
    * index discipline); shuffle volume is the matched-term postings —
    * rows whose term appears in some phrase — not documents. */
  def phraseSearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrases: DataFrame,
      phraseIdCol: String,
      phraseCol: String,
      maxPhraseTerms: Int = 16
  ): DataFrame = {
    require(maxPhraseTerms >= 1, "maxPhraseTerms must be >= 1")
    val p = phrases
      .filter(col(phraseIdCol).isNotNull && col(phraseCol).isNotNull)
      .select(col(phraseIdCol).as("__pid"),
        TextAnalysis.tokens(col(phraseCol)).as("__ptoks"))
      .select(col("__pid"),
        when(size(col("__ptoks")) > maxPhraseTerms, raise_error(concat(
          lit(s"phraseSearch: phrase longer than maxPhraseTerms=$maxPhraseTerms "),
          lit("tokens for id '"), col("__pid").cast("string"),
          lit("' — proximity windows, not phrases, are the long-pattern tool"))))
          .otherwise(col("__ptoks")).as("__ptoks"))
      .filter(size(col("__ptoks")) >= 1)
    // POSITIONAL-JOIN verify (replaces the per-candidate adjacency fold):
    // the fold form re-shuffled every survivor document's FULL token
    // array once per matching phrase and then scanned every position —
    // |survivors| · |doc tokens| work on data the prefilter cannot cut
    // when phrases start with common words (q306's measured profile).
    // Instead, build the positional-index algorithm ad hoc — the exact
    // computation [[phraseSearchPreindexed]] runs off stored positions:
    // a posting (doc, pos, term) joined to phrase slot (ph, j, term)
    // votes for start = pos − j + 1, and a start with ALL m slot votes
    // is an occurrence. One term equi-join + one hash aggregation at
    // (phrase, doc, start) grain; only matched-term postings ever
    // shuffle, never token arrays. Work runs at DISTINCT-PHRASE grain
    // (tokens are whitespace-split, so the space-joined string is an
    // injective key) and ids expand back by one equi-join at the end —
    // the editDistanceJoin discipline: a thousand ids sharing one
    // phrase cost one verification.
    val pk = p.select(col("__pid"), concat_ws(" ", col("__ptoks")).as("__ph"))
    val pd = pk.select(col("__ph")).distinct()
      .select(col("__ph"), split(col("__ph"), " ").as("__ptoks"))
    val slots = pd
      .select(col("__ph"), size(col("__ptoks")).as("__m"),
        posexplode(col("__ptoks")).as(Seq("__j0", "__term")))
      .select(col("__ph"), col("__m"), (col("__j0") + 1).as("__j"), col("__term"))
    val termSet = broadcast(slots.select(col("__term")).distinct())
    val postings = docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("__doc"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__pos0", "__term")))
      .join(termSet, Seq("__term"))
      .select(col("__doc"), col("__term"), (col("__pos0") + 1).as("__pos"))
    val occ = slots.join(postings, Seq("__term"))
      .select(col("__ph"), col("__m"), col("__doc"),
        (col("__pos") - col("__j") + 1).as("__start"))
      .filter(col("__start") >= 1)
      .groupBy(col("__ph"), col("__m"), col("__doc"), col("__start"))
      .agg(count(lit(1)).as("__have"))
      .filter(col("__have") === col("__m"))
      .groupBy(col("__ph"), col("__doc"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("__start")).cast("long").as("first_pos"))
    pk.join(occ, Seq("__ph"))
      .select(col("__pid").as(phraseIdCol), col("__doc").as(idCol),
        col("n_occurrences"), col("first_pos"))
  }

  /** [[phraseSearch]] SERVED OFF A POSITIONAL INDEX — no corpus scan,
    * no re-tokenization: phrase terms prune the postings read to their
    * buckets (the [[bm25SearchPreindexed]] discipline), each phrase
    * SLOT (1-based position within the phrase — duplicate terms are
    * distinct slots) equi-joins the pruned postings, documents holding
    * every slot survive, and the occurrence check intersects the stored
    * position arrays by arithmetic: a start `p` in slot 1's positions
    * matches when slot `j` holds `p + j − 1` for every `j`. Results are
    * bit-identical to the ad-hoc [[phraseSearch]] over the indexed
    * corpus (oracle-pinned, the q248 serving-parity discipline). The
    * index must be built `saveBm25Index(..., withPositions = true)` —
    * a tf-only index refuses loudly.
    *
    * Scale shape: pruned postings reads + one equi-join at
    * (slot, term) grain + one hash aggregation at (phrase, doc) grain;
    * the position intersection folds over stored arrays — per-document
    * token counts, never the corpus. */
  def phraseSearchPreindexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      phrases: DataFrame,
      phraseIdCol: String,
      phraseCol: String,
      maxPhraseTerms: Int = 16
  ): DataFrame = {
    require(maxPhraseTerms >= 1, "maxPhraseTerms must be >= 1")
    val stats = spark.read.parquet(s"$indexPath/stats").head()
    require(statsPositional(stats),
      s"phraseSearchPreindexed needs a POSITIONAL index — '$indexPath' " +
        "has tf-only postings; rebuild with saveBm25Index(..., " +
        "withPositions = true)")
    val idCol = stats.getAs[String]("id_col")
    val nb = stats.getAs[Int]("num_buckets")
    val p = phrases
      .filter(col(phraseIdCol).isNotNull && col(phraseCol).isNotNull)
      .select(col(phraseIdCol).as("__pid"),
        TextAnalysis.tokens(col(phraseCol)).as("__ptoks"))
      .select(col("__pid"),
        when(size(col("__ptoks")) > maxPhraseTerms, raise_error(concat(
          lit(s"phraseSearchPreindexed: phrase longer than " +
            s"maxPhraseTerms=$maxPhraseTerms tokens for id '"),
          col("__pid").cast("string"), lit("'"))))
          .otherwise(col("__ptoks")).as("__ptoks"))
      .filter(size(col("__ptoks")) >= 1)
    if (stats.getAs[Long]("__sumdl") == 0L)
      return p.select(col("__pid").as(phraseIdCol))
        .filter(lit(false))
        .withColumn(idCol, lit(null).cast(stats.getAs[String]("id_type")))
        .withColumn("n_occurrences", lit(0L))
        .withColumn("first_pos", lit(0L))
    val slots = p.select(col("__pid"),
        posexplode(col("__ptoks")).as(Seq("__j0", "term")))
      .select(col("__pid"), (col("__j0") + 1).as("__j"), col("term"))
    val need = p.select(col("__pid"), size(col("__ptoks")).as("__m"))
    val termSet = broadcast(slots.select("term").distinct())
    val buckets = slots
      .select(pmod(xxhash64(col("term")), lit(nb.toLong)).as("__b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val postings = spark.read.parquet(s"$indexPath/postings")
      .filter(col("term_bucket").isin(buckets: _*))
      .join(termSet, Seq("term"))
      .select(col("term"), col("__docid"), col("__pos"))
    val grouped = slots.join(postings, Seq("term"))
      .groupBy(col("__pid"), col("__docid"))
      .agg(count(lit(1)).as("__have"),
        array_sort(collect_list(struct(col("__j").as("j"),
          col("__pos").as("pos")))).as("__slots"))
      .join(need, Seq("__pid"))
      .filter(col("__have") === col("__m"))
    // a start p in slot 1 matches when every slot j holds p + j - 1
    // (j = 1 re-checks p itself — trivially true, and it keeps the
    // sequence ascending for single-term phrases)
    val starts = filter(
      element_at(col("__slots"), 1).getField("pos"),
      pp => forall(sequence(lit(1), col("__m")),
        j => array_contains(
          element_at(col("__slots"), j).getField("pos"), pp + j - 1)))
    grouped.select(col("__pid"), col("__docid"), starts.as("__s"))
      .filter(size(col("__s")) > 0)
      .select(col("__pid").as(phraseIdCol), col("__docid").as(idCol),
        size(col("__s")).cast("long").as("n_occurrences"),
        array_min(col("__s")).cast("long").as("first_pos"))
  }

  /** [[proximitySearch]] SERVED OFF THE POSITIONAL INDEX — the same
    * artifact [[phraseSearchPreindexed]] reads, relaxed to windows: a
    * document matches at start `p` when EVERY distinct query term has
    * an occurrence inside `[p, p + window − 1]`. Query terms prune the
    * postings read to their buckets, documents holding every term
    * survive the slot join, and the window check folds over the stored
    * position arrays with the document length from the postings row —
    * the corpus is never re-tokenized. Results are bit-identical to
    * the ad-hoc [[proximitySearch]] over the indexed corpus
    * (oracle-pinned, serving parity). Same loud `maxWindow` ceiling. */
  def proximitySearchPreindexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      window: Int = 10,
      maxWindow: Int = 256
  ): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(window <= maxWindow,
      s"proximitySearchPreindexed: window=$window above maxWindow=$maxWindow")
    val stats = spark.read.parquet(s"$indexPath/stats").head()
    require(statsPositional(stats),
      s"proximitySearchPreindexed needs a POSITIONAL index — '$indexPath' " +
        "has tf-only postings; rebuild with saveBm25Index(..., " +
        "withPositions = true)")
    val idCol = stats.getAs[String]("id_col")
    val nb = stats.getAs[Int]("num_buckets")
    val p = queries
      .filter(col(queryIdCol).isNotNull && col(queryTextCol).isNotNull)
      .select(col(queryIdCol).as("__pid"),
        array_distinct(TextAnalysis.tokens(col(queryTextCol))).as("__ptoks"))
      .filter(size(col("__ptoks")) >= 1)
    if (stats.getAs[Long]("__sumdl") == 0L)
      return p.select(col("__pid").as(queryIdCol))
        .filter(lit(false))
        .withColumn(idCol, lit(null).cast(stats.getAs[String]("id_type")))
        .withColumn("n_windows", lit(0L))
        .withColumn("first_window_pos", lit(0L))
    val slots = p.select(col("__pid"), explode(col("__ptoks")).as("term"))
    val need = p.select(col("__pid"), size(col("__ptoks")).as("__m"))
    val termSet = broadcast(slots.select("term").distinct())
    val buckets = slots
      .select(pmod(xxhash64(col("term")), lit(nb.toLong)).as("__b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val postings = spark.read.parquet(s"$indexPath/postings")
      .filter(col("term_bucket").isin(buckets: _*))
      .join(termSet, Seq("term"))
      .select(col("term"), col("__docid"), col("__dl"), col("__pos"))
    val grouped = slots.join(postings, Seq("term"))
      .groupBy(col("__pid"), col("__docid"))
      .agg(count(lit(1)).as("__have"), min(col("__dl")).as("__dl"),
        collect_list(col("__pos")).as("__plists"))
      .join(need, Seq("__pid"))
      .filter(col("__have") === col("__m"))
    val folded = proximityWindowFold(col("__plists"), col("__dl"), window)
    grouped.select(col("__pid"), col("__docid"), folded.as("__m2"))
      .filter(col("__m2.cnt") > 0L)
      .select(col("__pid").as(queryIdCol), col("__docid").as(idCol),
        col("__m2.cnt").as("n_windows"), col("__m2.first").as("first_window_pos"))
  }

  /** The proximity window count/first fold shared by [[proximitySearch]]
    * and [[proximitySearchPreindexed]] (one implementation, so serving
    * parity is structural): given the per-term position lists of a
    * surviving (query, doc) pair and the document length, returns
    * `struct(cnt, first)` — the number of start positions
    * `i ∈ [1, max(dl − w + 1, 1)]` whose window `[i, i + w − 1]` holds
    * at least one occurrence of EVERY term, and the smallest such `i`
    * (0 when none).
    *
    * O(positions · terms), not O(doc length): the old fold materialized
    * a `sequence(1, dl − w + 1)` integer array per surviving row and
    * probed every term list at every start — a 100k-token document made
    * that a per-row memory spike and a quadratic-ish probe (guide §5).
    * This fold walks the position-sorted merge of the tagged lists once,
    * maintaining each term's LAST occurrence: for right-ends
    * `j' ∈ [prevj, j−1]` between consecutive occurrences that state is
    * constant, so each step closes the start-interval
    * `i ∈ [max(prevj−w+1, 1), min(min_t last_t, maxStart, j−w)]` in O(1)
    * (a start `i` qualifies iff every term's last occurrence at
    * right-end `i+w−1` is ≥ i). Token positions are unique across terms
    * (one token per position), so the merge is strictly increasing and
    * the closed intervals partition the start axis — counts add, and
    * the first nonempty interval's lower bound is the global first. */
  private def proximityWindowFold(plists: Column, dl: Column, window: Int): Column = {
    val w = lit(window.toLong)
    val maxStart = greatest(dl.cast("long") - w + lit(1L), lit(1L))
    // (position, term-index) merge, strictly increasing by position
    val tagged = array_sort(flatten(transform(plists,
      (ps, t) => transform(ps, p =>
        struct(p.cast("long").as("p"), t.cast("long").as("t"))))))
    val init = struct(
      array_repeat(lit(0L), size(plists)).as("last"),
      lit(0L).as("cnt"), lit(0L).as("first"), lit(1L).as("prevj"))
    aggregate(
      tagged, init,
      (acc, x) => {
        val j = x.getField("p")
        val t = x.getField("t")
        val h = array_min(acc.getField("last"))
        val lo = greatest(acc.getField("prevj") - w + lit(1L), lit(1L))
        val hi = least(least(h, maxStart), j - w)
        val add = greatest(hi - lo + lit(1L), lit(0L))
        struct(
          transform(acc.getField("last"),
            (v, i) => when(i.cast("long") === t, j).otherwise(v)).as("last"),
          (acc.getField("cnt") + add).as("cnt"),
          when(acc.getField("first") === lit(0L) && add > lit(0L), lo)
            .otherwise(acc.getField("first")).as("first"),
          j.as("prevj"))
      },
      acc => {
        // close the final interval: right-ends from the last occurrence on
        val h = array_min(acc.getField("last"))
        val lo = greatest(acc.getField("prevj") - w + lit(1L), lit(1L))
        val hi = least(h, maxStart)
        val add = greatest(hi - lo + lit(1L), lit(0L))
        struct(
          (acc.getField("cnt") + add).as("cnt"),
          when(acc.getField("first") === lit(0L) && add > lit(0L), lo)
            .otherwise(acc.getField("first")).as("first"))
      })
  }


  /** PROXIMITY SEARCH — the long-pattern relaxation of [[phraseSearch]]:
    * a document matches when every query term occurs within SOME window
    * of `window` consecutive tokens, in any order. Per-(doc, term)
    * position lists for query terms only are grouped at (query, doc)
    * grain — a document holding every term survives (the all-terms
    * count check IS the prefilter) — and the verify fold over the
    * lists counts qualifying window START positions (`n_windows`,
    * overlapping windows each count) and records the first
    * (`first_window_pos`, 1-based), exactly as
    * [[proximitySearchPreindexed]] folds over its stored positions.
    * Output: `(queryIdCol, idCol, n_windows, first_window_pos)` —
    * matches only.
    *
    * Scale shape: shuffle volume is the matched-term postings; the
    * fold is |survivors| · |doc tokens| · |terms| map-side work over
    * position lists, linear in `window` only through the start count —
    * keep `window` tens, not thousands (loudly capped at
    * `maxWindow`). */
  def proximitySearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      window: Int = 10,
      maxWindow: Int = 256
  ): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(window <= maxWindow,
      s"proximitySearch: window=$window above maxWindow=$maxWindow — " +
        "the verify fold is linear in it; widen maxWindow only deliberately")
    val p = queries
      .filter(col(queryIdCol).isNotNull && col(queryTextCol).isNotNull)
      .select(col(queryIdCol).as("__pid"),
        array_distinct(TextAnalysis.tokens(col(queryTextCol))).as("__ptoks"))
      .filter(size(col("__ptoks")) >= 1)
    // Positional verify (the [[proximitySearchPreindexed]] computation
    // built ad hoc — the same rewrite as [[phraseSearch]]): instead of
    // re-shuffling each survivor's FULL token array per matching query
    // and slicing a fresh window at every position, collect per
    // (doc, term) position lists for query terms only, group them at
    // (query, doc) grain (the all-terms count check IS the prefilter),
    // and fold the window check over the lists with the document length
    // — oracle-equivalent by the q307 ≡ q310 serving-parity pin.
    val slots = p.select(col("__pid"), size(col("__ptoks")).as("__m"),
      explode(col("__ptoks")).as("__term"))
    val termSet = broadcast(slots.select(col("__term")).distinct())
    val dposs = docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("__doc"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("__doc"), size(col("__toks")).as("__dl"),
        posexplode(col("__toks")).as(Seq("__pos0", "__term")))
      .join(termSet, Seq("__term"))
      .groupBy(col("__doc"), col("__dl"), col("__term"))
      .agg(sort_array(collect_list(col("__pos0") + 1)).as("__ps"))
    val grouped = slots.join(dposs, Seq("__term"))
      .groupBy(col("__pid"), col("__m"), col("__doc"), col("__dl"))
      .agg(count(lit(1)).as("__have"), collect_list(col("__ps")).as("__plists"))
      .filter(col("__have") === col("__m"))
    val folded = proximityWindowFold(col("__plists"), col("__dl"), window)
    grouped.select(col("__pid"), col("__doc"), folded.as("__m2"))
      .filter(col("__m2.cnt") > 0L)
      .select(col("__pid").as(queryIdCol), col("__doc").as(idCol),
        col("__m2.cnt").as("n_windows"), col("__m2.first").as("first_window_pos"))
  }

  /** SNIPPET EXTRACTION — the result-presentation step after retrieval:
    * for each (query, doc) hit, the `window`-token span covering the
    * MOST distinct query terms (ties toward the earliest start) renders
    * as the snippet. One fold over the hit document's tokens scores
    * every start position by matched-term count; the winning span
    * re-joins with spaces (tokenization is whitespace-normalizing, so
    * the snippet is the span's text up to whitespace). Output:
    * `(queryIdCol, idCol, snippet, n_matched, snippet_pos)`.
    *
    * Scale shape: hits are a served page (tens per query), never a
    * corpus — the docs side is equi-joined to the hit ids before any
    * tokenization, and the fold is |hits| · |doc tokens| · |terms|
    * map-side work. */
  def extractSnippets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      hits: DataFrame,
      queryIdCol: String,
      queries: DataFrame,
      queryTextCol: String,
      window: Int = 10
  ): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val q = queries
      .filter(col(queryIdCol).isNotNull && col(queryTextCol).isNotNull)
      .select(col(queryIdCol).as("__qid"),
        array_distinct(TextAnalysis.tokens(col(queryTextCol))).as("__qt"))
    val h = hits.select(col(queryIdCol).as("__qid"), col(idCol).as("__doc"))
      .distinct()
    val toks = docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("__doc"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 1)
    val cand = h.join(toks, Seq("__doc")).join(broadcast(q), Seq("__qid"))
    val w = lit(window)
    val folded = aggregate(
      sequence(lit(1), greatest(size(col("__toks")) - w + 1, lit(1))),
      struct(lit(-1L).as("best"), lit(0L).as("pos")),
      (acc, i) => {
        val win = slice(col("__toks"), i, w)
        val sc = aggregate(col("__qt"), lit(0L),
          (a, t) => a + when(array_contains(win, t), 1L).otherwise(0L))
        when(sc > acc.getField("best"),
          struct(sc.as("best"), i.cast("long").as("pos")))
          .otherwise(acc)
      })
    cand.select(col("__qid"), col("__doc"), col("__toks"), folded.as("__m"))
      .select(col("__qid").as(queryIdCol), col("__doc").as(idCol),
        concat_ws(" ", slice(col("__toks"), col("__m.pos").cast("int"), w))
          .as("snippet"),
        col("__m.best").as("n_matched"), col("__m.pos").as("snippet_pos"))
  }

  /** Okapi BM25 top-k search: scores every document against every query in
    * `queries` (a SMALL frame — it is broadcast) and returns the `topK`
    * best documents per query with competition-ordered `rank` (ties on
    * score break toward the smaller document id, the [[GroupTopK]]
    * contract).
    *
    * idf = ln(1 + (N - df + 0.5) / (df + 0.5))   (Lucene's non-negative form)
    * score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    *
    * Determinism: the per-(query, doc) sum folds contributions in
    * term-sorted order (`array_sort` + `aggregate`), so the FP result is
    * reproducible and engine-mirrorable — a plain SUM would depend on
    * shuffle arrival order.
    */
  def bm25Search(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10
  ): DataFrame = {
    // each query's DISTINCT terms; duplicates in the query text must not
    // double-count a term's contribution
    val qTerms = queries.select(
      col(queryIdCol),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol)))).as("term"))
    searchWithTerms(docs, idCol, textCol, qTerms, queryIdCol, k1, b, topK)
  }

  /** [[bm25Search]]'s body over an already-derived `(queryIdCol, term)`
    * frame — shared by the text front-end and the expanded second pass
    * of [[bm25SearchPrf]]. */
  private def searchWithTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      qTerms: DataFrame,
      queryIdCol: String,
      k1: Double,
      b: Double,
      topK: Int,
      constsIn: Option[DataFrame] = None
  ): DataFrame =
    searchWithTermsAndConsts(docs, idCol, textCol, qTerms, queryIdCol,
      k1, b, topK, constsIn)._1

  /** [[searchWithTerms]] that also RETURNS the one-row corpus-constants
    * frame it derived (or was handed), so a two-pass caller
    * ([[bm25SearchPrf]]) reuses pass one's constants without its own
    * corpus scan. */
  private def searchWithTermsAndConsts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      qTerms: DataFrame,
      queryIdCol: String,
      k1: Double,
      b: Double,
      topK: Int,
      constsIn: Option[DataFrame]
  ): (DataFrame, DataFrame) = {
    require(topK > 0, "topK must be positive")
    val withLen = docs.select(
      col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")))

    // prune BEFORE the tf aggregate: the broadcast semi-join is a map-side
    // filter, so the groupBy shuffles only tokens matching the query
    // vocabulary instead of the whole corpus' token stream. The barrier
    // matters: the pruned postings feed BOTH the doc-frequency agg
    // and the contribution join — without it Catalyst recomputes the full
    // corpus scan + explode for each consumer (observed: 3 parquet scans
    // in the q84 plan). Checkpoint, not persist: the returned frame
    // references the postings, so no unpersist point exists inside
    // this function — the blocks are released by the host's
    // `Checkpoints.freeAll` barrier once the result is materialized (or
    // by the ContextCleaner as a fallback). LAZY: the first downstream
    // action (the consts agg when this call derives its own constants,
    // the docFreq broadcast build otherwise) is a full pass over the
    // postings that materializes the blocks in-job, so an eager upfront
    // scan would pay the corpus tokenize twice.
    //
    // Corpus constants (doc count + avgdl) ride the SAME scan when not
    // supplied: each doc emits one null-term MARKER row ahead of its
    // tokens (null-safe prune against a term set that carries one null
    // row — EqualNullSafe is a hash-join key, so the plan shape is the
    // same broadcast prune), and the constants agg reads the doc-grain
    // marker slice of the checkpoint. The old shape ran a SECOND full
    // corpus tokenize just for the one-row agg (2 scans per ad-hoc
    // call, 6 per PRF call); at 100 TB the extra pass is the whole
    // point. Marker rows add |docs| tiny (id, dl, null) rows to the
    // checkpoint — doc-grain metadata, guide §2.3. coalesce keeps the
    // marker alive for null-text docs (tokens(null) = null, and
    // concat-with-null would swallow the row): count must see EVERY
    // doc, exactly as the old `count(lit(1))` over the raw scan did.
    val emitMarkers = constsIn.isEmpty
    val termSet = qTerms.select("term").distinct()
    val stream =
      if (!emitMarkers)
        withLen
          .select(col(idCol), col("__dl"), explode(col("__toks")).as("term"))
          .join(broadcast(termSet), Seq("term"))
      else {
        val pruneSet = termSet.unionAll(
          qTerms.sparkSession.range(1).select(lit(null).cast("string").as("term")))
          .select(col("term").as("__qt"))
        withLen
          .select(col(idCol), col("__dl"), explode(concat(
            array(lit(null).cast("string")),
            coalesce(col("__toks"), array().cast("array<string>")))).as("term"))
          .join(broadcast(pruneSet), col("term") <=> col("__qt"), "left_semi")
      }
    val postings = graft.Checkpoints.localCheckpoint(
      stream.groupBy(col(idCol), col("__dl"), col("term"))
        .agg(count(lit(1)).as("__tf")), eager = false)

    // one tiny corpus-constants row, broadcast into the plan (never a
    // driver-side collect): the eager checkpoint's agg job is the full
    // pass that materializes the postings blocks. For a corpus with
    // unique doc ids its values equal the old separate-scan agg (count
    // over every doc's marker, avg over the same integer __dl set —
    // exact in double). Duplicate doc ids (outside the id contract)
    // differ: the (id, __dl, term) groupBy folds same-id, same-length
    // docs into one marker, so __n and __avgdl count them once.
    // Callers that score the SAME corpus twice (the PRF passes) hand in
    // pass one's row instead.
    val consts = constsIn.getOrElse(graft.Checkpoints.localCheckpoint(
      postings.filter(col("term").isNull).agg(
        count(lit(1)).as("__n"),
        avg(col("__dl").cast("double")).as("__avgdl"))))
    val realPostings =
      if (emitMarkers) postings.filter(col("term").isNotNull) else postings

    // document frequency over the pruned postings: (doc, term) is unique
    // after the tf aggregate, so count(*) IS the doc frequency
    val docFreq = realPostings.groupBy("term").agg(count(lit(1)).as("__df"))

    (scorePostings(realPostings, docFreq, consts, qTerms,
      idCol, queryIdCol, k1, b, topK), consts)
  }

  /** Shared BM25 scoring tail — the single formula both the ad-hoc
    * [[bm25Search]] and the persisted-index [[bm25SearchPreindexed]]
    * path run, so the two can never drift: identical idf/tf math and
    * the same term-sorted contribution fold (IEEE-reproducible).
    * `postings` must carry `(idCol, __dl, term, __tf)`, `docFreq`
    * `(term, __df)`, `consts` one row `(__n, __avgdl)`. */
  private def scorePostings(
      postings: DataFrame,
      docFreq: DataFrame,
      consts: DataFrame,
      qTerms: DataFrame,
      idCol: String,
      queryIdCol: String,
      k1: Double,
      b: Double,
      topK: Int
  ): DataFrame = {
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val contrib = postings
      .join(broadcast(docFreq), Seq("term"))
      .crossJoin(broadcast(consts))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      .withColumn("__c",
        col("__idf") * ((col("__tf") * lit(k1p1)) /
          (col("__tf") + lit(k1) * (lit(oneMinusB) + lit(b) * col("__dl") / col("__avgdl")))))

    val scored = contrib
      .join(broadcast(qTerms), Seq("term"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("__c").as("c")))),
        lit(0.0),
        (acc, x) => acc + x.getField("c")).as("score"))

    GroupTopK.topKPerGroup(scored, Seq(queryIdCol), idCol, "score", topK)
  }

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK (Rocchio-style query
    * expansion) — the retrieval stack's standard second knob after raw
    * BM25: run the query, harvest the most frequent terms of its top
    * `fbDocs` results (the pseudo-relevant set), append the top
    * `fbTerms` new terms to the query, and score again. Vocabulary
    * mismatch ("automobile" vs "car") is the failure mode this closes.
    *
    * Deterministic end to end: candidate terms rank by exact integer
    * frequency over the feedback docs (ties toward the binary-smaller
    * term, the [[topNgrams]] convention), original query terms are
    * excluded (they're already in the query), terms shorter than
    * `minTermLen` are skipped (single characters and stop-ish shorties
    * dominate any frequency ranking), and both scoring passes are the
    * [[bm25Search]] arithmetic — so the whole chain replays in the
    * oracle engine.
    *
    * Scale shape: pass one is [[bm25Search]]; the harvest explodes
    * ONLY the feedback docs' tokens (a broadcast semi-join of
    * |queries|·fbDocs ids prunes the corpus scan map-side) into a
    * (query, term)-grain aggregate; pass two is [[bm25Search]] over
    * the widened vocabulary. Output: the pass-two ranking
    * `(queryIdCol, idCol, score, rank)`. */
  def bm25SearchPrf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10,
      fbDocs: Int = 5,
      fbTerms: Int = 3,
      minTermLen: Int = 3
  ): DataFrame = {
    require(fbDocs > 0, "fbDocs must be positive")
    require(fbTerms > 0, "fbTerms must be positive (use bm25Search for none)")
    val qTerms = queries.select(
      col(queryIdCol),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol)))).as("term"))
    // corpus constants once for BOTH scoring passes: pass one derives
    // them from ITS OWN postings scan (the marker rows inside
    // searchWithTermsAndConsts) and hands the one-row frame to pass two
    // — the old shape paid a separate full corpus tokenize just for the
    // constants agg (4 scans per PRF call; now 3: combined
    // constants+pass-1 postings, the feedback harvest, pass-2 postings
    // — the last two are PRF's definition)
    val (first, consts) = searchWithTermsAndConsts(docs, idCol, textCol,
      qTerms, queryIdCol, k1, b, fbDocs, None)
    // the first-pass page is |queries|·fbDocs rows by construction:
    // ONE collect replaces the old eager checkpoint, and fbIds becomes
    // a local relation (job-free broadcast builds downstream). The
    // ceiling keeps the bound LOUD: a pathological query batch must
    // refuse with the knob's name, not OOM the driver mid-collect.
    val spark = docs.sparkSession
    val fbSchema = org.apache.spark.sql.types.StructType(Seq(
      first.schema(queryIdCol), first.schema(idCol)))
    val fbCollected = collectLocalPage(first.select(col(queryIdCol), col(idCol)),
      "the first-pass feedback page (|queries| * fbDocs)", "bm25SearchPrf")
    val fbIds = spark.createDataFrame(
      java.util.Arrays.asList(fbCollected: _*), fbSchema)
    // the feedback docs' token stream: the corpus scan prunes map-side
    // against the (tiny) union of feedback ids before exploding
    val fbToks = docs
      .join(broadcast(fbIds.select(col(idCol)).distinct()), Seq(idCol))
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val cand = fbIds.join(fbToks, Seq(idCol))
      .filter(length(col("term")) >= minTermLen)
      .groupBy(col(queryIdCol), col("term"))
      .agg(count(lit(1)).as("__cnt"))
      .join(qTerms, Seq(queryIdCol, "term"), "left_anti")
    // picked is fbTerms·|queries| rows: landed locally so the widened
    // pass-2 vocabulary is a projection ∪ local relation — the old lazy
    // shape re-ran the harvest's PRUNED CORPUS SCAN once per pass-2
    // broadcast build of the expanded terms (two extra scans per call)
    val pickedSchema = org.apache.spark.sql.types.StructType(Seq(
      first.schema(queryIdCol),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val pickedRows = collectLocalPage(
      GroupTopK.topKPerGroupString(cand, Seq(queryIdCol), "term", "__cnt", fbTerms)
        .select(col(queryIdCol), col("term")),
      "the picked feedback-term set (|queries| * fbTerms)", "bm25SearchPrf")
    val picked = spark.createDataFrame(
      java.util.Arrays.asList(pickedRows: _*), pickedSchema)
    searchWithTerms(docs, idCol, textCol, qTerms.unionByName(picked),
      queryIdCol, k1, b, topK, Some(consts))
  }

  /** Persist a doc-grain FORWARD INDEX sidecar — the "what terms does
    * document X contain" table the term-partitioned postings tree
    * cannot answer without a full scan: `docterms/` holds
    * `(__docid, term, __tf)` PARTITIONED BY
    * `doc_bucket = pmod(xxhash64(__docid), numBuckets)`, so any
    * doc-grain read (the [[bm25SearchPrfPreindexed]] feedback harvest,
    * a more-like-this query) prunes to its documents' buckets; `stats/`
    * pins one row `(num_buckets, id_col, id_type, __nrows)` (exact
    * integer row count — appends and takedowns update it without
    * rescans, and an EMPTY forward index short-circuits on it rather
    * than asking parquet to infer a schema from a file-less dir).
    * Tokenization is [[bm25Search]]'s, so per-doc term frequencies
    * equal the ad-hoc token counts exactly. Build-once next to
    * [[saveBm25Index]]; [[appendToBm25Forward]] /
    * [[removeFromBm25Forward]] / [[compactBm25Forward]] are the
    * lifecycle, all marker-fenced. */
  def saveBm25Forward(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numBuckets: Int = 64
  ): Unit = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    val spark = docs.sparkSession
    IndexCommit.fresh(spark, path)
    val idType = docs.select(col(idCol)).schema.head.dataType.sql
    val tf = forwardRows(docs, idCol, textCol, numBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tf.write.mode("overwrite").partitionBy("doc_bucket").parquet(s"$path/docterms")
    writeForwardStats(spark, s"$path/stats", numBuckets, idCol, idType,
      tf.count())
    tf.unpersist()
    ()
  }

  /** The forward table's row derivation (shared by save and append):
    * one row per (doc, term) with its exact term frequency, bucketed by
    * the document id's hash. */
  private def forwardRows(
      docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int): DataFrame =
    docs.select(col(idCol).as("__docid"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("__docid"), col("term"))
      .agg(count(lit(1)).as("__tf"))
      .withColumn("doc_bucket", pmod(xxhash64(col("__docid")), lit(numBuckets.toLong)))

  private def writeForwardStats(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      numBuckets: Int, idCol: String, idType: String, nRows: Long): Unit =
    IndexCommit.writeRow(spark, dir, "num_buckets" -> numBuckets,
      "id_col" -> idCol, "id_type" -> idType, "__nrows" -> nRows)

  /** O(increment) append to a standing [[saveBm25Forward]] sidecar: the
    * new documents' rows stage bucketed and MERGE into the live bucket
    * dirs; the stats row's exact count updates alongside. `batchTag`
    * gives streaming callers the exactly-once fence
    * ([[IndexCommit.maintain]] — a retried batch no-ops). An empty
    * increment is a no-op. One maintenance op at a time per root. */
  def appendToBm25Forward(
      newDocs: DataFrame,
      textCol: String,
      path: String,
      batchTag: Option[Long] = None
  ): Unit = {
    IndexCommit.maintain(newDocs.sparkSession, path, batchTag)(_ =>
      stageForwardAppend(newDocs, textCol, path, path, ""))
  }

  /** [[appendToBm25Forward]]'s staging half: write the increment's
    * bucketed rows + rolled stats under `commitRoot`'s staging dir at
    * relative prefix `rel` ("" for a standalone sidecar commit,
    * "forward/" when riding the index root's fused marker) WITHOUT
    * publishing. Returns the commit actions, empty for an empty
    * increment. */
  private[graft] def stageForwardAppend(
      newDocs: DataFrame,
      textCol: String,
      fwdLive: String,
      commitRoot: String,
      rel: String
  ): Seq[(String, String)] = {
    val spark = newDocs.sparkSession
    val stats = spark.read.parquet(s"$fwdLive/stats").head()
    val nb = stats.getAs[Int]("num_buckets")
    val idCol = stats.getAs[String]("id_col")
    val idType = org.apache.spark.sql.types.DataType
      .fromDDL(stats.getAs[String]("id_type"))
    val staging = IndexCommit.stagingDir(commitRoot)
    val inc = forwardRows(
      newDocs.select(col(idCol).cast(idType).as(idCol), col(textCol)),
      idCol, textCol, nb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = inc.count()
    if (n == 0L) { inc.unpersist(); return Seq.empty }
    inc.write.mode("overwrite").partitionBy("doc_bucket")
      .parquet(s"$staging/${rel}docterms")
    writeForwardStats(spark, s"$staging/${rel}stats", nb, idCol,
      stats.getAs[String]("id_type"), stats.getAs[Long]("__nrows") + n)
    inc.unpersist()
    Seq("merge" -> s"${rel}docterms", "swap" -> s"${rel}stats")
  }

  /** TAKEDOWN for the forward sidecar: remove documents by id,
    * rewriting ONLY the bucket directories the ids hash to (the
    * [[graft.io.Layout.removeFromShardExport]] pattern — the bucket is
    * pure arithmetic, the scan partition-prunes, untouched buckets keep
    * their files); the affected buckets also compact as a side effect.
    * Ids never ingested are ignored; marker-fenced. */
  def removeFromBm25Forward(ids: DataFrame, path: String): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a one-column frame of document ids, got ${ids.columns.toSeq}")
    IndexCommit.maintain(ids.sparkSession, path)(_ =>
      stageForwardRemove(ids, path, path, ""))
  }

  /** [[removeFromBm25Forward]]'s staging half (the
    * [[stageForwardAppend]] convention: `rel`-prefixed paths under
    * `commitRoot`'s staging). Returns the commit actions, empty when
    * none of the ids was ever ingested. */
  private[graft] def stageForwardRemove(
      ids: DataFrame,
      fwdLive: String,
      commitRoot: String,
      rel: String
  ): Seq[(String, String)] = {
    val spark = ids.sparkSession
    val stats = spark.read.parquet(s"$fwdLive/stats").head()
    if (stats.getAs[Long]("__nrows") == 0L) return Seq.empty
    val nb = stats.getAs[Int]("num_buckets")
    val idType = org.apache.spark.sql.types.DataType
      .fromDDL(stats.getAs[String]("id_type"))
    val rmIds = broadcast(ids.select(col(ids.columns.head)
      .cast(idType).as("__docid")).na.drop().distinct())
    val affected = rmIds
      .select(pmod(xxhash64(col("__docid")), lit(nb.toLong)).as("__b"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (affected.isEmpty) return Seq.empty
    val pruned = spark.read.parquet(s"$fwdLive/docterms")
      .filter(col("doc_bucket").isin(affected: _*))
    val removed = pruned.join(rmIds, Seq("__docid"), "left_semi").count()
    if (removed == 0L) return Seq.empty // nothing of these ids ingested
    val staging = IndexCommit.stagingDir(commitRoot)
    val fs = IndexCommit.fsFor(spark, commitRoot)
    pruned.join(rmIds, Seq("__docid"), "left_anti")
      .write.mode("overwrite").partitionBy("doc_bucket")
      .parquet(s"$staging/${rel}docterms")
    // a bucket whose every row was removed writes no staged files — its
    // swap still needs a source dir or the live rows would survive
    affected.foreach { b =>
      fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$staging/${rel}docterms/doc_bucket=$b")); ()
    }
    writeForwardStats(spark, s"$staging/${rel}stats", nb,
      stats.getAs[String]("id_col"), stats.getAs[String]("id_type"),
      stats.getAs[Long]("__nrows") - removed)
    affected.map(b => "swap" -> s"${rel}docterms/doc_bucket=$b") :+
      (("swap", s"${rel}stats"))
  }

  /** OFFLINE maintenance: fold the forward sidecar's per-append small
    * files back to ~one per bucket, plus the fence-fold rider — the
    * [[compactBm25Index]] discipline. */
  def compactBm25Forward(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    IndexCommit.maintain(spark, path) { staging =>
      val stats = spark.read.parquet(s"$path/stats").head()
      val docterms =
        if (stats.getAs[Long]("__nrows") == 0L) Seq.empty
        else {
          spark.read.parquet(s"$path/docterms")
            .repartition(col("doc_bucket"))
            .write.mode("overwrite").partitionBy("doc_bucket")
            .parquet(s"$staging/docterms")
          Seq("swap" -> "docterms")
        }
      docterms ++ IndexCommit.stageTagCompaction(spark, path)
    }

  /** The FUSED-lifecycle sidecar location: the forward index lives
    * INSIDE the index root (`<indexPath>/forward`), so both artifacts'
    * mutations can ride ONE [[IndexCommit]] marker at the index root —
    * the whole point of the fused wrappers below. The nested root is
    * invisible to the index's own readers (they read the named
    * `postings`/`terms`/`doclens`/`stats` subdirs only) and is a fully
    * valid standalone sidecar path for [[bm25SearchPrfPreindexed]]. */
  def bm25ForwardPathFor(indexPath: String): String = s"$indexPath/forward"

  /** Build the BM25 index AND its forward sidecar as ONE artifact
    * family under `indexPath` (sidecar at [[bm25ForwardPathFor]]) — the
    * fused lifecycle that keeps served pseudo-relevance feedback
    * ([[bm25SearchPrfPreindexed]]) exact without the caller issuing
    * every mutation twice: [[appendToBm25WithForward]] /
    * [[removeFromBm25WithForward]] stage BOTH artifacts and publish
    * under ONE marker, so no crash or forgotten second call can leave
    * the pair out of step (a missed sidecar takedown would silently
    * keep serving feedback terms from a forgotten document — a
    * right-to-be-forgotten leak). The corpus pins (persist) before the
    * two builds so both tokenize the SAME rows even for
    * non-deterministic inputs. */
  def saveBm25WithForward(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      numBuckets: Int = 64
  ): Unit = {
    val pinned = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      saveBm25Index(pinned, idCol, textCol, indexPath, numBuckets)
      saveBm25Forward(pinned, idCol, textCol, bm25ForwardPathFor(indexPath),
        numBuckets)
    } finally { pinned.unpersist(); () }
  }

  /** Fused APPEND: stage the postings-tree increment AND the forward
    * sidecar's increment, publish both under ONE marker at the index
    * root — a crash replays both or neither, and `batchTag`'s
    * exactly-once fence (at the index root) covers the pair. The
    * increment pins before staging so both halves index the same rows.
    * Same caller contract as [[appendToBm25Index]]: a document id
    * appends at most once. */
  def appendToBm25WithForward(
      newDocs: DataFrame,
      textCol: String,
      indexPath: String,
      batchTag: Option[Long] = None
  ): Unit = {
    val fwd = bm25ForwardPathFor(indexPath)
    IndexCommit.recover(newDocs.sparkSession, fwd) // a crashed STANDALONE sidecar op
    IndexCommit.maintain(newDocs.sparkSession, indexPath, batchTag) { _ =>
      val pinned = newDocs
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try stageBm25Append(pinned, textCol, indexPath) ++
        stageForwardAppend(pinned, textCol, fwd, indexPath, "forward/")
      finally { pinned.unpersist(); () }
    }
  }

  /** Fused TAKEDOWN (right-to-be-forgotten): remove the documents from
    * the postings tree AND the forward sidecar under ONE marker — the
    * mutation where an out-of-step pair is not just inexact but a
    * compliance leak. Post-commit, searches AND served feedback are
    * bit-identical to a pair rebuilt without the documents. */
  def removeFromBm25WithForward(ids: DataFrame, indexPath: String): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a one-column frame of document ids, got ${ids.columns.toSeq}")
    val fwd = bm25ForwardPathFor(indexPath)
    IndexCommit.recover(ids.sparkSession, fwd)
    IndexCommit.maintain(ids.sparkSession, indexPath)(_ =>
      stageBm25Remove(ids, indexPath) ++
        stageForwardRemove(ids, fwd, indexPath, "forward/"))
  }

  /** Fused OFFLINE maintenance: compact both artifacts. Sequential
    * commits are safe HERE (unlike append/remove): compaction rewrites
    * identical content, so a crash between the two cannot put the
    * pair's CONTENT out of step — each root's own marker keeps each
    * rewrite crash-safe. */
  def compactBm25WithForward(
      spark: org.apache.spark.sql.SparkSession, indexPath: String): Unit = {
    compactBm25Index(spark, indexPath)
    compactBm25Forward(spark, bm25ForwardPathFor(indexPath))
  }

  /** CHUNK-GRAIN RIGHT-TO-BE-FORGOTTEN — takedown by DOCUMENT id
    * against a CHUNK-keyed index (the q269/q274/[[chunkText]] cid
    * convention `cid = doc_id · maxChunksPerDoc + chunk_idx`): the
    * forgotten documents' chunk ids are recovered from the index's own
    * `doclens` ledger by the arithmetic `cid div maxChunksPerDoc` — no
    * chunker re-run, no corpus access, so the takedown works even when
    * the source document is already gone (the RTBF norm). The derived
    * cid set removes through [[removeFromBm25WithForward]] when the
    * fused forward sidecar exists (ONE marker covers the pair — served
    * chunk-grain PRF cannot keep feedback terms from a forgotten
    * document) and [[removeFromBm25Index]] otherwise. Post-commit,
    * chunk searches ≡ an index rebuilt from the surviving documents'
    * chunks (oracle-pinned, the q256 discipline at chunk grain).
    *
    * Loud id discipline (the [[graft.ops.GroupTopK]] convention): a
    * non-long-castable doc id refuses with the
    * [[graft.ops.Ids.withSurrogateId]] pointer rather than silently
    * matching nothing. `maxChunksPerDoc` must equal the value the index
    * was CHUNKED with — a mismatch would take down the wrong cid range.
    *
    * Scale shape: one `doclens` scan (semi-joined against the
    * broadcast takedown list) + the remove's own staged rewrite; the
    * derived cid frame is |takedown list| · chunks-per-doc, broadcast-
    * small by construction. */
  def removeDocsFromChunkIndex(
      docIds: DataFrame,
      indexPath: String,
      maxChunksPerDoc: Int = 1000
  ): Unit = {
    require(docIds.columns.length == 1,
      s"docIds must be a one-column frame of document ids, got ${docIds.columns.toSeq}")
    require(maxChunksPerDoc >= 1, "maxChunksPerDoc must be >= 1")
    val spark = docIds.sparkSession
    IndexCommit.recover(spark, indexPath)
    val idc = docIds.columns.head
    val idLong = col(idc).cast("long")
    val checkedDoc = when(col(idc).isNotNull && idLong.isNull,
        raise_error(concat(lit("removeDocsFromChunkIndex: doc id not castable to long: '"),
          col(idc).cast("string"),
          lit("' — map ids through graft.ops.Ids.withSurrogateId first"))))
      .otherwise(idLong)
    val rmDocs = docIds.select(checkedDoc.as("__doc")).na.drop().distinct()
    val m = maxChunksPerDoc.toLong
    // pin the derived cid sliver: the staged remove references it from
    // several joins, and each reference would otherwise re-scan doclens
    val cids = spark.read.parquet(s"$indexPath/doclens")
      .select(col("__docid").cast("long").as("cid"))
      .join(broadcast(rmDocs),
        expr(s"cid div $m") === col("__doc"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fs = IndexCommit.fsFor(spark, indexPath)
      val hasForward = fs.exists(new org.apache.hadoop.fs.Path(
        s"${bm25ForwardPathFor(indexPath)}/stats"))
      if (hasForward) removeFromBm25WithForward(cids, indexPath)
      else removeFromBm25Index(cids, indexPath)
    } finally { cids.unpersist(); () }
  }

  /** [[bm25SearchPrf]] SERVED OFF THE PERSISTED ARTIFACTS — no corpus
    * scan anywhere: pass one is [[bm25SearchPreindexed]], the feedback
    * harvest reads the forward sidecar pruned to the feedback ids'
    * buckets (per-doc term frequencies equal the ad-hoc token counts by
    * construction, so the expansion picks are identical), and pass two
    * scores the widened vocabulary through the same pruned-postings
    * body — results are bit-identical to the ad-hoc
    * [[bm25SearchPrf]] over the indexed corpus (oracle-pinned, the
    * q248 serving-parity discipline). An EMPTY forward sidecar (seeded
    * before data) degrades to plain preindexed BM25. */
  def bm25SearchPrfPreindexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      forwardPath: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10,
      fbDocs: Int = 5,
      fbTerms: Int = 3,
      minTermLen: Int = 3
  ): DataFrame = {
    require(fbDocs > 0, "fbDocs must be positive")
    require(fbTerms > 0, "fbTerms must be positive (use bm25SearchPreindexed for none)")
    val qTerms = queries.select(
      col(queryIdCol),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol)))).as("term"))
    val fwdStats = spark.read.parquet(s"$forwardPath/stats").head()
    if (fwdStats.getAs[Long]("__nrows") == 0L)
      return searchPreindexedWithTerms(spark, indexPath, qTerms,
        queryIdCol, k1, b, topK)
    // ONE stats snapshot for the whole invocation — both scoring passes
    // and the id-column check below share it (was three driver jobs)
    val idxStats = spark.read.parquet(s"$indexPath/stats").head()
    val idCol = idxStats.getAs[String]("id_col")
    // the two artifacts must have been built on the same id column —
    // a mismatched pair would make the feedback join silently match
    // nothing (degrading to plain BM25 with no signal); refuse loudly
    // instead, the codebase convention
    val fwdIdCol = fwdStats.getAs[String]("id_col")
    require(fwdIdCol == idCol,
      s"bm25SearchPrfPreindexed: index at '$indexPath' was built on id " +
        s"column '$idCol' but forward sidecar at '$forwardPath' on " +
        s"'$fwdIdCol' — the artifacts are out of step (rebuild the " +
        "sidecar from the same corpus/id, or use saveBm25WithForward)")
    val first = searchPreindexedWithTerms(spark, indexPath, qTerms,
      queryIdCol, k1, b, fbDocs, statsIn = Some(idxStats))
    val nb = fwdStats.getAs[Int]("num_buckets")
    val idType = org.apache.spark.sql.types.DataType
      .fromDDL(fwdStats.getAs[String]("id_type"))
    // the pass-one page is |queries|·fbDocs rows BY CONSTRUCTION — the
    // old path persisted it, collected the bucket sliver in one job and
    // built two broadcasts in two more; ONE collect makes fbIds, its
    // distinct ids and the bucket prune all local (job-free broadcasts)
    val fbRows = collectLocalPage(first
      .select(col(queryIdCol), col(idCol).cast(idType).as("__docid"),
        pmod(xxhash64(col(idCol).cast(idType)), lit(nb.toLong)).as("__b")),
      "the first-pass feedback page (|queries| * fbDocs)",
      "bm25SearchPrfPreindexed")
    val fbSchema = org.apache.spark.sql.types.StructType(Seq(
      qTerms.schema(queryIdCol),
      org.apache.spark.sql.types.StructField("__docid", idType, nullable = true)))
    val fbIds = spark.createDataFrame(
      java.util.Arrays.asList(fbRows.map(r =>
        org.apache.spark.sql.Row(r.get(0), r.get(1))): _*), fbSchema)
    val buckets = fbRows.iterator.map(_.getLong(2)).toSet.toSeq
    val expanded =
      if (buckets.isEmpty) qTerms // pass one found nothing to feed back
      else {
        val fwd = spark.read.parquet(s"$forwardPath/docterms")
          .filter(col("doc_bucket").isin(buckets: _*))
          .join(broadcast(fbIds.select("__docid").distinct()), Seq("__docid"))
        val cand = fbIds.join(fwd, Seq("__docid"))
          .filter(length(col("term")) >= minTermLen)
          .groupBy(col(queryIdCol), col("term"))
          .agg(sum(col("__tf")).as("__cnt"))
          .join(qTerms, Seq(queryIdCol, "term"), "left_anti")
        qTerms.unionByName(GroupTopK.topKPerGroupString(
            cand, Seq(queryIdCol), "term", "__cnt", fbTerms)
          .select(col(queryIdCol), col("term")))
      }
    searchPreindexedWithTerms(spark, indexPath, expanded, queryIdCol, k1, b,
      topK, statsIn = Some(idxStats))
  }

  /** Persist a BM25 SERVING INDEX — the lexical analogue of
    * [[graft.ops.Similarity.saveIvfIndex]]'s build-once/query-forever
    * treatment, for the corpus a query loop would otherwise re-tokenize
    * and re-aggregate per call ([[bm25Search]] recomputes postings from
    * raw text every time). Layout under `path`:
    *  - `postings/`: `(term, __docid, __dl, __tf)` PARTITIONED BY
    *    `term_bucket` (= `pmod(xxhash64(term), numBuckets)`) — a query
    *    batch prunes its read to its own vocabulary's buckets;
    *  - `terms/`: `(term, __df)` per term, same bucketing — document
    *    frequency precomputed at build time, aggregated from the
    *    WRITTEN postings (one corpus pass total);
    *  - `doclens/`: `(__docid, __dl)` per ingested document — the
    *    DOC-GRAIN ledger that makes [[removeFromBm25Index]] exact even
    *    for token-less documents (which have no postings but still
    *    count in `__n`/`__ndl`);
    *  - `stats/`: one row `(__n, __ndl, __sumdl, num_buckets, id_col,
    *    id_type)` — exact integers, so [[appendToBm25Index]] and
    *    [[removeFromBm25Index]] update them without float drift and
    *    the derived avgdl stays bitwise equal to the ad-hoc path's
    *    `avg`; `id_type` pins the id column's Spark SQL type so even
    *    an EMPTY result frame carries the contract schema.
    * Rebuilding after corpus drift is re-running this;
    * [[appendToBm25Index]] is the incremental write side,
    * [[compactBm25Index]] folds append-accumulated small files, and
    * [[removeFromBm25Index]] is the takedown side. */
  def saveBm25Index(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numBuckets: Int = 64,
      withPositions: Boolean = false
  ): Unit = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    val spark = docs.sparkSession
    IndexCommit.fresh(spark, path)
    // a previous FUSED family's nested forward sidecar must not survive
    // the rebuild out of step (rebuild it too, or use saveBm25WithForward)
    IndexCommit.fsFor(spark, path)
      .delete(new org.apache.hadoop.fs.Path(bm25ForwardPathFor(path)), true)
    val idType = docs.select(col(idCol)).schema.head.dataType.sql
    val withLen = docs.select(
      col(idCol).as("__docid"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")))
    // postings persisted for the build's two consumers (the write and the
    // df aggregate) — one corpus pass, and no read-back of a possibly
    // file-less write (partitionBy over an empty corpus writes nothing)
    val postings = postingRows(withLen, numBuckets, withPositions)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    postings.write.mode("overwrite").partitionBy("term_bucket").parquet(s"$path/postings")
    // (doc, term) is unique after the tf aggregate, so count(*) IS df
    postings
      .groupBy(col("term_bucket"), col("term"))
      .agg(count(lit(1)).as("__df"))
      .write.mode("overwrite").partitionBy("term_bucket").parquet(s"$path/terms")
    postings.unpersist()
    // the doc-grain ledger, persisted for ITS two consumers (the doclens
    // write and the stats aggregate) so the corpus tokenizes exactly
    // once more, not twice
    val lens = withLen.select(col("__docid"), col("__dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lens.write.mode("overwrite").parquet(s"$path/doclens")
    // stats as EXACT integers (doc count, non-null dl count and sum):
    // avgdl derives at query time as sum/count — bitwise equal to the
    // ad-hoc `avg` (integer-valued doubles sum exactly below 2^53), and
    // an APPEND/REMOVE can update the stats without float drift
    lens
      .agg(count(lit(1)).as("__n"),
        count(col("__dl")).as("__ndl"),
        coalesce(sum(col("__dl").cast("long")), lit(0L)).as("__sumdl"))
      .withColumn("num_buckets", lit(numBuckets))
      .withColumn("id_col", lit(idCol))
      .withColumn("id_type", lit(idType))
      .withColumn("positional", lit(withPositions))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    lens.unpersist()
    ()
  }

  /** The postings-tree row derivation shared by [[saveBm25Index]] and
    * [[stageBm25Append]]: one row per (doc, term) with its exact term
    * frequency, bucketed by the term's hash — and, for a POSITIONAL
    * index, the term's sorted 1-based occurrence positions (`__pos`),
    * the column [[phraseSearchPreindexed]] intersects by position
    * arithmetic. Positions cost ~one int per token — the standing
    * postings tree grows by roughly the tokenized corpus size, the
    * price of serving phrase queries without a corpus scan. */
  private def postingRows(
      withLen: DataFrame, numBuckets: Int, withPositions: Boolean
  ): DataFrame = {
    val base =
      if (!withPositions)
        withLen
          .select(col("__docid"), col("__dl"), explode(col("__toks")).as("term"))
          .groupBy(col("__docid"), col("__dl"), col("term"))
          .agg(count(lit(1)).as("__tf"))
      else
        withLen
          .select(col("__docid"), col("__dl"),
            posexplode(col("__toks")).as(Seq("__p0", "term")))
          .groupBy(col("__docid"), col("__dl"), col("term"))
          .agg(count(lit(1)).as("__tf"),
            array_sort(collect_list(col("__p0").cast("int") + 1)).as("__pos"))
    base.withColumn("term_bucket",
      pmod(xxhash64(col("term")), lit(numBuckets.toLong)))
  }

  /** One exact-integer stats row, written to `dir` — the shared writer
    * for the save/append/remove maintenance paths (identical schema,
    * identical exactness contract). */
  private def writeStatsRow(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      n: Long, ndl: Long, sumdl: Long,
      numBuckets: Int, idCol: String, idType: String,
      positional: Boolean
  ): Unit =
    IndexCommit.writeRow(spark, dir, "__n" -> n, "__ndl" -> ndl,
      "__sumdl" -> sumdl, "num_buckets" -> numBuckets, "id_col" -> idCol,
      "id_type" -> idType, "positional" -> positional)

  /** Whether a standing index carries positional postings — older stats
    * rows (pre-positional artifacts) lack the column and read false. */
  private def statsPositional(stats: org.apache.spark.sql.Row): Boolean =
    stats.schema.fieldNames.contains("positional") &&
      stats.getAs[Boolean]("positional")

  /** Index MAINTENANCE: tokenize ONLY the new documents, append their
    * postings under the stored bucketing, merge their per-term document
    * frequencies into the VOCAB-GRAIN terms table, and roll the exact
    * integer stats — the increment costs the increment: nothing here
    * re-reads the standing postings tree (the terms merge touches the
    * terms table, which lives at vocabulary grain, ≪ postings). The
    * next [[bm25SearchPreindexed]]/[[graft.streaming.StreamingEval
    * .bm25QueryStream]] batch sees the merged corpus.
    *
    * Crash safety: the increment is evaluated ONCE (persisted — a
    * non-deterministic input frame cannot diverge between its
    * consumers), every output stages under the index's staging dir,
    * and the postings-append + terms-swap + stats-swap publish as one
    * marker-fenced [[IndexCommit]] commit: a crash before the marker
    * leaves the live index untouched (re-run the append); a crash after
    * it is completed by the next maintenance call's preamble or an
    * explicit [[IndexCommit.recover]].
    *
    * Caller contract: a document id must be appended at most once
    * (duplicate postings would double-count document frequency —
    * rebuild with [[saveBm25Index]] to re-ingest). */
  def appendToBm25Index(
      newDocs: DataFrame,
      textCol: String,
      indexPath: String,
      batchTag: Option[Long] = None
  ): Unit = {
    // exactly-once fencing for streaming appenders (the tag's fence
    // rides the same atomic marker replay as the postings increment)
    IndexCommit.maintain(newDocs.sparkSession, indexPath, batchTag)(_ =>
      stageBm25Append(newDocs, textCol, indexPath))
  }

  /** [[appendToBm25Index]]'s staging half: recover any pending commit,
    * then write the increment's postings/doclens, the merged terms, and
    * the rolled stats under the staging dir WITHOUT publishing. Returns the
    * action list the commit needs. Package-private so crash-recovery
    * specs can stop the world between stage and commit. */
  private[graft] def stageBm25Append(
      newDocs: DataFrame,
      textCol: String,
      indexPath: String
  ): Seq[(String, String)] = {
    val spark = newDocs.sparkSession
    IndexCommit.recover(spark, indexPath)
    val stats = spark.read.parquet(s"$indexPath/stats").head()
    val nb = stats.getAs[Int]("num_buckets")
    val idCol = stats.getAs[String]("id_col")
    val staging = IndexCommit.stagingDir(indexPath)
    // ONE evaluation of the (possibly expensive or non-deterministic)
    // increment: everything below derives from this persisted frame
    val withLen = newDocs.select(
      col(idCol).as("__docid"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the increment's postings match the standing tree's mode: a
    // positional index appends positional rows (the stats flag is the
    // contract — a schema mismatch would poison the merged read)
    val incPost = postingRows(withLen, nb, statsPositional(stats))
      .withColumn("term_bucket", col("term_bucket").cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    incPost.write.mode("overwrite").partitionBy("term_bucket")
      .parquet(s"$staging/postings")
    withLen.select(col("__docid"), col("__dl"))
      .write.mode("overwrite").parquet(s"$staging/doclens")
    val inc = withLen.agg(count(lit(1)).as("n2"),
      count(col("__dl")).as("ndl2"),
      coalesce(sum(col("__dl").cast("long")), lit(0L)).as("sumdl2")).head()
    val oldSumdl = stats.getAs[Long]("__sumdl")
    val incSumdl = inc.getAs[Long]("sumdl2")
    var actions = Seq("merge" -> "postings", "merge" -> "doclens")
    // terms merge — O(increment ∪ vocabulary), never O(postings): the
    // increment's own df full-outer-joins the standing terms table.
    // Skipped when the increment carries zero tokens (df unchanged);
    // built from the increment alone when the standing corpus had none
    // (a token-less index has no terms files to read a schema from)
    if (incSumdl > 0L) {
      val incDf = incPost.groupBy(col("term_bucket"), col("term"))
        .agg(count(lit(1)).as("__df2"))
      val mergedTerms =
        if (oldSumdl == 0L)
          incDf.select(col("term_bucket"), col("term"), col("__df2").as("__df"))
        else spark.read.parquet(s"$indexPath/terms")
          .withColumnRenamed("term_bucket", "__tb1")
          .join(incDf.withColumnRenamed("term_bucket", "__tb2"),
            Seq("term"), "full_outer")
          .select(
            coalesce(col("__tb1").cast("int"), col("__tb2")).as("term_bucket"),
            col("term"),
            (coalesce(col("__df"), lit(0L)) + coalesce(col("__df2"), lit(0L)))
              .as("__df"))
      mergedTerms.write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$staging/terms")
      actions :+= (("swap", "terms"))
    }
    writeStatsRow(spark, s"$staging/stats",
      stats.getAs[Long]("__n") + inc.getAs[Long]("n2"),
      stats.getAs[Long]("__ndl") + inc.getAs[Long]("ndl2"),
      oldSumdl + incSumdl,
      nb, idCol, stats.getAs[String]("id_type"), statsPositional(stats))
    actions :+= (("swap", "stats"))
    incPost.unpersist()
    withLen.unpersist()
    actions
  }

  /** OFFLINE maintenance: fold the small file-sets accumulated by
    * [[appendToBm25Index]] (one per append batch, forever) back into
    * ~one file per `term_bucket` — identical rows, bit-identical search
    * results (spec-pinned), one file listing per bucket instead of
    * thousands. Marker-fenced like every maintenance op: a crash
    * mid-compaction either leaves the live tree untouched or is
    * completed by the next call's preamble. Run with writers stopped
    * (the [[IndexCommit]] single-writer contract). */
  def compactBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String
  ): Unit = IndexCommit.maintain(spark, indexPath) { staging =>
    val stats = spark.read.parquet(s"$indexPath/stats").head()
    if (stats.getAs[Long]("__sumdl") == 0L && stats.getAs[Long]("__n") == 0L)
      Seq.empty // empty index: nothing accumulated
    else {
      var actions = Seq.empty[(String, String)]
      if (stats.getAs[Long]("__sumdl") > 0L) {
        // repartition by the partition column: each bucket's rows land in
        // exactly one task, so the rewrite emits one file per bucket
        // (size the bucket count for the corpus — the file IS the bucket)
        spark.read.parquet(s"$indexPath/postings")
          .repartition(col("term_bucket"))
          .write.mode("overwrite").partitionBy("term_bucket")
          .parquet(s"$staging/postings")
        spark.read.parquet(s"$indexPath/terms")
          .repartition(col("term_bucket"))
          .write.mode("overwrite").partitionBy("term_bucket")
          .parquet(s"$staging/terms")
        actions ++= Seq("swap" -> "postings", "swap" -> "terms")
      }
      // doclens: plain read->write — the scan bin-packs small files into
      // maxPartitionBytes-sized input splits, so the output lands at
      // healthy file sizes without a shuffle
      spark.read.parquet(s"$indexPath/doclens")
        .write.mode("overwrite").parquet(s"$staging/doclens")
      (actions :+ (("swap", "doclens"))) ++
        IndexCommit.stageTagCompaction(spark, indexPath)
    }
  }

  /** TAKEDOWN (right-to-be-forgotten): remove documents from the
    * persisted index by id, updating document frequency and the exact
    * integer stats precisely — post-delete searches are bit-identical
    * to an index rebuilt without the documents (oracle-pinned). `ids`
    * is a one-column frame of document ids (broadcast — a takedown
    * batch is small); ids never ingested are ignored. The doc-grain
    * `doclens` ledger makes the stats exact even for token-less
    * documents; df updates by SUBTRACTING the removed documents'
    * per-term counts from the vocab-grain terms table (terms whose df
    * reaches zero drop). Cost: two scans of the postings tree (the
    * kept-rows rewrite — which also compacts — and the removed-df
    * aggregate); an offline maintenance op, marker-fenced like the
    * rest. */
  def removeFromBm25Index(
      ids: DataFrame,
      indexPath: String
  ): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a one-column frame of document ids, got ${ids.columns.toSeq}")
    IndexCommit.maintain(ids.sparkSession, indexPath)(_ =>
      stageBm25Remove(ids, indexPath))
  }

  /** INDEX HEALTH REPORT — the describe an operator runs before
    * trusting a standing [[saveBm25Index]] artifact (or after a long
    * append/remove history): ONE row of exact-integer corpus facts
    * (doc counts, token totals, doc-length extremes, vocabulary size,
    * postings volume, the heaviest term's df) plus the bucket-balance
    * columns that tell whether the partition pruning still has a
    * healthy layout to prune (`buckets_used`, `max_bucket_rows` — a
    * bucket holding most of the postings means the "pruned" read is a
    * full read). The corpus facts replay from the source corpus
    * (oracle-pinned); the bucket columns ride the xxhash64 layout and
    * are spec-pinned instead (the q41/q62 twin discipline).
    *
    * Scale shape: one scan each of doclens / terms / postings, all
    * aggregating to scalars — no joins, no windows, no driver state
    * beyond the one-row result. */
  def describeBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String
  ): DataFrame = {
    val stats = spark.read.parquet(s"$indexPath/stats").head()
    val n = stats.getAs[Long]("__n")
    val ndl = stats.getAs[Long]("__ndl")
    val sumdl = stats.getAs[Long]("__sumdl")
    val lens = spark.read.parquet(s"$indexPath/doclens")
      .agg(count(when(col("__dl") === 0, 1)).as("n_tokenless"),
        min(col("__dl").cast("long")).as("min_dl"),
        max(col("__dl").cast("long")).as("max_dl")).head()
    val hasPostings = IndexCommit.fsFor(spark, indexPath)
      .exists(new org.apache.hadoop.fs.Path(s"$indexPath/terms"))
    val (vocab, maxDf, postRows, bucketsUsed, maxBucket) =
      if (!hasPostings) (0L, null, 0L, 0L, null)
      else {
        val t = spark.read.parquet(s"$indexPath/terms")
          .agg(count(lit(1)).as("v"), max(col("__df").cast("long")).as("m")).head()
        val p = spark.read.parquet(s"$indexPath/postings")
          .groupBy("term_bucket").agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(col("c")), lit(0L)).as("rows"),
            count(lit(1)).as("used"), max(col("c")).as("mx")).head()
        (t.getAs[Long]("v"), t.get(1), p.getAs[Long]("rows"),
          p.getAs[Long]("used"), p.get(2))
      }
    spark.range(1).select(
      lit(n).as("n_docs"), lit(ndl).as("n_dl"), lit(sumdl).as("sum_dl"),
      when(lit(ndl) === 0, lit(null).cast("double"))
        .otherwise(round(lit(sumdl).cast("double") / lit(ndl).cast("double"), 6)
          + lit(0.0)).as("avgdl_r"),
      lit(lens.getAs[Long]("n_tokenless")).as("n_tokenless"),
      lit(lens.get(1)).cast("long").as("min_dl"),
      lit(lens.get(2)).cast("long").as("max_dl"),
      lit(vocab).as("vocab_size"),
      lit(maxDf).cast("long").as("max_df"),
      lit(postRows).as("postings_rows"),
      lit(stats.getAs[Int]("num_buckets")).cast("int").as("num_buckets"),
      lit(bucketsUsed).as("buckets_used"),
      lit(maxBucket).cast("long").as("max_bucket_rows"))
  }

  /** [[removeFromBm25Index]]'s staging half: stage the kept-rows
    * rewrite + df-corrected terms + rolled stats under the index root's
    * staging WITHOUT publishing. Returns the commit actions, empty when
    * none of the ids was ever ingested. */
  private[graft] def stageBm25Remove(
      ids: DataFrame,
      indexPath: String
  ): Seq[(String, String)] = {
    val spark = ids.sparkSession
    val stats = spark.read.parquet(s"$indexPath/stats").head()
    val lens = spark.read.parquet(s"$indexPath/doclens")
    val rmIds = broadcast(
      ids.select(col(ids.columns.head)
        .cast(lens.schema("__docid").dataType).as("__docid")).distinct())
    val rm = lens.join(rmIds, Seq("__docid"), "left_semi")
      .agg(count(lit(1)).as("rn"), count(col("__dl")).as("rndl"),
        coalesce(sum(col("__dl").cast("long")), lit(0L)).as("rsumdl")).head()
    if (rm.getAs[Long]("rn") == 0L) return Seq.empty // ids never ingested
    val staging = IndexCommit.stagingDir(indexPath)
    lens.join(rmIds, Seq("__docid"), "left_anti")
      .write.mode("overwrite").parquet(s"$staging/doclens")
    var actions = Seq[(String, String)]("swap" -> "doclens")
    if (stats.getAs[Long]("__sumdl") > 0L) {
      val posts = spark.read.parquet(s"$indexPath/postings")
      posts.join(rmIds, Seq("__docid"), "left_anti")
        .repartition(col("term_bucket"))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$staging/postings")
      // (doc, term) unique in postings => count(*) IS the removed df
      val removedDf = posts.join(rmIds, Seq("__docid"), "left_semi")
        .groupBy(col("term")).agg(count(lit(1)).as("__rdf"))
      spark.read.parquet(s"$indexPath/terms")
        .join(removedDf, Seq("term"), "left")
        .select(col("term_bucket").cast("int").as("term_bucket"), col("term"),
          (col("__df") - coalesce(col("__rdf"), lit(0L))).as("__df"))
        .filter(col("__df") > 0L)
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$staging/terms")
      actions ++= Seq("swap" -> "postings", "swap" -> "terms")
    }
    writeStatsRow(spark, s"$staging/stats",
      stats.getAs[Long]("__n") - rm.getAs[Long]("rn"),
      stats.getAs[Long]("__ndl") - rm.getAs[Long]("rndl"),
      stats.getAs[Long]("__sumdl") - rm.getAs[Long]("rsumdl"),
      stats.getAs[Int]("num_buckets"), stats.getAs[String]("id_col"),
      stats.getAs[String]("id_type"), statsPositional(stats))
    actions :+ (("swap", "stats"))
  }

  /** BM25 top-k against a PERSISTED [[saveBm25Index]] — scores are
    * bit-identical to [[bm25Search]] over the same corpus (the shared
    * [[scorePostings]] tail, spec-pinned). Per call the index is read
    * PRUNED: the query batch's distinct terms hash to at most
    * `numBuckets` partition values, the `term_bucket` IN-filter prunes
    * the postings/terms scans to those partitions' files, and the
    * broadcast term join keeps only matching postings — the corpus is
    * never re-tokenized and never fully scanned. The driver collects
    * only the bucket-id sliver (bounded by `numBuckets`). */
  def bm25SearchPreindexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10
  ): DataFrame =
    searchPreindexedWithTerms(spark, indexPath,
      queries.select(
        col(queryIdCol),
        explode(array_distinct(TextAnalysis.tokens(col(queryTextCol)))).as("term")),
      queryIdCol, k1, b, topK)

  /** [[bm25SearchPreindexed]]'s body over an already-derived
    * `(queryIdCol, term)` frame — shared by the text front-end and the
    * expanded second pass of [[bm25SearchPrfPreindexed]]. */
  private def searchPreindexedWithTerms(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      qTermsIn: DataFrame,
      queryIdCol: String,
      k1: Double,
      b: Double,
      topK: Int,
      statsIn: Option[org.apache.spark.sql.Row] = None
  ): DataFrame = {
    require(topK > 0, "topK must be positive")
    // statsIn: a caller that already read this index's stats row in the
    // SAME invocation (the PRF double pass) hands it in — one snapshot
    // per operator call, not one driver job per pass. Never cached
    // ACROSS calls: takedown/append mutate stats in place.
    val stats = statsIn.getOrElse(spark.read.parquet(s"$indexPath/stats").head())
    val nb = stats.getAs[Int]("num_buckets")
    val idCol = stats.getAs[String]("id_col")
    // the GroupTopK heap serves ids AS LONG (the engine-wide numeric-id
    // contract), so a non-numeric id type could only fail row-by-row
    // deep inside the aggregate — and an EMPTY query batch would not
    // fail at all, silently diverging from its non-empty siblings.
    // Refuse up front instead, identically for empty and non-empty
    // batches, off the id_type the stats row pins.
    val idType = org.apache.spark.sql.types.DataType
      .fromDDL(stats.getAs[String]("id_type"))
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"bm25SearchPreindexed serves ids as LONG; this index's id column " +
        s"'$idCol' is ${idType.sql} — route string ids through " +
        "Ids.withSurrogateId before saveBm25Index")
    // avgdl = exact-integer sum / non-null count — bitwise what the
    // ad-hoc path's `avg(dl)` computes (exact int-valued double sum)
    val ndl = stats.getAs[Long]("__ndl")
    val avgdl: java.lang.Double =
      if (ndl == 0L) null
      else java.lang.Double.valueOf(
        stats.getAs[Long]("__sumdl").toDouble / ndl.toDouble)
    val consts = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(
        stats.getAs[Long]("__n"), avgdl)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__avgdl",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
    // ONE driver collect of the (query, term, bucket) rows — the exact
    // frame the old path persisted and then re-read three ways (bucket
    // collect, term-set broadcast build, contribution-join broadcast
    // build, each its own driver job). The query-term frame is
    // broadcast-small BY THE OPERATOR'S DESIGN (scorePostings broadcasts
    // it whole), so collecting it holds nothing the driver did not
    // already hold for that broadcast; the local relations then feed
    // every consumer with job-free broadcast builds. A token-less index
    // (no postings files at all) short-circuits on the stats row before
    // paying the collect's upstream (e.g. PRF's expanded-terms subtree).
    val qtSchema = org.apache.spark.sql.types.StructType(Seq(
      qTermsIn.schema(queryIdCol),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val qtRows: Array[org.apache.spark.sql.Row] =
      if (stats.getAs[Long]("__sumdl") == 0L) Array.empty
      else collectLocalPage(qTermsIn
        .select(col(queryIdCol), col("term"),
          pmod(xxhash64(col("term")), lit(nb.toLong)).as("__b")),
        "the (query, term) sliver", "bm25SearchPreindexed")
    val qTerms = spark.createDataFrame(
      java.util.Arrays.asList(qtRows.map(r =>
        org.apache.spark.sql.Row(r.get(0), r.get(1))): _*), qtSchema)
    val buckets = qtRows.iterator.map(_.getLong(2)).toSet.toSeq
    if (buckets.isEmpty) {
      // no query terms (or a token-less index): empty result with the
      // contract schema — LONG id, exactly what the non-empty path's
      // GroupTopK heap emits (the up-front id_type check above already
      // refused index types the heap could not serve)
      return GroupTopK.topKPerGroup(
        qTerms.select(col(queryIdCol), lit(0L).as("__docid"), lit(0.0).as("score"))
          .filter(lit(false))
          .withColumnRenamed("__docid", idCol),
        Seq(queryIdCol), idCol, "score", topK)
    }
    val termSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val termSet = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(qtRows.iterator.map(_.getString(1)).toSet.toSeq
        .map((t: String) => org.apache.spark.sql.Row(t)): _*), termSchema))
    val postings = spark.read.parquet(s"$indexPath/postings")
      .filter(col("term_bucket").isin(buckets: _*))
      .join(termSet, Seq("term"))
      .select(col("__docid").as(idCol), col("__dl"), col("term"), col("__tf"))
    val docFreq = spark.read.parquet(s"$indexPath/terms")
      .filter(col("term_bucket").isin(buckets: _*))
      .join(termSet, Seq("term"))
      .select(col("term"), col("__df"))
    scorePostings(postings, docFreq, consts, qTerms,
      idCol, queryIdCol, k1, b, topK)
  }

  /** Fixed-window chunking with overlap: slice `textCol` into
    * `chunkSize`-character windows starting every `chunkSize - overlap`
    * characters — the standard context-window prep for retrieval corpora.
    * The last window may be shorter; text no longer than one window yields
    * exactly one chunk (so empty text yields one empty chunk); null text
    * yields no rows. Chunk counting is `1 + ceil((len − chunkSize) / stride)`
    * — the double division is exact below 2^53, so the count is
    * engine-portable.
    */
  def chunkText(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      overlap: Int
  ): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize, "overlap must be in [0, chunkSize)")
    val stride = chunkSize - overlap
    val len = length(col(textCol))
    val nChunks = when(len <= chunkSize, lit(1L))
      .otherwise(ceil((len - chunkSize).cast("double") / lit(stride.toDouble)) + 1L)
    df.filter(col(textCol).isNotNull)
      .withColumn("chunk_idx", explode(sequence(lit(0), (nChunks - 1).cast("int"))))
      .select(
        col(idCol),
        col("chunk_idx"),
        col(textCol).substr(col("chunk_idx") * stride + 1, lit(chunkSize)).as("chunk"))
  }

  /** Exact per-group n-gram heavy hitters: the `k` most frequent
    * whitespace-token n-grams per `groupCol` value (count descending,
    * ties toward the binary-smaller n-gram). Output: `groupCol`, `rank`
    * (1-based), `ngram`, `cnt`. N-grams come from the native one-pass
    * [[graft.expressions.WordGrams]] (case-preserving, with
    * multiplicity), sharing the engine-wide short-document convention:
    * a non-empty document with fewer than `n` tokens yields ONE short
    * gram (all its tokens) rather than nothing. A HOF formulation here
    * would re-run the tokenizer per gram — the captured split inside a
    * `transform` lambda re-evaluates per element (measured 4× on this
    * operator alone).
    *
    * Shape at 100 TB: the n-gram explode is map-side (bounded by token
    * count, no shuffle); the (group, ngram) count combines map-side
    * before its one required shuffle; the top-k is the
    * [[GroupTopK.topKPerGroupString]] heap — map-side partial again, so
    * the second exchange carries ≤ k·|groups| rows per partition, never
    * the full n-gram tail. No Window, no global sort.
    */
  def topNgrams(
      docs: DataFrame,
      textCol: String,
      groupCol: String,
      n: Int,
      k: Int
  ): DataFrame = {
    require(n >= 1, "n must be >= 1")
    docs
      .filter(col(textCol).isNotNull)
      .select(col(groupCol),
        explode(graft.expressions.WordGrams.wordGramsMulti(col(textCol), n)).as("ngram"))
      .groupBy(col(groupCol), col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .transform(GroupTopK.topKPerGroupString(_, Seq(groupCol), "ngram", "cnt", k))
      .select(col(groupCol), col("rank"), col("ngram"), col("cnt").cast("long"))
  }

  /** EXACT per-group frequent n-grams (true count ≥ `minCount`) with a
    * sketch-bounded shuffle — the formulation for when the distinct
    * n-gram tail is too big to count exactly ([[topNgrams]]'s one count
    * shuffle carries every distinct n-gram; at 100 TB that tail IS the
    * corpus):
    *
    *  1. one pass builds a per-group count-min sketch — fixed ≤
    *     |groups|·depth·width state, map-side combined; cells hash with
    *     native xxhash64, NOT the served-sketch md5 ([[Sketches
    *     .cmsSketch]]): the sketch is internal and the answer is exact
    *     whatever the hash, so portability buys nothing here;
    *  2. a second pass probes every occurrence against the BROADCAST
    *     sketch (`depth` map-side broadcast joins, no shuffle) and
    *     drops occurrences whose estimate is already below `minCount`;
    *  3. only survivors reach the exact count, and a final true-count
    *     filter removes the sketch's false positives.
    *
    * CM estimates NEVER undercount, so step 2 cannot drop a truly
    * frequent n-gram — the result is provably EXACT (and oracled against
    * the plain exact SQL), while the one real shuffle carries only
    * n-grams the sketch could not rule out. Size `width` ≈
    * 10 · occurrences-per-group / minCount so collision noise sits well
    * under the threshold; an undersized sketch still answers exactly,
    * just with a fatter survivor shuffle. Output: groupCol, `ngram`,
    * `cnt` (unranked — feed [[GroupTopK.topKPerGroupString]] for top-k).
    */
  def frequentNgrams(
      docs: DataFrame,
      textCol: String,
      groupCol: String,
      n: Int,
      minCount: Long,
      depth: Int = 4,
      width: Int = 131072
  ): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(minCount >= 1, "minCount must be >= 1")
    require(depth >= 1 && width >= 2, "need depth >= 1, width >= 2")
    // the sketch is INTERNAL — its cells never appear in the result (the
    // answer is exact regardless of the hash), so the cell hash is the
    // fast native xxhash64, not the md5 the served-sketch ops use for
    // engine portability
    def cell(row: Column, ngram: Column): Column =
      pmod(xxhash64(row, ngram), lit(width.toLong))
    val grams = docs
      .filter(col(textCol).isNotNull)
      .select(col(groupCol),
        explode(graft.expressions.WordGrams.wordGramsMulti(col(textCol), n)).as("ngram"))
    val sketch = graft.Checkpoints.trackCache(
      grams
        .select(col(groupCol),
          explode(array((0 until depth).map(lit): _*)).as("row"), col("ngram"))
        .groupBy(col(groupCol), col("row"),
          cell(col("row"), col("ngram")).as("cell"))
        .agg(count(lit(1)).as("__cms"))
        .persist())
    val probed = (0 until depth).foldLeft(grams) { (acc, d) =>
      val sk = sketch.filter(col("row") === d)
        .select(col(groupCol).as(s"__g$d"), col("cell").as(s"__c$d"),
          col("__cms").as(s"__e$d"))
      acc.join(broadcast(sk),
          col(groupCol) <=> col(s"__g$d") &&
            cell(lit(d), col("ngram")) === col(s"__c$d"))
        .drop(s"__g$d", s"__c$d")
    }
    probed
      .filter(least((0 until depth).map(d => col(s"__e$d")): _*) >= minCount)
      .groupBy(col(groupCol), col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Reciprocal-rank fusion (Cormack et al.) — the standard hybrid-
    * retrieval combiner: given per-system rankings `(query, doc,
    * system, rank)` (e.g. [[bm25Search]] keyword lists and an ANN
    * list from [[graft.ops.Similarity]]), each document scores
    * `Σ_systems 1/(k + rank)` and the fused top-`topK` per query comes
    * out re-ranked. Rank-based fusion needs NO score calibration
    * between systems — exactly why it is the hybrid default; `k = 60`
    * is the published constant.
    *
    * Determinism: per (query, doc) the reciprocal terms fold in
    * system-name order (the engine's sorted-fold convention — a
    * shuffle-order `sum(double)` would be arrival-dependent), and the
    * fused ranking breaks score ties toward the smaller doc id through
    * the [[GroupTopK]] heap (map-side partials, window-free). A doc
    * listed twice by one system contributes its best (smallest) rank
    * once. Scale: one (query, doc)-grain aggregate + the heap —
    * shuffle carries candidate lists, never corpora. */
  def rrfFuse(
      rankings: DataFrame,
      queryCol: String,
      docCol: String,
      systemCol: String,
      rankCol: String,
      k: Int = 60,
      topK: Int = 10
  ): DataFrame = {
    require(k >= 0, "k must be >= 0")
    require(topK >= 1, "topK must be >= 1")
    val best = rankings
      .filter(col(queryCol).isNotNull && col(docCol).isNotNull &&
        col(systemCol).isNotNull && col(rankCol).isNotNull)
      .groupBy(col(queryCol), col(docCol), col(systemCol))
      .agg(min(col(rankCol)).cast("double").as("__rank"))
    val scored = best
      .groupBy(col(queryCol), col(docCol))
      .agg(aggregate(
        array_sort(collect_list(struct(col(systemCol).as("s"),
          (lit(1.0) / (lit(k.toDouble) + col("__rank"))).as("t")))),
        lit(0.0), (acc, x) => acc + x.getField("t")).as("__rrf"))
    GroupTopK.topKPerGroup(scored, Seq(queryCol), docCol, "__rrf", topK,
        rankCol = "fused_rank")
      .select(col(queryCol), col(docCol),
        (round(col("__rrf"), 6) + lit(0.0)).as("rrf_score_r"), col("fused_rank"))
  }

  /** RAG CONTEXT EXPANSION — stitch each chunk-grain hit back into a
    * contiguous source span using ONLY the chunk corpus (no document
    * store round-trip): for a hit `cid`, the neighbors
    * `cid ± window` within the document's cid span (the
    * q269/q274/q292 convention `cid = doc_id · maxChunksPerDoc +
    * chunk_idx`) join in, and the pieces stitch with each
    * non-leading chunk's `overlap`-char prefix dropped — because
    * fixed-window chunks overlap by construction, the stitched string
    * is EXACTLY the original text's span
    * `[chunk_lo · stride, chunk_hi · stride + chunkSize)` (stride =
    * chunkSize − overlap), which is what the oracle pins (the stitch
    * reconstructs the source, not just concatenates).
    *
    * Edges clamp arithmetically: the left edge at the document's
    * chunk 0, the right edge by the join (a missing neighbor simply
    * doesn't exist — chunk indexes are contiguous from 0, so only the
    * document's end truncates). Output per hit:
    * `(queryCol, cidCol, doc_id, chunk_lo, chunk_hi, context)`;
    * callers carrying a rank join it back on `(queryCol, cidCol)`.
    *
    * Scale shape: |hits| · (2·window + 1) join rows against the
    * bucketless chunk frame — evaluation grain on the left; the chunk
    * side is one equi-join on its id (Catalyst broadcast-hashes the
    * tiny hit side). The string fold is an ordered HOF over ≤
    * 2·window + 1 pieces. */
  def expandChunkContext(
      hits: DataFrame,
      chunks: DataFrame,
      queryCol: String,
      cidCol: String,
      chunkIdCol: String = "cid",
      chunkCol: String = "chunk",
      window: Int = 1,
      chunkSize: Int = 200,
      overlap: Int = 50,
      maxChunksPerDoc: Int = 1000
  ): DataFrame = {
    require(window >= 0, "window must be >= 0")
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    require(maxChunksPerDoc >= 1, "maxChunksPerDoc must be >= 1")
    val m = maxChunksPerDoc.toLong
    val h = hits.select(col(queryCol).as("__q"), col(cidCol).cast("long").as("__cid"))
    val doc = expr(s"__cid div $m")
    val lo = greatest(col("__cid") - lit(window.toLong), doc * lit(m))
    val neighbors = h.select(col("__q"), col("__cid"), lo.as("__lo"),
        explode(sequence(lo, col("__cid") + lit(window.toLong))).as("__n"))
    val ch = chunks.select(col(chunkIdCol).cast("long").as("__n"),
      col(chunkCol).as("__chunk"))
    neighbors.join(ch, Seq("__n"))
      .select(col("__q"), col("__cid"), col("__n"),
        when(col("__n") === col("__lo"), col("__chunk"))
          .otherwise(col("__chunk").substr(lit(overlap + 1), lit(chunkSize)))
          .as("__piece"))
      .groupBy(col("__q"), col("__cid"))
      .agg(min(col("__n")).as("__nlo"), max(col("__n")).as("__nhi"),
        array_join(transform(
          array_sort(collect_list(struct(col("__n").as("n"),
            col("__piece").as("p")))),
          x => x.getField("p")), "").as("context"))
      .select(col("__q").as(queryCol), col("__cid").as(cidCol),
        expr(s"__cid div $m").as("doc_id"),
        pmod(col("__nlo"), lit(m)).as("chunk_lo"),
        pmod(col("__nhi"), lit(m)).as("chunk_hi"),
        col("context"))
  }

  /** CHUNK→DOCUMENT RANKING COLLAPSE — the grain adapter between
    * chunk-level retrieval and document-level evaluation: a RAG stack
    * retrieves CHUNKS (q269/q274/q292), but qrels and dedup policies
    * live at DOCUMENT grain, and a page where three chunks of one
    * document occupy ranks 1–3 is one hit, not three. Per query, each
    * document (recovered arithmetically from
    * `cid div maxChunksPerDoc`) keeps its BEST chunk rank, and
    * documents re-rank by it (ties toward the smaller doc id — best
    * chunk ranks are unique within a query, so ties only arise
    * between documents sharing a best rank after upstream
    * manipulation). Output:
    * `(queryCol, doc_id, best_chunk_rank, doc_rank)` — feed it to
    * [[graft.ops.RankEval.rankingMetrics]] with doc-grain qrels.
    *
    * Scale shape: one hash aggregation + one per-query window at
    * evaluation grain (hits are a top-k page, never a corpus). */
  def collapseChunkRanking(
      hits: DataFrame,
      queryCol: String,
      cidCol: String,
      rankCol: String,
      maxChunksPerDoc: Int = 1000
  ): DataFrame = {
    require(maxChunksPerDoc >= 1, "maxChunksPerDoc must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val best = hits
      .filter(col(queryCol).isNotNull && col(cidCol).isNotNull &&
        col(rankCol).isNotNull)
      .groupBy(col(queryCol),
        expr(s"cast(`$cidCol` as bigint) div $maxChunksPerDoc").as("doc_id"))
      .agg(min(col(rankCol).cast("long")).as("best_chunk_rank"))
    best.withColumn("doc_rank",
      row_number().over(Window.partitionBy(col(queryCol))
        .orderBy(col("best_chunk_rank").asc, col("doc_id").asc)).cast("int"))
  }

  /** CONTEXT-WINDOW PACKING — the last step before prompt assembly:
    * keep each query's hits in rank order while the running cost
    * (token count, char count — any non-negative integer) stays
    * within `budget`; the first overflowing hit and everything after
    * it drop. Because costs are non-negative the running sum is
    * monotone, so "running total ≤ budget" IS the greedy prefix — a
    * negative cost would silently turn the prefix into a knapsack and
    * refuses loudly instead, as does a duplicate rank within a query
    * (the prefix would depend on arrival order). Output: the kept
    * hits with their running `cum_cost`.
    *
    * Scale shape: one window pass partitioned by query (evaluation
    * grain — hits are a top-k stage's output, never a corpus). */
  def packContextByBudget(
      hits: DataFrame,
      queryCol: String,
      rankCol: String,
      costCol: String,
      budget: Long
  ): DataFrame = {
    require(budget >= 0L, "budget must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val checkedCost = when(col(costCol).isNull || col(costCol) < 0,
      raise_error(concat(
        lit("packContextByBudget: cost must be a non-negative integer "),
        lit("for query '"), col(queryCol).cast("string"),
        lit("' rank "), col(rankCol).cast("string"),
        lit("; got: "), col(costCol).cast("string"))))
      .otherwise(col(costCol).cast("long"))
    val w = Window.partitionBy(col(queryCol)).orderBy(col(rankCol))
    val dupW = Window.partitionBy(col(queryCol), col(rankCol))
    hits
      .withColumn("__dups", count(lit(1)).over(dupW))
      .withColumn("cum_cost",
        when(col("__dups") > 1, raise_error(concat(
          lit("packContextByBudget: duplicate rank "), col(rankCol).cast("string"),
          lit(" for query '"), col(queryCol).cast("string"),
          lit("' — the greedy prefix would be arrival-order-dependent"))))
          .otherwise(sum(checkedCost).over(w)))
      .drop("__dups")
      .filter(col("cum_cost") <= budget)
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the standard diversification pass between retrieval
    * and the context window: greedily pick k candidates maximizing
    * `λ·relevance − (1−λ)·max cosine to the already-picked set`, so a
    * page of near-duplicate chunks collapses to one representative and
    * the rest of the budget covers the query's other aspects.
    *
    * Deterministic and oracle-replayable end to end: candidates sort
    * canonically by doc id, every greedy step picks via one ordered
    * scan (score desc, doc asc — the engine-wide tie order), the
    * penalty is the exact q54 cosine arithmetic, and the whole greedy
    * runs as a HOF fold over the COLLECTED candidate array — which the
    * oracle engine mirrors as a recursive CTE carrying the picked-set
    * state. A candidate whose vector has zero norm scores a NaN
    * penalty and sinks to the end of every pick order (NaN sorts
    * greatest in both engines).
    *
    * Scale shape: candidates are a PREVIOUS top-k stage's output —
    * evaluation grain, never the corpus. Per query the fold costs
    * O(k · n · |picked|) interpreted-HOF cosine evaluations (n =
    * candidates ≤ `maxCandidates`, the loud ceiling: the greedy is
    * quadratic-ish by nature, so a caller feeding a raw corpus refuses
    * instead of melting). Duplicate (query, doc) candidates refuse
    * loudly — the greedy's remove-by-id would silently drop both
    * copies. Output: `(queryCol, docCol, mmr_rank, mmr_r)` — `mmr_r`
    * is the pick-time MMR objective (6dp); the first pick's is
    * `λ·relevance` exactly. */
  def mmrRerank(
      candidates: DataFrame,
      queryCol: String,
      docCol: String,
      scoreCol: String,
      vecCol: String,
      k: Int,
      lambda: Double = 0.7,
      maxCandidates: Int = 1024
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    require(maxCandidates >= 1, "maxCandidates must be >= 1")
    val uniq = candidates
      .filter(col(queryCol).isNotNull && col(docCol).isNotNull &&
        col(scoreCol).isNotNull && col(vecCol).isNotNull)
      .groupBy(col(queryCol).as("__q"), col(docCol).as("__d"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col(scoreCol).cast("double").as("score"),
          col(vecCol).cast("array<double>").as("vec"))).as("__sv"))
      .select(col("__q"), col("__d"),
        when(col("__c") > 1, raise_error(concat(
          lit("mmrRerank: candidate '"), col("__d").cast("string"),
          lit("' appears twice for query '"), col("__q").cast("string"),
          lit("' — dedupe the candidate stage upstream")))).otherwise(col("__sv"))
          .as("__sv"))
    val grouped = uniq.groupBy("__q")
      .agg(count(lit(1)).as("__n"),
        array_sort(collect_list(struct(col("__d").as("doc"),
          col("__sv.score").as("score"), col("__sv.vec").as("vec"))))
          .as("__cands"))
      .select(col("__q"),
        when(col("__n") > maxCandidates, raise_error(concat(
          lit("mmrRerank: query '"), col("__q").cast("string"),
          lit(s"' has more than $maxCandidates candidates — the greedy is "),
          lit("O(k·n·picked); feed a top-k stage's output, not a corpus"))))
          .otherwise(col("__cands")).as("__cands"))
    // the greedy fold: accumulator (sel, rem); each step scores every
    // remaining candidate against the picked set and takes the ordered
    // scan's head (score desc, doc asc via the (-mmr, doc) struct sort)
    def mmrOf(sel: Column, c: Column): Column =
      lit(lambda) * c.getField("score") - lit(1.0 - lambda) *
        coalesce(array_max(transform(sel,
          s => Similarity.cosine(c.getField("vec"), s.getField("vec")))),
          lit(0.0))
    val selProto = transform(col("__cands"), c => struct(
      c.getField("doc").as("doc"), c.getField("vec").as("vec"),
      lit(0.0).as("mmr")))
    val zero = struct(slice(selProto, 1, 0).as("sel"), col("__cands").as("rem"))
    val folded = aggregate(
      sequence(lit(1), lit(k)), zero,
      (acc, _) => {
        val sel = acc.getField("sel")
        val rem = acc.getField("rem")
        val scored = transform(rem, c => struct(
          (-mmrOf(sel, c)).as("negm"), c.getField("doc").as("doc"),
          c.getField("vec").as("vec")))
        val best = element_at(array_sort(scored), 1)
        val newSel = concat(sel, array(struct(
          best.getField("doc").as("doc"), best.getField("vec").as("vec"),
          (-best.getField("negm")).as("mmr"))))
        val newRem = filter(rem, c => !(c.getField("doc") === best.getField("doc")))
        when(size(rem) === 0, acc)
          .otherwise(struct(newSel.as("sel"), newRem.as("rem")))
      },
      acc => acc.getField("sel"))
    grouped
      .select(col("__q"), posexplode(folded))
      .select(col("__q").as(queryCol), col("col.doc").as(docCol),
        (col("pos") + 1).cast("int").as("mmr_rank"),
        (round(col("col.mmr"), 6) + lit(0.0)).as("mmr_r"))
  }

  /** SERVED HYBRID RETRIEVAL — the query shape a RAG stack actually
    * runs, as ONE operator: keyword candidates from the persisted BM25
    * postings tree ([[bm25SearchPreindexed]], reads pruned to the query
    * terms' buckets) and vector candidates from the persisted IVF index
    * ([[graft.ops.Similarity.ivfTopKPreassigned]], reads pruned to the
    * probed cells' partitions), each to depth `candK`, fused by
    * reciprocal rank ([[rrfFuse]], systems "bm25" < "ivf" in the
    * fold's tie order). No corpus scan anywhere; the fusion input is
    * |queries| · 2 · candK rows — evaluation grain.
    *
    * The two indexes must cover the SAME id space (the same documents
    * indexed lexically and by embedding); the IVF side's ids cast to
    * the BM25 index's id type for the union. Note the IVF side keeps
    * its self-match exclusion (a query vector never retrieves its own
    * corpus row) while BM25 has no such notion — the composition
    * inherits both systems' published semantics unchanged.
    *
    * Deterministic end to end: both candidate chains are the
    * oracle-pinned q248/q191 serving paths and the fusion is
    * [[rrfFuse]]'s ordered fold — the whole operator replays in the
    * oracle engine by composing their SQL. Served ≡ ad-hoc fusion is
    * spec-pinned. */
  def hybridSearchPreindexed(
      spark: org.apache.spark.sql.SparkSession,
      bm25IndexPath: String,
      ivfIndexPath: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      queryVecCol: String,
      topK: Int = 10,
      candK: Int = 20,
      rrfK: Int = 60,
      k1: Double = 1.2,
      b: Double = 0.75,
      nProbe: Int = 8,
      ivfIdCol: String = "vec_id",
      ivfVecCol: String = "embedding"
  ): DataFrame = {
    val stats = spark.read.parquet(s"$bm25IndexPath/stats").head()
    val docIdCol = stats.getAs[String]("id_col")
    val idType = org.apache.spark.sql.types.DataType
      .fromDDL(stats.getAs[String]("id_type"))
    val lex = bm25SearchPreindexed(spark, bm25IndexPath, queries,
        queryIdCol, queryTextCol, k1, b, candK)
      .select(col(queryIdCol).as("__q"), col(docIdCol).as("__doc"),
        lit("bm25").as("__sys"), col("rank").as("__rank"))
    val vec = Similarity.ivfTopKPreassigned(
        spark.read.parquet(s"$ivfIndexPath/corpus"), queries, candK,
        Similarity.loadIvfCentroids(spark, ivfIndexPath), nProbe,
        corpusId = ivfIdCol, corpusVec = ivfVecCol,
        queryId = queryIdCol, queryVec = queryVecCol)
      .select(col("query_id").as("__q"), col(ivfIdCol).cast(idType).as("__doc"),
        lit("ivf").as("__sys"), col("nn_rank").as("__rank"))
    rrfFuse(lex.unionByName(vec), "__q", "__doc", "__sys", "__rank",
        k = rrfK, topK = topK)
      .select(col("__q").as(queryIdCol), col("__doc").as(docIdCol),
        col("rrf_score_r"), col("fused_rank"))
  }
}
