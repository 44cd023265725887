package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus-cleaning composition — the canonical training-data
  * preparation flow, assembled from the engine's operators:
  *
  *   0. optional text cleaning (HTML strip, entity decode, boilerplate
  *      lines, PII redaction — [[TextCleaning.clean]], stage 0 of
  *      C4/RefinedWeb-style prep; map-side, no shuffle);
  *   1. exact dedup (canonical fingerprint, keep minimum id);
  *   2. near-dup removal (MinHash LSH pairs -> greedy keep-lowest-id);
  *   3. quality gate (heuristic score threshold);
  *   4. optional language allowlist.
  *
  * Every step is a shuffle-conscious DataFrame transform; the result is
  * lazy. `CleanStats` is computed on demand (four counts, one pass each).
  */
object Pipelines {

  final case class CleanStats(
      input: Long,
      afterExactDedup: Long,
      afterNearDedup: Long,
      afterQuality: Long,
      output: Long)

  final case class CleanResult(df: DataFrame, stats: () => CleanStats)

  /** Full training-data preparation in one lazy plan: [[cleanCorpus]]
    * (exact + near dedup, quality gate, language allowlist), per-document
    * enrichment (token count, language id, canonical fingerprint — all
    * codegen'd column arithmetic), an optional per-source quota cap
    * ([[Sampling.quotaSample]] — no single domain may dominate the mix),
    * a deterministic train/val/test carve via [[Sampling.withSplit]]
    * (reproducible across runs, cluster sizes, and repartitioning), and
    * an optional deterministic epoch-shuffle order
    * ([[Sampling.withShuffleOrder]] — `shard` + `shuffle_pos` columns).
    * Optional quality gates run between enrichment and the quota cap:
    * `maxPerplexity` drops docs too improbable under the corpus' own
    * n-gram model (`lmOrder` 2 = [[LmScore.bigramScore]], 3 = the
    * interpolated [[LmScore.trigramScore]]); `maxLengthZ` drops
    * per-language token-count outliers ([[Outliers.dropOutliers]]).
    * The funnel counts come from the underlying clean stats.
    *
    * Checkpoints: the near-dup stage reads a `localCheckpointIfDeep`
    * checkpoint of its signatures when the plan reaching it has 32 or
    * more nodes, so [[graft.Checkpoints.freeAll]] invalidates `df` and
    * `stats`; consume both before the host's barrier. */
  def prepareTrainingCorpus(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      nearDupThreshold: Double = 0.85,
      minQuality: Double = 40.0,
      langAllowlist: Seq[String] = Nil,
      splits: Seq[(String, Double)] = Seq(
        "train" -> 0.875, "val" -> 0.0625, "test" -> 0.0625),
      salt: String = "graft",
      htmlClean: Boolean = false,
      lineDedupMaxDocFreq: Option[Long] = None,
      sourceQuota: Option[(String, Int)] = None,
      shuffleShards: Option[Int] = None,
      maxPerplexity: Option[Double] = None,
      maxLengthZ: Option[Double] = None,
      gopherRules: Option[QualityRules.GopherConfig] = None,
      benchDecontaminate: Option[(DataFrame, Double)] = None,
      lmOrder: Int = 2,
      classifierGate: Option[(Seq[Double], Double, Double)] = None
  ): CleanResult = {
    require(lmOrder == 2 || lmOrder == 3, "lmOrder must be 2 (bigram) or 3 (trigram)")
    val cleaned = cleanCorpus(docs, textCol, idCol,
      nearDupThreshold, minQuality, langAllowlist, htmlClean,
      lineDedupMaxDocFreq, gopherRules)
    // optional benchmark decontamination on the cleaned survivors, via
    // the Bloom scale path (exact-equivalent, see bloomDecontaminate):
    // runs BEFORE enrichment/splitting so leaked eval documents never
    // reach a training shard
    val decontaminated = benchDecontaminate match {
      case Some((bench, thr)) =>
        Dedup.bloomDecontaminate(cleaned.df, bench, textCol, idCol, thr)
      case None => cleaned.df
    }
    // optional trained-classifier gate (weights, bias, minProb) — the
    // fastText-style quality model ([[Classifier.withScore]]'s hashed
    // buckets; weights from [[Classifier.trainPortable]] or an offline
    // trainer). Map-side codegen filter, like the heuristic gates.
    val gated = classifierGate match {
      case Some((wts, bias, minProb)) =>
        Classifier.filterByScore(decontaminated, textCol, wts, bias, minProb)
      case None => decontaminated
    }
    val enriched0 = gated
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)))
      .withColumn("lang_id", TextAnalysis.langId(col(textCol)))
      .withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
    // optional bigram-LM perplexity gate (CCNet-style): a doc too
    // improbable under the surviving corpus' own bigram model is dropped;
    // docs with no scorable bigrams (< 2 tokens) carry null and survive —
    // the `perplexity` column stays on as enrichment
    val ppl = maxPerplexity match {
      case Some(maxP) =>
        val metrics = (if (lmOrder == 3)
          LmScore.trigramScore(enriched0, idCol, textCol)
        else LmScore.bigramScore(enriched0, idCol, textCol))
          .select(col(idCol), col("perplexity"))
        enriched0.join(metrics, Seq(idCol), "left")
          .filter(col("perplexity").isNull || col("perplexity") <= maxP)
      case None => enriched0
    }
    // optional length-outlier gate: per-language z-score on the token
    // count from exact integer moments; degenerate groups survive
    val enriched = maxLengthZ match {
      case Some(maxZ) => Outliers.dropOutliers(ppl, Seq("lang_id"), "n_tokens", maxZ)
      case None       => ppl
    }
    val capped = sourceQuota match {
      case Some((sourceCol, cap)) =>
        Sampling.quotaSample(enriched, idCol, sourceCol, cap, salt).drop("quota_rank")
      case None => enriched
    }
    val split = Sampling.withSplit(capped, idCol, splits, salt)
    val ordered = shuffleShards match {
      case Some(n) => Sampling.withShuffleOrder(split, idCol, n, salt)
      case None    => split
    }
    CleanResult(ordered, cleaned.stats)
  }

  /** Steps 0-4 of the object doc over `docs`: the optional pre-clean
    * stages, exact dedup, near-dup removal over
    * [[Dedup.polyMinhashNearDupPairs]] at `nearDupThreshold`, the quality
    * gate and the language allowlist. Lazy; `stats` counts the funnel in
    * one pass.
    *
    * Checkpoints: the near-dup stage reads a `localCheckpointIfDeep`
    * checkpoint of its signatures when the plan reaching it has 32 or
    * more nodes, so [[graft.Checkpoints.freeAll]] invalidates `df` and
    * `stats`; consume both before the host's barrier. */
  def cleanCorpus(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      nearDupThreshold: Double = 0.85,
      minQuality: Double = 40.0,
      langAllowlist: Seq[String] = Nil,
      htmlClean: Boolean = false,
      lineDedupMaxDocFreq: Option[Long] = None,
      gopherRules: Option[QualityRules.GopherConfig] = None,
      nfcNormalize: Boolean = false,
      docLineDedup: Boolean = false
  ): CleanResult = {
    // -1. non-null-id contract asserted UP FRONT: dropExactDups' keep
    // rule (row_number === 1, keeps one null-id row per fingerprint) and
    // the funnel's min-id flag (id === min(id), null on null id, counts
    // none) would silently disagree on a corpus that violates the
    // contract — refuse loudly instead, in both paths at once.
    // coalesce evaluates the id ONCE (a when(isNull, …).otherwise re-reads
    // it) and is applied UNCONDITIONALLY: when the schema marks the column
    // non-nullable (the Ids.withSurrogateId on-ramp), Catalyst's
    // NullPropagation folds coalesce(col, _) to col, so the fast path is
    // automatic — a Scala-side nullability short-circuit would trust the
    // exact same metadata while reading as if it added a check
    val idField = docs.schema(docs.schema.fieldIndex(idCol))
    val docsChecked = docs.withColumn(idCol,
      coalesce(col(idCol),
        raise_error(lit(s"cleanCorpus id column '$idCol' must be non-null — " +
          "assign a surrogate id (Ids.withSurrogateId) first"))
          .cast(idField.dataType)))

    // -0.5. optional Unicode NFC canonicalization FIRST: composed vs
    // decomposed renderings of the same text hash/shingle/window
    // differently, so un-normalized corpora leak duplicates past every
    // hash-based stage below. Map-side native expression, no shuffle;
    // default off for bit-compat with existing pipelines.
    val docs0 =
      if (!nfcNormalize) docsChecked
      else docsChecked.withColumn(textCol,
        graft.expressions.NfcNormalize.normalizeNfc(col(textCol)))

    // 0. optional web-text cleanup BEFORE dedup (markup variation would
    // otherwise defeat the canonical fingerprint); the cleaned text
    // replaces textCol so every downstream stage — and the caller's
    // output — sees cleaned text, with the `<textCol>_pii` audit counts
    // kept as an extra column. Pure map-side projection, no shuffle.
    val cleaned0 =
      if (!htmlClean) docs0
      else TextCleaning.clean(docs0, textCol, out = "__graft_clean")
        .withColumn(textCol, col("__graft_clean"))
        .withColumnRenamed("__graft_clean_pii", s"${textCol}_pii")
        .drop("__graft_clean")

    // 0.4. optional WITHIN-document line dedup: a page's internal
    // repetition (per-section nav chrome, copy-paste loops) collapses
    // map-side before any corpus aggregate sees the line frequencies.
    // Pure projection, no shuffle.
    val cleaned1 =
      if (!docLineDedup) cleaned0
      else cleaned0.withColumn(textCol,
        graft.expressions.DistinctLines.distinctLines(col(textCol)))

    // 0.5. optional line-wise corpus dedup (RefinedWeb-style): strip
    // corpus-frequent boilerplate lines BEFORE document-level dedup, so
    // two pages differing only in shared chrome collapse to exact dups
    val input = lineDedupMaxDocFreq match {
      case Some(maxDf) =>
        Dedup.dropFrequentLines(cleaned1, textCol, idCol, maxDf, out = "__graft_ld")
          .withColumn(textCol, col("__graft_ld"))
          .drop("__graft_ld")
      case None => cleaned1
    }

    // 1. exact dedup: keep the minimum-id row per canonical form.
    // (Deliberately NO repartition barrier here, although this frame is
    // referenced by the near-dup path, the survivor join, and the funnel
    // counts: an extra full-row exchange to enable ReuseExchange was
    // measured 25-40% SLOWER than re-running the fingerprint window per
    // reference — the dedup subtree is cheap relative to shuffling text
    // payloads. The signature path has its own ids+signature barrier
    // inside polyMinhashNearDupPairs, which is the expensive projection.)
    val exact = Dedup.dropExactDups(input, textCol, idCol)

    // 2. near-dup removal: for every LSH-confirmed pair drop the higher id
    // (greedy transitive-ish reduction: any doc that is the higher side of
    // some pair goes; the lowest id of each near-dup cluster survives).
    // The md5 poly signature family is reproducible by any engine, so the
    // whole pipeline is DuckDB-oracle-checked (q39/q57/q66/q71/q103/q104).
    val pairs = Dedup.polyMinhashNearDupPairs(exact, textCol, idCol,
      threshold = nearDupThreshold)
    val losers = pairs
      .select(col("id_b").as(idCol))
      .distinct()
    val nearDeduped = exact.join(losers, Seq(idCol), "left_anti")

    // 3 + 4. quality gate and language allowlist (one codegen'd filter);
    // the optional Gopher rule bundle rides the quality stage — same
    // map-side shape, and the funnel's afterQuality count reflects it
    val quality = gopherRules.foldLeft(
      TextAnalysis.qualityScore(col(textCol)) >= lit(minQuality)) {
      (q, cfg) => q && QualityRules.gopherPass(col(textCol), cfg)
    }
    val lang: Column =
      if (langAllowlist.isEmpty) lit(true)
      else TextAnalysis.langId(col(textCol)).isInCollection(langAllowlist)
    val afterQuality = nearDeduped.filter(quality)
    val output = afterQuality.filter(lang)

    CleanResult(
      output,
      () => {
        // ONE-PASS funnel: instead of five separate counts (each
        // re-running its stage prefix — the old shape cost ~5 pipeline
        // scans), every row gets stage-survival FLAGS and one aggregation
        // counts all five levels. The exact-dup flag re-derives
        // dropExactDups' keep rule (min id per canonical fingerprint —
        // ids are unique, so min-id == row_number 1); the near-dup flag
        // is the same losers anti-join expressed as a left join + null
        // test; quality/lang are the row-local gate predicates.
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))
        val row = input
          .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
          .withColumn("__keep", col(idCol) === min(col(idCol)).over(w))
          .join(losers.withColumn("__hit", lit(true)), Seq(idCol), "left")
          .withColumn("__surv", col("__keep") && col("__hit").isNull)
          .agg(
            count(lit(1)).as("n_in"),
            count(when(col("__keep"), 1)).as("n_ex"),
            count(when(col("__surv"), 1)).as("n_near"),
            count(when(col("__surv") && quality, 1)).as("n_q"),
            count(when(col("__surv") && quality && lang, 1)).as("n_out"))
          .head()
        CleanStats(row.getLong(0), row.getLong(1), row.getLong(2),
          row.getLong(3), row.getLong(4))
      })
  }
}
