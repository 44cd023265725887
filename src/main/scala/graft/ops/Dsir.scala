package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection with importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): score
  * every raw-corpus document by how much more likely its hashed n-gram
  * features are under a TARGET distribution (e.g. a high-quality domain
  * corpus) than under the raw corpus itself, then keep the top-scoring or
  * importance-sampled subset. This is the published recipe for
  * domain-matching pretraining data at scale — the bag-of-hashed-ngrams
  * model makes both distributions estimable in one aggregation pass each,
  * regardless of corpus size.
  *
  * Determinism contract (the engine-wide one): gram→bucket hashing is an
  * md5 prefix (engine-mirrorable, like every unit-hash operator here),
  * probabilities use add-α smoothing over a FIXED bucket count, `ln` is
  * `Math.log` (bit-stable across engines, the q105 pair), and each
  * document's score folds its per-bucket contributions in BUCKET-SORTED
  * order — so scores, and therefore the selected subset, are
  * bit-reproducible across runs, partitionings, and engines.
  *
  * Scale shape: ONE gram pass per corpus ([[scoreAgainstTarget]] derives
  * the raw histogram from the per-document feature frame; the ≤
  * `buckets`-row joined counts are checkpointed so no consumer re-scans);
  * the ≤ `buckets`-row weight table broadcasts; scoring is one
  * (id, bucket) partial-count shuffle plus one per-document fold whose
  * buffer is bounded by min(distinct grams, `buckets`). No all-pairs, no
  * windows, no driver materialization.
  */
object Dsir {

  /** Word n-grams WITH multiplicity (feature counts are the point here):
    * whitespace tokens, space-joined windows of `n`, via the native
    * one-pass [[graft.expressions.WordGrams]] in multiset mode.
    * Documents shorter than `n` tokens contribute their whole token
    * string as one gram; empty/null text yields no grams. Case is
    * PRESERVED (lowercase upstream if wanted — engine-portable
    * lowercasing is locale-fraught). */
  private[graft] def grams(text: Column, n: Int): Column =
    graft.expressions.WordGrams.wordGramsMulti(text, n)

  /** md5-prefix feature bucket in [0, buckets) — the hashing trick over
    * an engine-mirrorable hash (DuckDB:
    * `CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % buckets`). */
  private[graft] def gramBucket(gram: Column, buckets: Int): Column =
    pmod(conv(substring(md5(gram), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Corpus-wide hashed-gram histogram: `(bucket, cnt)`, ≤ `buckets`
    * rows. One explode + one map-side-combinable groupBy. */
  def bucketCounts(
      df: DataFrame,
      textCol: String,
      n: Int = 2,
      buckets: Int = 1 << 16
  ): DataFrame = {
    require(n >= 1, "gram size must be >= 1")
    require(buckets >= 2, "need at least 2 buckets")
    df.select(explode(grams(col(textCol), n)).as("__g"))
      .select(gramBucket(col("__g"), buckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Per-bucket log-likelihood ratio `(bucket, llr)` between the hashed
    * n-gram distributions of `target` and `raw`:
    *
    *   llr(b) = ln((ct_b + α)/(Nt + αB)) − ln((cr_b + α)/(Nr + αB))
    *
    * Buckets observed in NEITHER corpus have no row (a scored document
    * can only contain such a bucket if it is outside `raw`; scoring
    * treats them as 0 — neutral). `alpha` is the add-α smoothing mass
    * keeping unseen-on-one-side buckets finite. */
  def logRatioWeights(
      target: DataFrame,
      raw: DataFrame,
      textCol: String,
      n: Int = 2,
      buckets: Int = 1 << 16,
      alpha: Double = 0.01
  ): DataFrame = {
    val tc = bucketCounts(target, textCol, n, buckets).withColumnRenamed("cnt", "__ct")
    val rc = bucketCounts(raw, textCol, n, buckets).withColumnRenamed("cnt", "__cr")
    weightsFromCounts(tc, rc, buckets, alpha)
  }

  /** llr frame from two (bucket, count) frames. The joined counts are a
    * ≤ `buckets`-row frame consumed TWICE (totals + per-bucket ratios) —
    * eagerly checkpointed so the expensive gram scans behind each count
    * frame run exactly once, not once per consumer. */
  private def weightsFromCounts(
      tc: DataFrame,
      rc: DataFrame,
      buckets: Int,
      alpha: Double
  ): DataFrame = {
    require(alpha > 0.0, "alpha must be positive")
    val joined = graft.Checkpoints.localCheckpoint(tc.join(rc, Seq("bucket"), "full"))
    // totals ride a one-row frame broadcast into the plan, never a
    // driver-side collect (the bm25 consts pattern)
    val totals = joined.agg(
      coalesce(sum("__ct"), lit(0L)).as("__nt"),
      coalesce(sum("__cr"), lit(0L)).as("__nr"))
    val aB = alpha * buckets
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((coalesce(col("__ct"), lit(0L)).cast("double") + lit(alpha)) /
          (col("__nt").cast("double") + lit(aB))) -
          (log((coalesce(col("__cr"), lit(0L)).cast("double") + lit(alpha)) /
            (col("__nr").cast("double") + lit(aB))))).as("llr"))
  }

  /** Per-document DSIR importance score: Σ over the document's hashed
    * grams of the bucket's log-likelihood ratio (count-weighted), folded
    * in bucket-sorted order for bit-reproducibility. Buckets missing
    * from `weights` contribute 0. Documents with no grams (empty/null
    * text) produce no row. The `weights` broadcast is bounded by
    * construction (≤ `buckets` rows — the hashing trick's fixed feature
    * space), so the hint cannot OOM. */
  def importanceScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      n: Int = 2,
      buckets: Int = 1 << 16,
      scoreCol: String = "dsir_score"
  ): DataFrame =
    foldScores(perBucketCounts(df, idCol, textCol, n, buckets), idCol, weights, scoreCol)

  /** One-scan scoring of `raw` against `target` — the common whole-recipe
    * call. [[logRatioWeights]] + [[importanceScores]] composed naively
    * scan the raw corpus' grams twice (once for its count histogram, once
    * for per-document features); here the per-document feature frame is
    * computed once (lazily checkpointed — the weights broadcast build is
    * its first, full-pass consumer) and the corpus histogram is derived
    * from it by a second tiny aggregation. */
  def scoreAgainstTarget(
      target: DataFrame,
      raw: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      buckets: Int = 1 << 16,
      alpha: Double = 0.01,
      scoreCol: String = "dsir_score"
  ): DataFrame = {
    val perBucket = graft.Checkpoints.localCheckpoint(
      perBucketCounts(raw, idCol, textCol, n, buckets), eager = false)
    val rc = perBucket.groupBy("bucket").agg(sum("__cnt").as("__cr"))
    val tc = bucketCounts(target, textCol, n, buckets).withColumnRenamed("cnt", "__ct")
    foldScores(perBucket, idCol, weightsFromCounts(tc, rc, buckets, alpha), scoreCol)
  }

  /** Per-document (id, bucket, count) features: one explode + one
    * map-side-combinable groupBy; ≤ min(grams, buckets) rows per doc. */
  private def perBucketCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      buckets: Int
  ): DataFrame =
    df.select(col(idCol), explode(grams(col(textCol), n)).as("__g"))
      .select(col(idCol), gramBucket(col("__g"), buckets).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("__cnt"))

  private def foldScores(
      perBucket: DataFrame,
      idCol: String,
      weights: DataFrame,
      scoreCol: String
  ): DataFrame =
    perBucket.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(aggregate(
        array_sort(collect_list(struct(col("bucket"),
          (col("__cnt").cast("double") * coalesce(col("llr"), lit(0.0))).as("c")))),
        lit(0.0), (acc, x) => acc + x.getField("c")).as(scoreCol))

  /** The hard-selection policy: top `k` documents by importance score,
    * ties toward the smaller id. `orderBy.limit` lowers to
    * TakeOrderedAndProject — per-partition heaps, only k rows move. */
  def selectTop(
      scored: DataFrame,
      idCol: String,
      k: Int,
      scoreCol: String = "dsir_score"
  ): DataFrame = {
    require(k > 0, "k must be positive")
    scored.orderBy(col(scoreCol).desc, col(idCol)).limit(k)
  }

  /** The paper's soft policy: importance RESAMPLING without replacement —
    * k documents drawn with probability ∝ exp(score/temperature), via
    * deterministic Gumbel-top-k in pure log domain (key =
    * ln(−ln u) − score/T ranked ascending; algebraically the A-Res order
    * for weight exp(score/T), with no overflow for any score). The md5
    * unit hash supplies u, so the draw is reproducible across runs and
    * partitionings; u = 0 keys +∞ and never wins. Higher temperature →
    * closer to uniform; T → 0 degenerates to [[selectTop]]. */
  def gumbelSample(
      scored: DataFrame,
      idCol: String,
      k: Int,
      temperature: Double = 1.0,
      scoreCol: String = "dsir_score",
      salt: String = ""
  ): DataFrame = {
    require(k > 0, "k must be positive")
    require(temperature > 0.0, "temperature must be positive")
    val u = Sampling.unitHash(col(idCol), salt)
    // Spark log(0) is null, not -Inf: a u = 0 row's key nulls out — map
    // it to +Infinity (ranked last) instead of letting nulls sort first
    val key = coalesce(log(-log(u)) - col(scoreCol) / lit(temperature),
      lit(Double.PositiveInfinity))
    scored.withColumn("__gumbel", key)
      .orderBy(col("__gumbel").asc, col(idCol))
      .limit(k)
      .drop("__gumbel")
  }
}
