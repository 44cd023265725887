package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classification evaluation metrics over (label, prediction) frames —
  * the measurement step after any labeling pipeline stage (kNN label
  * propagation, the [[Classifier]] gate, dedup-cluster audits). All
  * metrics derive from EXACT integer confusion counts, so every number
  * is order-independent and engine-mirrorable.
  *
  * Scale shape: one groupBy over the data for the confusion counts; the
  * per-class report is assembled by joins over |classes|-row frames.
  */
object Metrics {

  /** (label, prediction, n) confusion counts. Null labels/predictions
    * group like any other value — callers decide whether to filter. */
  def confusionMatrix(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    df.groupBy(col(labelCol).as("label"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))

  /** Per-class `support`, `tp`, `precision`, `recall`, `f1`. Classes are
    * the union of observed labels and predictions; a class never
    * predicted has null precision (0/0), a class never seen as truth has
    * null recall — nulls, not zeros, because the ratio is undefined. */
  def classificationReport(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val cm = confusionMatrix(df, labelCol, predCol)
    val rowSums = cm.groupBy("label").agg(sum("n").as("__row"))
      .select(col("label").as("clazz"), col("__row"))
    val colSums = cm.groupBy("pred").agg(sum("n").as("__col"))
      .select(col("pred").as("clazz"), col("__col"))
    val diag = cm.filter(col("label") === col("pred"))
      .select(col("label").as("clazz"), col("n").as("__tp"))
    val joined = rowSums
      .join(colSums, Seq("clazz"), "full")
      .join(diag, Seq("clazz"), "left")
      .select(col("clazz"),
        coalesce(col("__row"), lit(0L)).as("support"),
        coalesce(col("__col"), lit(0L)).as("__predicted"),
        coalesce(col("__tp"), lit(0L)).as("tp"))
    val p = when(col("__predicted") > 0, col("tp").cast("double") / col("__predicted"))
    val r = when(col("support") > 0, col("tp").cast("double") / col("support"))
    joined
      .withColumn("precision", p)
      .withColumn("recall", r)
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall"))))
      .drop("__predicted")
  }

  /** Retention cohorts over an event log: users cohort by the time
    * bucket of their FIRST event; for each (cohort, offset) cell, how
    * many of the cohort's users were active `offset` buckets later and
    * the retention ratio — the product-health table every event
    * pipeline ships. Bucket math is pure integer division on the
    * microsecond column (exact, engine-mirrorable); activity is exact
    * `countDistinct(user)`.
    *
    * Scale shape: distinct (user, bucket) first (one shuffle, map-side
    * combined), the per-user min-bucket aggregate is |users|-row, its
    * join back rides the same user key, and the final cell aggregate is
    * |cohorts × offsets|-row. Null users/timestamps are excluded (no
    * identity to retain). */
  def retentionCohorts(
      events: DataFrame,
      userCol: String,
      usCol: Column,
      bucketUs: Long
  ): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    // exact integer floor-division at ANY magnitude: subtract the pmod
    // remainder (so truncation ≡ floor even for negative epochs), then
    // integral `div` — a double division would be exact only below 2^53
    val bucket = call_function("div",
      (usCol.cast("long") - pmod(usCol.cast("long"), lit(bucketUs))), lit(bucketUs))
    // ub feeds the cohort aggregate AND the activity join; active feeds
    // its own base slice — persist both so neither subtree runs twice
    val ub = graft.Checkpoints.trackCache(events
      .filter(col(userCol).isNotNull && usCol.isNotNull)
      .select(col(userCol).as("__u"), bucket.as("__b"))
      .distinct()
      .persist())
    val cohorts = ub.groupBy(col("__u")).agg(min(col("__b")).as("cohort"))
    val active = graft.Checkpoints.trackCache(ub.join(cohorts, Seq("__u"))
      .groupBy(col("cohort"), (col("__b") - col("cohort")).as("offset"))
      .agg(countDistinct(col("__u")).as("n_active"))
      .persist())
    val base = active.filter(col("offset") === 0)
      .select(col("cohort"), col("n_active").as("n_cohort"))
    active.join(base, Seq("cohort"))
      .select(col("cohort"), col("offset"), col("n_active"), col("n_cohort"),
        (round(col("n_active") / col("n_cohort"), 6) + lit(0.0)).as("retention_r"))
  }

  /** First-order event-transition matrix: for each user's event stream
    * (ordered by `orderCol`, ties by `idCol`), count consecutive
    * (from_type → to_type) pairs and the transition probability out of
    * each `from_type` — the behavioral fingerprint that catches a
    * broken client (impossible transitions) or a bot (degenerate ones).
    *
    * Scale shape: one window pass partitioned by user (per-user streams
    * are short; the partition key is the natural shard), then a
    * |types²|-bounded count aggregate and a |types|-row total join. */
  def eventTransitions(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      orderCol: Column,
      idCol: String
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(orderCol.asc, col(idCol).asc)
    val pairs = events
      .filter(col(userCol).isNotNull)
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val cached = graft.Checkpoints.trackCache(pairs.persist())
    val totals = cached.groupBy("from_type").agg(sum("n").as("__tot"))
    cached.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (round(col("n") / col("__tot"), 6) + lit(0.0)).as("p_r"))
  }

  /** Per-type rolling time-series aggregate: events bucket to
    * `bucketUs`-wide cells, and each (type, bucket) row carries its own
    * count / value-sum plus the rolling sums over the trailing
    * `windowBuckets` buckets — a RANGE frame over the bucket ordinal, so
    * gaps in the series count as empty buckets (time-correct), not as
    * "previous rows" (the silent off-by-gaps bug of a ROWS frame).
    *
    * `valueCents` must be an INTEGER column (quantize doubles to cents /
    * micro-units first — the engine's cross-engine convention): rolling
    * sums of integers are exact in any accumulation order, where a
    * rolling double sum would be frame-order-dependent across engines.
    * `avg_n_dense_r` divides by the FULL window width — a dense-series
    * moving average where missing buckets mean zero traffic, which is
    * what a rate monitor wants.
    *
    * Scale shape: one count shuffle to bucket grain (map-side combined),
    * then a window over |types| short per-type series. */
  def rollingBucketAgg(
      events: DataFrame,
      typeCol: String,
      usCol: Column,
      valueCents: Column,
      bucketUs: Long,
      windowBuckets: Int
  ): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(windowBuckets >= 1, "windowBuckets must be >= 1")
    // same exact integral bucket math as retentionCohorts
    val bucket = call_function("div",
      (usCol.cast("long") - pmod(usCol.cast("long"), lit(bucketUs))), lit(bucketUs))
    val perBucket = events
      .filter(usCol.isNotNull)
      .groupBy(col(typeCol).as("bucket_type"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), sum(valueCents).as("v_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket_type").orderBy(col("bucket").asc)
      .rangeBetween(-(windowBuckets - 1L), 0L)
    perBucket.select(
      col("bucket_type"), col("bucket"), col("n"), col("v_cents"),
      sum(col("n")).over(w).as("roll_n"),
      sum(col("v_cents")).over(w).as("roll_cents"),
      (round(sum(col("n")).over(w) / lit(windowBuckets.toDouble), 6) + lit(0.0))
        .as("avg_n_dense_r"))
  }

  /** Rolling anomaly detector over a bucketed event series — the
    * burst/outage monitor on top of [[rollingBucketAgg]]'s bucket grain:
    * each (type, bucket) cell is z-scored against the TRAILING
    * `baselineBuckets` buckets (RANGE frame ending at 1 PRECEDING, so
    * the candidate bucket never contaminates its own baseline and gap
    * buckets shrink the baseline rather than shifting it). A cell is
    * anomalous when at least `minBaseline` baseline buckets exist and
    * either |n − mean| > k·σ (positive baseline variance) or the
    * baseline is CONSTANT and n departs from it at all (σ = 0 makes any
    * departure infinitely many σs; z_r stays null there).
    *
    * Cross-engine determinism (the q85 contract): the baseline moments
    * are EXACT integer sums (Σn, Σn², count — order-independent); mean,
    * population σ, and z then derive in double by the SAME IEEE op
    * sequence the oracle writes term-for-term (divisions and sqrt are
    * exact-rounded, so the bits — and the boundary comparison — agree),
    * with `z_r` rounded to 6dp for display.
    *
    * Scale shape: one count shuffle to bucket grain (map-side combined),
    * then a bounded RANGE window over each type's short bucket series. */
  def rollingAnomalies(
      events: DataFrame,
      typeCol: String,
      usCol: Column,
      bucketUs: Long,
      baselineBuckets: Int,
      k: Double,
      minBaseline: Int = 3
  ): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(baselineBuckets >= minBaseline && minBaseline >= 2,
      "need baselineBuckets >= minBaseline >= 2")
    require(k > 0, "k must be positive")
    val bucket = call_function("div",
      (usCol.cast("long") - pmod(usCol.cast("long"), lit(bucketUs))), lit(bucketUs))
    val perBucket = events
      .filter(usCol.isNotNull)
      .groupBy(col(typeCol).as("bucket_type"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket_type").orderBy(col("bucket").asc)
      .rangeBetween(-baselineBuckets.toLong, -1L)
    val m = count(lit(1)).over(w)
    val s1 = sum(col("n")).over(w)
    val s2 = sum(col("n") * col("n")).over(w)
    val mean = s1.cast("double") / m.cast("double")
    val variance = s2.cast("double") / m.cast("double") - mean * mean
    val z = (col("n").cast("double") - mean) / sqrt(variance)
    perBucket.select(
        col("bucket_type"), col("bucket"), col("n"),
        m.as("base_n"),
        when(m >= minBaseline, round(mean, 6) + lit(0.0)).as("mean_r"),
        when(m >= minBaseline && variance > 0, round(z, 6) + lit(0.0)).as("z_r"),
        (m >= minBaseline &&
          ((variance > 0 &&
            abs(col("n").cast("double") - mean) > lit(k) * sqrt(variance)) ||
           (variance === 0.0 && col("n").cast("double") =!= mean)))
          .as("is_anomaly"))
  }

  /** Seasonal-baseline anomaly detection: each (type, bucket) cell is
    * z-scored against the OTHER cells sharing its PHASE — `phase =
    * bucket mod period` (hourly buckets with period 24 = hour-of-day;
    * period 168 = hour-of-week) — so "Monday 9am is judged against
    * other Monday 9ams", the seasonality-aware complement of
    * [[rollingAnomalies]]' trailing window (which a daily traffic
    * cycle would constantly trip). The candidate cell NEVER
    * contaminates its own baseline: the profile is LEAVE-ONE-OUT,
    * computed exactly from the per-(type, phase) integer moments
    * (m, Σn, Σn²) by subtracting the cell's own contribution —
    * `mean = (Σn − n)/(m−1)`, `var = (Σn² − n²)/(m−1) − mean²` —
    * so one aggregate serves every cell and the semantics match the
    * rollingAnomalies exclusion contract. Cells flag when at least
    * `minBaseline` OTHER cells share the phase and either |n − mean| >
    * k·σ (positive variance) or the baseline is constant and n departs
    * from it at all (the q207 σ = 0 rule; z_r stays null there).
    *
    * Determinism: integer moments; mean/σ/z derive in double by the
    * SAME IEEE op sequence the oracle writes (the q85/q207 contract);
    * the variance gate stays on the direct expression (never
    * sqrt-then-square — the cancellation-NaN trap). Scale shape: one
    * count shuffle to cell grain (map-side combined), a |types ×
    * period|-row profile aggregate, and a broadcast-sized join back.
    *
    * `frozenProfiles` ((series, phase) → (mean, sigma)) switches to a
    * caller-blessed reference baseline — the
    * [[graft.streaming.StreamingEval.seasonalMonitorStream]] contract
    * (a live stream must not define its own normality, the
    * [[cusumChangepoints]] frozen-stats convention): no leave-one-out,
    * `base_n` null, unprofiled or σ ≤ 0 cells dropped. */
  def seasonalAnomalies(
      events: DataFrame,
      typeCol: String,
      usCol: Column,
      bucketUs: Long,
      period: Int,
      k: Double,
      minBaseline: Int = 3,
      frozenProfiles: Option[Map[(String, Long), (Double, Double)]] = None
  ): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(period >= 2, "period must be >= 2 buckets")
    require(k > 0, "k must be positive")
    require(minBaseline >= 2, "minBaseline must be >= 2")
    val spark = events.sparkSession
    import spark.implicits._
    val bucket = call_function("div",
      (usCol.cast("long") - pmod(usCol.cast("long"), lit(bucketUs))), lit(bucketUs))
    val cells = events
      .filter(usCol.isNotNull)
      .groupBy(col(typeCol).as("series"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("phase", pmod(col("bucket"), lit(period.toLong)))
    frozenProfiles match {
      case Some(m) =>
        // blessed reference profiles (the streaming-monitor contract —
        // a live stream must not define its own normality): cells whose
        // (series, phase) has no profile, or whose sigma <= 0, drop
        val f = m.toSeq.map { case ((s, p), (mu, sd)) => (s, p, mu, sd) }
          .toDF("series", "phase", "__fmu", "__fsd")
        val z = (col("n").cast("double") - col("__fmu")) / col("__fsd")
        cells.join(broadcast(f), Seq("series", "phase"))
          .filter(col("__fsd") > 0.0)
          .select(col("series"), col("bucket"), col("phase"), col("n"),
            lit(null).cast("long").as("base_n"),
            (round(col("__fmu"), 6) + lit(0.0)).as("mean_r"),
            (round(z, 6) + lit(0.0)).as("z_r"),
            (abs(col("n").cast("double") - col("__fmu")) > lit(k) * col("__fsd"))
              .as("is_anomaly"))
      case None =>
        val profile = cells.groupBy("series", "phase").agg(
          count(lit(1)).as("__m"), sum(col("n")).as("__s1"),
          sum(col("n") * col("n")).as("__s2"))
        val m1 = (col("__m") - lit(1L)).cast("double")
        val mean = (col("__s1") - col("n")).cast("double") / m1
        val variance = (col("__s2") - col("n") * col("n")).cast("double") / m1 - mean * mean
        val z = (col("n").cast("double") - mean) / sqrt(variance)
        val enough = col("__m") - lit(1L) >= minBaseline
        cells.join(broadcast(profile), Seq("series", "phase"))
          .select(col("series"), col("bucket"), col("phase"), col("n"),
            (col("__m") - lit(1L)).as("base_n"),
            when(enough, round(mean, 6) + lit(0.0)).as("mean_r"),
            when(enough && variance > 0, round(z, 6) + lit(0.0)).as("z_r"),
            (enough &&
              ((variance > 0 &&
                abs(col("n").cast("double") - mean) > lit(k) * sqrt(variance)) ||
               (variance === 0.0 && col("n").cast("double") =!= mean)))
              .as("is_anomaly"))
    }
  }

  /** Held-out next-event prediction accuracy of the first-order Markov
    * model — the governance check on [[eventTransitions]]: train the
    * argmax transition table on transitions STARTING before `splitUs`,
    * evaluate top-1 accuracy on those starting at-or-after — "how
    * predictable is this event stream?" (a bot's mechanical loop
    * scores near 1.0; organic behavior doesn't, and a sudden accuracy
    * jump is a farm coming online). Ties in the argmax resolve toward
    * the binary-smaller destination type (deterministic, the engine
    * convention). Output one row: `n_train`, `n_eval`, `n_covered`
    * (eval transitions whose from-type the model has seen),
    * `accuracy_r` (over all eval transitions — unseen from-types count
    * as misses) and `accuracy_covered_r`.
    *
    * Scale shape: one window pass per user (the transition pairs),
    * a |types²|-bounded count aggregate, the |types|-row argmax, and a
    * broadcast join onto the eval pairs. */
  def nextEventAccuracy(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      usCol: Column,
      idCol: String,
      splitUs: Long
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(usCol.asc, col(idCol).asc)
    val pairs = graft.Checkpoints.trackCache(events
      .filter(col(userCol).isNotNull && usCol.isNotNull)
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .select(col(typeCol).as("__from"), col("__next").as("__to"),
        usCol.cast("long").as("__us"))
      .persist())
    val train = pairs.filter(col("__us") < splitUs)
      .groupBy("__from", "__to").agg(count(lit(1)).as("__n"))
    // argmax with binary-smaller-destination ties: max over the
    // (count, inverted-order marker) struct is fragile for strings —
    // use min(struct(-count, to)) instead: smallest negative count =
    // largest count, then smallest destination
    val model = train
      .groupBy("__from")
      .agg(min(struct((-col("__n")).as("nc"), col("__to").as("t"))).as("__best"))
      .select(col("__from"), col("__best.t").as("__pred"))
    val eval = pairs.filter(col("__us") >= splitUs)
    eval.join(broadcast(model), Seq("__from"), "left")
      .agg(
        count(lit(1)).as("n_eval"),
        count(col("__pred")).as("n_covered"),
        count(when(col("__pred") === col("__to"), 1)).as("__hits"))
      .crossJoin(broadcast(
        pairs.filter(col("__us") < splitUs).agg(count(lit(1)).as("n_train"))))
      .select(col("n_train"), col("n_eval"), col("n_covered"),
        (round(when(col("n_eval") > 0,
          col("__hits").cast("double") / col("n_eval").cast("double"))
          .otherwise(lit(null)), 6) + lit(0.0)).as("accuracy_r"),
        (round(when(col("n_covered") > 0,
          col("__hits").cast("double") / col("n_covered").cast("double"))
          .otherwise(lit(null)), 6) + lit(0.0)).as("accuracy_covered_r"))
  }

  /** Two-proportion A/B test over UNIT-grain rows (one row per user /
    * document / request with its `variantCol` and boolean
    * `convertedCol`): per arm `n`/`conversions`/rate, the absolute and
    * relative lift of the binary-LARGER variant over the smaller (B
    * over A — a fixed, deterministic orientation), and the pooled
    * two-proportion z statistic
    * `z = (p_b − p_a) / √(p̂(1−p̂)(1/n_a + 1/n_b))` — the launch-review
    * number. Exactly TWO variants are the contract; anything else
    * refuses loudly THROUGH the consumed variant field (a silently
    * dropped third arm would fabricate a verdict). All inputs to the
    * z are exact integer counts; the formula is one IEEE sequence the
    * oracle mirrors term-for-term. `z_r` is null when the pooled
    * variance is 0 (all-converted or none-converted overall);
    * `rel_lift_r` is null when arm A never converts. Null variants
    * drop; a null converted counts as false (no evidence of
    * conversion — the flag must be assigned upstream).
    *
    * Scale shape: one 2-row aggregate (map-side combined) + driver-free
    * struct min/max packing. */
  def abProportionTest(
      units: DataFrame,
      variantCol: String,
      convertedCol: String
  ): DataFrame = {
    val perArm = units
      .filter(col(variantCol).isNotNull)
      .groupBy(col(variantCol).cast("string").as("__v"))
      .agg(count(lit(1)).as("__n"),
        count(when(col(convertedCol) === true, 1)).as("__k"))
    val packed = perArm.agg(
      count(lit(1)).as("__nv"),
      min(struct(col("__v"), col("__n"), col("__k"))).as("__a"),
      max(struct(col("__v"), col("__n"), col("__k"))).as("__b"))
    val guardA = when(col("__nv") =!= 2, raise_error(concat(
      lit("abProportionTest: expected exactly 2 variants, got "),
      col("__nv").cast("string"),
      lit(" — a silently dropped arm fabricates a verdict; filter upstream"))))
      .otherwise(col("__a.__v"))
    val na = col("__a.__n").cast("double")
    val nb = col("__b.__n").cast("double")
    val ka = col("__a.__k").cast("double")
    val kb = col("__b.__k").cast("double")
    val crA = ka / na
    val crB = kb / nb
    val p = (ka + kb) / (na + nb)
    val se2 = p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb)
    packed.select(
      guardA.as("variant_a"), col("__b.__v").as("variant_b"),
      col("__a.__n").as("n_a"), col("__a.__k").as("conv_a"),
      col("__b.__n").as("n_b"), col("__b.__k").as("conv_b"),
      (round(crA, 6) + lit(0.0)).as("cr_a_r"),
      (round(crB, 6) + lit(0.0)).as("cr_b_r"),
      (round(crB - crA, 6) + lit(0.0)).as("abs_lift_r"),
      when(crA > 0, round((crB - crA) / crA, 6) + lit(0.0)).as("rel_lift_r"),
      when(se2 > 0, round((crB - crA) / sqrt(se2), 6) + lit(0.0)).as("z_r"))
  }

  /** Traffic-concentration report: the Gini coefficient of per-user
    * event counts plus the single-heaviest-user share — "does 1% of
    * accounts generate 90% of the load?" (the bot-farm / scraper-fleet
    * smell, and the skew forecast for every per-user join downstream).
    * `gini = Σⱼ (n + 1 − 2j)·cⱼ ⁄ (n·Σc)` with j the DESCENDING
    * (count, id) position — exact integer arithmetic end to end (the
    * ascending-sort textbook form, re-indexed so the scalable
    * descending rank serves it directly).
    *
    * Scale shape: one |users|-grain count, then the
    * [[graft.Ranks.rangeRank]] kernel over a combined `(count, id)` LONG
    * sort key — NEVER a single-partition global window (and never a
    * double-typed rank: the combined key exceeds 2⁵³ long before the
    * counts stop fitting it) — and one final aggregate. The combined
    * key needs `count < 2³¹` per user and `id` in `[0, 2³¹)`;
    * out-of-range ids refuse loudly with the
    * [[graft.ops.Ids.withSurrogateId]] pointer (the numeric-id
    * contract). */
  def activityConcentration(events: DataFrame, userCol: String): DataFrame = {
    val counts = events.filter(col(userCol).isNotNull)
      .groupBy(col(userCol).as("__u")).agg(count(lit(1)).as("__c"))
    val uid = col("__u").cast("long")
    val checked = when(uid.isNull || uid < 0L || uid >= (1L << 31) ||
        col("__c") >= (1L << 31),
      raise_error(concat(
        lit("activityConcentration: user id "), col("__u").cast("string"),
        lit(" (count "), col("__c").cast("string"),
        lit(") outside the combined-key range [0, 2^31) — route string/large "),
        lit("ids through Ids.withSurrogateId first"))).cast("long"))
      .otherwise(uid)
    val keyed = counts.select(
      (col("__c") * lit(1L << 31) + checked).as("__key"), col("__c"))
    // global DESCENDING position j: the keys are distinct, so the
    // range-rank kernel's rank IS the 1-based position
    val ranked = graft.Ranks.rangeRank(keyed, "__key", descending = true, None, "__j")
    import org.apache.spark.sql.types.DecimalType
    val totals = ranked.agg(
      count(lit(1)).as("n_users"), sum(col("__c")).as("n_events"),
      max(col("__c")).as("__mx"))
    ranked.crossJoin(broadcast(totals))
      .groupBy(col("n_users"), col("n_events"), col("__mx"))
      .agg(sum(((col("n_users") + lit(1L) - lit(2L) * col("__j")) * col("__c"))
        .cast(DecimalType(38, 0))).as("__num"))
      .select(col("n_users"), col("n_events"),
        (round(col("__num").cast("double") /
          (col("n_users").cast("double") * col("n_events").cast("double")), 6)
          + lit(0.0)).as("gini_r"),
        (round(col("__mx").cast("double") / col("n_events").cast("double"), 6)
          + lit(0.0)).as("top_user_frac_r"))
  }

  /** Recency-decayed activity score per user: events weight by
    * `2^(−k)` half-lives where `k = (T_ref − t) div halfLifeUs` and
    * `T_ref` is the log's latest event time — the "engaged this week
    * beats engaged last month" ranking signal. The weights are EXACT
    * DYADIC INTEGERS: `decay_score = Σ n_k · 2^(horizon−1−k)` over the
    * per-(user, half-life-bucket) counts (a long — bounded for any
    * real per-user volume at the default horizon), and the display
    * `score_r = decay_score ⁄ 2^(horizon−1) = Σ n_k·2^(−k)` is an
    * exact dyadic division — NO transcendentals anywhere (a true
    * `exp(−λΔt)` is not bit-reproducible cross-engine: `exp` is
    * correctly rounded in neither direction by contract; bucketed
    * dyadic decay is, and at half-life grain the difference is
    * quantization the ranking never feels). Events older than
    * `horizon` half-lives carry weight 0 and drop — users with no
    * event inside the horizon produce no row (dead accounts fall out
    * of the ranking rather than padding it).
    *
    * Scale shape: one global max (broadcast), one count shuffle to
    * (user, bucket) grain — map-side combined — and a |users|-grain
    * sum. Output: (userCol, n_events_window, decay_score, score_r). */
  def decayActivity(
      events: DataFrame,
      userCol: String,
      usCol: Column,
      halfLifeUs: Long,
      horizon: Int = 30
  ): DataFrame = {
    require(halfLifeUs > 0, "halfLifeUs must be positive")
    require(horizon >= 1 && horizon <= 62, "horizon must be in [1, 62]")
    val base = events
      .filter(col(userCol).isNotNull && usCol.isNotNull)
      .select(col(userCol).as("__u"), usCol.cast("long").as("__us"))
    val tRef = base.agg(max(col("__us")).as("__T"))
    val k = call_function("div", col("__T") - col("__us"), lit(halfLifeUs))
    val weighted = base.crossJoin(broadcast(tRef))
      .withColumn("__k", k)
      .filter(col("__k") < horizon)
      .groupBy(col("__u"), col("__k"))
      .agg(count(lit(1)).as("__nk"))
      .withColumn("__w",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${horizon - 1} - __k AS INT))"))
    weighted.groupBy(col("__u").as(userCol))
      .agg(
        sum(col("__nk")).as("n_events_window"),
        sum(col("__nk") * col("__w")).as("decay_score"))
      .withColumn("score_r",
        round(col("decay_score").cast("double") /
          lit(math.pow(2.0, (horizon - 1).toDouble)), 6) + lit(0.0))
  }

  /** Theil–Sen robust trend per series: the median of all pairwise
    * slopes between a series' bucket counts, plus the matching median
    * intercept — "is this source drifting?" answered by an estimator
    * with a 29% breakdown point, where an OLS slope is dragged by the
    * same bursts [[rollingAnomalies]] exists to catch (the
    * [[graft.ops.Outliers.withGroupRobustZscore]] philosophy applied
    * to trends). Output per series: `n_buckets`, `n_pairs`,
    * `slope_r` (median of `(n_j − n_i)/(bucket_j − bucket_i)` over all
    * i < j, in counts per bucket) and `intercept_r` (median of
    * `n_i − slope·bucket_i`).
    *
    * Determinism: slopes are single IEEE divisions of exact integer
    * differences; medians are exact percentiles (the q93 contract);
    * the intercept uses the RAW median slope in the same op order the
    * oracle writes.
    *
    * Scale shape: the cell grain is one count shuffle; the pairwise
    * self-join is |buckets|² PER SERIES — bounded time, not memory,
    * but it is a real quadratic, so a series with more than
    * `maxBuckets` buckets refuses loudly THROUGH the consumed bucket
    * column (the house ceiling pattern; at the default 2000 that is
    * ~2M slope rows per series — trend estimation wants a bounded
    * window anyway: bucket coarser or pre-filter the range). */
  def theilSenTrend(
      events: DataFrame,
      typeCol: String,
      usCol: Column,
      bucketUs: Long,
      maxBuckets: Long = 2000L
  ): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(maxBuckets >= 2, "maxBuckets must be >= 2")
    val bucket = call_function("div",
      (usCol.cast("long") - pmod(usCol.cast("long"), lit(bucketUs))), lit(bucketUs))
    val cells = events
      .filter(usCol.isNotNull)
      .groupBy(col(typeCol).as("series"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val sizes = cells.groupBy("series").agg(count(lit(1)).as("__nb"))
    val guarded = graft.Checkpoints.trackCache(cells.join(sizes, "series")
      .withColumn("bucket",
        when(col("__nb") > maxBuckets, raise_error(concat(
          lit("theilSenTrend: series "), col("series"),
          lit(" has "), col("__nb").cast("string"),
          lit(s" buckets (> maxBuckets=$maxBuckets) — the pairwise slope "),
          lit("set is |buckets|²; bucket coarser, pre-filter the range, "),
          lit("or raise maxBuckets deliberately"))).cast("long"))
        .otherwise(col("bucket")))
      .persist())
    val a = guarded.select(col("series"), col("bucket").as("__b1"),
      col("n").as("__n1"), col("__nb"))
    val b = guarded.select(col("series"), col("bucket").as("__b2"), col("n").as("__n2"))
    val slopes = a.join(b, "series")
      .filter(col("__b2") > col("__b1"))
      .select(col("series"), col("__nb"),
        ((col("__n2") - col("__n1")).cast("double") /
          (col("__b2") - col("__b1")).cast("double")).as("__s"))
    val m = slopes.groupBy("series").agg(
      min(col("__nb")).as("n_buckets"),
      count(lit(1)).as("n_pairs"),
      percentile(col("__s"), lit(0.5)).as("__m"))
    guarded.join(m, "series")
      .groupBy(col("series"))
      .agg(
        min(col("n_buckets")).as("n_buckets"),
        min(col("n_pairs")).as("n_pairs"),
        (round(min(col("__m")), 6) + lit(0.0)).as("slope_r"),
        (round(percentile(
          col("n").cast("double") - col("__m") * col("bucket").cast("double"),
          lit(0.5)), 6) + lit(0.0)).as("intercept_r"))
  }

  /** Multi-touch conversion attribution: credit each conversion event
    * to the touch events (views, clicks, campaign hits) that preceded
    * it within `lookbackUs`, under the classic models — `"first"` /
    * `"last"` (full credit to the earliest/latest touch: min/max over
    * the (ts, id) struct, so an equal-timestamp tie resolves toward
    * the SMALLER event id for `"first"` and the larger for `"last"` —
    * the struct order IS the temporal order extended by id) or
    * `"linear"` (each touch type gets its share of touches in the
    * window). Output per touch type: `n_conversions` touched and
    * `credit_r` (exact integer counts under first/last; under linear a
    * conv-id-ordered deterministic fold of `n_type/n_total` shares).
    *
    * Scale shape: conversions and touches shuffle once on the user
    * key; the per-user interval join is bounded by each user's own
    * conversions × touches. That product has a LOUD ceiling
    * (`maxUserPairs`, riding the consumed conversion-timestamp column
    * so Catalyst cannot prune the raise_error away — the
    * [[graft.ops.Joins.editDistanceJoin]] convention): a bot account
    * with 10⁶ touches and 10³ conversions is exactly the row this
    * operator exists to analyze, and without the guard it would emit
    * 10⁹ pairs before the credit aggregate — filter or pre-aggregate
    * such users upstream, or raise the ceiling deliberately. The
    * pre-flight itself is two key-grain counts + one broadcast-sized
    * join on the already-shuffled user key. The credit aggregate is
    * |conversions × types| grain, and the final frame is |types| rows.
    * Unattributed conversions (no touch in window) simply earn nobody
    * credit — count them via [[graft.ops.Sessions.conversionLatency]].
    *
    * The linear model's deterministic fold keys by the conversion id
    * CAST TO LONG; a string/UUID id refuses loudly with the
    * [[graft.ops.Ids.withSurrogateId]] pointer (the [[GroupTopK]]
    * convention) rather than folding null keys. */
  def attribution(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      usCol: Column,
      idCol: String,
      conversionType: String,
      touchTypes: Seq[String],
      model: String,
      lookbackUs: Long,
      maxUserPairs: Long = 10000000L
  ): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs touch types")
    require(Set("first", "last", "linear")(model),
      s"unknown attribution model '$model' (first | last | linear)")
    require(lookbackUs > 0, "lookbackUs must be positive")
    require(maxUserPairs >= 1, "maxUserPairs must be >= 1")
    val base = events.filter(col(userCol).isNotNull && usCol.isNotNull)
    val convs = base.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("__u"), usCol.cast("long").as("__cus"),
        col(idCol).as("__cid"))
    val touches = base.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__u"), usCol.cast("long").as("__tus"),
        col(idCol).as("__tid"), col(typeCol).as("touch_type"))
    // hot-user pre-flight: per-user conv×touch pair count, refused
    // loudly THROUGH the consumed conversion timestamp (a free-standing
    // guard column would be column-pruned, raise_error included)
    val pairCounts = convs.groupBy("__u").agg(count(lit(1)).as("__nc"))
      .join(touches.groupBy("__u").agg(count(lit(1)).as("__nt")), Seq("__u"))
      .select(col("__u"), (col("__nc") * col("__nt")).as("__np"))
    val guarded = convs.join(pairCounts, Seq("__u"), "left")
      .withColumn("__cus",
        when(col("__np") > maxUserPairs, raise_error(concat(
          lit("attribution: user "), col("__u").cast("string"),
          lit(" pairs "), col("__np").cast("string"),
          lit(s" conversions×touches (> maxUserPairs=$maxUserPairs) — the "),
          lit("per-user interval join would go quadratic; filter or "),
          lit("pre-aggregate the hot user upstream, or raise maxUserPairs")))
          .cast("long"))
        .otherwise(col("__cus")))
      .drop("__np")
    val paired = guarded.join(touches, Seq("__u"))
      .filter(col("__tus") <= col("__cus") &&
        col("__tus") > col("__cus") - lit(lookbackUs))
    model match {
      case "first" | "last" =>
        val pick = struct(col("__tus"), col("__tid"), col("touch_type"))
        val winner = paired.groupBy("__cid")
          .agg((if (model == "first") min(pick) else max(pick)).as("__w"))
          .select(col("__w.touch_type").as("touch_type"))
        winner.groupBy("touch_type")
          .agg(count(lit(1)).as("n_conversions"),
            (count(lit(1)).cast("double") + lit(0.0)).as("credit_r"))
      case _ => // linear
        val perConv = paired.groupBy(col("__cid"), col("touch_type"))
          .agg(count(lit(1)).as("__nt"))
        val totals = perConv.groupBy("__cid").agg(sum(col("__nt")).as("__n"))
        val oks = graft.expressions.OrderedKeyedSum.orderedKeyedSum _
        // the fold keys by the conversion id cast to long; a string/UUID
        // id silently casts to null — refuse through the consumed key
        val foldKey = when(col("__cid").cast("long").isNull, raise_error(concat(
          lit("attribution: conversion id "),
          coalesce(col("__cid").cast("string"), lit("null")),
          lit(" is not long-castable — the linear credit fold keys by a "),
          lit("numeric id; route string keys through Ids.withSurrogateId first")))
          .cast("long"))
          .otherwise(col("__cid").cast("long"))
        perConv.join(totals, "__cid")
          .select(col("touch_type"), foldKey.as("__k"),
            (col("__nt").cast("double") / col("__n").cast("double")).as("__share"))
          .groupBy("touch_type")
          .agg(count(lit(1)).as("n_conversions"),
            (round(oks(collect_list(struct(col("__k").as("k"),
              col("__share").as("v")))), 6) + lit(0.0)).as("credit_r"))
    }
  }

  /** CUSUM changepoint detection over per-series bucket counts — the
    * monitor that catches a SUSTAINED small shift ([[rollingAnomalies]]
    * catches single-bucket bursts; a 10% drift that never trips a 3σ
    * bucket test accumulates here within a few buckets). Counts must be
    * integral (the [[graft.ops.Outliers.withGroupZscore]] exactness
    * contract): per-series mean/σ come from exact integer moments, the
    * slack is `kSigma·σ` and the alarm threshold `hSigma·σ` (the
    * classic 0.5σ/4σ tuning by default).
    *
    * The recurrence `s⁺ᵢ = max(0, s⁺ᵢ₋₁ + (xᵢ − μ − k))` is computed by
    * the PREFIX identity `s⁺ᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ)` with `P` the
    * running sum of deviations — so both CUSUM sides are plain window
    * arithmetic (running sum + running min/max over the same per-series
    * sort), no fold state, exactly engine-mirrorable, and one window
    * pass per series partition at any scale. Output per (series,
    * bucket): `n`, `s_pos_r`, `s_neg_r`, `alarm_up`, `alarm_down`.
    * Constant series (σ = 0) never alarm (null s columns). */
  def cusumChangepoints(
      events: DataFrame,
      typeCol: String,
      usCol: Column,
      bucketUs: Long,
      kSigma: Double = 0.5,
      hSigma: Double = 4.0,
      frozenStats: Option[Map[String, (Double, Double)]] = None
  ): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(kSigma >= 0 && hSigma > 0, "need kSigma >= 0 and hSigma > 0")
    val spark = events.sparkSession
    import spark.implicits._
    val bucket = call_function("div",
      (usCol.cast("long") - pmod(usCol.cast("long"), lit(bucketUs))), lit(bucketUs))
    val perBucket = events
      .filter(usCol.isNotNull)
      .groupBy(col(typeCol).as("series"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
    // self-derived: exact integer moments per series (q85 contract);
    // frozen: caller-supplied (mean, sigma) reference baseline — the
    // streaming monitor's contract, where the live series must not
    // define its own normality
    // (stats frame, mean, sigma, active-gate): the gate stays on the
    // DIRECT variance expression in the self-derived case — gating on
    // sigma² after a sqrt would turn a tiny cancellation-negative
    // variance into NaN > 0 = true
    val (stats, mean, sigma, gate) = frozenStats match {
      case Some(m) =>
        val f = m.toSeq.map { case (s, (mu, sd)) => (s, mu, sd) }
          .toDF("series", "__fmu", "__fsd")
        (f, col("__fmu"), col("__fsd"), col("__fsd") > 0.0)
      case None =>
        val agg = perBucket.groupBy("series").agg(
          sum(col("n")).as("__s1"), sum(col("n") * col("n")).as("__s2"),
          count(lit(1)).as("__m"))
        val mu = col("__s1").cast("double") / col("__m").cast("double")
        val variance =
          col("__s2").cast("double") / col("__m").cast("double") - mu * mu
        (agg, mu, sqrt(variance), variance > 0.0)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("series").orderBy(col("bucket").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val dUp = col("n").cast("double") - mean - lit(kSigma) * sigma
    val dDn = mean - lit(kSigma) * sigma - col("n").cast("double")
    // two withColumn layers: Spark forbids nesting a window function
    // inside another; both layers share the SAME spec, so the physical
    // plan still sorts each series partition once
    val sPos = col("__pu") - least(lit(0.0), col("__mu"))
    val sNeg = col("__pd") - least(lit(0.0), col("__md"))
    perBucket.join(broadcast(stats), "series")
      .withColumn("__pu", sum(dUp).over(w))
      .withColumn("__pd", sum(dDn).over(w))
      .withColumn("__mu", min(col("__pu")).over(w))
      .withColumn("__md", min(col("__pd")).over(w))
      .select(col("series"), col("bucket"), col("n"),
        when(gate, round(sPos, 6) + lit(0.0)).as("s_pos_r"),
        when(gate, round(sNeg, 6) + lit(0.0)).as("s_neg_r"),
        (gate && sPos > lit(hSigma) * sigma).as("alarm_up"),
        (gate && sNeg > lit(hSigma) * sigma).as("alarm_down"))
  }
}
