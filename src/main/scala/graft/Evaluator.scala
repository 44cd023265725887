package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.criteria._
import graft.model.Stats

/** Evaluation result: the scored frame (lazy) plus the cohort statistics
  * that parameterized it. The reference instead mutates `_statistics` onto
  * each criterion and exposes `get_statistics()`
  * (`/root/reference/bid_evaluation/evaluator.py:321-329`) — a deliberate,
  * semantics-preserving immutability deviation (SURVEY.md §7.3).
  */
final case class EvaluationResult(
    df: DataFrame,
    statistics: Map[String, Stats]
)

/** Single-stage evaluation engine — the Spark-native counterpart of the
  * reference `Evaluator` (`/root/reference/bid_evaluation/evaluator.py`).
  *
  * Pipeline (operators E1-E5 of SURVEY.md §2.3):
  *   1. criteria registry: insertion-ordered, keyed by column, last-wins on
  *      re-registration (`evaluator.py:255-257`);
  *   2. ONE stats aggregation job over all criterion columns;
  *   3. one lazy projection appending every weighted `score_{name}` column;
  *   4. `final_score` = sum of weighted scores, divided by total weight when
  *      `normalizeWeights` (`evaluator.py:299-312`);
  *   5. competition ranking + sort by ranking (`evaluator.py:314-319`).
  *
  * Everything after step 2 is a single Catalyst plan: the criterion math is
  * `lit`-parameterized arithmetic that constant-folds and stays inside
  * whole-stage codegen.
  */
object Evaluator {
  /** Factory front ends (E6/E7, `evaluator.py:34-112`). */
  def fromConfig(config: Map[String, Any], normalizeWeights: Boolean = true): Evaluator =
    graft.config.ConfigLoader.evaluatorFromConfig(config, normalizeWeights)
  def fromYaml(path: String, normalizeWeights: Boolean = true): Evaluator =
    graft.config.ConfigLoader.evaluatorFromYaml(path, normalizeWeights)
  def fromJson(path: String, normalizeWeights: Boolean = true): Evaluator =
    graft.config.ConfigLoader.evaluatorFromJson(path, normalizeWeights)

  /** Detail-column projection shared by the batch engine and the streaming
    * scorer (one contract, one implementation): input columns colliding
    * with detail names are dropped, duplicate display names resolve
    * last-wins while the column keeps its first position — pandas
    * sequential column assignment. */
  private[graft] def detailProjection(
      df: DataFrame,
      scoreExprs: Seq[(String, Column)],
      includeDetails: Boolean
  ): DataFrame =
    if (includeDetails && scoreExprs.nonEmpty) {
      val detailNames = scoreExprs.map(_._1)
      val keep = df.columns.filterNot(detailNames.contains).map(col)
      val lastByName = scoreExprs.groupBy(_._1).view.mapValues(_.last._2).toMap
      val ordered = detailNames.distinct.map(n => lastByName(n).as(n))
      df.select(keep.toSeq ++ ordered: _*)
    } else df

  /** Row count beyond which ranking takes the scalable range-rank path
    * (Spark conf `graft.rank.rangeThreshold`, default 2M). */
  private[graft] def rankRangeThreshold(spark: SparkSession): Long =
    spark.conf.get("graft.rank.rangeThreshold", "2000000").toLong

  /** Final-score combine shared by batch and streaming: weighted scores
    * summed in registration order (bit-exact parity with pandas'
    * sequential `sum`), divided by the total weight when normalizing
    * (all-zero weights pin to 0.0, `evaluator.py:299-312`). */
  private[graft] def combinedFinalScore(
      scoreExprs: Seq[(String, Column)],
      normalizeWeights: Boolean,
      totalWeight: => Double
  ): Column =
    if (scoreExprs.isEmpty) lit(0.0)
    else {
      val summed = scoreExprs.map(_._2).reduceLeft(_ + _)
      if (normalizeWeights) {
        val total = totalWeight
        if (total > 0) summed / lit(total) else lit(0.0)
      } else summed
    }
}

class Evaluator(val normalizeWeights: Boolean = true) {

  /** column -> criterion; LinkedHashMap preserves insertion order and keeps
    * the original position on value replacement, matching Python dict. */
  private val criteriaMap = mutable.LinkedHashMap.empty[String, Criterion]

  def criteria: Seq[(String, Criterion)] = criteriaMap.toSeq

  // === Fluent interface (evaluator.py:116-237) ===

  def linear(column: String, weight: Double, name: String = null,
             higherIsBetter: Boolean = true): this.type =
    addCriterion(column,
      LinearCriterion(Option(name).getOrElse(column), weight, higherIsBetter))

  def threshold(column: String, weight: Double,
                thresholds: Seq[(Double, Double, Double)],
                name: String = null): this.type =
    addCriterion(column,
      ThresholdCriterion(Option(name).getOrElse(column), weight, thresholds))

  def direct(column: String, weight: Double, name: String = null,
             inputScale: Double = 100.0): this.type =
    addCriterion(column,
      DirectScoreCriterion(Option(name).getOrElse(column), weight, inputScale))

  def minRatio(column: String, weight: Double, name: String = null): this.type =
    addCriterion(column,
      MinimumRatioCriterion(Option(name).getOrElse(column), weight))

  def formula(column: String, weight: Double, formula: String = "value",
              variables: Map[String, Double] = Map.empty,
              name: String = null): this.type =
    addCriterion(column,
      FormulaCriterion(Option(name).getOrElse(column), weight, formula, variables))

  def custom(column: String, weight: Double,
             fn: (Column, Stats) => Column): this.type =
    custom(column, weight, fn, null)

  def custom(column: String, weight: Double, fn: (Column, Stats) => Column,
             name: String): this.type =
    addCriterion(column,
      CustomCriterion(Option(name).getOrElse(column), weight, fn))

  /** String shortcut to a named scoring function: the four built-ins
    * (`evaluator.py:231-251`) plus any classpath-discovered
    * [[graft.criteria.ScoringFunctionProvider]] (the dynamic-loading
    * analogue of the reference demo's `custom_functions/` directory). */
  def custom(column: String, weight: Double, builtin: String): this.type =
    custom(column, weight, ScoringFunctions(builtin), null)

  def custom(column: String, weight: Double, builtin: String,
             name: String): this.type =
    custom(column, weight, ScoringFunctions(builtin), name)

  // === Registry (E1) ===

  def addCriterion(column: String, criterion: Criterion): this.type = {
    criteriaMap(column) = criterion
    this
  }

  def removeCriterion(column: String): this.type = {
    criteriaMap.remove(column)
    this
  }

  def getTotalWeight: Double = criteriaMap.values.map(_.weight).sum

  def getNormalizedWeights: Map[String, Double] = {
    val total = getTotalWeight
    if (total == 0) Map.empty
    else criteriaMap.map { case (_, c) => c.name -> c.weight / total }.toMap
  }

  // === Evaluation (E2-E5) ===

  private var lastStatistics: Map[String, Stats] = Map.empty

  def evaluate(bids: DataFrame, includeDetails: Boolean = true): DataFrame =
    evaluateResult(bids, includeDetails).df

  /** Statistics from the most recent evaluation, keyed by criterion name
    * (`evaluator.py:321-329`); empty before any evaluate, like the
    * reference's empty dict. Prefer [[EvaluationResult.statistics]]. */
  def getStatistics: Map[String, Stats] = lastStatistics

  /** Statistics come from ONE aggregation job that also counts the rows.
    * The count picks the ranking strategy: beyond
    * `graft.rank.rangeThreshold` rows (default 2M) the distinct-score
    * rank's window can itself grow unbounded, so ranking switches to the
    * fully distributed range-rank strategy (`withCompetitionRank(scalable =
    * true)`) — identical rank values either way. */
  def evaluateResult(
      bids: DataFrame,
      includeDetails: Boolean = true
  ): EvaluationResult = {
    val specs = criteriaMap.toSeq
    val (stats, rowCount) =
      if (specs.isEmpty) (Map.empty[String, Stats], 0L)
      else StatsAgg.computeWithCount(bids, specs.map(_._1))

    // Weighted score expression per criterion, in registration order.
    val scoreExprs: Seq[(String, Column)] = specs.map { case (column, c) =>
      s"score_${c.name}" -> c.expr(col(column).cast("double"), stats(column))
    }

    // E2: single projection for all detail columns (shared contract with
    // the streaming scorer, Evaluator.detailProjection).
    val withDetails = Evaluator.detailProjection(bids, scoreExprs, includeDetails)

    // E3: final-score combine (evaluator.py:299-312).
    val finalScore = Evaluator.combinedFinalScore(scoreExprs, normalizeWeights, getTotalWeight)

    val scored = withDetails.withColumn("final_score", finalScore)

    // E4: competition ranking; E5: output sort.
    val ranked = Ranks
      .withCompetitionRank(scored, "final_score", "ranking",
        scalable = rowCount > Evaluator.rankRangeThreshold(bids.sparkSession))
      .orderBy(col("ranking").asc_nulls_last)

    val statsByName = specs.map { case (col_, c) => c.name -> stats(col_) }.toMap
    lastStatistics = statsByName
    EvaluationResult(ranked, statsByName)
  }

  /** E9: criteria summary (`evaluator.py:331-344`). */
  def summary(spark: SparkSession): DataFrame = {
    val total = getTotalWeight
    val rows = criteriaMap.toSeq.map { case (column, c) =>
      (column, c.name, c.typeName, c.weight,
        if (total > 0) c.weight / total else 0.0)
    }
    spark.createDataFrame(rows)
      .toDF("column", "criterion_name", "type", "weight", "normalized_weight")
  }
}
