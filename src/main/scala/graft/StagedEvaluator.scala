package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.criteria.Criterion
import graft.model._

/** One evaluation stage: a name, its own single-stage [[Evaluator]], an
  * optional inter-stage filter, and a weight for weighted-combination mode
  * (`/root/reference/bid_evaluation/staged.py:40-47`). */
final case class StageDefinition(
    name: String,
    evaluator: Evaluator,
    filter: Option[StageFilter] = None,
    weight: Double = 1.0
)

/** Per-stage outcome (`/root/reference/bid_evaluation/staged.py:50-57`).
  * The reference stores `pd.Index` objects; here every frame is a lazy
  * view of the one staged frame: the stage's single-stage result over its
  * cohort (input columns, `score_*` details, `final_score`, `ranking`),
  * and the input rows the stage advanced and eliminated. */
final case class StageResult(
    name: String,
    resultDf: DataFrame,
    advancedIds: DataFrame,
    eliminatedIds: DataFrame
)

/** Staged evaluation result (SURVEY.md §7.3 immutability deviation): the
  * final frame, per-stage results, and per-stage statistics keyed
  * `stageName -> criterionName -> Stats`. The result holds no cached
  * blocks; [[unpersist]] is kept for callers that release results. */
final case class StagedResult(
    df: DataFrame,
    stageResults: List[StageResult],
    statistics: Map[String, Map[String, Stats]]
) {
  def unpersist(): Unit = ()
}

/** Multi-stage pipeline with inter-stage elimination — the Spark-native
  * counterpart of the reference `StagedEvaluator`
  * (`/root/reference/bid_evaluation/staged.py`).
  *
  * Like the reference's active mask over one table (`staged.py:292`),
  * every stage's scores and elimination marker are columns on ONE frame:
  * stage k's cohort is the predicate "not yet eliminated", its scores are
  * masked to that cohort, and its filter folds into the elimination
  * marker that becomes `eliminated_at_stage`. Statistics and top-N cutoffs
  * are literals, so the frame is a row-local projection of the input.
  * Each ranked stage, and the final ranking, gets its own [[Ranks]] rank
  * table over that projection; the tables are joined by score value only
  * when an output is built (`{stage}_ranking`, `ranking`,
  * [[StageResult.resultDf]]), so the plan grows linearly in stages. No
  * row ids, checkpoints, caches or joins by id.
  *
  * Driver round trips: one statistics aggregate per stage (it also counts
  * the cohort, for the emptiness checks and top-N filters) and one
  * aggregate over the stage's rank table for a top-N filter — an
  * inherently sequential pipeline, since stage k's statistics depend on
  * stage k-1's filter.
  * Everything else is one lazy plan. [[StreamingEval.scoreStagedStream]]
  * builds its columns with the same [[stageColumns]], over frozen
  * statistics.
  */
object StagedEvaluator {
  /** Factory front ends (P13, `staged.py:86-159`). */
  def fromConfig(config: Map[String, Any]): StagedEvaluator =
    graft.config.ConfigLoader.stagedFromConfig(config)
  def fromYaml(path: String): StagedEvaluator =
    graft.config.ConfigLoader.stagedFromYaml(path)
  def fromJson(path: String): StagedEvaluator =
    graft.config.ConfigLoader.stagedFromJson(path)

  /** One stage's columns: the weighted criterion scores keyed by criterion
    * name and the stage score, all null outside the stage's cohort. */
  private[graft] final case class StageColumns(details: Seq[(String, Column)], score: Column) {
    /** Rows a score-threshold filter eliminates. A null or NaN score is
      * neither advanced nor eliminated and stays active (pandas NaN falls
      * through both masks, `staged.py:339-340,383-385`). */
    def below(threshold: Double): Column = score < lit(threshold)
  }

  /** The stage-column function shared by the batch engine and the streaming
    * scorer: `stats(column, criterion)` supplies the statistics, `alive`
    * is the stage's cohort predicate. */
  private[graft] def stageColumns(
      stage: StageDefinition,
      stats: (String, Criterion) => Stats,
      alive: Column
  ): StageColumns = {
    val ev = stage.evaluator
    val scores = ev.criteria.map { case (column, c) =>
      c.name -> c.expr(col(column).cast("double"), stats(column, c))
    }
    StageColumns(
      scores.map { case (name, e) => name -> when(alive, e) },
      when(alive, Evaluator.combinedFinalScore(scores, ev.normalizeWeights, ev.getTotalWeight)))
  }

  /** The elimination marker after a filtering stage: rows not yet
    * eliminated whose `eliminated` predicate holds get the stage name. */
  private[graft] def markEliminated(marker: Column, stage: String, eliminated: Column): Column =
    when(marker.isNull && coalesce(eliminated, lit(false)), lit(stage)).otherwise(marker)

  /** P7/P8 final score (`staged.py:415-453`) from each stage's score
    * column, in stage order; `None` for a stage that produced none. */
  private[graft] def finalScore(
      mode: FinalScoreMode,
      scores: Seq[(StageDefinition, Option[Column])]
  ): Column = mode match {
    case FinalScoreMode.LastStage =>
      scores.last._2.getOrElse(lit(null).cast("double"))
    case FinalScoreMode.WeightedCombination =>
      val totalWeight = scores.map(_._1.weight).sum
      val present = scores.collect { case (s, Some(c)) => s.weight -> c }
      if (totalWeight == 0 || present.isEmpty) lit(Double.NaN)
      else present.foldLeft(lit(0.0): Column) { case (acc, (w, c)) =>
        // pandas fillna(0) covers both missing (null) and NaN
        acc + coalesce(nanvl(c, lit(0.0)), lit(0.0)) * lit(w / totalWeight)
      }
  }
}

class StagedEvaluator(val finalScoreMode: FinalScoreMode = FinalScoreMode.LastStage) {

  def this(mode: String) = this(FinalScoreMode.fromString(mode))

  private val stages = ArrayBuffer.empty[StageDefinition]
  private var lastResult: Option[StagedResult] = None

  def stageDefinitions: Seq[StageDefinition] = stages.toSeq

  // === Fluent interface (staged.py:163-267) ===

  def addStage(
      name: String,
      filterType: String = null,
      threshold: java.lang.Double = null,
      topN: java.lang.Integer = null,
      onTie: String = "include",
      weight: Double = 1.0
  ): this.type = {
    val filter = Option(filterType).map { ft =>
      StageFilter(ft,
        Option(threshold).map(_.doubleValue()),
        Option(topN).map(_.intValue()), onTie)
    }
    stages += StageDefinition(name, new Evaluator(), filter, weight)
    this
  }

  def addStage(name: String, filter: Option[StageFilter], weight: Double): this.type = {
    stages += StageDefinition(name, new Evaluator(), filter, weight)
    this
  }

  private def currentEvaluator: Evaluator = {
    if (stages.isEmpty)
      throw new IllegalStateException("No stages defined. Call add_stage() first.")
    stages.last.evaluator
  }

  def linear(column: String, weight: Double, name: String = null,
             higherIsBetter: Boolean = true): this.type = {
    currentEvaluator.linear(column, weight, name, higherIsBetter); this
  }

  def threshold(column: String, weight: Double,
                thresholds: Seq[(Double, Double, Double)],
                name: String = null): this.type = {
    currentEvaluator.threshold(column, weight, thresholds, name); this
  }

  def direct(column: String, weight: Double, name: String = null,
             inputScale: Double = 100.0): this.type = {
    currentEvaluator.direct(column, weight, name, inputScale); this
  }

  def minRatio(column: String, weight: Double, name: String = null): this.type = {
    currentEvaluator.minRatio(column, weight, name); this
  }

  def formula(column: String, weight: Double, formula: String = "value",
              variables: Map[String, Double] = Map.empty,
              name: String = null): this.type = {
    currentEvaluator.formula(column, weight, formula, variables, name); this
  }

  def custom(column: String, weight: Double,
             fn: (Column, Stats) => Column): this.type = {
    currentEvaluator.custom(column, weight, fn); this
  }

  def custom(column: String, weight: Double, builtin: String): this.type = {
    currentEvaluator.custom(column, weight, builtin); this
  }

  /** Stage-name -> column-prefix sanitizer (`staged.py:455-457`). */
  def safeName(name: String): String =
    name.toLowerCase.replace(" ", "_").replace("-", "_")

  // === Evaluation (staged.py:271-375) ===

  def evaluate(bids: DataFrame, includeDetails: Boolean = true): DataFrame =
    evaluateResult(bids, includeDetails).df

  /** Runs the stages over `bids`. Above `graft.rank.rangeThreshold` cohort
    * rows a rank table takes the range-rank path ([[Ranks.rankTable]]);
    * either way the returned frames are ordinary lazy frames. */
  def evaluateResult(
      bids: DataFrame,
      includeDetails: Boolean = true
  ): StagedResult = {
    if (stages.isEmpty)
      throw new IllegalStateException("No stages defined. Add stages before evaluating.")

    val inputCols = bids.columns.toSeq
    val rangeThreshold = Evaluator.rankRangeThreshold(bids.sparkSession)
    val logger = org.slf4j.LoggerFactory.getLogger(getClass)
    val none = bids.limit(0)

    // The one frame: a projection of the input adding each stage's score
    // and elimination marker under working names; statistics and cutoffs
    // are literals, so every column stays row-local. Ranks live in one
    // rank table per ranked score column, joined by score value only when
    // an output is built.
    var frame = bids
    var marker: Column = lit(null).cast("string")
    // (score column, its rank table, rank column) per ranked score
    val rankTables = ArrayBuffer.empty[(String, DataFrame, String)]
    // Output layout (pandas column order) and each output column's value.
    var layout: Seq[String] = inputCols.filterNot(_ == "eliminated_at_stage") :+ "eliminated_at_stage"
    var values: Map[String, Column] = inputCols.map(c => c -> col(c)).toMap - "eliminated_at_stage"

    val stageResults = ArrayBuffer.empty[StageResult]
    val statsOut = ArrayBuffer.empty[(String, Map[String, Stats])]
    var lastActiveCount = 0L

    for ((stage, i) <- stages.zipWithIndex) {
      val safe = safeName(stage.name)
      val alive = marker.isNull
      // One aggregation job per stage: all criterion statistics + the
      // cohort count (emptiness check and top-N cutoffs). A cohort that
      // emptied stays empty, so later stages need no job.
      val (stageStats, activeCount) =
        if (i > 0 && lastActiveCount == 0L) (Map.empty[String, Stats], 0L)
        else StatsAgg.computeWithCount(frame.filter(alive), stage.evaluator.criteria.map(_._1))
      lastActiveCount = activeCount

      if (activeCount == 0L && i == 0) {
        // P12: empty-input short-circuit (staged.py:459-465).
        val empty = bids
          .withColumn("eliminated_at_stage", lit(null).cast("string"))
          .withColumn("final_score", lit(null).cast("double"))
          .withColumn("ranking", lit(null).cast("long"))
        return StagedResult(empty, Nil, Map.empty)
      } else if (activeCount == 0L) {
        // P6: all eliminated — warn, record empty stage, skip (staged.py:301-314).
        logger.warn(
          s"All bids were eliminated before stage '${stage.name}'. " +
            "Skipping this and subsequent stages.")
        stageResults += StageResult(stage.name, none, none, none)
      } else {
        val sc = StagedEvaluator.stageColumns(stage, (column, _) => stageStats(column), alive)
        statsOut += stage.name -> stage.evaluator.criteria
          .map { case (column, c) => c.name -> stageStats(column) }.toMap

        // Stage score and the rank table of its competition ranks over the
        // cohort: rows outside it have a null score, hence no rank.
        val (scoreName, rankName) = (s"__graft_s${i}_score", s"__graft_s${i}_rank")
        frame = frame.withColumn(scoreName, sc.score)
        val ranks = Ranks.rankTable(frame, scoreName, scalable = activeCount > rangeThreshold)
        val score = col(scoreName)
        val details = sc.details.map { case (n, c) => s"score_$n" -> c }

        // P3-P5: inter-stage filter (never on the last stage, staged.py:336).
        // A null `eliminated` outcome means "neither advanced nor
        // eliminated": the row stays active (staged.py:339-340).
        val filterOpt = if (i == stages.size - 1) None else stage.filter
        val (advanced, eliminated): (Column, Column) = filterOpt match {
          case Some(StageFilter.ScoreThreshold(t)) =>
            // !isnan: Spark evaluates NaN >= t as TRUE, numpy as False
            (score >= lit(t) && !isnan(score), sc.below(t))

          case Some(StageFilter.TopN(topN, tie)) if tie == TieMode.Exclude && activeCount <= topN =>
            (lit(true), lit(false))

          case Some(StageFilter.TopN(topN, tie)) =>
            // P4/P5 (staged.py:389-409): the stage's competition rank IS
            // the filter rank. Ranks <= n are exactly the real scores at or
            // above the lowest of them, v; one aggregate over the rank
            // table gives v and their row count a. 'include' advances them
            // all. 'exclude' advances only the scores strictly above v when
            // the tie at v spans the cutoff (a > n), and nobody when fewer
            // than n scores are real (pandas sorts NaN last, and
            // `scores >= NaN` advances nobody). Null and NaN scores are
            // unranked and never advance. Comparing with the literal v
            // keeps later cohorts row-local.
            val inTop = col(Ranks.Rank) <= lit(topN)
            val cut = ranks.agg(coalesce(sum(when(inTop, col(Ranks.Count))), lit(0L)),
              min(when(inTop, col(Ranks.Score)))).head()
            val atOrAbove = cut.getLong(0)
            val exclude = tie == TieMode.Exclude
            val advanced =
              if (atOrAbove == 0 || (exclude && atOrAbove < topN)) lit(false)
              else {
                val v = lit(cut.getDouble(1))
                (if (exclude && atOrAbove > topN) score > v else score >= v) && !isnan(score)
              }
            (advanced, coalesce(!advanced, lit(true)))

          case _ => (lit(true), lit(false))
        }

        // The stage's single-stage result over its cohort, laid out as
        // Evaluator.evaluate lays it out; input columns only for the rows
        // it advanced and eliminated.
        val inputs = inputCols.map(col)
        val internal = frame.columns.diff(inputCols)
        val stageDf = Evaluator.detailProjection(
            Ranks.joinRank(frame.filter(alive), scoreName, ranks, rankName), details, includeDetails)
          .withColumn("final_score", score)
          .drop("ranking").withColumn("ranking", col(rankName))
          .drop(internal :+ rankName: _*)
        stageResults += StageResult(stage.name, stageDf,
          frame.filter(alive && advanced).select(inputs: _*),
          frame.filter(alive && eliminated).select(inputs: _*))
        rankTables += ((scoreName, ranks, rankName))

        // Stage outputs renamed with the stage prefix (staged.py:322-333):
        // score_X -> {safe}_X (input columns named score_X too),
        // final_score -> {safe}_score, ranking -> {safe}_ranking. Names can
        // collide (a criterion named 'score' gives {safe}_score twice, two
        // stages can share a prefix): pandas assigns sequentially, so the
        // last writer wins while a stage's column keeps its first position
        // and a later stage's columns move to the end.
        val detailValues = if (includeDetails) details.toMap else Map.empty[String, Column]
        val renamed = stageDf.columns.toSeq.collect {
          case c if c.startsWith("score_") =>
            s"${safe}_${c.stripPrefix("score_")}" -> detailValues.getOrElse(c, when(alive, col(c)))
          case "final_score" => s"${safe}_score" -> score
          case "ranking"     => s"${safe}_ranking" -> col(rankName)
        }
        val names = renamed.map(_._1).distinct
        layout = layout.filterNot(names.contains) ++ names
        values = values ++ renamed

        if (filterOpt.isDefined) {
          val markerName = s"__graft_e$i"
          frame = frame.withColumn(markerName,
            StagedEvaluator.markEliminated(marker, stage.name, eliminated))
          marker = col(markerName)
        }
      }
    }

    // The P7/P8 final score (staged.py:415-453) over the stage scores the
    // output holds (a `{safe}_score` value is always row-local), and P9:
    // survivors only are ranked (staged.py:357-365); eliminated keep null.
    val finalScore = StagedEvaluator.finalScore(finalScoreMode, stages.toSeq.map { s =>
      val c = s"${safeName(s.name)}_score"
      s -> Option.when(layout.contains(c))(values(c))
    })
    frame = frame.withColumn("__graft_fs", finalScore)
      .withColumn("__graft_final", when(marker.isNull, col("__graft_fs")))
    rankTables += (("__graft_final", Ranks.rankTable(frame, "__graft_final",
      scalable = lastActiveCount > rangeThreshold), "__graft_final_rank"))

    // The output: every rank table joined once, then one projection in
    // pandas column order; `final_score` keeps an input column's position,
    // `ranking` moves to the end.
    val body = layout.filterNot(_ == "ranking").map {
      case "final_score" => col("__graft_fs").as("final_score")
      case n             => values.getOrElse(n, marker).as(n)
    }
    val ranked = rankTables
      .foldLeft(frame) { case (out, (score, table, rank)) => Ranks.joinRank(out, score, table, rank) }
      .select((if (layout.contains("final_score")) body
        else body :+ col("__graft_fs").as("final_score")) :+ col("__graft_final_rank").as("ranking"): _*)

    // P10: final sort (staged.py:367-372). nanvl maps NaN final scores to
    // null so they sort LAST like pandas na_position='last' (raw Spark desc
    // would put NaN above every real score).
    val sorted = ranked.orderBy(col("ranking").asc_nulls_last,
      nanvl(col("final_score"), lit(null).cast("double")).desc_nulls_last)

    val res = StagedResult(sorted, stageResults.toList, statsOut.toMap)
    lastResult = Some(res)
    res
  }

  /** P15: per-stage statistics, post-evaluate only
    * (`staged.py:498-505`, must-raise contract tested at
    * `tests/test_staged.py:491-497`). Prefer reading
    * [[StagedResult.statistics]] off the result object. */
  def getStatistics: Map[String, Map[String, Stats]] =
    lastResult.getOrElse(throw new IllegalStateException(
      "Call evaluate() before get_statistics().")).statistics

  /** P15: stage results, post-evaluate only (`staged.py:507-511`). */
  def getStageResults: List[StageResult] =
    lastResult.getOrElse(throw new IllegalStateException(
      "Call evaluate() before get_stage_results().")).stageResults

  // === Informational (staged.py:469-496) ===

  def summary(spark: SparkSession): DataFrame = {
    val rows = stages.toSeq.flatMap { stage =>
      val filterDesc = stage.filter match {
        case Some(StageFilter.ScoreThreshold(t)) => s"score >= $t"
        case Some(StageFilter.TopN(tn, tie))     => s"top $tn (on_tie=${tie.key})"
        case None                                => "None"
      }
      stage.evaluator.criteria.map { case (column, c) =>
        (stage.name, stage.weight, filterDesc, column, c.name, c.typeName, c.weight)
      }
    }
    spark.createDataFrame(rows).toDF(
      "stage", "stage_weight", "filter", "column",
      "criterion_name", "criterion_type", "criterion_weight")
  }
}
