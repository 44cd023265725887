package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.model.{FinalScoreMode, StageFilter}

/** Port of `/root/reference/tests/test_staged.py` (FIXTURES.md F2/F3):
  * same literal fixtures, same expectations. */
class StagedEvaluatorSpec extends SparkSpec {

  import spark.implicits._

  /** F2 fixture (`tests/test_staged.py:17-26`). */
  def bids5: DataFrame =
    Seq(
      ("A", 10L, 80L, 100000L, 30L),
      ("B", 5L, 60L, 95000L, 45L),
      ("C", 8L, 90L, 110000L, 25L),
      ("D", 3L, 50L, 90000L, 60L),
      ("E", 7L, 70L, 105000L, 35L)
    ).toDF("vendor", "experience", "quality_score", "bid_amount", "delivery_days")

  def bids3: DataFrame =
    Seq(
      ("A", 10L, 85L, 100000L),
      ("B", 5L, 90L, 95000L),
      ("C", 8L, 75L, 110000L)
    ).toDF("vendor", "experience", "methodology", "bid_amount")

  /** F3 tie fixture (`tests/test_staged.py:317-353`). */
  def tieBids: DataFrame =
    Seq(
      ("A", 90L, 100L),
      ("B", 80L, 200L),
      ("C", 80L, 150L),
      ("D", 70L, 120L)
    ).toDF("vendor", "score", "price")

  def survivors(df: DataFrame): Seq[String] =
    rows(df.filter(df("eliminated_at_stage").isNull)).map(_.getAs[String]("vendor"))

  def eliminated(df: DataFrame): Seq[String] =
    rows(df.filter(df("eliminated_at_stage").isNotNull)).map(_.getAs[String]("vendor"))

  test("two-stage threshold filter (test_staged.py:43-67)") {
    val result = new StagedEvaluator()
      .addStage("Technical", filterType = "score_threshold", threshold = 60.0)
      .linear("experience", 0.4, higherIsBetter = true)
      .direct("quality_score", 0.6)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)

    Seq("technical_score", "economic_score", "eliminated_at_stage",
      "final_score", "ranking").foreach(c => assert(result.columns.contains(c)))

    val elim = rows(result.filter(result("eliminated_at_stage").isNotNull))
    assert(elim.forall(_.isNullAt(elim.head.fieldIndex("ranking"))))
    val surv = rows(result.filter(result("eliminated_at_stage").isNull))
    assert(surv.nonEmpty)
    assert(surv.forall(r => !r.isNullAt(r.fieldIndex("ranking")) &&
      r.getAs[Long]("ranking") >= 1))
  }

  test("two-stage top_n filter (test_staged.py:69-84)") {
    val result = new StagedEvaluator()
      .addStage("Technical", filterType = "top_n", topN = 3)
      .direct("quality_score", 1.0)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)

    assert(survivors(result).toSet == Set("C", "A", "E"))
    assert(eliminated(result).toSet == Set("B", "D"))
  }

  test("three stages progressive filtering (test_staged.py:86-102)") {
    val result = new StagedEvaluator()
      .addStage("Screening", filterType = "score_threshold", threshold = 50.0)
      .direct("quality_score", 1.0)
      .addStage("Technical", filterType = "top_n", topN = 3)
      .linear("experience", 1.0, higherIsBetter = true)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)

    Seq("screening_score", "technical_score", "economic_score")
      .foreach(c => assert(result.columns.contains(c)))
    assert(survivors(result).size <= 3)
  }

  test("weighted combination blend (test_staged.py:104-119)") {
    val result = new StagedEvaluator(FinalScoreMode.WeightedCombination)
      .addStage("Technical", filterType = "score_threshold", threshold = 50.0, weight = 0.6)
      .direct("quality_score", 1.0)
      .addStage("Economic", weight = 0.4)
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)

    rows(result.filter(result("eliminated_at_stage").isNull)).foreach { r =>
      val tech = r.getAs[Double]("technical_score")
      val econ = r.getAs[Double]("economic_score")
      assertNear(r.getAs[Double]("final_score"), tech * 0.6 + econ * 0.4, 1e-9)
    }
  }

  test("single stage ranking equals plain Evaluator (test_staged.py:121-145)") {
    val staged = new StagedEvaluator()
      .addStage("Only")
      .linear("experience", 0.3, higherIsBetter = true)
      .direct("methodology", 0.3)
      .minRatio("bid_amount", 0.4)
      .evaluate(bids3)
    val plain = new Evaluator()
      .linear("experience", 0.3, higherIsBetter = true)
      .direct("methodology", 0.3)
      .minRatio("bid_amount", 0.4)
      .evaluate(bids3)

    val sr = byKey(staged, "vendor").view.mapValues(_.getAs[Long]("ranking")).toMap
    val pr = byKey(plain, "vendor").view.mapValues(_.getAs[Long]("ranking")).toMap
    assert(sr == pr)
  }

  test("no filter means all advance (test_staged.py:147-157)") {
    val result = new StagedEvaluator()
      .addStage("Technical")
      .direct("quality_score", 1.0)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)
    assert(eliminated(result).isEmpty)
    assert(rows(result).forall(r => !r.isNullAt(r.fieldIndex("ranking"))))
  }

  test("from_config (test_staged.py:163-185)") {
    val config = Map(
      "stages" -> List(
        Map(
          "name" -> "Technical",
          "filter" -> Map("type" -> "score_threshold", "threshold" -> 60),
          "criteria" -> Map(
            "experience" -> Map("type" -> "linear", "weight" -> 0.4, "higher_is_better" -> true),
            "quality_score" -> Map("type" -> "direct", "weight" -> 0.6))),
        Map(
          "name" -> "Economic",
          "criteria" -> Map("bid_amount" -> Map("type" -> "min_ratio", "weight" -> 1.0)))))
    val result = StagedEvaluator.fromConfig(config).evaluate(bids5)
    assert(result.columns.contains("technical_score"))
    assert(result.columns.contains("economic_score"))
  }

  test("from_yaml / from_json files (test_staged.py:187-236)") {
    val yamlText =
      """stages:
        |  - name: Technical
        |    filter: {type: top_n, top_n: 3}
        |    criteria:
        |      quality_score: {type: direct, weight: 1.0}
        |  - name: Economic
        |    criteria:
        |      bid_amount: {type: min_ratio, weight: 1.0}
        |""".stripMargin
    val yamlPath = java.nio.file.Paths.get(tempDir("staged"), "staged.yaml")
    Files.writeString(yamlPath, yamlText)
    val result = StagedEvaluator.fromYaml(yamlPath.toString).evaluate(bids5)
    assert(survivors(result).size == 3)

    val jsonText =
      """{"stages": [
        |  {"name": "Technical",
        |   "filter": {"type": "score_threshold", "threshold": 70},
        |   "criteria": {"quality_score": {"type": "direct", "weight": 1.0}}},
        |  {"name": "Economic",
        |   "criteria": {"bid_amount": {"type": "min_ratio", "weight": 1.0}}}
        |]}""".stripMargin
    val jsonPath = java.nio.file.Paths.get(tempDir("staged"), "staged.json")
    Files.writeString(jsonPath, jsonText)
    val jres = StagedEvaluator.fromJson(jsonPath.toString).evaluate(bids5)
    assert(jres.columns.contains("eliminated_at_stage"))
  }

  test("config == fluent equivalence (test_staged.py:238-269)") {
    val config = Map(
      "stages" -> List(
        Map("name" -> "Technical",
          "filter" -> Map("type" -> "score_threshold", "threshold" -> 60),
          "criteria" -> Map("quality_score" -> Map("type" -> "direct", "weight" -> 1.0))),
        Map("name" -> "Economic",
          "criteria" -> Map("bid_amount" -> Map("type" -> "min_ratio", "weight" -> 1.0)))))
    val cfg = StagedEvaluator.fromConfig(config).evaluate(bids5)
    val fluent = new StagedEvaluator()
      .addStage("Technical", filterType = "score_threshold", threshold = 60.0)
      .direct("quality_score", 1.0)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)

    def ranks(df: DataFrame) = byKey(df, "vendor").view
      .mapValues(r => Option(r.getAs[Any]("ranking"))).toMap
    assert(ranks(cfg) == ranks(fluent))
  }

  test("weighted combination via config (test_staged.py:271-294)") {
    val config = Map(
      "final_score_mode" -> "weighted_combination",
      "stages" -> List(
        Map("name" -> "Technical", "weight" -> 0.7,
          "filter" -> Map("type" -> "score_threshold", "threshold" -> 50),
          "criteria" -> Map("quality_score" -> Map("type" -> "direct", "weight" -> 1.0))),
        Map("name" -> "Economic", "weight" -> 0.3,
          "criteria" -> Map("bid_amount" -> Map("type" -> "min_ratio", "weight" -> 1.0)))))
    val result = StagedEvaluator.fromConfig(config).evaluate(bids5)
    assert(rows(result).exists(r => !r.isNullAt(r.fieldIndex("final_score"))))
  }

  test("all eliminated short-circuits later stages (test_staged.py:300-315)") {
    val result = new StagedEvaluator()
      .addStage("Technical", filterType = "score_threshold", threshold = 99999.0)
      .direct("quality_score", 1.0)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)

    assert(rows(result).forall(_.getAs[String]("eliminated_at_stage") != null))
    assert(rows(result).forall(r => r.isNullAt(r.fieldIndex("ranking"))))
    // Economic stage never ran: no economic_score column
    assert(!result.columns.contains("economic_score"))
  }

  test("top_n ties include (test_staged.py:317-334)") {
    val result = new StagedEvaluator()
      .addStage("Round1", filterType = "top_n", topN = 2, onTie = "include")
      .direct("score", 1.0)
      .addStage("Round2")
      .minRatio("price", 1.0)
      .evaluate(tieBids)
    assert(survivors(result).toSet == Set("A", "B", "C"))
  }

  test("top_n ties exclude (test_staged.py:336-353)") {
    val result = new StagedEvaluator()
      .addStage("Round1", filterType = "top_n", topN = 2, onTie = "exclude")
      .direct("score", 1.0)
      .addStage("Round2")
      .minRatio("price", 1.0)
      .evaluate(tieBids)
    assert(survivors(result) == Seq("A"))
  }

  test("empty input (test_staged.py:355-368)") {
    val result = new StagedEvaluator()
      .addStage("Technical", filterType = "score_threshold", threshold = 60.0)
      .direct("quality_score", 1.0)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5.limit(0))
    assert(result.count() == 0)
    Seq("eliminated_at_stage", "final_score", "ranking")
      .foreach(c => assert(result.columns.contains(c)))
  }

  test("eliminated have null ranking and null later-stage scores (test_staged.py:370-392)") {
    val result = new StagedEvaluator()
      .addStage("Technical", filterType = "top_n", topN = 2)
      .direct("quality_score", 1.0)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)
    val elim = rows(result.filter(result("eliminated_at_stage").isNotNull))
    assert(elim.size == 3)
    assert(elim.forall(r => r.isNullAt(r.fieldIndex("ranking"))))
    assert(elim.forall(r => r.isNullAt(r.fieldIndex("economic_score"))))
  }

  test("output columns present (test_staged.py:394-410)") {
    val result = new StagedEvaluator()
      .addStage("Technical", filterType = "score_threshold", threshold = 60.0)
      .linear("experience", 0.4, higherIsBetter = true)
      .direct("quality_score", 0.6)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)
    Seq("technical_score", "technical_ranking", "economic_score",
      "economic_ranking", "eliminated_at_stage", "final_score", "ranking")
      .foreach(c => assert(result.columns.contains(c), s"Missing column: $c"))
  }

  test("detail columns with stage prefix (test_staged.py:412-424)") {
    val result = new StagedEvaluator()
      .addStage("Technical")
      .linear("experience", 0.4, higherIsBetter = true)
      .direct("quality_score", 0.6)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5, includeDetails = true)
    Seq("technical_experience", "technical_quality_score", "economic_bid_amount")
      .foreach(c => assert(result.columns.contains(c)))
  }

  test("include_details=false (test_staged.py:426-437)") {
    val result = new StagedEvaluator()
      .addStage("Technical")
      .linear("experience", 0.4, higherIsBetter = true)
      .direct("quality_score", 0.6)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5, includeDetails = false)
    assert(!result.columns.contains("technical_experience"))
    assert(result.columns.contains("technical_score"))
  }

  test("error contracts (test_staged.py:439-457)") {
    intercept[RuntimeException] { new StagedEvaluator().evaluate(bids5) }
    intercept[RuntimeException] { new StagedEvaluator().linear("x", 1.0) }
    intercept[IllegalArgumentException] {
      StageFilter("invalid", None, None, "include")
    }
    intercept[IllegalArgumentException] { new StagedEvaluator("invalid") }
    intercept[IllegalArgumentException] {
      StageFilter("score_threshold", None, None, "include")
    }
    intercept[IllegalArgumentException] {
      StageFilter("top_n", None, None, "include")
    }
    intercept[IllegalArgumentException] {
      StageFilter("top_n", None, Some(2), "bogus")
    }
  }

  test("summary (test_staged.py:463-476)") {
    val staged = new StagedEvaluator()
      .addStage("Technical", filterType = "score_threshold", threshold = 60.0)
      .linear("experience", 0.4, higherIsBetter = true)
      .direct("quality_score", 0.6)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
    val s = rows(staged.summary(spark))
    assert(s.size == 3)
    assert(s.map(_.getAs[String]("stage")).toSet == Set("Technical", "Economic"))
    assert(s.head.getAs[String]("filter") == "score >= 60.0")
  }

  test("get_statistics / get_stage_results contracts (test_staged.py:478-521)") {
    val staged = new StagedEvaluator()
      .addStage("Technical", filterType = "top_n", topN = 3)
      .direct("quality_score", 1.0)
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)

    intercept[IllegalStateException] { staged.getStatistics }
    intercept[IllegalStateException] { staged.getStageResults }

    staged.evaluate(bids5)
    val stats = staged.getStatistics
    assert(stats.contains("Technical") && stats.contains("Economic"))
    // Economic stage stats computed over the 3 survivors only
    assert(stats("Economic")("bid_amount").max == 110000.0)
    assert(stats("Economic")("bid_amount").min == 100000.0) // B(95k), D(90k) eliminated

    val srs = staged.getStageResults
    assert(srs.size == 2)
    assert(srs.head.name == "Technical")
    assert(srs.head.advancedIds.count() == 3)
    assert(srs.head.eliminatedIds.count() == 2)
  }

  test("formula criteria inside stages (test_staged.py:527-571)") {
    val r1 = new StagedEvaluator()
      .addStage("Technical", filterType = "score_threshold", threshold = 50.0)
      .formula("quality_score", 1.0, formula = "value")
      .addStage("Economic")
      .minRatio("bid_amount", 1.0)
      .evaluate(bids5)
    assert(r1.columns.contains("technical_score"))
    assert(r1.columns.contains("economic_score"))
    assert(survivors(r1).nonEmpty)

    val r2 = new StagedEvaluator()
      .addStage("Economic")
      .formula("bid_amount", 1.0,
        formula = "100 - abs(value - target) / target * 100",
        variables = Map("target" -> 100000.0))
      .evaluate(bids5)
    assert(r2.columns.contains("economic_score"))
    assert(rows(r2).forall(r => !r.isNullAt(r.fieldIndex("final_score"))))

    val config = Map(
      "stages" -> List(
        Map("name" -> "Scoring",
          "criteria" -> Map("quality_score" ->
            Map("type" -> "formula", "weight" -> 1.0, "formula" -> "value")))))
    val r3 = StagedEvaluator.fromConfig(config).evaluate(bids5)
    assert(r3.columns.contains("scoring_score"))
    assert(rows(r3).forall(r => !r.isNullAt(r.fieldIndex("ranking"))))
  }

  test("exact duplicate rows keep one row each, tie, and advance or fall together") {
    // pandas keeps each duplicate under its own index label: both rows are
    // scored, share the competition rank, and sit on the same side of a
    // top_n 'exclude' cutoff (staged.py:394-409)
    val dups = Seq(("A", 90L, 100L), ("B", 80L, 200L), ("B", 80L, 200L),
      ("C", 70L, 150L), ("D", 60L, 120L), ("D", 60L, 120L))
      .toDF("vendor", "score", "price")
    def run(n: Int): Seq[(String, Option[String], Long, Option[Long])] =
      rows(new StagedEvaluator()
        .addStage("Round1", filterType = "top_n", topN = n, onTie = "exclude")
        .direct("score", 1.0)
        .addStage("Round2")
        .minRatio("price", 1.0)
        .evaluate(dups))
        .map(r => (r.getAs[String]("vendor"),
          Option(r.getAs[String]("eliminated_at_stage")),
          r.getAs[Long]("round1_ranking"),
          Option(r.getAs[Any]("ranking")).map(_.asInstanceOf[Long])))
        .sortBy(t => (t._1, t._3))

    // n=2: cutoff 80 is held by three rows > 2, so only the strictly
    // higher A advances; both B rows fall with the tie
    assert(run(2) == Seq(
      ("A", None, 1L, Some(1L)),
      ("B", Some("Round1"), 2L, None), ("B", Some("Round1"), 2L, None),
      ("C", Some("Round1"), 4L, None),
      ("D", Some("Round1"), 5L, None), ("D", Some("Round1"), 5L, None)))
    // n=3: exactly three rows at or above the cutoff, so both B rows
    // advance and tie again in the final ranking (price 200 vs A's 100)
    assert(run(3) == Seq(
      ("A", None, 1L, Some(1L)),
      ("B", None, 2L, Some(2L)), ("B", None, 2L, Some(2L)),
      ("C", Some("Round1"), 4L, None),
      ("D", Some("Round1"), 5L, None), ("D", Some("Round1"), 5L, None)))
  }
}
