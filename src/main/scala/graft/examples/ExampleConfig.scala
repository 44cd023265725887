package graft.examples

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.StagedEvaluator
import graft.config.ConfigLoader

/** Config-driven usage trace: build a staged pipeline from YAML, evaluate,
  * and round-trip the config back out (the reference's
  * `examples/example_config.py` + demo config export surface). Run:
  * {{{ sbt "runMain graft.examples.ExampleConfig" }}}
  */
object ExampleConfig {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-example-config")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val yaml =
      """final_score_mode: weighted_combination
        |stages:
        |  - name: Technical
        |    weight: 0.6
        |    filter: {type: score_threshold, threshold: 40}
        |    criteria:
        |      experience: {type: linear, weight: 0.4, higher_is_better: true}
        |      quality_score: {type: direct, weight: 0.6}
        |  - name: Economic
        |    weight: 0.4
        |    criteria:
        |      bid_amount: {type: min_ratio, weight: 1.0}
        |""".stripMargin
    val path = graft.io.TempDirs.create("staged").resolve("staged.yaml")
    Files.writeString(path, yaml)

    val staged = StagedEvaluator.fromYaml(path.toString)
    val bids = Seq(
      ("A", 10L, 80L, 100000L), ("B", 5L, 60L, 95000L),
      ("C", 8L, 90L, 110000L), ("D", 3L, 50L, 90000L), ("E", 7L, 70L, 105000L)
    ).toDF("vendor", "experience", "quality_score", "bid_amount")

    staged.evaluate(bids)
      .select("vendor", "technical_score", "economic_score",
        "eliminated_at_stage", "final_score", "ranking")
      .show()

    // config round-trip: engine state -> canonical JSON
    println(ConfigLoader.toJsonString(ConfigLoader.stagedToConfig(staged)))

    spark.stop()
  }
}
