package graft.config

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.yaml.snakeyaml.Yaml

import graft.{Evaluator, StagedEvaluator}
import graft.criteria._
import graft.model.StageFilter

/** Config-driven construction — operators E6/E7 (single-stage,
  * `/root/reference/bid_evaluation/evaluator.py:34-112`) and P13 (staged,
  * `staged.py:86-159`).
  *
  * Configs are plain JSON/YAML scalar trees; parsing goes through the
  * jackson / snakeyaml jars that ship with Spark, then a single
  * dict-dispatch path shared by both formats, mirroring the reference's
  * `from_config` (equivalence with the fluent API is a tested invariant,
  * `tests/test_staged.py:238-269`).
  */
object ConfigLoader {

  // ------------------------------------------------------- parsing helpers

  /** jackson/snakeyaml produce java.util collections; normalize to Scala.
    * Maps become ListMap: jackson/snakeyaml parse into LinkedHashMaps, and
    * criterion REGISTRATION ORDER is part of the engine's contract (score
    * column order, sequential final-score sum, last-wins duplicate names) —
    * a plain .toMap hash-reorders any config with 5+ entries and silently
    * breaks config-vs-fluent equivalence. */
  private[config] def normalize(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      // iterate the entry set directly: mapping the asScala Map WRAPPER
      // rebuilds a hash map and re-loses the order before ListMap sees it
      scala.collection.immutable.ListMap.from(
        m.entrySet().asScala.iterator
          .map(e => e.getKey.toString -> normalize(e.getValue)))
    case l: java.util.List[_] => l.asScala.map(normalize).toList
    case other                => other
  }

  def parseJson(text: String): Map[String, Any] =
    normalize(new ObjectMapper().readValue(text, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  def parseYaml(text: String): Map[String, Any] = {
    // an empty / comments-only document parses to null
    val parsed = new Yaml().load[java.util.Map[String, Any]](text)
    if (parsed == null) Map.empty
    else normalize(parsed).asInstanceOf[Map[String, Any]]
  }

  private def readFile(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  private[config] def asDouble(v: Any): Double = v match {
    case n: Number  => n.doubleValue()
    case b: Boolean => if (b) 1.0 else 0.0
    case s: String  => s.toDouble
    case other =>
      throw new IllegalArgumentException(s"Expected a number, got: $other")
  }

  private[config] def asInt(v: Any): Int = v match {
    case n: Number => n.intValue()
    case s: String => s.toInt
    case other =>
      throw new IllegalArgumentException(s"Expected an int, got: $other")
  }

  // --------------------------------------------- single-stage (E6, E7)

  /** Dict -> criterion dispatch (`evaluator.py:53-74`). `custom` is NOT
    * config-constructible, matching the reference
    * (`/root/reference/examples/example_config.py:2`). */
  def criterionFromParams(
      column: String,
      params: Map[String, Any]
  ): Criterion = {
    val criterionType = params.getOrElse("type",
      throw new IllegalArgumentException(s"Criterion for '$column' missing 'type'"))
    val weight = asDouble(params.getOrElse("weight",
      throw new IllegalArgumentException(s"Criterion for '$column' missing 'weight'")))
    val name = params.get("name").map(_.toString).getOrElse(column)

    criterionType match {
      case "linear" =>
        LinearCriterion(name, weight,
          params.get("higher_is_better").forall(_.asInstanceOf[Boolean]))
      case "threshold" =>
        val bands = params.getOrElse("thresholds", List.empty).asInstanceOf[List[Any]]
          .map {
            case t: List[_] if t.size == 3 =>
              (asDouble(t(0)), asDouble(t(1)), asDouble(t(2)))
            case other =>
              throw new IllegalArgumentException(
                s"threshold band must be [lower, upper, score], got: $other")
          }
        ThresholdCriterion(name, weight, bands)
      case "direct" =>
        DirectScoreCriterion(name, weight,
          inputScale = params.get("input_scale").map(asDouble).getOrElse(100.0),
          outputScale = params.get("output_scale").map(asDouble).getOrElse(100.0))
      case "min_ratio" =>
        MinimumRatioCriterion(name, weight)
      case "formula" =>
        FormulaCriterion(name, weight,
          formula = params.get("formula").map(_.toString).getOrElse("value"),
          variables = params.get("variables")
            .map(_.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> asDouble(v) })
            .getOrElse(Map.empty))
      case other =>
        throw new IllegalArgumentException(s"Unknown criterion type: $other")
    }
  }

  def evaluatorFromConfig(
      config: Map[String, Any],
      normalizeWeights: Boolean = true
  ): Evaluator = {
    val ev = new Evaluator(normalizeWeights)
    config.foreach { case (column, params) =>
      ev.addCriterion(column,
        criterionFromParams(column, params.asInstanceOf[Map[String, Any]]))
    }
    ev
  }

  /** Top-level key `criteria` (`evaluator.py:78-112`). */
  def evaluatorFromYaml(path: String, normalizeWeights: Boolean = true): Evaluator =
    evaluatorFromConfig(
      parseYaml(readFile(path)).getOrElse("criteria", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]],
      normalizeWeights)

  def evaluatorFromJson(path: String, normalizeWeights: Boolean = true): Evaluator =
    evaluatorFromConfig(
      parseJson(readFile(path)).getOrElse("criteria", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]],
      normalizeWeights)

  // ------------------------------------------------------- staged (P13)

  def stagedFromConfig(config: Map[String, Any]): StagedEvaluator = {
    val mode = config.get("final_score_mode").map(_.toString).getOrElse("last_stage")
    val staged = new StagedEvaluator(mode)

    config.getOrElse("stages", List.empty).asInstanceOf[List[Any]].foreach { raw =>
      val stageCfg = raw.asInstanceOf[Map[String, Any]]
      val name = stageCfg.getOrElse("name",
        throw new IllegalArgumentException("Stage config missing 'name'")).toString
      val weight = stageCfg.get("weight").map(asDouble).getOrElse(1.0)

      val filter = stageCfg.get("filter").map { f =>
        val fm = f.asInstanceOf[Map[String, Any]]
        StageFilter(
          fm.getOrElse("type",
            throw new IllegalArgumentException("Filter config missing 'type'")).toString,
          fm.get("threshold").map(asDouble),
          fm.get("top_n").map(asInt),
          fm.get("on_tie").map(_.toString).getOrElse("include"))
      }

      staged.addStage(name, filter, weight)
      val criteria = stageCfg.getOrElse("criteria", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]]
      criteria.foreach { case (column, params) =>
        staged.stageDefinitions.last.evaluator.addCriterion(column,
          criterionFromParams(column, params.asInstanceOf[Map[String, Any]]))
      }
    }
    staged
  }

  def stagedFromYaml(path: String): StagedEvaluator =
    stagedFromConfig(parseYaml(readFile(path)))

  def stagedFromJson(path: String): StagedEvaluator =
    stagedFromConfig(parseJson(readFile(path)))

  // -------------------------------------------- export (config round-trip)

  /** Criterion -> config dict. Custom criteria are not config-expressible
    * (same asymmetry as the reference, where the demo UI persists template
    * name + params separately). */
  def criterionToParams(c: Criterion): Map[String, Any] = c match {
    case LinearCriterion(name, w, hib) =>
      Map("type" -> "linear", "weight" -> w, "name" -> name, "higher_is_better" -> hib)
    case ThresholdCriterion(name, w, bands) =>
      Map("type" -> "threshold", "weight" -> w, "name" -> name,
        "thresholds" -> bands.map { case (lo, hi, s) => List(lo, hi, s) }.toList)
    case DirectScoreCriterion(name, w, in, out) =>
      Map("type" -> "direct", "weight" -> w, "name" -> name,
        "input_scale" -> in, "output_scale" -> out)
    case MinimumRatioCriterion(name, w) =>
      Map("type" -> "min_ratio", "weight" -> w, "name" -> name)
    case FormulaCriterion(name, w, formula, variables) =>
      Map("type" -> "formula", "weight" -> w, "name" -> name,
        "formula" -> formula, "variables" -> variables)
    case _: CustomCriterion =>
      throw new IllegalArgumentException(
        "Custom criteria cannot be serialized to config")
  }

  /** Exports use ListMap: criterion registration order is part of the
    * engine contract (score-column order, sequential final-score FP sum,
    * last-wins duplicate names — see [[normalize]]), so a hash-reordering
    * .toMap would make export→import round-trips silently change results
    * once a config has 5+ criteria. */
  def evaluatorToConfig(ev: Evaluator): Map[String, Any] =
    Map("criteria" -> scala.collection.immutable.ListMap.from(
      ev.criteria.map { case (col, c) => col -> criterionToParams(c) }))

  def stagedToConfig(staged: StagedEvaluator): Map[String, Any] =
    Map(
      "final_score_mode" -> staged.finalScoreMode.key,
      "stages" -> staged.stageDefinitions.map { s =>
        Map(
          "name" -> s.name,
          "weight" -> s.weight,
          "criteria" -> scala.collection.immutable.ListMap.from(
            s.evaluator.criteria.map { case (col, c) => col -> criterionToParams(c) })
        ) ++ s.filter.map {
          case StageFilter.ScoreThreshold(t) =>
            "filter" -> Map("type" -> "score_threshold", "threshold" -> t)
          case StageFilter.TopN(n, tie) =>
            "filter" -> Map("type" -> "top_n", "top_n" -> n, "on_tie" -> tie.key)
        }
      }.toList
    )

  private def toJavaDeep(v: Any): Any = v match {
    case m: Map[_, _] =>
      val jm = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, value) => jm.put(k.toString, toJavaDeep(value)) }
      jm
    case l: Seq[_] => l.map(toJavaDeep).asJava
    case other     => other
  }

  def toJsonString(config: Map[String, Any]): String =
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValueAsString(toJavaDeep(config))

  def toYamlString(config: Map[String, Any]): String =
    new Yaml().dump(toJavaDeep(config))
}
