package perfbench

import graft.{Evaluator, StagedEvaluator}

/** The criteria a workload registers, and a plain-Scala scorer for each.
  *
  * The scorers are written from the engine's documented semantics, not
  * from its code, and perform the same floating-point operations in the
  * same order as the engine's Catalyst expressions. On whole-number inputs
  * the statistics are exact too, so the reference reproduces every score
  * bit for bit and every rank exactly.
  */
object Reference {

  /** Cohort statistics the scorers use. `sum` is exact on whole numbers,
    * so `mean` equals the engine's `avg`. */
  final case class ColStats(min: Double, max: Double, mean: Double)

  object ColStats {
    def of(values: Array[Double], rows: Array[Int]): ColStats = {
      var lo = Double.PositiveInfinity
      var hi = Double.NegativeInfinity
      var sum = 0.0
      rows.foreach { r =>
        val v = values(r)
        if (v < lo) lo = v
        if (v > hi) hi = v
        sum += v
      }
      ColStats(lo, hi, sum / rows.length.toDouble)
    }
  }

  sealed trait Crit {
    def column: String
    def weight: Double
    def addTo(ev: Evaluator): Unit
    def addTo(st: StagedEvaluator): Unit
    /** Weighted score of one value. */
    def score(v: Double, s: ColStats): Double
    def withWeight(w: Double): Crit
  }

  /** `linear`: min-max normalization to 0-100. */
  final case class Linear(column: String, weight: Double, higherIsBetter: Boolean) extends Crit {
    def addTo(ev: Evaluator): Unit = ev.linear(column, weight, higherIsBetter = higherIsBetter)
    def addTo(st: StagedEvaluator): Unit = st.linear(column, weight, higherIsBetter = higherIsBetter)
    def score(v: Double, s: ColStats): Double = {
      val base =
        if (higherIsBetter) {
          if (s.max == s.min) 100.0 else (v - s.min) / (s.max - s.min) * 100.0
        } else {
          val negMin = -s.max
          val negMax = -s.min
          if (negMax == negMin) 100.0 else (-v - negMin) / (negMax - negMin) * 100.0
        }
      base * weight
    }
    def withWeight(w: Double): Crit = copy(weight = w)
  }

  /** `threshold`: banded score; the later band wins on overlap. */
  final case class Bands(column: String, weight: Double, bands: Seq[(Double, Double, Double)])
      extends Crit {
    def addTo(ev: Evaluator): Unit = ev.threshold(column, weight, bands)
    def addTo(st: StagedEvaluator): Unit = st.threshold(column, weight, bands)
    def score(v: Double, s: ColStats): Double = {
      var out = 0.0
      bands.foreach { case (lo, hi, sc) => if (v >= lo && v < hi) out = sc }
      out * weight
    }
    def withWeight(w: Double): Crit = copy(weight = w)
  }

  /** `direct`: the value is already a 0-100 score. */
  final case class Direct(column: String, weight: Double) extends Crit {
    def addTo(ev: Evaluator): Unit = ev.direct(column, weight)
    def addTo(st: StagedEvaluator): Unit = st.direct(column, weight)
    def score(v: Double, s: ColStats): Double = v * weight
    def withWeight(w: Double): Crit = copy(weight = w)
  }

  /** `min_ratio`: `min / value * 100`. */
  final case class MinRatio(column: String, weight: Double) extends Crit {
    def addTo(ev: Evaluator): Unit = ev.minRatio(column, weight)
    def addTo(st: StagedEvaluator): Unit = st.minRatio(column, weight)
    def score(v: Double, s: ColStats): Double = {
      val ratio = if (v == 0.0) s.min / 0.0 else s.min / v
      ratio * 100.0 * weight
    }
    def withWeight(w: Double): Crit = copy(weight = w)
  }

  /** `formula` with variables: `min(value / target, cap) * scale`, clipped
    * to [0, 100]. */
  final case class Capped(column: String, weight: Double, target: Double, cap: Double,
      scale: Double) extends Crit {
    private val text = "min(value / target, cap) * scale"
    private val vars = Map("target" -> target, "cap" -> cap, "scale" -> scale)
    def addTo(ev: Evaluator): Unit = ev.formula(column, weight, text, vars)
    def addTo(st: StagedEvaluator): Unit = st.formula(column, weight, text, vars)
    def score(v: Double, s: ColStats): Double = {
      val raw = math.min(v / target, cap) * scale
      val clipped = if (raw < 0.0) 0.0 else if (raw > 100.0) 100.0 else raw
      clipped * weight
    }
    def withWeight(w: Double): Crit = copy(weight = w)
  }

  /** The built-in custom function `proximity_to_mean`. */
  final case class NearMean(column: String, weight: Double) extends Crit {
    def addTo(ev: Evaluator): Unit = ev.custom(column, weight, "proximity_to_mean")
    def addTo(st: StagedEvaluator): Unit = st.custom(column, weight, "proximity_to_mean")
    def score(v: Double, s: ColStats): Double = {
      val t = 100.0 - math.abs((v - s.mean) / s.mean) * 100.0
      (if (t < 0.0) 0.0 else t) * weight
    }
    def withWeight(w: Double): Crit = copy(weight = w)
  }

  /** Columnar input: column name -> values indexed by row. */
  final class Table(val ids: Array[Long], val cols: Map[String, Array[Double]]) {
    def n: Int = ids.length
  }

  /** One single-stage evaluation of `rows` of `t`: weighted scores per
    * criterion, the final score and the competition rank, all indexed like
    * `rows`. */
  final case class Scored(rows: Array[Int], scores: Seq[Array[Double]],
      finalScore: Array[Double], rank: Array[Long])

  def evaluate(t: Table, rows: Array[Int], crits: Seq[Crit]): Scored = {
    val stats = crits.map(c => c.column).distinct
      .map(c => c -> ColStats.of(t.cols(c), rows)).toMap
    val scores = crits.map { c =>
      val vs = t.cols(c.column)
      val s = stats(c.column)
      rows.map(r => c.score(vs(r), s))
    }
    // the engine sums weights in registration order, starting from 0.0
    val total = crits.foldLeft(0.0)(_ + _.weight)
    val fin = Array.tabulate(rows.length) { i =>
      var acc = scores.head(i)
      scores.tail.foreach(s => acc += s(i))
      if (total > 0) acc / total else 0.0
    }
    Scored(rows, scores, fin, competitionRank(fin))
  }

  /** Standard competition rank, highest score first ("1-2-2-4"). */
  def competitionRank(scores: Array[Double]): Array[Long] = {
    val order = scores.indices.sortBy(i => -scores(i)).toArray
    val out = new Array[Long](scores.length)
    var pos = 0
    while (pos < order.length) {
      var end = pos
      while (end + 1 < order.length && scores(order(end + 1)) == scores(order(pos))) end += 1
      (pos to end).foreach(k => out(order(k)) = pos + 1L)
      pos = end + 1
    }
    out
  }

  /** A stage of a staged evaluation, with its filter. */
  sealed trait Filter
  final case class AtLeast(threshold: Double) extends Filter
  final case class TopNExclude(n: Int) extends Filter
  final case class Stage(name: String, crits: Seq[Crit], filter: Option[Filter], weight: Double)

  /** Outcome per row of the input cohort. */
  final case class StagedRow(
      stageScores: Seq[Option[Double]],
      eliminatedAt: Option[String],
      finalScore: Double,
      rank: Option[Long])

  /** Staged evaluation in weighted-combination mode: each stage scores the
    * rows not yet eliminated, the filter of every stage but the last
    * eliminates rows, the final score is the weight-normalized sum of the
    * stage scores (0 where a row was not scored) and only survivors are
    * ranked. */
  def staged(t: Table, cohort: Array[Int], stages: Seq[Stage]): Map[Long, StagedRow] = {
    val stageScore = Array.fill(stages.size)(scala.collection.mutable.Map.empty[Int, Double])
    val eliminated = scala.collection.mutable.Map.empty[Int, String]
    var active = cohort
    stages.zipWithIndex.foreach { case (st, k) =>
      if (active.nonEmpty) {
        val sc = evaluate(t, active, st.crits)
        active.indices.foreach(i => stageScore(k)(active(i)) = sc.finalScore(i))
        val isLast = k == stages.size - 1
        val advance: Int => Boolean = st.filter.filter(_ => !isLast) match {
          case Some(AtLeast(th)) => i => sc.finalScore(i) >= th
          case Some(TopNExclude(n)) if active.length > n =>
            val cutoff = sc.finalScore.sorted(Ordering.Double.TotalOrdering).reverse(n - 1)
            val atOrAbove = sc.finalScore.count(_ >= cutoff)
            if (atOrAbove > n) i => sc.finalScore(i) > cutoff
            else i => sc.finalScore(i) >= cutoff
          case _ => _ => true
        }
        val keep = active.indices.filter(advance)
        active.indices.filterNot(advance).foreach(i => eliminated(active(i)) = st.name)
        active = keep.map(active(_)).toArray
      }
    }
    val total = stages.map(_.weight).sum
    val fin = cohort.map { r =>
      stages.indices.foldLeft(0.0) { (acc, k) =>
        acc + stageScore(k).getOrElse(r, 0.0) * (stages(k).weight / total)
      }
    }
    val survivors = cohort.indices.filterNot(i => eliminated.contains(cohort(i))).toArray
    val ranks = competitionRank(survivors.map(fin(_)))
    val rankOf = survivors.indices.map(j => survivors(j) -> ranks(j)).toMap
    cohort.indices.map { i =>
      val r = cohort(i)
      t.ids(r) -> StagedRow(
        stages.indices.map(k => stageScore(k).get(r)),
        eliminated.get(r), fin(i), rankOf.get(i))
    }.toMap
  }
}
