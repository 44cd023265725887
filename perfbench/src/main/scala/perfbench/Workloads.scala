package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Evaluator, StagedEvaluator}
import perfbench.Data.Field
import perfbench.Reference._

/** A timed call's outcome: the input rows it scored (result rows for a
  * registry query) and a check to run once the clock has stopped. The
  * check returns a description of the first mismatch, if any. */
final case class Outcome(rows: Long, check: () => Option[String])

/** One benchmark workload. Calls run one at a time from a single client. */
trait Workload {
  def name: String
  /** Calls that make up one pass; `pass_s` is the time of such a group. */
  def passLength: Int = 1
  /** Builds and caches the inputs. */
  def prepare(spark: SparkSession): Unit
  /** Drops the inputs built by [[prepare]]. */
  def release(): Unit
  /** Ids of the RDDs the inputs hold, left out of the leak counter. */
  def inputRdds: Set[Int]
  /** The calls of the warm-up pass. */
  def warmUp(t: Tracer): Seq[Outcome] = Seq(call(-1, t))
  /** Call number `i` (negative numbers are warm-up calls). */
  def call(i: Int, t: Tracer): Outcome
  /** Housekeeping after a call, outside the clock. */
  def after(): Unit = ()
  /** Traced runs only: standalone calls into single layers on call `i`'s
    * own input, outside the clock. `scalableRank` tells which rank path the
    * engine took in that call, so the rank probe takes the same one. */
  def layerProbes(i: Int, t: Tracer, scalableRank: Boolean): Unit = ()
  /** Description of the inputs, for the run record. */
  def inputs: String
}

object Workloads {
  val names: Seq[String] = Seq("interactive_single", "interactive_staged", "bulk_single",
    "registry_light")

  def apply(name: String, seed: Long, dataDir: String): Workload = name match {
    case "interactive_single" => new InteractiveSingle(seed)
    case "interactive_staged" => new InteractiveStaged(seed)
    case "bulk_single"        => new BulkSingle(seed)
    case "registry_light"     => new RegistryLight(seed, dataDir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }

  private[perfbench] def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Collected rows as a column table for the reference. */
  private[perfbench] def toTable(rows: Array[Row], cols: Seq[String]): Table = {
    val byId = rows.sortBy(_.getAs[Long]("bid_id"))
    new Table(byId.map(_.getAs[Long]("bid_id")),
      cols.map(c => c -> byId.map(_.getAs[Double](c))).toMap)
  }

  private[perfbench] def nullableLong(r: Row, c: String): Option[Long] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
}

import Workloads._

/** A workload over one seeded bid table, cached by [[prepare]]. */
abstract class CachedBids(seed: Long, protected val n: Long, fields: Seq[Field])
    extends Workload {
  protected var spark: SparkSession = _
  protected var bids: DataFrame = _
  private var ids: Set[Int] = Set.empty
  /** The cached table as collected rows, for the reference. */
  protected lazy val table: Table = toTable(bids.collect(), fields.map(_.name))

  def prepare(s: SparkSession): Unit = {
    spark = s
    bids = Data.table(s, seed, n, fields).cache()
    bids.count()
    ids = s.sparkContext.getPersistentRDDs.keySet.toSet
  }

  def release(): Unit = { bids.unpersist(blocking = true); ids = Set.empty }
  def inputRdds: Set[Int] = ids
}

/** Bid fields shared by the two interactive workloads. */
private object Bids {
  val fields: Seq[Field] = Seq(
    Field("price", 50000L, 100000L),
    Field("delivery_days", 1L, 40L),
    Field("quality", 40L, 61L),
    Field("cost_index", 10L, 990L),
    Field("experience", 0L, 31L),
    Field("warranty", 6L, 55L),
    Field("certs", 0L, 6L))

  val deliveryBands: Seq[(Double, Double, Double)] =
    Seq((0.0, 7.0, 100.0), (7.0, 14.0, 70.0), (14.0, 21.0, 40.0), (21.0, 30.0, 10.0))
  val certBands: Seq[(Double, Double, Double)] =
    Seq((1.0, 3.0, 50.0), (3.0, 6.0, 100.0))
}

/** The analyst's re-weighting loop: the same cached 1,000 bids, six
  * criteria (one of each kind), new seeded weights on every call. */
final class InteractiveSingle(seed: Long) extends CachedBids(seed, 1000L, Bids.fields) {
  val name = "interactive_single"

  def inputs: String = s"$n bids, 6 criteria (linear, threshold, direct, min_ratio, " +
    "formula with variables, proximity_to_mean), cached once, seeded weights per call"

  private def crits(call: Int): Seq[Crit] = Seq(
    Linear("price", 0, higherIsBetter = false),
    Bands("delivery_days", 0, Bids.deliveryBands),
    Direct("quality", 0),
    MinRatio("cost_index", 0),
    Capped("experience", 0, target = 15.0, cap = 1.2, scale = 80.0),
    NearMean("warranty", 0)
  ).zipWithIndex.map { case (c, k) => c.withWeight(Data.weight(seed, call, k)) }

  private def evaluator(i: Int): Evaluator = {
    val ev = new Evaluator()
    crits(i).foreach(_.addTo(ev))
    ev
  }

  def call(i: Int, t: Tracer): Outcome = t.call(s"call-$i") {
    val ev = evaluator(i)
    val res = t.span("evaluate") { ev.evaluateResult(bids) }
    val rows = t.span("result") { res.df.collect() }
    Outcome(n, () => check(i, rows))
  }

  private def check(i: Int, rows: Array[Row]): Option[String] = {
    val cs = crits(i)
    val ref = Reference.evaluate(table, table.ids.indices.toArray, cs)
    val byId = rows.map(r => r.getAs[Long]("bid_id") -> r).toMap
    if (rows.length != table.n) return Some(s"rows ${rows.length} != ${table.n}")
    val ranks = rows.map(_.getAs[Long]("ranking"))
    if (ranks.sliding(2).exists(p => p.length == 2 && p(0) > p(1)))
      return Some("output is not sorted by ranking")
    table.ids.indices.iterator.flatMap { k =>
      val r = byId(table.ids(k))
      val scoreMiss = cs.indices.find(j =>
        !close(r.getAs[Double](s"score_${cs(j).column}"), ref.scores(j)(k)))
      if (scoreMiss.isDefined)
        Some(s"bid ${table.ids(k)}: score_${cs(scoreMiss.get).column}")
      else if (!close(r.getAs[Double]("final_score"), ref.finalScore(k)))
        Some(s"bid ${table.ids(k)}: final_score ${r.getAs[Double]("final_score")} != ${ref.finalScore(k)}")
      else if (r.getAs[Long]("ranking") != ref.rank(k))
        Some(s"bid ${table.ids(k)}: ranking ${r.getAs[Long]("ranking")} != ${ref.rank(k)}")
      else None
    }.nextOption()
  }

  override def layerProbes(i: Int, t: Tracer, scalableRank: Boolean): Unit = t.call(s"probe-$i") {
    val ev = evaluator(i)
    t.span("stats") { graft.StatsAgg.computeWithCount(bids, crits(i).map(_.column)) }
    val scored = ev.evaluateResult(bids).df.drop("ranking")
    t.span("rank") {
      graft.Ranks.withCompetitionRank(scored, "final_score", "ranking",
        scalable = scalableRank).agg(max("ranking"), count(lit(1))).collect()
    }
  }
}

/** Three-stage evaluation of a fresh seeded cohort of about 2,000 bids per
  * call: a score threshold, a tie-heavy top-N that excludes ties at the
  * cutoff, and a final stage, combined by stage weight. */
final class InteractiveStaged(seed: Long) extends CachedBids(seed, 2500L, Bids.fields) {
  val name = "interactive_staged"
  private val cohortPct = 80

  private val stages = Seq(
    Stage("screen", Seq(Linear("price", 3, higherIsBetter = false), MinRatio("cost_index", 2),
      Direct("quality", 1)), Some(AtLeast(30.0)), 3),
    Stage("technical", Seq(Bands("delivery_days", 2, Bids.deliveryBands),
      Bands("certs", 1, Bids.certBands)), Some(TopNExclude(600)), 3),
    Stage("award", Seq(Capped("experience", 2, target = 15.0, cap = 1.2, scale = 80.0),
      NearMean("warranty", 1), Linear("price", 1, higherIsBetter = false)), None, 4))

  private val staged: StagedEvaluator = {
    val se = new StagedEvaluator("weighted_combination")
    stages.foreach { st =>
      st.filter match {
        case Some(AtLeast(th)) => se.addStage(st.name, "score_threshold", threshold = th,
          weight = st.weight)
        case Some(TopNExclude(k)) => se.addStage(st.name, "top_n", topN = k, onTie = "exclude",
          weight = st.weight)
        case None => se.addStage(st.name, weight = st.weight)
      }
      st.crits.foreach(_.addTo(se))
    }
    se
  }

  def inputs: String = s"$n cached bids; each call takes a fresh seeded $cohortPct% cohort " +
    "(about 2,000 bids) through 3 stages: score_threshold 30, top_n 600 on_tie=exclude " +
    "over discrete band scores, final; weighted_combination 3:3:4"

  private def cohortKey(i: Int) = s"cohort-$i"
  private def cohort(i: Int): DataFrame = bids.filter(Data.keepsCol(seed, cohortKey(i), cohortPct))

  def call(i: Int, t: Tracer): Outcome = t.call(s"call-$i") {
    val input = cohort(i)
    val res = t.span("staged.evaluate") { staged.evaluateResult(input) }
    val rows = t.span("result") { res.df.collect() }
    t.span("staged.unpersist") { res.unpersist() }
    Outcome(rows.length.toLong, () => check(i, rows))
  }

  private def check(i: Int, rows: Array[Row]): Option[String] = {
    val members = table.ids.indices.filter(k => Data.keeps(seed, cohortKey(i), cohortPct,
      table.ids(k))).toArray
    val ref = Reference.staged(table, members, stages)
    if (rows.length != ref.size) return Some(s"rows ${rows.length} != ${ref.size}")
    val ranks = rows.map(r => nullableLong(r, "ranking").getOrElse(Long.MaxValue))
    if (ranks.sliding(2).exists(p => p.length == 2 && p(0) > p(1)))
      return Some("output is not sorted by ranking")
    rows.iterator.flatMap { r =>
      val id = r.getAs[Long]("bid_id")
      val want = ref(id)
      val elim = Option(r.getAs[String]("eliminated_at_stage"))
      val stageMiss = stages.indices.find { k =>
        val c = s"${staged.safeName(stages(k).name)}_score"
        val got = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
        (got, want.stageScores(k)) match {
          case (Some(a), Some(b)) => !close(a, b)
          case (a, b)             => a.isDefined != b.isDefined
        }
      }
      if (stageMiss.isDefined) Some(s"bid $id: ${stages(stageMiss.get).name} score")
      else if (elim != want.eliminatedAt) Some(s"bid $id: eliminated_at_stage $elim != ${want.eliminatedAt}")
      else if (!close(r.getAs[Double]("final_score"), want.finalScore))
        Some(s"bid $id: final_score ${r.getAs[Double]("final_score")} != ${want.finalScore}")
      else if (nullableLong(r, "ranking") != want.rank)
        Some(s"bid $id: ranking ${nullableLong(r, "ranking")} != ${want.rank}")
      else None
    }.nextOption()
  }

  override def layerProbes(i: Int, t: Tracer, scalableRank: Boolean): Unit = t.call(s"probe-$i") {
    val input = cohort(i)
    val first = stages.head
    t.span("stats") { graft.StatsAgg.computeWithCount(input, first.crits.map(_.column)) }
    val ev = new Evaluator()
    first.crits.foreach(_.addTo(ev))
    val scored = ev.evaluateResult(input).df.drop("ranking")
    t.span("rank") {
      graft.Ranks.withCompetitionRank(scored, "final_score", "ranking",
        scalable = scalableRank).agg(max("ranking"), count(lit(1))).collect()
    }
  }
}

/** One single-stage evaluation per call over a fresh seeded cohort of
  * more than 2M bids with continuous scores, so ranking takes the
  * engine's scalable path. The result is reduced by one aggregate over
  * every output column and checked against a digest. */
final class BulkSingle(seed: Long) extends CachedBids(seed, 2400000L, BulkSingle.fields) {
  import BulkSingle.fields
  val name = "bulk_single"
  private val cohortPct = 90
  private val crits: Seq[Crit] = Seq(Linear("price", 3, higherIsBetter = false),
    Linear("quality", 2, higherIsBetter = true))
  private val buckets = 16
  private val bucketWidth = 150000L

  def inputs: String = s"$n cached bids; each call scores a fresh seeded $cohortPct% cohort " +
    "(about 2.16M bids, above the 2M rank threshold) on 2 continuous linear criteria"

  private def cohortKey(i: Int) = s"bulk-$i"
  private def cohort(i: Int): DataFrame = bids.filter(Data.keepsCol(seed, cohortKey(i), cohortPct))

  private val evaluator: Evaluator = {
    val ev = new Evaluator()
    crits.foreach(_.addTo(ev))
    ev
  }

  /** Row count, per-score sums, rank count and maximum, rank histogram. */
  private def digest(df: DataFrame): Seq[Double] = {
    val bucket = floor((col("ranking") - lit(1L)) / lit(bucketWidth))
    val aggs = Seq(count(lit(1)), sum("final_score")) ++
      crits.map(c => sum(s"score_${c.column}")) ++
      Seq(count("ranking"), max("ranking")) ++
      (0 until buckets).map(b => sum(when(bucket === b, 1L).otherwise(0L)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (0 until r.length).map(j => if (r.isNullAt(j)) Double.NaN else r.get(j).toString.toDouble)
  }

  def call(i: Int, t: Tracer): Outcome = t.call(s"call-$i") {
    val res = t.span("evaluate") { evaluator.evaluateResult(cohort(i)) }
    val got = t.span("result") { digest(res.df) }
    Outcome(got.head.toLong, () => check(i, got))
  }

  private def check(i: Int, got: Seq[Double]): Option[String] = {
    val want = expected(i)
    val names = Seq("rows", "final_score sum") ++ crits.map(c => s"score_${c.column} sum") ++
      Seq("ranked rows", "max ranking") ++ (0 until buckets).map(b => s"rank bucket $b")
    names.indices.collectFirst {
      case j if !close(got(j), want(j)) => s"${names(j)}: ${got(j)} != ${want(j)}"
    }
  }

  /** The digest from plain Scala over the regenerated cohort. Sums are
    * compared to 1e-9 relative, since the engine's summation order differs;
    * everything else is exact. */
  private def expected(i: Int): Seq[Double] = {
    val members = (0L until n).filter(id => Data.keeps(seed, cohortKey(i), cohortPct, id))
      .toArray
    val m = members.length
    val cols = fields.map(f => f.name -> members.map(id => Data.value(seed, f, id))).toMap
    val rows = Array.range(0, m)
    val stats = fields.map(f => f.name -> ColStats.of(cols(f.name), rows)).toMap
    val scores = crits.map(c => rows.map(r => c.score(cols(c.column)(r), stats(c.column))))
    val total = crits.foldLeft(0.0)(_ + _.weight)
    val fin = rows.map(r => scores.map(_(r)).reduceLeft(_ + _) / total)
    // competition ranks by walking the scores from the highest down
    val sorted = fin.sorted
    val hist = new Array[Double](buckets)
    var pos = 0
    var rank = 1L
    while (pos < m) {
      val v = sorted(m - 1 - pos)
      if (pos == 0 || v != sorted(m - pos)) rank = pos + 1L
      val b = ((rank - 1) / bucketWidth).toInt
      if (b < buckets) hist(b) += 1
      pos += 1
    }
    val maxRank = if (m == 0) Double.NaN else rank.toDouble
    Seq(m.toDouble, fin.sum) ++ scores.map(_.sum) ++ Seq(m.toDouble, maxRank) ++ hist
  }

  override def layerProbes(i: Int, t: Tracer, scalableRank: Boolean): Unit = t.call(s"probe-$i") {
    val input = cohort(i)
    t.span("stats") { graft.StatsAgg.computeWithCount(input, crits.map(_.column)) }
    val scored = evaluator.evaluateResult(input).df.drop("ranking")
    t.span("rank") {
      graft.Ranks.withCompetitionRank(scored, "final_score", "ranking",
        scalable = scalableRank).agg(max("ranking"), count(lit(1))).collect()
    }
    graft.Checkpoints.freeAll(spark)
  }

  override def after(): Unit = graft.Checkpoints.freeAll(spark)
}

object BulkSingle {
  val fields: Seq[Field] = Seq(Field("price", 1L, 1000000000L), Field("quality", 0L, 1000000L))
}

/** Three oracle-backed registry queries on the bundled sf0.01 tables; one
  * call builds one query and counts its result. Each pass runs all three
  * in a seeded order. */
final class RegistryLight(seed: Long, dataDir: String) extends Workload {
  val name = "registry_light"
  override val passLength: Int = RegistryLight.queries.size
  private var spark: SparkSession = _
  private val builders = graft.SparkEntry.queries
  /** First-call seconds of each query, from the first warm-up pass. */
  val firstSeconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def inputs: String = s"${RegistryLight.queries.size} registry queries on the bundled sf0.01 " +
    "tables, in a seeded order per pass"

  def prepare(s: SparkSession): Unit = spark = s

  def release(): Unit = ()
  def inputRdds: Set[Int] = Set.empty

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 31L + pass).shuffle(RegistryLight.queries)

  /** The warm-up first reduces each result to its full-content digest,
    * so the first call checks everything the timed calls only count. It
    * then makes `WarmPasses` passes as the timed calls do, so that the timed
    * passes start where pass times have mostly stopped falling as the JIT
    * compiler warms up. */
  override def warmUp(t: Tracer): Seq[Outcome] = {
    val digests = RegistryLight.queries.map { q =>
      val t0 = System.nanoTime()
      val got = RegistryLight.digest(builders(q)(spark, dataDir))
      firstSeconds(q) = (System.nanoTime() - t0) / 1e9
      after()
      val want = RegistryLight.frozen(q)
      Outcome(got._1, () => if (got == want) None else Some(s"$q: digest $got != $want"))
    }
    digests ++ Seq.fill(RegistryLight.WarmPasses)(RegistryLight.queries).flatten.map { q =>
      val oc = counted(q, t)
      after()
      oc
    }
  }

  private def queryOf(i: Int): String = order(i / passLength)(i % passLength)

  def call(i: Int, t: Tracer): Outcome = t.call(s"call-$i") { counted(queryOf(i), t) }

  private def counted(q: String, t: Tracer): Outcome = {
    val n = t.span(s"query.$q") {
      val df = builders(q)(spark, dataDir)
      t.span("result") { df.count() }
    }
    Outcome(n, () => {
      val want = RegistryLight.frozen(q)._1
      if (n == want) None else Some(s"$q: $n rows != $want")
    })
  }

  override def after(): Unit = graft.Checkpoints.freeAll(spark)
}

object RegistryLight {
  /** A salted skew join, a blocked edit-distance self-join and the
    * range-partitioned rank: the cheapest registry queries that reach
    * `graft.ops` and `graft.queries`. */
  val queries: Seq[String] = Seq("q101_salted_join", "q203_fuzzy_join", "q55_scalable_rank")

  /** Counted passes in the warm-up. */
  val WarmPasses = 2

  /** Row count and an order-independent content hash of a result. */
  def digest(df: DataFrame): (Long, Long) = {
    val h = xxhash64(to_json(struct(df.columns.map(c => df.col(c)).toSeq: _*)))
    val r = df.agg(count(lit(1)), sum(shiftrightunsigned(h, 20))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Digests of the sf0.01 results at the commit that introduced this
    * benchmark; those results pass the DuckDB oracle. */
  val frozen: Map[String, (Long, Long)] = Map(
    "q101_salted_join" -> ((1500L, 13186067386315808L)),
    "q203_fuzzy_join" -> ((776L, 6809208171427085L)),
    "q55_scalable_rank" -> ((15000L, 132269454214330506L)))
}
