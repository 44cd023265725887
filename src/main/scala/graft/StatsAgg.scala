package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.Stats

/** One-pass whole-cohort statistics for all criterion columns.
  *
  * The reference recomputes `{min,max,mean,median,std,q25,q75}` separately
  * inside every criterion (`/root/reference/bid_evaluation/criteria.py:19-29`,
  * called at `criteria.py:47,63,81,97,124,164`). Here all statistics for all
  * distinct columns are gathered in a single `df.agg(...)` job — the
  * aggregate-then-broadcast pattern: scalars come back to the driver once and
  * are embedded as `lit(...)`s, so criterion math constant-folds and the whole
  * scoring pass stays inside whole-stage codegen.
  *
  * Parity notes (SURVEY.md §1.5):
  *   - `std` is pandas' sample std (ddof=1) -> `stddev_samp`;
  *   - `median`/quartiles use linear interpolation -> Spark's exact
  *     `percentile`, NOT `approx_percentile`. At 100 TB set the session
  *     conf `graft.stats.approx=true` (see [[StatsAgg.computeWithCount]]);
  *   - `avg` and `stddev_samp` sum in partition arrival order, so the same
  *     cohort can give a mean or std that differs in the last bit when the
  *     plan's partitioning changes (q22's `p_retailprice` mean read
  *     951.1881889763773 under one staged plan and 951.1881889763775 under
  *     another). Criteria that read mean or std (e.g. `proximity_to_mean`)
  *     are bit-reproducible for a fixed plan only.
  */
object StatsAgg {

  def compute(df: DataFrame, columns: Seq[String]): Map[String, Stats] =
    if (columns.isEmpty) Map.empty
    else computeWithCount(df, columns)._1

  /** Same single aggregation job, also returning the cohort row count —
    * callers that need emptiness/size (the staged pipeline, top-N filters)
    * get it for free instead of issuing a separate count job per stage.
    *
    * Session conf `graft.stats.approx=true` switches the quantile
    * statistics to `approx_percentile` — the 100 TB path: Spark's exact
    * `Percentile` is a TypedImperativeAggregate that buffers every
    * distinct value, a driver/executor memory hazard at scale, while the
    * approximate sketch is bounded. min/max/mean/std are exact either way.
    */
  def computeWithCount(df: DataFrame, columns: Seq[String]): (Map[String, Stats], Long) = {
    val useExact = !df.sparkSession.conf.get("graft.stats.approx", "false").toBoolean
    val cols = columns.distinct
    val pcts = array(lit(0.5), lit(0.25), lit(0.75))
    val aggs: Seq[Column] = cols.flatMap { c =>
      val v = col(c).cast("double")
      // Column API (not string-interpolated SQL) so column-name resolution
      // is identical across all five aggregates
      val med =
        if (useExact) percentile(v, pcts)
        else percentile_approx(v, pcts, lit(10000))
      Seq(min(v), max(v), avg(v), stddev_samp(v), med)
    } :+ count(lit(1))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val rowCount = row.getLong(cols.size * 5)

    val stats = cols.zipWithIndex.map { case (c, i) =>
      val base = i * 5
      def d(j: Int): Double =
        if (row.isNullAt(base + j)) Double.NaN else row.getDouble(base + j)
      val pct: IndexedSeq[Double] =
        if (row.isNullAt(base + 4)) IndexedSeq(Double.NaN, Double.NaN, Double.NaN)
        else row.getSeq[Double](base + 4).toIndexedSeq
      c -> Stats(
        min = d(0), max = d(1), mean = d(2),
        median = pct(0), std = d(3), q25 = pct(1), q75 = pct(2))
    }.toMap
    (stats, rowCount)
  }
}
