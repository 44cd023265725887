package graft

import scala.reflect.ClassTag

import org.apache.spark.RangePartitioner
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** Standard-competition ranking ("1-2-2-4"), the only ranking the reference
  * uses: pandas `rank(ascending=False, method='min')`
  * (`/root/reference/bid_evaluation/evaluator.py:314-317`,
  * `staged.py:361-364,389`). Equivalent to SQL `RANK()` descending.
  *
  * A naive `rank().over(Window.orderBy(...))` funnels every row through ONE
  * partition — fine for a bid table, fatal at 100 TB. Instead we aggregate to
  * the distinct score values (`groupBy(score).count`), rank that far smaller
  * [[rankTable]] (the only single-partition window runs over |distinct
  * scores| rows), and join the ranks back by score value. AQE turns the join
  * into a broadcast when the distinct-score frame is small, so the big side
  * is never shuffled beyond the groupBy.
  *
  * When |distinct scores| may itself be huge, the windowless, checkpoint-free
  * [[rangeRank]] kernel ranks the table instead; it also serves
  * [[rangePartitionedRank]], [[graft.ops.Ids]] and the Gini ordinal of
  * [[graft.ops.Metrics.activityConcentration]]. Every ranked frame is an
  * ordinary lazy frame that can be collected again at any time.
  */
object Ranks {

  /** Column names of a [[rankTable]]. */
  private[graft] val Score = "__graft_score"
  private[graft] val Count = "__graft_cnt"
  private[graft] val Rank = "__graft_rank"

  /** Appends `outCol` = competition rank of `scoreCol` (descending: highest
    * score -> rank 1) as a nullable LongType. Rows with null OR NaN score
    * get a null rank — both map to pandas NaN, which `rank()` excludes from
    * the ranking universe (NaN rank, other ranks unshifted; the reference's
    * subsequent `.astype(int)` would raise, so the engine defines the
    * behavior pandas leaves undefined: NaN ≡ null ≡ unranked).
    */
  def withCompetitionRank(
      df: DataFrame,
      scoreCol: String,
      outCol: String,
      scalable: Boolean = false
  ): DataFrame = {
    // pandas result['ranking'] = ... overwrites; a join would duplicate
    val base = if (df.columns.contains(outCol)) df.drop(outCol) else df
    joinRank(base, scoreCol, rankTable(base, scoreCol, scalable), outCol)
  }

  /** One row per distinct real score of `scoreCol` in `df`: the score value
    * ([[Score]]), its row count ([[Count]]) and its competition rank
    * ([[Rank]]). Null and NaN scores are not in the table. `scalable` ranks
    * the table with [[rangeRank]], each score weighted by its row count,
    * instead of a single-partition window.
    * The table reads `df` once, so a caller can rank several score columns
    * of one frame and attach every table at the output without re-planning
    * the frame below each rank. */
  private[graft] def rankTable(df: DataFrame, scoreCol: String, scalable: Boolean): DataFrame = {
    val real = df.filter(col(scoreCol).isNotNull && !isnan(col(scoreCol)))
      .select(col(scoreCol).as(Score))
    val counts = real.groupBy(Score).agg(count(lit(1)).as(Count))
    if (scalable) rangeRank(counts, Score, descending = true, Some(Count), Rank, units = Some(real))
    else counts.withColumn(Rank,
      (sum(Count).over(Window.orderBy(col(Score).desc)) - col(Count) + lit(1L)).cast("long"))
  }

  /** Left-joins `table`'s rank to `df` by score value as `outCol`: rows whose
    * `scoreCol` is null, NaN or absent from the table get a null rank. */
  private[graft] def joinRank(df: DataFrame, scoreCol: String, table: DataFrame,
      outCol: String): DataFrame =
    df.join(table.select(col(Score), col(Rank).as(outCol)), df(scoreCol) === col(Score), "left")
      .drop(Score)

  /** Fully distributed competition rank for CONTINUOUS score columns,
    * where distinct-value aggregation degenerates (|distinct| ~ N and the
    * small-frame window above would single-partition N rows): the
    * [[rangeRank]] kernel over the rows themselves, each weighing 1.
    * Null and NaN scores get null rank, matching [[withCompetitionRank]].
    */
  def rangePartitionedRank(
      df: DataFrame,
      scoreCol: String,
      outCol: String,
      numPartitions: Int = 0
  ): DataFrame = {
    val base = if (df.columns.contains(outCol)) df.drop(outCol) else df
    val real = col(scoreCol).isNotNull && !isnan(col(scoreCol))
    rangeRank(base.filter(real), scoreCol, descending = true, None, outCol, numPartitions)
      // always union: even a non-nullable double column can carry NaN
      .unionByName(base.filter(!real).withColumn(outCol, lit(null).cast("long")))
  }

  /** The one range-rank kernel: appends `outCol` = 1 + the total weight of
    * the rows strictly ahead in the order of `keyCol` (any orderable atomic
    * type; NaN-free, and a null key fails), as a non-nullable long. The
    * weight is `weightCol` (a long), or 1 per row; with distinct keys and
    * unit weights the rank is the 1-based position. No window, no
    * checkpoint: (1) the driver samples split points once (a
    * `RangePartitioner` over the keys under Spark's SQL ordering, at most
    * `numBuckets` ranges, default `spark.sql.shuffle.partitions`) and
    * embeds them in the plan; a row's bucket is its range — monotone in
    * the key for ANY splits, so equal keys (0.0 and -0.0 too) share a
    * bucket and the ranks never depend on the sample;
    * (2) one aggregate gives each bucket's weight, prefix-summed on the
    * driver into offsets; (3) each bucket is scanned in key order from its
    * offset, equal keys taking the rank of the first of them. A recompute
    * yields the same buckets, hence the same ranks. `units`, when given,
    * holds one row per unit of weight with the same keys (the rows a
    * count-weighted table was aggregated from); steps (1) and (2) then read
    * it instead, with no aggregation, and only the scan reads `df`. */
  private[graft] def rangeRank(
      df: DataFrame,
      keyCol: String,
      descending: Boolean,
      weightCol: Option[String],
      outCol: String,
      numBuckets: Int = 0,
      units: Option[DataFrame] = None
  ): DataFrame = {
    val n = if (numBuckets > 0) numBuckets
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val (src, weight) = units.fold((df, weightCol.fold(lit(1L))(col)))(u => (u, lit(1L)))
    val dt = df.schema(keyCol).dataType
    val keys = src.select(keyCol).where(col(keyCol).isNotNull).queryExecution.toRdd
      .map(r => (InternalRow.copyValue(r.get(0, dt)), null)) // the row buffer is reused
    val ranges = new RangePartitioner(n, keys, ascending = !descending)(
      TypeUtils.getInterpretedOrdering(dt), ClassTag.Any)
    val bucket = ColumnBridge.column(RangeBucket(ColumnBridge.expression(col(keyCol)), ranges))
    val weights = src.groupBy(bucket).agg(sum(weight))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // offsets(b) = total weight of the buckets ahead of bucket b
    val offsets = (0 until ranges.numPartitions - 1)
      .scanLeft(0L)((acc, b) => acc + weights.getOrElse(b, 0L)).toArray

    val keyIdx = df.schema.fieldIndex(keyCol)
    val weightIdx = weightCol.fold(-1)(df.schema.fieldIndex)
    val bucketIdx = df.schema.length
    val schema = StructType(df.schema.fields :+ StructField(outCol, LongType, nullable = false))
    df.withColumn(Bucket, bucket)
      .repartition(n, col(Bucket))
      .sortWithinPartitions(if (descending) col(keyCol).desc else col(keyCol).asc)
      .mapPartitions { rows =>
        var bucket = -1
        var before = 0L
        var rank = 0L
        var prev: Any = null
        rows.map { r =>
          val b = r.getInt(bucketIdx)
          if (b != bucket) { bucket = b; before = offsets(b); rank = 0L }
          val s = r.get(keyIdx)
          // Scala ==: numeric equality, so 0.0 and -0.0 tie as they do in
          // the groupBy strategy
          if (rank == 0L || s != prev) { rank = before + 1L; prev = s }
          before += (if (weightIdx < 0) 1L else r.getLong(weightIdx))
          Row.fromSeq(r.toSeq.init :+ rank)
        }
      }(Encoders.row(schema))
  }

  private val Bucket = "__graft_bucket"
}

/** A key's bucket: its range under `ranges`, whose split points were
  * sampled once (catalyst values, Spark's SQL ordering). A null key has no
  * range and fails. */
private[graft] case class RangeBucket(child: Expression, ranges: RangePartitioner[Any, Null])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val key = child.eval(input)
    if (key == null) throw new IllegalArgumentException(s"rank key ${child.sql} must be non-null")
    ranges.getPartition(key)
  }

  override protected def withNewChildInternal(newChild: Expression): RangeBucket =
    copy(child = newChild)
}
