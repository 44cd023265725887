package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
    * the table with the windowless [[prefixSumRank]] kernel instead of a
    * single-partition window, for when |distinct scores| may itself be huge.
    * The table reads `df` once, so a caller can rank several score columns
    * of one frame and attach every table at the output without re-planning
    * the frame below each rank. */
  private[graft] def rankTable(df: DataFrame, scoreCol: String, scalable: Boolean): DataFrame = {
    val counts = df
      .filter(col(scoreCol).isNotNull && !isnan(col(scoreCol)))
      .groupBy(col(scoreCol).as(Score))
      .agg(count(lit(1)).as(Count))
    if (scalable) prefixSumRank(counts, Score, Some(Count), Rank, 0)
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
    * [[prefixSumRank]] kernel over the rows themselves, each weighing 1.
    *
    * Null and NaN scores get null rank (excluded from the universe),
    * matching [[withCompetitionRank]]. The returned frame (like the
    * `scalable` one of [[withCompetitionRank]]) reads a local checkpoint
    * that [[Checkpoints.freeAll]] invalidates: consume it before then.
    */
  def rangePartitionedRank(
      df: DataFrame,
      scoreCol: String,
      outCol: String,
      numPartitions: Int = 0
  ): DataFrame = {
    val base = if (df.columns.contains(outCol)) df.drop(outCol) else df
    val real = col(scoreCol).isNotNull && !isnan(col(scoreCol))
    prefixSumRank(base.filter(real), scoreCol, None, outCol, numPartitions)
      // always union: even a non-nullable double column can carry NaN
      .unionByName(base.filter(!real).withColumn(outCol, lit(null).cast("long")))
  }

  /** The one prefix-sum rank kernel: appends `outCol` = 1 + the total
    * weight of the rows with a strictly higher `scoreCol`, without a
    * global window. The weight is `weightCol` (the row count of a
    * distinct-score table), or 1 per row when `None`. `df` must hold no
    * null or NaN score.
    *
    * Three steps, none global: (1) range-partition descending on the score
    * (equal values land in one partition, so tie groups never span a
    * boundary); (2) collect one weight total per partition and prefix-sum
    * them on the driver; (3) per partition, scan rows in sorted order,
    * carrying the weight seen so far; equal scores share the rank of the
    * first of them. The only driver data is one long per partition.
    */
  private def prefixSumRank(
      df: DataFrame,
      scoreCol: String,
      weightCol: Option[String],
      outCol: String,
      numPartitions: Int
  ): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // Checkpoint, not persist: the weight collection and the ranking pass
    // must see the SAME range partitioning (repartitionByRange SAMPLES
    // bounds — a recompute could re-sample differently and silently
    // mis-rank against the collected offsets). Truncated lineage makes a
    // divergent recompute impossible; blocks release at the host's
    // Checkpoints.freeAll barrier. Lazy: the weight collection below is a
    // full pass, so the blocks materialize inside it.
    val sorted = graft.Checkpoints.localCheckpoint(df
      .repartitionByRange(n, col(scoreCol).desc)
      .sortWithinPartitions(col(scoreCol).desc), eager = false)

    // (1 long per partition) -> driver -> prefix offsets
    val partSums = sorted
      .groupBy(spark_partition_id().as("pid"))
      .agg(sum(weightCol.fold(lit(1L))(col)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxPid = if (partSums.isEmpty) -1 else partSums.keys.max
    val offsets = new Array[Long](maxPid + 2)
    var acc = 0L
    for (pid <- 0 to maxPid) {
      offsets(pid) = acc
      acc += partSums.getOrElse(pid, 0L)
    }
    val offsetsB = spark.sparkContext.broadcast(offsets)

    val scoreIdx = sorted.schema.fieldIndex(scoreCol)
    val weightIdx = weightCol.fold(-1)(sorted.schema.fieldIndex)
    val schema = StructType(sorted.schema.fields :+
      StructField(outCol, LongType, nullable = true))
    sorted.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val o = offsetsB.value
      var before = if (pid < o.length) o(pid) else 0L
      var rank = 0L
      var prev: Any = null
      rows.map { r =>
        val s = r.get(scoreIdx)
        // Scala ==: numeric equality, so 0.0 and -0.0 tie as they do in
        // the groupBy strategy (NaN never reaches the kernel)
        if (rank == 0L || s != prev) { rank = before + 1L; prev = s }
        before += (if (weightIdx < 0) 1L else r.getLong(weightIdx))
        Row.fromSeq(r.toSeq :+ rank)
      }
    }(Encoders.row(schema))
  }
}
