package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Surrogate-id on-ramp for the engine-wide numeric-id contract.
  *
  * Every dedup/ANN/top-k operator here keys its heaps, folds, and band
  * joins by a numeric unique id (longs travel through primitive
  * encoders; [[GroupTopK]] refuses non-numeric ids loudly). A web corpus
  * is usually keyed by URL or UUID — this is the missing bridge: map the
  * string key to a DENSE, DETERMINISTIC long once, run the numeric
  * operators, then join the original key back.
  *
  * The surrogate of an id is its 0-based RANK IN THE SORTED ORDER of the
  * distinct ids (binary/UTF8 string order — SQL `row_number() OVER
  * (ORDER BY id) - 1`). Chosen over `monotonically_increasing_id` / a
  * raw arrival-order index because rank is a PURE FUNCTION of the id set:
  *  - stable across recomputes, partitionings, and runs — no eager
  *    checkpoint needed to freeze it (a `monotonically_increasing_id`
  *    column needs one precisely because it is execution-order-dependent);
  *  - order-compatible: `min(surrogate)` ≡ `min(original id)` per group,
  *    so min-id keeper semantics survive the mapping;
  *  - engine-replayable: a SQL oracle can re-derive every value.
  *
  * Scale shape: the surrogate is the [[graft.Ranks.rangeRank]] position,
  * minus 1, in the ascending order of the DISTINCT id frame (narrow: one
  * string column) — no global window, no checkpoint; the mapping is an
  * ordinary lazy frame, joined on the id (broadcast when small).
  */
object Ids {

  /** A surrogate-keyed frame plus the (id → sid) mapping to join back. */
  final case class SurrogateResult(df: DataFrame, mapping: DataFrame)

  /** The (distinct id → dense 0-based sorted-rank long) mapping.
    * Null ids are refused loudly — the numeric-id contract is non-null:
    * the rank kernel fails on a null key ("rank key … must be non-null"),
    * already inside this call. */
  def surrogateMapping(df: DataFrame, idCol: String, sidCol: String = "sid"): DataFrame = {
    val ids = df.select(col(idCol).cast("string").as(idCol)).distinct()
    graft.Ranks.rangeRank(ids, idCol, descending = false, None, sidCol)
      .select(col(idCol), (col(sidCol) - 1L).as(sidCol))
  }

  /** Adds `sidCol` = the dense deterministic surrogate long for `idCol`;
    * returns the augmented frame AND the mapping for [[restoreId]]. */
  def withSurrogateId(
      df: DataFrame,
      idCol: String,
      sidCol: String = "sid"
  ): SurrogateResult = {
    val mapping = surrogateMapping(df, idCol, sidCol)
    val joined = df
      .withColumn("__sid_key", col(idCol).cast("string"))
      .join(mapping.withColumnRenamed(idCol, "__sid_key"), Seq("__sid_key"))
      .drop("__sid_key")
    SurrogateResult(joined, mapping)
  }

  /** Join-back: replaces `sidCol` in `result` with the original id under
    * its original name. Surrogates that never existed in the mapping are
    * a contract violation (the operator invented an id) — inner join
    * would hide them, so it raises via a null check after a left join. */
  def restoreId(result: DataFrame, mapping: DataFrame, sidCol: String = "sid"): DataFrame = {
    val idCol = mapping.columns.filterNot(_ == sidCol).head
    require(!result.columns.contains(idCol),
      s"restoreId: result already has a '$idCol' column")
    result
      .join(mapping, Seq(sidCol), "left")
      .withColumn(idCol,
        when(col(idCol).isNull,
          raise_error(concat(lit("restoreId: surrogate with no mapping entry: "),
            col(sidCol).cast("string"))))
          .otherwise(col(idCol)))
      .drop(sidCol)
  }
}
