package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded bid tables.
  *
  * Every value is a pure function of (seed, column, bid_id), evaluated by
  * Spark to build the input and in plain Scala to build the reference. Both
  * sides use the same 64-bit arithmetic, which wraps identically. Values
  * are whole numbers held in doubles, so every sum the engine takes is
  * exact and the reference can mirror its statistics bit for bit.
  */
object Data {

  /** One input column: a whole number drawn uniformly from [lo, lo + span). */
  final case class Field(name: String, lo: Long, span: Long)

  private val Gamma = 0x9E3779B97F4A7C15L
  private val M1 = 0xBF58476D1CE4E5B9L
  private val M2 = 0x94D049BB133111EBL

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + Gamma
    z = (z ^ (z >>> 30)) * M1
    z = (z ^ (z >>> 27)) * M2
    z ^ (z >>> 31)
  }

  /** [[mix]] as a Spark expression over a long column. */
  def mixCol(x: Column): Column = {
    val z0 = x + lit(Gamma)
    val z1 = z0.bitwiseXOR(shiftrightunsigned(z0, 30)) * lit(M1)
    val z2 = z1.bitwiseXOR(shiftrightunsigned(z1, 27)) * lit(M2)
    z2.bitwiseXOR(shiftrightunsigned(z2, 31))
  }

  /** Per-(seed, stream) salt, computed on the driver. */
  def salt(seed: Long, stream: String): Long =
    mix(seed * 1000003L + stream.hashCode.toLong)

  def value(seed: Long, f: Field, id: Long): Double =
    (Math.floorMod(mix(id ^ salt(seed, f.name)), f.span) + f.lo).toDouble

  def valueCol(seed: Long, f: Field): Column =
    (pmod(mixCol(col("bid_id").bitwiseXOR(lit(salt(seed, f.name)))), lit(f.span)) +
      lit(f.lo)).cast("double")

  /** Membership of `id` in the seeded cohort `key`: about `pct` percent of
    * the base table. */
  def keeps(seed: Long, key: String, pct: Int, id: Long): Boolean =
    Math.floorMod(mix(id ^ salt(seed, key)), 100L) < pct

  def keepsCol(seed: Long, key: String, pct: Int): Column =
    pmod(mixCol(col("bid_id").bitwiseXOR(lit(salt(seed, key)))), lit(100L)) < lit(pct.toLong)

  /** `n` bids with ids 0 until n, built on the executors. */
  def table(spark: SparkSession, seed: Long, n: Long, fields: Seq[Field]): DataFrame = {
    val ids = spark.range(n).select(col("id").as("bid_id"))
    ids.select(col("bid_id") +: fields.map(f => valueCol(seed, f).as(f.name)): _*)
  }

  /** A seeded weight in [1, 10] for criterion `slot` of call `call`. */
  def weight(seed: Long, call: Int, slot: Int): Double =
    (Math.floorMod(mix(seed * 7919L + call * 131L + slot), 10L) + 1).toDouble
}
