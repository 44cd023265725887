package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Map column -> value for a keyed row; convenient for assertions. */
  def byKey(df: DataFrame, keyCol: String): Map[Any, Row] =
    rows(df).map(r => r.getAs[Any](keyCol) -> r).toMap

  /** A new temp directory, deleted with its contents when the test JVM
    * exits. */
  def tempDir(prefix: String): String = graft.io.TempDirs.create(prefix).toString

  def assertNear(actual: Double, expected: Double, tol: Double = 1e-9): Unit =
    assert(math.abs(actual - expected) <= tol,
      s"expected $expected, got $actual (tol $tol)")
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", 4)
    // The engine targets pandas/NumPy arithmetic semantics (x/0 -> error
    // mapped to null/0, no overflow errors), i.e. Spark legacy mode.
    .config("spark.sql.ansi.enabled", "false")
      // testdata events.ts is TIMESTAMP(NANOS): read as long nanoseconds
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "target/spark-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
