package graft

import org.apache.spark.sql.functions._

import graft.io.Layout

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("interleave is the textbook Morton code on an exact grid") {
    // values 0..3 over min=0 max=3 at bits=2 quantize to themselves
    val grid = for (x <- 0 to 3; y <- 0 to 3) yield (x, y)
    val keys = Layout.withZOrderKey(grid.toDF("x", "y"), Seq("x", "y"), bits = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Long]("zorder_key"))
      .toMap
    def morton(x: Int, y: Int): Long =
      (0 until 2).map(k => (((x >> k) & 1) << (2 * k)) | (((y >> k) & 1) << (2 * k + 1)))
        .sum.toLong
    grid.foreach { case (x, y) =>
      assert(keys((x, y)) == morton(x, y), s"($x, $y)")
    }
    // neighbors in z differ in exactly the locality the curve promises
    assert(keys((1, 1)) == 3L && keys((2, 2)) == 12L)
  }

  test("nulls and degenerate columns quantize to bucket 0") {
    val df = Seq((Some(1), 5), (None, 5), (Some(3), 5)).toDF("x", "c")
    val keys = Layout.withZOrderKey(df, Seq("x", "c"), bits = 4)
      .select("zorder_key").as[Long].collect()
    // c is constant (min==max) -> contributes 0 everywhere; null x -> 0
    assert(keys.contains(0L))
    assert(keys.forall(_ >= 0L))
  }

  test("writeZOrdered produces disjoint per-file key ranges") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val dir = tempDir("zorder_spec") + "/li"
    Layout.writeZOrdered(li, dir, Seq("l_partkey", "l_suppkey"), bits = 8, files = 4)
    // recompute the key on read-back and check file ranges don't overlap:
    // that is the property that makes parquet min/max stats prune
    // capture the file name BEFORE the key's stats cross-join —
    // input_file_name() refuses plans with more than one file source
    val withFile = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
    val back = Layout.withZOrderKey(withFile, Seq("l_partkey", "l_suppkey"), bits = 8)
      .select(col("f"), col("zorder_key"))
      .groupBy("f").agg(min("zorder_key").as("lo"), max("zorder_key").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).sortBy(_._1)
    assert(back.length >= 2, "expected multiple output files")
    back.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges overlap: $back")
      case _ =>
    }
  }
}
