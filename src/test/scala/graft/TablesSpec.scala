package graft

import org.apache.spark.sql.functions._

import graft.io.Tables

/** The `ts` contract: Tables.table surfaces events.ts as epoch-nanos long no
  * matter which physical parquet encoding the fixture generator used. */
class TablesSpec extends SparkSpec {

  test("real testdata events.ts arrives as epoch-nanos long") {
    val ev = Tables.table(spark, "/root/testdata/sf0.001", "events")
    assert(ev.schema("ts").dataType.typeName == "long")
    // sanity: values are nanoseconds (year 2000-2100 range, not micros/millis)
    val Seq(lo, hi) = ev.agg(min("ts"), max("ts")).collect()
      .head.toSeq.map(_.asInstanceOf[Long])
    assert(lo > 946684800L * 1000000000L, s"min ts $lo below year-2000 in nanos")
    assert(hi < 4102444800L * 1000000000L, s"max ts $hi above year-2100 in nanos")
  }

  test("micros-encoded timestamp ts normalizes to the same nanos as a long ts") {
    import spark.implicits._
    val dir = tempDir("tables_spec")
    val us = Seq(1700000000000000L, 1700000123456789L, 981173106000000L)
    us.map(u => (u, "x")).toDF("us", "tag")
      .select(timestamp_micros(col("us")).as("ts"), col("tag"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.table(spark, dir, "events")
    assert(got.schema("ts").dataType.typeName == "long")
    assert(got.columns.toSeq == Seq("ts", "tag"), "column order preserved")
    assert(got.select("ts").as[Long].collect().sorted.toSeq == us.map(_ * 1000L).sorted)
  }

  test("long ts and absent ts pass through untouched") {
    import spark.implicits._
    val longTs = Seq((1L, 42L)).toDF("id", "ts")
    assert(Tables.normalizeTs(longTs).schema("ts").dataType.typeName == "long")
    assert(Tables.normalizeTs(longTs).select("ts").as[Long].head() == 42L)
    val noTs = Seq((1L, "a")).toDF("id", "s")
    assert(Tables.normalizeTs(noTs).columns.toSeq == Seq("id", "s"))
  }
}
