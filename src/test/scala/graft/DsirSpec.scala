package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dsir

/** DSIR importance-resampling data selection: planted target/raw corpora
  * where the domain-matching documents are hand-identifiable. */
class DsirSpec extends SparkSpec {

  import spark.implicits._

  private def target: DataFrame = Seq(
    (100L, "distributed query engine optimizes distributed query plans"),
    (101L, "query engine shuffles distributed data"),
    (102L, "distributed query execution engine")
  ).toDF("doc_id", "text")

  private def raw: DataFrame = Seq(
    (0L, "distributed query engine with distributed query optimizer"),
    (1L, "cooking pasta with garlic and olive oil"),
    (2L, "query engine internals and distributed shuffles"),
    (3L, "gardening tips for tomato season"),
    (4L, "")
  ).toDF("doc_id", "text")

  test("dsir: target-like documents outscore unrelated ones; empty doc yields no row") {
    val w = Dsir.logRatioWeights(target, raw, "text", n = 2, buckets = 1024, alpha = 0.01)
    val scored = Dsir.importanceScores(raw, "doc_id", "text", w, n = 2, buckets = 1024)
    val m = scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!m.contains(4L), "empty doc has no grams and no score row")
    assert(m(0L) > m(1L), "query-engine doc must outscore the cooking doc")
    assert(m(2L) > m(3L), "query-engine doc must outscore the gardening doc")
    val top = Dsir.selectTop(scored, "doc_id", 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(top == Set(0L, 2L), s"top-2 must be the domain-matching docs, got $top")
  }

  test("dsir: scoreAgainstTarget equals the composed weights+scores path bit-exactly") {
    val w = Dsir.logRatioWeights(target, raw, "text", n = 2, buckets = 1024)
    val composed = Dsir.importanceScores(raw, "doc_id", "text", w, n = 2, buckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fused = Dsir.scoreAgainstTarget(target, raw, "doc_id", "text",
        n = 2, buckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fused == composed)
  }

  test("dsir: scores are bit-identical under repartition of every input") {
    def scores(t: DataFrame, r: DataFrame): Map[Long, Double] = {
      val w = Dsir.logRatioWeights(t, r, "text", n = 2, buckets = 1024)
      Dsir.importanceScores(r, "doc_id", "text", w, n = 2, buckets = 1024)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    }
    val a = scores(target, raw)
    val b = scores(target.repartition(5), raw.repartition(7))
    assert(a == b, "bucket-sorted folds must be partition-invariant bit-exact")
  }

  test("dsir: bucketCounts keeps gram multiplicity; short docs contribute one gram") {
    val rep = Seq((1L, "a b a b")).toDF("doc_id", "text")
    // bigrams with multiplicity: "a b", "b a", "a b" -> 3 total
    val total = Dsir.bucketCounts(rep, "text", n = 2, buckets = 64)
      .agg(sum("cnt")).head().getLong(0)
    assert(total == 3)
    val single = Dsir.bucketCounts(Seq((1L, "hello")).toDF("doc_id", "text"),
      "text", n = 2, buckets = 64).agg(sum("cnt")).head().getLong(0)
    assert(single == 1, "a sub-n document is one whole-text gram")
  }

  test("dsir: native multiset grams equal the HOF formulation (incl. short/empty docs)") {
    val docs = Seq(
      (1L, "a b a b a"),
      (2L, "single"),
      (3L, ""),
      (4L, "  padded   whitespace  run  "),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val native = docs.select(col("doc_id"), Dsir.grams(col("text"), n).as("g"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList)).toMap
      val hof = docs.select(col("doc_id"), HofOracles.gramsHof(col("text"), n).as("g"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList)).toMap
      assert(native == hof, s"n=$n")
    }
  }

  test("dsir: gumbelSample is deterministic and degenerates to selectTop at tiny T") {
    val w = Dsir.logRatioWeights(target, raw, "text", n = 2, buckets = 1024)
    val scored = Dsir.importanceScores(raw, "doc_id", "text", w, n = 2, buckets = 1024)
    val cold = Dsir.gumbelSample(scored, "doc_id", 2, temperature = 1e-9, salt = "g")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val top = Dsir.selectTop(scored, "doc_id", 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cold == top, "T -> 0 must converge to hard top-k")
    val again = Dsir.gumbelSample(scored, "doc_id", 2, temperature = 1e-9, salt = "g")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == cold, "same salt, same draw")
    val warm = Dsir.gumbelSample(scored, "doc_id", 3, temperature = 5.0, salt = "g2")
    assert(warm.count() == 3)
  }
}
