package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Higher-order-function formulations of the native expressions: the
  * same values from stock Spark functions, evaluated interpreted per
  * element. Each is the differential oracle of one native expression
  * or operator, and only specs call them. */
object HofOracles {

  /** [[graft.expressions.SignatureAgreement]]: agreeing positions. */
  def sigAgreementHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)

  /** `Dedup.wordGrams`: distinct word n-grams of the lowercased text. */
  def wordGramsHof(textCol: Column, ngram: Int): Column = {
    val toks = TextAnalysis.tokens(lower(textCol))
    val grams =
      if (ngram == 1) toks
      else when(size(toks) === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), greatest(size(toks) - lit(ngram), lit(0))),
          i => concat_ws(" ", slice(toks, i + 1, lit(ngram)))))
    array_distinct(grams)
  }

  /** [[graft.expressions.PolyMinHashSignature]] over char `k`-shingles —
    * the array the q41/q67 DuckDB SQL mirrors term-for-term. */
  def polyShingleSignatureHof(text: Column, numPerms: Int, k: Int): Column =
    array(Dedup.polySig(Dedup.polyHashes(Dedup.shingles(text, k)), numPerms): _*)

  /** [[graft.expressions.SimHash64]]: per lowercased token the first 16
    * hex digits of its md5 supply 64 bits (bit `i` in digit `i/4` at
    * weight `2^(i%4)`); each bit takes the sign of its ±1 vote sum. One
    * pass over the tokens with a 64-wide vote accumulator; md5 runs once
    * per token. */
  def simhashHof(text: Column): Column = {
    val md5s = transform(TextAnalysis.tokens(lower(text)), t => md5(t))
    val digitArrs = transform(md5s, m =>
      transform(sequence(lit(1), lit(16)),
        j => conv(m.substr(j, lit(1)), 16, 10).cast("int")))
    val weights = typedlit(Seq(1, 2, 4, 8))
    val votes = aggregate(
      digitArrs,
      array_repeat(lit(0), 64),
      (acc, d) => zip_with(
        acc,
        sequence(lit(0), lit(63)),
        (v, i) => {
          val digit = element_at(d, (floor(i / lit(4)) + lit(1)).cast("int"))
          val bit = pmod(
            floor(digit / element_at(weights, pmod(i, lit(4)).cast("int") + lit(1)))
              .cast("int"),
            lit(2))
          v + when(bit === 1, 1).otherwise(-1)
        }))
    (0 until 64).map { i =>
      when(element_at(votes, lit(i + 1)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** `Similarity.dot`: sequential-order dot product. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** `Similarity.hyperplaneBucket`: nBits separate dot products. */
  def hyperplaneBucketHof(vec: Column, dim: Int, nBits: Int, seed: Long): Column = {
    val vd = vec.cast("array<double>")
    val planes = Similarity.hyperplanes(dim, nBits, seed)
    (0 until nBits).map { b =>
      when(Similarity.dot(vd, typedlit(planes(b))) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** `Similarity.quantizeInt8`: the fused Int8Codes/MaxAbs pair. */
  def quantizeInt8Hof(vec: Column): Column = {
    val scale = array_max(transform(vec, x => abs(x.cast("double"))))
    val codes = transform(vec, { x =>
      val r = x.cast("double") / scale * lit(127.0)
      // explicit half-away-from-zero: engines disagree on round()'s mode
      val q = signum(r) * floor(abs(r) + lit(0.5))
      greatest(lit(-127.0), least(lit(127.0), q)).cast("byte")
    })
    struct(
      scale.as("scale"),
      when(scale === 0.0, transform(vec, _ => lit(0).cast("byte")))
        .otherwise(codes).as("codes"))
  }

  /** `TextAnalysis.distinctTokenCount`. */
  def distinctTokenCountHof(text: Column): Column =
    size(array_distinct(TextAnalysis.tokens(text)))

  /** `TextAnalysis.winnowingFingerprints` — cubic in document length
    * (captured-expression re-evaluation), so keep inputs short. */
  def winnowingFingerprintsHof(text: Column, k: Int = 8, w: Int = 4): Column = {
    val canon = TextAnalysis.canonicalize(text)
    val shingleHashes = transform(
      sequence(lit(0), greatest(length(canon) - lit(k), lit(0))),
      i => xxhash64(substr(canon, i + 1, lit(k))))
    // window-min over shingle hashes
    val mins = transform(
      sequence(lit(0), greatest(size(shingleHashes) - lit(w), lit(0))),
      i => array_min(slice(shingleHashes, i + 1, lit(w))))
    // guard: xxhash64(null) returns the SEED, so without this a null
    // text would fingerprint as [42] instead of null
    when(text.isNotNull, array_distinct(mins))
  }

  /** `Dsir.grams`: word n-grams WITH multiplicity. An interpreted lambda
    * re-evaluates its captured expression tree per element, so the token
    * split runs once per window position — O(len²) per document. */
  def gramsHof(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    val out =
      if (n == 1) toks
      else when(size(toks) === 0, toks)
        .when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(toks, i + lit(j + 1))): _*)))
    // legacy size(null) = -1 would fall into the short-doc branch and emit
    // [""] for null text; the native expression (and the oracle) yield null
    when(text.isNotNull, out)
  }

  /** `Similarity.bruteForceTopKAgg` as a ranking window: per query, the
    * k nearest corpus vectors by cosine, ties toward the smaller corpus
    * id. The exact reference of the recall specs and of the heap
    * aggregate's differential spec. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      queryId: String = "vec_id",
      queryVec: String = "embedding"
  ): DataFrame = {
    val scored = Similarity.crossCosine(corpus, queries, corpusId, corpusVec, queryId, queryVec)
      .filter(!isnan(col("cosine"))) // zero-norm vectors: NaN sorts FIRST in Spark
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col(corpusId).asc)
    scored
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= k)
  }
}
