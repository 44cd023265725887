package graft

import org.apache.spark.sql.functions._

import graft.expressions.BpeExpressions
import graft.ops.BpeTrain

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Toy corpus with a hand-verified greedy-BPE merge table (computed by
    * an independent reference implementation: symbols = code points +
    * '</w>', greedy left-to-right merge passes, argmax tie-break
    * count DESC then left/right ASC). */
  private val toyDocs = Seq(
    "the cat sat on the mat",
    "the cats eat fat rats",
    "low lower lowest newer newest",
    "aaaa aaa aa a",
    "  spaced   out\ttabs\nnewlines  ",
    "the the the thee them theme")

  private val expectedMerges = Seq(
    (1, "h", "e", 9L),
    (2, "t", "he", 9L),
    (3, "t", "</w>", 8L),
    (4, "a", "a", 6L),
    (5, "the", "</w>", 6L),
    (6, "a", "t</w>", 5L),
    (7, "n", "e", 4L),
    (8, "s", "</w>", 4L))

  test("training reproduces the reference greedy merge table") {
    val df = toyDocs.toDF("text")
    val merges = BpeTrain.train(df, "text", 8)
    assert(merges.map(m => (m.rank, m.left, m.right, m.pairCount)) == expectedMerges)
  }

  test("merge step is greedy left-to-right: aaaa + (a,a) -> [aa, aa]") {
    val out = Seq("aaaa").toDF("w")
      .select(BpeExpressions.bpeMergeStep(
        BpeExpressions.bpeSymbols(col("w")), "a", "a").as("s"))
      .as[Seq[String]].head()
    assert(out == Seq("aa", "aa", "</w>"))
    // odd run: aaa -> [aa, a]
    val odd = Seq("aaa").toDF("w")
      .select(BpeExpressions.bpeMergeStep(
        BpeExpressions.bpeSymbols(col("w")), "a", "a").as("s"))
      .as[Seq[String]].head()
    assert(odd == Seq("aa", "a", "</w>"))
  }

  test("symbols split by code point, not UTF-16 unit") {
    // U+1F600 is a surrogate pair in UTF-16; it must stay one symbol
    val out = Seq("😀a").toDF("w")
      .select(BpeExpressions.bpeSymbols(col("w")).as("s"))
      .as[Seq[String]].head()
    assert(out == Seq("😀", "a", "</w>"))
  }

  test("encode under k merges equals the training state after k merges") {
    val df = toyDocs.toDF("text")
    val merges = BpeTrain.train(df, "text", 8)
    val pairs = merges.map(m => (m.left, m.right))
    // fold the merge steps one at a time — must equal the single-pass encode
    val words = BpeTrain.wordHistogram(df, "text").select("word")
    val folded = pairs.foldLeft(
      words.withColumn("s", BpeExpressions.bpeSymbols(col("word")))) {
      case (acc, (a, b)) =>
        acc.withColumn("s", BpeExpressions.bpeMergeStep(col("s"), a, b))
    }
    val encoded = words.withColumn("e", BpeExpressions.bpeEncode(col("word"), pairs))
    val joined = folded.join(encoded, "word")
      .filter(col("s") =!= col("e"))
    assert(joined.count() == 0)
  }

  test("training is deterministic under repartitioning") {
    val df = toyDocs.toDF("text")
    val a = BpeTrain.train(df.repartition(7), "text", 6)
    val b = BpeTrain.train(df.repartition(2), "text", 6)
    assert(a == b)
  }

  test("token frequencies are corpus-weighted symbol counts") {
    val df = Seq("ab ab ab", "ab cd").toDF("text")
    // 1 merge: (a,b) wins with count 4
    val merges = BpeTrain.train(df, "text", 1)
    assert(merges.map(m => (m.left, m.right, m.pairCount)) == Seq(("a", "b", 4L)))
    val freq = BpeTrain.tokenFrequencies(df, "text", merges)
      .as[(String, Long)].collect().toMap
    assert(freq("ab") == 4L)      // merged token, once per 'ab' word
    assert(freq("</w>") == 5L)    // every word ends once
    assert(freq("c") == 1L && freq("d") == 1L)
  }

  test("tokensPerDoc counts every word occurrence; empty/null text -> 0") {
    val df = Seq(
      (1L, "ab ab"),
      (2L, "ab"),
      (3L, "   "),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val merges = BpeTrain.train(df, "text", 1)
    val out = BpeTrain.tokensPerDoc(df, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    // after merging (a,b): 'ab' encodes to [ab, </w>] = 2 tokens
    assert(out == Map(1L -> 4L, 2L -> 2L, 3L -> 0L, 4L -> 0L))
  }

  test("empty / null-only corpus trains zero merges without failing") {
    val empty = Seq.empty[String].toDF("text")
    assert(BpeTrain.train(empty, "text", 5).isEmpty)
    val nulls = Seq[String](null, "   ").toDF("text")
    assert(BpeTrain.train(nulls, "text", 5).isEmpty)
    // encoding under zero merges is pure symbolization
    val enc = BpeTrain.tokenFrequencies(Seq("ab").toDF("text"), "text", Nil)
      .as[(String, Long)].collect().toMap
    assert(enc == Map("a" -> 1L, "b" -> 1L, "</w>" -> 1L))
  }

  test("single-symbol exhaustion stops training early, merges stay ranked") {
    // one repeated single-char word: only pair is (x, </w>) — after
    // merging it there are no pairs left; train must stop, not loop
    val df = Seq("x x x").toDF("text")
    val merges = BpeTrain.train(df, "text", 10)
    assert(merges.map(m => (m.rank, m.left, m.right, m.pairCount)) ==
      Seq((1, "x", "</w>", 3L)))
  }

  test("encode expressions stay codegen'd (no interpreter fallback) and shuffle-free") {
    val df = Seq("hello world").toDF("text")
      .select(BpeExpressions.bpeEncode(col("text"), Seq(("l", "l"), ("o", "</w>"))).as("e"))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    // (l,l) fuses the first ll; (o,</w>) finds no adjacency here
    assert(df.as[Seq[String]].head() ==
      Seq("h", "e", "ll", "o", " ", "w", "o", "r", "l", "d", "</w>"))
  }

  test("fertility: per-source token/word ratios, empty source null") {
    val docs = Seq(
      (1L, "a", "low low low low"),       // repeated word: merges compress it
      (2L, "a", "low low"),
      (3L, "b", "zq xkv"),                // rare words: stay fragmented
      (4L, "c", ""))                      // empty: 0 words
      .toDF("doc_id", "source", "text")
    val merges = graft.ops.BpeTrain.train(docs, "text", numMerges = 4)
    val got = graft.ops.BpeTrain.fertility(docs, "doc_id", "text", "source", merges)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(got("a")._1 == 6L) // 6 word occurrences
    assert(got("b")._1 == 2L)
    // the trained merges compress 'low' harder than the rare words
    val fa = got("a")._3.get.asInstanceOf[Double]
    val fb = got("b")._3.get.asInstanceOf[Double]
    assert(fa < fb, s"expected repeated-word source to compress better: $fa vs $fb")
    assert(got("c") == ((0L, 0L, None))) // nothing to judge -> null ratio
  }

  test("bpe artifact: save/load round-trips the ordered merges; torn pair refuses") {
    val docs = Seq.fill(5)(Tuple1("abab abba baba")).toDF("text")
    val merges = BpeTrain.train(docs, "text", numMerges = 6)
    val path = tempDir("graft-bpe-art")
    BpeTrain.saveBpe(spark, merges, path)
    val back = BpeTrain.loadBpe(spark, path)
    assert(back == merges, "ordered merges must survive disk exactly")
    // encodes through the loaded artifact are bit-identical
    val probe = Seq(Tuple1("ababba")).toDF("text")
    val a = BpeTrain.encodeWords(probe, "text", merges)
      .collect().map(_.toSeq).toSet
    val b = BpeTrain.encodeWords(probe, "text", back)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    // torn artifact: clobber merges/ with a subset, stats still pins all
    spark.read.parquet(s"$path/merges").limit(2)
      .write.mode("overwrite").parquet(s"$path/m2")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/merges"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/m2"),
      new org.apache.hadoop.fs.Path(s"$path/merges"))
    val e = intercept[IllegalArgumentException](BpeTrain.loadBpe(spark, path))
    assert(e.getMessage.contains("torn"), e.getMessage)
  }

  test("batched train ≡ sequential train on interacting and disjoint corpora") {
    // adversarial corpora: chained runs where a merge creates a NEW pair
    // that must win the very next rank (the batch prefix rule must stop
    // rather than commit the stale runner-up), self-pairs, ties broken
    // by binary order, and a flat corpus where everything is disjoint
    // and the batch can legally be large
    val corpora = Seq(
      toyDocs,
      Seq("abababab ababab abab", "ab ba ab ba"), // (a,b) -> dominant (ab,ab)
      Seq("aaaa aaa aa a", "aaaaaa aaaaa"), // self-pair chains
      Seq("xy xz yx zy", "qr st uv wx"), // many disjoint count-1 ties
      Seq("the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs"),
      // created-symbol collisions: two-letter runs where one merge's
      // concatenation (ab, aa, ...) is itself a symbol other candidates
      // carry — the batch must reject (stop at) such candidates, since
      // the earlier member mints new copies of that exact string
      {
        val rnd = new scala.util.Random(41)
        Seq.fill(6)(Seq.fill(8)(
          if (rnd.nextBoolean()) "a" * (1 + rnd.nextInt(4))
          else "b" * (1 + rnd.nextInt(3))).mkString("")).mkString(" ").split(" ").toSeq
      })
    for (docs <- corpora; n <- Seq(4, 10)) {
      val df = docs.map(Tuple1(_)).toDF("text")
      val seqM = BpeTrain.trainSequential(df, "text", n)
      for (batch <- Seq(2, 8, 64)) {
        val batM = BpeTrain.train(df, "text", n, maxBatch = batch)
        assert(batM == seqM,
          s"maxBatch=$batch diverged on ${docs.head.take(20)}...: " +
            s"batched=$batM sequential=$seqM")
      }
      // the delta-maintained pair table (the default above) equals the
      // full per-round re-aggregation — the induction the train
      // scaladoc claims
      val reagg = BpeTrain.trainCounted(df, "text", n, maxBatch = 8,
        deltaPairs = false)._1
      val delta = BpeTrain.trainCounted(df, "text", n, maxBatch = 8,
        deltaPairs = true)._1
      assert(delta == reagg,
        s"delta pair table diverged on ${docs.head.take(20)}...")
    }
  }

  test("approximate batched mode: deterministic, full batches, exact on disjoint corpora") {
    // on a corpus where exact batching is legal the approx mode agrees
    val disjoint = (Seq.fill(5)("ababi") ++ Seq.fill(4)("cdcdj") ++
      Seq.fill(3)("efefk")).map(Tuple1(_)).toDF("text")
    assert(BpeTrain.train(disjoint, "text", 3, exactGreedy = false) ==
      BpeTrain.trainSequential(disjoint, "text", 3))
    // on cascade-heavy text it commits big batches: far fewer rounds
    // than merges, deterministic under repartitioning
    val docs = (toyDocs ++ toyDocs.map(_.toUpperCase)).map(Tuple1(_)).toDF("text")
    val (m1, r1) = BpeTrain.trainCounted(docs, "text", 24,
      maxBatch = 8, exactGreedy = false)
    assert(m1.size == 24)
    assert(r1 <= 5, s"approx mode should need ~merges/maxBatch rounds, took $r1")
    val (m2, r2) = BpeTrain.trainCounted(docs.repartition(11), "text", 24,
      maxBatch = 8, exactGreedy = false)
    assert(m1 == m2 && r1 == r2, "approx mode must stay deterministic")
    // the learned merges still produce a working encoder (every word
    // encodes, token streams reassemble the symbols)
    val enc = BpeTrain.encodeWords(docs, "text", m1)
    assert(enc.filter(size(col("tokens")) === 0).count() == 0)
  }

  test("batched train commits multiple merges per round on a disjoint corpus") {
    // interior pairs with strictly descending counts and disjoint symbols
    // (doubled inside each word so they outrank every </w> pair): the
    // prefix rule must accept all three in ONE round — the merges/job
    // ratio the 32k-vocab asymptote depends on — and still match the
    // sequential reference exactly
    val docs = (Seq.fill(5)("ababi") ++ Seq.fill(4)("cdcdj") ++
      Seq.fill(3)("efefk")).map(Tuple1(_)).toDF("text")
    val m = BpeTrain.train(docs, "text", numMerges = 4, maxBatch = 64)
    assert(m.take(3).map(x => (x.left, x.right, x.pairCount)) ==
      Seq(("a", "b", 10L), ("c", "d", 8L), ("e", "f", 6L)))
    assert(m == BpeTrain.trainSequential(docs, "text", 4))
  }
}
