package graft

import org.apache.spark.sql.functions._

import graft.ops.{BpeTrain, UnigramTrain}

/** Unigram-LM tokenizer training (SentencePiece-style hard EM). */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def viterbiOf(word: String, pieces: Seq[(String, Double)], L: Int): Seq[String] = {
    val df = Seq(Tuple1(word)).toDF("w")
    df.select(graft.expressions.UnigramExpressions
        .unigramViterbi(col("w"), pieces, L).as("t"))
      .head().getSeq[String](0)
  }

  test("viterbi: exhaustive-enumeration differential on random words") {
    val rnd = new scala.util.Random(13L)
    val alphabet = "abc"
    // random scores, deliberately irregular so optima are informative
    val pieces: Seq[(String, Double)] = {
      val singles = alphabet.map(c => c.toString)
      val multis = (1 to 12).map(_ =>
        (1 to (2 + rnd.nextInt(2))).map(_ => alphabet(rnd.nextInt(3))).mkString)
      (singles ++ multis.distinct).distinct.map(p => p -> (-1.0 - rnd.nextDouble() * 3.0))
    }
    val scoreOf = pieces.toMap
    def allSegs(w: String, L: Int): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Seq.empty)
      else (1 to math.min(L, w.length)).flatMap { l =>
        val p = w.substring(0, l)
        if (!scoreOf.contains(p)) Seq.empty
        else allSegs(w.substring(l), L).map(p +: _)
      }
    for (_ <- 1 to 30) {
      val w = (1 to (3 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(3))).mkString
      val got = viterbiOf(w, pieces, L = 3)
      assert(got.mkString == w, s"segmentation must tile the word: $w -> $got")
      val bestScore = allSegs(w, 3).map(_.map(scoreOf).sum).max
      assertNear(got.map(scoreOf).sum, bestScore, 1e-12)
    }
  }

  test("viterbi: ties prefer the smallest piece length; OOV falls back to chars") {
    // 'ab' and the chain a,b are score-equal: 'aa'... construct exact tie:
    // score(ab) == score(a) + score(b) bitwise (powers of two)
    val pieces = Seq("a" -> -1.0, "b" -> -2.0, "ab" -> -3.0)
    // at position 2: l=1 path (a then b) = -3.0, l=2 piece ab = -3.0 ->
    // tie, smallest l wins: the two-piece segmentation
    assert(viterbiOf("ab", pieces, 2) == Seq("a", "b"))
    // strictly better fused piece wins
    assert(viterbiOf("ab", Seq("a" -> -1.0, "b" -> -2.0, "ab" -> -2.5), 2) == Seq("ab"))
    // out-of-vocabulary char: single-char fallback keeps encode total
    assert(viterbiOf("axb", pieces, 2) == Seq("a", "x", "b"))
    assert(viterbiOf("", pieces, 2) == Seq.empty)
  }

  test("train: hard-EM replay matches an in-memory reference run") {
    val docs = Seq(
      "river bank river", "bank note bank", "river note",
      "rivernote bank", "note note river").map(Tuple1(_)).toDF("text")
    val (lMax, vSize, iters) = (4, 24, 2)
    val got = UnigramTrain.train(docs, "text", lMax, vSize, iters)
      .map(p => p.piece -> p.count)
    // reference: same algorithm, independent in-memory implementation
    val words = Seq("river bank river", "bank note bank", "river note",
        "rivernote bank", "note note river")
      .flatMap(_.trim.split("\\s+").filter(_.nonEmpty))
    val hist = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val cand = hist.toSeq.flatMap { case (w, c) =>
      for (i <- 0 until w.length; l <- 1 to math.min(lMax, w.length - i))
        yield (w.substring(i, i + l), c)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val ranked = cand.toSeq.sortBy { case (p, c) => (-c, p) }
    var vocab = ranked.zipWithIndex
      .filter { case ((p, _), i) => i < vSize || p.length == 1 }.map(_._1)
    def vit(w: String, sc: Map[String, Double]): Seq[String] = {
      val n = w.length
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      val back = new Array[Int](n + 1)
      best(0) = 0.0
      for (i <- 1 to n; l <- 1 to math.min(lMax, i)) {
        sc.get(w.substring(i - l, i)).foreach { s =>
          if (best(i - l) + s > best(i)) { best(i) = best(i - l) + s; back(i) = l }
        }
      }
      var p = n; val acc = scala.collection.mutable.ListBuffer.empty[String]
      while (p > 0) { acc.prepend(w.substring(p - back(p), p)); p -= back(p) }
      acc.toSeq
    }
    for (_ <- 1 to iters) {
      val total = vocab.map(_._2).sum
      val sc = vocab.map { case (p, c) =>
        p -> (math.log(c.toDouble) - math.log(total.toDouble))
      }.toMap
      val counts = scala.collection.mutable.Map.empty[String, Long]
      hist.foreach { case (w, c) =>
        vit(w, sc).foreach(p => counts(p) = counts.getOrElse(p, 0L) + c)
      }
      vocab = counts.toSeq
    }
    val want = vocab.sortBy { case (p, c) => (-c, p) }
    assert(got == want, s"got $got\nwant $want")
  }

  test("planted morpheme corpus: unigram fertility beats BPE") {
    // words compose from two 4-char morphemes; a 4-piece unigram vocab
    // covers every word in 1-2 pieces, while 6 BPE merges (character
    // bigrams up) cannot rebuild both morphemes AND their end-marked
    // variants
    val rows = (1L to 40L).map { i =>
      val w = i % 4 match {
        case 0 => "abcd"; case 1 => "efgh"; case 2 => "abcdefgh"; case _ => "efghabcd"
      }
      (i, s"$w $w $w", "planted")
    }
    val docs = rows.toDF("doc_id", "text", "source")
    val uni = UnigramTrain.train(docs, "text", maxPieceLen = 4, vocabSize = 64, iters = 2)
    val uniF = UnigramTrain.fertility(docs, "doc_id", "text", "source", uni)
      .head().getAs[Double]("fertility_r")
    val merges = BpeTrain.train(docs, "text", numMerges = 6)
    val bpeF = BpeTrain.fertility(docs, "doc_id", "text", "source", merges)
      .head().getAs[Double]("fertility_r")
    assert(uniF <= 2.0, s"unigram fertility $uniF should be <= 2 pieces/word")
    assert(uniF < bpeF, s"unigram $uniF must beat BPE $bpeF on the planted corpus")
  }

  test("docLogProb: hand-checked fold, empty docs null out, repeats fold in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ab ab"), (2L, "a b"), (3L, ""), (4L, "ab a")
    ).toDF("doc_id", "text")
    // hand-built vocabulary: counts 2,1,1 -> total 4
    val pieces = Seq(UnigramTrain.Piece("ab", 2L),
      UnigramTrain.Piece("a", 1L), UnigramTrain.Piece("b", 1L))
    val lnAb = math.log(2.0) - math.log(4.0)
    val lnA = math.log(1.0) - math.log(4.0)
    val got = byKey(UnigramTrain.docLogProb(docs, "doc_id", "text", pieces, 2), "doc_id")
    // doc 1: two 'ab' words, each one piece (ab beats a+b: -0.69 > -2.77)
    assert(got(1L).getAs[Long]("n_pieces") == 2L)
    assertNear(got(1L).getAs[Double]("sum_lnp_r"),
      BigDecimal(lnAb + lnAb).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble, 1e-9)
    // doc 2: 'a' + 'b' single-char pieces
    assert(got(2L).getAs[Long]("n_pieces") == 2L)
    // doc 3: empty -> zero pieces, null scores
    assert(got(3L).getAs[Long]("n_pieces") == 0L)
    assert(got(3L).isNullAt(got(3L).fieldIndex("avg_lnp_r")))
    // doc 4: 'ab' + 'a' = 2 pieces, avg = (lnAb + lnA) / 2
    assertNear(got(4L).getAs[Double]("avg_lnp_r"),
      BigDecimal((lnAb + lnA) / 2.0).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble, 1e-6)
  }

  test("train: word over maxWordLen refuses loudly; codegen path stays compiled") {
    val docs = Seq(Tuple1("short " + "x" * 30)).toDF("text")
    val err = intercept[Exception] {
      UnigramTrain.train(docs, "text", maxWordLen = 16)
    }
    assert(err.getMessage.contains("maxWordLen"), err.getMessage)
    // the native expression must survive codegen (no interpreter fallback)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = Seq(Tuple1("riverbank")).toDF("w")
        .select(graft.expressions.UnigramExpressions
          .unigramViterbi(col("w"), Seq("river" -> -1.0, "bank" -> -1.5,
            "r" -> -9.0, "i" -> -9.0, "v" -> -9.0, "e" -> -9.0, "b" -> -9.0,
            "a" -> -9.0, "n" -> -9.0, "k" -> -9.0), 5).as("t"))
        .head().getSeq[String](0)
      assert(out == Seq("river", "bank"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("candidateVocab: two-level top-K equals the brute rank; partition-invariant") {
    val rnd = new scala.util.Random(31L)
    val docs = (0 until 200).map { _ =>
      Tuple1((0 until (1 + rnd.nextInt(5)))
        .map(_ => (0 until (1 + rnd.nextInt(6)))
          .map(_ => "abcd"(rnd.nextInt(4))).mkString).mkString(" "))
    }.toDF("text")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = asSet(UnigramTrain.candidateVocab(docs, "text",
      maxPieceLen = 3, vocabSize = 10))
    // brute reference: exact long rank (count DESC, piece ASC) + singles
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.collect().foreach { r =>
      r.getString(0).split("\\s+").filter(_.nonEmpty).foreach { w =>
        for (i <- 0 until w.length; l <- 1 to math.min(3, w.length - i))
          counts(w.substring(i, i + l)) = counts.getOrElse(w.substring(i, i + l), 0L) + 1L
      }
    }
    val ranked = counts.toSeq.sortBy { case (p, c) => (-c, p) }
    val want = (ranked.take(10) ++ ranked.filter(_._1.length == 1)).toSet
    assert(got == want, s"missing=${want -- got}, extra=${got -- want}")
    // the per-partition pre-cut must not depend on the physical layout
    val got13 = asSet(UnigramTrain.candidateVocab(docs.repartition(13), "text",
      maxPieceLen = 3, vocabSize = 10))
    assert(got13 == want)
  }

  test("encodeDocs: word-order piece-id streams, vocab-rank ids, empty docs") {
    // vocab trained on a corpus where 'ab' dominates: ranks are pinned
    // by (count DESC, piece ASC)
    val train = Seq.fill(6)(Tuple1("abab ab")).toDF("text")
    val pieces = UnigramTrain.train(train, "text",
      maxPieceLen = 2, vocabSize = 4, iters = 2, maxWordLen = 8)
    val rank = pieces.zipWithIndex.map { case (p, i) => p.piece -> (i + 1L) }.toMap
    val docs = Seq(
      (1L, "ab abab"),
      (2L, ""),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = byKey(UnigramTrain.encodeDocs(docs, "doc_id", "text", pieces,
      maxPieceLen = 2), "doc_id")
    // doc 1: 'ab' -> [ab]; 'abab' -> [ab, ab] — concatenated in word order
    assert(got(1L).getSeq[Long](2) == Seq(rank("ab"), rank("ab"), rank("ab")))
    assert(got(1L).getAs[Long]("n_pieces") == 3L)
    // token-less docs carry empty arrays, not nulls
    assert(got(2L).getAs[Long]("n_pieces") == 0L && got(2L).getSeq[Long](2).isEmpty)
    assert(got(3L).getAs[Long]("n_pieces") == 0L && got(3L).getSeq[Long](2).isEmpty)
    // OOV text (chars the vocab never saw) encodes as id 0 per fallback piece
    val oov = byKey(UnigramTrain.encodeDocs(
      Seq((9L, "zz")).toDF("doc_id", "text"), "doc_id", "text", pieces,
      maxPieceLen = 2), "doc_id")
    assert(oov(9L).getSeq[Long](2).forall(_ == 0L) &&
      oov(9L).getAs[Long]("n_pieces") > 0L)
  }

  test("tokenizer artifact: save/load round-trips pieces, order, and the bound") {
    val train = Seq.fill(6)(Tuple1("abab ab ba")).toDF("text")
    val pieces = UnigramTrain.train(train, "text",
      maxPieceLen = 2, vocabSize = 4, iters = 2, maxWordLen = 8)
    val path = tempDir("graft-tok-art")
    UnigramTrain.saveTokenizer(spark, pieces, path, maxPieceLen = 2)
    val tk = UnigramTrain.loadTokenizer(spark, path)
    assert(tk.pieces == pieces, "pieces and their pinned order must survive disk")
    assert(tk.maxPieceLen == 2, "the Viterbi bound travels with the artifact")
  }

  test("encodeDocsPreindexed: bit-identical to the in-memory encode chain") {
    val train = Seq.fill(6)(Tuple1("abab ab")).toDF("text")
    val pieces = UnigramTrain.train(train, "text",
      maxPieceLen = 2, vocabSize = 4, iters = 2, maxWordLen = 8)
    val path = tempDir("graft-tok-pre")
    UnigramTrain.saveTokenizer(spark, pieces, path, maxPieceLen = 2)
    val docs = Seq((1L, "ab abab"), (2L, ""), (3L, "zz ab")).toDF("doc_id", "text")
    val inline = byKey(UnigramTrain.encodeDocs(docs, "doc_id", "text", pieces,
      maxPieceLen = 2), "doc_id")
    val served = byKey(UnigramTrain.encodeDocsPreindexed(
      spark, path, docs, "doc_id", "text"), "doc_id")
    for (k <- Seq(1L, 2L, 3L)) {
      assert(served(k).getSeq[Long](2) == inline(k).getSeq[Long](2))
      assert(served(k).getAs[Long]("n_pieces") == inline(k).getAs[Long]("n_pieces"))
    }
  }

  test("loadTokenizer: a torn artifact (vocab/stats mismatch) refuses loudly") {
    val train = Seq.fill(4)(Tuple1("ab ba")).toDF("text")
    val pieces = UnigramTrain.train(train, "text",
      maxPieceLen = 2, vocabSize = 4, iters = 1, maxWordLen = 8)
    val path = tempDir("graft-tok-torn")
    UnigramTrain.saveTokenizer(spark, pieces, path, maxPieceLen = 2)
    // simulate a torn write: clobber vocab/ with a strict subset while
    // the stats row still pins the full count
    spark.read.parquet(s"$path/vocab").limit(1)
      .write.mode("overwrite").parquet(s"$path/vocab2")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/vocab"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/vocab2"),
      new org.apache.hadoop.fs.Path(s"$path/vocab"))
    val e = intercept[IllegalArgumentException] {
      UnigramTrain.loadTokenizer(spark, path)
    }
    assert(e.getMessage.contains("torn"), s"message names the tear: ${e.getMessage}")
  }
}
