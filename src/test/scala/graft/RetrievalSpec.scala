package graft

import org.apache.spark.sql.functions._

import graft.ops.{Outliers, Retrieval}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("vocabulary counts doc and term frequency with a deterministic cut") {
    val docs = Seq(
      (1L, "a b a c"),
      (2L, "a b"),
      (3L, "c c c d"),
      (4L, "")
    ).toDF("doc_id", "text")
    val v = Retrieval.vocabulary(docs, "doc_id", "text", topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a: df 2 cf 3 | b: df 2 cf 2 | c: df 2 cf 4 | d: df 1 cf 1
    // tie on df=2 breaks term-asc: a, b, c
    assert(v.toSeq == Seq(("a", 2L, 3L), ("b", 2L, 2L), ("c", 2L, 4L)))
  }

  test("topNgrams: per-group bigram counts, k cut, count-then-binary tie order") {
    val docs = Seq(
      (1L, "en", "a b a b c"),   // bigrams: "a b"x2, "b a", "b c"
      (2L, "en", "a b"),         // "a b"
      (3L, "en", "x"),           // short doc: ONE short gram "x" (WordGrams convention)
      (4L, "de", "u v u v"),     // "u v"x2, "v u"
      (5L, "de", "")             // empty: no tokens
    ).toDF("doc_id", "lang", "text")
    val got = Retrieval.topNgrams(docs, "text", "lang", n = 2, k = 2)
      .orderBy("lang", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("de", 1L, "u v", 2L), ("de", 2L, "v u", 1L),
      ("en", 1L, "a b", 3L), ("en", 2L, "b a", 1L))) // "b a" < "b c" on the tie

    // the short-doc gram is present in the tail; the empty doc yields none
    val tail = Retrieval.topNgrams(docs, "text", "lang", n = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(tail.contains(("en", "x")))
    assert(!tail.exists(_._1 == null))
  }

  test("frequentNgrams: exact thresholded counts, even with a degenerate sketch width") {
    val docs = Seq(
      (1L, "en", "a b a b a b"),   // "a b"x3, "b a"x2
      (2L, "en", "a b c d"),       // "a b", "b c", "c d"
      (3L, "de", "a b a b"),       // "a b"x2, "b a"
      (4L, null.asInstanceOf[String], "z z z z")  // null group: "z z"x3
    ).toDF("doc_id", "lang", "text")
    def run(width: Int) = Retrieval.frequentNgrams(
        docs, "text", "lang", n = 2, minCount = 2, depth = 2, width = width)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = Set(("en", "a b", 4L), ("en", "b a", 2L), ("de", "a b", 2L),
      (null, "z z", 3L))
    assert(run(128) == want)
    // an undersized sketch (every gram collides) must still be EXACT —
    // it only loses the prefiltering, never the answer
    assert(run(2) == want)
  }

  test("topNgrams: n=1 degenerates to per-group token counts") {
    val docs = Seq((1L, "en", "t t s"), (2L, "en", "s")).toDF("doc_id", "lang", "text")
    val got = Retrieval.topNgrams(docs, "text", "lang", n = 1, k = 1)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq(("en", "s", 2L))) // s ties t at 2, binary-smaller wins
  }

  test("bm25Search scores match the hand-computed formula and rank by score") {
    val docs = Seq(
      (10L, "apple banana apple"), // tf(apple)=2, dl=3
      (20L, "apple cherry"),       // tf(apple)=1, dl=2
      (30L, "durian elderberry fig grape") // no match, dl=4
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "apple")).toDF("qid", "qtext")
    val got = Retrieval.bm25Search(docs, "doc_id", "text", qs, "qid", "qtext", topK = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))

    val n = 3.0; val df = 2.0; val avgdl = 3.0; val k1 = 1.2; val b = 0.75
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def s(tf: Double, dl: Double) =
      idf * ((tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / avgdl)))
    assert(got.length == 2) // the no-match doc never appears
    assert(got(0)._2 == 10L && got(1)._2 == 20L)
    assertNear(got(0)._3, s(2, 3))
    assertNear(got(1)._3, s(1, 2))
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
  }

  test("bm25Search: duplicate query terms don't double-count; rarer term outweighs common") {
    val docs = Seq(
      (1L, "x common common"),
      (2L, "rare common"),
      (3L, "common filler pad"),
      (4L, "filler pad again")
    ).toDF("doc_id", "text")
    val qs = Seq((7L, "rare rare common")).toDF("qid", "qtext")
    val res = Retrieval.bm25Search(docs, "doc_id", "text", qs, "qid", "qtext", topK = 5)
    val top = res.orderBy("rank").collect()
    // doc 2 holds the rare term -> must rank first
    assert(top.head.getLong(2) == 2L)
    // dedup check: the same result with an already-distinct query text
    val qs2 = Seq((7L, "rare common")).toDF("qid", "qtext")
    val res2 = Retrieval.bm25Search(docs, "doc_id", "text", qs2, "qid", "qtext", topK = 5)
    assert(res.collect().map(_.toSeq).toSeq == res2.collect().map(_.toSeq).toSeq)
  }

  test("bm25SearchPrf: expansion terms bridge vocabulary mismatch; exclusions and ceilings hold") {
    // query says "automobile"; only doc 1 says both "automobile" and
    // "car", the rest of the car cluster says only "car" — plain BM25
    // finds doc 1 alone, PRF harvests "car" from it and reaches the rest
    val docs = Seq(
      (1L, "automobile car motor"),
      (2L, "car engine wheels car"),
      (3L, "car brake pads"),
      (4L, "banana smoothie recipe")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "automobile")).toDF("qid", "qtext")
    val plain = Retrieval.bm25Search(docs, "doc_id", "text", qs, "qid", "qtext",
      topK = 10).select("doc_id").as[Long].collect().toSet
    assert(plain == Set(1L), s"plain bm25 should only reach doc 1: $plain")
    val prf = Retrieval.bm25SearchPrf(docs, "doc_id", "text", qs, "qid", "qtext",
      topK = 10, fbDocs = 2, fbTerms = 2, minTermLen = 3)
    val reached = prf.select("doc_id").as[Long].collect().toSet
    assert(Set(2L, 3L).subsetOf(reached),
      s"expansion must reach the car cluster: $reached")
    assert(!reached.contains(4L), "unrelated docs stay unreachable")
    // the original term keeps contributing: doc 1 (automobile AND the
    // expansion terms) outranks the expansion-only docs
    val top = prf.orderBy("rank").select("doc_id").as[Long].head()
    assert(top == 1L, s"the original-term doc must stay on top, got $top")
    // expansion terms exclude the original query's own terms and respect
    // minTermLen: with every candidate shorter than the floor, PRF
    // degenerates to plain BM25
    val same = Retrieval.bm25SearchPrf(docs, "doc_id", "text", qs, "qid", "qtext",
      topK = 10, fbDocs = 2, fbTerms = 2, minTermLen = 20)
      .select("qid", "doc_id", "score").collect().map(_.toSeq).toSet
    val base = Retrieval.bm25Search(docs, "doc_id", "text", qs, "qid", "qtext",
      topK = 10).select("qid", "doc_id", "score").collect().map(_.toSeq).toSet
    assert(same == base, "no eligible candidates => pass two == plain bm25")
    // partition invariance
    val a = prf.collect().map(_.toSeq).toSet
    val b = Retrieval.bm25SearchPrf(docs.repartition(7), "doc_id", "text",
      qs.repartition(3), "qid", "qtext", topK = 10, fbDocs = 2, fbTerms = 2,
      minTermLen = 3).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("bm25SearchPrfPreindexed: bit-identical to ad-hoc PRF; empty forward degrades to plain") {
    val docs = Seq(
      (1L, "automobile car motor"),
      (2L, "car engine wheels car"),
      (3L, "car brake pads"),
      (4L, "banana smoothie recipe")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "automobile"), (2L, "banana recipe")).toDF("qid", "qtext")
    val idx = tempDir("graft-prf-idx")
    val fwd = tempDir("graft-prf-fwd")
    Retrieval.saveBm25Index(docs, "doc_id", "text", idx, numBuckets = 8)
    Retrieval.saveBm25Forward(docs, "doc_id", "text", fwd, numBuckets = 4)
    val adhoc = Retrieval.bm25SearchPrf(docs, "doc_id", "text", qs, "qid", "qtext",
      topK = 10, fbDocs = 2, fbTerms = 2, minTermLen = 3)
      .collect().map(_.toSeq).toSet
    val served = Retrieval.bm25SearchPrfPreindexed(spark, idx, fwd, qs,
      "qid", "qtext", topK = 10, fbDocs = 2, fbTerms = 2, minTermLen = 3)
      .collect().map(_.toSeq).toSet
    assert(served == adhoc, s"served PRF must equal ad-hoc PRF:\n$served\n$adhoc")
    // a forward sidecar seeded EMPTY (before data) degrades to plain
    // preindexed BM25 instead of failing
    val fwd0 = tempDir("graft-prf-fwd0")
    Retrieval.saveBm25Forward(docs.limit(0), "doc_id", "text", fwd0, numBuckets = 4)
    val degraded = Retrieval.bm25SearchPrfPreindexed(spark, idx, fwd0, qs,
      "qid", "qtext", topK = 10, fbDocs = 2, fbTerms = 2)
      .collect().map(_.toSeq).toSet
    val plain = Retrieval.bm25SearchPreindexed(spark, idx, qs, "qid", "qtext",
      topK = 10).collect().map(_.toSeq).toSet
    assert(degraded == plain)
    // an index/sidecar pair built on DIFFERENT id columns refuses
    // loudly — the silent alternative is a feedback join matching
    // nothing (degrading to plain BM25 with no signal)
    val fwdOther = tempDir("graft-prf-mid")
    Retrieval.saveBm25Forward(docs.withColumnRenamed("doc_id", "other_id"),
      "other_id", "text", fwdOther, numBuckets = 4)
    val eMis = intercept[IllegalArgumentException] {
      Retrieval.bm25SearchPrfPreindexed(spark, idx, fwdOther, qs,
        "qid", "qtext", topK = 10, fbDocs = 2, fbTerms = 2)
    }
    assert(eMis.getMessage.contains("out of step"), eMis.getMessage)
  }

  test("expandChunkContext: stitch reconstructs the exact source span, edges clamp") {
    // a 520-char doc chunks into 4 windows (200 @ stride 150)
    val text = (0 until 520).map(i => ('a' + (i % 26)).toChar).mkString
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val chunks = Retrieval.chunkText(docs, "doc_id", "text", 200, 50)
      .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
    assert(chunks.count() == 4)
    def ctx(cid: Long, w: Int) = Retrieval.expandChunkContext(
        Seq((1L, cid)).toDF("qid", "cid"), chunks, "qid", "cid", window = w)
      .head()
    // middle hit: ±1 stitch == the exact original span [150, 500)
    val mid = ctx(7001L, 1)
    assert(mid.getAs[Long]("doc_id") == 7L &&
      mid.getAs[Long]("chunk_lo") == 0L && mid.getAs[Long]("chunk_hi") == 2L)
    assert(mid.getAs[String]("context") == text.substring(0, 500),
      "stitch must reconstruct the source span exactly")
    val mid2 = ctx(7002L, 1)
    assert(mid2.getAs[String]("context") == text.substring(150, 520) &&
      mid2.getAs[Long]("chunk_lo") == 1L && mid2.getAs[Long]("chunk_hi") == 3L)
    // left edge clamps at chunk 0; right edge at the last chunk
    val first = ctx(7000L, 1)
    assert(first.getAs[Long]("chunk_lo") == 0L && first.getAs[Long]("chunk_hi") == 1L)
    assert(first.getAs[String]("context") == text.substring(0, 350))
    val last = ctx(7003L, 1)
    assert(last.getAs[Long]("chunk_lo") == 2L && last.getAs[Long]("chunk_hi") == 3L)
    assert(last.getAs[String]("context") == text.substring(300, 520))
    // window = 0 returns the hit chunk itself
    assert(ctx(7001L, 0).getAs[String]("context") == text.substring(150, 350))
    // a wide window covers the whole doc
    assert(ctx(7000L, 10).getAs[String]("context") == text)
  }

  test("collapseChunkRanking: best chunk rank per doc, stable doc re-rank") {
    // doc 7's chunks hold ranks 1 and 3; doc 9 holds rank 2: the doc
    // page is 7 (best 1), 9 (best 2) — one hit per doc, not three rows
    val hits = Seq(
      (1L, 7001L, 1), (1L, 9000L, 2), (1L, 7003L, 3), (1L, 4002L, 4),
      (2L, 9001L, 1)
    ).toDF("qid", "cid", "rank")
    val r = Retrieval.collapseChunkRanking(hits, "qid", "cid", "rank")
      .orderBy("qid", "doc_rank")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getInt(3)))
    assert(r.toSeq == Seq(
      (1L, 7L, 1L, 1), (1L, 9L, 2L, 2), (1L, 4L, 4L, 3),
      (2L, 9L, 1L, 1)), r.mkString(", "))
    // partition invariance
    val a = Retrieval.collapseChunkRanking(hits, "qid", "cid", "rank")
      .collect().map(_.toSeq).toSet
    val b = Retrieval.collapseChunkRanking(hits.repartition(5), "qid", "cid",
      "rank").collect().map(_.toSeq).toSet
    assert(a == b)
    // feeds doc-grain eval directly: rankingMetrics accepts the output
    val qrels = Seq((1L, 7L, 1), (1L, 4L, 1)).toDF("qid", "doc_id", "rel")
    val m = graft.ops.RankEval.rankingMetrics(
      Retrieval.collapseChunkRanking(hits, "qid", "cid", "rank"),
      qrels, "qid", "doc_id", "doc_rank", "rel", k = 3)
      .filter(col("qid") === 1L).head()
    assert(m.getAs[Long]("n_hits") == 2L)
  }

  test("spellCorrect: delete-key join finds distance-1 candidates; exact match wins; ceiling refuses") {
    val vocab = Seq(("spark", 100L), ("spank", 50L), ("spar", 5L),
      ("shuffle", 80L)).toDF("term", "freq")
    val qs = Seq((1L, "spark"), (2L, "shufle"), (3L, "zzz"))
      .toDF("qid", "term")
    val r = Retrieval.spellCorrect(qs, "qid", "term", vocab, "term", "freq",
        topK = 3)
      .orderBy("qid", "sugg_rank")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2),
        x.getInt(3), x.getLong(4), x.getInt(5)))
    // exact match ranks first at distance 0; distance-1 ties rank by
    // frequency desc; an insertion-error query still meets its word
    // through the vocab side's delete key
    assert(r.toSeq == Seq(
      (1L, "spark", "spark", 0, 100L, 1),
      (1L, "spark", "spank", 1, 50L, 2),
      (1L, "spark", "spar", 1, 5L, 3),
      (2L, "shufle", "shuffle", 1, 80L, 1)), r.mkString(", "))
    // partition invariance
    val a = Retrieval.spellCorrect(qs, "qid", "term", vocab, "term", "freq")
      .collect().map(_.toSeq).toSet
    val b = Retrieval.spellCorrect(qs.repartition(5), "qid", "term",
      vocab.repartition(3), "term", "freq").collect().map(_.toSeq).toSet
    assert(a == b)
    // term-length ceiling refuses loudly
    val e = intercept[Exception] {
      Retrieval.spellCorrect(Seq((1L, "a" * 20)).toDF("qid", "term"),
        "qid", "term", vocab, "term", "freq", maxTermLen = 8).collect()
    }
    assert(e.getMessage.contains("maxTermLen"))
  }

  test("spellCorrect maxEdits=2: transpositions and double deletions reachable, distance ranks first") {
    val vocab = Seq(("spark", 100L), ("spam", 500L), ("shuffle", 80L))
      .toDF("term", "freq")
    val qs = Seq((1L, "sprak"), (2L, "spk"), (3L, "sprk"))
      .toDF("qid", "term")
    // maxEdits=1 cannot reach the transposition or the double deletion
    val r1 = Retrieval.spellCorrect(qs, "qid", "term", vocab, "term",
        "freq", topK = 1, maxEdits = 1)
      .collect().map(x => (x.getLong(0), x.getString(2), x.getInt(3))).toSet
    assert(r1 == Set((3L, "spark", 1)), r1.mkString(", "))
    // maxEdits=2 reaches both; frequency breaks the distance-2 ties
    // (spam at 5x freq wins them), but a CLOSER candidate outranks a
    // more frequent farther one (sprk: spark d1 beats spam d2)
    val r2 = Retrieval.spellCorrect(qs, "qid", "term", vocab, "term",
        "freq", topK = 1, maxEdits = 2)
      .collect().map(x => (x.getLong(0), x.getString(2), x.getInt(3))).toSet
    assert(r2 == Set((1L, "spam", 2), (2L, "spam", 2), (3L, "spark", 1)),
      r2.mkString(", "))
    val e = intercept[IllegalArgumentException] {
      Retrieval.spellCorrect(qs, "qid", "term", vocab, "term", "freq",
        maxEdits = 3)
    }
    assert(e.getMessage.contains("maxEdits"))
  }

  test("phraseSearch: adjacency verified, occurrences counted, repeated-term phrases exact") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "quick brown quick brown fox"),
      (3L, "brown quick")
    ).toDF("doc_id", "text")
    val phrases = Seq(
      (10L, "quick brown"), (11L, "fox jumps"), (12L, "missing here"),
      (13L, "quick brown quick"), (14L, "   ")
    ).toDF("pid", "phrase")
    val r = Retrieval.phraseSearch(docs, "doc_id", "text", phrases,
        "pid", "phrase")
      .orderBy("pid", "doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3)))
    // doc 3 holds both terms but reversed: the prefilter passes it, the
    // adjacency fold drops it; doc 2 matches twice; the repeated-term
    // phrase needs the SECOND quick, which doc 1 lacks
    assert(r.toSeq == Seq(
      (10L, 1L, 1L, 2L), (10L, 2L, 2L, 1L),
      (11L, 1L, 1L, 4L),
      (13L, 2L, 1L, 1L)), r.mkString(", "))
    // partition invariance
    val a = Retrieval.phraseSearch(docs, "doc_id", "text", phrases,
      "pid", "phrase").collect().map(_.toSeq).toSet
    val b = Retrieval.phraseSearch(docs.repartition(5), "doc_id", "text",
      phrases.repartition(3), "pid", "phrase").collect().map(_.toSeq).toSet
    assert(a == b)
    // phrase-length ceiling refuses loudly
    val e = intercept[Exception] {
      Retrieval.phraseSearch(docs, "doc_id", "text",
        Seq((1L, "a b c d")).toDF("pid", "phrase"), "pid", "phrase",
        maxPhraseTerms = 3).collect()
    }
    assert(e.getMessage.contains("maxPhraseTerms"))
  }

  test("proximitySearch: windows counted in any term order; window ceiling refuses") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a x x x x b"), (3L, "b a")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "a b")).toDF("qid", "qtext")
    val r3 = Retrieval.proximitySearch(docs, "doc_id", "text", qs,
        "qid", "qtext", window = 3)
      .orderBy("qid", "doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // doc 1: only [a b c] holds both; doc 2: a..b span 6 > 3; doc 3:
    // reversed order still matches (proximity, not phrase)
    assert(r3.toSeq == Seq((1L, 1L, 1L, 1L), (1L, 3L, 1L, 1L)),
      r3.mkString(", "))
    val r6 = Retrieval.proximitySearch(docs, "doc_id", "text", qs,
        "qid", "qtext", window = 6)
      .orderBy("qid", "doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r6.exists(x => x._2 == 2L && x._3 == 1L && x._4 == 1L),
      s"span-6 doc must match at window 6: ${r6.mkString(", ")}")
    // partition invariance
    val a = Retrieval.proximitySearch(docs, "doc_id", "text", qs, "qid",
      "qtext", window = 3).collect().map(_.toSeq).toSet
    val b = Retrieval.proximitySearch(docs.repartition(5), "doc_id", "text",
      qs, "qid", "qtext", window = 3).collect().map(_.toSeq).toSet
    assert(a == b)
    val e = intercept[IllegalArgumentException] {
      Retrieval.proximitySearch(docs, "doc_id", "text", qs, "qid", "qtext",
        window = 1000)
    }
    assert(e.getMessage.contains("maxWindow"))
  }

  test("proximitySearch: O(positions) interval fold equals brute-force enumeration") {
    // the r18 fold walks the merged position lists instead of
    // materializing a sequence(1, dl) array per survivor — pin it
    // against literal start-by-start enumeration on adversarial shapes:
    // long docs, dense repeats, windows wider than the doc, boundary
    // occurrences, and multi-term queries
    def brute(text: String, terms: Seq[String], w: Int): (Long, Long) = {
      val toks = text.trim.split("\\s+").toSeq
      val maxStart = math.max(toks.size - w + 1, 1)
      val starts = (1 to maxStart).filter(i =>
        terms.forall(t => toks.zipWithIndex.exists {
          case (tok, p0) => tok == t && p0 + 1 >= i && p0 + 1 <= i + w - 1
        }))
      (starts.size.toLong, starts.headOption.map(_.toLong).getOrElse(0L))
    }
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "x", "y")
    val longDoc = (1 to 3000).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = Seq(
      (1L, longDoc),
      (2L, "a a a b b b a b"), // dense repeats, overlapping windows
      (3L, "a " + ("x " * 50) + "b"), // one far pair
      (4L, "b a"), // window wider than the doc
      (5L, "a b"), // boundary occurrences exactly at the edges
      (6L, "a x b x a b x a") // interleaved multi-window
    ).toDF("doc_id", "text")
    val docTexts = Map(1L -> longDoc, 2L -> "a a a b b b a b",
      3L -> ("a " + ("x " * 50) + "b"), 4L -> "b a", 5L -> "a b",
      6L -> "a x b x a b x a")
    for (w <- Seq(2, 3, 7, 60)) {
      val got = Retrieval.proximitySearch(docs, "doc_id", "text",
          Seq((1L, "a b")).toDF("qid", "qtext"), "qid", "qtext", window = w)
        .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
      docTexts.foreach { case (id, text) =>
        val (cnt, first) = brute(text, Seq("a", "b"), w)
        if (cnt == 0L)
          assert(!got.contains(id), s"doc $id window $w: expected no match, got ${got.get(id)}")
        else
          assert(got.get(id).contains((cnt, first)),
            s"doc $id window $w: expected ($cnt, $first), got ${got.get(id)}")
      }
    }
    // three-term query on the long doc too
    val got3 = Retrieval.proximitySearch(docs, "doc_id", "text",
        Seq((1L, "a b c")).toDF("qid", "qtext"), "qid", "qtext", window = 9)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    val (c3, f3) = brute(longDoc, Seq("a", "b", "c"), 9)
    assert(got3.get(1L).contains((c3, f3)), s"3-term long doc: $got3 vs ($c3, $f3)")
  }

  test("extractSnippets: max-coverage window wins, ties earliest, short docs whole") {
    val docs = Seq(
      (1L, "x x query hash y y join z"),
      (2L, "tiny doc")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "query hash join")).toDF("qid", "qtext")
    val hits = Seq((1L, 1L), (1L, 2L)).toDF("qid", "doc_id")
    val r4 = Retrieval.extractSnippets(docs, "doc_id", "text", hits,
        "qid", qs, "qtext", window = 4)
      .orderBy("doc_id")
      .collect().map(x => (x.getLong(1), x.getString(2), x.getLong(3),
        x.getLong(4)))
    // no 4-window covers all three terms (span 5): the EARLIEST
    // 2-of-3 window wins (pos 1 ties pos 3 at two terms); the short
    // doc renders whole with 0 matches
    assert(r4.toSeq == Seq(
      (1L, "x x query hash", 2L, 1L),
      (2L, "tiny doc", 0L, 1L)), r4.mkString(", "))
    val r5 = Retrieval.extractSnippets(docs, "doc_id", "text", hits,
        "qid", qs, "qtext", window = 5)
      .filter(col("doc_id") === 1L).head()
    assert(r5.getString(2) == "query hash y y join" &&
      r5.getLong(3) == 3L && r5.getLong(4) == 3L)
    // partition invariance
    val a = Retrieval.extractSnippets(docs, "doc_id", "text", hits, "qid",
      qs, "qtext", window = 4).collect().map(_.toSeq).toSet
    val b = Retrieval.extractSnippets(docs.repartition(5), "doc_id", "text",
      hits.repartition(3), "qid", qs, "qtext", window = 4)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("packContextByBudget: monotone greedy prefix, overflow stops, guards refuse") {
    val hits = Seq(
      (1L, 1, 50L), (1L, 2, 60L), (1L, 3, 70L), (1L, 4, 10L),
      (2L, 1, 300L), (2L, 2, 10L)
    ).toDF("qid", "rank", "cost")
    val r = Retrieval.packContextByBudget(hits, "qid", "rank", "cost", 120L)
      .orderBy("qid", "rank")
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getAs[Long]("cum_cost")))
    // qid 1: 50, 110 kept; rank 3 overflows (180) and rank 4 drops
    // WITH it (prefix semantics — a knapsack would sneak rank 4 in)
    assert(r.toSeq == Seq((1L, 1, 50L), (1L, 2, 110L)), r.mkString(", "))
    // qid 2: the very first hit overflows -> the query packs nothing
    assert(!r.exists(_._1 == 2L))
    // a negative cost refuses loudly (prefix would become a knapsack)
    val e1 = intercept[Exception] {
      Retrieval.packContextByBudget(
        Seq((1L, 1, -5L)).toDF("qid", "rank", "cost"),
        "qid", "rank", "cost", 100L).collect()
    }
    assert(e1.getMessage.contains("non-negative"), e1.getMessage)
    // duplicate ranks refuse loudly (arrival-order-dependent prefix)
    val e2 = intercept[Exception] {
      Retrieval.packContextByBudget(
        Seq((1L, 1, 5L), (1L, 1, 6L)).toDF("qid", "rank", "cost"),
        "qid", "rank", "cost", 100L).collect()
    }
    assert(e2.getMessage.contains("duplicate rank"), e2.getMessage)
    // partition invariance
    val a = Retrieval.packContextByBudget(hits, "qid", "rank", "cost", 120L)
      .collect().map(_.toSeq).toSet
    val b = Retrieval.packContextByBudget(hits.repartition(5), "qid", "rank",
      "cost", 120L).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("mmrRerank: diversification beats a near-duplicate, hand-checked objective, guards") {
    // qid 1: doc 11 is a near-duplicate of top hit 10; MMR's second
    // pick must be the DIVERSE doc 12 even though 11 outscores it.
    // Hand values (λ = 0.7): pick1 = 10 @ 0.7·0.9 = 0.63; pick2 = 12 @
    // 0.7·0.5 − 0.3·cos(12,10) = 0.35; pick3 = 11 @ 0.7·0.89 −
    // 0.3·max(cos(11,10), cos(11,12)) ≈ 0.324519
    val cands = Seq(
      (1L, 10L, 0.9, Seq(1.0, 0.0)),
      (1L, 11L, 0.89, Seq(0.99, 0.1)),
      (1L, 12L, 0.5, Seq(0.0, 1.0)),
      (1L, 13L, 0.4, Seq(0.1, 0.9)),
      (2L, 20L, 0.8, Seq(1.0, 0.0)),
      (2L, 21L, 0.7, Seq(0.0, 1.0))
    ).toDF("qid", "doc", "rel", "vec")
    val r = Retrieval.mmrRerank(cands, "qid", "doc", "rel", "vec", k = 3)
      .orderBy("qid", "mmr_rank")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getDouble(3)))
    assert(r.map(t => (t._1, t._3, t._2)).toSeq == Seq(
      (1L, 1, 10L), (1L, 2, 12L), (1L, 3, 11L),
      (2L, 1, 20L), (2L, 2, 21L)),
      r.mkString(", "))
    assert(r(0)._4 == 0.63 && r(1)._4 == 0.35 && r(2)._4 == 0.324519, r.mkString(", "))
    // qid 2 runs out of candidates before k: truncates, no padding
    assert(r.count(_._1 == 2L) == 2)
    // duplicate (query, doc) candidates refuse loudly
    val dup = cands.unionByName(Seq((1L, 10L, 0.5, Seq(1.0, 0.0)))
      .toDF("qid", "doc", "rel", "vec"))
    val e1 = intercept[Exception] {
      Retrieval.mmrRerank(dup, "qid", "doc", "rel", "vec", k = 2).collect()
    }
    assert(e1.getMessage.contains("appears twice"), e1.getMessage)
    // candidate ceiling refuses loudly (the greedy is quadratic-ish)
    val e2 = intercept[Exception] {
      Retrieval.mmrRerank(cands, "qid", "doc", "rel", "vec", k = 2,
        maxCandidates = 3).collect()
    }
    assert(e2.getMessage.contains("top-k stage"), e2.getMessage)
    // partition invariance
    val a = Retrieval.mmrRerank(cands, "qid", "doc", "rel", "vec", k = 3)
      .collect().map(_.toSeq).toSet
    val b = Retrieval.mmrRerank(cands.repartition(7), "qid", "doc", "rel", "vec",
      k = 3).collect().map(_.toSeq).toSet
    assert(a == b)
    // pure-relevance degenerate case: λ = 1 reproduces the score order
    val pure = Retrieval.mmrRerank(cands, "qid", "doc", "rel", "vec", k = 3,
        lambda = 1.0)
      .filter(col("qid") === 1L).orderBy("mmr_rank")
      .collect().map(_.getLong(1)).toSeq
    assert(pure == Seq(10L, 11L, 12L), pure.toString)
  }

  test("bm25Search is partition-invariant") {
    val docs = (1L to 40L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} tail")).toDF("doc_id", "text")
    val qs = Seq((1L, "w1 w2"), (2L, "w3 tail")).toDF("qid", "qtext")
    val a = Retrieval.bm25Search(docs, "doc_id", "text", qs, "qid", "qtext", topK = 4)
      .collect().map(_.toSeq).toSet
    val bres = Retrieval.bm25Search(docs.repartition(13), "doc_id", "text", qs, "qid", "qtext", topK = 4)
      .collect().map(_.toSeq).toSet
    assert(a == bres)
  }

  test("bm25SearchPreindexed: bit-identical to ad-hoc search, pruned index read") {
    val docs = (1L to 40L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} tail"))
      .toDF("doc_id", "text")
    val qs = Seq((1L, "w1 w2"), (2L, "w3 tail"), (3L, "nothing matches")).toDF("qid", "qtext")
    val dir = tempDir("graft-bm25")
    Retrieval.saveBm25Index(docs, "doc_id", "text", dir, numBuckets = 16)
    val pre = Retrieval.bm25SearchPreindexed(
      spark, dir, qs, "qid", "qtext", topK = 4)
    val adhoc = Retrieval.bm25Search(docs, "doc_id", "text", qs, "qid", "qtext", topK = 4)
    // bit-identical: the shared scoring tail folds terms in the same order
    assert(pre.collect().map(_.toSeq).toSet == adhoc.collect().map(_.toSeq).toSet)
    assert(pre.columns.toSeq == adhoc.columns.toSeq)
    // the postings scan is PARTITION-PRUNED to the query vocabulary's
    // buckets: the executed plan's parquet scan must carry a term_bucket
    // partition filter, not read the whole index
    val plan = pre.queryExecution.executedPlan.toString
    assert(plan.contains("term_bucket"),
      s"expected a term_bucket partition prune in:\n$plan")
    // a query batch with NO tokens returns an empty frame, same schema
    val empty = Retrieval.bm25SearchPreindexed(
      spark, dir, Seq((9L, "   ")).toDF("qid", "qtext"), "qid", "qtext", topK = 4)
    assert(empty.count() == 0 && empty.columns.toSeq == adhoc.columns.toSeq)
    // MAINTENANCE: append a second corpus slice — the preindexed search
    // must then equal the ad-hoc search over the UNION, bit for bit
    // (df, N, and avgdl all shift with the append)
    val more = (41L to 60L).map(i => (i, s"w${i % 7} w${i % 11} tail extra"))
      .toDF("doc_id", "text")
    Retrieval.appendToBm25Index(more, "text", dir)
    val pre2 = Retrieval.bm25SearchPreindexed(
      spark, dir, qs, "qid", "qtext", topK = 4)
    val adhoc2 = Retrieval.bm25Search(docs.unionByName(more), "doc_id", "text",
      qs, "qid", "qtext", topK = 4)
    assert(pre2.collect().map(_.toSeq).toSet == adhoc2.collect().map(_.toSeq).toSet)
  }

  test("chunkText windows with overlap; short, empty, and null text edge cases") {
    val docs = Seq(
      (1L, "abcdefghij"),   // len 10: chunks "abcde", "defgh", "ghij" (size 5, overlap 2, stride 3)
      (2L, "abc"),          // single short chunk
      (3L, ""),             // one empty chunk
      (4L, null.asInstanceOf[String]) // no rows
    ).toDF("doc_id", "text")
    val got = Retrieval.chunkText(docs, "doc_id", "text", chunkSize = 5, overlap = 2)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.toSeq == Seq(
      (1L, 0, "abcde"), (1L, 1, "defgh"), (1L, 2, "ghij"),
      (2L, 0, "abc"),
      (3L, 0, "")))
    // exact multiple: len 8, size 5, stride 3 -> chunks at 0, 3 cover 0..8
    val ex = Retrieval.chunkText(Seq((9L, "abcdefgh")).toDF("doc_id", "text"), "doc_id", "text", 5, 2)
      .collect().map(_.getString(2)).toSeq
    assert(ex == Seq("abcde", "defgh"))
  }

  test("withGroupZscore matches exact moments; degenerate and null-safe") {
    val df = Seq(
      ("g1", 1L), ("g1", 2L), ("g1", 3L), ("g1", 6L),
      ("g2", 5L) // single row: variance 0 -> null z
    ).toDF("g", "v")
    val z = Outliers.withGroupZscore(df, Seq("g"), "v", "z")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    // g1: n=4 sx=12 sxx=50 mean=3 var=12.5-9=3.5
    val sd = math.sqrt(3.5)
    assert(z.contains(("g2", 5L, None)))
    val g1 = z.filter(_._1 == "g1").map(t => (t._2, t._3.get)).toMap
    assertNear(g1(1L), (1 - 3.0) / sd)
    assertNear(g1(6L), (6 - 3.0) / sd)

    val kept = Outliers.dropOutliers(df, Seq("g"), "v", maxAbsZ = 1.0)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // |z|: 1->1.069 drops, 2->0.53 keeps, 3->0 keeps, 6->1.60 drops; g2 null z survives
    assert(kept == Set(("g1", 2L), ("g1", 3L), ("g2", 5L)))
  }

  test("withGroupZscore: int values past 46341 must not wrap the square") {
    // 50000^2 = 2.5e9 > Int.MaxValue: without widening before the square,
    // the per-row product wraps (ANSI off) and corrupts every z in the group
    val df = Seq(("g", 50000), ("g", 50001), ("g", 50005)).toDF("g", "v")
    val z = Outliers.withGroupZscore(df, Seq("g"), "v", "z")
      .collect().map(r => (r.getInt(1), r.get(2).asInstanceOf[Double])).toMap
    val vals = Seq(50000.0, 50001.0, 50005.0)
    val mean = vals.sum / 3.0
    val variance = vals.map(x => x * x).sum / 3.0 - mean * mean
    assertNear(z(50000), (50000.0 - mean) / math.sqrt(variance))
    assertNear(z(50005), (50005.0 - mean) / math.sqrt(variance))
  }

  test("withGroupZscore: NaN neither poisons the group nor gets a score") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 6.0), ("g", Double.NaN))
      .toDF("g", "v")
    val rows = Outliers.withGroupZscore(df, Seq("g"), "v", "z")
      .collect().map(r => (r.getDouble(1), Option(r.get(2))))
    // moments must be NaN-free: same stats as the 4 clean rows (mean 3, var 3.5)
    val sd = math.sqrt(3.5)
    assertNear(rows.find(_._1 == 1.0).get._2.get.asInstanceOf[Double], (1 - 3.0) / sd)
    assert(rows.find(_._1.isNaN).get._2.isEmpty, "NaN value must get a null z-score")
    // and the null-z row survives the gate (engine NaN ≡ null contract)
    val kept = Outliers.dropOutliers(df, Seq("g"), "v", maxAbsZ = 10.0).count()
    assert(kept == 5L)
  }

  test("collectLocalPage refuses an oversized page before returning rows") {
    val page = Seq(1L, 2L, 3L).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Retrieval.collectLocalPage(page, "the test page", "spec", max = 2)
    }
    assert(e.getMessage.contains(
      "spec: the test page has more than 2 rows (maxLocalPageRows=2)"), e.getMessage)
    // at the ceiling every row comes back
    assert(Retrieval.collectLocalPage(page, "the test page", "spec", max = 3)
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }
}
