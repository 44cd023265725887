package graft

import org.apache.spark.sql.functions._

/** Regression tests for defects found by adversarial review: Spark
  * NaN/null semantics diverging from pandas, and column-name collisions
  * pandas tolerates by overwriting. */
class EdgeCasesSpec extends SparkSpec {

  import spark.implicits._

  test("top_n exclude with all-null stage scores eliminates the cohort, no NPE") {
    // criterion column entirely null -> every stage score is null
    val bids = Seq(("A", None: Option[Double], 10.0), ("B", None, 20.0),
      ("C", None, 30.0)).toDF("vendor", "x", "y")
    val result = new StagedEvaluator()
      .addStage("S1", filterType = "top_n", topN = 2, onTie = "exclude")
      .direct("x", 1.0)
      .addStage("S2")
      .direct("y", 1.0)
      .evaluate(bids)
    // pandas: NaN cutoff advances nobody
    assert(rows(result).forall(_.getAs[String]("eliminated_at_stage") == "S1"))
  }

  test("linear criterion over an all-null cohort yields NaN scores (not 100)") {
    val bids = Seq(("A", None: Option[Double]), ("B", None)).toDF("vendor", "x")
    val result = new Evaluator().linear("x", 1.0).evaluate(bids)
    assert(rows(result).forall(r => r.getAs[Double]("score_x").isNaN))
  }

  test("stage names sanitizing to the same prefix overwrite like pandas") {
    val bids = Seq(("A", 10.0, 1.0), ("B", 20.0, 2.0)).toDF("vendor", "x", "y")
    val result = new StagedEvaluator()
      .addStage("Tech Review")
      .direct("x", 1.0)
      .addStage("tech-review") // same sanitized prefix: tech_review
      .direct("y", 1.0)
      .evaluate(bids)
    // one surviving column set, values from the LAST stage
    assert(result.columns.count(_ == "tech_review_score") == 1)
    val m = byKey(result, "vendor")
    assert(m("B").getAs[Double]("tech_review_score") == 2.0)
    assert(m("B").getAs[Long]("ranking") == 1L)
  }

  test("input with a pre-existing ranking/final_score column is overwritten") {
    val bids = Seq(("A", 10.0, 99L, 1.0), ("B", 20.0, 98L, 2.0))
      .toDF("vendor", "x", "ranking", "final_score")
    val result = new Evaluator().linear("x", 1.0).evaluate(bids)
    assert(result.columns.count(_ == "ranking") == 1)
    assert(result.columns.count(_ == "final_score") == 1)
    val m = byKey(result, "vendor")
    assert(m("B").getAs[Long]("ranking") == 1L) // engine's rank, not 98
    assert(m("B").getAs[Double]("final_score") == 100.0)
  }

  test("rows with null scores sort last in the single-stage output") {
    val bids = Seq(("A", Some(10.0)), ("B", None), ("C", Some(20.0)))
      .toDF("vendor", "x")
    val result = new Evaluator().linear("x", 1.0).evaluate(bids)
    val order = rows(result).map(_.getAs[String]("vendor"))
    assert(order.last == "B", s"null-ranked row must sort last, got $order")
  }

  test("formula numpy semantics: runtime /0 -> inf -> clip; const 1/0 -> all zero") {
    val bids = Seq(("A", 5.0), ("B", -3.0), ("C", 7.0)).toDF("vendor", "x")
    // (value - 7) is 0 for C: 7/(7-7) -> +inf -> clip 100; B: -3/-10=0.3
    val r1 = new Evaluator()
      .formula("x", 1.0, formula = "value / (value - 7)", name = "f")
      .evaluate(bids)
    val m = byKey(r1, "vendor")
    assert(m("C").getAs[Double]("score_f") == 100.0)
    assertNear(m("B").getAs[Double]("score_f"), 0.3)
    // constant Python-number division by zero -> every row 0.0
    val r2 = new Evaluator()
      .formula("x", 1.0, formula = "value + 1 / 0", name = "g")
      .evaluate(bids)
    assert(rows(r2).forall(_.getAs[Double]("score_g") == 0.0))
    // variables are Python numbers too: t / 0 with t a variable raises
    val r3 = new Evaluator()
      .formula("x", 1.0, formula = "t / 0 + value", variables = Map("t" -> 3.0),
        name = "h")
      .evaluate(bids)
    assert(rows(r3).forall(_.getAs[Double]("score_h") == 0.0))
  }

  test("formula null input propagates as null score (pandas NaN analogue)") {
    val bids = Seq(("A", Some(10.0)), ("B", None)).toDF("vendor", "x")
    val result = new Evaluator()
      .formula("x", 1.0, formula = "value * 2", name = "f")
      .evaluate(bids)
    val m = byKey(result, "vendor")
    assert(m("A").getAs[Double]("score_f") == 20.0)
    assert(m("B").isNullAt(m("B").fieldIndex("score_f")))
  }

  test("zero-norm vectors never pollute top-k or near-dup results") {
    val base = (0 until 8).map(i => math.sin(i * 1.3).toFloat)
    val df = Seq(
      (0L, base, 0),
      (1L, base.map(x => (x * 0.9f + 0.01f)), 0),
      (2L, Seq.fill(8)(0.0f), 0), // zero vector -> NaN cosine
      (3L, base.map(-_), 0)
    ).toDF("vec_id", "embedding", "label")
    val q = df.filter(col("vec_id") === 0)

    val topk = graft.ops.Similarity.bruteForceTopKAgg(df, q, k = 3)
      .orderBy("nn_rank").collect()
    assert(!topk.exists(_.getAs[Long]("vec_id") == 2L), "NaN row must not rank")
    assert(topk.head.getAs[Long]("vec_id") == 1L) // true nearest first

    val dups = graft.ops.Dedup.embeddingNearDupPairs(df, "vec_id", "embedding",
      dim = 8, threshold = 0.5, nBits = 2, nTables = 2).collect()
    assert(!dups.exists(r => r.getAs[Long]("id_a") == 2L || r.getAs[Long]("id_b") == 2L))
  }

  test("tab/newline-edged text tokenizes without empty tokens") {
    import graft.ops.TextAnalysis
    val df = Seq((0L, "hello world\n"), (1L, "\thello world"), (2L, "hello world"))
      .toDF("doc_id", "text")
    val counts = df.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts == Map(0L -> 2, 1L -> 2, 2L -> 2))
    // fingerprints identical across whitespace layouts
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps.distinct.length == 1)
  }

  test("config with 5+ criteria preserves file order (config == fluent)") {
    val json = """{"criteria": {
      "c1": {"type": "direct", "weight": 0.1},
      "c2": {"type": "direct", "weight": 0.1},
      "c3": {"type": "direct", "weight": 0.2},
      "c4": {"type": "direct", "weight": 0.2},
      "c5": {"type": "direct", "weight": 0.2},
      "c6": {"type": "direct", "weight": 0.2}
    }}"""
    val path = java.nio.file.Paths.get(tempDir("order"), "order.json")
    java.nio.file.Files.writeString(path, json)
    val ev = Evaluator.fromJson(path.toString)
    // registration order must be file order (a hash-ordered Map breaks
    // score-column order and the sequential final-score sum)
    assert(ev.criteria.map(_._1) == Seq("c1", "c2", "c3", "c4", "c5", "c6"))
    val df = Seq((1.0, 2.0, 3.0, 4.0, 5.0, 6.0)).toDF("c1", "c2", "c3", "c4", "c5", "c6")
    val cols = ev.evaluate(df).columns.toSeq
    assert(cols.indexOf("score_c1") < cols.indexOf("score_c6"))
  }

  // ---- NaN-score contract: NaN ≡ null ≡ pandas NaN (unranked, filtered) ----

  private def nanInjector: (org.apache.spark.sql.Column, graft.model.Stats) => org.apache.spark.sql.Column =
    (c, _) => when(c < 0, lit(Double.NaN)).otherwise(c)

  test("NaN scores are unranked and eliminated by top_n include, ranks unshifted") {
    // pandas rank() gives NaN scores a NaN rank WITHOUT shifting the others:
    // D must not steal rank 1 from A (Spark alone would sort NaN first)
    val bids = Seq(("A", 30.0, 1.0), ("B", 20.0, 1.0), ("C", 10.0, 1.0),
      ("D", -1.0, 1.0)).toDF("vendor", "x", "y")
    val result = new StagedEvaluator()
      .addStage("S1", filterType = "top_n", topN = 2, onTie = "include")
      .custom("x", 1.0, nanInjector)
      .addStage("S2")
      .direct("y", 1.0)
      .evaluate(bids)
    val m = byKey(result, "vendor")
    assert(m("A").getAs[String]("eliminated_at_stage") == null)
    assert(m("B").getAs[String]("eliminated_at_stage") == null)
    assert(m("C").getAs[String]("eliminated_at_stage") == "S1")
    assert(m("D").getAs[String]("eliminated_at_stage") == "S1")
    assert(m("D").isNullAt(m("D").fieldIndex("s1_ranking")))
  }

  test("top_n exclude computes the cutoff over real scores only") {
    // Spark sorts NaN ABOVE all doubles; pandas sort_values puts it last.
    // Real scores 30,20,10 with n=2 -> cutoff 20 -> A,B advance.
    val bids = Seq(("A", 30.0, 1.0), ("B", 20.0, 1.0), ("C", 10.0, 1.0),
      ("D", -1.0, 1.0)).toDF("vendor", "x", "y")
    val result = new StagedEvaluator()
      .addStage("S1", filterType = "top_n", topN = 2, onTie = "exclude")
      .custom("x", 1.0, nanInjector)
      .addStage("S2")
      .direct("y", 1.0)
      .evaluate(bids)
    val m = byKey(result, "vendor")
    assert(m("A").getAs[String]("eliminated_at_stage") == null)
    assert(m("B").getAs[String]("eliminated_at_stage") == null)
    assert(m("C").getAs[String]("eliminated_at_stage") == "S1")
    assert(m("D").getAs[String]("eliminated_at_stage") == "S1")
  }

  test("top_n exclude with fewer real scores than n eliminates the cohort") {
    // 4 active rows > n=3, but only 2 real scores: pandas' sorted.iloc[n-1]
    // is NaN and `scores >= NaN` advances nobody.
    val bids = Seq(("A", Some(30.0), 1.0), ("B", Some(20.0), 1.0),
      ("C", Some(-1.0), 1.0), ("D", None: Option[Double], 1.0))
      .toDF("vendor", "x", "y")
    val result = new StagedEvaluator()
      .addStage("S1", filterType = "top_n", topN = 3, onTie = "exclude")
      .custom("x", 1.0, nanInjector)
      .addStage("S2")
      .direct("y", 1.0)
      .evaluate(bids)
    assert(rows(result).forall(_.getAs[String]("eliminated_at_stage") == "S1"))
  }

  test("all rank strategies give NaN scores a null rank, others unshifted") {
    def strategies(df: org.apache.spark.sql.DataFrame) = Seq(
      Ranks.withCompetitionRank(df, "score", "rk"),
      Ranks.withCompetitionRank(df, "score", "rk", scalable = true),
      Ranks.rangePartitionedRank(df, "score", "rk"))
    val df = Seq(("a", 5.0), ("b", Double.NaN), ("c", Double.NaN), ("d", 3.0))
      .toDF("id", "score")
    for (r <- strategies(df)) {
      val m = byKey(r, "id")
      assert(m("a").getAs[Long]("rk") == 1L)
      assert(m("d").getAs[Long]("rk") == 2L)
      assert(m("b").isNullAt(m("b").fieldIndex("rk")))
      assert(m("c").isNullAt(m("c").fieldIndex("rk")))
    }
    // all scores equal: one hot bucket, every row ties at rank 1
    val flat = (1 to 50).map(i => (s"v$i", 7.0)).toDF("id", "score")
    for (r <- strategies(flat))
      assert(r.select("rk").collect().map(_.getLong(0)).toSet == Set(1L))
    // an empty frame ranks to an empty frame with the rank column
    val empty = flat.limit(0)
    for (r <- strategies(empty)) {
      assert(r.columns.toSeq == Seq("id", "score", "rk"))
      assert(r.count() == 0L)
    }
  }

  // -------------------- config export ordering / streaming dedup --------------------

  test("config export preserves criterion registration order beyond 4 entries") {
    import graft.config.ConfigLoader
    val names = (1 to 8).map(i => s"c$i")
    val ev = new Evaluator()
    names.foreach(n => ev.linear(n, 1.0))
    val parsed = ConfigLoader.parseJson(
      ConfigLoader.toJsonString(ConfigLoader.evaluatorToConfig(ev)))
    assert(parsed("criteria").asInstanceOf[Map[String, Any]].keys.toSeq == names)

    val staged = new StagedEvaluator().addStage("S1")
    names.foreach(n => staged.linear(n, 1.0))
    val sParsed = ConfigLoader.parseJson(
      ConfigLoader.toJsonString(ConfigLoader.stagedToConfig(staged)))
    val stage0 = sParsed("stages").asInstanceOf[List[Any]].head
      .asInstanceOf[Map[String, Any]]
    assert(stage0("criteria").asInstanceOf[Map[String, Any]].keys.toSeq == names)
  }

  test("scoreStream deduplicates colliding score columns last-wins") {
    import graft.streaming.StreamingEval
    val ev = new Evaluator()
      .direct("x", 1.0, name = "f")
      .custom("y", 1.0, (c, _) => c * 2, "f") // duplicate display name
    // input already carries a score_f column — must be dropped, not doubled
    val df = Seq((1.0, 2.0, 99.0)).toDF("x", "y", "score_f")
    val out = StreamingEval.scoreStream(df, ev,
      Map("f" -> graft.model.Stats.empty))
    assert(out.columns.count(_ == "score_f") == 1)
    val row = out.head()
    assert(row.getAs[Double]("score_f") == 4.0) // last registration wins
    assert(row.getAs[Double]("final_score") == 2.5) // both criteria still summed
  }

  test("round-13 operators survive empty and degenerate inputs") {
    import graft.ops.{Dedup, Graphs, Retrieval, UnigramTrain}
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // repeated spans / islands: empty corpus and all-null text yield nothing
    assert(Dedup.repeatedSpans(emptyDocs, "text", "doc_id", span = 3).count() == 0)
    val nullText = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(nullText, "text", "doc_id", span = 3).count() == 0)
    // selfDedupAgainstIndex: empty batch round-trips (no windows, no fps)
    val (cleanedE, fpsE) = Dedup.selfDedupAgainstIndex(
      emptyDocs, "text", "doc_id", 3, None)
    assert(cleanedE.count() == 0 && fpsE.count() == 0)
    // ccApply onto an EMPTY history: degenerates to plain CC of the batch
    val emptyComps = Seq.empty[(Long, Long)].toDF("node", "component")
    val viaApply = Graphs.ccApply(emptyComps,
        Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaApply == Set((1L, 1L), (2L, 1L), (3L, 1L)))
    // unigram training on an empty / all-empty-text corpus returns an
    // empty vocabulary without dividing by a zero total
    assert(UnigramTrain.train(emptyDocs, "text").isEmpty)
    assert(UnigramTrain.train(
      Seq((1L, "   ")).toDF("doc_id", "text"), "text").isEmpty)
    // BM25 index over an empty corpus: build succeeds, queries come back
    // empty instead of dividing by the zero avgdl
    val dir = tempDir("graft-bm25-empty")
    Retrieval.saveBm25Index(emptyDocs, "doc_id", "text", dir, numBuckets = 4)
    val res = Retrieval.bm25SearchPreindexed(
      spark, dir, Seq((1L, "anything")).toDF("qid", "qtext"), "qid", "qtext")
    assert(res.count() == 0)
  }
}
