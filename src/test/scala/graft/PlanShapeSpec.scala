package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Plan-shape invariants for the ANN retrieval operators: the round-3
  * verdict flagged `quantizedTopK`'s approx stage as a full-corpus window
  * sort per query (one partition per query_id holds the whole corpus at
  * scale). All three retrieval paths now rank with the GroupTopK heap
  * aggregate — map-side partial aggregation, no Window node anywhere —
  * and these specs pin that property so it can't silently regress. */
class PlanShapeSpec extends SparkSpec {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("quantizedTopK / lshTopK / ivfTopK plans are Window-free") {
    val q = emb.filter(col("vec_id") < 3)
    val dfs = Seq(
      "quantizedTopK" -> Similarity.quantizedTopK(emb, q, k = 5, rerank = 10),
      "lshTopK" -> Similarity.lshTopK(emb, q, k = 5, dim = 64),
      "ivfTopK" -> Similarity.ivfTopK(emb, q, k = 5, nLists = 4, nProbe = 2))
    dfs.foreach { case (name, df) =>
      assert(df.count() > 0, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name must rank via the heap aggregate, not a per-query window:\n$plan")
      // the heap UDAF plans as an ObjectHashAggregate with a partial pass
      assert(plan.contains("ObjectHashAggregate"),
        s"$name should contain the GroupTopK aggregate:\n$plan")
    }
  }

  test("blockedNearestNeighbor: window-free heap top-1, loud hot-block ceiling") {
    val df = Similarity.blockedNearestNeighbor(emb, "vec_id", "embedding", "label")
    assert(df.count() > 0, "blockedNearestNeighbor returned no rows")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"blockedNearestNeighbor must rank via the heap aggregate:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"blockedNearestNeighbor should contain the GroupTopK aggregate:\n$plan")
    // a degenerate blocking (every row in one block) refuses loudly
    // before emitting its |block|² pairs
    val e = intercept[Exception] {
      Similarity.blockedNearestNeighbor(
        emb.withColumn("label", lit("hot")), "vec_id", "embedding", "label",
        maxBlockRows = 4).collect()
    }
    assert(e.getMessage.contains("refine the blocking"),
      s"expected the hot-block guard, got: ${e.getMessage}")
  }

  test("hardNegativesLsh: no cartesian, window-free, heap-ranked") {
    val anchors = emb.filter(col("vec_id") < 3)
    val df = graft.ops.Labels.hardNegativesLsh(
      anchors, emb, "vec_id", "embedding", "label", k = 5, dim = 64)
    assert(df.count() > 0, "hardNegativesLsh returned no rows")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"hardNegativesLsh must candidate-generate via bucket equi-joins, not a cartesian:\n$plan")
    assert(!plan.contains("Window"),
      s"hardNegativesLsh must rank via the heap aggregate:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"hardNegativesLsh should contain the GroupTopK aggregate:\n$plan")
  }

  test("spellCorrect and phraseSearch plans: equi-joins only, no cartesian") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = graft.ops.Retrieval.vocabulary(docs, "doc_id", "text", 50)
    val fixed = graft.ops.Retrieval.spellCorrect(
      Seq((1L, "qury")).toDF("qid", "term"), "qid", "term",
      vocab, "term", "doc_freq")
    fixed.collect()
    val sPlan = fixed.queryExecution.executedPlan.toString
    assert(!sPlan.contains("CartesianProduct"),
      s"spellCorrect must candidate-generate via the delete-key equi-join:\n$sPlan")
    val ph = Seq((1L, "the data")).toDF("pid", "phrase")
    val hits = graft.ops.Retrieval.phraseSearch(docs, "doc_id", "text",
      ph, "pid", "phrase")
    hits.collect()
    val pPlan = hits.queryExecution.executedPlan.toString
    assert(!pPlan.contains("CartesianProduct"),
      s"phraseSearch must prefilter via the term equi-join, never corpus x phrases:\n$pPlan")
    assert(!pPlan.contains("Window"),
      s"phraseSearch verifies with the map-side fold, not a window:\n$pPlan")
  }

  test("recordLinkage and triangleCounts plans: equi-joins only, no cartesian") {
    import spark.implicits._
    import graft.ops.Joins.{LinkField, LinkFieldKind}
    val left = Seq((1L, 1, "alice", 10.0), (2L, 1, "bobby", 20.0))
      .toDF("lid", "blk", "name", "bal")
    val right = Seq((11L, 1, "alicf", 11.0), (12L, 1, "bobbe", 20.0))
      .toDF("rid", "blk", "name", "bal")
    val linked = graft.ops.Joins.recordLinkage(left, right, Seq("blk"),
      "lid", "rid", "name", "name", 1,
      Seq(LinkField("name", "name", 0.7, LinkFieldKind.Edit),
        LinkField("bal", "bal", 0.3, LinkFieldKind.Numeric(10.0))), 0.0)
    assert(linked.count() > 0, "recordLinkage matched nothing")
    val lplan = linked.queryExecution.executedPlan.toString
    assert(!lplan.contains("CartesianProduct"),
      s"recordLinkage must candidate-generate via the deletion index, not a cartesian:\n$lplan")
    val tri = graft.ops.Graphs.clusteringCoefficient(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d"), "s", "d")
    assert(tri.count() == 4)
    val tplan = tri.queryExecution.executedPlan.toString
    assert(!tplan.contains("CartesianProduct") && !tplan.contains("Window"),
      s"triangle machinery must be equi-joins + aggregates only:\n$tplan")
  }

  test("gopher gate and cluster-balanced sampling keep their scale shapes") {
    import graft.ops.{QualityRules, Sampling}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the Gopher gate is a map-side projection+filter: no exchange, no
    // aggregate — at 100 TB it must run inside the scan stage
    val gated = QualityRules.gopherFilter(docs, "text")
    val gPlan = gated.queryExecution.executedPlan.toString
    assert(!gPlan.contains("Exchange"),
      s"gopherFilter must not shuffle:\n$gPlan")
    assert(gPlan.contains("*("), // executedPlan marks codegen stages "*(n)"
      s"gopherFilter should stay inside codegen:\n$gPlan")

    // cluster-balanced sampling ranks through the heap aggregate: no
    // Window node (a per-cell window would sort whole cells)
    val cents = Seq((0, Seq.fill(64)(0.1), 0.64), (1, Seq.fill(64)(-0.1), 0.64))
    val sampled = Sampling.clusterBalancedSample(
      emb, "vec_id", "embedding", cents, perCluster = 5)
    assert(sampled.count() == 10)
    val sPlan = sampled.queryExecution.executedPlan.toString
    assert(!sPlan.contains("Window"),
      s"clusterBalancedSample must rank via the heap aggregate:\n$sPlan")
    assert(sPlan.contains("ObjectHashAggregate"),
      s"clusterBalancedSample should contain the GroupTopK aggregate:\n$sPlan")
  }

  test("bloom decontamination probes map-side: no shuffle before the candidate filter") {
    import graft.ops.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 400)
    val bench = docs.filter(col("doc_id") >= 450)
    val out = Dedup.bloomDecontaminate(corpus, bench, "text", "doc_id", 0.5)
    // the bloom probe compiles to Spark's might_contain over a literal
    // sketch inside the corpus scan stage — assert the expression is
    // present and the result stays exact (smoke: output is a subset)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected the native bloom probe in the plan:\n$plan")
    assert(out.count() <= corpus.count())
  }

  test("parquet scans prune columns and push filters down") {
    // q36 selects only (doc_id, source): the documents scan must not read
    // text/lang/n_chars — at 100 TB reading dead columns IS the bottleneck
    val q36 = SparkEntry.queries("q36_hash_split")(spark, "/root/testdata/sf0.001")
    val p36 = q36.queryExecution.executedPlan.toString
    assert(p36.contains("ReadSchema"), s"expected a parquet scan:\n$p36")
    assert(!p36.contains("text:"), s"q36 must not read the text column:\n$p36")

    // q42 filters doc_id < 2000 before tokenizing: the predicate must
    // reach the scan (PushedFilters), not run post-scan only
    val q42 = SparkEntry.queries("q42_jaccard_pairs")(spark, "/root/testdata/sf0.001")
    val p42 = q42.queryExecution.executedPlan.toString
    assert(p42.contains("LessThan(doc_id,2000)"),
      s"doc_id filter must be pushed to the parquet scan:\n$p42")
  }

  test("quantizedTopK heap formulation equals the window formulation row-for-row") {
    // differential oracle: the pre-round-4 two-window implementation,
    // rebuilt inline (same tie order: score desc, id asc at both stages)
    def codesD(c: org.apache.spark.sql.Column) =
      graft.expressions.QuantizeExpressions.int8Codes(c)
    val queries = emb.filter(col("vec_id") < 5)
    val (k, rerank) = (10, 30)

    val c = emb.select(col("vec_id"), col("embedding").as("__cvec"),
      codesD(col("embedding")).as("__ccodes"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("__qvec"), codesD(col("embedding")).as("__qcodes")))
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("vec_id").asc)
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val windowed = c.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("approx", Similarity.dot(col("__qcodes"), col("__ccodes")))
      .withColumn("__arank", row_number().over(wApprox))
      .filter(col("__arank") <= rerank)
      .withColumn("cosine", Similarity.cosine(col("__qvec"), col("__cvec")))
      .filter(!isnan(col("cosine")))
      .withColumn("nn_rank", row_number().over(wExact))
      .filter(col("nn_rank") <= k)
      .select("query_id", "vec_id", "cosine", "nn_rank")

    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("nn_rank"))).toSet
    val heap = key(Similarity.quantizedTopK(emb, queries, k = k, rerank = rerank))
    assert(heap == key(windowed))
  }

  test("bm25Search plan: window-free, heap top-k, at most two corpus scans") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val qs = Seq((1L, "query hash join")).toDF("qid", "qtext")
    val df = graft.ops.Retrieval.bm25Search(docs, "doc_id", "text", qs, "qid", "qtext", topK = 5)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"bm25 must rank via the heap aggregate, not a per-query window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"bm25 should contain the GroupTopK aggregate:\n$plan")
    // postings barrier: docFreq + contrib must reuse ONE materialized
    // subtree instead of recomputing the corpus scan + explode each
    // (pre-fix plan had 3 independent parquet scans). The barrier is an
    // eager localCheckpoint (ContextCleaner-released, unlike a persist
    // that would pin cache blocks for the session), so it appears as an
    // RDD scan; only the corpus-constants row may still scan parquet.
    assert(plan.contains("Scan ExistingRDD"),
      s"bm25 postings must be checkpoint-reused across docFreq and contrib:\n$plan")
    val parquetScans = "Scan parquet".r.findAllIn(plan).size
    assert(parquetScans <= 2,
      s"bm25 must not recompute the corpus scan per consumer ($parquetScans scans):\n$plan")
  }

  test("vocabulary plan: top-k via TakeOrderedAndProject, never a full sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ops.Retrieval.vocabulary(docs, "doc_id", "text", topK = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocabulary's limit must plan as per-partition top-k:\n$plan")
  }

  test("ad-hoc rank<=k window queries get Spark's native WindowGroupLimit") {
    // users writing the window formulation directly (not the GroupTopK
    // heap) still avoid full per-group sorts: Spark 3.5+ inserts a
    // per-partition group limit below the window — assert the optimizer
    // actually fires on our data so the scale story holds for ad-hoc SQL
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w = Window.partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val q = docs.withColumn("r", row_number().over(w)).filter(col("r") <= 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter should trigger WindowGroupLimit:\n$plan")
    assert(q.count() > 0)
  }

  test("withGroupZscore plan: stats join back by broadcast, no window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ops.Outliers.withGroupZscore(docs, Seq("lang"), "n_chars")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"zscore must not use a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |groups|-row stats frame must broadcast back:\n$plan")
  }

  test("DSIR scoring plan: broadcast weights, top-k via TakeOrdered, no window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scored = graft.ops.Dsir.scoreAgainstTarget(
      docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
      "doc_id", "text", n = 2, buckets = 1024)
    val top = graft.ops.Dsir.selectTop(scored, "doc_id", 20)
    assert(top.count() == 20)
    val plan = top.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"DSIR must not use windows:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the <= buckets-row weight table must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"hard selection must be per-partition heaps, not a global sort:\n$plan")
  }

  test("span decontamination plan: semi-join against broadcast bench windows") {
    import graft.ops.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 400)
    val bench = docs.filter(col("doc_id") >= 400)
    val ids = Dedup.spanContaminatedIds(corpus, bench, "text", "doc_id")
    ids.count()
    val plan = ids.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"window match must be an ids-only semi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the measured-small bench window set must broadcast (corpus never shuffles into the join):\n$plan")
    // the bloom path's probe stays inside the corpus scan stage
    val bloomed = Dedup.spanBloomDecontaminate(corpus, bench, "text", "doc_id")
    val bPlan = bloomed.queryExecution.executedPlan.toString
    assert(bPlan.contains("might_contain"),
      s"expected the native bloom probe in the span plan:\n$bPlan")
  }

  test("kmv sketch plan: bottom-k via the heap aggregate, never a window sort") {
    import graft.ops.Sketches
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val est = Sketches.kmvDistinct(docs, Seq("source"), "text", k = 16)
    assert(est.count() > 0)
    val plan = est.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"kmvDistinct must keep bottom-k hashes in the heap aggregate:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"kmvDistinct should contain the GroupTopK aggregate:\n$plan")
  }

  test("cms sketch plan: counters partial-aggregate before the only exchange") {
    import graft.ops.Sketches
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sketch = Sketches.cmsSketch(docs, "text", depth = 2, width = 64)
    assert(sketch.count() <= 2 * 64)
    val plan = sketch.queryExecution.executedPlan.toString
    // partial_count before the exchange = each map partition reduces to
    // <= depth*width rows before anything shuffles
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"cmsSketch must map-side combine its counters:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"cmsSketch should shuffle exactly once (the counter aggregate):\n$plan")
  }

  test("PQ / IVF-PQ search plans are Window-free with broadcast queries") {
    val cbs = Similarity.trainPqCodebooks(
      emb, "vec_id", "embedding", dim = 64, m = 4, k = 8, iters = 1)
    val coarse = Similarity.trainKmeansPortable(emb, "vec_id", "embedding", k = 4, iters = 1)
    val codes = Similarity.pqEncode(emb, "embedding", cbs)
    val q = emb.filter(col("vec_id") < 3)
    for ((name, df) <- Seq(
        "pqTopK" -> Similarity.pqTopK(codes, q, cbs, k = 5),
        "ivfPqTopK" -> Similarity.ivfPqTopK(emb, q, coarse, cbs, k = 5, nProbe = 2))) {
      assert(df.count() > 0, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name must rank via the heap aggregate, not a window:\n$plan")
      assert(plan.contains("BroadcastExchange"),
        s"$name must broadcast the query/LUT side, not shuffle the corpus:\n$plan")
    }
  }

  test("BPE pair counting: two aggregates, exactly two exchanges, TakeOrdered argmax") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val top = graft.ops.BpeTrain.initialPairCounts(docs, "text")
      .orderBy(desc("pair_count"), asc("left_sym"), asc("right_sym")).limit(1)
    top.collect()
    // AQE repeats the tree under "== Initial Plan =="; count the final only
    val plan = top.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"),
      s"the argmax must be TakeOrdered, never a full sort:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 2,
      s"histogram + pair counts = exactly two shuffles:\n$plan")
  }

  test("incremental near-dup: the index side never self-joins") {
    import graft.ops.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.incrementalNearDupPairs(
      docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
      "text", "doc_id", threshold = 0.5)
    pairs.count()
    val plan = pairs.queryExecution.executedPlan.toString
    // one cross-side band join; a self-join would add a second join of
    // the same (band, band_key) shape
    assert(!plan.contains("Window"), s"no window anywhere in ingest:\n$plan")
  }

  test("repeated-span removals shuffle 16-byte hashes, not window text") {
    import graft.ops.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rem = Dedup.repeatedSpanRemovals(docs, "text", "doc_id", span = 13)
    rem.count()
    val plan = rem.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"owner selection must be a (min, count) fold, not a window:\n$plan")
    // the join back to positioned windows carries only (__h, __id, pos)
    assert(plan.contains("md5"),
      s"the shuffle key should be the md5 of the window:\n$plan")
  }

  test("string-heap heavy hitters (topNgrams / skewReport) plan Window-free") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dfs = Seq(
      "topNgrams" -> graft.ops.Retrieval.topNgrams(docs, "text", "lang", n = 2, k = 3),
      "skewReport" -> graft.ops.Reports.skewReport(docs, "source", k = 3))
    dfs.foreach { case (name, df) =>
      assert(df.count() > 0, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name must cut via the string heap, not a window:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$name should contain the string-heap aggregate:\n$plan")
    }
  }

  test("frequentNgrams probes broadcast sketches; the only sort-shuffles are aggregates") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ops.Retrieval.frequentNgrams(
      docs, "text", "lang", n = 2, minCount = 3, depth = 2, width = 64)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the occurrence screen must probe a BROADCAST sketch:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no shuffle join may touch the occurrence stream:\n$plan")
  }

  test("persisted-IVF serving scan is dynamically partition-pruned by probed cell") {
    val dir = tempDir("graft-dpp")
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nLists = 4)
    Similarity.saveIvfIndex(emb, cents, dir)
    val served = Similarity.ivfTopKPreassigned(
      spark.read.parquet(s"$dir/corpus"), emb.filter(col("vec_id") < 2),
      k = 3, cents, nProbe = 2)
    assert(served.count() > 0)
    val formatted = served.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("dynamicpruning"),
      s"the serving corpus scan should carry a dynamic partition filter:\n$formatted")
  }

  test("positional phrase/proximity serving reads are bucket-pruned, cartesian-free") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tempDir("graft-pos-plan")
    graft.ops.Retrieval.saveBm25Index(docs, "doc_id", "text", dir,
      numBuckets = 16, withPositions = true)
    val ph = Seq((1L, "the data")).toDF("pid", "phrase")
    val served = graft.ops.Retrieval.phraseSearchPreindexed(spark, dir, ph,
      "pid", "phrase")
    served.collect()
    val pPlan = served.queryExecution.executedPlan.toString
    assert(pPlan.contains("PartitionFilters: [term_bucket"),
      s"the phrase postings scan must prune to the phrase terms' buckets:\n$pPlan")
    assert(!pPlan.contains("CartesianProduct"), pPlan)
    val prox = graft.ops.Retrieval.proximitySearchPreindexed(spark, dir,
      Seq((1L, "the data")).toDF("qid", "qtext"), "qid", "qtext", window = 8)
    prox.collect()
    val xPlan = prox.queryExecution.executedPlan.toString
    assert(xPlan.contains("PartitionFilters: [term_bucket"),
      s"the proximity postings scan must prune to the query terms' buckets:\n$xPlan")
    assert(!xPlan.contains("CartesianProduct"), xPlan)
  }

  test("editDistanceJoin guards survive optimization; candidates join, not cross") {
    import spark.implicits._
    val df = Seq(("b", 1L, "abc"), ("b", 2L, "abd"), ("c", 3L, "xyz"))
      .toDF("blk", "id", "text")
    val out = graft.ops.Joins.editDistanceSelfJoin(df, Seq("blk"), "id", "text", 1)
    // the hot-block / text-length raise_error rides the consumed text
    // column, so the optimizer must NOT be able to prune it away
    val optimized = out.queryExecution.optimizedPlan.toString
    assert(optimized.contains("raise_error"),
      s"the loud ceiling was column-pruned out of the plan:\n$optimized")
    // candidate generation is the deletion-variant equi-join — no
    // cartesian / nested-loop product anywhere in the physical plan
    val physical = out.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join must not plan a cross product:\n$physical")
  }

  test("prefixJaccardJoin: equi-joins only, guard survives, no cartesian") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"),
      (3L, "x y z")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.prefixJaccardJoin(docs, "text", "doc_id", 0.5)
    // the hot-prefix raise_error rides the consumed token — unprunable
    val optimized = out.queryExecution.optimizedPlan.toString
    assert(optimized.contains("raise_error"),
      s"hot-prefix ceiling was pruned out:\n$optimized")
    val physical = out.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"prefix join must never plan a cross product:\n$physical")
  }

  test("connectedComponents star rounds and entityKeepers: no cartesian anywhere") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val recs = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (7L, 7.0), (8L, 8.0),
      (9L, 9.0)).toDF("id", "s")
    // the loop materializes internally; assert on the RETURNED mapping
    // plan and on a star-round shape probe via the public op
    val cc = graft.ops.Graphs.connectedComponents(pairs, "id_a", "id_b")
    val ccPlan = cc.queryExecution.executedPlan.toString
    assert(!ccPlan.contains("CartesianProduct") &&
      !ccPlan.contains("BroadcastNestedLoopJoin"),
      s"component mapping must be equi-joins only:\n$ccPlan")
    val ek = graft.ops.Joins.entityKeepers(recs, pairs, "id", "s")
    val ekPlan = ek.queryExecution.executedPlan.toString
    assert(!ekPlan.contains("CartesianProduct") &&
      !ekPlan.contains("BroadcastNestedLoopJoin"),
      s"entity keepers must be equi-joins only:\n$ekPlan")
  }

  test("ccApply: history is scanned behind broadcast joins, never cross-joined") {
    import spark.implicits._
    val hist = graft.ops.Graphs.connectedComponents(
      Seq((1L, 2L), (5L, 6L)).toDF("a", "b"), "a", "b")
    val out = graft.ops.Graphs.ccApply(
      hist, Seq((2L, 5L), (9L, 1L)).toDF("a", "b"), "a", "b")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"ccApply must be equi-joins only:\n$plan")
    // the increment-side joins against the history must BROADCAST (the
    // no-history-shuffle contract): at least the touched-rows semi and
    // the relabel join plan as broadcast hash joins
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast semi/relabel joins over the history scan:\n$plan")
  }

  test("repeatedSpans: no cartesian; windows aggregate on the md5 key") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.repeatedSpans(docs, "text", "doc_id", span = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span islands must never plan a cross product:\n$plan")
  }

  test("cleanCorpus null-id guard folds away on a non-nullable id") {
    // the guard is UNCONDITIONAL in code; Catalyst's NullPropagation is
    // what removes coalesce(id, raise_error) when the id's metadata says
    // non-nullable — pin that the free fast path actually materializes
    // behind the Ids.withSurrogateId on-ramp, and that a nullable
    // (parquet) id keeps the loud guard in the optimized plan. Parquet
    // sources, not literal frames: ConvertToLocalRelation eagerly
    // evaluates projections over LocalRelation and would swallow the
    // guard on BOTH paths.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
    val guardedPlan = graft.ops.Pipelines.cleanCorpus(
      docs, nearDupThreshold = 2.0, minQuality = 0.0).df
      .queryExecution.optimizedPlan.toString
    assert(guardedPlan.contains("must be non-null"),
      s"nullable id must keep the loud guard:\n$guardedPlan")
    val onRamp = graft.ops.Ids.withSurrogateId(docs, "doc_id").df
      .select(col("sid").as("doc_id"), col("text"))
    assert(!onRamp.schema("doc_id").nullable, "withSurrogateId sid must be non-nullable")
    val fastPlan = graft.ops.Pipelines.cleanCorpus(
      onRamp, nearDupThreshold = 2.0, minQuality = 0.0).df
      .queryExecution.optimizedPlan.toString
    assert(!fastPlan.contains("must be non-null"),
      s"non-nullable id should fold the guard out:\n$fastPlan")
  }

  test("preferencePairs and shardManifest plan as single hash aggregates, window-free") {
    import spark.implicits._
    val scored = (1L to 300L).map(i => (i % 30, i, (i % 7).toDouble))
      .toDF("item", "cand", "score")
    val prefs = graft.ops.Judges.preferencePairs(scored, "item", "cand", "score", 1.0)
    val pPlan = prefs.queryExecution.executedPlan.toString
    assert(!pPlan.contains("Window"),
      s"preferencePairs must argmax in the aggregate, not a window:\n$pPlan")
    assert(!pPlan.contains("CartesianProduct") &&
      !pPlan.contains("BroadcastNestedLoopJoin"), pPlan)
    val manifest = graft.io.Layout.shardManifest(
      (1L to 100L).map(i => (i, s"p$i")).toDF("id", "payload"), "id", 4)
    val mPlan = manifest.queryExecution.executedPlan.toString
    assert(!mPlan.contains("Window") && !mPlan.contains("Sort"),
      s"shardManifest is one hash aggregate:\n$mPlan")
  }

  test("embeddingDriftCells: literal-centroid cells, broadcast totals, no window") {
    import spark.implicits._
    val cents = Seq((0, Seq(1.0, 0.0), 1.0), (1, Seq(0.0, 1.0), 1.0))
    val a = (1L to 50L).map(i => (i, Seq(0.9, 0.1))).toDF("vec_id", "embedding")
    val b = (1L to 50L).map(i => (i, Seq(0.1, 0.9))).toDF("vec_id", "embedding")
    val cells = graft.ops.Drift.embeddingDriftCells(a, b, "embedding", cents)
    val plan = cells.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"drift must not window:\n$plan")
    // the only nested-loop is the broadcast of the 1-row totals frame
    assert(!plan.contains("CartesianProduct"), plan)
    assert(cells.count() == 2L)
  }

  test("resampleToMixture corpus side is one map-side filter over the scan") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val w = Seq(("s0", 0.4), ("s1", 0.3), ("s2", 0.3)).toDF("domain", "weight_r")
    val out = graft.ops.Mixture.resampleToMixture(docs, "id", "src", w, 100L)
    val plan = out.queryExecution.executedPlan.toString
    // <=64 domains -> the literal CASE chain: no join, no exchange, no
    // window — the corpus path is scan + filter
    assert(!plan.contains("Exchange"),
      s"small-domain resample must not shuffle the corpus:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("staged evaluation is one frame: no row ids, checkpoints or caches") {
    import spark.implicits._
    val bids = (1 to 40).map(i => (i.toLong, (i % 9) * 100.0 + i)).toDF("id", "acctbal")
    val res = new StagedEvaluator()
      .addStage("Screen", filterType = "score_threshold", threshold = 20.0)
      .linear("acctbal", 1.0)
      .addStage("Shortlist", filterType = "top_n", topN = 10, onTie = "exclude")
      .direct("acctbal", 1.0, inputScale = 1000.0)
      .addStage("Award")
      .minRatio("acctbal", 1.0)
      .evaluateResult(bids)
    assert(res.df.count() == bids.count())
    val qe = res.df.queryExecution
    val analyzed = qe.analyzed.toString
    assert(!analyzed.contains("monotonically_increasing_id"),
      s"staged plan must not assign row ids:\n$analyzed")
    assert(!analyzed.contains("LogicalRDD"),
      s"staged plan must not read a checkpoint:\n$analyzed")
    val cached = qe.withCachedData.toString
    assert(!cached.contains("InMemoryRelation"),
      s"staged plan must not read cached stage frames:\n$cached")
  }

  test("staged plan grows linearly: every top-N stage adds the same number of leaves") {
    import spark.implicits._
    val bids = (1 to 200).map(i => (i.toLong, (i * 37 % 101).toDouble, (i % 13).toDouble))
      .toDF("id", "a", "b")
    val leaves = (1 to 4).map { k =>
      val ev = new StagedEvaluator()
      (1 to k).foreach { j =>
        ev.addStage(s"Top$j", filterType = "top_n", topN = 200 - 20 * j,
            onTie = if (j % 2 == 0) "exclude" else "include")
          .linear(if (j % 2 == 0) "a" else "b", 1.0)
      }
      val res = ev.addStage("Final").minRatio("a", 1.0).evaluateResult(bids)
      res.df.queryExecution.analyzed.collectLeaves().size
    }
    val steps = leaves.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    assert(steps.distinct.size == 1 && steps.head > 0,
      s"analyzed leaves for 1-4 top-N stages (${leaves.mkString("/")}) must grow by a constant")
  }
}
