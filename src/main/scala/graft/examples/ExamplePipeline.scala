package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graphs, Joins, Packing, Pipelines, QualityRules, Retrieval, Sampling, Similarity, Snapshot}

/** Training-data-pipeline usage trace: the end-to-end flow a corpus team
  * would run — clean, check contamination, split, pack, and quantize —
  * over the shared testdata. Run:
  * {{{ sbt "runMain graft.examples.ExamplePipeline" }}}
  */
object ExamplePipeline {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-example-pipeline")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.ansi.enabled", "false")
      // testdata events.ts is TIMESTAMP(NANOS): read as long nanoseconds
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // 1. clean + enrich + deterministic split, one lazy plan
    // (htmlClean = web-text stage 0: tag strip, entity decode,
    // boilerplate lines, PII redaction — before dedup so markup-only
    // variants collapse to exact duplicates; lineDedup strips
    // corpus-frequent chrome lines, the source quota caps any one
    // domain, shuffleShards emits the deterministic epoch order)
    val prepared = Pipelines.prepareTrainingCorpus(
      docs, nearDupThreshold = 0.9, minQuality = 30.0, htmlClean = true,
      lineDedupMaxDocFreq = Some(50L),
      sourceQuota = Some(("source", 100)),
      shuffleShards = Some(8),
      maxPerplexity = Some(1e6), // bigram-LM gate (loose here: tiny corpus)
      maxLengthZ = Some(4.0),    // per-language token-count outlier gate
      // Gopher rule bundle riding the quality stage, tuned for the
      // SYNTHETIC template corpus: the paper's English-stop-word rule
      // and 3.0 avg-word-len floor reject template text wholesale
      // (every doc flunked and the rest of this demo ran on zero rows
      // until round 13 noticed), so those two gates relax here while
      // the symbol/bullet/alpha rules stay at paper defaults
      gopherRules = Some(QualityRules.GopherConfig(
        minWords = 5, minStopwordHits = 0, minAvgWordLen = 2.0)),
      benchDecontaminate = Some((docs.filter(col("doc_id") >= 400), 0.5)))
    val stats = prepared.stats()
    println(s"funnel: in=${stats.input} exact=${stats.afterExactDedup} " +
      s"near=${stats.afterNearDedup} quality=${stats.afterQuality} out=${stats.output}")
    prepared.df.groupBy("split").count().orderBy("split").show()

    // 2. contamination: is the held-out tail leaked into the training head?
    // report the leaks, then drop the contaminated training docs
    val leaks = Dedup.contaminationPairs(
      docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
      "text", "doc_id", threshold = 0.5, ngram = 3, maxDocFreq = Some(100L))
    println(s"contaminated benchmark docs: ${leaks.select("bench_id").distinct().count()}")
    val decontaminated = Dedup.decontaminate(
      docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
      "text", "doc_id", threshold = 0.5, ngram = 3, maxDocFreq = Some(100L))
    println(s"training docs after decontamination: ${decontaminated.count()}")

    // 3. pack the training split into 512-token sequences per source shard
    val packed = Packing.sequencePacking(
      prepared.df.filter(col("split") === "train")
        .select(col("doc_id"), col("source"), col("n_tokens")),
      "doc_id", "n_tokens", "source", budget = 512L, orderCol = "doc_id")
    packed.select(sum("n_chunks")).show()

    // 4. quantize embeddings for the retrieval index; search via the
    //    int8 prefilter + exact rerank
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 2), k = 5, rerank = 20)
      .orderBy("query_id", "nn_rank").show()

    // 5. as-of alignment on the event stream (latest purchase before click)
    val ev = graft.io.Tables.table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"), col("value"))
    Joins.asofJoinBackward(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"),
      "user_id", "us", "us", "event_id", payloadCols = Seq("event_id", "value"))
      .select("event_id", "user_id", "asof_event_id", "asof_value")
      .show(5)

    // 6. deterministic stratified subsample for an eval set
    val sampled = Sampling.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 0.25), default = 0.05)
    println(s"stratified sample: ${sampled.count()} docs")

    // 7. keyword retrieval over the cleaned corpus (BM25, heap top-k)
    import spark.implicits._
    val queries = Seq((1L, "query hash join"), (2L, "window agg fast"))
      .toDF("qid", "qtext")
    Retrieval.bm25Search(prepared.df, "doc_id", "text", queries, "qid", "qtext", topK = 3)
      .orderBy("qid", "rank").show()

    // 8. compact the event log to its latest state per user
    val latest = Snapshot.latestByKey(ev, Seq("user_id"), col("us"), "event_id")
    println(s"latest-state rows: ${latest.count()} (from ${ev.count()} events)")

    // 9. diversity-balanced eval carve: cap each embedding-space region
    //    (trained IVF quantizer), then an exactly-100 uniform spot-check set
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nLists = 8)
    val balanced = Sampling.clusterBalancedSample(
      emb, "vec_id", "embedding", cents, perCluster = 25)
    println(s"cluster-balanced sample: ${balanced.count()} vectors over 8 cells")
    println(s"exact-100 sample: " +
      s"${Sampling.uniformSampleExact(docs, "doc_id", 100).count()} docs")

    // 10. domain-authority prior: PageRank the nation trade graph and
    //     surface the top sources a crawl would upweight
    val o2 = spark.read.parquet(s"$dir/orders.parquet")
    val c2 = spark.read.parquet(s"$dir/customer.parquet")
    val s2 = spark.read.parquet(s"$dir/supplier.parquet")
    val li2 = spark.read.parquet(s"$dir/lineitem.parquet")
    val trade = li2.join(o2, li2("l_orderkey") === o2("o_orderkey"))
      .join(c2, o2("o_custkey") === c2("c_custkey"))
      .join(s2, li2("l_suppkey") === s2("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
    Graphs.pageRank(trade, "src", "dst").orderBy(desc("rank")).show(5)

    // 11. DSIR data selection: score the training head by how target-like
    //     its hashed bigrams are (held-out tail as the target domain),
    //     then keep a Gumbel-resampled subset proportional to
    //     exp(score/T) — the soft importance-resampling policy
    val dsirScores = graft.ops.Dsir.scoreAgainstTarget(
      docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
      "doc_id", "text", n = 2, buckets = 4096)
    val picked = graft.ops.Dsir.gumbelSample(dsirScores, "doc_id", 50,
      temperature = 2.0, salt = "epoch1")
    println(s"dsir-resampled training subset: ${picked.count()} docs")

    // 12. corpus accounting with fixed-size sketches: per-source distinct
    //     docs (KMV bottom-k) and overlap between two slices — k-row
    //     state however large the corpus
    graft.ops.Sketches.kmvDistinct(docs, Seq("source"), "text", k = 64)
      .orderBy("source").show(5)
    graft.ops.Sketches.kmvOverlap(
      docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 300),
      "text", k = 64).show()

    // 13. exact-substring self-dedup: cut repeated verbatim 13-token
    //     spans (boilerplate), keep one canonical occurrence
    val trimmed = graft.ops.Dedup.selfDedupSpans(docs, "text", "doc_id")
    println(s"self-dedup: ${trimmed.filter(length(col("text")) > 0).count()} docs keep text")

    // 14. error bars on a corpus metric: one-pass Poisson-bootstrap CI
    //     for mean document length
    graft.ops.Bootstrap.meanCI(docs, "doc_id", "n_chars", replicas = 200).show()

    // 15. train/test leakage audit over the split we carved in `prepared`:
    //     near-dup pairs straddling splits (eval docs that would leak)
    val splitLeaks = graft.ops.Dedup.splitLeakagePairs(
      prepared.df.select("doc_id", "text", "split"), "text", "doc_id", "split",
      threshold = 0.5)
    println(s"cross-split near-dup pairs: ${splitLeaks.count()}")

    // 16. tokenizer economics: train 12 BPE merges on the cleaned corpus,
    //     report the sequence-length profile a packing stage would see,
    //     then mix sources under a TOKEN budget (not a row cap)
    val merges = graft.ops.BpeTrain.train(docs, "text", numMerges = 12)
    println(s"bpe merges: " + merges.take(5).map(m => s"${m.left}+${m.right}").mkString(", ") + ", ...")
    val lens = graft.ops.BpeTrain.tokensPerDoc(docs, "doc_id", "text", merges)
    val budgeted = Sampling.tokenBudgetSample(
      docs, "doc_id", "source", "n_chars", budget = 3000L)
    val meanLen = lens.agg(avg("n_bpe_tokens")).first().getDouble(0)
    println(f"token-budget mix admits ${budgeted.count()} docs; mean seq len $meanLen%.1f")

    // 17. label hygiene before any classifier training: per-label
    //     centroids, worst-fitting rows flagged, hard negatives mined
    val noisy = graft.ops.Labels.labelNoiseCandidates(
      emb, "label", "vec_id", "embedding", k = 3)
    println(s"label-noise candidates: ${noisy.count()} flagged")
    graft.ops.Labels.hardNegatives(
      emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", "label", k = 3)
      .orderBy("anchor_id", "neg_rank").show(9)

    // 18. incremental ingest: yesterday's corpus is the index, today's
    //     batch only joins cross-side — admit what near-dups nothing
    val admitted = graft.ops.Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
      "text", "doc_id", threshold = 0.5)
    println(s"incremental ingest admits ${admitted.count()} of " +
      s"${docs.filter(col("doc_id") % 4 === 0).count()} batch docs")

    // 19. a fully verifiable quantizer: portable kmeans (hash-seeded,
    //     deterministic folds) feeding the same IVF machinery as MLlib's
    val kmCents = Similarity.trainKmeansPortable(
      emb, "vec_id", "embedding", k = 8, iters = 4)
    val kmBalanced = Sampling.clusterBalancedSample(
      emb, "vec_id", "embedding", kmCents, perCluster = 25)
    println(s"portable-kmeans balanced sample: ${kmBalanced.count()} vectors")

    // 20. corpus-scale hard-negative mining: the LSH-bucketed path (no
    //     cartesian) — what replaces stage 17's brute scan when the
    //     anchor set itself is corpus-sized
    val lshNegs = graft.ops.Labels.hardNegativesLsh(
      emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", "label",
      k = 3, dim = 64)
    println(s"lsh hard negatives: ${lshNegs.count()} pairs for 50 anchors")

    // 21. media dedup past the 64-bit band ceiling: 256-bit gradient
    //     hashes, 32-bit Hamming bands, exact recall at distance <= 7
    import org.apache.spark.sql.types._
    val ppms = docs.limit(400).select("doc_id").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val gid = id / 2
        val rgb = Array.tabulate(16 * 12 * 3)(i => ((gid * 31 + i) % 256).toByte)
        if (id % 2 == 1) rgb(6) = ((gid * 31 + 134) % 256).toByte
        org.apache.spark.sql.Row(id, graft.ops.ImageCodecs.encodePpm(
          graft.ops.ImageCodecs.DecodedImage(16, 12, rgb)))
      }
    }(org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))))
    val dh = graft.ops.Multimodal.imageHashes256(ppms, "doc_id", "payload")
    val dhPairs = graft.ops.Dedup.imageNearDupPairs256(dh, "doc_id")
    println(s"256-bit image near-dup pairs: ${dhPairs.count()}")

    // 22. measure the dedup estimator before trusting it: exact shingle
    //     Jaccard on every reported pair, reduced to the one-row verdict
    val verdict = graft.ops.Dedup.nearDupAuditSummary(
      docs.limit(500), "text", "doc_id", threshold = 0.5).head()
    println(f"near-dup audit: ${verdict.getLong(0)} pairs, " +
      f"precision ${verdict.getDouble(2)}%.3f, mae ${verdict.getDouble(3)}%.4f")

    // 23. the release artifacts: per-source datasheet + mirror matrix +
    //     tokenizer fertility under the trained merges
    println("datasheet (3 sources):")
    graft.ops.Reports.corpusDatasheet(docs).orderBy("source").show(3, truncate = false)
    val mirrors = graft.ops.Reports.crossSourceDupMatrix(docs).count()
    println(s"cross-source mirror pairs: $mirrors")
    val fert = graft.ops.BpeTrain.fertility(docs, "doc_id", "text", "source", merges)
      .agg(avg("fertility_r")).head().getDouble(0)
    println(f"mean tokenizer fertility: $fert%.3f tokens/word")

    // 24. epoch construction end-to-end: repeats -> shuffle order ->
    //     pack -> materialized chunks with provenance
    val repeated = graft.ops.Sampling.withEpochRepeats(
      docs.select("doc_id", "source", "text"), "doc_id", "source",
      Map("src0" -> 2.0), salt = "ep")
    val withToks = repeated
      .withColumn("copy_id", col("doc_id") * 4 + col("epoch_copy"))
      .withColumn("toks", graft.ops.TextAnalysis.tokens(col("text")))
      .withColumn("n", when(col("text").isNull, 0).otherwise(size(col("toks"))))
    val ordered2 = graft.ops.Sampling.withShuffleOrder(withToks, "copy_id", 8, "ep")
    val packed2 = graft.ops.Packing.sequencePacking(
      ordered2, "copy_id", "n", "shard", budget = 512L, orderCol = "shuffle_pos")
    val chunks = graft.ops.Packing.materializeChunks(packed2, "toks", "shard", 512L)
    val prov = graft.ops.Packing.chunkProvenance(packed2, "copy_id", "n", "shard", 512L)
    println(s"epoch: ${repeated.count()} doc-copies -> ${chunks.count()} chunks " +
      s"(${prov.count()} provenance spans)")

    // 25. train the quality gate IN-ENGINE, measure it on the held-out
    //     split, then read the multi-benchmark contamination audit —
    //     the full release-gate story: train -> evaluate -> audit
    val labeled = docs.withColumn("y", (col("doc_id") % 2).cast("double"))
    val w = graft.ops.Classifier.trainPortable(
      labeled, "text", "y", "doc_id", dim = 64, iters = 4, lr = 0.5)
    val metrics = graft.ops.Classifier.evaluate(
      labeled, "text", "y", "doc_id", w).head()
    val acc: Double =
      Option(metrics.getAs[java.lang.Double]("accuracy_r")).fold(-1.0)(_.doubleValue)
    println(f"gate eval (test split, n=${metrics.getAs[Long]("n_eval")}): acc=$acc%.3f")
    val benches = docs.filter(col("doc_id") >= 400 && col("doc_id") < 500)
      .withColumn("bench",
        when(col("doc_id") < 450, lit("benchA")).otherwise(lit("benchB")))
    println("multi-benchmark contamination report:")
    graft.ops.Dedup.contaminationReport(
      docs.filter(col("doc_id") < 400), benches, "text", "doc_id",
      threshold = 0.5, maxDocFreq = Some(100L)).orderBy("bench").show()

    // 26. curriculum epoch order: quality-staged bands, shuffled within
    val cur = Sampling.curriculumOrder(
      docs.withColumn("q", graft.ops.TextAnalysis.qualityScore(col("text"))),
      "doc_id", "q", nStages = 4, numShards = 8, salt = "cur")
    println(s"curriculum: " + cur.groupBy("stage").count().orderBy("stage")
      .collect().map(r => s"stage ${r.get(0)}: ${r.getLong(1)}").mkString(", "))

    // 27. string-keyed corpora ride the numeric-id machinery through the
    //     surrogate on-ramp: dedup + grouped top-k over md5 keys
    val uuidDocs = docs.withColumn("uid", md5(concat(col("doc_id"), lit("u"))))
      .select("uid", "text", "source", "n_chars")
    val sr = graft.ops.Ids.withSurrogateId(uuidDocs, "uid")
    val topPerSource = graft.ops.Ids.restoreId(
      graft.ops.GroupTopK.topKPerGroup(
        graft.ops.Dedup.dropExactDups(sr.df, "text", "sid"),
        Seq("source"), "sid", "n_chars", k = 2),
      sr.mapping)
    println(s"surrogate-id top-2 per source: ${topPerSource.count()} rows")

    // 28. video dedup end-to-end: synthetic 4-frame clips, per-frame
    //     256-bit hashes, frame-set near-dups + exact dup groups
    val clips = docs.limit(200).select("doc_id").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val gid = id / 2
        val frames = (0 until 4).map { f =>
          val rgb = Array.tabulate(16 * 12 * 3)(i => ((gid * 31 + f * 97 + i) % 256).toByte)
          if (id % 2 == 1 && f == 1) rgb(6) = ((gid * 31 + f * 97 + 134) % 256).toByte
          graft.ops.ImageCodecs.DecodedImage(16, 12, rgb)
        }
        org.apache.spark.sql.Row(id, graft.ops.VideoCodecs.encodeClip(frames))
      }
    }(org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))))
    val vfh = graft.ops.Multimodal.videoFrameHashes(clips, "doc_id", "payload")
    val vPairs = graft.ops.Dedup.videoNearDupPairs(vfh, "doc_id", minJaccard = 0.5)
    println(s"video near-dup pairs (frame-set jaccard >= 0.5): ${vPairs.count()}")

    // 29. ANN serving artifact: build the IVF index ONCE (partitioned by
    //     cell), then answer a query batch against the persisted index —
    //     the build-once/query-forever path annQueryStream loops on
    val emb2 = spark.read.parquet(s"$dir/embeddings.parquet")
    val servingDir = graft.io.TempDirs.create("graft-ivf-serve").toString
    val cents2 = graft.ops.Similarity.trainIvfCentroids(emb2, "embedding", nLists = 16)
    graft.ops.Similarity.saveIvfIndex(emb2, cents2, servingDir)
    val served = graft.ops.Similarity.ivfTopKPreassigned(
      spark.read.parquet(s"$servingDir/corpus"),
      emb2.filter(col("vec_id") < 5), k = 5,
      graft.ops.Similarity.loadIvfCentroids(spark, servingDir), nProbe = 4)
    println(s"ivf serving: ${served.count()} answers from the persisted index")

    // 29b. RAG retrieval serving at CHUNK grain: chunk the corpus with
    //      integer provenance (cid = doc_id*1000 + chunk_idx), persist a
    //      chunk-grain BM25 index ONCE, then serve queries from it and
    //      map hits back INTO the document — the build-once/serve-forever
    //      discipline for retrieval that points at a passage, not a doc
    val chunkIdxDir = graft.io.TempDirs.create("graft-chunk-serve").toString
    val ragChunks = Retrieval.chunkText(docs, "doc_id", "text",
        chunkSize = 200, overlap = 50)
      .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
    Retrieval.saveBm25Index(ragChunks, "cid", "chunk", chunkIdxDir, numBuckets = 32)
    val ragHits = Retrieval.bm25SearchPreindexed(spark, chunkIdxDir,
        queries, "qid", "qtext", topK = 3)
      .select(col("qid"), col("rank"),
        expr("cid div 1000").as("doc_id"), pmod(col("cid"), lit(1000L)).as("chunk_idx"))
    println(s"chunk-grain rag serving: ${ragHits.count()} passage hits " +
      "with (doc_id, chunk_idx) provenance")

    // 30. corpus observability: where would a big join melt (skew), what
    //     changed between crawl snapshots (token drift), how derivative
    //     is the new slice (n-gram novelty), and the exact frequent
    //     bigrams the sketch screen lets through
    val src0 = docs.filter(col("source") === "src0")
    val src1 = docs.filter(col("source") === "src1")
    println("skew: " + graft.ops.Reports.skewReport(docs, "source", k = 3)
      .collect().map(r => s"${r.getString(1)}=${r.getLong(2)}").mkString(", "))
    println("top drift tokens: " + graft.ops.Drift.tokenDrift(src0, src1, "text", k = 3)
      .orderBy("rank").collect().map(_.getString(1)).mkString(", "))
    val nov = graft.ops.TextAnalysis.novelGramFraction(src1, src0, "text", "doc_id")
    println(f"mean novelty of src1 vs src0: ${nov.agg(avg("novelty_r")).head().getDouble(0)}%.3f")
    println(s"frequent bigrams (cnt >= 5): " + graft.ops.Retrieval.frequentNgrams(
      docs, "text", "lang", n = 2, minCount = 5).count() + " rows")

    // 31. event-log health: weekly retention, behavioral transitions,
    //     and the release diff of the latest-state snapshot
    val evHealth = graft.io.Tables.table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"), col("value"))
    val ret = graft.ops.Metrics.retentionCohorts(
      evHealth, "user_id", col("us"), bucketUs = 604800000000L)
    println(s"retention cells: ${ret.count()}")
    println("transitions: " + graft.ops.Metrics.eventTransitions(
        evHealth, "user_id", "event_type", col("us"), "event_id")
      .orderBy(desc("n")).limit(3).collect()
      .map(r => s"${r.getString(0)}->${r.getString(1)}").mkString(", "))
    val cutUs = evHealth.agg(percentile(col("us"), lit(0.5))).head().getDouble(0).toLong
    val snapPrev = Snapshot.latestByKey(
      evHealth.filter(col("us") < cutUs), Seq("user_id"), col("us"), "event_id")
    val snapCur = Snapshot.latestByKey(evHealth, Seq("user_id"), col("us"), "event_id")
    println("snapshot diff: " + graft.ops.Snapshot.snapshotDiff(
        snapPrev, snapCur, Seq("user_id"), Seq("event_type", "value"))
      .groupBy("change").count().orderBy("change").collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))

    // 32. product analytics on the same event log: gap sessions, the
    //     ordered conversion funnel, signup→purchase latency, the
    //     per-user activity power-law, and fuzzy record linkage on
    //     customer names (nation-blocked deletion-index join)
    val sess = graft.ops.Sessions.sessionStats(
      evHealth, "user_id", col("us"), "event_id", "event_type",
      gapUs = 1800000000L)
    println(f"sessions: ${sess.count()} (mean events/session " +
      f"${sess.agg(avg("n_events")).head().getDouble(0)}%.2f)")
    println("funnel: " + graft.ops.Sessions.funnel(
        evHealth, "user_id", "event_type", col("us"),
        Seq("signup", "view", "click", "purchase"))
      .orderBy("step_idx").collect()
      .map(r => s"${r.getString(1)}=${r.getLong(2)}").mkString(", "))
    val lat = graft.ops.Sessions.conversionLatency(
      evHealth, "user_id", "event_type", col("us"), "signup", "purchase")
    println(s"signup→purchase: ${lat.head().getAs[Long]("n_converted")} converted, " +
      s"p50 ${lat.head().getAs[Double]("p50_us_r").toLong} us")
    println("activity log2-buckets: " + graft.ops.Sessions
      .activityHistogram(evHealth, "user_id").count())
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_nationkey").as("nationkey"), col("c_custkey"), col("c_name"))
    println("fuzzy name pairs (lev<=1, nation-blocked): " +
      graft.ops.Joins.editDistanceSelfJoin(
        cust, Seq("nationkey"), "c_custkey", "c_name", maxDist = 1).count())

    // 33. governance: SCD2 dimension history from the order stream
    //     (bootstrap + incremental apply), then a k-anonymity audit and
    //     suppression gate on the customer quasi-identifiers — the
    //     release-review stages a corpus ships through
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderpriority"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        col("o_orderkey"))
    val splitUs = 852076800000000L // 1997-01-01
    val scdHist = Snapshot.scd2History(ord.filter(col("us") < splitUs),
      Seq("o_custkey"), Seq("o_orderpriority"), col("us"), "o_orderkey")
    val scdFull = Snapshot.scd2Apply(scdHist, ord.filter(col("us") >= splitUs),
      Seq("o_custkey"), Seq("o_orderpriority"), col("us"), "o_orderkey")
    println(s"scd2: ${scdFull.count()} validity intervals " +
      s"(${scdFull.filter(col("is_current")).count()} current)")
    val fullCust = spark.read.parquet(s"$dir/customer.parquet")
    val audit = graft.ops.Privacy.kAnonymityAudit(
      fullCust, Seq("c_nationkey", "c_mktsegment"), k = 2L).head()
    println(s"k-anonymity: k_actual=${audit.getAs[Long]("k_actual")}, " +
      s"${audit.getAs[Long]("n_rows_at_risk")} rows at risk of ${audit.getAs[Long]("n_rows")}")
    println("after suppression: " + graft.ops.Privacy.suppressBelowK(
      fullCust, Seq("c_nationkey", "c_mktsegment"), k = 2L).count() + " rows")

    // 34. monitoring + estimation: CUSUM drift watch on the event log,
    //     hybrid-retrieval fusion, a join pre-flight, cross-lang score
    //     normalization, and HT corpus estimates from a known-prob sample
    val evm = graft.io.Tables.table(spark, dir, "events")
      .select(col("event_type"), expr("ts div 1000").as("us"))
    val cu = graft.ops.Metrics.cusumChangepoints(evm, "event_type", col("us"),
      bucketUs = 3600000000L)
    println(s"cusum: ${cu.count()} series-buckets, " +
      s"${cu.filter(col("alarm_up") || col("alarm_down")).count()} alarms")
    val prior = docs.filter(col("text").isNotNull)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("n_chars").asc, col("doc_id").asc)))
      .filter(col("rank") <= 10)
    val fused = graft.ops.Retrieval.rrfFuse(
      prior.select(col("lang"), col("doc_id"), lit("len").as("system"), col("rank"))
        .unionByName(prior.select(col("lang"), col("doc_id"),
          lit("alt").as("system"), (lit(11) - col("rank")).as("rank"))),
      "lang", "doc_id", "system", "rank", topK = 3)
    println(s"rrf fused top-3 per lang: ${fused.count()} rows")
    println("join preflight customer x orders: " +
      graft.ops.Reports.joinSizeEstimate(
        spark.read.parquet(s"$dir/customer.parquet").select(col("c_custkey").as("k")),
        spark.read.parquet(s"$dir/orders.parquet").select(col("o_custkey").as("k")),
        Seq("k")).head())
    val qn = graft.ops.Outliers.quantileNormalize(
      docs.select("doc_id", "lang", "n_chars"), Seq("lang"), "n_chars", grid = 100)
    println(s"quantile-normalized: ${qn.filter(col("qnorm_r").isNotNull).count()} docs")
    val pr = (lit(1.0) + pmod(col("doc_id"), lit(5)).cast("double")) / lit(10.0)
    val ht = graft.ops.Sampling.htEstimate(
      docs.select("doc_id", "source", "n_chars").withColumn("p", pr)
        .filter(graft.ops.Sampling.unitHash(col("doc_id"), "ht") < col("p")),
      "doc_id", "p", "n_chars", Seq("source"))
    val totals = ht.agg(sum("n_sample"), sum("est_rows_r")).head()
    println(f"ht: ${totals.getLong(0)} sampled docs estimate " +
      f"${totals.getDouble(1)}%.0f corpus docs (true ${docs.count()})")

    // 35. entity resolution end-to-end: fuzzy matches (deletion-index
    //     join) chain into entities (star-contraction components) and
    //     each entity keeps its best record — the master-data step that
    //     turns near-duplicate customers into one canonical row
    val erCust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_nationkey").as("nationkey"), col("c_custkey"),
        col("c_name"), col("c_acctbal"))
    val erPairs = graft.ops.Joins.editDistanceSelfJoin(erCust, Seq("nationkey"),
      "c_custkey", "c_name", maxDist = 1)
    val keepers = graft.ops.Joins.entityKeepers(erCust, erPairs,
      "c_custkey", "c_acctbal")
    println(s"entity resolution: ${keepers.count()} records -> " +
      s"${keepers.select("component").distinct().count()} entities, " +
      s"${keepers.filter(col("node") === col("keeper_id")).count()} keepers")

    // 36. curation analytics on the cleaned corpus: robust (median/MAD)
    //     length outliers per language, TF-IDF topic keywords, top
    //     behavioral motifs, and a weighted no-replacement sample for
    //     human review — each judged/sampled deterministically
    val rz = graft.ops.Outliers.withGroupRobustZscore(
      docs.select("doc_id", "lang", "n_chars"), Seq("lang"), "n_chars")
    println(s"robust outliers (|z|>3.5): " +
      rz.filter(abs(col("robust_z_r")) > 3.5).count())
    println("tfidf keywords (top-3/doc): " +
      graft.ops.TextAnalysis.tfidfKeywords(docs, "text", "doc_id", k = 3).count())
    val paths = graft.ops.Sessions.eventPaths(
      graft.io.Tables.table(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("event_id")),
      "user_id", "event_type", col("us"), "event_id", depth = 3, k = 5)
    println("top event motifs: " + paths.collect()
      .map(r => s"${r.getAs[String]("path")} x${r.getAs[Long]("n")}").mkString("; "))
    val review = graft.ops.Sampling.weightedSampleNoReplacement(
      docs.withColumn("w", col("n_chars") + lit(1L)),
      "doc_id", "w", Seq("lang"), k = 3, salt = "review")
    println(s"review sample (3/lang, length-weighted, no replacement): " +
      review.count() + " docs")

    // 30. span accounting: the MAXIMAL repeated regions behind step 13's
    //     cuts (the ExactSubstr report a curation review reads)
    val islands = graft.ops.Dedup.repeatedSpans(docs, "text", "doc_id")
    println(s"repeated-span islands: ${islands.count()} " +
      s"(longest ${islands.agg(max(col("span_end") - col("span_start"))).first().get(0)} tokens)")

    // 31. entity maintenance the incremental way: standing components
    //     from the first half of a fuzzy pair graph, merge the second
    //     half without re-contracting, name survivors from the merged map
    val custs = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_nationkey").as("nationkey"), col("c_custkey"), col("c_name"),
        col("c_acctbal"))
    val fuzz = graft.Checkpoints.trackCache(graft.ops.Joins.editDistanceSelfJoin(
      custs.select("nationkey", "c_custkey", "c_name"),
      Seq("nationkey"), "c_custkey", "c_name", maxDist = 1).persist())
    val standing = graft.ops.Graphs.connectedComponents(
      fuzz.filter(col("id_a") % 2 === 0), "id_a", "id_b")
    val mergedMap = graft.Checkpoints.trackCache(graft.ops.Graphs.ccApply(
      standing, fuzz.filter(col("id_a") % 2 =!= 0), "id_a", "id_b").persist())
    val incKeepers = graft.ops.Joins.entityKeepersFromComponents(
      custs.select("c_custkey", "c_acctbal"), mergedMap, "c_custkey", "c_acctbal")
    println(s"incremental entity resolution: ${incKeepers.count()} assignments, " +
      s"${incKeepers.select("keeper_id").distinct().count()} keepers")

    // 32. tokenizer bake-off: unigram-LM vs the step-16 BPE on fertility,
    //     plus the unigram LM as a per-doc fluency gate
    val uniVocab = graft.ops.UnigramTrain.train(docs, "text",
      maxPieceLen = 4, vocabSize = 64, iters = 2)
    val uf = graft.ops.UnigramTrain.fertility(
      docs, "doc_id", "text", "source", uniVocab)
      .agg(avg("fertility_r")).first().getDouble(0)
    val bf = graft.ops.BpeTrain.fertility(docs, "doc_id", "text", "source", merges)
      .agg(avg("fertility_r")).first().getDouble(0)
    println(f"fertility: unigram $uf%.3f vs bpe $bf%.3f tokens/word")
    val fluency = graft.ops.UnigramTrain.docLogProb(docs, "doc_id", "text", uniVocab)
    println(s"fluency gate: ${fluency.filter(col("avg_lnp_r") < -8.0).count()} " +
      "docs below -8 avg ln-prob")

    // 33. lexical serving artifacts: build the BM25 postings index AND
    //     its doc-grain forward sidecar as ONE fused family (every later
    //     mutation rides one marker — served PRF can never read the
    //     pair out of step), plus a chunk-grain RAG index with the
    //     cid = doc_id·1000 + chunk_idx provenance
    val bm25Dir = graft.io.TempDirs.create("graft-ex-bm25").toString
    graft.ops.Retrieval.saveBm25WithForward(prepared.df, "doc_id", "text", bm25Dir)
    graft.ops.Retrieval.bm25SearchPreindexed(
        spark, bm25Dir, queries, "qid", "qtext", topK = 3)
      .orderBy("qid", "rank").show()
    graft.ops.Retrieval.bm25SearchPrfPreindexed(
        spark, bm25Dir, graft.ops.Retrieval.bm25ForwardPathFor(bm25Dir),
        queries, "qid", "qtext", topK = 3, fbDocs = 3, fbTerms = 2)
      .orderBy("qid", "rank").show()
    val chunkDir = graft.io.TempDirs.create("graft-ex-chunk").toString
    def cidsOf(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Retrieval.chunkText(d, "doc_id", "text", 200, 50)
        .select((col("doc_id") * lit(1000L) + col("chunk_idx")).as("cid"),
          col("chunk"))
    graft.ops.Retrieval.saveBm25Index(cidsOf(prepared.df), "cid", "chunk",
      chunkDir)

    // 34. tokenizer serving artifact: freeze step 32's vocabulary to
    //     disk, encode through the frozen artifact (what every later
    //     backfill/ingest job loads instead of retraining)
    val tokDir = graft.io.TempDirs.create("graft-ex-tok").toString
    graft.ops.UnigramTrain.saveTokenizer(spark, uniVocab, tokDir)
    val tokenized = graft.ops.UnigramTrain.encodeDocsPreindexed(
      spark, tokDir, docs, "doc_id", "text")
    println(s"tokenizer artifact: ${tokenized.agg(sum(col("n_pieces"))).first().get(0)} " +
      "pieces encoded through the frozen vocab")

    // 35. judge panel -> preference pairs -> Bradley-Terry: score docs
    //     with a heuristic judge, build margin-gated chosen/rejected
    //     pairs per prompt bucket, and rank sources from adjacent-doc
    //     duels — the RLHF-side data prep
    val prefs = graft.ops.Judges.preferencePairs(
      docs.filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
        .select(pmod(col("doc_id"), lit(37L)).as("item"),
          col("doc_id").as("cand"), col("n_chars").cast("double").as("score")),
      "item", "cand", "score", margin = 50.0)
    println(s"preference pairs: ${prefs.count()} margin-cleared pairs")
    val d0 = docs.filter(col("doc_id").isNotNull && col("source").isNotNull &&
      col("n_chars").isNotNull).select(col("doc_id"), col("source"), col("n_chars"))
    val nx = d0.select((col("doc_id") - 1L).as("doc_id"),
      col("source").as("s2"), col("n_chars").as("c2"))
    val duels = d0.join(nx, Seq("doc_id"))
      .filter(col("source") =!= col("s2") && col("n_chars") =!= col("c2"))
      .select(when(col("n_chars") > col("c2"), col("source")).otherwise(col("s2")).as("winner"),
        when(col("n_chars") > col("c2"), col("s2")).otherwise(col("source")).as("loser"))
    graft.ops.Judges.bradleyTerry(duels, "winner", "loser")
      .orderBy(desc("strength_r")).show(5)

    // 36. loss-driven mixture: excess-loss weights per source, then the
    //     deterministic acceptance resample toward a row budget
    val losses = d0.groupBy(col("source").as("domain")).agg(
      (sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 0,
        col("n_chars")).otherwise(lit(0L))).cast("double") /
        sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 0, 1L)
          .otherwise(0L)).cast("double")).as("ref_loss"),
      (sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 1,
        col("n_chars")).otherwise(lit(0L))).cast("double") /
        sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 1, 1L)
          .otherwise(0L)).cast("double")).as("proxy_loss"))
    val mixW = graft.ops.Mixture.domainReweight(
      losses, "domain", "ref_loss", "proxy_loss", eta = 2.0, smoothing = 0.25)
    val mixed = graft.ops.Mixture.resampleToMixture(
      d0, "doc_id", "source", mixW, targetRows = 200L, salt = "ex")
    println(s"mixture resample: ${mixed.count()} rows toward the 200-row budget")

    // 37. document-intact packing: SFT-style examples bin whole by
    //     next-fit within their shard — no example ever splits across
    //     training sequences
    val intact = graft.ops.Packing.packDocsIntact(
      d0.select(pmod(col("doc_id"), lit(4L)).as("shard"),
        col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", "shard", budget = 2000L)
    println(s"intact packing: ${intact.select("shard", "bin").distinct().count()} " +
      s"bins over ${intact.count()} docs (2000-char budget)")

    // 38. delivery maintenance: export two thirds of the corpus with a
    //     verifiable manifest, APPEND the rest through the marker-fenced
    //     O(increment) path, then prove both the integrity (verifyShards)
    //     and the forgetting story (takedownAudit after a takedown)
    val exportDir = graft.io.TempDirs.create("graft-ex-export").toString
    graft.io.Layout.writeShardsWithManifest(
      d0.filter(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", exportDir, numShards = 4)
    graft.io.Layout.appendShardsWithManifest(
      d0.filter(pmod(col("doc_id"), lit(3)) === 0), exportDir)
    val shardsOk = graft.io.Layout.verifyShards(spark, exportDir)
      .filter(!col("ok")).count() == 0
    println(s"incremental export: append committed, verifyShards clean=$shardsOk")
    // the fused takedown scrubs index AND sidecar under one marker; the
    // chunk index forgets the docs' cid spans (re-derived
    // arithmetically from the removed docs, never read from the index)
    val rmDocs = d0.filter(pmod(col("doc_id"), lit(50)) === 7).select("doc_id")
    graft.ops.Retrieval.removeFromBm25WithForward(rmDocs, bm25Dir)
    // chunk index forgets by DOC id alone — the cid set comes from the
    // index's own doclens ledger, so this works even after the source
    // rows are gone; rmCids (re-derived from the corpus) stays as the
    // INDEPENDENT check the audit sweeps with
    graft.ops.Retrieval.removeDocsFromChunkIndex(rmDocs, chunkDir)
    val rmCids = cidsOf(prepared.df.join(rmDocs, Seq("doc_id"), "left_semi"))
      .select("cid")
    val docArtifacts = Seq(
      ("bm25_doclens", s"$bm25Dir/doclens", "__docid"),
      ("bm25_forward",
        s"${graft.ops.Retrieval.bm25ForwardPathFor(bm25Dir)}/docterms", "__docid"),
      ("shard_export", s"$exportDir/data", "doc_id"))
    val rtbfAudit = graft.ops.Reports.takedownAudit(spark,
      rmDocs, "doc_id", docArtifacts)
    println("takedown audit: " + rtbfAudit.collect()
      .map(r => s"${r.getString(0)}=${r.getAs[Long]("n_matches")}").mkString(", ") +
      " (the audit NAMES the dirty artifact; now honor the request)")
    // ... and ACT on it: removeFromShardExport rewrites only the
    // affected shard dirs (recipe-located), updates the manifest
    // exactly, and the re-audit reads clean across EVERY standing
    // artifact — index, forward sidecar, chunk index (its own cid id
    // space), and the export
    graft.io.Layout.removeFromShardExport(rmDocs, exportDir)
    val cleanAfter = graft.ops.Reports.takedownAudit(spark,
        rmDocs, "doc_id", docArtifacts)
      .filter(!col("clean")).count() == 0
    val chunkClean = graft.ops.Reports.takedownAudit(spark, rmCids, "cid",
        Seq(("bm25_chunks", s"$chunkDir/doclens", "__docid")))
      .filter(!col("clean")).count() == 0
    val exportStillOk = graft.io.Layout.verifyShards(spark, exportDir)
      .filter(!col("ok")).count() == 0
    println(s"export takedown: audit clean=$cleanAfter, chunk-grain " +
      s"clean=$chunkClean, verifyShards clean=$exportStillOk — full " +
      "right-to-be-forgotten loop")

    // 39. retrieval eval: score the step-33 lexical serving against
    //     derived qrels — the offline gate a retrieval change ships with
    val evalQrels = d0.filter(col("text").contains("query"))
      .select(lit(1L).as("qid"), col("doc_id"), lit(1L).as("rel"))
    val evalRun = graft.ops.Retrieval.bm25SearchPreindexed(spark, bm25Dir,
      Seq((1L, "query hash join")).toDF("qid", "qtext"), "qid", "qtext", topK = 10)
    val summary = graft.ops.RankEval.rankingSummary(
      evalRun, evalQrels, "qid", "doc_id", "rank", "rel", k = 10).head()
    println(f"retrieval eval: nDCG@10=${summary.getAs[Double]("ndcg_r")}%.4f " +
      f"recall@10=${summary.getAs[Double]("recall_r")}%.4f")

    // 40. online eval: the step-33/39 lexical server vs a challenger
    //     (higher k1) — pool their pages for the judging queue, then
    //     interleave and credit simulated clicks on the judged docs
    val evalQs = Seq((1L, "query hash join"), (2L, "window agg fast"))
      .toDF("qid", "qtext")
    def runOf(name: String, k1: Double) =
      graft.ops.Retrieval.bm25SearchPreindexed(spark, bm25Dir, evalQs,
          "qid", "qtext", k1 = k1, topK = 10)
        .select(col("qid"), col("doc_id"), lit(name).as("system"), col("rank"))
    val runs = runOf("champ", 1.2).unionByName(runOf("chall", 1.6))
    val pool = graft.ops.RankEval.pooledJudgingSet(runs, "qid", "doc_id",
      "system", "rank", poolDepth = 10, qrels = Some(evalQrels))
    println(s"judging pool: ${pool.count()} docs, " +
      s"${pool.filter(!col("judged")).count()} still to judge")
    val page = graft.ops.RankEval.teamDraftInterleave(runs, "qid", "doc_id",
      "system", "rank", k = 10)
    val clicks = page.join(evalQrels.select("qid", "doc_id"),
      Seq("qid", "doc_id"), "left_semi").select("qid", "pos")
    val credit = graft.ops.RankEval.interleaveCredit(page, clicks, "qid", "pos")
    println("interleave credit: " + credit.orderBy("qid").collect()
      .map(r => s"q${r.get(0)}:${r.getAs[Long]("clicks_a")}-" +
        s"${r.getAs[Long]("clicks_b")}(${Option(r.getString(3)).getOrElse("tie")})")
      .mkString(", "))

    // 41. query understanding: a misspelled query corrects against the
    //     corpus vocabulary before it ever hits the index, and the
    //     index's own health report closes the serving story
    val vocab = graft.ops.Retrieval.vocabulary(prepared.df, "doc_id", "text", 200)
    val fixed = graft.ops.Retrieval.spellCorrect(
      Seq((1L, "qury")).toDF("qid", "term"), "qid", "term",
      vocab, "term", "doc_freq", topK = 1)
    println("spell correction: qury -> " +
      fixed.collect().map(_.getString(2)).mkString(", "))
    val health = graft.ops.Retrieval.describeBm25Index(spark, bm25Dir).head()
    println(s"index health: ${health.getAs[Long]("n_docs")} docs, " +
      s"${health.getAs[Long]("vocab_size")} terms, max bucket " +
      s"${health.getAs[Long]("max_bucket_rows")} of " +
      s"${health.getAs[Long]("postings_rows")} postings rows")

    // release every operator checkpoint the pipeline accumulated — the
    // barrier a long-lived session calls between units of work
    graft.Checkpoints.freeAll(spark)

    spark.stop()
  }
}
