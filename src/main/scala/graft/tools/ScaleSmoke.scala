package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Evaluator, Ranks, StagedEvaluator}

/** Scale smoke: replicate the sf0.1 tables in-memory (xN) and measure the
  * core operators at 600k vs multi-million rows — the local proxy for "does
  * the plan shape survive a 100x scale-up" (linear growth = yes; superlinear
  * = a hidden global bottleneck). Run:
  * {{{ sbt "runMain graft.tools.ScaleSmoke [factor]" }}}
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(20)
    val spark = graft.GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "graft-scale-smoke")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val baseDocs = docs.count()
    // replicate xN with re-keyed ids so they stay distinct
    def blowUpKeyed(df: DataFrame, n: Int, keyCol: String): DataFrame =
      df.crossJoin(spark.range(n).select(col("id").as("__rep")))
        .withColumn(keyCol, col(keyCol) * n + col("__rep"))
        .drop("__rep")
    def blowUp(df: DataFrame, n: Int): DataFrame =
      blowUpKeyed(df, n, "l_orderkey")

    def time[A](label: String)(f: => A): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    for (n <- Seq(1, factor)) {
      val bids = blowUp(li, n)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))
      val rows = n * 600000L
      println(s"--- ${rows} rows (x$n) ---")

      time(s"evaluate 3-criteria")(
        new Evaluator()
          .linear("l_extendedprice", 0.4)
          .minRatio("l_quantity", 0.3)
          .formula("l_discount", 0.3, formula = "clip(value * 1000, 0, 100)")
          .evaluate(bids)
          .count())

      time(s"staged 2-stage + threshold")(
        new StagedEvaluator()
          .addStage("S1", filterType = "score_threshold", threshold = 30.0)
          .linear("l_extendedprice", 1.0)
          .addStage("S2")
          .minRatio("l_quantity", 1.0)
          .evaluate(bids)
          .count())

      time(s"range-partitioned rank")(
        Ranks.rangePartitionedRank(
          bids.select(col("l_orderkey"),
            col("l_extendedprice").cast("double").as("score")),
          "score", "ranking").count())

      // as-of join at scale: key = orderkey bucket (dense keys), both sides
      // n*600k rows — linear growth proves the union+window shape holds
      time(s"as-of join ($rows left x $rows right)") {
        val l = bids.select((col("l_orderkey") % 10000).as("k"),
          col("l_orderkey").as("t"), col("l_quantity"))
        val r = bids.select((col("l_orderkey") % 10000).as("k"),
          (col("l_orderkey") - 5).as("t"), col("l_orderkey").as("rid"),
          col("l_extendedprice").as("rv"))
        // aggregate over the MATCH column: a bare count() would let
        // Catalyst prune the window away and time only the union
        graft.ops.Joins.asofJoinBackward(l, r, "k", "t", "t", "rid",
            payloadCols = Seq("rid", "rv"))
          .agg(count(col("asof_rid"))).collect()
      }

      // corpus ops over replicated documents
      val dN = blowUpKeyed(docs, n, "doc_id")
      val nDocs = n * baseDocs

      time(s"text cleaning + quality gate ($nDocs docs)") {
        graft.ops.TextCleaning.clean(dN, "text")
          .filter(graft.ops.TextAnalysis.qualityScore(col("clean_text")) >= lit(30.0))
          .agg(count(lit(1))).collect()
      }

      // NOTE the linear-growth pass criterion in the header does NOT apply
      // to this one: replicas are exact dups, so every base doc forms an
      // n-replica cluster sharing all band keys and the TRUE answer has
      // n(n-1)/2 intra-cluster pairs — output-quadratic in n by
      // construction. The signal here is "grows like the pair count
      // (~n^2/2), not worse"; measured x10 lands ~5.6x (sublinear in the
      // pair count because signatures/buckets stay linear).
      time(s"poly minhash near-dup pairs ($nDocs docs, ~${n.toLong * n * baseDocs / 2} true pairs)") {
        graft.ops.Dedup.polyMinhashNearDupPairs(dN, "text", "doc_id",
            threshold = 0.9)
          .agg(count(lit(1))).collect()
      }

      // line dedup: explode + broadcast anti-join + reassemble — the
      // frequent-line set stays O(boilerplate), not O(corpus)
      time(s"line-level corpus dedup ($nDocs docs)") {
        val lined = dN.withColumn("text",
          concat_ws("\n", lit("Home | About | Contact"), col("text")))
        graft.ops.Dedup.dropFrequentLines(lined, "text", "doc_id",
            maxDocFreq = 100)
          .agg(count(col("dedup_text"))).collect()
      }

      // spell correction: the vocab derivation scans the corpus (linear);
      // the delete-key join itself rides the BOUNDED top-200 dictionary,
      // so suggestion cost stays flat as the corpus grows
      time(s"spell correction (vocab from $nDocs docs, 50 queries)") {
        val vocab = graft.ops.Retrieval.vocabulary(dN, "doc_id", "text", 200)
          .select(col("term"), col("doc_freq"))
        val qs = vocab.filter(length(col("term")) >= 4)
          .orderBy(col("doc_freq").desc, col("term").asc).limit(50)
          .select(col("term").as("qid"),
            concat(col("term").substr(lit(1), lit(1)),
              col("term").substr(lit(3), length(col("term")) - 2)).as("term"))
        graft.ops.Retrieval.spellCorrect(qs, "qid", "term", vocab, "term",
            "doc_freq", topK = 3)
          .agg(count(lit(1))).collect()
      }

      // phrase search: prefilter equi-join narrows to docs holding every
      // phrase term before any position scan — linear in the corpus, and
      // the verify fold touches survivors only
      time(s"phrase search (12 phrases over $nDocs docs)") {
        val ph = docs.filter(pmod(col("doc_id"), lit(41)) === 1)
          .select(col("doc_id").as("pid"),
            slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 2).as("pt"))
          .filter(size(col("pt")) === 2).limit(12)
          .select(col("pid"), concat_ws(" ", col("pt")).as("phrase"))
        graft.ops.Retrieval.phraseSearch(dN, "doc_id", "text", ph,
            "pid", "phrase")
          .agg(count(lit(1))).collect()
      }

      // bloom decontamination: the bench-gram sketch is probed inside the
      // corpus scan, so docs sharing no gram with the bench never reach
      // the exact containment join — cost tracks the scan, not the
      // corpus x bench pair space
      time(s"bloom decontaminate ($nDocs docs vs 100-doc bench)") {
        val bench = docs.filter(col("doc_id") >= baseDocs - 100)
        graft.ops.Dedup.bloomDecontaminate(dN, bench, "text", "doc_id",
            threshold = 0.5)
          .agg(count(lit(1))).collect()
      }

      // weighted PageRank: K=5 rounds of join + sorted-fold aggregate
      // over a ~50k-node graph with n*600k edges — the contribution
      // shuffle is the cost, rounds are fixed
      time(s"pagerank ($rows edges, ~50k nodes, 5 iters)") {
        val g = bids.select((col("l_orderkey") % 50000).as("src"),
          ((col("l_orderkey") * 31 + 7) % 50000).as("dst"))
        graft.ops.Graphs.pageRank(g, "src", "dst", iterations = 5)
          .agg(count(col("rank"))).collect()
      }

      // heap-aggregated source caps + sharded epoch order: the shuffle
      // carries cap x |sources| rows, the sort is per-shard
      time(s"source quota cap + shuffle order ($nDocs docs)") {
        graft.ops.Sampling.withShuffleOrder(
            graft.ops.Sampling.quotaSample(dN, "doc_id", "source", cap = 1000),
            "doc_id", numShards = 64)
          .agg(count(col("shuffle_pos"))).collect()
      }

      // BM25: postings pruned to the query vocabulary BEFORE the tf
      // aggregate, heap top-k per query — scan-bound, shuffle stays tiny
      time(s"bm25 search, 3 queries ($nDocs docs)") {
        import spark.implicits._
        val qs = Seq((1L, "query hash join"), (2L, "window agg fast"),
          (3L, "customer order value")).toDF("qid", "qtext")
        val res = graft.ops.Retrieval.bm25Search(dN, "doc_id", "text",
          qs, "qid", "qtext", topK = 10)
        res.agg(count(lit(1))).collect()
      }

      // adaptive skew salting: ~1% of left rows collapse onto ONE key;
      // only that key's right rows replicate (buckets x 1 row), the
      // tail joins plain — the full-replica formulation would pay
      // buckets x |right|
      time(s"adaptive salted join, one hot key (${rows} left rows)") {
        val l = blowUp(li, n).select(
          when(pmod(col("l_orderkey"), lit(100)) === 0, lit(0L))
            .otherwise(col("l_orderkey")).as("k"),
          col("l_quantity"))
        val r = l.select("k").distinct().withColumn("payload", col("k") * 2)
        graft.ops.Salting.adaptiveSaltedJoin(l, r, Seq("k"),
            buckets = 16, hotThreshold = 5000L * n, maxHotKeys = 100)
          .agg(count(lit(1))).collect()
      }

      // n-gram heavy hitters: map-side bigram explode, ONE count
      // shuffle (map-side combine), string-heap top-k — the second
      // exchange carries k rows per (partition, lang), never the tail
      time(s"top bigrams per lang ($nDocs docs)") {
        graft.ops.Retrieval.topNgrams(dN, "text", "lang", n = 2, k = 5)
          .agg(count(lit(1))).collect()
      }

      // JL projection + brute top-k in the 16-dim space: projection is
      // map-side codegen; scoring cost drops 4x vs the 64-dim exact scan
      time(s"random-project 64->16 + top-10, ${n * 5000} vectors") {
        val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val embN = blowUpKeyed(emb, n, "vec_id")
        val rp = embN.select(col("vec_id"),
          graft.ops.Similarity.randomProject(col("embedding"), 64, 16, 4242L)
            .as("embedding"))
        graft.ops.Similarity.bruteForceTopKAgg(rp, rp.filter(col("vec_id") < 20), k = 10)
          .agg(count(lit(1))).collect()
      }

      // classifier gate: pure map-side codegen fold — must scale linearly
      // with zero shuffle
      time(s"classifier gate ($nDocs docs)") {
        val w = (0 until 64).map(j => ((j * 37 + 11) % 101) / 101.0 - 0.5)
        graft.ops.Classifier.withScore(dN, "text", w, -0.05)
          .agg(count(col("clf_prob"))).collect()
      }

      // connected components at edge scale: n*600k chain edges in
      // 10-node chains PLUS one 10k-node path — the pathological
      // diameter case pointer jumping exists for (plain min-label
      // propagation would need 10k rounds; the jump converges in ~log2)
      time(s"dup clusters (${rows} chain edges + one 10k-node path)") {
        val chains = bids.select(
          col("l_orderkey").as("id_a"),
          when(col("l_orderkey") % 10 === 9, col("l_orderkey") - 9)
            .otherwise(col("l_orderkey") + 1).as("id_b"))
        val longPath = spark.range(9999).select(
          (col("id") - 10000000000L).as("id_a"),
          (col("id") - 10000000000L + 1).as("id_b"))
        graft.ops.Dedup.dupClusters(chains.unionAll(longPath), maxIter = 20)
          .agg(countDistinct(col("cluster_id"))).collect()
      }

      // snapshot compaction: ONE max-struct aggregate; the map-side
      // partial combine ships one candidate per key per partition
      time(s"latest-by-key compaction ($rows rows, 10k keys)") {
        val log = bids.select((col("l_orderkey") % 10000).as("k"),
          col("l_orderkey").as("id"), col("l_quantity"), col("l_extendedprice"))
        graft.ops.Snapshot.latestByKey(log, Seq("k"), col("id"), "id")
          .agg(count(lit(1))).collect()
      }

      // exact-substring self-dedup: replicas share ALL windows, so the
      // removal set is (n-1) x windows-per-base-doc — output LINEAR in n
      // (the per-window state stays a bounded min/count fold either way)
      time(s"repeated-span removals ($nDocs docs, n-replica window collisions)") {
        graft.ops.Dedup.repeatedSpanRemovals(dN, "text", "doc_id", span = 13)
          .agg(count(lit(1))).collect()
      }

      // maximal-span islands: the removal set above + one per-doc
      // gaps-and-islands window — removal rows scale with n, island
      // partitions stay one doc wide, so the merge adds linear work
      time(s"repeated-span islands ($nDocs docs, interval union)") {
        graft.ops.Dedup.repeatedSpans(dN, "text", "doc_id", span = 13)
          .agg(count(lit(1))).collect()
      }

      // unigram-LM training: the EM loop never touches the corpus after
      // the histogram pass, and replicas add NO new distinct words — the
      // per-round Viterbi job is histogram-bounded, so cost tracks the
      // one corpus scan
      time(s"unigram-LM train ($nDocs docs, 2 EM rounds)") {
        graft.ops.UnigramTrain.train(dN, "text",
          maxPieceLen = 4, vocabSize = 64, iters = 2)
      }

      // tokenizer ARTIFACT serving: train once on the base docs, freeze
      // to disk, encode the blown-up corpus through the frozen artifact
      // — encode cost tracks the corpus scan (word-cache join), never
      // the training, and the artifact read is vocab-bounded
      {
        val dir = graft.io.TempDirs.create("graft-smoke-tok").toString
        val pieces = graft.ops.UnigramTrain.train(docs, "text",
          maxPieceLen = 4, vocabSize = 64, iters = 1)
        graft.ops.UnigramTrain.saveTokenizer(spark, pieces, dir)
        time(s"encodeDocsPreindexed ($nDocs docs, frozen artifact)") {
          graft.ops.UnigramTrain.encodeDocsPreindexed(
              spark, dir, dN, "doc_id", "text")
            .agg(sum(col("n_pieces"))).collect()
        }
      }

      // Bradley-Terry: duels aggregate ONCE to matchup grain (players²
      // bounded at 64² here), every MM round then runs on the matchup
      // table — n× more duels move only the one aggregate, never the
      // per-round cost
      time(s"bradleyTerry ${n * 600000L} duels, 64 players, 4 MM rounds") {
        val duels = spark.range(n * 600000L).select(
            concat(lit("p"), pmod(col("id"), lit(64L))).as("winner"),
            concat(lit("p"), pmod(col("id") * 31L + 7L, lit(64L))).as("loser"))
          .filter(col("winner") =!= col("loser"))
        graft.ops.Judges.bradleyTerry(duels, "winner", "loser", iters = 4)
          .agg(count(lit(1))).collect()
      }

      // mixture resample: weights live at domain grain (1000 domains ->
      // the broadcast-join acceptance path); the corpus-side cost is ONE
      // map-side filter — near-flat per row
      time(s"domainReweight + resampleToMixture over ${rows} rows, 1000 domains") {
        val corpus = spark.range(n * 600000L).select(col("id"),
          pmod(col("id"), lit(1000L)).cast("string").as("dom"))
        val losses = spark.range(1000L).select(
          col("id").cast("string").as("domain"),
          lit(2.0).as("ref_loss"),
          (lit(2.0) + pmod(col("id"), lit(5L)).cast("double") / lit(10.0))
            .as("proxy_loss"))
        val w = graft.ops.Mixture.domainReweight(
          losses, "domain", "ref_loss", "proxy_loss")
        graft.ops.Mixture.resampleToMixture(
            corpus, "id", "dom", w, targetRows = 100000L)
          .agg(count(lit(1))).collect()
      }

      // flat ingest-index takedown: the staged rewrite IS the compaction
      // — one filtered scan+write of the signature index (index-bounded
      // by design); the removal set joins broadcast-small
      {
        val dir = graft.io.TempDirs.create("graft-smoke-ingest").toString
        graft.ops.Dedup.polySignatures(dN, "text", "doc_id", 16, 5)
          .write.mode("append").parquet(dir)
        time(s"removeFromIngestIndex 500 ids from a $nDocs-row index") {
          graft.streaming.StreamingEval.removeFromIngestIndex(
            spark, dir,
            spark.range(500L).select((col("id") * 20L).as("doc_id")), "doc_id")
        }
      }

      // shard-export lifecycle: an append-heavy delivery accretes one
      // file set per batch; compaction folds each shard back to one
      // file and the fences to one range; a takedown rewrites ONLY
      // the affected shard dirs (recipe-located, partition-pruned)
      {
        val dir = graft.io.TempDirs.create("graft-smoke-export").toString
        graft.io.Layout.writeShardsWithManifest(
          dN.select("doc_id", "text"), "doc_id", dir, numShards = 8)
        (1 to 6).foreach { b =>
          graft.io.Layout.appendShardsWithManifest(
            dN.select((col("doc_id") + lit(b * 100000000L)).as("doc_id"),
              col("text")),
            dir, batchTag = Some(b.toLong))
        }
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sessionState.newHadoopConf())
        def shardFiles() = (0 until 8).map(s => fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$dir/data/shard=$s"))
          .count(st => st.getPath.getName.endsWith(".parquet"))).sum
        val before = shardFiles()
        time(s"compactShardExport 7 appends x 8 shards ($nDocs docs each)") {
          graft.io.Layout.compactShardExport(spark, dir)
        }
        println(s"  shard-export files: $before -> ${shardFiles()}")
        time(s"removeFromShardExport 500 ids (affected shards only)") {
          graft.io.Layout.removeFromShardExport(
            spark.range(500L).select((col("id") * 20L).as("doc_id")), dir)
        }
      }

      // KMV sketch: replicas add NO new distinct hashes — cost tracks the
      // scan + map-side distinct, state stays k rows per group
      time(s"kmv distinct per source ($nDocs docs, k=256)") {
        graft.ops.Sketches.kmvDistinct(dN, Seq("source"), "text", k = 256)
          .agg(count(lit(1))).collect()
      }

      // Poisson bootstrap: 200-way explode into one hash aggregate; the
      // map-side combine bounds the exchange at 200 rows per partition
      time(s"bootstrap mean CI ($nDocs docs x 200 replicas)") {
        graft.ops.Bootstrap.meanCI(dN, "doc_id", "n_chars", replicas = 200)
          .collect()
      }

      // BPE: training cost tracks the DISTINCT-WORD histogram (replicas
      // add no new words — rounds stay flat as the corpus grows)
      time(s"bpe train 12 merges ($nDocs docs)") {
        graft.ops.BpeTrain.train(dN, "text", 12)
      }

      // BPE vocab-growth asymptote: batched rounds must keep merges/sec
      // roughly flat as numMerges grows (one aggregation ladder commits
      // a whole symbol-disjoint batch, not one merge)
      for (nm <- Seq(24, 96)) {
        val t0 = System.nanoTime()
        val (got, rounds) = graft.ops.BpeTrain.trainCounted(dN, "text", nm)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"bpe train $nm merges ($nDocs docs): $dt%.1fs = " +
          f"${got.size / dt}%.1f merges/sec, ${got.size} merges in $rounds " +
          f"rounds (${got.size.toDouble / rounds}%.1f merges/round)")
      }

      // the delta-maintained pair table vs full per-round re-aggregation
      // at a fixed corpus. HONEST READING: at local test scale both
      // paths sit on the per-round Spark scheduling floor (~0.3s), so
      // wall-clock is a wash (the same holds at 96 merges); the
      // delta path's win is structural — it aggregates only the words
      // the round's batch rewrote, which at a 100 TB histogram is the
      // difference between a sliver and a full shuffle per round —
      // and its EQUALITY with re-aggregation is spec-pinned
      for (delta <- Seq(false, true)) {
        val t0 = System.nanoTime()
        val (got, rounds) = graft.ops.BpeTrain.trainCounted(dN, "text", 24,
          maxBatch = 8, deltaPairs = delta)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"bpe train 24 merges deltaPairs=$delta ($nDocs docs): " +
          f"$dt%.1fs over $rounds rounds (${dt / rounds}%.2fs/round, " +
          f"${got.size} merges)")
      }

      // the PRODUCTION approximate path (oracle-pinned by q283): the
      // skip-scan commits near-full batches, so rounds ≈ merges/maxBatch
      // — the 32k-vocabulary asymptote exact greedy can't reach
      for ((nm, mb) <- Seq((96, 16), (256, 32))) {
        val t0 = System.nanoTime()
        val (got, rounds) = graft.ops.BpeTrain.trainCounted(dN, "text", nm,
          maxBatch = mb, exactGreedy = false)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"bpe approx train $nm merges maxBatch=$mb ($nDocs docs): " +
          f"$dt%.1fs = ${got.size / dt}%.1f merges/sec, ${got.size} merges " +
          f"in $rounds rounds (${got.size.toDouble / rounds}%.1f merges/round, " +
          f"ideal ${mb})")
      }

      // sampled quantiles under a degenerate group: 90% of rows share one
      // key, state stays k rows per group (the exact-percentile blowup
      // this operator exists to avoid)
      time(s"sampled quantiles, 90%-skewed group ($rows rows, k=1024)") {
        val skewed = bids.select(col("l_orderkey").as("id"),
          when(col("l_orderkey") % 10 < 9, "hot").otherwise("cold").as("g"),
          col("l_quantity").as("v"))
        graft.ops.Sketches.sampledQuantiles(
          skewed, Seq("g"), "id", "v", Seq("p50" -> 0.5, "p99" -> 0.99), k = 1024)
          .collect()
      }

      // token-budget admission: per-source window sort, budget-bounded
      time(s"token budget mix ($nDocs docs, 20 sources)") {
        graft.ops.Sampling.tokenBudgetSample(
          dN, "doc_id", "source", "n_chars", budget = 100000L)
          .agg(count(lit(1))).collect()
      }

      // label centroids: the two-level fold spreads each label's column
      // over 64 sub-buckets — no single buffer sees the hot label whole
      time(s"label centroids, 90%-skewed label ($rows rows, 8 dims)") {
        val vecs = bids.select(col("l_orderkey").as("id"),
          when(col("l_orderkey") % 10 < 9, 0).otherwise(1).as("label"),
          array((0 until 8).map(d => col("l_quantity") * lit(d + 1)): _*).as("v"))
        graft.ops.Labels.labelCentroids(vecs, "label", "id", "v").collect()
      }

      // incremental ingest: batch (5%) vs index (95%) — cost must track
      // the batch, not a corpus self-join
      time(s"incremental near-dup ingest (5% batch vs $nDocs-doc index)") {
        graft.ops.Dedup.incrementalNearDupPairs(
          dN.filter(col("doc_id") % 20 =!= 0), dN.filter(col("doc_id") % 20 === 0),
          "text", "doc_id", threshold = 0.5)
          .agg(count(lit(1))).collect()
      }

      // interpolated trigram LM: three n-gram explodes + count joins —
      // linear in corpus tokens, model table never broadcast-assumed
      time(s"trigram LM perplexity ($nDocs docs)") {
        graft.ops.LmScore.trigramScore(dN, "doc_id", "text")
          .agg(count(lit(1))).collect()
        graft.Checkpoints.freeAll(spark)
      }

      // image dedup: hash every payload once (mapPartitions decode),
      // pair via 16-bit Hamming bands — payload bytes never re-travel.
      // Odd ids perturb one SAMPLED pixel (+128 at byte 6, the q153
      // convention), so the candidate-verify stage actually emits
      // hamming-1..3 pairs instead of timing an empty-by-construction
      // hamming-0 run (distinct classes are always >= 1 apart)
      time(s"image ahash + near-dup pairs ($nDocs dup-heavy images)") {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        val imgs = dN.select("doc_id").mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val gid = id / 2
            val rgb = new Array[Byte](16 * 12 * 3)
            var i = 0
            while (i < rgb.length) { rgb(i) = ((gid * 31 + i) % 256).toByte; i += 1 }
            if (id % 2 == 1) rgb(6) = ((gid * 31 + 134) % 256).toByte
            Row(id, graft.ops.ImageCodecs.encodePpm(
              graft.ops.ImageCodecs.DecodedImage(16, 12, rgb)))
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        val hashes = graft.ops.Multimodal.imageHashes(imgs, "doc_id", "payload")
        val n = graft.ops.Dedup.imageNearDupPairs(hashes, "doc_id", maxHamming = 3)
          .count()
        require(n > 0, "near-dup verify stage produced no rows — smoke is vacuous")
      }

      // 256-bit gradient-hash near-dup over an ALL-DISTINCT corpus — the
      // adversarial complement of the dup-heavy row above: every image is
      // its own hash class, so band-bucket occupancy (not class reduce)
      // carries the cost. 32-bit band keys keep buckets O(1) as distinct
      // classes grow; the 64-bit ahash path's 16-bit keys would pack
      // classes/65536 per bucket and go quadratic at corpus scale
      time(s"image dhash256 near-dup pairs ($nDocs ALL-DISTINCT images)") {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        val imgs = dN.select("doc_id").mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val rgb = new Array[Byte](16 * 12 * 3)
            var i = 0
            while (i < rgb.length) {
              rgb(i) = (((id * 2654435761L + i * 7919L) >>> 3) % 256).toByte
              i += 1
            }
            Row(id, graft.ops.ImageCodecs.encodePpm(
              graft.ops.ImageCodecs.DecodedImage(16, 12, rgb)))
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        val hashes = graft.ops.Multimodal.imageHashes256(imgs, "doc_id", "payload")
        graft.ops.Dedup.imageNearDupPairs256(hashes, "doc_id",
            maxHamming = 7, nBands = 8)
          .agg(count(lit(1))).collect()
      }

      // incremental image ingest: 5% batch vs the rest as index — class
      // reduce first, cross-side bands only; cost tracks the increment
      time(s"incremental image ingest (5% batch vs $nDocs-image index)") {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        def imgsOf(ids: org.apache.spark.sql.DataFrame) = ids.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val gid = id / 2
            val rgb = new Array[Byte](16 * 12 * 3)
            var i = 0
            while (i < rgb.length) { rgb(i) = ((gid * 31 + i) % 256).toByte; i += 1 }
            Row(id, graft.ops.ImageCodecs.encodePpm(
              graft.ops.ImageCodecs.DecodedImage(16, 12, rgb)))
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        val idxH = graft.ops.Multimodal.imageHashes(
          imgsOf(dN.select("doc_id").filter(col("doc_id") % 20 =!= 0)), "doc_id", "payload")
        val batH = graft.ops.Multimodal.imageHashes(
          imgsOf(dN.select("doc_id").filter(col("doc_id") % 20 === 0)), "doc_id", "payload")
        graft.ops.Dedup.incrementalImageDups(idxH, batH, "doc_id", maxHamming = 3)
          .agg(count(lit(1))).collect()
      }

      // LSH hard-negative mining: 100 FIXED anchors vs the replicated
      // corpus — bucket equi-joins (no cartesian), so cost tracks the
      // corpus scan + candidate sliver, never |anchors| corpus scans
      time(s"hardNegativesLsh, 100 anchors (${n * 2000} vectors)") {
        val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val embN = blowUpKeyed(emb, n, "vec_id")
        val anchors = emb.filter(col("vec_id") < 100)
        graft.ops.Labels.hardNegativesLsh(
          anchors, embN, "vec_id", "embedding", "label", k = 10, dim = 64)
          .agg(count(lit(1))).collect()
      }

      // the COMPOSED preparation pipeline with every optional stage on
      // (clean -> line dedup -> portable near-dup -> gopher + quality ->
      // decontaminate -> enrich -> perplexity + length gates -> quota ->
      // split -> shuffle order): catches cross-stage state interactions
      // that per-operator rows cannot (lenient thresholds — the cost is
      // the composition, not the filter rates)
      time(s"prepareTrainingCorpus, all stages ($nDocs docs)") {
        val bench = docs.filter(col("doc_id") >= baseDocs - 100)
        graft.ops.Pipelines.prepareTrainingCorpus(
          dN,
          nearDupThreshold = 0.9,
          minQuality = 10.0,
          htmlClean = true,
          lineDedupMaxDocFreq = Some(100L),
          sourceQuota = Some(("source", 100000)),
          shuffleShards = Some(64),
          maxPerplexity = Some(1e9),
          maxLengthZ = Some(8.0),
          gopherRules = Some(graft.ops.QualityRules.GopherConfig(
            minWords = 1, minAvgWordLen = 0.0, maxAvgWordLen = 100.0,
            maxSymbolRatio = 1.0, minAlphaFrac = 0.0, minStopwordHits = 0)),
          benchDecontaminate = Some((bench, 0.8)))
          .df.agg(count(col("shuffle_pos"))).collect()
        graft.Checkpoints.freeAll(spark)
      }

      // audio dedup: decode + fingerprint each WAV once (mapPartitions),
      // pair via the banded Hamming machinery — payloads never re-travel
      time(s"audio fingerprint + near-dup pairs ($nDocs synthetic WAVs)") {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        val wavs = dN.select("doc_id").mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val gid = id / 2
            val samples = new Array[Short](2048)
            var i = 0
            while (i < 2048) {
              val off = if (id % 2 == 1 && i >= 96 && i < 128) 997L else 0L
              samples(i) = (((gid * 7919L + i * 31L + off) % 4096L) - 2048L).toShort
              i += 1
            }
            Row(id, graft.ops.AudioCodecs.encodeWavPcm16(16000, 1, samples))
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        val fps = graft.ops.Multimodal.audioFingerprints(wavs, "doc_id", "payload")
        graft.ops.Dedup.audioNearDupPairs(fps, "doc_id", maxHamming = 3)
          .agg(count(lit(1))).collect()
      }

      // video dedup: decode 4-frame clips once, per-frame 256-bit hashes
      // (33 bytes/frame travel), frame-set jaccard pairs class-equi
      time(s"video frame hashes + near-dup pairs ($nDocs clips)") {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        val clips = dN.select("doc_id").mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val gid = id / 2
            val frames = (0 until 4).map { f =>
              val rgb = Array.tabulate(16 * 12 * 3)(i => ((gid * 31 + f * 97 + i) % 256).toByte)
              if (id % 2 == 1 && f == 1) rgb(6) = ((gid * 31 + f * 97 + 134) % 256).toByte
              graft.ops.ImageCodecs.DecodedImage(16, 12, rgb)
            }
            Row(id, graft.ops.VideoCodecs.encodeClip(frames))
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        val fh = graft.ops.Multimodal.videoFrameHashes(clips, "doc_id", "payload")
        graft.ops.Dedup.videoNearDupPairs(fh, "doc_id", minJaccard = 0.5)
          .agg(count(lit(1))).collect()
      }

      // curriculum order: distinct-score quantile lookup + per-cell
      // local sorts — no global ordering, no full-value percentile
      // buffer. Scored on a stored column: a real pipeline materializes
      // its quality score once upstream (the enrich stage), so the row
      // measures the ORDERING machinery, not score recomputation.
      time(s"curriculum order, 4 stages x 64 shards ($nDocs docs)") {
        graft.ops.Sampling.curriculumOrder(
          dN, "doc_id", "n_chars", nStages = 4, numShards = 64, salt = "cs")
          .agg(count(col("curriculum_pos"))).collect()
      }

      // portable classifier training: token counts aggregate ONCE, then 4
      // bounded fold-iterations — cost tracks the token explode, driver
      // holds 64 doubles
      time(s"portable classifier training, 4 iters ($nDocs docs)") {
        val labeled = dN.withColumn("y", (col("doc_id") % 2).cast("double"))
        graft.ops.Classifier.trainPortable(
          labeled, "text", "y", "doc_id", dim = 64, iters = 4, lr = 0.5)
      }

      // PQ: train once on the base table, then encode + ADC-search the
      // replicated corpus — the scan is codes-only, queries broadcast
      time(s"pq encode + ADC top-10, 5 queries (${n * 2000} vectors)") {
        val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val embN = blowUpKeyed(emb, n, "vec_id")
        val cbs = graft.ops.Similarity.trainPqCodebooks(
          emb, "vec_id", "embedding", dim = 64, m = 4, k = 16, iters = 2)
        val codes = graft.ops.Similarity.pqEncode(embN, "embedding", cbs)
        graft.ops.Similarity.pqTopK(
          codes, emb.filter(col("vec_id") < 5), cbs, k = 10)
          .agg(count(lit(1))).collect()
      }

      // blocked exact NN: block count scales with the data so |block|
      // stays ~40 — pairs grow linearly, the heap top-1 never sorts
      time(s"blocked NN, ${n * 2000} vectors, ~40-row blocks") {
        val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val embN = blowUpKeyed(emb, n, "vec_id")
          .withColumn("blk", pmod(col("vec_id"), lit(n * 50L)))
        graft.ops.Similarity.blockedNearestNeighbor(embN, "vec_id", "embedding", "blk")
          .agg(count(lit(1))).collect()
      }

      // fuzzy join: blocks multiply with the data (a growing corpus adds
      // shards/nations, not unbounded same-key rows) while per-block name
      // sets repeat — deletion-index candidates stay per-block-bounded,
      // so growth is ~linear; the round-9 in-block cross product grew
      // |block|² on exactly this shape
      time(s"editDistance self-join, ${n * 15000} names, ${n * 25} blocks") {
        val cust = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
          .select(col("c_nationkey"), col("c_custkey"), col("c_name"))
        val custN = blowUpKeyed(cust, n, "c_custkey")
          .withColumn("c_nationkey",
            col("c_nationkey") * n + pmod(col("c_custkey"), lit(n.toLong)))
        graft.ops.Joins.editDistanceSelfJoin(
            custN, Seq("c_nationkey"), "c_custkey", "c_name", maxDist = 1)
          .agg(count(lit(1))).collect()
      }

      // sessionization: users scale with the data, per-user streams stay
      // short — one window pass per user partition, then session-grain
      // aggregates on the same key: linear end to end
      time(s"sessionStats, ${n * 100000} events, ${n}x users") {
        val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.1", "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("ts div 1000").as("us"))
        val evN = blowUpKeyed(ev, n, "user_id")
        graft.ops.Sessions.sessionStats(evN, "user_id", col("us"), "event_id",
            "event_type", gapUs = 1800000000L)
          .agg(count(lit(1))).collect()
      }

      // SCD2: keys scale with the data, per-key streams stay short — one
      // window pass per key partition then a run-grain lead(); the apply
      // side re-windows only |open runs| + |new obs| rows
      time(s"scd2 history + incremental apply, ${n * 150000} obs, ${n}x keys") {
        val ord = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
          .select(col("o_custkey"), col("o_orderpriority"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
            col("o_orderkey"))
        val ordN = blowUpKeyed(ord, n, "o_custkey")
        val splitUs = 852076800000000L // 1997-01-01
        val hist = graft.ops.Snapshot.scd2History(
          ordN.filter(col("us") < splitUs),
          Seq("o_custkey"), Seq("o_orderpriority"), col("us"), "o_orderkey")
        graft.ops.Snapshot.scd2Apply(hist, ordN.filter(col("us") >= splitUs),
            Seq("o_custkey"), Seq("o_orderpriority"), col("us"), "o_orderkey")
          .agg(count(lit(1))).collect()
      }

      // k-anonymity suppression: one class aggregate (map-side combined)
      // + one key-grain join — scan-bound, classes scale with keys
      time(s"k-anonymity suppression, ${n * 15000} rows") {
        val cust = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
        val custN = blowUpKeyed(cust, n, "c_custkey")
        graft.ops.Privacy.suppressBelowK(custN,
            Seq("c_nationkey", "c_mktsegment"), k = 8L)
          .agg(count(lit(1))).collect()
      }

      // CUSUM: per-series window arithmetic (running sum + running min
      // over one sort) — series scale with the data, buckets stay fixed
      time(s"cusum changepoints, ${n * 100000} events, ${n}x series") {
        val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.1", "events")
          .select(col("event_type"), col("user_id"), expr("ts div 1000").as("us"))
        val evN = blowUpKeyed(ev, n, "user_id")
          .withColumn("event_type", concat(col("event_type"),
            pmod(col("user_id"), lit(n.toLong)).cast("string")))
        graft.ops.Metrics.cusumChangepoints(evN, "event_type", col("us"),
            bucketUs = 3600000000L)
          .agg(count(lit(1))).collect()
      }

      // join pre-flight: two key-grain aggregates size the join the
      // engine never runs — cost tracks the scans, not the product
      time(s"join size estimate (${rows} x ${rows} rows)") {
        val l = bids.select(col("l_orderkey").as("k"))
        graft.ops.Reports.joinSizeEstimate(l, l, Seq("k"))
          .collect()
      }

      // quantile normalization: per-group window + one pooled grid
      // broadcast — scan-bound, grid size fixed
      time(s"quantile normalize ($nDocs docs, per-lang)") {
        graft.ops.Outliers.quantileNormalize(
            dN.select("doc_id", "lang", "n_chars"), Seq("lang"), "n_chars",
            grid = 100)
          .agg(count(col("qnorm_r"))).collect()
      }

      // HT estimation: map-side terms + the two-level fold — one scan
      time(s"ht estimate ($nDocs docs)") {
        val pr = (lit(1.0) + pmod(col("doc_id"), lit(5)).cast("double")) / lit(10.0)
        graft.ops.Sampling.htEstimate(
            dN.select("doc_id", "source", "n_chars").withColumn("p", pr)
              .filter(graft.ops.Sampling.unitHash(col("doc_id"), "ht") < col("p")),
            "doc_id", "p", "n_chars", Seq("source"))
          .agg(count(lit(1))).collect()
      }

      // triangle counting: nodes/edges scale with data; the oriented
      // wedge join is bounded by sum outdeg^2, every step an equi-join
      time(s"triangle counts (${n * 25000} edges, ${n * 2500} nodes)") {
        val g = bids.select((col("l_orderkey") % (n * 2500L)).as("s"),
          ((col("l_orderkey") * 31 + 7) % (n * 2500L)).as("d"))
        graft.ops.Graphs.triangleCounts(g, "s", "d")
          .agg(sum(col("n_triangles"))).collect()
      }

      // prefix-filtered exact Jaccard: candidates scale with TRUE
      // near-dups — so the blowup must not create them artificially: a
      // plain xN replication makes every doc 19 exact twins (~N² true
      // pairs per template — the first x20 attempt spilled the disk
      // full), and INTERLEAVING a replica token loosens 3-gram matching
      // to effective bigrams (saturated again). PREFIXING every token
      // with the replica id keeps each replica's similarity structure
      // byte-identical to the base corpus and cross-replica similarity
      // at zero — matches scale exactly xN.
      time(s"prefix jaccard join ($nDocs docs, 3-gram shingles, replica-salted)") {
        val rep = concat(lit("r"), pmod(col("doc_id"), lit(n.toLong)).cast("string"))
        val salted = dN.withColumn("text",
          regexp_replace(col("text"), lit("(\\S+)"), concat(rep, lit("_$1"))))
        graft.ops.Dedup.prefixJaccardJoin(salted, "text", "doc_id",
            threshold = 0.5, ngram = 3)
          .agg(count(lit(1))).collect()
      }

      // TF-IDF keywords: one tokenize pass + a broadcast df join + the
      // size-k string heap — no window, no full sort
      time(s"tfidf keywords top-3 ($nDocs docs)") {
        graft.ops.TextAnalysis.tfidfKeywords(dN, "text", "doc_id", k = 3)
          .agg(count(lit(1))).collect()
      }

      // personalized PageRank: same per-round equi-join shape as the
      // global variant; seeds only change two literals
      time(s"personalized pagerank (${rows} edges, ~${n * 2500} nodes)") {
        val g = bids.select((col("l_orderkey") % (n * 2500L)).as("s"),
          ((col("l_orderkey") * 31 + 7) % (n * 2500L)).as("d"))
        graft.ops.Graphs.personalizedPageRank(g, "s", "d",
            seeds = Seq(0L, 1L, 2L), iterations = 5)
          .agg(count(lit(1))).collect()
      }

      // seasonal anomalies: one cell-grain count shuffle + a
      // |types x period| profile broadcast back — scan-bound
      time(s"seasonal anomalies, ${n * 100000} events, ${n}x series") {
        val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.1", "events")
          .select(col("event_type"), col("user_id"), expr("ts div 1000").as("us"))
        val evN = blowUpKeyed(ev, n, "user_id")
          .withColumn("event_type", concat(col("event_type"),
            pmod(col("user_id"), lit(n.toLong)).cast("string")))
        graft.ops.Metrics.seasonalAnomalies(evN, "event_type", col("us"),
            bucketUs = 3600000000L, period = 24, k = 3.0)
          .agg(count(lit(1))).collect()
      }

      // column profile: ONE aggregate over the expand — the documented
      // |cols|-fold price of exact distincts
      time(s"column profile diff, 4 cols ($nDocs docs/side)") {
        graft.ops.Reports.columnProfileDiff(dN, dN,
            Seq("text", "lang", "source", "n_chars"))
          .agg(count(lit(1))).collect()
      }

      // A-ES weighted draw: map-side keys + the size-k heap
      time(s"weighted sample w/o replacement ($nDocs docs, 5/lang)") {
        graft.ops.Sampling.weightedSampleNoReplacement(
            dN.withColumn("w", col("n_chars") + lit(1L)),
            "doc_id", "w", Seq("lang"), k = 5, salt = "es")
          .agg(count(lit(1))).collect()
      }

      // robust z: two exact percentile aggregates + broadcast joins;
      // flip graft.stats.approx for the sketched path at 100 TB
      time(s"robust median/MAD z ($nDocs docs, per-lang)") {
        graft.ops.Outliers.withGroupRobustZscore(
            dN.select("doc_id", "lang", "n_chars"), Seq("lang"), "n_chars")
          .agg(count(col("robust_z_r"))).collect()
      }

      // event paths: one window pass per user + the string heap
      time(s"event paths depth-3 top-25 (${n * 100000} events)") {
        val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.1", "events")
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("us"), col("event_id"))
        val evN = blowUpKeyed(ev, n, "user_id")
        graft.ops.Sessions.eventPaths(evN, "user_id", "event_type",
            col("us"), "event_id", depth = 3, k = 25)
          .agg(count(lit(1))).collect()
      }

      // entity canonicalization: star-contraction components over the
      // fuzzy matches + a size-1 heap per entity + singleton union
      time(s"entity keepers (${n * 15000} customers)") {
        val cust = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
          .select(col("c_nationkey").as("nationkey"), col("c_custkey"),
            col("c_name"), col("c_acctbal"))
        val custN = blowUpKeyed(cust, n, "c_custkey")
        val prs = graft.ops.Joins.editDistanceSelfJoin(custN, Seq("nationkey"),
          "c_custkey", "c_name", maxDist = 1)
        graft.ops.Joins.entityKeepers(custN, prs, "c_custkey", "c_acctbal")
          .agg(count(lit(1))).collect()
      }

      // Theil-Sen: the pairwise-slope set is |buckets|² per series but
      // buckets stay FIXED as data scales — cost tracks the cell scan
      time(s"theil-sen trend (${n * 100000} events, ${n}x series)") {
        val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.1", "events")
          .select(col("event_type"), col("user_id"), expr("ts div 1000").as("us"))
        val evN = blowUpKeyed(ev, n, "user_id")
          .withColumn("event_type", concat(col("event_type"),
            pmod(col("user_id"), lit(n.toLong)).cast("string")))
        graft.ops.Metrics.theilSenTrend(evN, "event_type", col("us"),
            bucketUs = 3600000000L)
          .agg(count(lit(1))).collect()
      }

      // PMI collocations: one tokenize pass + two vocab-grain joins +
      // the string heap — scan-bound
      time(s"pmi collocations ($nDocs docs)") {
        graft.ops.TextAnalysis.collocations(dN, "text", "doc_id",
            minCount = 5L, k = 25)
          .agg(count(lit(1))).collect()
      }

      // interval coverage: distinct-grain window pass per key
      time(s"interval coverage (${rows} intervals, ${n}x keys)") {
        val iv = blowUpKeyed(li.select(col("l_suppkey").as("k"),
            unix_micros(col("l_shipdate").cast("timestamp")).as("s")), n, "k")
          .withColumn("e", col("s") + lit(604800000000L))
        graft.ops.Joins.intervalCoverage(iv, Seq("k"), "s", "e")
          .agg(count(lit(1))).collect()
      }

      // decay activity: one count shuffle to (user, day) grain
      time(s"decay activity (${n * 100000} events, ${n}x users)") {
        val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.1", "events")
          .select(col("user_id"), expr("ts div 1000").as("us"))
        val evN = blowUpKeyed(ev, n, "user_id")
        graft.ops.Metrics.decayActivity(evN, "user_id", col("us"),
            halfLifeUs = 86400000000L, horizon = 30)
          .agg(count(lit(1))).collect()
      }

      // A/B + funnel latency + gini: user-grain aggregates end to end
      time(s"ab test + funnel latency + gini (${n * 100000} events)") {
        val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.1", "events")
          .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
        val evN = blowUpKeyed(ev, n, "user_id")
        val units = evN.groupBy(col("user_id"))
          .agg(max(col("event_type") === "purchase").as("conv"))
          .withColumn("v",
            when(graft.ops.Sampling.unitHash(col("user_id"), "ab") < 0.5, "A")
              .otherwise("B"))
        graft.ops.Metrics.abProportionTest(units, "v", "conv").collect()
        graft.ops.Sessions.funnelStepLatency(evN, "user_id", "event_type",
          col("us"), Seq("signup", "view", "click", "purchase"))
          .agg(count(lit(1))).collect()
        graft.ops.Metrics.activityConcentration(evN, "user_id").collect()
      }

      // record linkage: candidates from the deletion index scale with
      // true fuzzy matches, field sims run on the candidate sliver only
      time(s"record linkage (${n * 15000} x ${n * 15000} customers)") {
        val cust = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
          .select(col("c_nationkey").as("nationkey"), col("c_custkey"),
            col("c_name"), col("c_acctbal"))
        val custN = blowUpKeyed(cust, n, "c_custkey")
        graft.ops.Joins.recordLinkage(custN, custN, Seq("nationkey"),
            leftId = "c_custkey", rightId = "c_custkey",
            anchorLeft = "c_name", anchorRight = "c_name", anchorMaxDist = 1,
            fields = Seq(
              graft.ops.Joins.LinkField("c_name", "c_name", 0.7,
                graft.ops.Joins.LinkFieldKind.Edit),
              graft.ops.Joins.LinkField("c_acctbal", "c_acctbal", 0.3,
                graft.ops.Joins.LinkFieldKind.Numeric(1000.0))),
            minScore = 0.9)
          .agg(count(lit(1))).collect()
      }

      // horizon dedup: one key shuffle + a streaming per-partition scan
      // holding two scalars — a hot key costs its scan, never memory
      time(s"horizon dedup (${n * 100000} events, ${n}x keys)") {
        val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.1", "events")
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("us"), col("event_id"))
        val evN = blowUpKeyed(ev, n, "user_id")
        graft.ops.Dedup.horizonDedup(evN, Seq("user_id", "event_type"),
            "us", "event_id", horizonUs = 432000000000L)
          .agg(count(lit(1))).collect()
      }

      // attribution: per-user conv x touch pairs bounded by each user's
      // own volume; the pre-flight ceiling keeps a bot from going
      // quadratic (adversarial row below)
      time(s"attribution linear (${n * 100000} events, ${n}x users)") {
        val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.1", "events")
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("us"), col("event_id"))
        val evN = blowUpKeyed(ev, n, "user_id")
          .withColumn("event_id", col("event_id") * n + pmod(col("user_id"), lit(n.toLong)))
        graft.ops.Metrics.attribution(evN, "user_id", "event_type", col("us"),
            "event_id", "purchase", Seq("view", "click"), "linear",
            lookbackUs = 86400000000L)
          .agg(count(lit(1))).collect()
      }

      // k-core: per-round cost tracks the shrinking edge set; the blob
      // graph converges in a handful of rounds at any scale
      time(s"k-core k=8 (${n * 25000} edges, ${n * 2500} nodes)") {
        val g = bids.select((col("l_orderkey") % (n * 2500L)).as("s"),
          ((col("l_orderkey") * 31 + 7) % (n * 2500L)).as("d"))
        graft.ops.Graphs.kCore(g, "s", "d", k = 8)
          .agg(count(lit(1))).collect()
      }

      // connected components: alternating star contraction — O(log²)
      // rounds regardless of shape; per-round cost tracks the
      // (shrinking) edge frame. Ring segments keep many components
      // alive at every factor
      time(s"connected components (${n * 2500} nodes in ${n * 50} rings)") {
        val s = col("l_orderkey") % (n * 2500L)
        val segBase = s - pmod(s, lit(50L))
        val g = bids.select(s.as("s"),
          (segBase + pmod(pmod(s, lit(50L)) + 1, lit(50L))).as("d"))
        graft.ops.Graphs.connectedComponents(g, "s", "d")
          .agg(count(lit(1))).collect()
      }

      // incremental CC: a FIXED 500-edge increment onto the ring
      // mapping above — the history scales with n but is only scanned
      // (broadcast semi + relabel); the star contraction runs on the
      // increment-sized contracted graph, so this row should stay
      // near-flat while the full rebuild above grows
      {
        // history built (and materialized) OUTSIDE the timed region — the
        // row measures the increment cost alone, which must stay
        // near-flat while the full rebuild above grows with n
        val s = col("l_orderkey") % (n * 2500L)
        val segBase = s - pmod(s, lit(50L))
        val g = bids.select(s.as("s"),
          (segBase + pmod(pmod(s, lit(50L)) + 1, lit(50L))).as("d"))
        val hist = graft.Checkpoints.localCheckpoint(
          graft.ops.Graphs.connectedComponents(g, "s", "d"))
        // bridge consecutive rings: 500 genuinely-merging edges
        val inc = spark.range(500)
          .select((col("id") * 50L).as("s"), (col("id") * 50L + 50L).as("d"))
        time(s"ccApply 500-edge increment onto ${n * 2500}-node history") {
          graft.ops.Graphs.ccApply(hist, inc, "s", "d")
            .agg(count(lit(1))).collect()
        }
        graft.Checkpoints.free(hist)
      }

      // BM25 append: a FIXED 2000-doc increment onto a standing index
      // that scales with n — the append's terms merge reads the
      // VOCAB-grain terms table (shared template vocabulary: near-flat
      // in n), never the postings tree, so this row must stay
      // near-flat while the index build above it grows
      {
        val dir = graft.io.TempDirs.create("graft-smoke-bm25").toString
        val base = spark.range(n * 20000L).select(col("id").as("doc_id"),
          concat(lit("term"), pmod(col("id"), lit(997L)),
            lit(" shared corpus filler text block "),
            pmod(col("id") * 31L, lit(997L))).as("text"))
        time(s"saveBm25Index over ${n * 20000} docs (standing index)") {
          graft.ops.Retrieval.saveBm25Index(base, "doc_id", "text", dir,
            numBuckets = 32)
        }
        val inc = spark.range(n * 20000L, n * 20000L + 2000L)
          .select(col("id").as("doc_id"),
            concat(lit("term"), pmod(col("id"), lit(997L)),
              lit(" fresh increment text "),
              pmod(col("id") * 17L, lit(997L))).as("text"))
        time(s"appendToBm25Index 2000-doc increment onto ${n * 20000}-doc index") {
          graft.ops.Retrieval.appendToBm25Index(inc, "text", dir)
        }
      }

      // served hybrid retrieval: keyword + vector candidates fused by
      // RRF from the PERSISTED indexes — both reads partition-pruned
      // (query-term buckets / probed cells), so serving tracks the
      // candidate slice, never the corpus; the build rows above/below
      // carry the corpus-sized cost
      locally {
        val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val embN = blowUpKeyed(emb, n, "vec_id")
          .select("vec_id", "embedding")
        val docsN = embN.select(col("vec_id").as("doc_id"),
          concat(lit("term"), pmod(col("vec_id"), lit(997L)),
            lit(" shared corpus filler text block "),
            pmod(col("vec_id") * 31L, lit(997L))).as("text"))
        val bmDir = graft.io.TempDirs.create("graft-smoke-hyb-bm").toString
        val ivDir = graft.io.TempDirs.create("graft-smoke-hyb-iv").toString
        graft.ops.Retrieval.saveBm25Index(docsN, "doc_id", "text", bmDir,
          numBuckets = 32)
        val cents = graft.ops.Similarity.trainKmeansPortable(
          embN, "vec_id", "embedding", k = 16, iters = 2)
        graft.ops.Similarity.saveIvfIndex(embN, cents, ivDir)
        val qs = embN.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"),
            concat(lit("term"), pmod(col("vec_id"), lit(997L))).as("qtext"),
            col("embedding"))
        time(s"hybridSearchPreindexed over ${n * 50000}-vec corpus (served, pruned reads)") {
          graft.ops.Retrieval.hybridSearchPreindexed(
            spark, bmDir, ivDir, qs, "qid", "qtext", "embedding",
            topK = 10, candK = 10, nProbe = 4)
            .agg(count(lit(1))).collect()
        }
        // matryoshka budget serving: the SAME corpus at 16 of 64 dims —
        // the sliced build moves/holds a quarter of the vector bytes
        // and the sliced serve reads a quarter per probed cell
        val slDir = graft.io.TempDirs.create("graft-smoke-hyb-sl").toString
        val slicedN = embN.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
        time(s"matryoshka build: IVF over ${n * 50000} sliced (16/64-dim) vectors") {
          val sc = graft.ops.Similarity.trainKmeansPortable(
            slicedN, "vec_id", "embedding", k = 16, iters = 2)
          graft.ops.Similarity.saveIvfIndex(slicedN, sc, slDir)
        }
        time(s"matryoshka serve: sliced-IVF top-10 vs full-width IVF top-10") {
          graft.ops.Similarity.ivfTopKPreassigned(
            spark.read.parquet(s"$slDir/corpus"),
            slicedN.filter(col("vec_id") < 5), k = 10,
            graft.ops.Similarity.loadIvfCentroids(spark, slDir), nProbe = 4)
            .agg(count(lit(1))).collect()
          graft.ops.Similarity.ivfTopKPreassigned(
            spark.read.parquet(s"$ivDir/corpus"),
            embN.filter(col("vec_id") < 5), k = 10,
            graft.ops.Similarity.loadIvfCentroids(spark, ivDir), nProbe = 4)
            .agg(count(lit(1))).collect()
        }
      }

      // sharded delivery: the append must cost the INCREMENT however
      // big the standing export is (manifest merge is shard-grain sums,
      // staged files read back once — never a rescan of live data)
      locally {
        val dir = graft.io.TempDirs.create("smoke-shards").toString
        val base = spark.range(n * 50000L)
          .select(col("id"), concat(lit("payload-"), col("id")).as("payload"))
        time(s"writeShardsWithManifest over ${n * 50000} rows") {
          graft.io.Layout.writeShardsWithManifest(base, "id", dir, numShards = 16)
        }
        val inc = spark.range(n * 50000L, n * 50000L + 2000L)
          .select(col("id"), concat(lit("payload-"), col("id")).as("payload"))
        time(s"appendShardsWithManifest 2000-row increment onto ${n * 50000}-row export") {
          graft.io.Layout.appendShardsWithManifest(inc, dir)
        }
      }

      // adversarial: a LONG PATH is the shape that defeats min-label
      // flooding (eccentricity-bound rounds — the old formulation
      // crawled one hop per round and hung on the compounding-
      // originStats planner stall besides); star contraction must
      // finish it in ~log² rounds, scale factor notwithstanding
      time(s"connected components adversarial ${n * 60}-node path") {
        val path = spark.range(n * 60L - 1)
          .select(col("id").as("s"), (col("id") + 1).as("d"))
        graft.ops.Graphs.connectedComponents(path, "s", "d")
          .agg(count(lit(1))).collect()
      }

      // adversarial: a chain peels ONE node per k-core round — the loud
      // maxIter backstop must refuse in BOUNDED time, not grind on
      time(s"k-core maxIter refusal on a 200-node chain") {
        val chain = spark.range(199).select(col("id").as("s"), (col("id") + 1).as("d"))
        try {
          graft.ops.Graphs.kCore(chain, "s", "d", k = 2, maxIter = 20)
            .agg(count(lit(1))).collect()
          println("  !! kCore maxIter backstop DID NOT fire")
        } catch {
          case e: IllegalStateException if e.getMessage.contains("did not converge") =>
            println("  refused as designed (maxIter backstop)")
        }
      }

      // adversarial: ONE bot user with 1000 convs x 2000 touches = 2M
      // pairs must refuse at the pre-flight, before the interval join
      time(s"attribution hot-user refusal (one 2M-pair user)") {
        val bot = spark.range(3000).select(
          lit(7L).as("user_id"),
          when(col("id") < 1000, lit("purchase")).otherwise(lit("view")).as("event_type"),
          (col("id") * 1000L).as("us"), col("id").as("event_id"))
        try {
          graft.ops.Metrics.attribution(bot, "user_id", "event_type", col("us"),
              "event_id", "purchase", Seq("view"), "linear",
              lookbackUs = 86400000000L, maxUserPairs = 1000000L)
            .agg(count(lit(1))).collect()
          println("  !! attribution hot-user ceiling DID NOT fire")
        } catch {
          case e: Exception if String.valueOf(e.getMessage).contains("maxUserPairs") ||
            String.valueOf(String.valueOf(e.getCause)).contains("maxUserPairs") =>
            println("  refused as designed (hot-user pair ceiling)")
        }
      }

      // adversarial: ONE degenerate block (a broken coarse partitioner)
      // must refuse loudly and fast — |block|² pairs never materialize
      time(s"blocked NN hot-block guard (one ${n * 2000}-row block)") {
        val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val embN = blowUpKeyed(emb, n, "vec_id").withColumn("blk", lit(0L))
        try {
          graft.ops.Similarity.blockedNearestNeighbor(
            embN, "vec_id", "embedding", "blk", maxBlockRows = 1000)
            .agg(count(lit(1))).collect()
          println("  !! hot-block guard DID NOT fire")
        } catch {
          case e: Exception if String.valueOf(e.getMessage).contains("refine the blocking") ||
            String.valueOf(String.valueOf(e.getCause)).contains("refine the blocking") =>
            println("  refused as designed (hot-block ceiling)")
        }
      }
    }
    spark.stop()
  }
}
