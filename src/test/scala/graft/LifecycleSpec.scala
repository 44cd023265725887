package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Outliers, Sampling, Similarity}

/** Session-lifecycle behavior: managed checkpoint release (the round-5
  * bench regression), dupClusters round self-freeing and
  * rewind-to-reliable, and the plan-size fallbacks (temperatureMix
  * broadcast acceptance, assignCells broadcast argmax). */
class LifecycleSpec extends SparkSpec {

  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("localCheckpointIfDeep: shallow plans skip the job, deep plans truncate") {
    Checkpoints.freeAll(spark)
    val before = Checkpoints.trackedCount
    // shallow: scan + filter + project — no materialization job, no blocks
    val shallow = Checkpoints.localCheckpointIfDeep(
      spark.range(100).toDF("id").filter(col("id") > 2).select(col("id") * 2))
    assert(shallow.count() == 97)
    assert(Checkpoints.trackedCount == before, "shallow plan must not checkpoint")
    // deep: a 40-step column chain crosses the node threshold and must be
    // truncated (the repeated-subtree driver-OOM guard)
    val deep = (1 to 40).foldLeft(spark.range(50).toDF("id")) {
      (df, i) => df.filter(col("id") =!= lit(-i))
    }
    val cp = Checkpoints.localCheckpointIfDeep(deep)
    assert(cp.count() == 50)
    assert(Checkpoints.trackedCount > before, "deep plan must checkpoint")
    assert(cp.queryExecution.logical.collect { case n => n }.size < 5,
      "checkpoint must truncate the logical plan")
    Checkpoints.freeAll(spark)
    // the near-dup signature path rides the conditional: a raw-frame
    // input leaves no tracked checkpoint behind
    val docs = (0 until 50).map(i => (i.toLong, s"doc text $i body")).toDF("doc_id", "text")
    Dedup.polyMinhashNearDupPairs(docs, "text", "doc_id", threshold = 0.9).count()
    assert(Checkpoints.trackedCount == 0,
      "raw-scan near-dup input must not leave checkpoint blocks")
    Checkpoints.freeAll(spark)
  }

  test("Checkpoints: freeAll drops tracked blocks; pinned survives until releasePinned") {
    Checkpoints.freeAll(spark)
    val base = persistedIds
    val cp = Checkpoints.localCheckpoint(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(cp.count() == 2)
    val added = persistedIds -- base
    assert(added.nonEmpty, "the eager checkpoint must register persisted blocks")
    assert(Checkpoints.trackedCount >= 1)

    val pin = Checkpoints.pinned("lifecycle-pin")(Seq((3, "c")).toDF("id", "v"))
    assert(pin.count() == 1)

    Checkpoints.freeAll(spark)
    assert(Checkpoints.trackedCount == 0)
    assert((persistedIds intersect added).isEmpty,
      "tracked checkpoint blocks must be unpersisted by freeAll")
    // pinned frame still reads after the barrier, and the cache hits
    // (a rebuild would throw)
    assert(pin.count() == 1)
    val cached = Checkpoints.pinned("lifecycle-pin")(
      sys.error("pinned cache must not rebuild"))
    assert(cached.count() == 1)

    Checkpoints.releasePinned(spark)
    // after release the key rebuilds
    val rebuilt = Checkpoints.pinned("lifecycle-pin")(Seq((4, "d")).toDF("id", "v"))
    assert(rebuilt.select("id").head().getInt(0) == 4)
    Checkpoints.releasePinned(spark)
  }

  test("Checkpoints.free releases a specific frame's blocks immediately") {
    Checkpoints.freeAll(spark)
    val base = persistedIds
    val a = Checkpoints.localCheckpoint(Seq(1, 2, 3).toDF("x"))
    assert(a.count() == 3)
    val added = persistedIds -- base
    assert(added.nonEmpty)
    Checkpoints.free(a)
    assert((persistedIds intersect added).isEmpty, "free must drop the blocks now")
    assert(Checkpoints.trackedCount == 0)
  }

  test("dupClusters frees superseded rounds: exactly one checkpoint outlives the call") {
    Checkpoints.freeAll(spark)
    // a 100-node path takes several pointer-jump rounds — without the
    // per-round free, each would leave its own block set behind
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cl = Dedup.dupClusters(pairs, maxIter = 12)
    assert(cl.count() == 100)
    assert(Checkpoints.trackedCount == 1,
      "only the final round's labels may remain checkpointed")
    Checkpoints.freeAll(spark)
  }

  test("dupClusters rewinds to the last reliable checkpoint on a round failure") {
    val dir = tempDir("graft_ckpt_rewind")
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val fired = new AtomicBoolean(false)
    Dedup.roundProbe = r =>
      if (r == 2 && fired.compareAndSet(false, true))
        sys.error("injected round failure")
    try {
      val cl = Dedup.dupClusters(pairs, maxIter = 16, reliableEvery = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(fired.get, "the probe must have fired")
      assert(cl.length == 31 && cl.forall(_._2 == 0L),
        "clusters must be correct after the rewind replay")
    } finally Dedup.roundProbe = _ => ()

    // without a reliable checkpoint the failure propagates unchanged
    val fired2 = new AtomicBoolean(false)
    Dedup.roundProbe = r =>
      if (r == 1 && fired2.compareAndSet(false, true)) sys.error("boom")
    try {
      val e = intercept[RuntimeException](
        Dedup.dupClusters(pairs, maxIter = 16).collect())
      assert(e.getMessage.contains("boom"))
    } finally Dedup.roundProbe = _ => ()
  }

  test("temperatureMix: broadcast-join acceptance equals the literal CASE chain") {
    // 10 sources incl. a null-source group, ~40 rows
    val df = (0L until 40L).map { i =>
      (i, if (i % 10 == 9) null else s"src${i % 10}")
    }.toDF("id", "source")
    val counts = df.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).sortBy(_._1)
    val z = counts.map { case (_, n) => math.sqrt(n.toDouble) }.sum
    val accept = counts.map { case (s, n) =>
      (s, math.min(1.0, 25.0 * (math.sqrt(n.toDouble) / z) / n.toDouble))
    }.toSeq
    val u = Sampling.unitHash(col("id"), "x")
    def ids(useJoin: Boolean): Seq[Long] =
      Sampling.applyAcceptance(df, "source", u, accept, useJoin)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val caseIds = ids(useJoin = false)
    assert(caseIds.nonEmpty && caseIds.size < 40)
    assert(ids(useJoin = true) == caseIds)

    // above the bound the public API takes the join path and still mixes
    val many = (0L until 400L).map(i => (i, s"s${i % 100}")).toDF("id", "source")
    val mixed = Sampling.temperatureMix(many, "id", "source",
      alpha = 0.5, targetRows = 200, salt = "y")
    val n = mixed.count()
    assert(n > 0 && n < 400)
    assert(mixed.columns.toSeq == Seq("id", "source"),
      "join bookkeeping columns must not leak")
  }

  test("assignCells: broadcast-array argmax matches the literal expression") {
    // centroid 2 duplicates centroid 0 -> ties must keep the smaller id;
    // a NaN vector must pick the first cell under NaN-largest ordering
    val cents = Seq(
      (0, Seq(1.0, 0.0), 1.0),
      (1, Seq(0.0, 1.0), 1.0),
      (2, Seq(1.0, 0.0), 1.0))
    val vecs = Seq(
      (1L, Seq(0.9, 0.1)),
      (2L, Seq(0.1, 0.9)),
      (3L, Seq(-0.5, -0.4)),
      (4L, Seq(Double.NaN, 0.0))).toDF("id", "v")
    def asMap(dfv: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      dfv.select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaLit = asMap(vecs.withColumn("cell", Similarity.assignCell(col("v"), cents)))
    val viaBc = asMap(Similarity.assignCellsViaBroadcast(vecs, "v", cents, "cell"))
    assert(viaLit == viaBc)
    assert(viaLit(1L) == 0 && viaLit(2L) == 1, "tie between 0 and 2 keeps 0")
    // dispatcher stays on the literal path below the bound
    val viaAuto = asMap(Similarity.assignCells(vecs, "v", cents, "cell"))
    assert(viaAuto == viaLit)
  }

  test("winsorize honors graft.stats.approx with a bounded sketch") {
    val df = (1 to 200).map(i => (i.toLong, "g", i.toDouble)).toDF("id", "g", "v")
    val exact = Outliers.winsorize(df, Seq("g"), "v", 0.1, 0.9, "w")
      .agg(min("w"), max("w")).head()
    spark.conf.set("graft.stats.approx", "true")
    try {
      val approx = Outliers.winsorize(df, Seq("g"), "v", 0.1, 0.9, "w")
        .agg(min("w"), max("w")).head()
      // sketch accuracy 10000 on 200 rows is exact-by-construction, but
      // only guarantee closeness — the contract is bounded memory
      assertNear(approx.getDouble(0), exact.getDouble(0), 2.0)
      assertNear(approx.getDouble(1), exact.getDouble(1), 2.0)
    } finally spark.conf.unset("graft.stats.approx")
  }

  test("trackCache releases SQL-cached frames at the barrier") {
    val df = Seq(1, 2, 3).toDF("x")
    Checkpoints.trackCache(df.persist())
    assert(df.count() == 3)
    assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    Checkpoints.freeAll(spark)
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the tracked SQL cache must be uncached by freeAll")
  }

  test("staged evaluation + scalable rank leave no blocks after the barrier") {
    Checkpoints.freeAll(spark)
    val before = persistedIds
    val bids = Seq(
      ("A", 10L, 80L, 100000L),
      ("B", 5L, 60L, 95000L),
      ("C", 8L, 90L, 110000L),
      ("D", 8L, 90L, 110000L)
    ).toDF("vendor", "experience", "quality_score", "bid_amount")
    val prev = spark.conf.getOption("graft.rank.rangeThreshold")
    // every rank below takes the range-rank kernel
    spark.conf.set("graft.rank.rangeThreshold", "1")
    try {
      val results = Seq(
        new Evaluator().linear("experience", 0.4).direct("quality_score", 0.6)
          .evaluate(bids),
        new StagedEvaluator()
          .addStage("Technical", filterType = "top_n", topN = 3)
          .linear("experience", 0.4)
          .direct("quality_score", 0.6)
          .addStage("Economic")
          .minRatio("bid_amount", 1.0)
          .evaluate(bids),
        Ranks.rangePartitionedRank(
          Seq((1L, 5.0), (2L, 3.0), (3L, 5.0)).toDF("id", "score"), "score", "rk"))
      val first = results.map(_.collect().toSeq.map(_.toString).sorted)
      assert(first.map(_.size) == Seq(4, 4, 3))
      Checkpoints.freeAll(spark)
      // ordinary lazy frames: the barrier leaves them runnable, same rows
      assert(results.map(_.collect().toSeq.map(_.toString).sorted) == first)
      assert((persistedIds -- before).isEmpty,
        "ranked results must persist and checkpoint nothing")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("graft.rank.rangeThreshold", v)
        case None    => spark.conf.unset("graft.rank.rangeThreshold")
      }
    }
  }

  test("writePartitioned buckets around unhashable map columns") {
    val tmp = tempDir("graft_layout_map")
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
      .withColumn("m", map(col("v"), col("k")))
    graft.io.Layout.writePartitioned(df, s"$tmp/out", Seq("k"), filesPerPartition = 2)
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("k", "v", "m"))
  }

  test("charEntropy stays exact on high-alphabet text (run-length fold)") {
    // 256 distinct code points, each once: entropy == log2(256) == 8 bits
    val wide = (0x4E00 until 0x4F00).map(_.toChar).mkString
    val df = Seq((1L, "abca"), (2L, wide), (3L, "aaaa")).toDF("id", "text")
    val got = df.select(col("id"),
        graft.ops.TextAnalysis.charEntropy(col("text")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assertNear(got(1L), 1.5) // a:2 b:1 c:1 over 4
    assertNear(got(2L), 8.0)
    assert(got(3L) == 0.0 || got(3L) == -0.0)
  }
}
