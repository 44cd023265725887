package graft

import org.apache.spark.sql.functions._

/** §2.5 source/sink parity: the engine's bulk formats are plain
  * `spark.read`/`write` — verify evaluator inputs survive CSV and JSON
  * round-trips (the reference's `to_excel`/`to_csv` analogue), and that
  * scoring over a re-read frame matches the in-memory original. */
class SourcesSpec extends SparkSpec {

  import spark.implicits._

  def bids = Seq(
    ("A", 10L, 100000.5),
    ("B", 5L, 95000.25),
    ("C", 8L, 110000.0)
  ).toDF("vendor", "experience", "bid_amount")

  test("CSV round-trip preserves evaluator results") {
    val dir = tempDir("graft_csv") + "/bids"
    bids.write.option("header", true).csv(dir)
    val back = spark.read.option("header", true).option("inferSchema", true).csv(dir)

    def score(df: org.apache.spark.sql.DataFrame) =
      new Evaluator().minRatio("bid_amount", 0.6).linear("experience", 0.4)
        .evaluate(df)
        .select("vendor", "final_score", "ranking").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet

    assert(score(back) == score(bids))
  }

  test("JSON round-trip preserves evaluator results") {
    val dir = tempDir("graft_json") + "/bids"
    bids.write.json(dir)
    val back = spark.read.json(dir)
    val scored = new Evaluator().linear("experience", 1.0).evaluate(back)
    assert(byKey(scored, "vendor")("A").getAs[Double]("score_experience") == 100.0)
  }

  test("evaluator registry API: remove, weights (evaluator.py:259-273)") {
    val ev = new Evaluator()
      .linear("a", 3.0)
      .minRatio("b", 1.0)
    assert(ev.getTotalWeight == 4.0)
    assert(ev.getNormalizedWeights == Map("a" -> 0.75, "b" -> 0.25))
    ev.removeCriterion("a")
    assert(ev.criteria.map(_._1) == Seq("b"))
    ev.removeCriterion("nope") // no-op like the reference
    assert(ev.getTotalWeight == 1.0)
    // zero total weight -> empty normalized map (evaluator.py:270-272)
    val z = new Evaluator().linear("a", 0.0)
    assert(z.getNormalizedWeights == Map.empty)
  }

  test("zero total weight with criteria -> final_score 0 (evaluator.py:304-307)") {
    val df = Seq(("A", 1.0), ("B", 2.0)).toDF("vendor", "x")
    val r = new Evaluator().linear("x", 0.0).evaluate(df)
    assert(rows(r).forall(_.getAs[Double]("final_score") == 0.0))
  }

  test("graft.stats.approx switches quantiles to the sketch (100TB path)") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 10000).selectExpr("id as k", "CAST(id AS DOUBLE) as v")
    val exact = StatsAgg.compute(df, Seq("v"))("v")
    spark.conf.set("graft.stats.approx", "true")
    try {
      val approx = StatsAgg.compute(df, Seq("v"))("v")
      assert(approx.min == exact.min && approx.max == exact.max)
      assertNear(approx.mean, exact.mean, 1e-9)
      // quantiles approximate but close on a uniform ramp
      assert(math.abs(approx.median - exact.median) < 100.0)
      assert(math.abs(approx.q25 - exact.q25) < 100.0)
      // and the evaluator still runs end-to-end in approx mode
      val scored = new Evaluator().custom("v", 1.0, "proximity_to_median").evaluate(df)
      assert(scored.count() == 10000)
    } finally spark.conf.set("graft.stats.approx", "false")
  }

  test("ORC and JSONL round-trips preserve the frame") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "source", "n_chars")
    val base = tempDir("graft_formats")

    docs.write.mode("overwrite").orc(s"$base/orc")
    val orc = spark.read.orc(s"$base/orc")
    assert(orc.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)

    // JSONL: the standard corpus interchange format (one JSON doc per line)
    docs.write.mode("overwrite").json(s"$base/jsonl")
    val jsonl = spark.read.schema(docs.schema).json(s"$base/jsonl")
    assert(jsonl.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
    val firstFile = new java.io.File(s"$base/jsonl").listFiles()
      .filter(_.getName.endsWith(".json")).head
    val firstLine = scala.io.Source.fromFile(firstFile).getLines().next()
    assert(firstLine.startsWith("{") && firstLine.endsWith("}"),
      s"expected one JSON object per line, got: $firstLine")
  }

  test("writePartitioned: hive-style directories, bounded files per partition") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = tempDir("graft_layout")
    graft.io.Layout.writePartitioned(docs, out, Seq("lang"), filesPerPartition = 2)

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("lang=")), s"expected hive layout, got ${dirs.toSeq}")
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = new java.io.File(s"$out/$d").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files <= 2, s"$d has $files files, expected <= filesPerPartition")
    }
    // read-back equality and partition pruning on the directory column
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    val pruned = back.filter(col("lang") === "en")
    assert(pruned.count() == docs.filter(col("lang") === "en").count())
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter must prune partitions:\n$plan")
  }

  test("writePartitioned: file fan-out is independent of input partitioning") {
    import org.apache.spark.sql.functions._
    // a single-partition input must still fan out to filesPerPartition
    // files per directory: the bucket is a row-value hash, not
    // spark_partition_id (whose distinct values a coalesce(1) collapses)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").coalesce(1)
    val out = tempDir("graft_layout1")
    graft.io.Layout.writePartitioned(docs, out, Seq("lang"), filesPerPartition = 3)
    val biggest = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(biggest >= 2,
      s"coalesced input produced $biggest file(s) in the largest partition dir; " +
        "row-hash bucketing should fan out")
    assert(spark.read.parquet(out).count() == docs.count())
  }

  test("sharded export: manifest verifies clean, flags a tampered shard, nulls refuse") {
    import spark.implicits._
    import graft.io.Layout
    val rows = (1L to 200L).map(i => (i, s"payload-$i")).toDF("id", "payload")
    val out = tempDir("graft-shards")
    Layout.writeShardsWithManifest(rows, "id", out, numShards = 4, salt = "x")
    // round-trip: every row survives, shards partition the id space
    val back = spark.read.parquet(s"$out/data")
    assert(back.count() == 200L)
    assert(back.select("shard").distinct().count() == 4L)
    // clean export verifies ok on every shard
    val clean = Layout.verifyShards(spark, out).collect()
    assert(clean.length == 4 && clean.forall(_.getAs[Boolean]("ok")))
    // manifest equals the pure derivation
    val m = spark.read.parquet(s"$out/manifest")
      .select("shard", "n_rows", "id_checksum").collect().map(_.toSeq).toSet
    val derived = Layout.shardManifest(rows, "id", 4, "x")
      .select("shard", "n_rows", "id_checksum").collect().map(_.toSeq).toSet
    assert(m == derived)
    // tamper: drop one shard's rows on disk -> exactly that shard flags
    val victim = back.filter(col("shard") === 2).limit(1)
      .select("id").collect().head.getLong(0)
    val kept = back.filter(!(col("shard") === 2 && col("id") === victim))
      .select("id", "payload", "shard")
    kept.write.mode("overwrite").parquet(s"$out/data2")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/data"), true)
    // rewrite in hive layout so the verifier sees the same shape
    Layout.writePartitioned(spark.read.parquet(s"$out/data2"),
      s"$out/data", Seq("shard"))
    val flagged = Layout.verifyShards(spark, out).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("ok")).toMap
    assert(!flagged(2L), "the tampered shard must flag")
    assert(Seq(0L, 1L, 3L).forall(flagged(_)), "untouched shards stay ok")
    // null ids refuse loudly
    val err = intercept[Exception] {
      Layout.shardManifest(
        Seq((Some(1L), "a"), (None, "b")).toDF("id", "payload"), "id", 4).collect()
    }
    assert(err.getMessage.contains("null id"), err.getMessage)
  }

  test("shard append: save+append ≡ save-once, marker replay converges, unmarked stage discards") {
    import spark.implicits._
    import graft.io.Layout
    import graft.ops.IndexCommit
    import org.apache.hadoop.fs.Path
    val all = (1L to 300L).map(i => (i, s"payload-$i")).toDF("id", "payload")
    val first = all.filter(col("id") <= 200L)
    val inc = all.filter(col("id") > 200L)
    // append path
    val out = tempDir("graft-shard-app")
    Layout.writeShardsWithManifest(first, "id", out, numShards = 4, salt = "x")
    Layout.appendShardsWithManifest(inc, out)
    // write-once reference over the union
    val ref = tempDir("graft-shard-ref")
    Layout.writeShardsWithManifest(all, "id", ref, numShards = 4, salt = "x")
    def manifest(p: String) = spark.read.parquet(s"$p/manifest")
      .select("shard", "n_rows", "id_checksum").collect().map(_.toSeq).toSet
    assert(manifest(out) == manifest(ref),
      "append must publish the manifest of the union")
    assert(spark.read.parquet(s"$out/data").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 300L))
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
    // same-id rows keep landing in the same shard across the append
    val shardOf = spark.read.parquet(s"$out/data")
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refShard = spark.read.parquet(s"$ref/data")
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shardOf == refShard)
    // crash AFTER the marker: hand-stage a second increment exactly as
    // append does (the md5 routing recipe is part of the manifest
    // contract), write the marker, "crash", recover — the export must
    // converge to the post-append state
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    val inc2 = (301L to 340L).map(i => (i, s"payload-$i")).toDF("id", "payload")
    val staging = IndexCommit.stagingDir(out)
    val h = conv(substring(md5(concat(col("id").cast("string"), lit("x"))), 1, 8),
      16, 10).cast("long")
    Layout.writePartitioned(inc2.withColumn("shard", pmod(h, lit(4L))),
      s"$staging/data", Seq("shard"))
    Layout.shardManifest((1L to 340L).map(i => (i, s"p-$i")).toDF("id", "payload"),
        "id", 4, "x")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/manifest")
    IndexCommit.writeMarker(fs, new Path(out),
      Seq("merge" -> "data", "swap" -> "manifest"))
    assert(IndexCommit.recover(spark, out), "marked stage must replay")
    assert(spark.read.parquet(s"$out/data").count() == 340L)
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
    assert(!fs.exists(new Path(staging)))
    // crash BEFORE the marker (a torn atomicWrite leaves only .tmp):
    // the unmarked stage is an incomplete write and must be discarded
    fs.mkdirs(new Path(s"$staging/data"))
    val tmp = fs.create(new Path(s"$staging/_COMMIT.tmp"), true)
    tmp.write("merge data".getBytes("UTF-8")); tmp.close()
    assert(!IndexCommit.recover(spark, out), "unmarked stage must discard")
    assert(!fs.exists(new Path(staging)))
    assert(spark.read.parquet(s"$out/data").count() == 340L,
      "live tables untouched by a discarded stage")
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
  }

  test("shard takedown: ≡ write-once over survivors, untouched shards keep files, audit clean") {
    import spark.implicits._
    import graft.io.Layout
    val all = (1L to 300L).map(i => (i, s"payload-$i")).toDF("id", "payload")
    val out = tempDir("graft-shard-rm")
    Layout.writeShardsWithManifest(all, "id", out, numShards = 4, salt = "x")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    // locate one id's shard, remember every OTHER shard's exact file set
    val one = 137L
    val oneShard = spark.read.parquet(s"$out/data")
      .filter(col("id") === one).select(col("shard").cast("long"))
      .head().getLong(0)
    def files(shard: Long) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$out/data/shard=$shard"))
      .map(s => s.getPath.getName -> s.getModificationTime).toSet
    val before = (0L to 3L).filter(_ != oneShard).map(s => s -> files(s)).toMap
    Layout.removeFromShardExport(Seq(one).toDF("id"), out)
    // survivors match a write-once export bit for bit (manifest + rows)
    val ref = tempDir("graft-shard-rm-ref")
    Layout.writeShardsWithManifest(all.filter(col("id") =!= one), "id", ref,
      numShards = 4, salt = "x")
    def manifest(p: String) = spark.read.parquet(s"$p/manifest")
      .select("shard", "n_rows", "id_checksum").collect().map(_.toSeq).toSet
    assert(manifest(out) == manifest(ref))
    assert(spark.read.parquet(s"$out/data").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 300L).filter(_ != one))
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
    // O(affected shards): the three untouched shard dirs kept their files
    assert((0L to 3L).filter(_ != oneShard).forall(s => files(s) == before(s)),
      "untouched shards must not rewrite")
    // the right-to-be-forgotten audit reads clean afterwards
    val audit = graft.ops.Reports.takedownAudit(spark, Seq(one).toDF("id"), "id",
      Seq(("export", s"$out/data", "id"))).collect()
    assert(audit.forall(_.getAs[Boolean]("clean")), audit.mkString(", "))
    // ids never delivered are a no-op (manifest byte-identical)
    val m0 = manifest(out)
    Layout.removeFromShardExport(Seq(99999L).toDF("id"), out)
    assert(manifest(out) == m0)
    // removing EVERYTHING leaves a readable, appendable, verifiable export
    Layout.removeFromShardExport(all.select("id"), out)
    assert(spark.read.parquet(s"$out/data").count() == 0L)
    assert(spark.read.parquet(s"$out/manifest").count() == 0L)
    assert(Layout.verifyShards(spark, out).collect().isEmpty)
    Layout.appendShardsWithManifest(
      Seq((7L, "back")).toDF("id", "payload"), out)
    assert(spark.read.parquet(s"$out/data").count() == 1L)
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
  }

  test("shard export: empty seed, tagged appends, compaction folds files and tags") {
    import spark.implicits._
    import graft.io.Layout
    val out = tempDir("graft-shard-seed")
    val empty = Seq.empty[(Long, String)].toDF("id", "payload")
    // a streaming delivery seeds BEFORE data exists
    Layout.writeShardsWithManifest(empty, "id", out, numShards = 4, salt = "x")
    assert(spark.read.parquet(s"$out/data").count() == 0L)
    assert(spark.read.parquet(s"$out/manifest").count() == 0L)
    assert(Layout.verifyShards(spark, out).collect().isEmpty)
    // tagged appends land exactly once; a retried tag no-ops
    (1 to 3).foreach { b =>
      val inc = ((b * 100L + 1) to (b * 100L + 40)).map(i => (i, s"p-$i"))
        .toDF("id", "payload")
      Layout.appendShardsWithManifest(inc, out, batchTag = Some(b.toLong))
    }
    Layout.appendShardsWithManifest(
      (201L to 240L).map(i => (i, s"p-$i")).toDF("id", "payload"),
      out, batchTag = Some(2L)) // retry of batch 2: must no-op
    assert(spark.read.parquet(s"$out/data").count() == 120L)
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    def dataFiles(shard: Long) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$out/data/shard=$shard"))
      .count(s => !s.getPath.getName.startsWith("_"))
    assert((0L to 3L).exists(dataFiles(_) > 1), "appends should accrete files")
    val tagFiles0 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/_batches"))
      .count(s => !s.getPath.getName.startsWith("."))
    assert(tagFiles0 >= 3)
    val mBefore = spark.read.parquet(s"$out/manifest")
      .select("shard", "n_rows", "id_checksum").collect().map(_.toSeq).toSet
    Layout.compactShardExport(spark, out)
    assert((0L to 3L).forall(s => dataFiles(s) <= 1), "compaction must fold shard files")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/_batches"))
      .count(s => !s.getPath.getName.startsWith(".")) == 1,
      "compaction must fold the tag table")
    assert(spark.read.parquet(s"$out/manifest")
      .select("shard", "n_rows", "id_checksum").collect().map(_.toSeq).toSet == mBefore)
    assert(spark.read.parquet(s"$out/data").count() == 120L)
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
    // tags keep fencing after the fold: replaying an old batch still no-ops
    Layout.appendShardsWithManifest(
      Seq((9999L, "dup")).toDF("id", "payload"), out, batchTag = Some(1L))
    assert(spark.read.parquet(s"$out/data").count() == 120L)
    // compacting an EMPTY export keeps it readable
    val out2 = tempDir("graft-shard-seed2")
    Layout.writeShardsWithManifest(empty, "id", out2, numShards = 2, salt = "")
    Layout.compactShardExport(spark, out2)
    assert(spark.read.parquet(s"$out2/data").count() == 0L)
  }
}
