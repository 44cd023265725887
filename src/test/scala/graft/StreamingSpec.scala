package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.IndexCommit
import graft.streaming.StreamingEval
import graft.streaming.StreamingEval.{SessionEvent, SessionOut}

/** Structured Streaming specs via MemoryStream: stateless scoring with
  * frozen stats, tumbling-window aggregation with watermark, and stateful
  * sessionization. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  test("stateless streaming scoring with frozen stats") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val stream = input.toDF().toDF("vendor", "amount")

    // freeze stats from a reference batch
    val batch = Seq(("A", 10.0), ("B", 20.0), ("C", 30.0)).toDF("vendor", "amount")
    val ev = new Evaluator().linear("amount", 1.0, name = "amount_score")
    // statistics come back keyed by criterion NAME; scoreStream accepts that
    val frozen = ev.evaluateResult(batch).statistics

    val scored = StreamingEval.scoreStream(stream, ev, frozen)
    val query = scored.writeStream.format("memory").queryName("scored_stream")
      .outputMode("append").start()
    try {
      input.addData(("X", 10.0), ("Y", 25.0), ("Z", 40.0))
      query.processAllAvailable()
      val out = spark.table("scored_stream").collect()
        .map(r => r.getAs[String]("vendor") -> r.getAs[Double]("final_score")).toMap
      assert(spark.table("scored_stream").columns.contains("score_amount_score"))
      // frozen min=10 max=30: X=0, Y=75, Z=150 (out-of-range extrapolates, no clip in linear)
      assert(out("X") == 0.0)
      assert(out("Y") == 75.0)
      assert(out("Z") == 150.0)
    } finally query.stop()
  }

  test("tumbling window aggregation with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val stream = input.toDF().toDF("ts", "event_type", "value")

    val windowed = StreamingEval.windowedEventStats(stream, windowLen = "1 hour")
    val query = windowed.writeStream.format("memory").queryName("win_stream")
      .outputMode("complete").start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      input.addData(
        (ts(0, 10), "click", 1.0), (ts(0, 50), "click", 2.0),
        (ts(1, 5), "click", 4.0), (ts(0, 30), "view", 8.0))
      query.processAllAvailable()
      val out = spark.table("win_stream")
        .select(col("window.start").cast("string"), col("event_type"),
          col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getAs[Long](2), r.getAs[Double](3)))
        .toMap
      assert(out(("2024-01-01 00:00:00", "click")) == ((2L, 3.0)))
      assert(out(("2024-01-01 01:00:00", "click")) == ((1L, 4.0)))
      assert(out(("2024-01-01 00:00:00", "view")) == ((1L, 8.0)))
    } finally query.stop()
  }

  test("stateful sessionization emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val gap = 1800L * 1000000L

    val sessions = StreamingEval.sessionize(input.toDS(), gapUs = gap)
    val query = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      val t0us = 1700000000000000L
      def ts(offsetUs: Long) = new Timestamp((t0us + offsetUs) / 1000L)
      // user 1: two events 10 min apart (one session), then an event 2h
      // later -> closes the first session on arrival
      input.addData(
        SessionEvent(1L, 1L, ts(0L), 1.0),
        SessionEvent(1L, 2L, ts(600L * 1000000L), 2.0))
      query.processAllAvailable()
      input.addData(SessionEvent(1L, 3L, ts(7200L * 1000000L), 4.0))
      query.processAllAvailable()
      val out = spark.table("sess_stream").as[SessionOut].collect()
      assert(out.length == 1)
      assert(out.head.user_id == 1L)
      assert(out.head.n_events == 2L)
      assert(out.head.sum_value == 3.0)
      assert(out.head.session_start_us == t0us)
      assert(out.head.session_end_us == t0us + 600L * 1000000L)
    } finally query.stop()
  }

  test("streaming sliding windows match batch sliding aggregation on replayed events") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select(timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"), col("value"))
    val batch = ev
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    val rows = ev.as[(Timestamp, String, Double)].collect().toSeq
    val input = MemoryStream[(Timestamp, String, Double)]
    val windowed = StreamingEval.slidingEventStats(
      input.toDF().toDF("ts", "event_type", "value"),
      windowLen = "1 hour", slide = "15 minutes")
    val query = windowed.writeStream.format("memory").queryName("diff_slide")
      .outputMode("complete").start()
    try {
      input.addData(rows) // one batch: nothing late, complete == batch
      query.processAllAvailable()
      val streamed = spark.table("diff_slide")
        .select(col("window.start").cast("long"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream ${streamed.size} vs batch ${batch.size} windows")
    } finally query.stop()
  }

  test("scoreStream with frozen cohort stats reproduces batch final scores") {
    implicit val sqlCtx = spark.sqlContext
    val suppliers = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
      .select("s_suppkey", "s_acctbal", "s_nationkey")
    val ev = new Evaluator()
      .linear("s_acctbal", 0.7)
      .minRatio("s_nationkey", 0.3)
    val batchResult = ev.evaluateResult(suppliers)
    val expected = batchResult.df.collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Double]("final_score")).toMap

    val input = MemoryStream[(Long, Double, Long)]
    val scored = StreamingEval.scoreStream(
      input.toDF().toDF("s_suppkey", "s_acctbal", "s_nationkey"),
      ev, batchResult.statistics)
    val query = scored.writeStream.format("memory").queryName("score_diff")
      .outputMode("append").start()
    try {
      val rows = suppliers.collect().map(r =>
        (r.getAs[Long]("s_suppkey"), r.getAs[Double]("s_acctbal"),
          r.getAs[Int]("s_nationkey").toLong))
      input.addData(rows.toSeq)
      query.processAllAvailable()
      val streamed = spark.table("score_diff").collect()
        .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Double]("final_score")).toMap
      assert(streamed.keySet == expected.keySet)
      // identical expressions + identical stats literals -> identical bits
      streamed.foreach { case (k, v) => assert(v == expected(k), s"supplier $k") }
    } finally query.stop()
  }

  test("scoreStagedStream with frozen per-stage stats reproduces the batch staged result") {
    implicit val sqlCtx = spark.sqlContext
    val bids = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).cast("long").as("n_items"),
        sum("l_quantity").cast("double").as("total_qty"))

    val staged = new StagedEvaluator()
      .addStage("Technical", filterType = "score_threshold", threshold = 40.0)
      .linear("total_qty", 0.5)
      .linear("n_items", 0.5)
      .addStage("Economic")
      .minRatio("n_items", 1.0)
    val batchRes = staged.evaluateResult(bids)
    // everything except the cohort-global rankings must replay identically
    val cmp = Seq("technical_total_qty", "technical_n_items", "technical_score",
      "economic_n_items", "economic_score", "eliminated_at_stage", "final_score")
    val expected = batchRes.df.collect()
      .map(r => r.getAs[Long]("l_suppkey") -> cmp.map(c => Option(r.getAs[Any](c))))
      .toMap

    val input = MemoryStream[(Long, Long, Double)]
    val scored = StreamingEval.scoreStagedStream(
      input.toDF().toDF("l_suppkey", "n_items", "total_qty"),
      staged, batchRes.statistics)
    assert(!scored.columns.contains("ranking"),
      "cohort-global ranking must not be fabricated on a stream")
    val query = scored.writeStream.format("memory").queryName("staged_diff")
      .outputMode("append").start()
    try {
      val rows = bids.as[(Long, Long, Double)].collect().toSeq
      input.addData(rows)
      query.processAllAvailable()
      val streamed = spark.table("staged_diff").collect()
        .map(r => r.getAs[Long]("l_suppkey") -> cmp.map(c => Option(r.getAs[Any](c))))
        .toMap
      assert(streamed.keySet == expected.keySet)
      // identical criterion expressions + identical frozen stats ->
      // bit-identical scores, same eliminations, null later-stage scores
      // for eliminated rows
      streamed.foreach { case (k, v) => assert(v == expected(k), s"supplier $k") }
      assert(streamed.values.exists(_.apply(5).isDefined),
        "fixture must actually eliminate someone at the threshold")
      assert(streamed.exists { case (_, v) => v(5).isDefined && v(4).isEmpty },
        "an eliminated row must have a null score for the stage it never reached")
    } finally query.stop()
  }

  test("scoreStagedStream: null criterion values stay active, like the batch engine") {
    implicit val sqlCtx = spark.sqlContext
    // pandas NaN-score rows fall through the threshold masks and stay
    // active ("neither advanced nor eliminated") — the null row must reach
    // stage 2 in BOTH engines
    val bids = Seq(
      (1L, Some(100.0), 10.0), (2L, Some(50.0), 20.0),
      (3L, None, 30.0), // null stage-1 input -> null score -> stays active
      (4L, Some(0.0), 40.0)
    ).toDF("id", "a", "b")
    val staged = new StagedEvaluator()
      .addStage("S1", filterType = "score_threshold", threshold = 40.0)
      .linear("a", 1.0)
      .addStage("S2")
      .linear("b", 1.0)
    val batchRes = staged.evaluateResult(bids)
    val cmp = Seq("s1_score", "s2_score", "eliminated_at_stage", "final_score")
    val expected = batchRes.df.collect()
      .map(r => r.getAs[Long]("id") -> cmp.map(c => Option(r.getAs[Any](c)))).toMap
    assert(expected(3L)(2).isEmpty, "null-input row must not be eliminated")
    assert(expected(3L)(1).isDefined, "null-input row must reach stage 2")
    assert(expected(4L)(2).contains("S1"), "score-0 row must fall to the threshold")

    val input = MemoryStream[(Long, Option[Double], Double)]
    val scored = StreamingEval.scoreStagedStream(
      input.toDF().toDF("id", "a", "b"), staged, batchRes.statistics)
    val query = scored.writeStream.format("memory").queryName("staged_diff_null")
      .outputMode("append").start()
    try {
      input.addData((1L, Some(100.0), 10.0), (2L, Some(50.0), 20.0),
        (3L, None, 30.0), (4L, Some(0.0), 40.0))
      query.processAllAvailable()
      val streamed = spark.table("staged_diff_null").collect()
        .map(r => r.getAs[Long]("id") -> cmp.map(c => Option(r.getAs[Any](c)))).toMap
      assert(streamed == expected)
    } finally query.stop()
  }

  test("scoreStagedStream: weighted-combination mode and top-N rejection") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.StageFilter
    val bids = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).cast("long").as("n_items"),
        sum("l_quantity").cast("double").as("total_qty"))

    val staged = new StagedEvaluator("weighted_combination")
      .addStage("A", Some(StageFilter.ScoreThreshold(30.0)), 2.0)
      .linear("total_qty", 1.0)
      .addStage("B", None, 1.0)
      .minRatio("n_items", 1.0)
    val batchRes = staged.evaluateResult(bids)
    val expected = batchRes.df.collect()
      .map(r => r.getAs[Long]("l_suppkey") ->
        (Option(r.getAs[Any]("final_score")), Option(r.getAs[Any]("eliminated_at_stage"))))
      .toMap

    val input = MemoryStream[(Long, Long, Double)]
    val scored = StreamingEval.scoreStagedStream(
      input.toDF().toDF("l_suppkey", "n_items", "total_qty"),
      staged, batchRes.statistics)
    val query = scored.writeStream.format("memory").queryName("staged_diff_w")
      .outputMode("append").start()
    try {
      input.addData(bids.as[(Long, Long, Double)].collect().toSeq)
      query.processAllAvailable()
      val streamed = spark.table("staged_diff_w").collect()
        .map(r => r.getAs[Long]("l_suppkey") ->
          (Option(r.getAs[Any]("final_score")), Option(r.getAs[Any]("eliminated_at_stage"))))
        .toMap
      assert(streamed == expected)
    } finally query.stop()

    // top-N filters are cohort-ranked: the streaming scorer must refuse
    val topN = new StagedEvaluator()
      .addStage("S", filterType = "top_n", topN = 10, onTie = "include")
      .linear("total_qty", 1.0)
      .addStage("F")
      .linear("n_items", 1.0)
    val e = intercept[IllegalArgumentException] {
      StreamingEval.scoreStagedStream(bids, topN, Map.empty)
    }
    assert(e.getMessage.contains("top-N"))
  }

  test("streaming dedup drops canonical duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val stream = input.toDF().toDF("ts", "text", "row_id")
    val deduped = StreamingEval.dedupStream(stream, "text")
    val query = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData(
        (t0, "hello world", 1L),
        (t0, "hello   world", 2L), // whitespace-canonical duplicate of 1
        (t0, "something else", 3L),
        (t0, "hello world", 4L))   // exact duplicate of 1
      query.processAllAvailable()
      val kept = spark.table("dedup_stream").collect()
        .map(_.getAs[Long]("row_id")).toSet
      assert(kept.contains(3L))
      assert(kept.intersect(Set(1L, 2L, 4L)).size == 1,
        s"exactly one of the canonical-duplicate trio survives, got $kept")
      assert(!spark.table("dedup_stream").columns.contains("__fp"))
    } finally query.stop()
  }

  test("streaming text cleaning matches batch cleaning (pure projection, no state)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val cleaned = graft.ops.TextCleaning.clean(stream, "text")
      .select(col("doc_id"), col("clean_text"),
        col("clean_text_pii.emails").as("n_emails"))
    val query = cleaned.writeStream.format("memory").queryName("clean_stream")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, "<div>mail a@b.co</div>"),
        (2L, "Copyright 2024 All rights reserved\nreal content line"),
        (3L, "range 2020-2024 call 555-123-4567"))
      input.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("clean_stream").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
      import spark.implicits._
      val batch = graft.ops.TextCleaning.clean(rows.toDF("doc_id", "text"), "text")
        .select(col("doc_id"), col("clean_text"),
          col("clean_text_pii.emails").as("n_emails"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
      // column-pure cleaning means stream and batch cannot drift
      assert(streamed == batch)
      assert(streamed(1L)._1 == "mail <EMAIL>")
      assert(streamed(3L)._1 == "range 2020-2024 call <PHONE>")
    } finally query.stop()
  }

  test("streaming BPE encode matches batch (pure projection with frozen merges)") {
    // the serving shape: merges train OFFLINE on the corpus, the stream
    // tokenizes each arriving document with the frozen merge list — a
    // stateless codegen'd projection, legal in any output mode
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq("the cat sat", "the cats eat", "low lower lowest").toDF("text")
    val merges = graft.ops.BpeTrain.train(corpus, "text", numMerges = 6)
    val pairs = merges.map(m => (m.left, m.right))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "word")
      .withColumn("toks", graft.expressions.BpeExpressions.bpeEncode(col("word"), pairs))
    val query = stream.writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    try {
      val rows = Seq((1L, "the"), (2L, "lowest"), (3L, "cats"))
      input.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("bpe_stream").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
      val batch = rows.toDF("doc_id", "word")
        .withColumn("toks", graft.expressions.BpeExpressions.bpeEncode(col("word"), pairs))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
      assert(streamed == batch)
      assert(streamed.values.forall(_.nonEmpty))
    } finally query.stop()
  }

  test("streaming image hashing matches batch (stateless mapPartitions decode)") {
    // media ingest shape: hash arriving payloads at the edge, persist the
    // 8-byte artifact; dedup against history is then a hash-only join
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.ImageCodecs
    def img(seed: Int): Array[Byte] = {
      val r2 = new scala.util.Random(seed)
      ImageCodecs.encodePpm(ImageCodecs.DecodedImage(16, 8,
        Array.fill(16 * 8 * 3)(r2.nextInt(256).toByte)))
    }
    val rows = Seq((1L, img(1)), (2L, img(2)), (3L, "junk".getBytes("UTF-8")))
    val input = MemoryStream[(Long, Array[Byte])]
    val hashed = graft.ops.Multimodal.imageHashes(
      input.toDF().toDF("doc_id", "payload"), "doc_id", "payload")
    val query = hashed.writeStream.format("memory").queryName("img_stream")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("img_stream").collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
      import spark.implicits._
      val batch = graft.ops.Multimodal.imageHashes(
        rows.toDF("doc_id", "payload"), "doc_id", "payload")
        .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
      assert(streamed == batch)
      assert(streamed(3L) == ((None, None)))
    } finally query.stop()
  }

  test("streaming image ingest: cross-batch dedup against the growing index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Dedup, ImageCodecs, Multimodal}
    def img(seed: Int): Array[Byte] = {
      val r2 = new scala.util.Random(seed)
      ImageCodecs.encodePpm(ImageCodecs.DecodedImage(16, 8,
        Array.fill(16 * 8 * 3)(r2.nextInt(256).toByte)))
    }
    val dir = tempDir("graft-img-ingest")
    val indexPath = s"$dir/index"
    import spark.implicits._
    // seed the standing index with image A (id 1)
    Multimodal.imageHashes(
        Seq((1L, img(1))).toDF("doc_id", "payload"), "doc_id", "payload")
      .write.parquet(indexPath)

    val input = MemoryStream[(Long, Array[Byte])]
    val query = graft.streaming.StreamingEval.imageIngestStream(
        input.toDF().toDF("doc_id", "payload"), "doc_id", "payload", indexPath)
      .start()
    try {
      // batch 1: a copy of A (reject), new image B (admit), junk (excluded)
      input.addData((10L, img(1)), (11L, img(2)), (12L, "junk".getBytes("UTF-8")))
      query.processAllAvailable()
      val after1 = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(after1 == Set(1L, 11L), s"batch 1 admissions wrong: $after1")
      // batch 2: a copy of B (MUST reject against batch 1's admission —
      // the cross-batch property), new image C (admit)
      input.addData((20L, img(2)), (21L, img(3)))
      query.processAllAvailable()
      val after2 = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(after2 == Set(1L, 11L, 21L), s"batch 2 admissions wrong: $after2")

      // differential: the streamed index equals a sequential BATCH replay
      // of incrementalImageDedup over the same two batches
      val idx0 = Multimodal.imageHashes(
        Seq((1L, img(1))).toDF("doc_id", "payload"), "doc_id", "payload")
      val b1 = Multimodal.imageHashes(
        Seq((10L, img(1)), (11L, img(2)), (12L, "junk".getBytes("UTF-8")))
          .toDF("doc_id", "payload"), "doc_id", "payload")
      val adm1 = Dedup.incrementalImageDedup(idx0, b1, "doc_id")
      val idx1 = idx0.unionByName(adm1)
      val b2 = Multimodal.imageHashes(
        Seq((20L, img(2)), (21L, img(3))).toDF("doc_id", "payload"),
        "doc_id", "payload")
      val adm2 = Dedup.incrementalImageDedup(idx1, b2, "doc_id")
      val replay = idx1.unionByName(adm2)
        .select("doc_id").as[Long].collect().toSet
      assert(after2 == replay, s"streamed $after2 != batch replay $replay")
    } finally query.stop()
  }

  test("streaming image ingest 256: same cross-batch property, gradient hash") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{ImageCodecs, Multimodal}
    def img(seed: Int): Array[Byte] = {
      val r2 = new scala.util.Random(seed + 100)
      ImageCodecs.encodePpm(ImageCodecs.DecodedImage(16, 8,
        Array.fill(16 * 8 * 3)(r2.nextInt(256).toByte)))
    }
    val dir = tempDir("graft-img-ingest256")
    val indexPath = s"$dir/index"
    import spark.implicits._
    Multimodal.imageHashes256(
        Seq((1L, img(1))).toDF("doc_id", "payload"), "doc_id", "payload")
      .write.parquet(indexPath)
    val input = MemoryStream[(Long, Array[Byte])]
    val query = graft.streaming.StreamingEval.imageIngestStream256(
        input.toDF().toDF("doc_id", "payload"), "doc_id", "payload", indexPath)
      .start()
    try {
      input.addData((10L, img(1)), (11L, img(2)))
      query.processAllAvailable()
      input.addData((20L, img(2)), (21L, img(3)))
      query.processAllAvailable()
      val ids = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 11L, 21L), s"256-bit streamed index wrong: $ids")
    } finally query.stop()
  }

  test("streaming sequence packing equals the batch pack of the arrival order") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingEval.{PackInput, PackOut}
    import spark.implicits._
    val input = MemoryStream[PackInput]
    val q = graft.streaming.StreamingEval.packingStream(input.toDS(), budget = 64L)
      .writeStream.format("memory").queryName("pack_stream")
      .outputMode("append").start()
    try {
      // batch 1 then batch 2: two shards, ragged docs incl. a zero-token
      // doc and a 100-token straddler
      val b1 = Seq(PackInput(0L, 1L, 30L, 1L), PackInput(0L, 2L, 40L, 2L),
        PackInput(1L, 3L, 100L, 1L), PackInput(1L, 4L, 0L, 2L))
      val b2 = Seq(PackInput(0L, 5L, 70L, 1L), PackInput(1L, 6L, 29L, 1L))
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("pack_stream").as[PackOut].collect()
        .map(p => (p.shard, p.doc_id) -> ((p.offset, p.chunk_first, p.chunk_last, p.n_chunks)))
        .toMap
      // batch replay: arrival order = (batch, ord, doc_id)
      val all = (b1.map(r => (r.shard, r.doc_id, r.n_tok, 1L * 1000 + r.ord)) ++
        b2.map(r => (r.shard, r.doc_id, r.n_tok, 2L * 1000 + r.ord)))
        .toDF("shard", "doc_id", "n_tok", "gord")
      val batch = graft.ops.Packing.sequencePacking(
        all, "doc_id", "n_tok", "shard", budget = 64L, orderCol = "gord")
        .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id")) ->
          ((r.getAs[Long]("offset"), r.getAs[Long]("chunk_first"),
            r.getAs[Long]("chunk_last"), r.getAs[Long]("n_chunks"))))
        .toMap
      assert(streamed == batch, s"streamed $streamed != batch $batch")
      // the cross-batch offset really carried: doc 5 starts at 70 (30+40)
      assert(streamed((0L, 5L))._1 == 70L)
      assert(streamed((1L, 6L))._1 == 100L)
    } finally q.stop()
  }

  test("streaming audio ingest: cross-batch dedup, re-leveled copies refused") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{AudioCodecs, Dedup, Multimodal}
    def wav(seed: Int, gain: Int = 1): Array[Byte] = {
      val r2 = new scala.util.Random(seed)
      // half headroom so a 2x re-level never clips -> identical fingerprint
      AudioCodecs.encodeWavPcm16(16000, 1,
        Array.fill(512)(((r2.nextInt(16000) - 8000) * gain).toShort))
    }
    val dir = tempDir("graft-audio-ingest")
    val indexPath = s"$dir/index"
    import spark.implicits._
    // standing index: clip A
    Multimodal.audioFingerprints(
        Seq((1L, wav(1))).toDF("doc_id", "payload"), "doc_id", "payload")
      .write.parquet(indexPath)
    val input = MemoryStream[(Long, Array[Byte])]
    val query = graft.streaming.StreamingEval.audioIngestStream(
        input.toDF().toDF("doc_id", "payload"), "doc_id", "payload", indexPath)
      .start()
    try {
      // batch 1: re-leveled copy of A (reject), fresh B (admit), junk (excluded)
      input.addData((10L, wav(1, gain = 2)), (11L, wav(2)), (12L, "junk".getBytes("UTF-8")))
      query.processAllAvailable()
      val after1 = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(after1 == Set(1L, 11L), s"batch 1 admissions wrong: $after1")
      // batch 2: copy of B (MUST reject against batch 1's admission), fresh C
      input.addData((20L, wav(2)), (21L, wav(3)))
      query.processAllAvailable()
      val after2 = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(after2 == Set(1L, 11L, 21L), s"batch 2 admissions wrong: $after2")
      // differential: equals the sequential batch replay of
      // incrementalAudioDedup over the same two batches
      val idx0 = Multimodal.audioFingerprints(
        Seq((1L, wav(1))).toDF("doc_id", "payload"), "doc_id", "payload")
      val b1 = Multimodal.audioFingerprints(
        Seq((10L, wav(1, gain = 2)), (11L, wav(2)), (12L, "junk".getBytes("UTF-8")))
          .toDF("doc_id", "payload"), "doc_id", "payload")
      val adm1 = Dedup.incrementalAudioDedup(idx0, b1, "doc_id")
      val idx1 = idx0.unionByName(adm1)
      val b2 = Multimodal.audioFingerprints(
        Seq((20L, wav(2)), (21L, wav(3))).toDF("doc_id", "payload"),
        "doc_id", "payload")
      val adm2 = Dedup.incrementalAudioDedup(idx1, b2, "doc_id")
      val replay = idx1.unionByName(adm2)
        .select("doc_id").as[Long].collect().toSet
      assert(after2 == replay, s"streamed $after2 != batch replay $replay")
      // replay idempotence at class level: re-running batch 2 against the
      // final index admits nothing (the at-least-once foreachBatch story)
      assert(Dedup.incrementalAudioDedup(
        spark.read.parquet(indexPath), b2, "doc_id").count() == 0)
    } finally query.stop()
  }

  test("streaming video ingest: cross-batch frame-set dedup, trimmed copies refused") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Dedup, ImageCodecs, Multimodal, VideoCodecs}
    def frame(seed: Int): ImageCodecs.DecodedImage = {
      val r2 = new scala.util.Random(seed + 500)
      ImageCodecs.DecodedImage(16, 12, Array.fill(16 * 12 * 3)(r2.nextInt(256).toByte))
    }
    // clip(s, n) = frames s..s+n-1: clip(0,4) vs clip(0,3) share 3 of 4
    def clip(start: Int, n: Int): Array[Byte] =
      VideoCodecs.encodeClip((start until start + n).map(frame))
    val dir = tempDir("graft-video-ingest")
    val indexPath = s"$dir/index"
    import spark.implicits._
    // standing index: clip A = frames 0..3
    Multimodal.videoFrameHashes(
        Seq((1L, clip(0, 4))).toDF("doc_id", "payload"), "doc_id", "payload")
      .write.parquet(indexPath)
    val input = MemoryStream[(Long, Array[Byte])]
    val query = graft.streaming.StreamingEval.videoIngestStream(
        input.toDF().toDF("doc_id", "payload"), "doc_id", "payload", indexPath)
      .start()
    try {
      // batch 1: trimmed copy of A (3/4 frames, jaccard 0.75 -> reject),
      // disjoint B = frames 10..13 (admit), junk (no frames, excluded)
      input.addData((10L, clip(0, 3)), (11L, clip(10, 4)), (12L, "junk".getBytes("UTF-8")))
      query.processAllAvailable()
      val after1 = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(after1 == Set(1L, 11L), s"batch 1 admissions wrong: $after1")
      // batch 2: near copy of B (MUST reject against batch 1's admission),
      // fresh C = frames 20..23 (admit)
      input.addData((20L, clip(10, 3)), (21L, clip(20, 4)))
      query.processAllAvailable()
      val after2 = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(after2 == Set(1L, 11L, 21L), s"batch 2 admissions wrong: $after2")
      // differential: equals the sequential batch replay
      val idx0 = Multimodal.videoFrameHashes(
        Seq((1L, clip(0, 4))).toDF("doc_id", "payload"), "doc_id", "payload")
      val b1 = Multimodal.videoFrameHashes(
        Seq((10L, clip(0, 3)), (11L, clip(10, 4)), (12L, "junk".getBytes("UTF-8")))
          .toDF("doc_id", "payload"), "doc_id", "payload")
      val adm1 = Dedup.incrementalVideoDedup(idx0, b1, "doc_id")
      val idx1 = idx0.unionByName(adm1)
      val b2 = Multimodal.videoFrameHashes(
        Seq((20L, clip(10, 3)), (21L, clip(20, 4))).toDF("doc_id", "payload"),
        "doc_id", "payload")
      val adm2 = Dedup.incrementalVideoDedup(idx1, b2, "doc_id")
      val replay = idx1.unionByName(adm2)
        .select("doc_id").as[Long].collect().toSet
      assert(after2 == replay, s"streamed $after2 != batch replay $replay")
      // replay idempotence: re-vetting batch 2 against the final index
      // admits nothing (clip 21's own frames are now in the index)
      assert(Dedup.incrementalVideoDedup(
        spark.read.parquet(indexPath), b2, "doc_id").count() == 0)
    } finally query.stop()
  }

  test("streaming text ingest: signature index grows, cross-batch near-dups reject") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different subject matter about spark query planning internals"
    val c = "yet another unrelated document concerning audio codecs and wave headers"
    val dir = tempDir("graft-txt-ingest")
    val indexPath = s"$dir/index"
    import spark.implicits._
    // standing index: document A's signature
    Dedup.polySignatures(Seq((1L, a)).toDF("doc_id", "text"), "text", "doc_id")
      .write.parquet(indexPath)
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.textIngestStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", indexPath)
      .start()
    try {
      // batch 1: a copy of A (reject), fresh B (admit)
      input.addData((10L, a), (11L, b))
      query.processAllAvailable()
      val after1 = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(after1 == Set(1L, 11L), s"batch 1 admissions wrong: $after1")
      // batch 2: a copy of B (MUST reject against batch 1's admission),
      // fresh C (admit)
      input.addData((20L, b), (21L, c))
      query.processAllAvailable()
      val after2 = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(after2 == Set(1L, 11L, 21L), s"batch 2 admissions wrong: $after2")
      // differential: equals the sequential batch replay over signatures
      val idx0 = Dedup.polySignatures(Seq((1L, a)).toDF("doc_id", "text"), "text", "doc_id")
      val s1 = Dedup.polySignatures(
        Seq((10L, a), (11L, b)).toDF("doc_id", "text"), "text", "doc_id")
      val adm1 = s1.join(
        Dedup.incrementalNearDupPairsFromSigs(idx0, s1, "doc_id")
          .select(col("new_id")).distinct(),
        s1("doc_id") === col("new_id"), "left_anti")
      val idx1 = idx0.unionByName(adm1)
      val s2 = Dedup.polySignatures(
        Seq((20L, b), (21L, c)).toDF("doc_id", "text"), "text", "doc_id")
      val adm2 = s2.join(
        Dedup.incrementalNearDupPairsFromSigs(idx1, s2, "doc_id")
          .select(col("new_id")).distinct(),
        s2("doc_id") === col("new_id"), "left_anti")
      val replay = idx1.unionByName(adm2).select("doc_id").as[Long].collect().toSet
      assert(after2 == replay, s"streamed $after2 != batch replay $replay")
    } finally query.stop()
  }

  test("ingest appends are exactly-once: retried batches no-op, crash points converge, every modality") {
    import graft.ops.{AudioCodecs, Dedup, ImageCodecs, Multimodal, VideoCodecs}
    import graft.streaming.StreamingEval
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    val dir = tempDir("graft-ingest-once")
    def dataFiles(p: String) = fs.listStatus(new Path(p)).count(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))

    // --- text modality: the full crash-point battery
    def doc(i: Int) = ('a' to 'l').map(c => s"w$i$c$i").mkString(" ")
    val idx = s"$dir/text"
    val hashFn = (b: org.apache.spark.sql.DataFrame) =>
      Dedup.polySignatures(b, "text", "doc_id", 16, 5)
    val dedupFn = (index: org.apache.spark.sql.DataFrame,
        sigs: org.apache.spark.sql.DataFrame) => {
      val hits = Dedup.incrementalNearDupPairsFromSigs(index, sigs, "doc_id", 0.5, 16, 4)
        .select(col("new_id")).distinct()
      sigs.join(hits, sigs("doc_id") === hits("new_id"), "left_anti")
    }
    val b0 = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    StreamingEval.ingestBatch(b0, 0L, idx, hashFn, dedupFn)
    def ids() = spark.read.parquet(idx).select("doc_id").as[Long].collect().toSet
    assert(ids() == Set(1L, 2L))
    val files0 = dataFiles(idx)
    // a RETRY of batch 0 must not add a row OR a file — exact counts,
    // not just class-level idempotence
    StreamingEval.ingestBatch(b0, 0L, idx, hashFn, dedupFn)
    assert(ids() == Set(1L, 2L) && spark.read.parquet(idx).count() == 2L)
    assert(dataFiles(idx) == files0, "a retried batch must not bloat the file set")
    // normal progress still works after the no-op
    StreamingEval.ingestBatch(
      Seq((3L, doc(1)), (4L, doc(3))).toDF("doc_id", "text"), 1L, idx,
      hashFn, dedupFn)
    assert(ids() == Set(1L, 2L, 4L))
    // an all-duplicates batch fences its tag with zero new rows, and its
    // retry no-ops
    StreamingEval.ingestBatch(
      Seq((5L, doc(2))).toDF("doc_id", "text"), 2L, idx, hashFn, dedupFn)
    assert(fs.exists(new Path(s"$idx/_batches/b2")))
    StreamingEval.ingestBatch(
      Seq((5L, doc(2))).toDF("doc_id", "text"), 2L, idx, hashFn, dedupFn)
    assert(ids() == Set(1L, 2L, 4L))
    // crash AFTER the marker: hand-stage batch 3 exactly as ingestBatch
    // does, mark it, "crash" — recovery must publish rows + fence once
    val staged = hashFn(Seq((6L, doc(6))).toDF("doc_id", "text"))
    val staging = IndexCommit.stagingDir(idx)
    staged.write.mode("overwrite")
      .parquet(IndexCommit.stagedPath(idx, IndexCommit.Root))
    fs.create(new Path(s"$staging/_batches/b3"), true).close()
    IndexCommit.writeMarker(fs, new Path(idx),
      Seq("merge" -> IndexCommit.Root, "merge" -> "_batches"))
    assert(IndexCommit.recover(spark, idx), "marked stage must replay")
    assert(ids() == Set(1L, 2L, 4L, 6L))
    assert(fs.exists(new Path(s"$idx/_batches/b3")))
    assert(!fs.exists(new Path(staging)))
    // the retry of the recovered batch no-ops
    StreamingEval.ingestBatch(
      Seq((6L, doc(6))).toDF("doc_id", "text"), 3L, idx, hashFn, dedupFn)
    assert(spark.read.parquet(idx).count() == 4L)
    // crash BEFORE the marker: an unmarked stage is discarded untouched
    hashFn(Seq((7L, doc(7))).toDF("doc_id", "text"))
      .write.mode("overwrite")
      .parquet(IndexCommit.stagedPath(idx, IndexCommit.Root))
    assert(!IndexCommit.recover(spark, idx))
    assert(!fs.exists(new Path(staging)) && ids() == Set(1L, 2L, 4L, 6L))
    // fence compaction: batches 0..3 fold to ONE range summary; old and
    // new tags keep fencing; a fresh batch commits and a re-fold merges
    // the summary with the new fences
    assert(fs.listStatus(new Path(s"$idx/_batches")).length == 4)
    IndexCommit.compactTags(spark, idx)
    assert(fs.listStatus(new Path(s"$idx/_batches")).length == 1, "fences must fold")
    StreamingEval.ingestBatch(
      Seq((8L, doc(2))).toDF("doc_id", "text"), 2L, idx, hashFn, dedupFn)
    assert(ids() == Set(1L, 2L, 4L, 6L), "a folded tag must keep fencing")
    StreamingEval.ingestBatch(
      Seq((8L, doc(8))).toDF("doc_id", "text"), 4L, idx, hashFn, dedupFn)
    assert(ids() == Set(1L, 2L, 4L, 6L, 8L))
    IndexCommit.compactTags(spark, idx)
    assert(fs.listStatus(new Path(s"$idx/_batches")).length == 1)
    assert(fs.exists(new Path(s"$idx/_batches/range_0_4")))
    // a GAP in the committed ids: strict singleRange refuses loudly
    // (folding ONE range over it would claim the missing batch
    // committed and its retry would silently lose data); the default
    // folds per contiguous run — one range per side of the gap, the
    // gap itself stays unfenced
    val gappy = s"$dir/gaptags"
    fs.mkdirs(new Path(s"$gappy/_batches"))
    Seq(0L, 1L, 3L).foreach(i =>
      fs.create(new Path(s"$gappy/_batches/b$i"), true).close())
    val eGap = intercept[IllegalStateException] {
      IndexCommit.compactTags(spark, gappy, singleRange = true)
    }
    assert(eGap.getMessage.contains("jump"), eGap.getMessage)
    IndexCommit.compactTags(spark, gappy)
    assert(fs.exists(new Path(s"$gappy/_batches/range_0_1")) &&
      fs.exists(new Path(s"$gappy/_batches/range_3_3")) &&
      fs.listStatus(new Path(s"$gappy/_batches")).length == 2,
      "a gappy history must fold to one range per contiguous run")
    // fencing across the gap-tolerant fold: committed ids fence, the
    // gap id does NOT (its retry must still run)
    assert(IndexCommit.tagCommitted(spark, gappy, 1L))
    assert(IndexCommit.tagCommitted(spark, gappy, 3L))
    assert(!IndexCommit.tagCommitted(spark, gappy, 2L),
      "the gap batch must stay unfenced after the fold")
    // the gap closes later -> a re-fold merges everything to one range
    fs.create(new Path(s"$gappy/_batches/b2"), true).close()
    IndexCommit.compactTags(spark, gappy)
    assert(fs.exists(new Path(s"$gappy/_batches/range_0_3")) &&
      fs.listStatus(new Path(s"$gappy/_batches")).length == 1,
      "a closed gap must re-fold to one covering range")
    // a stray unparseable range_* file must neither brick the fence
    // probe nor be mistaken for a summary
    fs.create(new Path(s"$gappy/_batches/range_tmp_x"), true).close()
    assert(IndexCommit.tagCommitted(spark, gappy, 2L))
    assert(!IndexCommit.tagCommitted(spark, gappy, 9L))
    IndexCommit.compactTags(spark, gappy)
    assert(!fs.exists(new Path(s"$gappy/_batches/range_tmp_x")),
      "a re-fold sweeps stray files (their names fence nothing)")
    assert(IndexCommit.tagCommitted(spark, gappy, 3L))

    // --- image / audio / video: the shared fence through each modality's
    // hash + vet functions (one batch, then its retry)
    def img(seed: Int): Array[Byte] = {
      val r2 = new scala.util.Random(seed)
      ImageCodecs.encodePpm(ImageCodecs.DecodedImage(16, 8,
        Array.fill(16 * 8 * 3)(r2.nextInt(256).toByte)))
    }
    def wav(seed: Int): Array[Byte] = {
      val r2 = new scala.util.Random(seed)
      AudioCodecs.encodeWavPcm16(16000, 1,
        Array.fill(512)((r2.nextInt(16000) - 8000).toShort))
    }
    def clip(seed: Int): Array[Byte] =
      VideoCodecs.encodeClip((0 until 4).map { f =>
        val r2 = new scala.util.Random(seed * 10 + f)
        ImageCodecs.DecodedImage(16, 12, Array.fill(16 * 12 * 3)(r2.nextInt(256).toByte))
      })
    val modalities = Seq[(String, Array[Byte],
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)](
      ("image", img(1), Multimodal.imageHashes(_, "doc_id", "payload"),
        Dedup.incrementalImageDedup(_, _, "doc_id", 3)),
      ("audio", wav(1), Multimodal.audioFingerprints(_, "doc_id", "payload"),
        Dedup.incrementalAudioDedup(_, _, "doc_id", 3)),
      ("video", clip(1), Multimodal.videoFrameHashes(_, "doc_id", "payload"),
        Dedup.incrementalVideoDedup(_, _, "doc_id", 0.5)))
    for ((name, payload, hf, df) <- modalities) {
      val p = s"$dir/$name"
      val b = Seq((1L, payload)).toDF("doc_id", "payload")
      StreamingEval.ingestBatch(b, 0L, p, hf, df)
      val n0 = spark.read.parquet(p).count()
      val f0 = dataFiles(p)
      assert(n0 > 0, s"$name: first batch must admit")
      StreamingEval.ingestBatch(b, 0L, p, hf, df)
      assert(spark.read.parquet(p).count() == n0,
        s"$name: a retried batch must not duplicate rows")
      assert(dataFiles(p) == f0, s"$name: a retried batch must not add files")
    }
  }

  test("flat ingest-index compaction: append-heavy stream, then one file-set, bit-identical vetting") {
    // the BM25/IVF/span compaction pin for the FLAT indexes:
    // removeFromIngestIndex doubles as the compaction point (even with
    // nothing to remove), so a long append-heavy ingest stream must
    // fold to a bounded file listing and serve bit-identically after
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    def doc(i: Int) = ('a' to 'l').map(c => s"w$i$c$i").mkString(" ")
    val dir = tempDir("graft-ingest-compact")
    val indexPath = s"$dir/index"
    import spark.implicits._
    Dedup.polySignatures(Seq((0L, doc(0))).toDF("doc_id", "text"), "text", "doc_id")
      .write.parquet(indexPath)
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.textIngestStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", indexPath)
      .start()
    try {
      // 8 micro-batches of fresh docs: each admission appends a file-set
      (1 to 8).foreach { i =>
        input.addData((i.toLong, doc(i)))
        query.processAllAvailable()
      }
    } finally query.stop()
    def files(p: String) = new java.io.File(p).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    def rows(p: String) = spark.read.parquet(p)
      .collect().map(_.toSeq).toSet
    val filesBefore = files(indexPath)
    val rowsBefore = rows(indexPath)
    assert(rowsBefore.map(_.head) == (0L to 8L).map(x => x: Any).toSet)
    assert(filesBefore >= 9, s"append-heavy stream should litter files, saw $filesBefore")
    // compaction = takedown with nothing to remove (stream stopped — the
    // one-writer contract)
    graft.streaming.StreamingEval.removeFromIngestIndex(
      spark, indexPath, Seq.empty[Long].toDF("doc_id"), "doc_id")
    assert(rows(indexPath) == rowsBefore, "compaction must not change content")
    assert(files(indexPath) < filesBefore,
      s"compaction must bound the listing: $filesBefore -> ${files(indexPath)}")
    // the compacted index keeps vetting bit-identically: a NEW stream
    // incarnation (fresh checkpoint — batch ids restart at 0) rejects a
    // copy of an old admission, admits a fresh doc. Clearing the old
    // incarnation's exactly-once fences is the documented preamble;
    // without it the new stream's batch 0 would find the old tag and
    // silently no-op.
    graft.ops.IndexCommit.clearTags(spark, indexPath)
    val input2 = MemoryStream[(Long, String)]
    val query2 = graft.streaming.StreamingEval.textIngestStream(
        input2.toDF().toDF("doc_id", "text"), "text", "doc_id", indexPath)
      .start()
    try {
      input2.addData((100L, doc(3)), (101L, doc(99)))
      query2.processAllAvailable()
      val after = spark.read.parquet(indexPath)
        .select("doc_id").as[Long].collect().toSet
      assert(after == (0L to 8L).toSet + 101L,
        s"compacted index must keep rejecting dups: $after")
    } finally query2.stop()
  }

  test("streaming shard export: batches roll into the delivery exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.io.Layout
    import spark.implicits._
    val out = tempDir("graft-export-stream")
    // seed the standing export (the routing recipe lives in its manifest)
    Layout.writeShardsWithManifest(
      (1L to 50L).map(i => (i, s"p-$i")).toDF("id", "payload"),
      "id", out, numShards = 4, salt = "s")
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.exportStream(
        input.toDF().toDF("id", "payload"), out)
      .start()
    try {
      input.addData((51L to 70L).map(i => (i, s"p-$i")): _*)
      query.processAllAvailable()
      input.addData((71L to 90L).map(i => (i, s"p-$i")): _*)
      query.processAllAvailable()
    } finally query.stop()
    // streamed delivery ≡ write-once over the union
    val ref = tempDir("graft-export-ref")
    Layout.writeShardsWithManifest(
      (1L to 90L).map(i => (i, s"p-$i")).toDF("id", "payload"),
      "id", ref, numShards = 4, salt = "s")
    def manifest(p: String) = spark.read.parquet(s"$p/manifest")
      .select("shard", "n_rows", "id_checksum").collect().map(_.toSeq).toSet
    assert(manifest(out) == manifest(ref))
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
    // a replayed micro-batch (same tag) no-ops — the crash-retry shape
    Layout.appendShardsWithManifest(
      (71L to 90L).map(i => (i, s"p-$i")).toDF("id", "payload"),
      out, batchTag = Some(1L))
    assert(manifest(out) == manifest(ref), "a retried batch must not double-count")
    // a NEW tag appends normally
    Layout.appendShardsWithManifest(
      (91L to 95L).map(i => (i, s"p-$i")).toDF("id", "payload"),
      out, batchTag = Some(2L))
    assert(spark.read.parquet(s"$out/data").count() == 95L)
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
    // an EMPTY increment (idle micro-batch tick) is a clean no-op
    Layout.appendShardsWithManifest(
      Seq.empty[(Long, String)].toDF("id", "payload"), out, batchTag = Some(3L))
    assert(spark.read.parquet(s"$out/data").count() == 95L)
    assert(manifest(out).map(_.head).size == 4)
    assert(Layout.verifyShards(spark, out).collect().forall(_.getAs[Boolean]("ok")))
  }

  test("streaming bm25 indexing: batches commit exactly once, serving equals save-once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Retrieval
    import spark.implicits._
    val d1 = Seq((1L, "spark shuffles data between stages"),
      (2L, "broadcast joins avoid the shuffle"))
    val d2 = Seq((3L, "shuffle partitions size the reducers"),
      (4L, "catalyst prunes columns and partitions"))
    val idx = tempDir("graft-bm25-stream")
    // seed over the empty corpus: the index exists, then batches flow in
    Retrieval.saveBm25Index(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", idx, numBuckets = 8)
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.bm25IndexStream(
        input.toDF().toDF("doc_id", "text"), "text", idx)
      .start()
    try {
      input.addData(d1: _*); query.processAllAvailable()
      input.addData(d2: _*); query.processAllAvailable()
    } finally query.stop()
    val want = tempDir("graft-bm25-once")
    Retrieval.saveBm25Index((d1 ++ d2).toDF("doc_id", "text"),
      "doc_id", "text", want, numBuckets = 8)
    def serve(p: String) = Retrieval.bm25SearchPreindexed(spark, p,
        Seq((1L, "shuffle partitions"), (2L, "broadcast data")).toDF("qid", "qtext"),
        "qid", "qtext", topK = 5)
      .collect().map(_.toSeq).toSet
    assert(serve(idx) == serve(want),
      "streamed index must serve exactly like the save-once build")
    // a crash-retried batch (same tag) must not inflate df/stats
    val statsBefore = spark.read.parquet(s"$idx/stats").collect().map(_.toSeq).toSet
    Retrieval.appendToBm25Index(d2.toDF("doc_id", "text"), "text", idx,
      batchTag = Some(1L))
    assert(spark.read.parquet(s"$idx/stats").collect().map(_.toSeq).toSet ==
      statsBefore, "replayed tag must no-op")
    assert(serve(idx) == serve(want))
    // compaction folds the per-batch tag files to one and the tags
    // KEEP fencing (same rows, one file)
    def tagFiles() = new java.io.File(s"$idx/_batches").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("."))
    assert(tagFiles() >= 2, "two streamed batches leave two tag files")
    Retrieval.compactBm25Index(spark, idx)
    assert(tagFiles() == 1, "compaction must fold the tag table")
    assert(serve(idx) == serve(want), "compaction is serving-invariant")
    Retrieval.appendToBm25Index(d1.toDF("doc_id", "text"), "text", idx,
      batchTag = Some(0L))
    assert(spark.read.parquet(s"$idx/stats").collect().map(_.toSeq).toSet ==
      statsBefore, "tags must fence across compaction")
  }

  test("streaming POSITIONAL indexing: appended batches keep phrase serving exact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Retrieval
    import spark.implicits._
    val d1 = Seq((1L, "spark shuffles data between stages"),
      (2L, "broadcast joins avoid the shuffle"))
    val d2 = Seq((3L, "the shuffle partitions size the reducers"),
      (4L, "catalyst prunes columns and the shuffle partitions"))
    val idx = tempDir("graft-pos-stream")
    // seed a POSITIONAL index over the empty corpus; the stats flag
    // makes every streamed append derive positional increments
    Retrieval.saveBm25Index(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", idx, numBuckets = 8, withPositions = true)
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.bm25IndexStream(
        input.toDF().toDF("doc_id", "text"), "text", idx)
      .start()
    try {
      input.addData(d1: _*); query.processAllAvailable()
      input.addData(d2: _*); query.processAllAvailable()
    } finally query.stop()
    val phrases = Seq((10L, "shuffle partitions"), (11L, "the shuffle"))
      .toDF("pid", "phrase")
    val streamed = Retrieval.phraseSearchPreindexed(spark, idx, phrases,
      "pid", "phrase").collect().map(_.toSeq).toSet
    val adhoc = Retrieval.phraseSearch((d1 ++ d2).toDF("doc_id", "text"),
      "doc_id", "text", phrases, "pid", "phrase").collect().map(_.toSeq).toSet
    assert(streamed == adhoc, s"streamed $streamed != adhoc $adhoc")
    assert(streamed.nonEmpty)
  }

  test("streaming FUSED bm25+forward: batches advance both artifacts, served PRF equals fused save-once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Retrieval
    import spark.implicits._
    val d1 = Seq((1L, "spark shuffles data between stages"),
      (2L, "broadcast joins avoid the shuffle"))
    val d2 = Seq((3L, "shuffle partitions size the reducers"),
      (4L, "catalyst prunes columns and partitions"))
    val idx = tempDir("graft-fused-stream")
    Retrieval.saveBm25WithForward(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", idx, numBuckets = 8)
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.bm25WithForwardStream(
        input.toDF().toDF("doc_id", "text"), "text", idx)
      .start()
    try {
      input.addData(d1: _*); query.processAllAvailable()
      input.addData(d2: _*); query.processAllAvailable()
    } finally query.stop()
    val want = tempDir("graft-fused-once")
    Retrieval.saveBm25WithForward((d1 ++ d2).toDF("doc_id", "text"),
      "doc_id", "text", want, numBuckets = 8)
    def servePrf(p: String) = Retrieval.bm25SearchPrfPreindexed(spark, p,
        Retrieval.bm25ForwardPathFor(p),
        Seq((1L, "shuffle partitions"), (2L, "broadcast data")).toDF("qid", "qtext"),
        "qid", "qtext", topK = 5, fbDocs = 2, fbTerms = 2)
      .collect().map(_.toSeq).toSet
    assert(servePrf(idx) == servePrf(want),
      "streamed fused family must serve PRF exactly like the fused save-once")
    // a crash-retried batch (same tag) no-ops BOTH artifacts
    val statsBefore = spark.read.parquet(s"$idx/stats").collect().map(_.toSeq).toSet
    val fwdBefore = spark.read
      .parquet(s"${Retrieval.bm25ForwardPathFor(idx)}/stats")
      .collect().map(_.toSeq).toSet
    Retrieval.appendToBm25WithForward(d2.toDF("doc_id", "text"), "text", idx,
      batchTag = Some(1L))
    assert(spark.read.parquet(s"$idx/stats").collect().map(_.toSeq).toSet ==
      statsBefore, "replayed tag must no-op the index")
    assert(spark.read.parquet(s"${Retrieval.bm25ForwardPathFor(idx)}/stats")
      .collect().map(_.toSeq).toSet == fwdBefore,
      "replayed tag must no-op the sidecar too (one fence covers the pair)")
    assert(servePrf(idx) == servePrf(want))
  }

  test("streaming chunk ingest with forward: served chunk-grain PRF equals fused rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Retrieval
    import spark.implicits._
    def doc(i: Int) = (0 until 12).map(j => s"w${i}t$j token$i$j data").mkString(" ")
    val d1 = Seq((1L, doc(1)), (2L, doc(2)))
    val d2 = Seq((3L, doc(3)))
    def chunksOf(ds: Seq[(Long, String)]) = Retrieval.chunkText(
        ds.toDF("doc_id", "text"), "doc_id", "text", chunkSize = 40, overlap = 10)
      .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
    val idx = tempDir("graft-chunk-fwd")
    Retrieval.saveBm25WithForward(Seq.empty[(Long, String)].toDF("cid", "chunk"),
      "cid", "chunk", idx, numBuckets = 8)
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.chunkStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", idx,
        chunkSize = 40, overlap = 10, withForward = true)
      .start()
    try {
      input.addData(d1: _*); query.processAllAvailable()
      input.addData(d2: _*); query.processAllAvailable()
    } finally query.stop()
    val want = tempDir("graft-chunk-fwd-once")
    Retrieval.saveBm25WithForward(chunksOf(d1 ++ d2), "cid", "chunk", want,
      numBuckets = 8)
    def servePrf(p: String) = Retrieval.bm25SearchPrfPreindexed(spark, p,
        Retrieval.bm25ForwardPathFor(p),
        Seq((1L, "token1 data"), (2L, "token3 w3t0")).toDF("qid", "qtext"),
        "qid", "qtext", topK = 5, fbDocs = 2, fbTerms = 2)
      .collect().map(_.toSeq).toSet
    assert(servePrf(idx) == servePrf(want),
      "streamed chunk family must serve chunk-grain PRF like the fused rebuild")
  }

  test("streaming chunk ingest: doc batches chunk+index exactly once, serve equals rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Retrieval
    import spark.implicits._
    // docs long enough to chunk into several 40-char windows
    def doc(i: Int) = (0 until 12).map(j => s"w${i}t$j token$i$j data").mkString(" ")
    val d1 = Seq((1L, doc(1)), (2L, doc(2)))
    val d2 = Seq((3L, doc(3)))
    def chunksOf(ds: Seq[(Long, String)]) = Retrieval.chunkText(
        ds.toDF("doc_id", "text"), "doc_id", "text", chunkSize = 40, overlap = 10)
      .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
    val idx = tempDir("graft-chunk-stream")
    Retrieval.saveBm25Index(Seq.empty[(Long, String)].toDF("cid", "chunk"),
      "cid", "chunk", idx, numBuckets = 8)
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.chunkStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", idx,
        chunkSize = 40, overlap = 10)
      .start()
    try {
      input.addData(d1: _*); query.processAllAvailable()
      input.addData(d2: _*); query.processAllAvailable()
    } finally query.stop()
    // serve ≡ a save-once chunk index over the union
    val want = tempDir("graft-chunk-once")
    Retrieval.saveBm25Index(chunksOf(d1 ++ d2), "cid", "chunk", want, numBuckets = 8)
    def serve(p: String) = Retrieval.bm25SearchPreindexed(spark, p,
        Seq((1L, "token1 data"), (2L, "token3 w3t0")).toDF("qid", "qtext"),
        "qid", "qtext", topK = 5)
      .collect().map(_.toSeq).toSet
    assert(serve(idx) == serve(want),
      "streamed chunk index must serve exactly like the save-once build")
    // a crash-retried DOC batch (same tag) must not double-index chunks
    val statsBefore = spark.read.parquet(s"$idx/stats").collect().map(_.toSeq).toSet
    graft.ops.Retrieval.appendToBm25Index(chunksOf(d2), "chunk", idx,
      batchTag = Some(1L))
    assert(spark.read.parquet(s"$idx/stats").collect().map(_.toSeq).toSet ==
      statsBefore, "replayed doc batch must no-op")
    assert(serve(idx) == serve(want))
    // doc takedown at chunk grain stays available: removing doc 2's cid
    // set leaves the index ≡ rebuild without the doc
    Retrieval.removeFromBm25Index(chunksOf(d1.filter(_._1 == 2L)).select("cid"), idx)
    val want2 = tempDir("graft-chunk-rm")
    Retrieval.saveBm25Index(chunksOf(d1.filter(_._1 == 1L) ++ d2),
      "cid", "chunk", want2, numBuckets = 8)
    assert(serve(idx) == serve(want2), "doc takedown must equal the rebuild")
    // a doc blowing the cid ceiling refuses loudly
    val tiny = tempDir("graft-chunk-ceil")
    Retrieval.saveBm25Index(Seq.empty[(Long, String)].toDF("cid", "chunk"),
      "cid", "chunk", tiny, numBuckets = 4)
    val input2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.StreamingEval.chunkStream(
        input2.toDF().toDF("doc_id", "text"), "text", "doc_id", tiny,
        chunkSize = 40, overlap = 10, maxChunksPerDoc = 3)
      .start()
    try {
      input2.addData((9L, doc(9)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("maxChunksPerDoc") ||
        Option(e.getCause).exists(_.getMessage.contains("maxChunksPerDoc")),
        e.getMessage)
    } finally q2.stop()
  }

  test("chunkStream id discipline: non-numeric and out-of-range doc ids refuse loudly") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Retrieval
    import spark.implicits._
    def failsWith(needle: String)(feed: MemoryStream[(String, String)] => Unit,
        maxChunks: Int = 1000): Unit = {
      val idx = tempDir("graft-chunk-id")
      Retrieval.saveBm25Index(Seq.empty[(Long, String)].toDF("cid", "chunk"),
        "cid", "chunk", idx, numBuckets = 4)
      val input = MemoryStream[(String, String)]
      val q = graft.streaming.StreamingEval.chunkStream(
          input.toDF().toDF("doc_id", "text"), "text", "doc_id", idx,
          chunkSize = 40, overlap = 10, maxChunksPerDoc = maxChunks)
        .start()
      try {
        feed(input)
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        def hit(t: Throwable): Boolean = t != null &&
          (Option(t.getMessage).exists(_.contains(needle)) || hit(t.getCause))
        assert(hit(e), s"expected '$needle' in: ${e.getMessage}")
      } finally q.stop()
    }
    // a UUID-keyed stream must refuse with the surrogate-id pointer,
    // not cast to null and silently corrupt the chunk index
    failsWith("Ids.withSurrogateId")(
      _.addData(("3f1b-not-a-number", "some document text here")))
    // an id past (Long.MaxValue − (max−1)) / max would overflow the
    // LAST chunk's cid into another document's span — refuse past the
    // boundary
    val maxId = (Long.MaxValue - 999) / 1000
    failsWith("must be in [0,")(
      _.addData(((maxId + 1).toString, "boundary doc text")))
    // negative ids alias the cid space the same way
    failsWith("must be in [0,")(_.addData(("-5", "negative id doc text")))
    // the boundary itself is legal: every chunk cid of id == maxId fits
    val okIdx = tempDir("graft-chunk-ok")
    Retrieval.saveBm25Index(Seq.empty[(Long, String)].toDF("cid", "chunk"),
      "cid", "chunk", okIdx, numBuckets = 4)
    val okIn = MemoryStream[(String, String)]
    val okQ = graft.streaming.StreamingEval.chunkStream(
        okIn.toDF().toDF("doc_id", "text"), "text", "doc_id", okIdx,
        chunkSize = 40, overlap = 10, maxChunksPerDoc = 1000)
      .start()
    try {
      okIn.addData((maxId.toString, "tiny"))
      okQ.processAllAvailable()
    } finally okQ.stop()
    assert(spark.read.parquet(s"$okIdx/stats").head().getAs[Long]("__n") == 1L,
      "the boundary id itself must index")
  }

  test("streaming ivf indexing: batches commit exactly once, corpus equals save-once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Similarity
    import spark.implicits._
    def vec(seed: Int) = Array.tabulate(4)(i => ((seed * 31 + i * 7) % 10).toFloat)
    val seedCorpus = (1L to 8L).map(i => (i, vec(i.toInt).toSeq))
    val b1 = (9L to 12L).map(i => (i, vec(i.toInt).toSeq))
    val b2 = (13L to 16L).map(i => (i, vec(i.toInt).toSeq))
    val idx = tempDir("graft-ivf-stream")
    val cents = Similarity.trainIvfCentroids(
      seedCorpus.toDF("vec_id", "embedding"), "embedding", nLists = 2)
    Similarity.saveIvfIndex(seedCorpus.toDF("vec_id", "embedding"), cents, idx)
    val input = MemoryStream[(Long, Seq[Float])]
    val query = graft.streaming.StreamingEval.ivfIndexStream(
        input.toDF().toDF("vec_id", "embedding"), idx)
      .start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
    } finally query.stop()
    val want = tempDir("graft-ivf-once")
    Similarity.saveIvfIndex((seedCorpus ++ b1 ++ b2).toDF("vec_id", "embedding"),
      cents, want)
    def corpus(p: String) = spark.read.parquet(s"$p/corpus")
      .select(col("vec_id"), col("list_id").cast("long")).collect()
      .map(_.toSeq).toSet
    assert(corpus(idx) == corpus(want),
      "streamed IVF corpus must equal the save-once build")
    // replayed tag no-ops
    Similarity.appendToIvfIndex(b2.toDF("vec_id", "embedding"), idx,
      batchTag = Some(1L))
    assert(corpus(idx) == corpus(want))
  }

  test("streaming audio fingerprinting matches batch (stateless decode)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.AudioCodecs
    def wav(seed: Int): Array[Byte] = {
      val r2 = new scala.util.Random(seed)
      AudioCodecs.encodeWavPcm16(16000, 1,
        Array.fill(512)((r2.nextInt(4096) - 2048).toShort))
    }
    val rows = Seq((1L, wav(1)), (2L, wav(2)), (3L, "junk".getBytes("UTF-8")))
    val input = MemoryStream[(Long, Array[Byte])]
    val fps = graft.ops.Multimodal.audioFingerprints(
      input.toDF().toDF("doc_id", "payload"), "doc_id", "payload")
    val query = fps.writeStream.format("memory").queryName("afp_stream")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("afp_stream").collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
      import spark.implicits._
      val batch = graft.ops.Multimodal.audioFingerprints(
        rows.toDF("doc_id", "payload"), "doc_id", "payload")
        .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
      assert(streamed == batch)
      assert(streamed(3L) == ((None, None)))
    } finally query.stop()
  }

  test("streaming gopher gate matches the batch filter (stateless, no helper cols)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val cfg = graft.ops.QualityRules.GopherConfig(minWords = 3, minStopwordHits = 1)
    val gated = graft.ops.QualityRules.gopherFilter(stream, "text", cfg)
    val query = gated.writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, "the cat sat near the mat"), // awl exactly 3.0 (inclusive bound)
        (2L, "zz"),                    // word count
        (3L, "the 111 222 333 444"))   // alpha fraction
      input.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("gopher_stream")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      import spark.implicits._
      val batch = graft.ops.QualityRules
        .gopherFilter(rows.toDF("doc_id", "text"), "text", cfg)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed == batch)
      assert(streamed == Set(1L))
    } finally query.stop()
  }

  // ---- differential: stream-replay the real events table and compare
  // ---- with the batch formulations the oracle queries already pin

  test("streaming sessionize matches batch sessionization on replayed events") {
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 1800L * 1000000L

    val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"), col("value"))

    // batch ground truth — the q33_sessionize construction
    val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
    val batchSessions = ev
      .withColumn("prev_us", lag("us", 1).over(wOrd))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > lit(gapUs), 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("us").as("start_us"), max("us").as("end_us"),
        count(lit(1)).as("n_events"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
      .toSet

    val events = ev
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("us")).as("ts"), col("value"))
      .as[SessionEvent].collect().toSeq
    val maxUs = events.map(e => e.ts.getTime * 1000L).max

    val input = MemoryStream[SessionEvent]
    val sessions = StreamingEval.sessionize(input.toDS(), gapUs = gapUs)
    val query = sessions.writeStream.format("memory").queryName("diff_sess")
      .outputMode("append").start()
    try {
      input.addData(events)
      query.processAllAvailable()
      // two sentinel batches: the first advances the watermark past every
      // last-event+gap, the second runs a batch under that watermark so the
      // EventTimeTimeout fires and flushes all open sessions
      def sentinel(id: Long, offsetUs: Long) = SessionEvent(-1L, id,
        new Timestamp((maxUs + offsetUs) / 1000L), 0.0)
      input.addData(sentinel(-1L, gapUs + 2L * 3600L * 1000000L))
      query.processAllAvailable()
      input.addData(sentinel(-2L, gapUs + 4L * 3600L * 1000000L))
      query.processAllAvailable()

      val streamed = spark.table("diff_sess").as[SessionOut].collect()
        .filter(_.user_id >= 0L)
        .map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events))
        .toSet
      assert(streamed == batchSessions,
        s"stream ${streamed.size} vs batch ${batchSessions.size} sessions; " +
          s"missing=${(batchSessions -- streamed).take(3)} extra=${(streamed -- batchSessions).take(3)}")
    } finally query.stop()
  }

  test("streaming windowed stats match batch hourly aggregation on replayed events") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select(timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"), col("value"))

    // batch ground truth — the q51_event_windows construction
    val batch = ev
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / lit(3600)) * lit(3600)).as("hour_start_s"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_start_s")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sv")))
      .toMap

    val rows = ev.as[(Timestamp, String, Double)].collect().toSeq
    val input = MemoryStream[(Timestamp, String, Double)]
    val windowed = StreamingEval.windowedEventStats(
      input.toDF().toDF("ts", "event_type", "value"), windowLen = "1 hour")
    val query = windowed.writeStream.format("memory").queryName("diff_win")
      .outputMode("complete").start()
    try {
      // single batch: nothing is late, so the watermark drops no rows and
      // complete mode holds exactly the batch aggregation
      input.addData(rows)
      query.processAllAvailable()
      val streamed = spark.table("diff_win")
        .select(col("event_type"), col("window.start").cast("long").as("s"),
          col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("s")) ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        .toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, (n, sv)) =>
        assert(n == batch(k)._1, s"count mismatch at $k")
        assert(math.abs(sv - batch(k)._2) <= 1e-6 * math.max(1.0, math.abs(sv)),
          s"sum mismatch at $k: $sv vs ${batch(k)._2}")
      }
    } finally query.stop()
  }

  test("streaming latest-wins compaction converges to the batch latestByKey") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamingEval.SessionEvent]
    val out = StreamingEval.latestStream(input.toDS())
    val query = out.writeStream.format("memory").queryName("latest_stream")
      .outputMode("update").start()
    try {
      def ev(uid: Long, eid: Long, sec: Int, v: Double) =
        StreamingEval.SessionEvent(uid, eid,
          Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"), v)
      // batch 1: u1 gets two versions (later wins), u2 one
      input.addData(ev(1L, 10L, 5, 1.0), ev(1L, 11L, 9, 2.0), ev(2L, 20L, 3, 7.0))
      query.processAllAvailable()
      // batch 2: u1 a STALE update (must not win), u2 a same-ts tie
      // (larger event_id wins), u3 appears
      input.addData(ev(1L, 12L, 7, 3.0), ev(2L, 21L, 3, 8.0), ev(3L, 30L, 1, 4.0))
      query.processAllAvailable()

      // the upsert view: last emitted row per key
      val emitted = spark.table("latest_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val view = emitted.zipWithIndex
        .groupBy(_._1._1).map { case (k, rs) => k -> rs.maxBy(_._2)._1 }
      assert(view(1L) == ((1L, Timestamp.valueOf("2024-01-01 00:00:09").getTime * 1000L, 11L, 2.0)))
      assert(view(2L)._3 == 21L, s"same-version tie must pick the larger id: ${view(2L)}")
      assert(view(3L)._3 == 30L)

      // differential: equals the batch Snapshot.latestByKey over all events
      val all = Seq(
        (1L, 10L, 5, 1.0), (1L, 11L, 9, 2.0), (2L, 20L, 3, 7.0),
        (1L, 12L, 7, 3.0), (2L, 21L, 3, 8.0), (3L, 30L, 1, 4.0))
        .map { case (u, e, s, v) => (u, e, s.toLong * 1000000L +
          Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L, v) }
        .toDF("user_id", "event_id", "ts_us", "value")
      val batch = graft.ops.Snapshot.latestByKey(all, Seq("user_id"), col("ts_us"), "event_id")
        .collect().map(r => r.getLong(0) -> ((r.getLong(0), r.getLong(2), r.getLong(1), r.getDouble(3))))
        .toMap
      assert(view.toMap == batch)
    } finally query.stop()
  }

  test("streaming span decontamination refuses sketch-positive docs at ingest") {
    implicit val sqlCtx = spark.sqlContext
    val span13 = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val bench = Seq((100L, s"intro $span13 outro")).toDF("doc_id", "text")
    val sketch = graft.ops.Dedup.spanBloomSketch(bench, "text").get
    val docs = Seq(
      (0L, s"stream doc carrying $span13 inside"),
      (1L, "clean content entirely different from anything"),
      (2L, span13.replace("nine", "nein") + " nearly verbatim"))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val filtered = StreamingEval.decontaminateStream(stream, "text", sketch)
    val query = filtered.writeStream.format("memory").queryName("span_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val kept = spark.table("span_stream").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(!kept.contains(0L), "verbatim span must be refused at ingest")
      assert(kept.contains(1L))
      // differential: identical to the batch filter over the same sketch
      // (the stream gate IS the batch predicate — no state, no drift)
      val batchKept = docs.toDF("doc_id", "text")
        .filter(!graft.ops.Dedup.spanContaminatedFlag(col("text"), sketch))
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == batchKept)
    } finally query.stop()
  }

  test("streaming count-min sketch converges to the batch sketch") {
    // the CMS grid is an ordinary hash aggregate, so it is STREAM-LEGAL in
    // complete mode: counters update per micro-batch and the final state
    // must equal the one-shot batch sketch over the same documents
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq("alpha alpha beta", "alpha gamma", "beta beta beta delta")
    val input = MemoryStream[String]
    val streamSketch = graft.ops.Sketches.cmsSketch(
      input.toDF().toDF("text"), "text", depth = 3, width = 64)
    val query = streamSketch.writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      input.addData(docs.head)
      query.processAllAvailable() // first micro-batch: partial counters
      input.addData(docs.tail: _*)
      query.processAllAvailable()
      val streamed = spark.table("cms_stream").collect()
        .map(r => (r.getAs[Int]("row"), r.getAs[Long]("cell")) -> r.getAs[Long]("cnt"))
        .toMap
      val batch = graft.ops.Sketches.cmsSketch(
          docs.toDF("text"), "text", depth = 3, width = 64).collect()
        .map(r => (r.getAs[Int]("row"), r.getAs[Long]("cell")) -> r.getAs[Long]("cnt"))
        .toMap
      assert(streamed == batch, "streamed counters must equal the batch sketch")
      // and the probe path reads the streamed state like any sketch
      val est = graft.ops.Sketches.cmsEstimate(
        spark.table("cms_stream"), Seq("alpha", "delta", "absent"),
        depth = 3, width = 64)
      val m = est.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m("alpha") == 3L && m("delta") == 1L && m("absent") == 0L)
    } finally query.stop()
  }

  test("streaming ANN serving: micro-batch answers equal the batch IVF answer") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 40).map(i =>
      (i.toLong, Seq.fill(4)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(corpus, "embedding", nLists = 4)
    val dir = tempDir("graft-ann-serve")
    Similarity.saveIvfIndex(corpus, cents, s"$dir/index")

    // three query vectors with ids OUTSIDE the corpus id space
    val qs = (0 until 3).map(i => (1000L + i, Seq.fill(4)(rnd.nextFloat())))
    val input = MemoryStream[(Long, Seq[Float])]
    val query = graft.streaming.StreamingEval.annQueryStream(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        s"$dir/index", s"$dir/results", k = 3, nProbe = 2)
      .start()
    try {
      input.addData(qs(0), qs(1)) // batch 1
      query.processAllAvailable()
      input.addData(qs(2))        // batch 2 against the same standing index
      query.processAllAvailable()
      val streamed = spark.read.parquet(s"$dir/results")
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("nn_rank"))).toSet
      val batch = Similarity.ivfTopKWithCentroids(
          corpus, qs.toDF("vec_id", "embedding"), k = 3, cents, nProbe = 2)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("nn_rank"))).toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
      assert(streamed.nonEmpty && streamed.map(_._1) == Set(1000L, 1001L, 1002L))

      // index maintenance: append a new vector (a clone of query 1002's),
      // and the NEXT serving batch must surface it at rank 1
      Similarity.appendToIvfIndex(
        Seq((500L, qs(2)._2)).toDF("vec_id", "embedding"), s"$dir/index")
      input.addData((1003L, qs(2)._2))
      query.processAllAvailable()
      val hit = spark.read.parquet(s"$dir/results")
        .filter(col("query_id") === 1003L && col("nn_rank") === 1)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
      assert(hit.length == 1 && hit(0)._1 == 500L && math.abs(hit(0)._2 - 1.0) < 1e-9,
        s"appended vector not served: ${hit.toSeq}")
    } finally query.stop()
  }

  test("streaming BM25 serving equals ad-hoc search per query batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Retrieval
    import spark.implicits._
    val dir = tempDir("graft-bm25-srv")
    val corpus = (1L to 40L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} tail"))
      .toDF("doc_id", "text")
    Retrieval.saveBm25Index(corpus, "doc_id", "text", s"$dir/index", numBuckets = 16)
    val qs = Seq((1000L, "w1 w2"), (1001L, "w3 tail"), (1002L, "w4"))
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.bm25QueryStream(
        input.toDF().toDF("qid", "qtext"), "qid", "qtext",
        s"$dir/index", s"$dir/results", topK = 4)
      .start()
    try {
      input.addData(qs(0), qs(1)) // batch 1
      query.processAllAvailable()
      input.addData(qs(2))        // batch 2 against the same standing index
      query.processAllAvailable()
      val streamed = spark.read.parquet(s"$dir/results")
        .collect().map(_.toSeq).toSet
      val batch = Retrieval.bm25Search(corpus, "doc_id", "text",
          qs.toDF("qid", "qtext"), "qid", "qtext", topK = 4)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
      assert(streamed.nonEmpty)
    } finally query.stop()
  }

  test("streaming hybrid serving equals the batch fused operator per query batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Retrieval, Similarity}
    import spark.implicits._
    val dir = tempDir("graft-hyb-srv")
    val r = new scala.util.Random(7)
    val corpus = (1L to 40L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} tail",
      Seq.fill(4)(r.nextDouble())))
      .toDF("doc_id", "text", "embedding")
    Retrieval.saveBm25Index(corpus.select("doc_id", "text"), "doc_id", "text",
      s"$dir/bm", numBuckets = 16)
    val vecs = corpus.select(col("doc_id").as("vec_id"), col("embedding"))
    val cents = Similarity.trainKmeansPortable(vecs, "vec_id", "embedding",
      k = 4, iters = 2)
    Similarity.saveIvfIndex(vecs, cents, s"$dir/iv")
    // query ids OUTSIDE the corpus id space so the IVF self-exclusion
    // doesn't hide corpus rows; vectors reuse corpus rows 1-3
    val base = corpus.collect().map(x => (x.getLong(0), x.getString(1),
      x.getSeq[Double](2)))
    val qs = Seq((1000L, "w1 w2", base(0)._3), (1001L, "w3 tail", base(1)._3),
      (1002L, "w4", base(2)._3))
    val input = MemoryStream[(Long, String, Seq[Double])]
    val query = graft.streaming.StreamingEval.hybridQueryStream(
        input.toDF().toDF("qid", "qtext", "embedding"), "qid", "qtext",
        "embedding", s"$dir/bm", s"$dir/iv", s"$dir/results",
        topK = 5, candK = 5, nProbe = 2)
      .start()
    try {
      input.addData(qs(0), qs(1))
      query.processAllAvailable()
      input.addData(qs(2))
      query.processAllAvailable()
      val streamed = spark.read.parquet(s"$dir/results")
        .collect().map(_.toSeq).toSet
      val batch = Retrieval.hybridSearchPreindexed(spark, s"$dir/bm",
          s"$dir/iv", qs.toDF("qid", "qtext", "embedding"), "qid", "qtext",
          "embedding", topK = 5, candK = 5, nProbe = 2)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
      assert(streamed.nonEmpty)
    } finally query.stop()
  }

  test("streaming embedding drift: per-batch cells equal the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.{Drift, Similarity}
    val dir = tempDir("graft-emb-drift")
    // frozen quantizer: train tiny centroids and persist the IVF index
    val ref = ((1L to 30L).map(i => (i, Seq(0.9, 0.1))) ++
      (31L to 40L).map(i => (i, Seq(0.1, 0.9)))).toDF("vec_id", "embedding")
    val cents = Similarity.trainKmeansPortable(ref, "vec_id", "embedding",
      k = 2, iters = 2)
    Similarity.saveIvfIndex(ref, cents, s"$dir/index")
    Drift.cellCounts(ref, "embedding", cents)
      .write.parquet(s"$dir/refcounts")
    val b1 = (101L to 120L).map(i => (i, Seq(0.1, 0.9)))
    val b2 = (121L to 140L).map(i => (i, Seq(0.9, 0.1)))
    val input = MemoryStream[(Long, Seq[Double])]
    val query = graft.streaming.StreamingEval.embeddingDriftStream(
        input.toDF().toDF("vec_id", "embedding"), "embedding",
        s"$dir/index", s"$dir/refcounts", s"$dir/out")
      .start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
      for ((batch, id) <- Seq(b1 -> 0L, b2 -> 1L)) {
        val streamed = out.filter(col("batch_id") === id)
          .drop("batch_id").collect().map(_.toSeq).toSet
        val expect = Drift.embeddingDriftCells(
            ref, batch.toDF("vec_id", "embedding"), "embedding", cents)
          .collect().map(_.toSeq).toSet
        assert(streamed == expect, s"batch $id: $streamed != $expect")
        assert(streamed.nonEmpty)
      }
    } finally query.stop()
  }

  test("streaming judge consensus: standing calibration equals the union's counters") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.Judges
    val dir = tempDir("graft-judge-stream")
    // three judges: a,b always 'g'; c flips on even items (unreliable)
    def panel(items: Seq[Long]) = items.flatMap(i => Seq(
      (i, "a", "g"), (i, "b", "g"),
      (i, "c", if (i % 2 == 0) "x" else "g")))
    val b1 = panel(1L to 6L)
    val b2 = panel(7L to 10L)
    val input = MemoryStream[(Long, String, String)]
    val query = graft.streaming.StreamingEval.judgeStream(
        input.toDF().toDF("item", "judge", "label"),
        "item", "judge", "label", s"$dir/state", s"$dir/out")
      .start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      // standing counters after batch 2 equal one batch judgeCounters
      // over the union (item-local majorities make them additive)
      val standing = graft.streaming.StreamingEval
        .loadScd2History(spark, s"$dir/state").get
        .collect().map(_.toSeq).toSet
      val union = Judges.judgeCounters(
          (b1 ++ b2).toDF("item", "judge", "label"), "item", "judge", "label")
        .collect().map(_.toSeq).toSet
      assert(standing == union, s"$standing != $union")
      // batch-2 consensus rows were scored with the union's calibration:
      // they equal consensusWithCounters over batch 2 with those counters
      val out = spark.read.parquet(s"$dir/out")
        .filter(col("item") > 6L).collect().map(_.toSeq).toSet
      val expect = Judges.consensusWithCounters(
          b2.toDF("item", "judge", "label"),
          Judges.judgeCounters((b1 ++ b2).toDF("item", "judge", "label"),
            "item", "judge", "label"),
          "item", "judge", "label")
        .collect().map(_.toSeq).toSet
      assert(out == expect, s"$out != $expect")
      assert(out.nonEmpty)
    } finally query.stop()
  }

  test("streaming tokenize equals the batch encode under the same frozen artifact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("graft-tok-stream")
    val train = Seq.fill(6)(Tuple1("abab ab ba")).toDF("text")
    val pieces = graft.ops.UnigramTrain.train(train, "text",
      maxPieceLen = 2, vocabSize = 4, iters = 2, maxWordLen = 8)
    graft.ops.UnigramTrain.saveTokenizer(spark, pieces, s"$dir/tokenizer",
      maxPieceLen = 2)
    val docs = Seq((1L, "ab abab"), (2L, "ba zz"), (3L, ""), (4L, "abba ab"))
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.tokenizeStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/tokenizer", s"$dir/encoded")
      .start()
    try {
      input.addData(docs(0), docs(1)) // batch 1
      query.processAllAvailable()
      input.addData(docs(2), docs(3)) // batch 2 under the same artifact
      query.processAllAvailable()
      val streamed = spark.read.parquet(s"$dir/encoded")
        .collect().map(_.toSeq).toSet
      val batch = graft.ops.UnigramTrain.encodeDocs(
          docs.toDF("doc_id", "text"), "doc_id", "text", pieces, maxPieceLen = 2)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
      assert(streamed.nonEmpty)
    } finally query.stop()
  }

  test("streaming drift monitor: per-batch top tokens equal the batch tokenDrift") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Drift
    import spark.implicits._
    val dir = tempDir("graft-drift-mon")
    val ref = Seq((1L, "a a a b c"), (2L, "a b c c")).toDF("doc_id", "text")
    Drift.tokenCounts(ref, "text").write.parquet(s"$dir/ref")

    val b1 = Seq((10L, "a b b b c"))
    val b2 = Seq((11L, "z z z a"))
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.driftMonitorStream(
        input.toDF().toDF("doc_id", "text"), "text", s"$dir/ref", s"$dir/out", k = 3)
      .start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
      def rowsOf(bid: Long) = out.filter(col("batch_id") === bid)
        .select("rank", "token", "n_ref", "n_cur", "contrib").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      def batchOf(data: Seq[(Long, String)]) = Drift.tokenDrift(
          ref, data.toDF("doc_id", "text"), "text", k = 3)
        .collect().map(r => (r.getAs[Long]("rank"), r.getAs[String]("token"),
          r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"), r.getAs[Double]("contrib"))).toSet
      assert(rowsOf(0L) == batchOf(b1), "batch 1 drift mismatch")
      assert(rowsOf(1L) == batchOf(b2), "batch 2 drift mismatch")
      // the novel token dominates batch 2's drift
      assert(rowsOf(1L).exists(t => t._2 == "z" && t._1 == 1L))
    } finally query.stop()
  }

  private def typedEvents(): Seq[StreamingEval.TypedEvent] =
    graft.io.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"), col("event_type"))
      .as[StreamingEval.TypedEvent]
      .collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq

  test("streaming session stats match batch sessionStats on a flushed replay") {
    implicit val sqlCtx = spark.sqlContext
    val rows = typedEvents()
    val gap = 1800L * 1000000L
    val input = MemoryStream[StreamingEval.TypedEvent]
    val query = StreamingEval.sessionStatsStream(input.toDS(), gapUs = gap)
      .writeStream.format("memory").queryName("sess_stats_stream")
      .outputMode("append").start()
    try {
      rows.grouped(400).foreach { chunk =>
        input.addData(chunk)
        query.processAllAvailable()
      }
      // two far-future dummy batches: the watermark updates at the END of
      // a batch and event-time timeouts fire in the NEXT one, so the first
      // push advances the watermark and the second flushes every open
      // real-user session
      val far = rows.map(_.ts.getTime).max + 100L * 3600L * 1000L
      input.addData(StreamingEval.TypedEvent(-1L, 0L, new Timestamp(far), "x"))
      query.processAllAvailable()
      input.addData(StreamingEval.TypedEvent(-2L, 0L, new Timestamp(far + 1000L), "x"))
      query.processAllAvailable()
      val streamed = spark.table("sess_stats_stream")
        .as[StreamingEval.SessionStatsOut].collect()
        .filter(_.user_id >= 0L)
        .map(o => (o.user_id, o.start_us, o.end_us, o.duration_us, o.n_events, o.n_types))
        .sorted.toSeq
      val batch = graft.ops.Sessions.sessionStats(
          graft.io.Tables.table(spark, "/root/testdata/sf0.001", "events")
            .select(col("user_id"), col("event_type"),
              expr("ts div 1000").as("us"), col("event_id")),
          "user_id", col("us"), "event_id", "event_type", gap)
        .select("user_id", "start_us", "end_us", "duration_us", "n_events", "n_types")
        .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally query.stop()
  }

  test("streaming funnel step counts match batch funnel on an ordered replay") {
    implicit val sqlCtx = spark.sqlContext
    val rows = typedEvents()
    val steps = Seq("signup", "view", "click", "purchase")
    val input = MemoryStream[StreamingEval.TypedEvent]
    val query = StreamingEval.funnelStream(input.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    try {
      rows.grouped(400).foreach { chunk =>
        input.addData(chunk)
        query.processAllAvailable()
      }
      val streamed = spark.table("funnel_stream")
        .as[StreamingEval.FunnelOut].collect().toSeq
      // exactly-once per (user, step): the state machine never re-emits
      assert(streamed.map(o => (o.user_id, o.step_idx)).distinct.size == streamed.size)
      val streamCounts = streamed.groupBy(_.step_idx)
        .map { case (k, v) => k -> v.size.toLong }
      val batch = graft.ops.Sessions.funnel(
          graft.io.Tables.table(spark, "/root/testdata/sf0.001", "events")
            .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us")),
          "user_id", "event_type", col("us"), steps)
        .select("step_idx", "n_users").as[(Long, Long)].collect().toMap
      assert(streamCounts.nonEmpty)
      assert(streamCounts == batch.filter(_._2 > 0L),
        s"stream=$streamCounts batch=$batch")
    } finally query.stop()
  }

  test("funnelStream idle TTL drops state past the horizon (and not before)") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("s1", "s2")
    def ev(u: Long, id: Long, ms: Long, t: String) =
      StreamingEval.TypedEvent(u, id, new Timestamp(ms), t)
    val input = MemoryStream[StreamingEval.TypedEvent]
    val query = StreamingEval.funnelStream(input.toDS(), steps,
        idleTtlUs = Some(1000000L), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("funnel_ttl_stream")
      .outputMode("update").start()
    try {
      def outRows() = spark.table("funnel_ttl_stream")
        .as[StreamingEval.FunnelOut].collect().toSeq
          .map(o => (o.user_id, o.step_idx))
      // user 100 completes both steps; the extra s1 must NOT re-emit
      // while state is alive
      input.addData(ev(100L, 1L, 1000L, "s1"), ev(100L, 2L, 1001L, "s2"),
        ev(100L, 3L, 1002L, "s1"))
      query.processAllAvailable()
      assert(outRows().sorted == Seq((100L, 0L), (100L, 1L)))
      // two dummy batches: first advances the watermark far past
      // last-seen + TTL (watermark updates at END of batch), second
      // fires the event-time timeout that frees user 100's state
      input.addData(ev(-1L, 4L, 100000L, "x"))
      query.processAllAvailable()
      input.addData(ev(-2L, 5L, 101000L, "x"))
      query.processAllAvailable()
      // fresh s1 after the drop re-enters at step 0 — the documented
      // TTL drift, and the observable proof the state was removed
      input.addData(ev(100L, 6L, 200000L, "s1"))
      query.processAllAvailable()
      assert(outRows().filter(_._1 == 100L).sorted ==
        Seq((100L, 0L), (100L, 0L), (100L, 1L)))
    } finally query.stop()
  }

  test("streaming horizon dedup admits exactly the batch greedy anchors") {
    implicit val sqlCtx = spark.sqlContext
    // the q224 policy on the replayed sf0.001 log: admissions must be
    // BIT-identical to the batch operator's greedy scan — including the
    // gap-bearing keys where an admission reopens past the horizon
    val rows = typedEvents()
    val horizon = 432000000000L // 120h over a 720h log: real re-admissions
    val input = MemoryStream[StreamingEval.TypedEvent]
    val query = StreamingEval.horizonDedupStream(input.toDS(), horizon)
      .writeStream.format("memory").queryName("horizon_stream")
      .outputMode("append").start()
    try {
      rows.grouped(250).foreach { chunk =>
        input.addData(chunk)
        query.processAllAvailable()
      }
      val streamed = spark.table("horizon_stream")
        .as[StreamingEval.TypedEvent].collect()
        .map(e => (e.user_id, e.event_type, e.ts.getTime, e.event_id))
        .sorted.toSeq
      val batch = graft.ops.Dedup.horizonDedup(
          graft.io.Tables.table(spark, "/root/testdata/sf0.001", "events")
            .select(col("user_id"), col("event_type"),
              expr("ts div 1000").as("us"), col("event_id")),
          Seq("user_id", "event_type"), "us", "event_id", horizon)
        .select(col("user_id"), col("event_type"),
          (col("us") / 1000L).cast("long").as("ms"), col("event_id"))
        .as[(Long, String, Long, Long)].collect().sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch)
      // at least one key re-admitted past the horizon (a gap-bearing
      // key), or the differential proves nothing about the greedy state
      val multi = streamed.groupBy(r => (r._1, r._2)).values.count(_.size > 1)
      assert(multi > 0, "replay had no past-horizon re-admission")
    } finally query.stop()
  }

  test("streaming CUSUM monitor is bit-identical to the frozen-stats batch op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingEval.CusumEvent
    import spark.implicits._
    val h = 3600000000L
    // series a: quiet then shifted; series b: flat-ish; series c: absent
    // from the baseline (monitor must ignore it)
    val mkEvents = (0 until 24).flatMap { b =>
      val na = if (b < 16) 10 + (b % 3) else 15
      val nb = 5
      Seq.fill(na)(("a", b.toLong * h + 7L)) ++
        Seq.fill(nb)(("b", b.toLong * h + 7L)) ++
        Seq(("c", b.toLong * h + 7L))
    }
    val frozen = Map("a" -> (11.0, 1.5), "b" -> (5.0, 0.8))
    val input = MemoryStream[CusumEvent]
    val query = graft.streaming.StreamingEval.cusumMonitorStream(
        input.toDS(), h, frozen)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      // replay in 3 chunks (event-time order per series), then flush the
      // trailing open bucket with a far-future sentinel per series
      mkEvents.grouped(mkEvents.size / 3 + 1).foreach { chunk =>
        input.addData(chunk.map { case (s, us) => CusumEvent(s, us) }: _*)
        query.processAllAvailable()
      }
      input.addData(CusumEvent("a", 9999L * h), CusumEvent("b", 9999L * h))
      query.processAllAvailable()
      val streamed = spark.table("cusum_out")
        .collect().map(_.toString).sorted.toSeq
      val batch = graft.ops.Metrics.cusumChangepoints(
          mkEvents.toDF("event_type", "us"), "event_type", col("us"), h,
          frozenStats = Some(frozen))
        .select("series", "bucket", "n", "s_pos_r", "s_neg_r",
          "alarm_up", "alarm_down")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        s"stream diverged from frozen-stats batch:\n${streamed.take(3)}…\nvs\n${batch.take(3)}…")
      // the shifted tail of series a actually alarms
      assert(spark.table("cusum_out")
        .filter(col("series") === "a" && col("alarm_up")).count() > 0)
    } finally query.stop()
  }

  test("streaming seasonal monitor is bit-identical to the frozen-profile batch op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingEval.CusumEvent
    import spark.implicits._
    val h = 3600000000L
    // series a: strong phase-0 daily peak (profiled), one burst at
    // day 2 phase 3; series b: profiled only at phase 0 (other phases
    // must be skipped); series c: unprofiled entirely
    val mkEvents = (0 until 24 * 3).flatMap { b =>
      val phase = b % 24
      val na = if (phase == 0) 50 else if (phase == 3 && b / 24 == 2) 40 else 5
      Seq.fill(na)(("a", b.toLong * h + 7L)) ++
        Seq.fill(3)(("b", b.toLong * h + 7L)) ++
        Seq(("c", b.toLong * h + 7L))
    }
    val frozen: Map[(String, Long), (Double, Double)] =
      (0L until 24L).map(p => ("a", p) ->
        ((if (p == 0L) 50.0 else 5.0, if (p == 0L) 2.0 else 1.5))).toMap ++
        Map(("b", 0L) -> ((3.0, 0.5)), ("b", 1L) -> ((3.0, 0.0))) // sigma 0: skip
    val input = MemoryStream[CusumEvent]
    val query = graft.streaming.StreamingEval.seasonalMonitorStream(
        input.toDS(), h, period = 24, frozen, k = 3.0)
      .writeStream.format("memory").queryName("seasonal_out")
      .outputMode("append").start()
    try {
      mkEvents.grouped(mkEvents.size / 3 + 1).foreach { chunk =>
        input.addData(chunk.map { case (s, us) => CusumEvent(s, us) }: _*)
        query.processAllAvailable()
      }
      // far-future sentinels flush the trailing open buckets
      input.addData(CusumEvent("a", 9999L * h), CusumEvent("b", 9999L * h))
      query.processAllAvailable()
      val streamed = spark.table("seasonal_out")
        .filter(col("bucket") < 9000L)
        .collect().map(_.toString).sorted.toSeq
      val batch = graft.ops.Metrics.seasonalAnomalies(
          mkEvents.toDF("event_type", "us"), "event_type", col("us"), h,
          period = 24, k = 3.0, frozenProfiles = Some(frozen))
        .select("series", "bucket", "phase", "n", "mean_r", "z_r", "is_anomaly")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        s"stream diverged from frozen-profile batch:\n${streamed.take(3)}…\nvs\n${batch.take(3)}…")
      // the off-phase burst flags; the daily peak does not
      val flagged = spark.table("seasonal_out").filter(col("is_anomaly"))
        .select("series", "bucket").as[(String, Long)].collect().toSet
      assert(flagged.contains(("a", 2L * 24 + 3)))
      assert(!flagged.exists { case (s, b) => s == "a" && b % 24 == 0 })
      // unprofiled series c and b's sigma-0/unprofiled phases are absent
      assert(spark.table("seasonal_out").filter(col("series") === "c").isEmpty)
      assert(spark.table("seasonal_out")
        .filter(col("series") === "b" && col("phase") =!= 0L).isEmpty)
    } finally query.stop()
  }

  test("streaming rolling-anomaly monitor is bit-identical to the batch RANGE frame") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingEval.CusumEvent
    import spark.implicits._
    val h = 3600000000L
    // series a: steady with one burst bucket and one GAP (bucket 9
    // absent — the RANGE frame must shrink, not slide); series b: short
    val mkEvents = ((0 until 14).filter(_ != 9).flatMap { b =>
      val n = if (b == 11) 40 else 8 + (b % 3)
      Seq.fill(n)(("a", b.toLong * h + 3L))
    } ++ (0 until 4).flatMap(b => Seq.fill(6)(("b", b.toLong * h + 3L))))
    val input = MemoryStream[CusumEvent]
    val query = graft.streaming.StreamingEval.rollingAnomalyStream(
        input.toDS(), h, baselineBuckets = 5, k = 3.0)
      .writeStream.format("memory").queryName("ranom_out")
      .outputMode("append").start()
    try {
      mkEvents.grouped(mkEvents.size / 3 + 1).foreach { chunk =>
        input.addData(chunk.map { case (s, us) => CusumEvent(s, us) }: _*)
        query.processAllAvailable()
      }
      input.addData(CusumEvent("a", 9999L * h), CusumEvent("b", 9999L * h))
      query.processAllAvailable()
      val streamed = spark.table("ranom_out")
        .collect().map(_.toString).sorted.toSeq
      val batch = graft.ops.Metrics.rollingAnomalies(
          mkEvents.toDF("event_type", "us"), "event_type", col("us"), h,
          baselineBuckets = 5, k = 3.0)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        s"stream diverged from batch RANGE frame:\n${streamed.take(3)}…\nvs\n${batch.take(3)}…")
      // the planted burst is flagged
      assert(spark.table("ranom_out")
        .filter(col("bucket_type") === "a" && col("is_anomaly")).count() >= 1)
    } finally query.stop()
  }

  test("streaming span dedup equals one batch selfDedupSpans over the union") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    import spark.implicits._
    val dir = tempDir("graft-span-ing")
    val boiler = (1 to 13).map(i => s"w$i").mkString(" ")
    // batch 1 owns the boilerplate; batch 2 repeats it across AND within
    // a doc; batch 3 repeats it again and brings fresh text
    val batches = Seq(
      Seq((1L, s"intro $boiler outro"), (2L, "clean text one")),
      Seq((3L, s"lead $boiler tail"), (4L, s"$boiler mid $boiler")),
      Seq((5L, s"end $boiler"), (6L, "still clean"))
    )
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingEval.spanDedupStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id",
        s"$dir/index", s"$dir/out", span = 13)
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
      val streamed = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/out")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      val full = Dedup.selfDedupSpans(
          batches.flatten.toDF("doc_id", "text"), "text", "doc_id", span = 13)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(streamed == full, s"streamed $streamed\nvs batch $full")
      // the owner batch kept its copy; every later arrival lost it
      assert(streamed(1L) == s"intro $boiler outro")
      assert(streamed(3L) == "lead tail" && streamed(5L) == "end")
      // REPLAY SAFETY: re-running batch 2 against index versions < 2
      // reproduces its committed output (never cuts against its own fps)
      val standing = Some(spark.read.parquet(s"$dir/index/v000000000",
        s"$dir/index/v000000001"))
      val (replayed, _) = Dedup.selfDedupAgainstIndex(
        batches(2).toDF("doc_id", "text"), "text", "doc_id", 13, standing)
      val rep = replayed.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(rep == Map(5L -> "end", 6L -> "still clean"))

      // COMPACTION: folding versions < 3 into one preserves the exact
      // fingerprint set behind a single version dir
      def fpSet() = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/index").select("h").collect().map(_.getString(0)).toSet
      val before = fpSet()
      graft.streaming.StreamingEval.compactSpanIndex(spark, s"$dir/index", 3L)
      val dirs = new java.io.File(s"$dir/index").list().filter(_.startsWith("v")).sorted
      assert(dirs.toSeq == Seq("v000000002"), dirs.toSeq.toString)
      assert(fpSet() == before)
      // crash recovery: simulate dying AFTER the marker commit — stage
      // holds the authoritative set, versions half-gone; the next call's
      // preamble must finish the rename
      val fsRoot = new java.io.File(s"$dir/index")
      val staged = new java.io.File(fsRoot, IndexCommit.StagingName)
      assert(staged.mkdir())
      assert(new java.io.File(fsRoot, "v000000002")
        .renameTo(new java.io.File(staged, "v000000002")))
      IndexCommit.writeMarker(
        org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(s"$dir/index"), Seq("swap" -> "v000000002"))
      graft.streaming.StreamingEval.compactSpanIndex(spark, s"$dir/index", 3L)
      assert(new java.io.File(fsRoot, "v000000002").exists && !staged.exists)
      assert(fpSet() == before)
    } finally query.stop()
  }

  test("span stream batch after a crashed fold still cuts spans seen before the fold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tempDir("graft-span-fold-crash")
    val idx = s"$dir/index"
    val boiler = (1 to 13).map(i => s"w$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val query = StreamingEval.spanDedupStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", idx, s"$dir/out",
        span = 13)
      .start()
    try {
      Seq(Seq((1L, s"intro $boiler outro")), Seq((2L, "clean text one")),
          Seq((3L, "clean text two")))
        .foreach { b => input.addData(b: _*); query.processAllAvailable() }
      // a fold of v0..v1 reached its marker, then the crash: both folded
      // versions are already gone and the folded set is not yet swapped in
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
      IndexCommit.writeMarker(fs, new Path(idx),
        StreamingEval.stageSpanFold(spark, idx, 2L, 2, identity))
      Seq("v000000000", "v000000001").foreach(v => fs.delete(new Path(s"$idx/$v"), true))
      // batch 3 must still cut the boilerplate batch 0 owned
      input.addData((4L, s"lead $boiler tail"))
      query.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out/v000000003")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(out == Map(4L -> "lead tail"), s"got $out")
      assert(fs.exists(new Path(s"$idx/v000000001")) &&
        !fs.exists(new Path(IndexCommit.stagingDir(idx))))
    } finally query.stop()
  }

  test("streaming incremental CC equals a full batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Graphs
    import spark.implicits._
    val dir = tempDir("graft-ccs")
    val historyPath = s"$dir/cc"
    // batch 1 seeds two components; batch 2 merges them through a new
    // node; batch 3 adds an intra-component edge and a fresh pair
    val batches = Seq(
      Seq((1L, 2L), (5L, 6L), (6L, 7L)),
      Seq((9L, 2L), (9L, 5L)),
      Seq((6L, 5L), (20L, 21L))
    )
    val input = MemoryStream[(Long, Long)]
    val query = graft.streaming.StreamingEval.ccStream(
        input.toDF().toDF("s", "d"), "s", "d", historyPath)
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
      val streamed = asMap(graft.streaming.StreamingEval
        .loadScd2History(spark, historyPath).get)
      val full = asMap(Graphs.connectedComponents(
        batches.flatten.toDF("s", "d"), "s", "d"))
      assert(streamed == full, s"streamed CC diverged:\n$streamed\nvs\n$full")
      // one versioned snapshot per micro-batch; a batch-2 replay reads
      // strictly below its own version (the scd2Stream replay rule)
      val vs = new java.io.File(historyPath).list().filter(_.startsWith("v")).sorted
      assert(vs.length == 3, s"expected 3 versioned snapshots, got ${vs.toSeq}")
      val pred = graft.streaming.StreamingEval
        .loadScd2History(spark, historyPath, beforeVersion = Some(2L)).get
      val replayed = asMap(Graphs.ccApply(pred, batches(2).toDF("s", "d"), "s", "d"))
      assert(replayed == asMap(spark.read.parquet(s"$historyPath/${vs.max}")))
      // retention: pruning below the checkpoint keeps the newest snapshot
      // (the state) and the standing mapping is unchanged
      val n = graft.streaming.StreamingEval.pruneVersions(spark, historyPath, 3L)
      assert(n == 2, s"expected 2 pruned versions, got $n")
      val left = new java.io.File(historyPath).list().filter(_.startsWith("v")).sorted
      assert(left.toSeq == Seq("v000000002"))
      assert(asMap(graft.streaming.StreamingEval
        .loadScd2History(spark, historyPath).get) == full)
    } finally query.stop()
  }

  test("streaming SCD2 maintenance equals batch history over the replayed stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Snapshot
    import spark.implicits._
    val dir = tempDir("graft-scd2")
    val historyPath = s"$dir/history"
    // (key, value, ts, tie): keys 1 and 2 evolve across batches, key 3
    // appears only in batch 2, key 1 is silent in batch 3
    val batches = Seq(
      Seq((1L, "a", 10L, 100L), (1L, "a", 20L, 101L), (2L, "x", 15L, 200L)),
      Seq((1L, "b", 30L, 102L), (2L, "x", 25L, 201L), (3L, "q", 22L, 300L)),
      Seq((2L, "y", 35L, 202L), (3L, "q", 40L, 301L))
    )
    val input = MemoryStream[(Long, String, Long, Long)]
    val query = graft.streaming.StreamingEval.scd2Stream(
        input.toDF().toDF("k", "v", "ts", "tie"),
        Seq("k"), Seq("v"), "ts", "tie", historyPath)
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
      val streamed = graft.streaming.StreamingEval
        .loadScd2History(spark, historyPath).get
        .collect().map(_.toString).sorted.toSeq
      val full = Snapshot.scd2History(
          batches.flatten.toDF("k", "v", "ts", "tie"),
          Seq("k"), Seq("v"), col("ts"), "tie")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == full, s"streamed history diverged:\n$streamed\nvs\n$full")
      // versioned audit trail: one snapshot per micro-batch
      val vs = new java.io.File(historyPath).list().filter(_.startsWith("v")).sorted
      assert(vs.length == 3, s"expected 3 versioned snapshots, got ${vs.toSeq}")

      // REPLAY SAFETY (foreachBatch is at-least-once): a retry of batch 2
      // must read the highest version STRICTLY BELOW 2 — its predecessor
      // v1, never its own completed v2 output. Simulate the retry: merge
      // batch 2 onto loadScd2History(beforeVersion = 2) and pin that the
      // rewrite reproduces v2 exactly. Merging onto v2 itself would
      // re-apply the batch onto its own output and crash-loop on the
      // append-only guard.
      val pred = graft.streaming.StreamingEval
        .loadScd2History(spark, historyPath, beforeVersion = Some(2L)).get
      val replayed = Snapshot.scd2Apply(pred,
          batches(2).toDF("k", "v", "ts", "tie"), Seq("k"), Seq("v"),
          col("ts"), "tie")
        .collect().map(_.toString).sorted.toSeq
      assert(replayed == streamed, "batch-2 retry did not rewrite v2 deterministically")
      // and beforeVersion really filters numerically, not lexicographically
      val v0 = graft.streaming.StreamingEval
        .loadScd2History(spark, historyPath, beforeVersion = Some(1L)).get
        .collect().map(_.toString).sorted.toSeq
      val v0want = Snapshot.scd2History(batches(0).toDF("k", "v", "ts", "tie"),
          Seq("k"), Seq("v"), col("ts"), "tie")
        .collect().map(_.toString).sorted.toSeq
      assert(v0 == v0want, "beforeVersion=1 must load exactly the v0 bootstrap")
      assert(graft.streaming.StreamingEval
        .loadScd2History(spark, historyPath, beforeVersion = Some(0L)).isEmpty,
        "beforeVersion=0 must find nothing (batch 0 bootstraps from scratch)")
    } finally query.stop()
  }
}
