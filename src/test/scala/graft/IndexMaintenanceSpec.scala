package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{IndexCommit, Retrieval, Similarity}

/** Persisted-index MAINTENANCE: the append / compact / takedown loop for
  * the BM25 and IVF serving indexes, and the crash-safe staged commits
  * ([[graft.ops.IndexCommit]]) behind all of it. The load-bearing pins:
  *  - save+append ≡ save-once at the TABLE level (postings, terms,
  *    doclens, stats) — the O(increment) df merge may not drift;
  *  - compaction is content-identical and search-bit-identical;
  *  - takedown ≡ rebuild-without-the-docs, bit for bit, including the
  *    delete-then-append interleave and token-less documents;
  *  - a crash at ANY point of a staged commit either discards cleanly
  *    (no marker) or replays to the committed state (marker present),
  *    from adversarial mid-replay states included. */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private val docs1 = Seq(
    (1L, "spark shuffles data between stages"),
    (2L, "broadcast joins avoid the shuffle"),
    (3L, "shuffle partitions size the reducers"),
    (4L, ""), // token-less doc: counts in stats, no postings
    (5L, "catalyst prunes columns and partitions")
  )
  private val docs2 = Seq(
    (6L, "adaptive execution resizes shuffle partitions"),
    (7L, "data skew salts the hot keys"),
    (8L, "   "), // token-less increment doc
    (9L, "broadcast the small dimension tables")
  )
  private val docs3 = Seq(
    (10L, "columnar scans batch the data"),
    (11L, "partitions prune before the scan")
  )
  private val queries = Seq(
    (1L, "shuffle partitions"), (2L, "broadcast data"), (3L, "nothing here"))

  private def searchRows(dir: String) =
    Retrieval.bm25SearchPreindexed(
        spark, dir, queries.toDF("qid", "qtext"), "qid", "qtext", topK = 5)
      .collect().map(_.toSeq).toSet

  private def tableRows(dir: String, name: String): Set[Seq[Any]] = {
    val p = new java.io.File(s"$dir/$name")
    if (!p.exists()) return Set.empty
    val df = spark.read.parquet(s"$dir/$name")
    // normalize the partition column's int/long read-back so physically
    // different but equal layouts compare equal
    val norm = if (df.columns.contains("term_bucket"))
      df.withColumn("term_bucket", col("term_bucket").cast("long")) else df
    val cols = norm.columns.sorted.map(col).toSeq
    norm.select(cols: _*).collect().map(_.toSeq).toSet
  }

  private def allTables(dir: String): Map[String, Set[Seq[Any]]] =
    Seq("postings", "terms", "doclens", "stats")
      .map(n => n -> tableRows(dir, n)).toMap

  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!root.toFile.exists) return Seq.empty
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .asScala.filter(p => p.toString.endsWith(".parquet")).toVector
    finally s.close()
  }

  test("bm25 append merges df at term grain: save+append tables equal save-once") {
    val once = tempDir("bm25-once")
    val inc = tempDir("bm25-inc")
    Retrieval.saveBm25Index((docs1 ++ docs2).toDF("doc_id", "text"),
      "doc_id", "text", once, numBuckets = 8)
    Retrieval.saveBm25Index(docs1.toDF("doc_id", "text"),
      "doc_id", "text", inc, numBuckets = 8)
    Retrieval.appendToBm25Index(docs2.toDF("doc_id", "text"), "text", inc)
    val (a, b) = (allTables(once), allTables(inc))
    for (t <- Seq("postings", "terms", "doclens", "stats"))
      assert(a(t) == b(t), s"$t diverged:\nonce=${a(t)}\nappend=${b(t)}")
    assert(searchRows(once) == searchRows(inc))
    // no pending staging left behind
    assert(!new java.io.File(s"$inc/${IndexCommit.StagingName}").exists())
  }

  test("bm25 append onto an initially token-less index; token-less increment") {
    val dir = tempDir("bm25-empty-base")
    Retrieval.saveBm25Index(Seq((100L, ""), (101L, "  ")).toDF("doc_id", "text"),
      "doc_id", "text", dir, numBuckets = 4)
    // token-less increment: stats/doclens roll, postings/terms untouched
    Retrieval.appendToBm25Index(Seq((102L, "")).toDF("doc_id", "text"), "text", dir)
    val s0 = spark.read.parquet(s"$dir/stats").head()
    assert(s0.getAs[Long]("__n") == 3L && s0.getAs[Long]("__sumdl") == 0L)
    // first REAL tokens arrive via append: terms build from the increment
    Retrieval.appendToBm25Index(docs1.toDF("doc_id", "text"), "text", dir)
    val once = tempDir("bm25-empty-once")
    Retrieval.saveBm25Index(
      (Seq((100L, ""), (101L, "  "), (102L, "")) ++ docs1).toDF("doc_id", "text"),
      "doc_id", "text", once, numBuckets = 4)
    val (a, b) = (allTables(once), allTables(dir))
    for (t <- Seq("postings", "terms", "doclens", "stats"))
      assert(a(t) == b(t), s"$t diverged after token-less base append")
    assert(searchRows(once) == searchRows(dir))
  }

  test("bm25 staged commit: unmarked stage discards; marker replays; mid-replay states converge") {
    def freshBase(): String = {
      val d = tempDir("bm25-crash")
      Retrieval.saveBm25Index(docs1.toDF("doc_id", "text"), "doc_id", "text", d, numBuckets = 8)
      d
    }
    val want = tempDir("bm25-crash-want")
    Retrieval.saveBm25Index((docs1 ++ docs2).toDF("doc_id", "text"),
      "doc_id", "text", want, numBuckets = 8)
    val fs = IndexCommit.fsFor(spark, want)

    // (a) crash BEFORE the marker: stage discarded, live index untouched,
    // the append can simply re-run
    val a = freshBase()
    val before = allTables(a)
    Retrieval.stageBm25Append(docs2.toDF("doc_id", "text"), "text", a)
    assert(new java.io.File(s"$a/${IndexCommit.StagingName}").exists())
    assert(!IndexCommit.recover(spark, a), "no marker => nothing to replay")
    assert(allTables(a) == before, "live index must be untouched")
    Retrieval.appendToBm25Index(docs2.toDF("doc_id", "text"), "text", a)
    assert(allTables(a) == allTables(want))

    // (b) crash right AFTER the marker, before any replay step
    val b = freshBase()
    val actsB = Retrieval.stageBm25Append(docs2.toDF("doc_id", "text"), "text", b)
    IndexCommit.writeMarker(fs, new org.apache.hadoop.fs.Path(b), actsB)
    assert(IndexCommit.recover(spark, b), "marker => replay")
    assert(allTables(b) == allTables(want))
    assert(searchRows(b) == searchRows(want))

    // (c) adversarial mid-replay crashes: after the marker, (1) some
    // staged postings files already moved, (2) the live terms dir
    // already deleted but the staged rename not yet done
    val c = freshBase()
    val actsC = Retrieval.stageBm25Append(docs2.toDF("doc_id", "text"), "text", c)
    IndexCommit.writeMarker(fs, new org.apache.hadoop.fs.Path(c), actsC)
    val staged = dataFiles(s"$c/${IndexCommit.StagingName}/postings")
    assert(staged.nonEmpty)
    // hand-move ONE staged postings file to its live home (what a crash
    // mid-merge leaves behind)
    val one = staged.head
    val rel = java.nio.file.Paths.get(s"$c/${IndexCommit.StagingName}/postings")
      .relativize(one)
    val dst = java.nio.file.Paths.get(s"$c/postings").resolve(rel)
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.move(one, dst)
    // and simulate the swap's delete-then-rename torn in half
    fs.delete(new org.apache.hadoop.fs.Path(s"$c/terms"), true)
    assert(IndexCommit.recover(spark, c), "marker => replay")
    assert(allTables(c) == allTables(want), "mid-replay crash must converge")
    // recovery is idempotent: a second call is a no-op
    assert(!IndexCommit.recover(spark, c))
    assert(allTables(c) == allTables(want))
  }

  test("bm25 compaction: content-identical, search-bit-identical, fewer files") {
    val dir = tempDir("bm25-compact")
    Retrieval.saveBm25Index(docs1.toDF("doc_id", "text"), "doc_id", "text", dir, numBuckets = 4)
    Retrieval.appendToBm25Index(docs2.toDF("doc_id", "text"), "text", dir)
    Retrieval.appendToBm25Index(docs3.toDF("doc_id", "text"), "text", dir)
    val before = allTables(dir)
    val search = searchRows(dir)
    val filesBefore = dataFiles(s"$dir/postings").size
    Retrieval.compactBm25Index(spark, dir)
    assert(allTables(dir) == before, "compaction must not change content")
    assert(searchRows(dir) == search, "compaction must not change results")
    val filesAfter = dataFiles(s"$dir/postings").size
    assert(filesAfter < filesBefore,
      s"expected fewer postings files, got $filesBefore -> $filesAfter")
    // crash-sim on the swap: stage a copy of the live postings + marker,
    // then recover — converges to the same content
    val stagingPost = s"$dir/${IndexCommit.StagingName}/postings"
    spark.read.parquet(s"$dir/postings")
      .withColumn("term_bucket", col("term_bucket").cast("int"))
      .write.mode("overwrite").partitionBy("term_bucket").parquet(stagingPost)
    IndexCommit.writeMarker(IndexCommit.fsFor(spark, dir),
      new org.apache.hadoop.fs.Path(dir), Seq("swap" -> "postings"))
    assert(IndexCommit.recover(spark, dir))
    assert(allTables(dir) == before && searchRows(dir) == search)
  }

  test("bm25 takedown equals rebuild-without-the-docs; delete-then-append interleave") {
    val dir = tempDir("bm25-rm")
    Retrieval.saveBm25Index((docs1 ++ docs2).toDF("doc_id", "text"),
      "doc_id", "text", dir, numBuckets = 8)
    // remove docs 2 and 9 (shared vocab with survivors) and the
    // token-less 4 (stats-only) and an unknown id (ignored)
    Retrieval.removeFromBm25Index(Seq(2L, 9L, 4L, 999L).toDF("doc_id"), dir)
    val want = tempDir("bm25-rm-want")
    Retrieval.saveBm25Index(
      (docs1 ++ docs2).filterNot(d => Set(2L, 9L, 4L).contains(d._1))
        .toDF("doc_id", "text"),
      "doc_id", "text", want, numBuckets = 8)
    val (a, b) = (allTables(want), allTables(dir))
    for (t <- Seq("postings", "terms", "doclens", "stats"))
      assert(a(t) == b(t), s"$t diverged after takedown:\nwant=${a(t)}\ngot=${b(t)}")
    assert(searchRows(dir) == searchRows(want))
    // delete-then-append interleave: still equals the from-scratch build
    Retrieval.appendToBm25Index(docs3.toDF("doc_id", "text"), "text", dir)
    Retrieval.removeFromBm25Index(Seq(1L).toDF("doc_id"), dir)
    val want2 = tempDir("bm25-rm-want2")
    Retrieval.saveBm25Index(
      ((docs1 ++ docs2).filterNot(d => Set(1L, 2L, 9L, 4L).contains(d._1)) ++ docs3)
        .toDF("doc_id", "text"),
      "doc_id", "text", want2, numBuckets = 8)
    val (a2, b2) = (allTables(want2), allTables(dir))
    for (t <- Seq("postings", "terms", "doclens", "stats"))
      assert(a2(t) == b2(t), s"$t diverged after delete-then-append")
    assert(searchRows(dir) == searchRows(want2))
    // removing ids never ingested is a no-op
    Retrieval.removeFromBm25Index(Seq(777L).toDF("doc_id"), dir)
    assert(allTables(dir) == b2)
  }

  test("chunk-grain index: doc takedown removes ALL its chunks; append a doc's chunks; serve ≡ rebuild") {
    // the q269/q274 RAG shape: documents chunked to (cid = doc_id*1000 +
    // chunk_idx, chunk), indexed at CHUNK grain — a document takedown
    // must forget every chunk of the doc (the provenance join makes the
    // cid set exact), and appending a new document adds all its chunks
    def chunksOf(docs: Seq[(Long, String)]): DataFrame =
      Retrieval.chunkText(docs.toDF("doc_id", "text"), "doc_id", "text",
          chunkSize = 12, overlap = 4)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
    val longDocs = Seq(
      (1L, "spark shuffles data between stages and resizes partitions"),
      (2L, "broadcast joins avoid the shuffle on small dimension tables"),
      (3L, "catalyst prunes columns and partitions before the scan"))
    val dir = tempDir("bm25-chunk")
    Retrieval.saveBm25Index(chunksOf(longDocs), "cid", "chunk", dir, numBuckets = 8)
    def serve(d: String) = Retrieval.bm25SearchPreindexed(
        spark, d, Seq((1L, "shuffle partitions"), (2L, "broadcast tables"))
          .toDF("qid", "qtext"), "qid", "qtext", topK = 5)
      .collect().map(_.toSeq).toSet
    // takedown doc 2: its cid set comes from the chunk frame itself
    // (provenance), so every chunk goes — no orphan postings
    val doomed = chunksOf(longDocs.filter(_._1 == 2L)).select("cid")
    Retrieval.removeFromBm25Index(doomed, dir)
    val want = tempDir("bm25-chunk-want")
    Retrieval.saveBm25Index(chunksOf(longDocs.filterNot(_._1 == 2L)),
      "cid", "chunk", want, numBuckets = 8)
    for (t <- Seq("postings", "terms", "doclens", "stats"))
      assert(tableRows(dir, t) == tableRows(want, t), s"$t diverged after doc takedown")
    assert(serve(dir) == serve(want))
    assert(!serve(dir).exists(r => r(2).asInstanceOf[Long] / 1000L == 2L),
      "no chunk of the removed doc may serve")
    // append a new doc: all its chunks join the index
    val doc4 = Seq((4L, "adaptive execution salts the skewed shuffle keys"))
    Retrieval.appendToBm25Index(chunksOf(doc4), "chunk", dir)
    val want2 = tempDir("bm25-chunk-want2")
    Retrieval.saveBm25Index(chunksOf(longDocs.filterNot(_._1 == 2L) ++ doc4),
      "cid", "chunk", want2, numBuckets = 8)
    for (t <- Seq("postings", "terms", "doclens", "stats"))
      assert(tableRows(dir, t) == tableRows(want2, t), s"$t diverged after doc append")
    assert(serve(dir) == serve(want2))
  }

  test("bm25 id typing: int ids serve as long (empty or not); string ids refuse up front") {
    // INT-typed ids: the heap serves longs; the EMPTY batch must match
    val dir = tempDir("bm25-intid")
    Retrieval.saveBm25Index(
      Seq((1, "alpha beta"), (2, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", dir, numBuckets = 4)
    val res = Retrieval.bm25SearchPreindexed(spark, dir,
      Seq((1L, "beta")).toDF("qid", "qtext"), "qid", "qtext", topK = 3)
    assert(res.schema("doc_id").dataType == org.apache.spark.sql.types.LongType)
    val empty = Retrieval.bm25SearchPreindexed(spark, dir,
      Seq((1L, "   ")).toDF("qid", "qtext"), "qid", "qtext", topK = 3)
    assert(empty.count() == 0)
    assert(empty.schema("doc_id").dataType == res.schema("doc_id").dataType &&
      empty.columns.toSeq == res.columns.toSeq,
      s"empty/non-empty schema diverged: ${empty.schema} vs ${res.schema}")
    // STRING-typed ids: refused identically for empty AND non-empty
    // batches (the heap could only fail row-by-row, and an empty batch
    // not at all — the silent divergence the up-front check closes)
    val sdir = tempDir("bm25-strid")
    Retrieval.saveBm25Index(
      Seq(("a", "alpha beta"), ("b", "beta gamma")).toDF("name", "text"),
      "name", "text", sdir, numBuckets = 4)
    for (qtext <- Seq("beta", "   ")) {
      val err = intercept[IllegalArgumentException] {
        Retrieval.bm25SearchPreindexed(spark, sdir,
          Seq((1L, qtext)).toDF("qid", "qtext"), "qid", "qtext", topK = 3)
      }
      assert(err.getMessage.contains("withSurrogateId"), s"got: ${err.getMessage}")
    }
    // the index TABLES keep the original type — string-id takedown works
    // (maintenance never rides the heap)
    Retrieval.removeFromBm25Index(Seq("a").toDF("name"), sdir)
    val left = spark.read.parquet(s"$sdir/doclens")
      .collect().map(_.getString(0)).toSet
    assert(left == Set("b"))
    val st = spark.read.parquet(s"$sdir/stats").head()
    assert(st.getAs[Long]("__n") == 1L && st.getAs[Long]("__sumdl") == 2L)
  }

  test("ivf append/compact/takedown: bit-identical serving vs rebuild") {
    val rnd = new scala.util.Random(7)
    val emb1 = (0 until 30).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat())))
    val emb2 = (30 until 45).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat())))
    val qs = (100 until 103).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat())))
    val cents = Similarity.trainIvfCentroids(
      emb1.toDF("vec_id", "embedding"), "embedding", nLists = 4)
    def serve(path: String) = Similarity.ivfTopKPreassigned(
        spark.read.parquet(s"$path/corpus"), qs.toDF("vec_id", "embedding"),
        k = 5, Similarity.loadIvfCentroids(spark, path), nProbe = 3)
      .collect().map(_.toSeq).toSet

    val dir = tempDir("ivf-maint")
    Similarity.saveIvfIndex(emb1.toDF("vec_id", "embedding"), cents, dir)
    Similarity.appendToIvfIndex(emb2.toDF("vec_id", "embedding"), dir)
    val once = tempDir("ivf-once")
    Similarity.saveIvfIndex((emb1 ++ emb2).toDF("vec_id", "embedding"), cents, once)
    assert(serve(dir) == serve(once), "append drifted from save-once")

    val filesBefore = dataFiles(s"$dir/corpus").size
    val contentBefore = spark.read.parquet(s"$dir/corpus")
      .withColumn("list_id", col("list_id").cast("long"))
      .collect().map(_.toSeq).toSet
    Similarity.compactIvfIndex(spark, dir)
    val contentAfter = spark.read.parquet(s"$dir/corpus")
      .withColumn("list_id", col("list_id").cast("long"))
      .collect().map(_.toSeq).toSet
    assert(contentAfter == contentBefore, "compaction changed the corpus")
    assert(serve(dir) == serve(once))
    assert(dataFiles(s"$dir/corpus").size < filesBefore)

    // takedown: remove a slice; serving equals an index rebuilt without it
    val doomed = (emb1 ++ emb2).map(_._1).filter(_ % 5 == 2)
    Similarity.removeFromIvfIndex(doomed.toDF("vec_id"), dir)
    val wantRm = tempDir("ivf-rm-want")
    Similarity.saveIvfIndex(
      (emb1 ++ emb2).filterNot(e => doomed.contains(e._1)).toDF("vec_id", "embedding"),
      cents, wantRm)
    assert(serve(dir) == serve(wantRm), "takedown drifted from rebuild")

    // crash-sim: a marked swap replays idempotently
    val live = spark.read.parquet(s"$dir/corpus")
      .withColumn("list_id", col("list_id").cast("int"))
    live.write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/${IndexCommit.StagingName}/corpus")
    IndexCommit.writeMarker(IndexCommit.fsFor(spark, dir),
      new org.apache.hadoop.fs.Path(dir), Seq("swap" -> "corpus"))
    assert(IndexCommit.recover(spark, dir))
    assert(serve(dir) == serve(wantRm))
  }

  test("span-index takedown: removed doc's fingerprints fold out, rest keeps deduping") {
    import graft.ops.Dedup
    val span = 3
    val d1 = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("id", "text")
    val d2 = Seq((3L, "the quick brown fox went home early today")).toDF("id", "text")
    val dir = tempDir("span-rm")
    // two streaming-shaped versions of the fingerprint index
    val (_, f1) = Dedup.selfDedupAgainstIndex(d1, "text", "id", span, None)
    f1.write.parquet(s"$dir/v000000000")
    val (_, f2) = Dedup.selfDedupAgainstIndex(d2, "text", "id", span,
      Some(spark.read.parquet(s"$dir/v000000000")))
    f2.write.parquet(s"$dir/v000000001")
    val union = spark.read.option("recursiveFileLookup", "true").parquet(dir)
      .select("h").distinct().collect().map(_.getString(0)).toSet
    // take down doc 1: its window hashes fold out of the index
    graft.streaming.StreamingEval.removeFromSpanIndex(
      spark, dir, upToBatchId = 2L,
      Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text"),
      "text", "id", span)
    val folded = spark.read.option("recursiveFileLookup", "true").parquet(dir)
      .select("h").collect().map(_.getString(0)).toSet
    val rmH = Dedup.windowHashes(
      Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text"),
      "text", "id", span).collect().map(_.getString(0)).toSet
    assert(folded == union -- rmH, "fold must equal union minus removed hashes")
    assert(folded.nonEmpty, "other docs' fingerprints must survive")
    // a re-ingest of the forgotten text is NOT suppressed anymore...
    val (cleanBack, _) = Dedup.selfDedupAgainstIndex(
      Seq((9L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text"),
      "text", "id", span, Some(spark.read.option("recursiveFileLookup", "true").parquet(dir)))
    assert(cleanBack.collect().head.getString(1) ==
      "the quick brown fox jumps over the lazy dog")
    // ...while standing content (doc 2's) still dedups against the index
    val (cutBack, _) = Dedup.selfDedupAgainstIndex(
      Seq((10L, "pack my box with five dozen liquor jugs")).toDF("id", "text"),
      "text", "id", span, Some(spark.read.option("recursiveFileLookup", "true").parquet(dir)))
    assert(cutBack.collect().head.getString(1) == "",
      "standing fingerprints must still suppress")
  }

  test("flat ingest-index takedown: remove equals rebuild, compacts files, ingest keeps vetting") {
    import graft.ops.Dedup
    val corpus1 = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val corpus2 = Seq((3L, "red orange yellow green blue indigo")).toDF("doc_id", "text")
    val dir = tempDir("ingest-rm")
    // two append batches, the ingestWith layout (flat parquet dir)
    Dedup.polySignatures(corpus1, "text", "doc_id", 8, 3)
      .write.mode("append").parquet(dir)
    Dedup.polySignatures(corpus2, "text", "doc_id", 8, 3)
      .write.mode("append").parquet(dir)
    val before = spark.read.parquet(dir)
    assert(before.count() == 3L)
    val filesBefore = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    // take down doc 2: index equals a rebuild from the filtered corpus
    graft.streaming.StreamingEval.removeFromIngestIndex(
      spark, dir, Seq(Tuple1(2L)).toDF("doc_id"), "doc_id")
    val after = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val rebuilt = Dedup.polySignatures(
        corpus1.filter(col("doc_id") =!= 2L).unionByName(corpus2),
        "text", "doc_id", 8, 3)
      .collect().map(_.toSeq).toSet
    assert(after == rebuilt, "takedown must equal rebuild-without-the-doc")
    // the rewrite is also the compaction point: one file-set remains
    val filesAfter = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(filesAfter <= filesBefore, s"$filesBefore -> $filesAfter files")
    // the ingest loop keeps vetting against the standing rows: doc 1's
    // twin is rejected, the forgotten doc 2's twin is admitted again
    val probes = Seq((11L, "alpha beta gamma delta epsilon zeta"),
      (12L, "one two three four five six seven")).toDF("doc_id", "text")
    val sigs = Dedup.polySignatures(probes, "text", "doc_id", 8, 3)
    val hits = Dedup.incrementalNearDupPairsFromSigs(
        spark.read.parquet(dir), sigs, "doc_id", 0.5, 8, 4)
      .select("new_id").distinct().collect().map(_.getLong(0)).toSet
    assert(hits == Set(11L), s"expected only the standing twin to hit, got $hits")
  }

  test("flat ingest-index takedown: unmarked stage discards, marked stage replays") {
    import graft.ops.Dedup
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val dir = tempDir("ingest-crash")
    Dedup.polySignatures(corpus, "text", "doc_id", 8, 3)
      .write.mode("append").parquet(dir)
    val untouched = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    // crash BEFORE the marker: stage exists, no _COMMIT -> discarded
    graft.streaming.StreamingEval.stageIngestTakedown(
      spark, dir, Seq(Tuple1(1L)).toDF("doc_id"), "doc_id")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    assert(!IndexCommit.recover(spark, dir))
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == untouched,
      "an unmarked stage must discard with the live index untouched")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IndexCommit.stagingDir(dir))))
    // crash AFTER the marker: recover must finish the takedown
    IndexCommit.writeMarker(fs, new org.apache.hadoop.fs.Path(dir),
      graft.streaming.StreamingEval.stageIngestTakedown(
        spark, dir, Seq(Tuple1(1L)).toDF("doc_id"), "doc_id"))
    assert(IndexCommit.recover(spark, dir))
    val after = spark.read.parquet(dir)
    assert(after.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L),
      "a marked stage is authoritative: replay completes the takedown")
    // recovery is idempotent: nothing pending afterwards
    assert(!IndexCommit.recover(spark, dir))
  }

  test("ingest batch after a crashed takedown completes it before vetting") {
    import graft.ops.Dedup
    import graft.streaming.StreamingEval
    import org.apache.hadoop.fs.Path
    val dir = tempDir("ingest-tk-crash")
    val hashFn = (b: DataFrame) => Dedup.polySignatures(b, "text", "doc_id", 8, 3)
    val dedupFn = (index: DataFrame, sigs: DataFrame) => {
      val hits = Dedup.incrementalNearDupPairsFromSigs(index, sigs, "doc_id", 0.5, 8, 4)
        .select(col("new_id")).distinct()
      sigs.join(hits, sigs("doc_id") === hits("new_id"), "left_anti")
    }
    val kept = "alpha beta gamma delta epsilon zeta"
    StreamingEval.ingestBatch(Seq((1L, kept)).toDF("doc_id", "text"), 0L, dir,
      hashFn, dedupFn)
    StreamingEval.ingestBatch(Seq((2L, "one two three four five six")).toDF("doc_id", "text"),
      1L, dir, hashFn, dedupFn)
    // a takedown of doc 2 reached its marker, then the crash: the frozen
    // live file holding the RETAINED doc 1 is already deleted
    val fs = IndexCommit.fsFor(spark, dir)
    IndexCommit.writeMarker(fs, new Path(dir), StreamingEval.stageIngestTakedown(
      spark, dir, Seq(Tuple1(2L)).toDF("doc_id"), "doc_id"))
    val keptFile = spark.read.parquet(dir).filter(col("doc_id") === 1L)
      .select(input_file_name()).head().getString(0)
    fs.delete(new Path(keptFile), false)
    // the next batch must vet against the completed takedown: the twin of
    // the retained doc is rejected
    StreamingEval.ingestBatch(Seq((11L, kept)).toDF("doc_id", "text"), 2L, dir,
      hashFn, dedupFn)
    assert(spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L))
  }

  test("forward sidecar: append ≡ rebuild, bucket-pruned takedown, compaction folds, tags fence") {
    import graft.ops.Retrieval
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    def doc(i: Int) = (0 until 6).map(j => s"w$i$j tok$i").mkString(" ")
    val d1 = (1L to 20L).map(i => (i, doc(i.toInt)))
    val d2 = (21L to 30L).map(i => (i, doc(i.toInt)))
    val p = tempDir("graft-fwd")
    Retrieval.saveBm25Forward(d1.toDF("doc_id", "text"), "doc_id", "text", p,
      numBuckets = 4)
    def rows(path: String) = spark.read.parquet(s"$path/docterms")
      .select("__docid", "term", "__tf").collect().map(_.toSeq).toSet
    def nrows(path: String) = spark.read.parquet(s"$path/stats")
      .head().getAs[Long]("__nrows")
    // tagged append lands once; a retried tag no-ops
    Retrieval.appendToBm25Forward(d2.toDF("doc_id", "text"), "text", p,
      batchTag = Some(1L))
    val want = tempDir("graft-fwd-ref")
    Retrieval.saveBm25Forward((d1 ++ d2).toDF("doc_id", "text"), "doc_id", "text",
      want, numBuckets = 4)
    assert(rows(p) == rows(want), "append must equal the rebuild")
    assert(nrows(p) == nrows(want))
    Retrieval.appendToBm25Forward(d2.toDF("doc_id", "text"), "text", p,
      batchTag = Some(1L))
    assert(rows(p) == rows(want), "a replayed tag must no-op")
    // takedown: only the removed ids' buckets rewrite; rows == rebuild
    def files(b: Long) = fs.listStatus(new Path(s"$p/docterms/doc_bucket=$b"))
      .map(s => s.getPath.getName -> s.getModificationTime).toSet
    val rmId = 7L
    val rmBucket = spark.range(1).select(
      pmod(xxhash64(lit(rmId)), lit(4L))).head().getLong(0)
    val before = (0L to 3L).filter(_ != rmBucket).map(b => b -> files(b)).toMap
    Retrieval.removeFromBm25Forward(Seq(rmId).toDF("doc_id"), p)
    val want2 = tempDir("graft-fwd-ref2")
    Retrieval.saveBm25Forward(
      (d1 ++ d2).filter(_._1 != rmId).toDF("doc_id", "text"), "doc_id", "text",
      want2, numBuckets = 4)
    assert(rows(p) == rows(want2), "takedown must equal the rebuild")
    assert(nrows(p) == nrows(want2))
    assert((0L to 3L).filter(_ != rmBucket).forall(b => files(b) == before(b)),
      "untouched buckets must keep their files")
    // unknown ids are a no-op
    Retrieval.removeFromBm25Forward(Seq(99999L).toDF("doc_id"), p)
    assert(rows(p) == rows(want2))
    // compaction folds per-append files, rows identical, tags keep fencing
    val filesBefore = (0L to 3L).map(b => fs.listStatus(
      new Path(s"$p/docterms/doc_bucket=$b"))
      .count(s => s.getPath.getName.endsWith(".parquet"))).sum
    Retrieval.compactBm25Forward(spark, p)
    val filesAfter = (0L to 3L).map(b => fs.listStatus(
      new Path(s"$p/docterms/doc_bucket=$b"))
      .count(s => s.getPath.getName.endsWith(".parquet"))).sum
    assert(filesAfter < filesBefore, s"compaction must fold: $filesBefore -> $filesAfter")
    assert(rows(p) == rows(want2))
    Retrieval.appendToBm25Forward(d2.toDF("doc_id", "text"), "text", p,
      batchTag = Some(1L))
    assert(rows(p) == rows(want2), "tags must fence across compaction")
    // wiping everything leaves a short-circuiting (not crashing) sidecar
    Retrieval.removeFromBm25Forward((d1 ++ d2).map(_._1).toDF("doc_id"), p)
    assert(nrows(p) == 0L)
  }

  test("fused BM25+forward lifecycle: one marker; append/takedown/compact keep served PRF ≡ ad-hoc") {
    import spark.implicits._
    val idx = tempDir("graft-fused")
    Retrieval.saveBm25WithForward(docs1.toDF("doc_id", "text"),
      "doc_id", "text", idx, numBuckets = 4)
    val fwd = Retrieval.bm25ForwardPathFor(idx)
    val qs = queries.toDF("qid", "qtext")
    def served = Retrieval.bm25SearchPrfPreindexed(spark, idx, fwd, qs,
      "qid", "qtext", topK = 5, fbDocs = 2, fbTerms = 2)
      .collect().map(_.toSeq).toSet
    def adhoc(rows: Seq[(Long, String)]) = Retrieval.bm25SearchPrf(
      rows.toDF("doc_id", "text"), "doc_id", "text", qs, "qid", "qtext",
      topK = 5, fbDocs = 2, fbTerms = 2).collect().map(_.toSeq).toSet
    assert(served == adhoc(docs1), "fused save must serve exact PRF")
    // fused append: ONE call advances both artifacts; a retried tag
    // no-ops BOTH halves (the single fence covers the pair)
    Retrieval.appendToBm25WithForward(docs2.toDF("doc_id", "text"), "text",
      idx, batchTag = Some(1L))
    assert(served == adhoc(docs1 ++ docs2), "fused append must stay exact")
    Retrieval.appendToBm25WithForward(docs2.toDF("doc_id", "text"), "text",
      idx, batchTag = Some(1L))
    assert(served == adhoc(docs1 ++ docs2), "a replayed tag must no-op both")
    // crash BETWEEN the fused stage and the marker: staging discards,
    // NEITHER artifact moves (the one-marker atomicity the fusion buys)
    val rmIds = Seq(2L, 6L).toDF("doc_id")
    Retrieval.stageBm25Remove(rmIds, idx)
    Retrieval.stageForwardRemove(rmIds, fwd, idx, "forward/")
    assert(!IndexCommit.recover(spark, idx),
      "an unmarked fused stage must discard")
    assert(served == adhoc(docs1 ++ docs2),
      "a pre-marker crash must leave BOTH artifacts untouched")
    // crash AFTER the marker: recovery replays BOTH halves
    val actions = Retrieval.stageBm25Remove(rmIds, idx) ++
      Retrieval.stageForwardRemove(rmIds, fwd, idx, "forward/")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    IndexCommit.writeMarker(fs, new org.apache.hadoop.fs.Path(idx), actions)
    assert(IndexCommit.recover(spark, idx),
      "a marked fused stage must replay")
    val kept = (docs1 ++ docs2).filterNot(r => Set(2L, 6L)(r._1))
    assert(served == adhoc(kept),
      "post-marker recovery must complete the takedown on BOTH artifacts")
    // takedown audit across BOTH artifacts reads clean
    val audit = graft.ops.Reports.takedownAudit(spark, rmIds, "doc_id", Seq(
      ("bm25_doclens", s"$idx/doclens", "__docid"),
      ("bm25_forward", s"$fwd/docterms", "__docid")))
    assert(audit.collect().forall(_.getAs[Boolean]("clean")),
      "fused takedown must scrub index AND sidecar")
    // the fused entry point itself (same semantics as the staged pair)
    Retrieval.removeFromBm25WithForward(Seq(7L).toDF("doc_id"), idx)
    val kept2 = kept.filterNot(_._1 == 7L)
    assert(served == adhoc(kept2))
    // fused compaction: content identical, served still exact
    Retrieval.compactBm25WithForward(spark, idx)
    assert(served == adhoc(kept2), "fused compaction must not move content")
    // a fresh STANDALONE save owns the root: the stale fused sidecar
    // from the previous family must not survive out of step
    Retrieval.saveBm25Index(kept2.toDF("doc_id", "text"), "doc_id", "text",
      idx, numBuckets = 4)
    assert(!new java.io.File(fwd).exists(),
      "a standalone rebuild must drop the previous fused sidecar")
  }

  test("takedown audit names a planted sidecar miss (the two-call footgun the fusion closes)") {
    import spark.implicits._
    val idx = tempDir("graft-fused-miss")
    Retrieval.saveBm25WithForward((docs1 ++ docs2).toDF("doc_id", "text"),
      "doc_id", "text", idx, numBuckets = 4)
    val fwd = Retrieval.bm25ForwardPathFor(idx)
    // the footgun: takedown issued against the postings index ONLY —
    // the forward sidecar silently keeps serving the forgotten doc's
    // feedback terms
    val rm = Seq(3L).toDF("doc_id")
    Retrieval.removeFromBm25Index(rm, idx)
    val audit = graft.ops.Reports.takedownAudit(spark, rm, "doc_id", Seq(
        ("bm25_doclens", s"$idx/doclens", "__docid"),
        ("bm25_forward", s"$fwd/docterms", "__docid")))
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("clean")).toMap
    assert(audit("bm25_doclens"), "the index side was scrubbed")
    assert(!audit("bm25_forward"),
      "the audit must NAME the forgotten sidecar as dirty")
    // honoring the request through the fused op scrubs what remains
    Retrieval.removeFromBm25WithForward(rm, idx)
    val after = graft.ops.Reports.takedownAudit(spark, rm, "doc_id", Seq(
      ("bm25_doclens", s"$idx/doclens", "__docid"),
      ("bm25_forward", s"$fwd/docterms", "__docid")))
    assert(after.collect().forall(_.getAs[Boolean]("clean")))
  }

  test("chunk-grain RTBF by DOC id: cids from doclens alone, fused pair scrubbed, plain path too, bad id refuses") {
    def chunksOf(docs: Seq[(Long, String)]): DataFrame =
      Retrieval.chunkText(docs.toDF("doc_id", "text"), "doc_id", "text",
          chunkSize = 12, overlap = 4)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
    val longDocs = Seq(
      (1L, "spark shuffles data between stages and resizes partitions"),
      (2L, "broadcast joins avoid the shuffle on small dimension tables"),
      (3L, "catalyst prunes columns and partitions before the scan"))
    def serveChunks(d: String) = Retrieval.bm25SearchPreindexed(
        spark, d, Seq((1L, "shuffle partitions"), (2L, "broadcast tables"))
          .toDF("qid", "qtext"), "qid", "qtext", topK = 5)
      .collect().map(_.toSeq).toSet
    // fused chunk family: takedown by DOCUMENT id with NO corpus access
    // (the source docs are "already deleted" — only the index exists)
    val idx = tempDir("graft-chunk-rtbf")
    Retrieval.saveBm25WithForward(chunksOf(longDocs), "cid", "chunk", idx,
      numBuckets = 8)
    Retrieval.removeDocsFromChunkIndex(Seq(2L).toDF("doc_id"), idx)
    val want = tempDir("graft-chunk-rtbf-want")
    Retrieval.saveBm25WithForward(chunksOf(longDocs.filterNot(_._1 == 2L)),
      "cid", "chunk", want, numBuckets = 8)
    for (t <- Seq("postings", "terms", "doclens", "stats",
        "forward/docterms", "forward/stats"))
      assert(tableRows(idx, t) == tableRows(want, t),
        s"$t diverged after doc-grain chunk takedown")
    assert(serveChunks(idx) == serveChunks(want))
    assert(!serveChunks(idx).exists(r => r(2).asInstanceOf[Long] / 1000L == 2L),
      "no chunk of the forgotten doc may serve")
    // plain (sidecar-less) chunk index takes the index-only remove path
    val plain = tempDir("graft-chunk-rtbf-plain")
    Retrieval.saveBm25Index(chunksOf(longDocs), "cid", "chunk", plain,
      numBuckets = 8)
    Retrieval.removeDocsFromChunkIndex(Seq(2L, 999L).toDF("doc_id"), plain)
    val wantPlain = tempDir("graft-chunk-rtbf-plainwant")
    Retrieval.saveBm25Index(chunksOf(longDocs.filterNot(_._1 == 2L)),
      "cid", "chunk", wantPlain, numBuckets = 8)
    for (t <- Seq("postings", "terms", "doclens", "stats"))
      assert(tableRows(plain, t) == tableRows(wantPlain, t),
        s"$t diverged on the plain path (unknown id must no-op)")
    // a non-castable doc id refuses loudly with the surrogate pointer
    val e = intercept[Exception] {
      Retrieval.removeDocsFromChunkIndex(Seq("doc-uuid-7").toDF("doc_id"), plain)
    }
    assert(e.getMessage.contains("withSurrogateId"), e.getMessage)
  }

  test("positional index: served phrase search ≡ ad-hoc through append/remove/compact; tf-only refuses") {
    val corpus1 = Seq(
      (1L, "the quick brown fox jumps over the quick dog"),
      (2L, "quick brown quick brown fox"),
      (3L, "brown quick"),
      (4L, ""))
    val corpus2 = Seq(
      (5L, "a quick brown fox appears"),
      (6L, "nothing relevant here"))
    val phrases = Seq(
      (10L, "quick brown"), (11L, "fox jumps"), (12L, "quick brown quick"),
      (13L, "the quick"), (14L, "absent words")).toDF("pid", "phrase")
    def adhoc(rows: Seq[(Long, String)]) =
      Retrieval.phraseSearch(rows.toDF("doc_id", "text"), "doc_id", "text",
        phrases, "pid", "phrase").collect().map(_.toSeq).toSet
    def served(d: String) =
      Retrieval.phraseSearchPreindexed(spark, d, phrases, "pid", "phrase")
        .collect().map(_.toSeq).toSet
    val dir = tempDir("bm25-positional")
    Retrieval.saveBm25Index(corpus1.toDF("doc_id", "text"), "doc_id", "text",
      dir, numBuckets = 8, withPositions = true)
    assert(served(dir) == adhoc(corpus1),
      "served phrase search must equal the ad-hoc operator")
    assert(served(dir).nonEmpty)
    // the positional column must not disturb BM25 serving: a tf-only
    // twin index answers identically
    val plain = tempDir("bm25-positional-plain")
    Retrieval.saveBm25Index(corpus1.toDF("doc_id", "text"), "doc_id", "text",
      plain, numBuckets = 8)
    assert(searchRows(dir) == searchRows(plain),
      "BM25 over a positional index must equal the tf-only index")
    // append keeps the positional mode: increment rows carry positions
    Retrieval.appendToBm25Index(corpus2.toDF("doc_id", "text"), "text", dir)
    assert(served(dir) == adhoc(corpus1 ++ corpus2),
      "append must extend the positional tree")
    // takedown: anti-join keeps the positions of survivors
    Retrieval.removeFromBm25Index(Seq(2L).toDF("doc_id"), dir)
    val kept = (corpus1 ++ corpus2).filterNot(_._1 == 2L)
    assert(served(dir) == adhoc(kept), "takedown must forget positions too")
    // compaction rewrites identical content
    Retrieval.compactBm25Index(spark, dir)
    assert(served(dir) == adhoc(kept), "compaction must not move content")
    // a tf-only index refuses the positional operator loudly
    val e = intercept[IllegalArgumentException] { served(plain) }
    assert(e.getMessage.contains("withPositions"), e.getMessage)
    // proximity serves off the SAME artifact: window parity vs ad-hoc
    // (doc 3 "brown quick" matches reversed; spans beyond the window
    // drop), through the same post-maintenance tree
    val prox = Seq((1L, "quick dog"), (2L, "fox brown")).toDF("qid", "qtext")
    for (w <- Seq(3, 6)) {
      val adhocProx = Retrieval.proximitySearch(kept.toDF("doc_id", "text"),
          "doc_id", "text", prox, "qid", "qtext", window = w)
        .collect().map(_.toSeq).toSet
      val servedProx = Retrieval.proximitySearchPreindexed(spark, dir, prox,
          "qid", "qtext", window = w)
        .collect().map(_.toSeq).toSet
      assert(servedProx == adhocProx, s"window $w: $servedProx != $adhocProx")
    }
    assert(Retrieval.proximitySearchPreindexed(spark, dir, prox, "qid",
      "qtext", window = 6).count() > 0)
    val e2 = intercept[IllegalArgumentException] {
      Retrieval.proximitySearchPreindexed(spark, plain, prox, "qid", "qtext")
        .collect()
    }
    assert(e2.getMessage.contains("withPositions"), e2.getMessage)
  }

  test("describeBm25Index: hand-computed corpus facts; bucket balance sums; tracks maintenance") {
    val dir = tempDir("bm25-describe")
    Retrieval.saveBm25Index(docs1.toDF("doc_id", "text"), "doc_id", "text",
      dir, numBuckets = 8)
    val r = Retrieval.describeBm25Index(spark, dir).head()
    // docs1: four 5-token docs + one token-less
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[Long]("n_dl") == 5L)
    assert(r.getAs[Long]("sum_dl") == 20L)
    assert(r.getAs[Double]("avgdl_r") == 4.0)
    assert(r.getAs[Long]("n_tokenless") == 1L)
    assert(r.getAs[Long]("min_dl") == 0L)
    assert(r.getAs[Long]("max_dl") == 5L)
    assert(r.getAs[Long]("vocab_size") == 17L) // distinct terms
    assert(r.getAs[Long]("max_df") == 2L) // 'the' / 'shuffle' / 'partitions'
    assert(r.getAs[Long]("postings_rows") == 20L)
    // bucket balance: shares sum to the postings volume, within bounds
    assert(r.getAs[Int]("num_buckets") == 8)
    assert(r.getAs[Long]("buckets_used") >= 1L &&
      r.getAs[Long]("buckets_used") <= 8L)
    assert(r.getAs[Long]("max_bucket_rows") >= 3L) // ceil(20/8)
    // the report tracks maintenance: after a takedown it equals the
    // rebuilt index's report
    Retrieval.removeFromBm25Index(Seq(2L, 4L).toDF("doc_id"), dir)
    val want = tempDir("bm25-describe-want")
    Retrieval.saveBm25Index(
      docs1.filterNot(d => Set(2L, 4L)(d._1)).toDF("doc_id", "text"),
      "doc_id", "text", want, numBuckets = 8)
    assert(Retrieval.describeBm25Index(spark, dir).collect().toSeq ==
      Retrieval.describeBm25Index(spark, want).collect().toSeq)
  }

  test("describeIvfIndex: cell balance facts, dead cells named, tracks takedown") {
    val dir = tempDir("ivf-describe")
    val r7 = new scala.util.Random(11)
    val vecs = (1L to 30L).map(i => (i, Seq.fill(4)(r7.nextDouble())))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainKmeansPortable(vecs, "vec_id", "embedding",
      k = 4, iters = 2)
    Similarity.saveIvfIndex(vecs, cents, dir)
    val r = Similarity.describeIvfIndex(spark, dir).head()
    assert(r.getAs[Long]("n_vecs") == 30L)
    assert(r.getAs[Long]("n_cells") == cents.size.toLong)
    assert(r.getAs[Long]("cells_used") >= 1L &&
      r.getAs[Long]("cells_used") <= cents.size.toLong)
    assert(r.getAs[Long]("max_cell_rows") >= 30L / cents.size)
    assert(r.getAs[Double]("mean_cell_r") ==
      math.rint(30.0 / cents.size * 1e6) / 1e6 ||
      r.getAs[Double]("mean_cell_r") > 0.0) // 6dp round via Spark round
    assert(r.getAs[Double]("skew_r") >= 1.0 - 1e-9)
    // takedown shrinks the report consistently
    Similarity.removeFromIvfIndex((1L to 10L).toDF("vec_id"), dir)
    val r2 = Similarity.describeIvfIndex(spark, dir).head()
    assert(r2.getAs[Long]("n_vecs") == 20L)
    assert(r2.getAs[Long]("n_cells") == cents.size.toLong)
  }

  test("a tagged append whose tag already committed launches no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.graft.ListenerBridge
    import graft.io.Layout
    val sc = spark.sparkContext
    val idx = tempDir("graft-fence-jobs")
    Retrieval.saveBm25Index(docs1.toDF("doc_id", "text"), "doc_id", "text", idx,
      numBuckets = 4)
    Retrieval.appendToBm25Index(docs2.toDF("doc_id", "text"), "text", idx,
      batchTag = Some(0L))
    val out = tempDir("graft-fence-jobs-export")
    Layout.writeShardsWithManifest(Seq((1L, "a")).toDF("id", "payload"), "id", out,
      numShards = 2)
    Layout.appendShardsWithManifest(Seq((2L, "b")).toDF("id", "payload"), out,
      batchTag = Some(0L))
    def jobsOf(retry: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      ListenerBridge.waitUntilEmpty(sc)
      sc.addSparkListener(listener)
      try { retry; ListenerBridge.waitUntilEmpty(sc) }
      finally sc.removeSparkListener(listener)
      jobs.get
    }
    val statsBefore = tableRows(idx, "stats")
    assert(jobsOf(Retrieval.appendToBm25Index(docs2.toDF("doc_id", "text"), "text",
      idx, batchTag = Some(0L))) == 0)
    assert(tableRows(idx, "stats") == statsBefore, "the retry must no-op")
    assert(jobsOf(Layout.appendShardsWithManifest(Seq((2L, "b")).toDF("id", "payload"),
      out, batchTag = Some(0L))) == 0)
    assert(spark.read.parquet(s"$out/data").count() == 2L, "the retry must no-op")
  }

  test("a root holding the old batches/ tag table refuses a tagged append; a fresh save clears it") {
    val fs = IndexCommit.fsFor(spark, "/")
    val idx = tempDir("graft-old-fence")
    Retrieval.saveBm25Index(docs1.toDF("doc_id", "text"), "doc_id", "text", idx,
      numBuckets = 4)
    IndexCommit.writeRow(spark, s"$idx/batches", "batch_tag" -> 0L)
    val before = allTables(idx)
    val e = intercept[IllegalStateException] {
      Retrieval.appendToBm25Index(docs2.toDF("doc_id", "text"), "text", idx,
        batchTag = Some(1L))
    }
    assert(e.getMessage.contains(idx) && e.getMessage.contains("batches/"), e.getMessage)
    assert(allTables(idx) == before, "a refused append must publish nothing")
    Retrieval.saveBm25Index(docs1.toDF("doc_id", "text"), "doc_id", "text", idx,
      numBuckets = 4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/batches")))
    Retrieval.appendToBm25Index(docs2.toDF("doc_id", "text"), "text", idx,
      batchTag = Some(0L))
    assert(IndexCommit.tagCommitted(spark, idx, 0L))
    assert(allTables(idx) != before, "the old table's tag 0 must not fence")
  }

  test("fence fold stopped after its marker: recover completes it, committed ids stay fenced") {
    import org.apache.hadoop.fs.Path
    val fs = IndexCommit.fsFor(spark, "/")
    val idx = tempDir("graft-fence-fold")
    Retrieval.saveBm25Index(docs1.toDF("doc_id", "text"), "doc_id", "text", idx,
      numBuckets = 4)
    // committed ids 0, 1 and 3: a gap at 2
    Seq(0L -> docs2, 1L -> docs3, 3L -> Seq((12L, "late shuffle"))).foreach {
      case (tag, d) =>
        Retrieval.appendToBm25Index(d.toDF("doc_id", "text"), "text", idx,
          batchTag = Some(tag))
    }
    def fences() = fs.listStatus(new Path(s"$idx/_batches")).map(_.getPath.getName).toSet
    assert(fences() == Set("b0", "b1", "b3"))
    // stage the fold and write its marker, then "crash" before the replay
    val actions = IndexCommit.stageTagCompaction(spark, idx).toSeq
    IndexCommit.writeMarker(fs, new Path(idx), actions)
    assert(IndexCommit.recover(spark, idx), "a marked fold must replay")
    assert(fences() == Set("range_0_1", "range_3_3"))
    assert(!fs.exists(new Path(IndexCommit.stagingDir(idx))))
    assert(Seq(0L, 1L, 3L).forall(IndexCommit.tagCommitted(spark, idx, _)))
    assert(!IndexCommit.tagCommitted(spark, idx, 2L), "the gap id must stay unfenced")
    // a second replay of the same marker re-runs its deletes: the
    // summaries survive, nothing else changes
    IndexCommit.writeMarker(fs, new Path(idx), actions)
    assert(IndexCommit.recover(spark, idx))
    assert(fences() == Set("range_0_1", "range_3_3"))
    // the folded fences keep the retries no-ops
    val before = allTables(idx)
    Retrieval.appendToBm25Index(docs2.toDF("doc_id", "text"), "text", idx,
      batchTag = Some(0L))
    assert(allTables(idx) == before, "a folded fence must keep fencing")
  }
}
