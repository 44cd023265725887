package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-safe commit for every PERSISTED artifact root: the BM25
  * postings tree and its forward sidecar ([[Retrieval]]), the IVF corpus
  * ([[Similarity]]), the shard export ([[graft.io.Layout]]), the
  * versioned span-fingerprint index and the flat ingest indexes
  * ([[graft.streaming.StreamingEval]]).
  *
  * A maintenance operation (append / compact / takedown / fold) writes
  * every table it will publish under `<root>/_staging/<table>`, then
  * writes a `_COMMIT` marker naming one action per line, then replays
  * the marker. From the moment the marker exists the stage is
  * AUTHORITATIVE: every action is idempotent (a rename whose source is
  * gone already happened; a file move skips files already moved; a
  * delete of a missing path is a no-op), so a crash anywhere is
  * recovered by replaying the marker — which [[recover]] does as the
  * preamble of every maintenance entry point ([[maintain]]). A stage
  * WITHOUT a marker is an incomplete write and is discarded (the live
  * tables are untouched until the marker lands, so discarding loses
  * nothing). The staging name is `_`-prefixed, so a flat parquet root
  * (`spark.read.parquet(root)`) never reads a stage.
  *
  * Actions, applied in marker order:
  *  - `swap <table>`: replace the live table wholesale (delete live dir,
  *    rename staged dir in) — for tables rewritten at their own grain
  *    (terms, stats, a compacted postings tree, a folded span version);
  *  - `merge <table>`: move the staged files INTO the live table,
  *    mirroring partition subdirectories — for append-shaped tables
  *    (postings, doclens), where the increment's files simply join the
  *    live file-set. Spark part-file names carry a per-job UUID, so
  *    staged files can never collide with live ones. `merge .`
  *    ([[Root]]) targets the root itself, for flat parquet roots;
  *  - `delete <path>`: remove a live file or directory (a superseded
  *    span version, a live file a takedown rewrote). A replay re-runs
  *    every delete, so a marker never deletes a path that one of its
  *    own later actions publishes.
  *
  * Exactly-once fence: a streamed batch id (`batchTag` of [[maintain]])
  * commits as the zero-byte file `<root>/_batches/b<tag>`, staged with
  * the batch's tables and published by the same marker (`merge
  * _batches`), so a retried micro-batch finds its fence with a file
  * lookup and no-ops. A fold ([[stageTagCompaction]], riding every
  * compactor's marker, or [[compactTags]] alone) stages one
  * `range_<lo>_<hi>` summary per contiguous run of committed ids and
  * publishes it with `merge _batches` plus one `delete
  * _batches/<entry>` per superseded entry: the same marker covers the
  * fold, so a crash mid-fold replays to the folded state. The fence
  * dir is `_`-prefixed, so flat parquet roots never read it.
  *
  * Concurrency contract: ONE maintenance operation at a time per root
  * (stop the writer before compacting, etc.). Readers of a mid-commit
  * index may see a torn view; serving reads and maintenance are
  * expected to be fenced by the caller. */
object IndexCommit {

  val StagingName = "_staging"
  /** The table name of the root itself, for `merge` into a flat root. */
  val Root = "."
  private val MarkerName = "_COMMIT"
  private val FenceDir = "_batches"
  /** The old fence layout's parquet tag table: refused, never read. */
  private val OldFenceTable = "batches"

  def fsFor(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  def stagingDir(root: String): String = s"$root/$StagingName"

  /** Where `table`'s staged copy is written under `root`'s staging dir. */
  def stagedPath(root: String, table: String): String =
    s"${stagingDir(root)}/${stagedName(table)}"

  private def stagedName(table: String): String =
    if (table == Root) "_root" else table

  /** Preamble for every maintenance op and for readers that want a
    * consistent view after an unclean shutdown: replay a marked stage,
    * discard an unmarked one. Returns true iff a pending commit was
    * replayed — the interrupted operation FINISHED and must not be
    * retried. */
  def recover(spark: SparkSession, root: String): Boolean = {
    val fs = fsFor(spark, root)
    val staging = new Path(root, StagingName)
    if (!fs.exists(staging)) return false
    val marker = new Path(staging, MarkerName)
    if (!fs.exists(marker)) {
      fs.delete(staging, true) // incomplete stage: live tables untouched
      false
    } else {
      replay(fs, new Path(root))
      true
    }
  }

  /** One maintenance operation on `root`: recover any pending commit,
    * no-op when `batchTag` already committed ([[tagCommitted]]), let
    * `stage` write its tables under the staging dir (its argument) and
    * return the actions, then commit them — with the tag's fence file
    * staged as `_batches/b<tag>` and its `merge _batches` riding the
    * same marker. An empty action list means nothing to publish: no
    * commit, and the tag does not fence. A tagged operation refuses a
    * root that still holds the old fence layout's `batches/` parquet
    * table, which is not read: a committed batch would apply twice. */
  def maintain(spark: SparkSession, root: String, batchTag: Option[Long] = None)(
      stage: String => Seq[(String, String)]): Unit = {
    recover(spark, root)
    val fs = fsFor(spark, root)
    if (batchTag.nonEmpty && fs.exists(new Path(root, OldFenceTable)))
      throw new IllegalStateException(
        s"$root holds a `batches/` tag table, the old fence layout, which " +
          "is no longer read: rebuild it with a fresh save before a tagged append")
    if (batchTag.exists(tagCommitted(spark, root, _))) return
    val actions = stage(stagingDir(root))
    if (actions.isEmpty) return
    val fence = batchTag.map { tag =>
      fs.create(new Path(stagedPath(root, FenceDir), s"b$tag"), true).close()
      "merge" -> FenceDir
    }
    writeMarker(fs, new Path(root), actions ++ fence)
    replay(fs, new Path(root))
  }

  /** A FRESH artifact save owns its root: drop a stale stage from a
    * previous artifact at the same path (a MARKED leftover would replay
    * into the new one) and the tag history an old incarnation
    * accumulated (a restarted stream against a rebuilt artifact must
    * not skip batches because the OLD one saw their tags), including
    * the old layout's `batches/` table. */
  def fresh(spark: SparkSession, root: String): Unit = {
    val fs = fsFor(spark, root)
    Seq(StagingName, FenceDir, OldFenceTable).foreach(n => fs.delete(new Path(root, n), true))
  }

  /** The marker write alone — the commit's point of no return, split out
    * so crash-recovery specs can stop the world exactly here (and at
    * hand-made partial-replay states after it) and assert [[recover]]
    * converges. Production code calls [[maintain]]. */
  private[graft] def writeMarker(
      fs: FileSystem, root: Path, actions: Seq[(String, String)]): Unit = {
    require(actions.nonEmpty, "commit needs at least one action")
    require(actions.forall(a => Set("swap", "merge", "delete")(a._1)),
      s"unknown verbs in ${actions.map(_._1).distinct}")
    require(actions.forall(a => a._2 != Root || a._1 == "merge"),
      "only merge may target the root itself")
    val marker = new Path(new Path(root, StagingName), MarkerName)
    atomicWrite(fs, marker,
      actions.map(a => s"${a._1} ${a._2}").mkString("\n").getBytes("UTF-8"))
  }

  /** Exactly-once fence probe for streaming appenders: has `tag`
    * already committed into `root`? A tag's fence file rides the same
    * marker replay as the data it fences ([[maintain]]), so a
    * crash-retried micro-batch that finds its fence knows the whole
    * append landed, and one that doesn't knows none of it did. File
    * lookups only, no Spark job: one existence check, plus a listing
    * of the fence dir (bounded by the fold cadence, [[compactTags]])
    * when the tag has no file of its own. */
  def tagCommitted(spark: SparkSession, root: String, tag: Long): Boolean = {
    val fs = fsFor(spark, root)
    val dir = new Path(root, FenceDir)
    fs.exists(new Path(dir, s"b$tag")) ||
      fs.exists(dir) && fs.listStatus(dir).exists(st =>
        parseRange(st.getPath.getName).exists { case (lo, hi) => lo <= tag && tag <= hi })
  }

  /** `range_<lo>_<hi>` → Some((lo, hi)); anything else, including a
    * stray `range_*` entry that does not parse, → None, so a stray
    * name neither breaks the probe nor fences anything. */
  private def parseRange(n: String): Option[(Long, Long)] =
    n.split("_") match {
      case Array("range", lo, hi) => scala.util.Try((lo.toLong, hi.toLong)).toOption
      case _ => None
    }

  /** Fence fold, staged: a long-lived stream leaves one fence file per
    * batch. Stage one `range_<lo>_<hi>` summary per CONTIGUOUS run of
    * committed ids and return the actions that publish them and
    * delete every entry they supersede (stray names included) — the
    * rider every index family's compactor appends to its own actions,
    * and the whole of [[compactTags]]. A summary never spans a gap: the
    * missing id never committed, and fencing it would turn its retry
    * into a silent loss, so each gap starts a new range.
    * `singleRange = true` refuses a gappy history instead (sequential
    * ids are the foreachBatch norm). Empty when there is nothing to
    * fold. */
  def stageTagCompaction(spark: SparkSession, root: String,
      singleRange: Boolean = false): Seq[(String, String)] = {
    val fs = fsFor(spark, root)
    val dir = new Path(root, FenceDir)
    if (!fs.exists(dir)) return Seq.empty
    val entries = fs.listStatus(dir).map(_.getPath.getName).toSeq
    val ids = entries.filter(_.startsWith("b"))
      .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
    val intervals = (ids.map(i => (i, i)) ++ entries.flatMap(parseRange)).sortBy(_._1)
    if (intervals.isEmpty) return Seq.empty
    // merge touching/overlapping intervals; a gap starts a new run
    val merged = intervals.tail.foldLeft(List(intervals.head)) {
      case ((lo1, hi1) :: rest, (lo2, hi2)) if lo2 <= hi1 + 1 =>
        (lo1, math.max(hi1, hi2)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
    if (singleRange && merged.length > 1)
      throw new IllegalStateException(
        s"compactTags: committed batch ids jump from ${merged.head._2} to " +
          s"${merged(1)._1}; one range over the gap would fence uncommitted " +
          "ids and lose their retries (rerun without singleRange)")
    val summaries = merged.map { case (lo, hi) => s"range_${lo}_$hi" }
    val added = summaries.filterNot(entries.contains)
    added.foreach(s =>
      fs.create(new Path(stagedPath(root, FenceDir), s), true).close())
    // the deletes never name a summary, so a replay cannot undo the merge
    (if (added.nonEmpty) Seq("merge" -> FenceDir) else Nil) ++
      entries.filterNot(summaries.contains).map(n => "delete" -> s"$FenceDir/$n")
  }

  /** OFFLINE fence fold for a long-lived stream ([[stageTagCompaction]]
    * as one commit): every committed id keeps fencing, through one
    * listing of a few summaries. Run with the stream stopped, like
    * every maintenance op. */
  def compactTags(spark: SparkSession, root: String,
      singleRange: Boolean = false): Unit =
    maintain(spark, root)(_ => stageTagCompaction(spark, root, singleRange))

  /** Preamble for a NEW stream incarnation (a fresh checkpoint) against
    * a standing root: batch ids restart at 0, so the previous
    * incarnation's fences must drop, or the new stream's first batches
    * find old fences and silently no-op. Only after a CLEAN stop (and
    * [[recover]]): a same-checkpoint restart must NOT clear, its
    * retried batch id relies on the fence. A fresh save ([[fresh]])
    * does this itself. */
  def clearTags(spark: SparkSession, root: String): Unit = {
    fsFor(spark, root).delete(new Path(root, FenceDir), true)
    ()
  }

  /** Write a one-row parquet sidecar (stats, recipe, tag) to `dir`,
    * overwriting: one column per `name -> value` pair, in order, each
    * NOT NULL and typed by its value (Int, Long, Double, Boolean,
    * String). */
  def writeRow(spark: SparkSession, dir: String, cols: (String, Any)*): Unit = {
    import org.apache.spark.sql.types._
    val fields = cols.map { case (name, v) =>
      val t = v match {
        case _: Int => IntegerType
        case _: Long => LongType
        case _: Double => DoubleType
        case _: Boolean => BooleanType
        case _: String => StringType
        case other => throw new IllegalArgumentException(
          s"writeRow: unsupported value $other for column $name")
      }
      StructField(name, t, nullable = false)
    }
    spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(cols.map(_._2))),
      StructType(fields))
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Publish a marker file ATOMICALLY: write the bytes to `<name>.tmp`
    * and rename into place. A marker is AUTHORITATIVE the instant it
    * exists, so it must appear fully written or not at all — a crash
    * mid-`create` would otherwise leave a truncated marker that recovery
    * replays as a partial (and therefore wrong) action list. Rename is
    * atomic on HDFS and local filesystems; the orphaned `.tmp` from a
    * pre-rename crash dies with its staging dir. */
  private def atomicWrite(
      fs: FileSystem, marker: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(marker.getParent, marker.getName + ".tmp")
    val out = fs.create(tmp, true)
    out.write(bytes); out.close()
    if (fs.exists(marker)) fs.delete(marker, false)
    if (!fs.rename(tmp, marker))
      throw new IllegalStateException(s"could not publish marker $marker")
  }

  /** The idempotent commit sequence the marker describes. Private: the
    * public faces are [[maintain]] (first run) and [[recover]] (replay). */
  private def replay(fs: FileSystem, root: Path): Unit = {
    val staging = new Path(root, StagingName)
    val marker = new Path(staging, MarkerName)
    val lines = new String(org.apache.hadoop.io.IOUtils
      .readFullyToByteArray(fs.open(marker)), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty)
    lines.foreach { line =>
      val Array(verb, name) = line.split(" ", 2)
      val src = new Path(staging, stagedName(name))
      val dst = if (name == Root) root else new Path(root, name)
      verb match {
        case "swap" =>
          if (fs.exists(src)) { // source gone => this swap already ran
            if (fs.exists(dst)) fs.delete(dst, true)
            fs.rename(src, dst)
            ()
          }
        case "merge" =>
          if (fs.exists(src)) {
            moveTree(fs, src, dst)
            fs.delete(src, true)
            ()
          }
        case "delete" =>
          fs.delete(dst, true)
          ()
        case other =>
          throw new IllegalStateException(s"corrupt _COMMIT marker verb '$other'")
      }
    }
    fs.delete(staging, true)
    ()
  }

  /** Move every DATA file under `src` into the mirrored location under
    * `dst`, creating directories as needed. Bookkeeping files
    * (`_SUCCESS`, checksums) stay behind and die with the staging dir —
    * the live table keeps its own. Idempotent: files already moved are
    * no longer listed. */
  private def moveTree(fs: FileSystem, src: Path, dst: Path): Unit = {
    fs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory) moveTree(fs, st.getPath, new Path(dst, n))
      else if (!n.startsWith("_") && !n.startsWith(".")) {
        fs.rename(st.getPath, new Path(dst, n))
        ()
      }
    }
  }
}
