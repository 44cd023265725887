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
  * Concurrency contract: ONE maintenance operation at a time per root
  * (stop the writer before compacting, etc.). Readers of a mid-commit
  * index may see a torn view; serving reads and maintenance are
  * expected to be fenced by the caller. */
object IndexCommit {

  val StagingName = "_staging"
  /** The table name of the root itself, for `merge` into a flat root. */
  val Root = "."
  private val MarkerName = "_COMMIT"

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
    * return the actions, then commit them — with the tag's `batches/`
    * row ([[stageTag]]) riding the same marker. An empty action list
    * means nothing to publish: no commit, and the tag does not fence. */
  def maintain(spark: SparkSession, root: String, batchTag: Option[Long] = None)(
      stage: String => Seq[(String, String)]): Unit = {
    recover(spark, root)
    if (batchTag.exists(tagCommitted(spark, root, _))) return
    val actions = stage(stagingDir(root))
    if (actions.isEmpty) return
    val all = actions ++ batchTag.map(stageTag(spark, root, _))
    val fs = fsFor(spark, root)
    writeMarker(fs, new Path(root), all)
    replay(fs, new Path(root))
  }

  /** A FRESH artifact save owns its root: drop a stale stage from a
    * previous artifact at the same path (a MARKED leftover would replay
    * into the new one) and the tag history an old incarnation
    * accumulated (a restarted stream against a rebuilt artifact must
    * not skip batches because the OLD one saw their tags). */
  def fresh(spark: SparkSession, root: String): Unit = {
    val fs = fsFor(spark, root)
    fs.delete(new Path(stagingDir(root)), true)
    fs.delete(new Path(s"$root/batches"), true)
    ()
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

  /** Exactly-once fencing for STREAMING appenders: has `tag` already
    * committed into this root's `batches/` table? A tag's row rides the
    * same atomic marker replay as the data it fences ([[stageTag]]), so
    * a crash-retried micro-batch that finds its tag knows the whole
    * append landed — and one that doesn't knows none of it did.
    *
    * Cost contract: the check reads the `batches/` table, which gains
    * one small file per committed batch — so each check costs O(batches
    * since the last compaction) file listings/footers. Every index
    * family's compactor folds the table back to one file (the
    * [[stageTagCompaction]] rider), which bounds the check: a
    * long-lived stream must run its artifact's compaction on a cadence
    * (every ~10³ batches keeps the per-batch check at a few thousand
    * footer reads worst-case), the same stop-the-writer maintenance
    * window the data files need anyway. */
  def tagCommitted(spark: SparkSession, root: String, tag: Long): Boolean = {
    val fs = fsFor(spark, root)
    fs.exists(new Path(s"$root/batches")) &&
      spark.read.parquet(s"$root/batches")
        .filter(org.apache.spark.sql.functions.col("batch_tag") === tag)
        .limit(1).count() > 0
  }

  /** Stage `tag`'s one-row `batches/` increment under the root's staging
    * dir; returns the commit action to append to the operation's list. */
  private def stageTag(spark: SparkSession, root: String, tag: Long): (String, String) = {
    writeRow(spark, s"${stagingDir(root)}/batches", "batch_tag" -> tag)
    "merge" -> "batches"
  }

  /** Compaction rider for the tag table: a long-lived stream leaves one
    * tiny `batches/` file per micro-batch; fold them to one file in the
    * same staged commit as the index compaction (tags keep fencing —
    * the rows are identical). Returns the action to append, or None
    * when the root has no tag history. */
  def stageTagCompaction(
      spark: SparkSession, root: String): Option[(String, String)] = {
    if (!fsFor(spark, root).exists(new Path(s"$root/batches"))) return None
    spark.read.parquet(s"$root/batches")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${stagingDir(root)}/batches")
    Some("swap" -> "batches")
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
