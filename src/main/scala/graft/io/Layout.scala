package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Output-layout helpers for corpus sinks. At 100 TB the WRITE layout is
  * a first-class design decision: Hive-style partition directories give
  * readers partition pruning for free, and the file count per partition
  * decides whether the next job reads a handful of fat files or drowns
  * in small-file overhead.
  */
object Layout {

  /** Writes `df` as parquet partitioned by `partitionCols`
    * (`.../col=value/` directories → partition-pruned scans), with at most
    * `filesPerPartition` output files per partition value.
    *
    * The repartition BEFORE the write is the load-bearing part: without
    * it every input task writes its own file into every partition
    * directory it touches — tasks × partitions small files; with it,
    * rows hash-route to `filesPerPartition` buckets inside their
    * partition first, bounding each directory's file count.
    *
    * The file bucket hashes the row's HASHABLE values (not
    * `spark_partition_id`, whose distinct values are capped by the
    * upstream partition count — a coalesced or single-file input would
    * collapse every directory to one file regardless of the setting).
    * Row-value hashing is independent of input partitioning; directories
    * can still come up short only when a partition value genuinely has
    * too few distinct rows, or on hash collisions between buckets.
    * Columns containing a MapType anywhere in their type are excluded
    * from the bucket hash — Spark's `hash()` rejects maps at analysis
    * time (map iteration order is undefined) — and a frame with NO
    * hashable column falls back to `spark_partition_id` routing. */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      filesPerPartition: Int = 1
  ): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned needs partition columns")
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val keys = partitionCols.map(col)
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case a: ArrayType => hashable(a.elementType)
      case _ => true
    }
    val hashCols = df.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    val bucket =
      if (hashCols.nonEmpty) pmod(hash(hashCols.toSeq: _*), lit(filesPerPartition))
      else pmod(spark_partition_id(), lit(filesPerPartition))
    // explicit partition count when fanning out: an AQE-sized repartition
    // (REPARTITION_BY_COL) coalesces small shuffles back to one task,
    // which re-merges the buckets this call exists to split apart
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val routed =
      if (filesPerPartition == 1) df.repartition(keys: _*)
      else df.repartition(math.max(n, filesPerPartition), (keys :+ bucket): _*)
    routed.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Deterministic shard of a row id: 32-bit md5 prefix mod `numShards`
    * — stable across runs, partitionings, and engines (the
    * [[graft.ops.Sampling.unitHash]] hash family). A null id refuses
    * loudly through the consumed column: a silent null shard would
    * land rows in Hive's default partition and break the manifest
    * accounting. */
  private def shardHash(id: Column, salt: String): Column = {
    val h = conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long")
    when(id.isNull, raise_error(lit(
      "writeShardsWithManifest: null id — shard routing and the manifest " +
        "checksum need a total id; fill or drop null ids upstream")))
      .otherwise(h)
  }

  /** The manifest derivation shared by the writer and the verifier:
    * per shard, the EXACT row count and an order-independent integer
    * checksum (sum of each id's 32-bit md5 prefix — longs, no float
    * drift, partition-order-invariant). Constant columns carry the
    * routing recipe so the manifest is self-describing. */
  def shardManifest(
      df: DataFrame,
      idCol: String,
      numShards: Int,
      salt: String = ""
  ): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    df.select(shardHash(col(idCol), salt).as("__h"))
      .select(pmod(col("__h"), lit(numShards.toLong)).as("shard"), col("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum(col("__h")).as("id_checksum"))
      .withColumn("id_col", lit(idCol))
      .withColumn("num_shards", lit(numShards))
      .withColumn("salt", lit(salt))
  }

  /** Sharded TRAINING-DATA export with a verifiable manifest — the
    * delivery format a trainer consumes: rows route to
    * `data/shard=<k>/` by the deterministic id hash (WebDataset-style
    * fixed shard count, Hive layout so a reader prunes to its own
    * shards), and `manifest/` records each shard's exact row count and
    * integer id checksum. The manifest writes LAST — it is the
    * delivery's commit marker: a reader that [[verifyShards]]-checks
    * against it cannot silently train on a torn or clobbered export.
    * Same-id rows always land in the same shard, so downstream
    * shard-local dedup/lookup stays shard-local. */
  def writeShardsWithManifest(
      df: DataFrame,
      idCol: String,
      path: String,
      numShards: Int,
      filesPerShard: Int = 1,
      salt: String = ""
  ): Unit = {
    require(numShards >= 1, "numShards must be >= 1")
    val spark = df.sparkSession
    graft.ops.IndexCommit.fresh(spark, path)
    // the routing RECIPE persists as its own one-row sidecar, not only
    // as manifest columns: an export seeded EMPTY (a standing streaming
    // delivery starts before data exists) has a zero-row manifest, and
    // every later append/verify still needs the id column, shard count,
    // and salt
    graft.ops.IndexCommit.writeRow(spark, s"$path/recipe",
      "id_col" -> idCol, "num_shards" -> numShards, "salt" -> salt)
    if (df.isEmpty) {
      // EMPTY SEED: a delivery may legitimately start before any data
      // exists ([[graft.streaming.StreamingEval.exportStream]] appends
      // into it). Write a schema-bearing empty file under one shard dir
      // so every read-back (appends, verifyShards, compaction) can
      // infer the schema, and a zero-row (but typed) manifest.
      graft.ops.IndexCommit.fsFor(spark, path).delete(
        new org.apache.hadoop.fs.Path(s"$path/data"), true)
      df.limit(0).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$path/data/shard=0")
    } else {
      val routed = df.withColumn("shard",
        pmod(shardHash(col(idCol), salt), lit(numShards.toLong)))
      writePartitioned(routed, s"$path/data", Seq("shard"), filesPerShard)
    }
    // the manifest derives from a READ-BACK of the bytes just written,
    // not a second evaluation of `df`: a non-deterministic input frame
    // (a sample, a fresh uuid column) would otherwise produce a manifest
    // describing different rows than were delivered — and verifyShards
    // would then flag a perfectly good export, or bless a torn one that
    // happens to re-derive the same counts. Reading back costs one extra
    // scan of the export, and makes writer and manifest agree by
    // construction for ANY input.
    manifestFromShardData(
      spark.read.parquet(s"$path/data"), idCol, numShards, salt)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/manifest")
  }

  /** The export's routing recipe: the `recipe/` sidecar when present
    * (always written since the empty-seed support landed), else the
    * manifest's self-describing columns (pre-sidecar exports — those
    * necessarily have manifest rows). */
  private def readRecipe(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): (String, Int, String) = {
    val fs = graft.ops.IndexCommit.fsFor(spark, path)
    val meta =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/recipe")))
        spark.read.parquet(s"$path/recipe").head()
      else spark.read.parquet(s"$path/manifest")
        .select("id_col", "num_shards", "salt").head()
    (meta.getAs[String]("id_col"), meta.getAs[Int]("num_shards"),
      meta.getAs[String]("salt"))
  }

  /** The manifest recomputed from an already-routed frame carrying its
    * on-disk `shard` column — the derivation [[writeShardsWithManifest]]
    * and [[appendShardsWithManifest]] use on read-back (grouping by the
    * directory the row actually landed in, like [[verifyShards]]). */
  private def manifestFromShardData(
      data: DataFrame,
      idCol: String,
      numShards: Int,
      salt: String
  ): DataFrame =
    data.select(col("shard").cast("long").as("shard"),
        shardHash(col(idCol), salt).as("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum(col("__h")).as("id_checksum"))
      .withColumn("id_col", lit(idCol))
      .withColumn("num_shards", lit(numShards))
      .withColumn("salt", lit(salt))

  /** Append a corpus slice to an existing [[writeShardsWithManifest]]
    * delivery — the maintenance side of the export: a monthly crawl
    * slice joins last month's shards without rewriting 100 TB. The
    * routing recipe (id column, shard count, salt) is read from the
    * live manifest, so the same id keeps landing in the same shard
    * forever; the increment's files stage under the
    * [[graft.ops.IndexCommit]] root and publish atomically — `merge`
    * the new data files into their shard directories, `swap` in the
    * updated manifest — so a reader always sees a manifest that either
    * excludes the increment entirely or describes it fully, and a crash
    * anywhere replays from the marker ([[graft.ops.IndexCommit.recover]]
    * runs as the preamble here, as in every maintenance entry point).
    *
    * Cost is O(increment): the increment routes and writes once, its
    * manifest rows derive from a read-back of the STAGED files only,
    * and the merged manifest is the old manifest plus the increment's
    * per-shard counts — counts and checksums are sums, so the merge is
    * a numShards-bounded group-by, never a rescan of the live data.
    * Spec-pinned: save+append ≡ save-once over the union (same shards,
    * same manifest numbers), and [[verifyShards]] passes after replay
    * from any crash point. One maintenance op at a time per export root
    * (the IndexCommit concurrency contract).
    *
    * `batchTag` makes the append EXACTLY-ONCE for streaming callers
    * ([[graft.streaming.StreamingEval.exportStream]]): the tag commits
    * atomically WITH the data (its fence file rides the same marker
    * replay), so a retried micro-batch sees its tag and no-ops instead
    * of double-counting the delivery. */
  def appendShardsWithManifest(
      df: DataFrame,
      path: String,
      filesPerShard: Int = 1,
      batchTag: Option[Long] = None
  ): Unit = {
    val spark = df.sparkSession
    // exactly-once fencing for streaming callers: a tag that already
    // committed (its fence rode the atomic marker replay) makes the
    // whole append a no-op — a foreachBatch RETRY after a crash must
    // not double-count the delivery
    graft.ops.IndexCommit.maintain(spark, path, batchTag) { staging =>
      // an EMPTY increment (an idle micro-batch tick) must be a no-op,
      // not a crash: the staged-data read-back below cannot infer a
      // schema from a file-less write, and there is nothing to deliver.
      // The batch tag intentionally does not commit for an empty batch —
      // replaying it appends nothing either way.
      if (df.isEmpty) Seq.empty
      else {
        val manifest = spark.read.parquet(s"$path/manifest")
        val (idCol, numShards, salt) = readRecipe(spark, path)
        val routed = df.withColumn("shard",
          pmod(shardHash(col(idCol), salt), lit(numShards.toLong)))
        writePartitioned(routed, s"$staging/data", Seq("shard"), filesPerShard)
        val incManifest = manifestFromShardData(
          spark.read.parquet(s"$staging/data"), idCol, numShards, salt)
        manifest.unionByName(incManifest)
          .groupBy("shard", "id_col", "num_shards", "salt")
          .agg(sum(col("n_rows")).as("n_rows"), sum(col("id_checksum")).as("id_checksum"))
          .select(manifest.columns.map(col).toSeq: _*)
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$staging/manifest")
        Seq("merge" -> "data", "swap" -> "manifest")
      }
    }
  }

  /** Verify a [[writeShardsWithManifest]] export: recompute each
    * shard's count and checksum from the DATA actually on disk (using
    * the manifest's own self-described recipe) and compare — the
    * receiving side's integrity gate. Output per shard (manifest ∪
    * data, full outer): `(shard, manifest_rows, actual_rows,
    * manifest_checksum, actual_checksum, ok)`; a shard missing from
    * either side reports `ok = false` with nulls on the absent side. */
  def verifyShards(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): DataFrame = {
    val manifest = spark.read.parquet(s"$path/manifest")
    val (idCol, _, salt) = readRecipe(spark, path)
    // group by the ON-DISK shard directory (not a re-derivation from the
    // id): a file landed in the wrong shard dir must surface as a
    // count/checksum mismatch, not silently re-route itself
    val actual = spark.read.parquet(s"$path/data")
      .select(col("shard").cast("long").as("shard"),
        shardHash(col(idCol), salt).as("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("actual_rows"), sum(col("__h")).as("actual_checksum"))
    manifest
      .select(col("shard"), col("n_rows").as("manifest_rows"),
        col("id_checksum").as("manifest_checksum"))
      .join(actual, Seq("shard"), "full")
      .select(col("shard"), col("manifest_rows"), col("actual_rows"),
        col("manifest_checksum"), col("actual_checksum"),
        (col("manifest_rows") <=> col("actual_rows") &&
          col("manifest_checksum") <=> col("actual_checksum")).as("ok"))
  }

  /** TAKEDOWN (right-to-be-forgotten) for a standing shard export:
    * remove every row whose id is in `ids` from a
    * [[writeShardsWithManifest]] delivery, updating the manifest's
    * exact counts and checksums — the post-takedown export is
    * bit-equivalent to a write-once export of the survivors
    * (oracle-pinned), completing the delivery lifecycle the way
    * [[graft.ops.Retrieval.removeFromBm25Index]] does for the lexical
    * index. `ids` is a one-column frame (broadcast — a takedown batch
    * is small); ids never delivered are ignored.
    *
    * Cost is O(affected shards), not O(corpus): the routing recipe
    * locates each id's shard WITHOUT scanning (the same-id-same-shard
    * invariant), so only those shard directories are read (partition-
    * pruned), anti-join-rewritten (which also compacts them), and
    * swapped — a 100 TB delivery pays for the handful of shards the
    * request touches. An export whose data violates its recipe (rows in
    * the wrong shard dir) fails [[verifyShards]] and is not a valid
    * takedown target. Marker-fenced and idempotent like every
    * maintenance op; one maintenance op at a time per export root. */
  def removeFromShardExport(ids: DataFrame, path: String,
      filesPerShard: Int = 1): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a one-column frame of row ids, got ${ids.columns.toSeq}")
    graft.ops.IndexCommit.maintain(ids.sparkSession, path)(
      stageShardRemove(ids, path, filesPerShard, _))
  }

  /** [[removeFromShardExport]]'s staging half: stage the hit shards'
    * survivors and the corrected manifest under `staging`. Returns the
    * commit actions, empty when none of the ids was ever delivered. */
  private def stageShardRemove(ids: DataFrame, path: String,
      filesPerShard: Int, staging: String): Seq[(String, String)] = {
    val spark = ids.sparkSession
    val (idCol, numShards, salt) = readRecipe(spark, path)
    val data = spark.read.parquet(s"$path/data")
    val rmIds = broadcast(ids.select(col(ids.columns.head)
      .cast(data.schema(idCol).dataType).as(idCol)).na.drop().distinct())
    // the recipe locates each id's shard with pure arithmetic — the
    // scan below prunes to these directories
    val affected = rmIds
      .select(pmod(shardHash(col(idCol), salt), lit(numShards.toLong)).as("shard"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (affected.isEmpty) return Seq.empty
    val pruned = data.filter(col("shard").isin(affected: _*))
    // per-shard removal deltas off the rows actually on disk (dup-id
    // appends count per ROW, exactly as the manifest summed them)
    val removed = pruned.join(rmIds, Seq(idCol), "left_semi")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("r_rows"),
        sum(shardHash(col(idCol), salt)).as("r_checksum"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    if (removed.isEmpty) return Seq.empty // nothing of these ids was ever delivered
    val hit = removed.keys.toSeq.sorted
    val fs = graft.ops.IndexCommit.fsFor(spark, path)
    // survivors of the HIT shards rewrite in place (also compacting
    // them); untouched shards keep their files
    val kept = data.filter(col("shard").isin(hit: _*))
      .join(rmIds, Seq(idCol), "left_anti")
    writePartitioned(kept, s"$staging/data", Seq("shard"), filesPerShard)
    // a shard whose every row was removed writes no staged files — its
    // swap still needs a source dir, or the replay would skip it and
    // the live rows would survive the takedown
    hit.foreach { s =>
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$staging/data/shard=$s")); ()
    }
    val manifest = spark.read.parquet(s"$path/manifest")
    val deltas = spark.createDataFrame(
      hit.map(s => (s, removed(s)._1, removed(s)._2)))
      .toDF("shard", "r_rows", "r_checksum")
    val newManifest = manifest.join(broadcast(deltas), Seq("shard"), "left")
      .select(col("shard"),
        (col("n_rows") - coalesce(col("r_rows"), lit(0L))).as("n_rows"),
        (col("id_checksum") - coalesce(col("r_checksum"), lit(0L))).as("id_checksum"),
        col("id_col"), col("num_shards"), col("salt"))
      .filter(col("n_rows") > 0)
    val emptiedOut = newManifest.isEmpty
    newManifest.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$staging/manifest")
    if (emptiedOut) {
      // the takedown emptied the whole delivery: keep one schema-bearing
      // empty file so read-backs (appends, verifies, compactions) still
      // infer the schema — the empty-seed invariant
      data.drop("shard").limit(0).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$staging/data/shard=${hit.head}")
    }
    hit.map(s => "swap" -> s"data/shard=$s") :+ ("swap" -> "manifest")
  }

  /** OFFLINE maintenance for a standing shard export: fold the small
    * files accumulated by [[appendShardsWithManifest]] (one per shard
    * per append, forever under a streaming delivery) back to
    * `filesPerShard` files per shard, and fold the exactly-once fences
    * alongside (the [[graft.ops.IndexCommit.stageTagCompaction]]
    * rider) — identical
    * rows, the manifest untouched because counts and checksums don't
    * change. The [[graft.ops.Retrieval.compactBm25Index]] discipline at
    * the delivery: marker-fenced, run with the export stream stopped
    * (one maintenance op at a time per root). */
  def compactShardExport(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      filesPerShard: Int = 1
  ): Unit = graft.ops.IndexCommit.maintain(spark, path) { staging =>
    val data = spark.read.parquet(s"$path/data")
    // an empty (seeded, nothing appended yet) export keeps its
    // schema-bearing file: rewriting zero rows would drop the footer
    // and break every later read-back
    val rewritten =
      if (data.isEmpty) Seq.empty
      else {
        writePartitioned(data, s"$staging/data", Seq("shard"), filesPerShard)
        Seq("swap" -> "data")
      }
    rewritten ++ graft.ops.IndexCommit.stageTagCompaction(spark, path)
  }

  /** Z-order (Morton) key over numeric columns: each value quantizes to
    * `bits` buckets between its column's global min/max (one aggregate,
    * broadcast back — never a driver collect), then the bucket bits
    * interleave (dimension j owns bit positions k·d + j). Rows close in
    * the key are close in EVERY keyed dimension, so range-partitioning +
    * sorting by it clusters each output file into a tight hyper-rectangle
    * and parquet min/max stats prune scans filtered on ANY of the
    * dimensions — multi-column data skipping where a lexicographic sort
    * only serves its leading column. Pure long arithmetic (shift/and),
    * engine-portable. Nulls and degenerate (min == max) columns quantize
    * to bucket 0. */
  def withZOrderKey(
      df: DataFrame,
      zCols: Seq[String],
      bits: Int = 8,
      out: String = "zorder_key"
  ): DataFrame = {
    require(zCols.size >= 2, "z-ordering needs at least 2 columns (else just sort)")
    require(bits >= 1 && zCols.size * bits <= 63,
      s"${zCols.size} cols x $bits bits must fit a positive long")
    val aggs = zCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__zmin_$c"),
      max(col(c)).cast("double").as(s"__zmax_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val d = zCols.size
    val quantized = zCols.map { c =>
      val x = col(c).cast("double")
      val lo = col(s"__zmin_$c")
      val hi = col(s"__zmax_$c")
      when(x.isNull || hi === lo, lit(0L)).otherwise(
        least(lit((1L << bits) - 1), greatest(lit(0L),
          floor((x - lo) / (hi - lo) * lit(1L << bits)).cast("long"))))
    }
    val z = (0 until bits).flatMap { k =>
      quantized.zipWithIndex.map { case (q, j) =>
        shiftleft(shiftright(q, k).bitwiseAND(lit(1L)), k * d + j)
      }
    }.reduce(_ + _)
    df.crossJoin(broadcast(stats))
      .withColumn(out, z)
      .drop(zCols.flatMap(c => Seq(s"__zmin_$c", s"__zmax_$c")): _*)
  }

  /** Write `df` z-order-clustered on `zCols` into `files` range-sliced
    * parquet files: [[withZOrderKey]] + range partition + in-partition
    * sort, so each file owns a disjoint key range (= a tight region of
    * the keyed space) and its parquet column stats actually prune. The
    * key column itself is dropped — it is layout, not data. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      bits: Int = 8,
      files: Int = 32
  ): Unit = {
    require(files >= 1, "files must be >= 1")
    withZOrderKey(df, zCols, bits)
      .repartitionByRange(files, col("zorder_key"))
      .sortWithinPartitions("zorder_key")
      .drop("zorder_key")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
