package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped lifecycle manager for eager local checkpoints.
  *
  * The engine's barrier operators (bm25 postings, bigram counts, resample
  * bins, PageRank's normalized edges, dupClusters round labels) truncate
  * lineage with `localCheckpoint(true)` because the checkpointed subtree is
  * referenced by several consumers inside the RETURNED lazy frame — so no
  * unpersist point exists inside the operator itself. Left to the
  * `ContextCleaner`, those executor blocks are only freed when the driver
  * GCs the RDD object, which on a large driver heap effectively never
  * happens mid-session: a long session accumulates every query's
  * checkpoint blocks and degrades 4-10x (observed: bm25 at 9.8s in a
  * 112-query session vs 2.3s in a fresh JVM).
  *
  * This registry closes the loop. Operators route their checkpoints
  * through [[localCheckpoint]], which records the checkpointed RDD's id
  * (no strong reference — the `ContextCleaner` path keeps working for
  * callers that never clean explicitly). Hosts with a natural barrier —
  * a benchmark harness after each query, a service after each request,
  * any caller that has fully materialized what it needs — call
  * [[freeAll]] to drop every tracked block immediately.
  *
  * Contract: after [[freeAll]] (or [[free]] on a specific frame), frames
  * whose plans read a freed checkpoint CANNOT be re-executed — lineage
  * was truncated, so recomputation fails with "checkpoint block not
  * found". Free only at points where every outstanding frame from the
  * current unit of work is dead. Frames that must outlive cleanup go
  * through [[pinned]], which is exempt from [[freeAll]] and released
  * only by [[releasePinned]].
  *
  * Defense in depth for sessions that never call [[freeAll]]: set
  * `spark.cleaner.periodicGC.interval` to ~1min (default 30min) so the
  * ContextCleaner's reference-tracking actually fires on big heaps.
  *
  * The registry is JVM-global and assumes ONE active SparkContext (the
  * overwhelmingly common deployment): with several concurrent contexts in
  * one JVM, [[freeAll]] forgets ids belonging to the other context
  * (falling back to its ContextCleaner) rather than freeing them.
  */
object Checkpoints {

  /** Tracked checkpoint RDD ids, insertion order (oldest first). Ids, not
    * RDD references: a strong reference here would pin the RDD against
    * driver GC and disable the ContextCleaner fallback entirely. */
  private val tracked = mutable.LinkedHashSet[Int]()
  private val pinnedIds = mutable.Set[Int]()
  private val pinnedFrames = mutable.Map[String, DataFrame]()

  /** SQL-cached (CacheManager) frames registered via [[trackCache]].
    * These are NOT visible in `getPersistentRDDs` and the ContextCleaner
    * never reclaims them, so the registry must hold the frame itself;
    * the reference is dropped at the next [[freeAll]]. */
  private val trackedCaches = mutable.Buffer[DataFrame]()

  /** Local-checkpoints `df` and registers the resulting block set for
    * later [[freeAll]] release. Drop-in replacement for
    * `df.localCheckpoint(eager)`. Eager (default) runs a materialization
    * job NOW — right when the checkpoint is a barrier several consumers
    * share. Pass `eager = false` when the first downstream action is
    * already a FULL pass over the frame (an aggregation, a collect of
    * per-partition stats): the blocks then materialize inside that
    * first job instead of paying a separate upfront scan. Lazy
    * checkpoints must not be first consumed by a partial evaluation
    * (e.g. `limit`) — the truncated lineage only covers computed
    * partitions.
    *
    * `resetStats` (REQUIRED inside iterative loops that re-checkpoint
    * their own output each round): a checkpoint truncates the LINEAGE
    * but not the STATISTICS — the returned `LogicalRDD` carries
    * `originStats` from the pre-checkpoint plan, so when round N's plan
    * (a few joins over round N−1's checkpoint) is itself checkpointed,
    * sizeInBytes COMPOUNDS multiplicatively: the BigInt's bit length
    * roughly triples per round, and from ~round 18 the PLANNER (stats
    * visitJoin's `children.map(size).product`) drowns in
    * million-bit Toom-Cook multiplies — the driver stalls with
    * exponentially growing round times while executors sit idle
    * (observed on q226's ~20-round label propagation at sf0.1; any
    * ≳18-round loop reproduces it). `resetStats = true` rebuilds the
    * frame as a FRESH leaf over the same persisted blocks
    * ([[org.apache.spark.sql.graft.LogicalRDDBridge.withoutOriginStats]]
    * — the checkpoint's own `LogicalRDD` re-wrapped minus its origin
    * statistics/constraints): each round then re-plans against
    * `defaultSizeInBytes` (constant bit length) and AQE's runtime
    * sizes still drive the actual join strategy. The read path is
    * identical to a plain checkpoint — the earlier public-API rebuild
    * (`createDataFrame(out.rdd, schema)`) paid two row codecs per
    * consumer pass, a measured 1.3× on q73's loop. Leave it false for
    * one-shot checkpoints, where originStats legitimately feed
    * broadcast decisions. */
  def localCheckpoint(
      df: DataFrame,
      eager: Boolean = true,
      resetStats: Boolean = false
  ): DataFrame = {
    val out = df.localCheckpoint(eager)
    val ids = persistedRootIds(out)
    synchronized { tracked ++= ids }
    if (resetStats) org.apache.spark.sql.graft.LogicalRDDBridge.withoutOriginStats(out)
    else out
  }

  /** [[localCheckpoint]] only when the frame's logical plan is deep
    * enough for lineage truncation to matter. The checkpoint exists to
    * stop a DEEP upstream subtree (a full pipeline output) being repeated
    * verbatim in every consumer branch — plan strings grow multiplicative
    * and a long chain OOMs the driver building AQE explain output. But an
    * eager checkpoint is a real materialization job (~0.5s flat even on a
    * raw-scan input where there is nothing to truncate), so shallow plans
    * skip it and keep their ordinary exchange barrier. `minNodes` = 32:
    * raw scan + project + filter chains sit well under 10 logical nodes;
    * composed pipeline outputs run to dozens–hundreds. */
  def localCheckpointIfDeep(
      df: DataFrame,
      eager: Boolean = true,
      minNodes: Int = 32
  ): DataFrame = {
    val nodes = df.queryExecution.logical.collect { case n => n }.size
    // shallow plans keep their plain exchange barrier: a lazy persist
    // here was measured a NET LOSS (round 9 — +0.1-0.6s of block-store
    // serialization on every signature query, zero benefit to the
    // dupClusters round lifecycle the experiment targeted)
    if (nodes >= minNodes) localCheckpoint(df, eager) else df
  }

  /** Immediately unpersists the persisted/checkpointed RDD(s) backing
    * `df`. Call only on frames produced by [[localCheckpoint]] (or graft
    * operators that use it) once nothing will read them again — an
    * iterative algorithm freeing the round it just superseded. Reliable
    * (file-backed) checkpoints have no storage blocks and are untouched. */
  def free(df: DataFrame): Unit = {
    val roots = persistedRoots(df)
    synchronized { tracked --= roots.map(_.id) }
    roots.foreach(_.unpersist(blocking = false))
  }

  /** Registers a SQL-persisted (`df.persist`) frame for release at the
    * next [[freeAll]] barrier — for operator-internal caches whose
    * consumer is the returned lazy frame, where the operator itself has
    * no unpersist point (e.g. `Reports.skewReport`'s counted frame).
    * Unlike checkpoints, a freed cache only costs recomputation if the
    * caller re-executes the frame. Returns `df` for chaining. */
  def trackCache(df: DataFrame): DataFrame = {
    synchronized { trackedCaches += df }
    df
  }

  /** Unpersists every tracked (non-pinned) checkpoint and every tracked
    * SQL cache in the session. Call at a barrier where all frames from
    * the finished unit of work are dead — e.g. between benchmark
    * queries, after a request's results are written. */
  def freeAll(spark: SparkSession): Unit = synchronized {
    val live = spark.sparkContext.getPersistentRDDs
    tracked.filterNot(pinnedIds).foreach { id =>
      live.get(id).foreach(_.unpersist(blocking = false))
    }
    val keep = tracked.filter(pinnedIds)
    tracked.clear()
    tracked ++= keep
    trackedCaches.foreach { df =>
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () } // a stopped session's cache is already gone
    }
    trackedCaches.clear()
  }

  /** Number of tracked (non-pinned) checkpoints — observability/tests. */
  def trackedCount: Int = synchronized { (tracked -- pinnedIds).size }

  /** Keyed cache of checkpointed frames that survive [[freeAll]]: the
    * first call computes `build`, eagerly checkpoints it, and pins the
    * blocks; subsequent calls with the same key return the cached frame.
    * For results legitimately shared across units of work (a trained
    * quantizer's assignments, a cluster map consumed by several policies).
    * Pin only bounded frames — pinned blocks live until
    * [[releasePinned]]. */
  def pinned(key: String)(build: => DataFrame): DataFrame = {
    synchronized { pinnedFrames.get(key) } match {
      case Some(df) => df
      case None =>
        val out = build.localCheckpoint(true)
        val ids = persistedRootIds(out)
        synchronized {
          // lost race: another thread pinned while we built — prefer
          // theirs, release ours
          pinnedFrames.get(key) match {
            case Some(df) =>
              persistedRoots(out).foreach(_.unpersist(blocking = false))
              df
            case None =>
              pinnedIds ++= ids
              pinnedFrames(key) = out
              out
          }
        }
    }
  }

  /** Releases every [[pinned]] frame's blocks and clears the cache. */
  def releasePinned(spark: SparkSession): Unit = synchronized {
    val live = spark.sparkContext.getPersistentRDDs
    pinnedIds.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
    tracked --= pinnedIds
    pinnedIds.clear()
    pinnedFrames.clear()
  }

  private def persistedRootIds(df: DataFrame): Seq[Int] = persistedRoots(df).map(_.id)

  /** The first persisted RDD(s) reachable from `df`'s RDD — for a frame
    * returned by `localCheckpoint(true)` this is exactly the checkpointed
    * internal RDD (the deserializer wrappers above it are unpersisted).
    * Depth-bounded: a checkpoint sits within a few wrappers of the top,
    * and stopping early keeps this from ever walking a full lineage.
    * The bound covers the `resetStats` wrapping too — createDataFrame
    * over the checkpoint's row RDD stacks a scan-projection + catalyst
    * converter + deserializer on TOP of the checkpoint's own wrappers
    * (~5 extra levels), and free() on the wrapped frame must still
    * reach the blocks (LifecycleSpec pins exactly-one-survivor). */
  private def persistedRoots(df: DataFrame): Seq[RDD[_]] = {
    def walk(rdd: RDD[_], depth: Int): Seq[RDD[_]] =
      if (rdd.getStorageLevel != StorageLevel.NONE) Seq(rdd)
      else if (depth >= 14) Seq.empty
      else rdd.dependencies.flatMap(d => walk(d.rdd, depth + 1))
    walk(df.rdd, 0).distinct
  }
}
