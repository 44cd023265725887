package graft.ops

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph signals for corpus curation — currently weighted PageRank, the
  * classic domain-authority score: at web scale a crawl's link graph
  * ranks domains/pages, and the rank becomes a quality prior for
  * sampling (exactly how production corpora weight "reputable" sources).
  *
  * Engine-determinism contract: per-node in-flows are summed as a FOLD
  * OVER THE SOURCE-SORTED contribution list (the q84/q87 sorted-fold
  * pattern), never a shuffle-order `sum(double)` — so the FP ranks are
  * bit-reproducible across runs, partitionings, and engines, and the
  * whole operator is DuckDB-oracle-checkable.
  */
object Graphs {

  /** Weighted PageRank over an edge list, `iterations` fixed rounds of
    *
    *   rank(v) = (1−d)/N + d · Σ_{u→v} rank(u) · w(u,v) / outW(u)
    *
    * Parallel edges merge (weights sum; unweighted edges count). Nodes
    * with no in-edges settle at the teleport term; dangling nodes (no
    * out-edges) simply leak their mass — the common simplified variant,
    * fine for ranking and exactly mirrorable in SQL (no global
    * dangling-mass redistribution term).
    *
    * Scale shape: the normalized edge frame is built once (two shuffles:
    * parallel-edge merge + out-weight join) and eagerly checkpointed via
    * [[graft.Checkpoints]] — each of the K rounds references it, and
    * without the truncation Catalyst would re-derive it per round. K is
    * small and fixed (PageRank converges geometrically; 5-10 rounds
    * rank-order a graph), so the K-deep lazy plan stays trivial.
    *
    * Hub safety: web link graphs are power-law, so a single destination
    * can carry 10⁷⁺ in-edges — a one-level per-`dst` sorted fold would
    * materialize that hub's entire contribution list in ONE aggregation
    * buffer. In-flows are therefore summed as a TWO-LEVEL deterministic
    * fold: each edge lands in one of `foldBuckets` sub-buckets (an
    * md5-derived function of `src` — engine-mirrorable, unlike Spark's
    * internal hash), level 1 folds each (dst, bucket)'s contributions in
    * src-sorted order (buffers bounded by ~in-degree/foldBuckets), and
    * level 2 folds the ≤ `foldBuckets` partial sums in bucket order. The
    * fold structure is a pure function of the edge VALUES — never of
    * partitioning or arrival order — so ranks stay bit-reproducible
    * across runs, cluster sizes, and engines (an oracle replays the same
    * two-level order).
    *
    * `src` (and `dst`) ids should be integer- or string-typed: the bucket
    * derives from `cast(src as string)`, which is engine-portable for
    * those types (float formatting is not).
    *
    * @return (node, rank) — ranks sum to ≤ 1 (= 1 with no dangling mass)
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String] = None,
      iterations: Int = 5,
      damping: Double = 0.85,
      foldBuckets: Int = 1024
  ): DataFrame =
    pageRankCore(edges, srcCol, dstCol, weightCol, iterations, damping,
      foldBuckets, seeds = None)

  /** Personalized (seeded-teleport) PageRank — the TrustRank shape
    * (Gyöngyi et al. 2004): teleport mass goes ONLY to the `seeds` (a
    * blessed whitelist of domains/pages), so rank measures authority
    * REACHABLE FROM the seeds and decays geometrically with link
    * distance — the standard counter to link farms, which can inflate
    * global PageRank with self-referential mass but cannot manufacture
    * proximity to a curated seed set. Same recurrence as [[pageRank]]
    * with `teleport(v) = (1−d)/|S|·1{v∈S}` and the initial mass
    * `1/|S|` on the seeds; same two-level deterministic in-flow fold,
    * same dangling-mass simplification, same per-round eager
    * checkpoint. Nodes unreachable from every seed settle at exactly
    * 0.0. Seeds ride the numeric-id contract. Output: (node, rank). */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: Seq[Long],
      weightCol: Option[String] = None,
      iterations: Int = 5,
      damping: Double = 0.85,
      foldBuckets: Int = 1024
  ): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed node")
    require(seeds.distinct.size == seeds.size, "seed nodes must be distinct")
    pageRankCore(edges, srcCol, dstCol, weightCol, iterations, damping,
      foldBuckets, seeds = Some(seeds))
  }

  private def pageRankCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String],
      iterations: Int,
      damping: Double,
      foldBuckets: Int,
      seeds: Option[Seq[Long]]
  ): DataFrame = {
    require(iterations > 0, "need at least one iteration")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    require(foldBuckets > 0, "foldBuckets must be positive")
    val w: Column = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    // merge parallel edges; drop null endpoints (unlinkable)
    val merged = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(sum(w).as("w"))
    val outW = merged.groupBy("src").agg(sum(col("w")).as("outw"))
    // deterministic, engine-mirrorable sub-bucket for the two-level fold:
    // 16 md5 bits of the source id, reduced mod foldBuckets (DuckDB:
    // CAST(('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 4)) AS BIGINT) % B)
    val bucket = pmod(
      conv(substring(md5(col("src").cast("string")), 1, 4), 16, 10).cast("long"),
      lit(foldBuckets.toLong))
    // one frame, referenced every round: truncate its lineage. Lazy —
    // the n = nodes.count() action right below is a full pass that
    // materializes nodes' blocks and, through them, normEdges', so the
    // two upfront materialization jobs would re-pay the same scans.
    val normEdges = graft.Checkpoints.localCheckpoint(
      merged.join(outW, "src")
        .select(col("src"), col("dst"), col("w"), col("outw"), bucket.as("__b")),
      eager = false)
    val nodes = graft.Checkpoints.localCheckpoint(
      normEdges.select(col("src").as("node"))
        .union(normEdges.select(col("dst").as("node")))
        .distinct(), eager = false)
    val n = nodes.count()
    // global: uniform teleport + uniform init; seeded: all teleport and
    // all initial mass on the seed set (nodes off the seed set start —
    // and, if unreachable, stay — at exactly 0.0)
    val (teleport, init) = seeds match {
      case None =>
        (lit((1.0 - damping) / n.toDouble), lit(1.0 / n.toDouble))
      case Some(s) =>
        val isSeed = col("node").cast("long").isin(s: _*)
        (when(isSeed, lit((1.0 - damping) / s.size.toDouble)).otherwise(lit(0.0)),
          when(isSeed, lit(1.0 / s.size.toDouble)).otherwise(lit(0.0)))
    }

    var ranks = nodes.withColumn("rank", init)
    for (_ <- 1 to iterations) {
      val contribs = normEdges
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), col("__b"),
          struct(col("src"), (col("rank") * col("w") / col("outw")).as("c"))
            .as("sc"))
      // level 1: src-sorted fold per (dst, sub-bucket) — bounded buffers
      val partials = contribs.groupBy(col("dst"), col("__b")).agg(
        aggregate(array_sort(collect_list(col("sc"))), lit(0.0),
          (acc, x) => acc + x.getField("c")).as("p"))
      // level 2: bucket-sorted fold of the partial sums per dst
      val sums = partials.groupBy("dst").agg(
        aggregate(array_sort(collect_list(struct(col("__b"), col("p")))), lit(0.0),
          (acc, x) => acc + x.getField("p")).as("acc"))
      ranks = nodes
        .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (teleport + lit(damping) * coalesce(col("acc"), lit(0.0)))
            .as("rank"))
    }
    ranks
  }

  /** Canonical undirected simple-graph edge set: direction and
    * multiplicity dropped (`a < b` per row), self-loops and null
    * endpoints removed. The shared on-ramp of [[triangleCounts]] /
    * [[clusteringCoefficient]]. */
  private def simpleEdges(edges: DataFrame, src: String, dst: String): DataFrame =
    edges
      .filter(col(src).isNotNull && col(dst).isNotNull && col(src) =!= col(dst))
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .distinct()

  /** Per-node triangle participation over the UNDIRECTED simple graph
    * (parallel edges, direction, and self-loops ignored): `(node,
    * n_triangles)` for every node of at least one edge — the
    * link-farm/bot-ring density signal ([[clusteringCoefficient]]
    * normalizes it).
    *
    * Algorithm: the degree-ordered edge iterator — every edge orients
    * from its LOWER-degree endpoint to the higher (ties toward the
    * smaller node id), wedges come from the self-join of oriented
    * edges on the pivot, and a wedge is a triangle iff its closing
    * edge exists (semi-ish inner join back to the oriented edge set).
    * Orientation is the scale lever: any graph's oriented out-degree
    * is O(√|E|) — a celebrity hub with 10⁸ followers pivots almost no
    * wedges because its edges all point INTO it — so wedge volume is
    * bounded by Σ outdeg² = O(|E|^1.5), the best known for exact
    * counting, with every step an equi-join (no windows, no driver
    * state). Each triangle is found exactly once (its wedge pivots at
    * the unique degree-minimal vertex), then credited to all three
    * corners by an explode + one count aggregate. */
  def triangleCounts(edges: DataFrame, src: String, dst: String): DataFrame =
    triangleCore(edges, src, dst)._2.select("node", "n_triangles")

  /** Shared machinery of [[triangleCounts]] / [[clusteringCoefficient]]:
    * returns (degree frame, per-node counts WITH degree). The simple
    * edge set and the degree frame are cached — each is consumed by
    * several branches, and the upstream edge derivation may be an
    * arbitrarily expensive join tree that must compute ONCE. */
  private def triangleCore(
      edges: DataFrame, src: String, dst: String): (DataFrame, DataFrame) = {
    val simple = graft.Checkpoints.trackCache(simpleEdges(edges, src, dst))
    val deg = graft.Checkpoints.trackCache(
      simple.select(col("a").as("node")).unionAll(simple.select(col("b")))
        .groupBy("node").agg(count(lit(1)).as("deg")))
    // orient low-degree -> high-degree; (deg, id) is a total order
    val withDeg = simple
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val oriented = graft.Checkpoints.trackCache(withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("u"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("v")))
    // wedges (v, w) pivoted at u, one per unordered out-pair
    val e1 = oriented.select(col("u"), col("v"))
    val e2 = oriented.select(col("u"), col("v").as("w"))
    val wedges = e1.join(e2, "u").filter(col("v") < col("w"))
    // the closing edge is oriented too, but its direction depends on
    // the degree order of v and w — check both
    val closing = oriented.select(
        least(col("u"), col("v")).as("x"), greatest(col("u"), col("v")).as("y"))
      .distinct()
    val tris = wedges.join(closing,
      least(col("v"), col("w")) === col("x") &&
        greatest(col("v"), col("w")) === col("y"))
      .select("u", "v", "w")
    val counts = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .join(deg, Seq("node"), "right")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
    (deg, counts)
  }

  /** k-core decomposition (fixed k): the maximal subgraph in which
    * every node keeps at least `k` neighbors — iterative peeling of
    * sub-k-degree nodes until the fixpoint. The cohesion signal that
    * separates an organically-linked community from injected spam: a
    * bot ring's mutual-link core survives high k, organic periphery
    * doesn't. Output: `(node, core_deg)` for surviving nodes (degree
    * measured INSIDE the core).
    *
    * Each round is two key-grain aggregates + an edge semi-filter; the
    * surviving edge set shrinks monotonically and is locally
    * checkpointed per round (plan growth, not data, is the iterative-
    * loop hazard — the [[graft.ops.Dedup.dupClusters]] lesson). The
    * loop stops at the fixpoint; `maxIter` is a loud backstop (an
    * adversarial path graph peels one node per round, so the bound is
    * data-dependent — refusing beats silently returning a non-core). */
  def kCore(
      edges: DataFrame,
      src: String,
      dst: String,
      k: Int,
      maxIter: Int = 100
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxIter >= 1, "maxIter must be >= 1")
    // resetStats on every round's checkpoint: re-checkpointing a plan
    // built on the previous round's checkpoint compounds originStats
    // multiplicatively and stalls the planner in huge BigInt multiplies
    // past ~18 rounds (the dupClusters lesson) — an adversarial chain
    // peels one node per round and walks straight into it. Superseded
    // rounds free their blocks immediately (two rounds live at most).
    var cur = graft.Checkpoints.localCheckpoint(
      simpleEdges(edges, src, dst), eager = false, resetStats = true)
    var prevEdges = cur.count()
    var it = 0
    var converged = prevEdges == 0L
    val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    while (!converged && it < maxIter) {
      // LINEAR round (the connectedComponents discipline): each bidir
      // row picks up its endpoint's degree from a window over the one
      // u-keyed exchange, and the edge survives iff min(deg_a, deg_b)
      // >= k — folded at edge grain in the same aggregation that
      // restores the canonical (a, b) row. The old shape re-derived the
      // degree aggregate and joined the keep set twice per round: every
      // extra Exchange is a sequential AQE stage launch, and the
      // peeling loop's cost at bench scale is its stage count.
      val bidirDeg = cur.select(col("a").as("u"), col("b").as("v"))
        .unionAll(cur.select(col("b").as("u"), col("a").as("v")))
        .withColumn("__deg", count(lit(1)).over(wU))
      // lazy: next.count() below is the full-pass materializing action —
      // one job per peeling round instead of two
      val next = graft.Checkpoints.localCheckpoint(
        bidirDeg
          .groupBy(least(col("u"), col("v")).as("a"),
            greatest(col("u"), col("v")).as("b"))
          .agg(min(col("__deg")).as("__mindeg"))
          .filter(col("__mindeg") >= k)
          .select("a", "b"),
        eager = false, resetStats = true)
      val n = next.count()
      graft.Checkpoints.free(cur)
      cur = next
      converged = n == prevEdges
      prevEdges = n
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not converge in $maxIter rounds — raise maxIter " +
          "(adversarial chains peel one node per round)")
    cur.select(col("a").as("node")).unionAll(cur.select(col("b")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
  }

  /** Test seam: invoked at the start of each [[connectedComponents]]
    * star round with the round number — specs pin the O(log²) round
    * bound on adversarial shapes. No-op in production. */
  private[graft] var ccRoundProbe: Int => Unit = _ => ()

  /** Connected components over an UNDIRECTED edge list (direction,
    * multiplicity, and self-loops ignored): `(node, component)` for
    * every node of at least one edge, where `component` is the MINIMUM
    * node id in the node's component — a canonical, engine-replayable
    * label.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR edge contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — per round, every node re-points its strictly-larger
    * neighbors (large-star), then its strictly-smaller ones
    * (small-star), at the minimum of its closed neighborhood; the edge
    * set monotonically contracts to min-rooted STARS in O(log²) rounds
    * REGARDLESS of shape. Chosen over min-label flooding (the
    * [[graft.ops.Dedup.dupClusters]] machinery) because flooding is
    * eccentricity-bound on thread-shaped graphs — a reflood frontier
    * adopting already-final labels advances ONE graph hop per round,
    * and pointer doubling only compresses label chains, not graph
    * distance (measured on q226's fuzzy-name chains at sf0.1: 26
    * rounds flooding, 7 star rounds; a web-scale graph's eccentricity
    * runs to hundreds). Each star pass is two key-grain aggregates +
    * an edge join — every step an equi-join over the (shrinking) edge
    * frame, localCheckpointed per round with stats reset (the
    * compounding-originStats planner hazard) and superseded rounds
    * freed.
    *
    * Convergence is detected EXACTLY: each changed round strictly
    * decreases Σ(a + b) over the distinct edge set (every re-pointed
    * edge replaces an endpoint by a strictly smaller one, and merges
    * only remove terms), so an unchanged exact DECIMAL(38,0) sum —
    * never a hash — IS the fixpoint. The loud `maxIter` backstop
    * remains (a partial contraction would silently split components;
    * refusing beats wrong labels).
    *
    * Ids must be long-castable (the engine-wide numeric-id contract);
    * a string/UUID id refuses loudly through the consumed endpoint
    * with the [[graft.ops.Ids.withSurrogateId]] pointer. Null
    * endpoints are dropped (unlinkable, the graph-family convention);
    * self-loop-only nodes are their own singleton component. */
  def connectedComponents(
      edges: DataFrame,
      src: String,
      dst: String,
      maxIter: Int = 64
  ): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    def checked(c: String): Column =
      when(col(c).cast("long").isNull, raise_error(concat(
        lit(s"connectedComponents: endpoint '$c' value "), col(c).cast("string"),
        lit(" is not long-castable — route string ids through "),
        lit("Ids.withSurrogateId first"))).cast("long"))
        .otherwise(col(c).cast("long"))
    // one pass over the (possibly expensive) upstream: nodes, the
    // canonical edge set, and the final mapping join all read blocks.
    // raw stays EAGER: its subtree is an arbitrary caller join tree
    // (q226 feeds the edit-distance self-join straight in) that plans
    // best as its own materialization query — folding it lazily into
    // potential(cur)'s agg job measured q226 1.25x SLOWER. cur/next are
    // lazy (below): their subtrees are shallow aggregations over
    // already-persisted blocks, and the potential() agg that follows
    // each is the full-pass action that materializes them in-job.
    val raw = graft.Checkpoints.localCheckpoint(edges
      .filter(col(src).isNotNull && col(dst).isNotNull)
      .select(checked(src).as("a"), checked(dst).as("b")), resetStats = true)
    // every node ever seen (incl. self-loop-only): the output domain
    val nodes = raw.select(col("a").as("node")).unionAll(raw.select(col("b")))
      .distinct()
    var cur = graft.Checkpoints.localCheckpoint(
      raw.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct(), eager = false, resetStats = true)
    import org.apache.spark.sql.types.DecimalType
    def potential(e: DataFrame): (java.math.BigDecimal, Long) = {
      val r = e.agg(
        coalesce(sum((col("a") + col("b")).cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO)).as("s"),
        count(lit(1)).as("n")).head()
      (r.getDecimal(0), r.getLong(1))
    }
    var pot = potential(cur)
    var it = 0
    var converged = pot._2 == 0L
    val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
    while (!converged && it < maxIter) {
      ccRoundProbe(it)
      // Each round is a LINEAR pipeline — every intermediate frame is
      // consumed exactly once, so nothing re-evaluates and the round is
      // exactly 3 exchanges (u-window, b-window, dedup) + the potential
      // agg. The previous aggregate-join formulation consumed `mins`,
      // `ls` and `mins2` from two branches each: the planner re-planned
      // the subtree per consumer and every extra Exchange was a
      // sequential AQE stage launch — at bench scale this loop's cost IS
      // its stage count (q226: 67 one-stage jobs / 94 tasks before).
      // Skew note: a hot node's neighborhood lands in one window
      // partition, exactly as it landed in one SMJ partition before.
      //
      // LARGE-STAR: neighborhoods from both directions; every strictly-
      // larger neighbor v of u re-points at m = min(N(u) ∪ {u}) — the
      // per-u min rides a window over the one u-keyed exchange.
      val bidir = cur.select(col("a").as("u"), col("b").as("v"))
        .unionAll(cur.select(col("b").as("u"), col("a").as("v")))
      val ls = bidir
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b")) // m <= u < v: no self-edges
      // SMALL-STAR: edges now all point smaller<-larger; each node x
      // re-points its smaller neighbors (and itself) at their minimum
      // mn = min over the b-partition (all a < b, so mn < b always).
      // One explode emits the re-pointed edge (mn, a) and the membership
      // row (mn, b) from the same pass; ls duplicates (several u
      // pointing the same v at the same m — at most one ls row per cur
      // edge, min() ignores them) fold in the round's distinct.
      // lazy checkpoint: potential(next) below is the full-pass action
      // that materializes the round's blocks — one job per round, not two
      val next = graft.Checkpoints.localCheckpoint(
        ls.withColumn("mn", min(col("a")).over(wB))
          .select(col("mn"), explode(array(col("a"), col("b"))).as("y"))
          .filter(col("y") =!= col("mn"))
          .select(col("mn").as("a"), col("y").as("b"))
          .distinct(), eager = false, resetStats = true)
      val nextPot = potential(next)
      graft.Checkpoints.free(cur)
      cur = next
      // strict-decrease potential: an unchanged exact sum IS the
      // fixpoint (compareTo — BigDecimal.equals is scale-sensitive)
      converged = nextPot._1.compareTo(pot._1) == 0 && nextPot._2 == pot._2
      pot = nextPot
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds — " +
          "raise maxIter (the bound is O(log² n); this graph is adversarial)")
    // fixpoint edges are min-rooted stars: b -> a maps members, centers
    // and edge-less (self-loop-only) nodes map to themselves
    nodes
      .join(cur.select(col("b").as("node"), col("a").as("__c")), Seq("node"), "left")
      .groupBy("node")
      .agg(min(col("__c")).as("__c"))
      .select(col("node"), coalesce(col("__c"), col("node")).as("component"))
  }

  /** INCREMENTAL connected components: merge an edge increment into a
    * persisted [[connectedComponents]] mapping without re-contracting
    * the full graph — the [[graft.ops.Snapshot.scd2Apply]] philosophy
    * ("the increment costs the increment") applied to entity
    * resolution, where a full rebuild at 100 TB re-contracts an
    * ever-growing graph for every new edge batch.
    *
    * Correctness: components quotient by the existing mapping — each
    * new edge `(u, v)` becomes an edge between ENTITY labels
    * `(comp(u), comp(v))` (an endpoint unknown to the history is its
    * own entity), self-loops kept so every touched entity reaches the
    * output. [[connectedComponents]] over that contracted increment
    * graph yields an (old label → new label) map; since every label
    * is the MIN member id of its entity and new nodes enter as their
    * own id, the min of merged labels IS the min member of the merged
    * component — so relabelling the history through the map equals a
    * full rebuild exactly (spec-pinned at multiple split points).
    *
    * Scale shape: the history is SCANNED, never shuffled — touched
    * rows come from a broadcast left-semi of the increment's endpoint
    * set, the increment-sized contracted graph is solved by a
    * driver-side union-find over its distinct edges (union-by-min, so
    * labels stay the min member id; a contracted edge set beyond ~4×
    * the node ceiling falls back to the distributed star contraction),
    * and the final relabel is one broadcast left join
    * over the history scan. The increment (its endpoints, touched
    * entities, and label map) must be broadcast-small — the operator's
    * contract, ENFORCED loudly: an increment whose distinct endpoint
    * set exceeds `maxIncrementNodes` refuses with a "rebuild with
    * [[connectedComponents]] instead" message before any broadcast is
    * attempted (one scalar count of the checkpointed increment — never
    * a generic broadcast OOM mid-job). Output: the full updated
    * `(node, component)` mapping (history nodes plus the increment's
    * new nodes). */
  def ccApply(
      components: DataFrame,
      newEdges: DataFrame,
      src: String,
      dst: String,
      maxIter: Int = 64,
      maxIncrementNodes: Long = 5000000L
  ): DataFrame = {
    val (e, eNodes, nIncNodes) =
      ccPrepIncrement(newEdges, src, dst, maxIncrementNodes)
    ccApplyPrepared(components, e, eNodes, nIncNodes, maxIter, maxIncrementNodes)
  }

  /** [[ccApply]] with the HISTORY CONTRACTION and the increment preamble
    * run as CONCURRENT Spark jobs (guide §2.6 "overlap independent
    * jobs"): `connectedComponents(histEdges)` and the increment's
    * endpoint-set materialization + ceiling guard are independent
    * subtrees that [[ccApply]]'s call shape awaits sequentially — the
    * star-contraction rounds leave most executors idle at bench/
    * increment scale (each round is a handful of sequential AQE stage
    * launches), so the increment preamble back-fills them instead of
    * queueing behind the loop. Identical result to
    * `ccApply(connectedComponents(histEdges, src, dst), newEdges, ...)`
    * by construction — same operators, same arguments, only job overlap.
    * The preamble's pool thread runs under the caller's local properties
    * (job group, tags, scheduler pool), so both lines cancel together. */
  def ccIncremental(
      histEdges: DataFrame,
      newEdges: DataFrame,
      src: String,
      dst: String,
      maxIter: Int = 64,
      maxIncrementNodes: Long = 5000000L
  ): DataFrame = {
    val sc = newEdges.sparkSession.sparkContext
    val props = ListenerBridge.localProperties(sc)
    val prep = java.util.concurrent.CompletableFuture.supplyAsync(() =>
      ListenerBridge.withLocalProperties(sc, props) {
        ccPrepIncrement(newEdges, src, dst, maxIncrementNodes)
      })
    val comps =
      try connectedComponents(histEdges, src, dst, maxIter)
      catch { case t: Throwable =>
        // the preamble's jobs are harmless if orphaned, but surface the
        // PRIMARY failure, not a racing secondary one
        try prep.cancel(true) catch { case _: Throwable => () }
        throw t
      }
    val (e, eNodes, nIncNodes) =
      try prep.join()
      catch { case ce: java.util.concurrent.CompletionException =>
        throw Option(ce.getCause).getOrElse(ce)
      }
    ccApplyPrepared(comps, e, eNodes, nIncNodes, maxIter, maxIncrementNodes)
  }

  /** The increment preamble shared by [[ccApply]] and [[ccIncremental]]:
    * checkpoint the cleaned increment and its distinct endpoint set, and
    * enforce the "increment must be broadcast-small" contract LOUDLY
    * before any broadcast is attempted (the engine's uniform refusal
    * convention — maxHotKeys, maxUserPairs, maxPrefixFreq: a generic
    * broadcast OOM hours in is not an error message). One scalar count
    * over the checkpointed increment. */
  private def ccPrepIncrement(
      newEdges: DataFrame,
      src: String,
      dst: String,
      maxIncrementNodes: Long
  ): (DataFrame, DataFrame, Long) = {
    require(maxIncrementNodes >= 1, "maxIncrementNodes must be >= 1")
    def checked(c: String): Column =
      when(col(c).cast("long").isNull, raise_error(concat(
        lit(s"ccApply: endpoint '$c' value "), col(c).cast("string"),
        lit(" is not long-castable — route string ids through "),
        lit("Ids.withSurrogateId first"))).cast("long"))
        .otherwise(col(c).cast("long"))
    // one pass over the (possibly expensive) increment upstream: the
    // endpoint set, both contraction joins, and the new-node split all
    // read blocks
    // lazy: the eNodes.count() guard below is the first action — a full
    // distinct pass that materializes the increment's blocks in-job
    val e = graft.Checkpoints.localCheckpoint(newEdges
      .filter(col(src).isNotNull && col(dst).isNotNull)
      .select(checked(src).as("u"), checked(dst).as("v")),
      eager = false, resetStats = true)
    // checkpointed: the guard count below materializes the blocks, and
    // the broadcast build then READS them instead of re-running the
    // distinct over the increment (every re-evaluation is a sequential
    // AQE stage launch)
    val eNodes = graft.Checkpoints.localCheckpoint(
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .distinct(), eager = false, resetStats = true)
    val nIncNodes = eNodes.count()
    if (nIncNodes > maxIncrementNodes)
      throw new IllegalArgumentException(
        s"ccApply: the edge increment touches $nIncNodes distinct endpoints " +
          s"> maxIncrementNodes=$maxIncrementNodes (≈${nIncNodes * 16 / (1 << 20)}" +
          " MiB of endpoint pairs on the driver/executors as a broadcast) — " +
          "an increment comparable to the graph itself should rebuild with " +
          "connectedComponents instead (or raise maxIncrementNodes if the " +
          "endpoint set is genuinely broadcast-small)")
    (e, eNodes, nIncNodes)
  }

  /** [[ccApply]]'s tail over a validated increment: contract through the
    * standing labels, solve the contracted graph, relabel the history. */
  private def ccApplyPrepared(
      components: DataFrame,
      e: DataFrame,
      eNodes: DataFrame,
      nIncNodes: Long,
      maxIter: Int,
      maxIncrementNodes: Long
  ): DataFrame = {
    val h = components.select(col("node").cast("long").as("node"),
      col("component").cast("long").as("component"))
    // touched history rows: a broadcast semi — the history is scanned
    // once, its shuffle-free read being the entire point of the
    // incremental path
    val touched = graft.Checkpoints.trackCache(
      h.join(broadcast(eNodes), Seq("node"), "left_semi").persist())
    val cu = touched.select(col("node").as("u"), col("component").as("cu"))
    val cv = touched.select(col("node").as("v"), col("component").as("cv"))
    val contracted = e
      .join(cu, Seq("u"), "left")
      .join(cv, Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("cu"),
        coalesce(col("cv"), col("v")).as("cv"))
    // entities of the contracted graph: old component labels and brand-
    // new node ids (disjoint by construction — labels are history nodes).
    // The contracted graph is INCREMENT-SIZED and broadcast-small by the
    // operator's enforced contract (its labels and new nodes are
    // collected for the relabel broadcast below either way), so solve it
    // with one driver-side union-find over the DISTINCT contracted edges
    // instead of running the full star contraction — each contraction
    // round costs ~7 sequential stage launches, and an increment-sized
    // graph pays ~5 rounds of them for work a union-find does in
    // microseconds (union-by-min keeps the component label = min member
    // id invariant exactly, so the result is identical). A contracted
    // edge set too large for the driver (possible only when the
    // increment carries ≳2 distinct edges per endpoint at the node
    // ceiling) falls back to the distributed contraction.
    // checkpointed: the size guard's count materializes the distinct
    // edge set once; the union-find's collect then reads the blocks
    // instead of re-running the contraction joins
    val cEdges = graft.Checkpoints.localCheckpoint(
      contracted.distinct(), eager = false, resetStats = true)
    val nCE = cEdges.count()
    val spark = e.sparkSession
    import spark.implicits._
    // 2× the node ceiling (was 4×): a connected simple graph on the
    // ceiling's node count is solved by any spanning-tree-dense subset,
    // and 2× already admits it with slack — at the 5M default the
    // worst-case driver hold is ~10M primitive pairs ≈ 160 MB, half the
    // old bound's (§5: the driver should do almost no data work)
    if (nCE <= math.max(maxIncrementNodes, 1000000L) * 2) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val seen = scala.collection.mutable.LongMap.empty[Unit]
      // primitive (Long, Long) tuples, not Row objects: the collect is
      // the operator's largest driver hold, and a Row costs ~3× the
      // tuple in header + boxing overhead (§5)
      cEdges.select(col("cu"), col("cv")).as[(Long, Long)]
        .collect().foreach { case (u, v) =>
          seen(u) = (); seen(v) = ()
          if (u != v) {
            val ru = find(u); val rv = find(v)
            if (ru != rv) {
              val lo = math.min(ru, rv); val hi = math.max(ru, rv)
              parent(hi) = lo
            }
          }
        }
      // the label map and new-node split are driver-side too: the
      // contracted solution is already local, and the touched rows'
      // component set is increment-bounded (the same class as the
      // labelMap broadcast this feeds) — the old distributed left_anti/
      // left_semi pair re-evaluated `oldLabels` once per join for data
      // already small enough to collect
      val oldLabelSet = touched.select(col("component")).distinct()
        .as[Long].collect().toSet
      // the collect is transitively bounded by the enforced endpoint
      // ceiling (touched ⊆ history ⋉ eNodes, so ≤ nIncNodes rows);
      // assert the invariant AT the collect site so any future change
      // to the touched derivation fails here, not as a driver OOM
      assert(oldLabelSet.size <= nIncNodes,
        s"ccApply invariant violated: ${oldLabelSet.size} touched labels > " +
          s"$nIncNodes increment endpoints — the touched derivation is " +
          "no longer endpoint-bounded")
      val comp = seen.keys.toSeq.sorted.map(n => (n, find(n)))
      val (mapPairs, newPairs) = comp.partition(p => oldLabelSet.contains(p._1))
      val labelMap = mapPairs.toDF("component", "__new")
      h.join(broadcast(labelMap), Seq("component"), "left")
        .select(col("node"), coalesce(col("__new"), col("component")).as("component"))
        .unionByName(newPairs.toDF("node", "component"))
    } else {
      // distributed fallback: the contracted edge set is too large to
      // collect — run the star contraction and split labels with joins
      val cc2 = graft.Checkpoints.trackCache(
        connectedComponents(cEdges, "cu", "cv", maxIter).persist())
      val oldLabels = touched.select(col("component").as("node")).distinct()
      val newNodeRows = cc2.join(oldLabels, Seq("node"), "left_anti")
      val labelMap = cc2.join(oldLabels, Seq("node"), "left_semi")
        .select(col("node").as("component"), col("component").as("__new"))
      h.join(broadcast(labelMap), Seq("component"), "left")
        .select(col("node"), coalesce(col("__new"), col("component")).as("component"))
        .unionByName(newNodeRows.select(col("node"), col("component")))
    }
  }

  /** Edge reciprocity per node over the DIRECTED simple graph (distinct
    * src→dst pairs, self-loops and null endpoints dropped): the fraction
    * of a node's out-edges that are answered by the reverse edge —
    * organic follow graphs reciprocate heavily, purchased-follower and
    * spam-injection patterns don't (and a ring of bots reciprocates
    * perfectly, which is exactly why it pairs with
    * [[clusteringCoefficient]] rather than replacing it). Output:
    * `(node, out_deg, n_recip, reciprocity_r)`. One distinct-edge
    * shuffle + a self-semi-join on the reversed key. */
  def reciprocity(edges: DataFrame, src: String, dst: String): DataFrame = {
    val simple = graft.Checkpoints.trackCache(edges
      .filter(col(src).isNotNull && col(dst).isNotNull && col(src) =!= col(dst))
      .select(col(src).as("u"), col(dst).as("v"))
      .distinct())
    val rev = simple.select(col("v").as("u"), col("u").as("v"))
    val recip = simple.join(rev, Seq("u", "v"), "left_semi")
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("n_recip"))
    simple.groupBy(col("u").as("node")).agg(count(lit(1)).as("out_deg"))
      .join(recip, Seq("node"), "left")
      .select(col("node"), col("out_deg"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        (round(coalesce(col("n_recip"), lit(0L)).cast("double") / col("out_deg"), 6)
          + lit(0.0)).as("reciprocity_r"))
  }

  /** Local clustering coefficient per node: `2·T(v) / (deg(v)·(deg(v)−1))`
    * over the undirected simple graph — 1.0 inside a clique (the
    * link-farm signature), near 0 on organic link structure;
    * degree-1 and isolated-in-frame nodes report null (undefined 0/0).
    * Output: `(node, deg, n_triangles, clustering_r)` (6-decimal). */
  def clusteringCoefficient(edges: DataFrame, src: String, dst: String): DataFrame =
    triangleCore(edges, src, dst)._2
      .select(col("node"), col("deg"), col("n_triangles"),
        (round(when(col("deg") >= 2,
          lit(2.0) * col("n_triangles") / (col("deg") * (col("deg") - lit(1L)))),
          6) + lit(0.0)).as("clustering_r"))
}
