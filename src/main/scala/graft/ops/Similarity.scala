package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-similarity operators: exact cosine, brute-force top-k, and a
  * hyperplane-LSH bucketed approximate variant for the 100 TB path.
  *
  * Vectors are `array<float>` columns (cast to double for the arithmetic);
  * dot products use `zip_with` + `aggregate` — sequential, deterministic,
  * codegen-friendly, no UDF.
  */
object Similarity {

  /** Sequential-order dot product of two double arrays, as a native
    * codegen'd expression ([[graft.expressions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.dot(a, b)

  /** Cosine similarity: dot/(sqrt(dot(a,a))*sqrt(dot(b,b))) — the exact
    * formula mirrored by the DuckDB oracle SQL, computed by the one-pass
    * codegen'd [[graft.expressions.CosineSimilarity]] (same element order
    * per accumulator, so bit-identical to composing three dot products). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosine(a, b)

  /** L2-normalize a vector: `v / ||v||_2`. Zero-norm vectors normalize to
    * null (the IEEE result would be an all-NaN vector, which then poisons
    * every downstream dot product silently — null is loud). */
  def l2Normalize(vec: Column): Column = {
    val norm = sqrt(aggregate(vec, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    // norm is null when the array holds a null element: that case must
    // also null the WHOLE result, not emit an array of nulls
    when(norm.isNull || norm === 0.0 || isnan(norm), lit(null))
      .otherwise(transform(vec, x => x.cast("double") / norm))
  }

  /** Symmetric int8 quantization: `code_i = clamp(round_half_away(v_i /
    * scale * 127), ±127)` with `scale = max|v_i|` per vector. 4x smaller
    * than float32 at rest — the standard storage/bandwidth lever for
    * 100 TB embedding tables — and exactly reproducible by any engine
    * (max is order-independent and the rounding is explicit floor-based,
    * so the DuckDB oracle recomputes identical codes). Zero vectors get
    * scale 0 and all-zero codes. Returns `struct(scale double,
    * codes array<tinyint>)`; invert with [[dequantizeInt8]]. */
  def quantizeInt8(vec: Column): Column =
    struct(
      graft.expressions.QuantizeExpressions.maxAbs(vec).as("scale"),
      graft.expressions.QuantizeExpressions.int8Codes(vec)
        .cast("array<tinyint>").as("codes"))

  /** Dequantize [[quantizeInt8]] output back to doubles:
    * `code * scale / 127`. Max absolute error is `scale / 254`. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"),
      c => c.cast("double") * q.getField("scale") / lit(127.0))

  /** Two-stage quantized retrieval: an int8-code dot-product prefilter
    * streams the whole corpus (integer math over 4x-smaller vectors —
    * the scan stage a 100 TB deployment runs over the quantized table),
    * then only the top `rerank` candidates per query are re-scored with
    * exact float cosine. Code dot products are exact integers (well under
    * 2^53), so the candidate set is deterministic and engine-reproducible;
    * ties break toward the smaller corpus id at both stages.
    *
    * Both stages use the [[GroupTopK]] heap aggregate, not a ranking
    * window: the approx scan reduces each input partition to ≤`rerank`
    * rows per query BEFORE the shuffle (a `row_number` window here would
    * funnel the whole corpus through one partition per query and fully
    * sort it — invisible at test scale, fatal at 100 TB), and the
    * candidate frame carries only ids until the exact stage joins the
    * float vectors back. The retrieval plan has no Window node at all
    * (asserted by PlanShapeSpec). */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      queryId: String = "vec_id",
      queryVec: String = "embedding"
  ): DataFrame = {
    require(rerank >= k, "rerank pool must be at least k")
    // codes as double arrays so the native codegen'd DotProduct does the
    // integer arithmetic (values are exact in doubles); the fused native
    // Int8Codes emits that shape directly — no HOF in the scan stage
    def codesD(vec: Column) = graft.expressions.QuantizeExpressions.int8Codes(vec)
    val c = corpus.select(col(corpusId), codesD(col(corpusVec)).as("__ccodes"))
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      codesD(col(queryVec)).as("__qcodes")))

    val scored = c.join(q, col(corpusId) =!= col("query_id"))
      .withColumn("approx", dot(col("__qcodes"), col("__ccodes")))
      .select(col("query_id"), col(corpusId), col("approx"))
    val candidates = GroupTopK.topKPerGroup(
      scored, Seq("query_id"), corpusId, "approx", rerank, rankCol = "__arank")

    // exact rerank over ≤ rerank·|queries| candidate rows: float vectors
    // join back by id, then the same heap aggregate takes the final top-k
    // (NaN cosines from zero-norm vectors are dropped inside topKPerGroup,
    // matching the window formulation's !isnan filter)
    candidates
      .join(corpus.select(col(corpusId), col(corpusVec).as("__cvec")), Seq(corpusId))
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qvec"))), Seq("query_id"))
      .withColumn("cosine", cosine(col("__qvec"), col("__cvec")))
      .transform(GroupTopK.topKPerGroup(_, Seq("query_id"), corpusId, "cosine", k,
        rankCol = "nn_rank"))
      // topKPerGroup widens ids to long internally; hand callers back the
      // corpus column's own type (int ids must not drift to long)
      .select(col("query_id"),
        col(corpusId).cast(corpus.schema(corpusId).dataType).as(corpusId),
        col("cosine"), col("nn_rank").cast("int").as("nn_rank"))
  }

  /** All-pairs cosine between a (small, broadcast) query frame and the
    * corpus. The query side is broadcast so the corpus streams through in
    * one pass — the only scalable shape for 100 TB x small-query workloads.
    *
    * @return frame with (queryIdOut, corpus id col, "cosine")
    */
  def crossCosine(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      queryIdOut: String = "query_id",
      excludeSelf: Boolean = true
  ): DataFrame = {
    // excludeSelf assumes corpus and query ids share ONE id space (the
    // usual query-from-corpus case); pass false when the query batch has
    // its own ids, or equal id values would silently drop valid pairs.
    val q = queries.select(
      col(queryId).as(queryIdOut), col(queryVec).as("__q_vec"))
    val joined =
      if (excludeSelf) corpus.join(broadcast(q), col(corpusId) =!= col(queryIdOut))
      else corpus.crossJoin(broadcast(q))
    joined
      .withColumn("cosine", cosine(col("__q_vec"), col(corpusVec)))
      .drop("__q_vec")
  }

  /** Sign bits of the vector against `nBits` deterministic pseudo-random
    * +-1 hyperplanes -> an integer bucket key. The planes are generated
    * driver-side from a seeded PRNG and embedded as array literals, so the
    * per-row work is `nBits` plain dot products — no per-element hashing,
    * reproducible across runs. */
  def hyperplaneBucket(vec: Column, dim: Int, nBits: Int, seed: Long): Column =
    graft.expressions.HyperplaneBits(vec, hyperplanes(dim, nBits, seed))

  /** Deterministic seeded +-1 hyperplanes. */
  def hyperplanes(dim: Int, nBits: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Exact brute-force top-k: per query, the k nearest corpus vectors by
    * cosine, ties toward the smaller corpus id; NaN cosines (zero-norm
    * vectors) never rank. A [[GroupTopK]] heap aggregate instead of a
    * ranking window: map-side partial aggregation reduces each
    * partition to k candidates per query BEFORE the shuffle. Output
    * (query_id, id, cosine, nn_rank: int). */
  def bruteForceTopKAgg(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      queryId: String = "vec_id",
      queryVec: String = "embedding"
  ): DataFrame =
    GroupTopK.topKPerGroup(
      crossCosine(corpus, queries, corpusId, corpusVec, queryId, queryVec),
      Seq("query_id"), corpusId, "cosine", k, rankCol = "nn_rank")
      // drop-in schema parity with the window formulation
      .select(col("query_id"), col(corpusId), col("cosine"),
        col("nn_rank").cast("int").as("nn_rank"))

  /** Shared LSH bucketing stage: one row per (id, table, bucket) — ids
    * plus any `extraCols` payload, never the vectors (vectors join back
    * by id after candidate dedup). Buckets use the engine-wide seed
    * family `7919 * (table + 1)`. */
  private[ops] def lshBuckets(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      idOut: String,
      dim: Int,
      nBits: Int,
      nTables: Int,
      extraCols: Seq[(String, String)] = Nil
  ): DataFrame = {
    val arr = array((0 until nTables).map(t =>
      struct(lit(t).as("table"),
        hyperplaneBucket(col(vecCol), dim, nBits, seed = 7919L * (t + 1)).as("bucket"))): _*)
    val keep = col(idCol).as(idOut) +: extraCols.map { case (c, out) => col(c).as(out) }
    df.select(keep :+ explode(arr).as("__b"): _*)
      .select((col(idOut) +: extraCols.map(e => col(e._2))) ++
        Seq(col("__b.table").as("table"), col("__b.bucket").as("bucket")): _*)
  }

  /** Approximate top-k via hyperplane-LSH bucketing: corpus and queries are
    * bucketed with `nTables` independent bit-sets; candidates = corpus rows
    * sharing a bucket with the query in ANY table; exact cosine + top-k is
    * then computed over candidates only. At scale this turns an O(N x Q)
    * cross join into `nTables` equi-joins on bucket keys. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      nBits: Int = 12,
      nTables: Int = 4,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      queryId: String = "vec_id",
      queryVec: String = "embedding"
  ): DataFrame = {
    // Bucket frames carry ONLY ids + bucket keys: vectors join back by id
    // after the candidate set is deduplicated, so no float arrays travel
    // through the bucket join or the distinct.
    val c = lshBuckets(corpus, corpusId, corpusVec, "__cid", dim, nBits, nTables)
    val q = lshBuckets(queries, queryId, queryVec, "query_id", dim, nBits, nTables)

    val candidates = c
      .join(broadcast(q), Seq("table", "bucket"))
      .filter(col("__cid") =!= col("query_id"))
      .select("query_id", "__cid")
      .distinct()

    val scored = candidates
      .join(corpus.select(col(corpusId).as("__cid"), col(corpusVec).as("__cv")), "__cid")
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))), "query_id")
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .select(col("query_id"), col("__cid").as(corpusId), col("cosine"))
    // heap aggregate, not a per-query ranking window: candidates are
    // already bucket-pruned, but the aggregate keeps the final top-k
    // map-side too (and NaN cosines from zero-norm vectors are dropped
    // inside, same as the previous !isnan + window formulation)
    GroupTopK.topKPerGroup(scored, Seq("query_id"), corpusId, "cosine", k,
        rankCol = "nn_rank")
      // hand back the corpus column's own id type (see quantizedTopK)
      .select(col("query_id"),
        col(corpusId).cast(corpus.schema(corpusId).dataType).as(corpusId),
        col("cosine"), col("nn_rank").cast("int").as("nn_rank"))
  }

  /** Trains the IVF coarse quantizer (MLlib KMeans) on the corpus and
    * returns the learned centroids as `(list_id, centroid, |c|²)` — the
    * explicit-centroid form [[ivfTopKWithCentroids]] consumes. Splitting
    * training from search lets callers (a) reuse one quantizer across
    * query batches and (b) mirror the search EXACTLY in another engine by
    * interpolating the centroid values as literals (the q54 oracle).
    *
    * @param trainFraction at 100 TB fit the quantizer on a sample; 1.0
    *                      fits on the full corpus (fine up to ~1e7 rows)
    */
  def trainIvfCentroids(
      corpus: DataFrame,
      vecCol: String,
      nLists: Int,
      trainFraction: Double = 1.0,
      seed: Long = 42L
  ): Seq[(Int, Seq[Double], Double)] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val featurized = corpus.withColumn("__features",
      array_to_vector(col(vecCol).cast("array<double>")))
    val trainSet =
      if (trainFraction >= 1.0) featurized
      else featurized.sample(withReplacement = false, trainFraction, seed)
    val model = new KMeans()
      .setK(nLists).setSeed(seed).setMaxIter(10).setFeaturesCol("__features")
      .fit(trainSet)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      val arr = c.toArray
      (i, arr.toSeq, arr.map(x => x * x).sum) // |c|^2 precomputed once
    }.toSeq
  }

  /** IVF (inverted-file) approximate top-k — the classic ANN scale path:
    * a KMeans coarse quantizer partitions the corpus into `nLists` cells;
    * each query probes only its `nProbe` nearest cells and runs exact
    * cosine top-k within them. Per-query work drops from O(N) to
    * O(N * nProbe / nLists). Trains the quantizer then delegates to
    * [[ivfTopKWithCentroids]].
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nLists: Int = 64,
      nProbe: Int = 8,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      queryId: String = "vec_id",
      queryVec: String = "embedding",
      trainFraction: Double = 1.0,
      seed: Long = 42L
  ): DataFrame =
    ivfTopKWithCentroids(corpus, queries, k,
      trainIvfCentroids(corpus, corpusVec, nLists, trainFraction, seed),
      nProbe, corpusId, corpusVec, queryId, queryVec)

  /** PORTABLE deterministic k-means (Lloyd's algorithm) — the
    * oracle-replayable alternative to [[trainIvfCentroids]]'s MLlib
    * trainer, whose RNG/FP order no other engine can reproduce. Every
    * step here is engine-portable arithmetic:
    *
    *  - init: the `k` vectors with the smallest md5 unit hash of their id
    *    (deterministic seeding; cluster j = j-th smallest hash). Plain
    *    hash seeding, not k-means++ — the published tradeoff is init
    *    quality for reproducibility, and IVF coarse quantizers are
    *    insensitive to it at practical list counts;
    *  - assign: [[assignCell]]'s zero-shuffle literal-centroid argmax of
    *    `2·v⋅c − |c|²` (argmin squared L2, ties toward the smaller id);
    *  - update: the two-level deterministic fold of
    *    [[Labels.labelCentroids]] (sorted per md5 sub-bucket, then over
    *    the ≤64 partials), so new centroid doubles are bit-identical
    *    across runs, partitionings, and engines. Clusters that lose all
    *    members keep their previous centroid.
    *
    * Returns `(cluster, centroid, |c|²)` rows that plug straight into
    * [[ivfTopKWithCentroids]] / [[assignCells]]. Scale shape per round:
    * one map-side assignment pass + the bounded fold aggregate; the
    * driver holds k × dim doubles, never data. */
  def trainKmeansPortable(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      salt: String = ""
  ): Seq[(Int, Seq[Double], Double)] = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 0, "iters must be >= 0")
    val base = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
    val seeds = Sampling.uniformSampleExact(
        base.select(col(idCol), col(vecCol).cast("array<double>").as("__v")),
        idCol, k, salt)
      .orderBy("sample_rank")
      .select("__v")
      .collect()
      .map(_.getSeq[Double](0))
    def withNorm(cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double], Double)] =
      cents.map { case (i, c) => (i, c, c.map(x => x * x).sum) }
    var centroids = withNorm(seeds.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
    var it = 0
    while (it < iters) {
      val assigned = assignCells(base, vecCol, centroids, outCol = "__cell")
      val means = graft.ops.Labels
        .labelCentroids(assigned, "__cell", idCol, vecCol)
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
        .toMap
      centroids = withNorm(centroids.map { case (i, prev, _) =>
        (i, means.getOrElse(i, prev)) // empty cluster keeps its centroid
      })
      it += 1
    }
    centroids
  }

  /** Nearest-centroid cell id for a vector column, as a single codegen'd
    * expression over LITERAL centroids: argmax of `2·v⋅c − |c|²`
    * (equivalent to argmin squared euclidean — `|v|²` is constant per
    * row) via a struct max, ties toward the SMALLER `list_id` (Spark
    * compares structs lexicographically). Zero shuffles, exactly
    * mirrorable in SQL by interpolating the centroid values — shared by
    * [[ivfTopKWithCentroids]] and
    * [[Sampling.clusterBalancedSample]]. */
  def assignCell(vec: Column, centroidSeq: Seq[(Int, Seq[Double], Double)]): Column = {
    require(centroidSeq.nonEmpty, "need at least one centroid")
    val cells = array(centroidSeq.map { case (i, c, c2) =>
      struct((lit(2.0) * dot(vec.cast("array<double>"), typedlit(c)) - lit(c2)).as("neg"),
        lit(-i).as("nlist"))
    }: _*)
    (-array_max(cells).getField("nlist")).cast("int")
  }

  /** Literal-inlining bound for [[assignCell]]: the expression embeds
    * `nLists × dim` double literals, so analysis/codegen cost grows
    * linearly with the centroid count — sound to ~10⁴ centroids, the
    * common IVF regime. [[assignCells]] switches to the broadcast-array
    * fold above this. */
  private[graft] val AssignCellLiteralBound = 4096

  /** Nearest-centroid assignment as a frame transform: adds `outCol`
    * (int cell id) to `df`. Dispatches on centroid count: up to
    * [[AssignCellLiteralBound]] it is the zero-shuffle literal argmax of
    * [[assignCell]]; above it the centroids travel as DATA — one
    * broadcast row holding the sorted centroid array, folded per row —
    * so the plan stays O(1) in `nLists` while assignment remains
    * zero-shuffle and deterministic (same argmax, same smaller-id tie
    * rule). */
  def assignCells(
      df: DataFrame,
      vecCol: String,
      centroidSeq: Seq[(Int, Seq[Double], Double)],
      outCol: String = "list_id"
  ): DataFrame =
    if (centroidSeq.size <= AssignCellLiteralBound)
      df.withColumn(outCol, assignCell(col(vecCol), centroidSeq))
    else assignCellsViaBroadcast(df, vecCol, centroidSeq, outCol)

  /** The large-centroid-set path of [[assignCells]], exposed for parity
    * testing: centroids as a single broadcast row (sorted by cell id),
    * argmax by a fold that mirrors [[assignCell]]'s semantics — strict
    * improvement keeps the FIRST (smallest) cell id on ties, NaN scores
    * rank above every real score (Spark's double ordering). */
  private[graft] def assignCellsViaBroadcast(
      df: DataFrame,
      vecCol: String,
      centroidSeq: Seq[(Int, Seq[Double], Double)],
      outCol: String
  ): DataFrame = {
    require(centroidSeq.nonEmpty, "need at least one centroid")
    val spark = df.sparkSession
    import spark.implicits._
    val centArr = centroidSeq.toDF("__cid", "__c", "__c2")
      .agg(sort_array(collect_list(struct(col("__cid"), col("__c"), col("__c2"))))
        .as("__cents"))
    // the fold lambda must reference a bound COLUMN, not `col(vecCol)
    // .cast(...)`: a lambda re-evaluates captured expression trees per
    // element, and an array cast allocates a fresh copy per centroid
    val vec = col("__graft_vd")
    val st0 = struct(lit(Double.NegativeInfinity).as("neg"), lit(-1).as("cell"))
    val best = aggregate(col("__cents"), st0,
      (st, x) => {
        val cand = lit(2.0) * dot(vec, x.getField("__c")) - x.getField("__c2")
        val prev = st.getField("neg")
        // ordering-greater with NaN largest (assignCell's struct-max
        // order); equal (incl. NaN == NaN) keeps the earlier, smaller id
        val better = (isnan(cand) && !isnan(prev)) || (cand > prev)
        when(better, struct(cand.as("neg"), x.getField("__cid").as("cell")))
          .otherwise(st)
      },
      st => st.getField("cell"))
    df.withColumn("__graft_vd", col(vecCol).cast("array<double>"))
      .crossJoin(broadcast(centArr))
      .withColumn(outCol, best.cast("int"))
      .drop("__cents", "__graft_vd")
  }

  /** IVF search against EXPLICIT centroids (`(list_id, centroid, |c|²)`,
    * e.g. from [[trainIvfCentroids]]). Everything downstream of training
    * is deterministic arithmetic over the centroid values:
    *
    *  - corpus→cell assignment is a single codegen'd expression — argmax
    *    over literal centroids of `2·v⋅c − |c|²` (equivalent to argmin
    *    squared euclidean; `|v|²` is constant per row), ties toward the
    *    smaller `list_id` via a struct max — so it costs ZERO shuffles
    *    (the old MLlib `model.transform` path ran a non-codegen UDF and
    *    its own FP order, which no oracle could reproduce);
    *  - probe-cell selection ranks the same negated distance through the
    *    [[GroupTopK]] heap aggregate (Window-free, PlanShapeSpec-pinned);
    *  - the final exact-cosine top-k is the shared heap aggregate.
    *
    * The corpus-side assignment can be persisted/partitioned by `list_id`
    * for repeated query batches. */
  def ivfTopKWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      centroidSeq: Seq[(Int, Seq[Double], Double)],
      nProbe: Int = 8,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      queryId: String = "vec_id",
      queryVec: String = "embedding"
  ): DataFrame = {
    require(centroidSeq.nonEmpty, "need at least one centroid")
    val assigned = assignCells(corpus, corpusVec, centroidSeq, "list_id")
      .select(col(corpusId), col(corpusVec), col("list_id"))
    ivfTopKPreassigned(assigned, queries, k, centroidSeq, nProbe,
      corpusId, corpusVec, queryId, queryVec)
  }

  /** [[ivfTopKWithCentroids]] over a corpus whose `list_id` cell
    * assignment is ALREADY materialized — the serving-path variant: a
    * persisted index ([[saveIvfIndex]]) is read back with its
    * assignments, so per-query-batch work is probe-cell selection plus
    * exact scoring inside the probed cells only, never a corpus-wide
    * re-assignment. With the index parquet partitioned by `list_id`,
    * the probe join prunes unprobed cells at the scan. */
  def ivfTopKPreassigned(
      assigned: DataFrame,
      queries: DataFrame,
      k: Int,
      centroidSeq: Seq[(Int, Seq[Double], Double)],
      nProbe: Int = 8,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      queryId: String = "vec_id",
      queryVec: String = "embedding"
  ): DataFrame = {
    require(centroidSeq.nonEmpty, "need at least one centroid")
    val corpus = assigned

    // centroid table is tiny: broadcast to rank probe cells per query by
    // squared euclidean distance (|q|^2 constant per query -> rank by
    // |c|^2 - 2 q.c).
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = centroidSeq.toDF("list_id", "__centroid", "__c2")
    // probe-cell selection (nearest nProbe centroids per query) via the
    // heap aggregate on the NEGATED distance — "smallest distance" ==
    // "largest negated distance", ties toward the smaller list_id either
    // way. Bounded at |queries| × nLists rows, but using the aggregate
    // keeps the whole operator Window-free (PlanShapeSpec asserts it).
    val qScored = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("__neg_probe",
        lit(2.0) * dot(col("__qv").cast("array<double>"), col("__centroid")) - col("__c2"))
      .select(col("query_id"), col("list_id"), col("__neg_probe"))
    val qProbes = GroupTopK.topKPerGroup(
        qScored, Seq("query_id"), "list_id", "__neg_probe", nProbe, rankCol = "__pr")
      .select(col("query_id"), col("list_id").cast("int").as("list_id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qv"))), Seq("query_id"))

    val scored = assigned
      .join(broadcast(qProbes), Seq("list_id"))
      .filter(col(corpusId) =!= col("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col(corpusVec)))
      .select(col("query_id"), col(corpusId), col("cosine"))
    // final top-k: heap aggregate (NaN cosines from zero-norm vectors are
    // dropped inside, same as the previous !isnan + window formulation)
    GroupTopK.topKPerGroup(scored, Seq("query_id"), corpusId, "cosine", k,
        rankCol = "nn_rank")
      // hand back the corpus column's own id type (see quantizedTopK)
      .select(col("query_id"),
        col(corpusId).cast(corpus.schema(corpusId).dataType).as(corpusId),
        col("cosine"), col("nn_rank").cast("int").as("nn_rank"))
  }

  /** Persist an IVF index as a serving artifact: the corpus with its
    * cell assignment under `path`/corpus — PARTITIONED BY `list_id`, so
    * a query batch's probe join reads only the probed cells' files —
    * and the centroid table under `path`/centroids. Built once, queried
    * many times ([[ivfTopKPreassigned]], [[graft.streaming.StreamingEval
    * .annQueryStream]]); rebuilding is re-running this after retraining. */
  def saveIvfIndex(
      corpus: DataFrame,
      centroidSeq: Seq[(Int, Seq[Double], Double)],
      path: String,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding"
  ): Unit = {
    require(centroidSeq.nonEmpty, "need at least one centroid")
    val spark = corpus.sparkSession
    import spark.implicits._
    IndexCommit.fresh(spark, path)
    assignCells(corpus, corpusVec, centroidSeq, "list_id")
      .select(col(corpusId), col(corpusVec), col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/corpus")
    centroidSeq.toDF("list_id", "centroid", "c2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Index MAINTENANCE: assign new vectors against the persisted
    * quantizer and append them to the index corpus — the write side of
    * the serving loop ([[annQueryStream]] sees them on its next batch's
    * read). The quantizer itself is immutable; when drift warrants
    * retraining, rebuild with [[saveIvfIndex]]. Cost is the increment:
    * one literal-centroid argmax over the NEW vectors, no touch of the
    * standing index. Crash-safe: the increment stages under the
    * index's staging dir and publishes through one marker-fenced
    * [[IndexCommit]] commit — a crash before the marker leaves the
    * index untouched (re-run); after it, the next maintenance call's
    * preamble (or [[IndexCommit.recover]]) completes the append. */
  def appendToIvfIndex(
      newVecs: DataFrame,
      path: String,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      batchTag: Option[Long] = None
  ): Unit = {
    val spark = newVecs.sparkSession
    // exactly-once fencing for streaming appenders: a committed tag
    // means this whole increment already landed (its fence rode the
    // same atomic marker replay) — the crash-retried batch no-ops
    IndexCommit.maintain(spark, path, batchTag) { staging =>
      assignCells(newVecs, corpusVec, loadIvfCentroids(spark, path), "list_id")
        .select(col(corpusId), col(corpusVec), col("list_id"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$staging/corpus")
      Seq("merge" -> "corpus")
    }
  }

  /** OFFLINE maintenance: fold the per-append small file-sets of the
    * index corpus back into ~one file per `list_id` — identical rows,
    * bit-identical search results (spec-pinned), one listing per cell
    * instead of one per append batch. Marker-fenced; run with writers
    * stopped. */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): Unit = IndexCommit.maintain(spark, path) { staging =>
    spark.read.parquet(s"$path/corpus")
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$staging/corpus")
    Seq("swap" -> "corpus") ++ IndexCommit.stageTagCompaction(spark, path)
  }

  /** TAKEDOWN: remove vectors from the persisted index corpus by id —
    * post-delete searches equal an index rebuilt without them (cell
    * assignment is per-vector, so dropping rows IS the rebuild; the
    * quantizer is immutable and keeps serving). `ids` is a one-column
    * frame (broadcast); unknown ids are ignored. The anti-join rewrite
    * also compacts. Marker-fenced; run with writers stopped. */
  def removeFromIvfIndex(
      ids: DataFrame,
      path: String,
      corpusId: String = "vec_id"
  ): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a one-column frame of vector ids, got ${ids.columns.toSeq}")
    val spark = ids.sparkSession
    IndexCommit.maintain(spark, path) { staging =>
      val corpus = spark.read.parquet(s"$path/corpus")
      val rmIds = broadcast(ids.select(col(ids.columns.head)
        .cast(corpus.schema(corpusId).dataType).as(corpusId)).distinct())
      corpus.join(rmIds, Seq(corpusId), "left_anti")
        .repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$staging/corpus")
      Seq("swap" -> "corpus")
    }
  }

  /** INDEX HEALTH REPORT — the describe an operator runs before
    * trusting a standing [[saveIvfIndex]] artifact (or after drift,
    * appends, takedowns): ONE row with the corpus volume, the quantizer
    * size, and the CELL BALANCE that decides whether `nProbe`-pruned
    * serving still works — `max_cell_rows` near `n_vecs` means the
    * quantizer has collapsed and every probe reads the whole corpus
    * (retrain time); `cells_used` < `n_cells` names dead centroids.
    * `mean_cell_r` is vectors per TRAINED cell (6dp); `skew_r` is
    * `max_cell_rows` over that mean. Cell assignment is deterministic
    * given the persisted quantizer, so the whole row replays from the
    * corpus + interpolated centroids (oracle-pinned).
    *
    * Scale shape: one partition-column aggregation over the index
    * corpus (cell grain — thousands of rows, never vectors) plus the
    * tiny centroid table. */
  def describeIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): DataFrame = {
    val nCells = spark.read.parquet(s"$path/centroids").count()
    val cells = spark.read.parquet(s"$path/corpus")
      .groupBy("list_id").agg(count(lit(1)).as("c"))
    cells.agg(
        coalesce(sum(col("c")), lit(0L)).as("n_vecs"),
        count(lit(1)).as("cells_used"),
        max(col("c")).as("max_cell_rows"),
        min(col("c")).as("min_cell_rows"))
      .select(col("n_vecs"), lit(nCells).as("n_cells"), col("cells_used"),
        col("max_cell_rows"), col("min_cell_rows"),
        when(lit(nCells) === 0, lit(null).cast("double"))
          .otherwise(round(col("n_vecs").cast("double") / lit(nCells.toDouble), 6)
            + lit(0.0)).as("mean_cell_r"),
        when(lit(nCells) === 0 || col("n_vecs") === 0,
            lit(null).cast("double"))
          .otherwise(round(col("max_cell_rows").cast("double") *
            lit(nCells.toDouble) / col("n_vecs").cast("double"), 6) + lit(0.0))
          .as("skew_r"))
  }

  /** Read back a [[saveIvfIndex]] centroid table (tiny: one row per
    * cell) in `list_id` order — the literal quantizer the serving path
    * broadcasts per query batch. */
  def loadIvfCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): Seq[(Int, Seq[Double], Double)] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("list_id")
      .collect()
      .map(r => (r.getAs[Int]("list_id"),
        r.getSeq[Double](r.fieldIndex("centroid")),
        r.getAs[Double]("c2")))
      .toSeq

  /** Product-quantization codebooks (FAISS-style PQ): the vector splits
    * into `m` contiguous subspaces and each subspace gets its own
    * `k`-codeword quantizer trained by [[trainKmeansPortable]] — so the
    * entire artifact (init, assignment, updates) is deterministic and
    * engine-replayable, unlike an MLlib-trained codebook. Returns one
    * `(cid, centroid, |c|²)` codebook per subspace, in subspace order.
    *
    * PQ is the standard 100-TB embedding-compression lever: 64 float32
    * dims → `m` uint8 codes (16× smaller at m=4/k≤256) with
    * asymmetric-distance search ([[pqTopK]]) over the codes. */
  def trainPqCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      salt: String = ""
  ): Seq[Seq[(Int, Seq[Double], Double)]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    (0 until m).map { s =>
      val sub = df.select(col(idCol),
        slice(col(vecCol).cast("array<double>"), lit(s * subDim + 1), lit(subDim))
          .as("__sub"))
      trainKmeansPortable(sub, idCol, "__sub", k, iters, salt + s"-pq$s")
    }
  }

  /** PQ-encode: `outCol` = the `m` nearest-codeword ids (one zero-shuffle
    * literal argmax per subspace — [[assignCell]]'s contract, ties toward
    * the smaller codeword id). A pure projection: stream-legal, and the
    * codes column is what a 100-TB deployment persists. */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      codebooks: Seq[Seq[(Int, Seq[Double], Double)]],
      outCol: String = "pq_codes"
  ): DataFrame = {
    require(codebooks.nonEmpty, "need at least one codebook")
    val subDim = codebooks.head.head._2.size
    val codes = codebooks.zipWithIndex.map { case (cb, s) =>
      assignCell(
        slice(col(vecCol).cast("array<double>"), lit(s * subDim + 1), lit(subDim)), cb)
    }
    df.withColumn(outCol, array(codes: _*))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query computes a
    * per-subspace lookup table of exact squared distances to the k
    * codewords (`|q_s|² − 2·q_s⋅c + |c|²`, literal-codebook arithmetic),
    * and every corpus row's approximate distance is the subspace-ordered
    * sum of its codes' table entries — the corpus is scanned as CODES
    * ONLY (the 16×-compressed table), never as float vectors. Ranking:
    * smallest distance, ties toward the smaller corpus id, through the
    * [[GroupTopK]] heap (map-side partials, Window-free). Output:
    * (query_id, corpus id, adist, pq_rank).
    *
    * Exact-rerank composition: join the returned candidate ids back to
    * the float vectors and re-score, as [[quantizedTopK]] does for the
    * int8 scan. */
  def pqTopK(
      corpusCodes: DataFrame,
      queries: DataFrame,
      codebooks: Seq[Seq[(Int, Seq[Double], Double)]],
      k: Int,
      corpusId: String = "vec_id",
      codesCol: String = "pq_codes",
      queryId: String = "vec_id",
      queryVec: String = "embedding"
  ): DataFrame = {
    require(codebooks.nonEmpty, "need at least one codebook")
    val subDim = codebooks.head.head._2.size
    // per-query LUTs: an array of |codebook| exact distance terms per
    // subspace, computed once per query row (queries are the small side)
    val luts = codebooks.zipWithIndex.map { case (cb, s) =>
      val qs = slice(col("__qv"), lit(s * subDim + 1), lit(subDim))
      array(cb.sortBy(_._1).map { case (_, c, c2) =>
        dot(qs, qs) - lit(2.0) * dot(qs, typedlit(c)) + lit(c2)
      }: _*).as(s"__lut$s")
    }
    val q = queries.select(col(queryId).as("query_id"),
        col(queryVec).cast("array<double>").as("__qv"))
      .select(col("query_id") +: luts: _*)
    // subspace-ordered left-assoc sum — mirrored by the oracle term chain
    val dist = codebooks.indices.map { s =>
      element_at(col(s"__lut$s"), element_at(col(codesCol), s + 1) + lit(1))
    }.reduceLeft(_ + _)
    val scored = corpusCodes.select(col(corpusId), col(codesCol))
      .crossJoin(broadcast(q))
      .filter(col(corpusId) =!= col("query_id"))
      .withColumn("__negd", -(round(dist, 6) + lit(0.0)))
      .select(col("query_id"), col(corpusId), col("__negd"))
    GroupTopK.topKPerGroup(scored, Seq("query_id"), corpusId, "__negd", k,
        rankCol = "pq_rank")
      .select(col("query_id"), col(corpusId),
        (-col("__negd") + lit(0.0)).as("adist_r"), col("pq_rank"))
  }

  /** IVF-PQ search (the production FAISS composition): a coarse
    * quantizer prunes the corpus to each query's `nProbe` nearest cells,
    * and ranking inside the probed cells runs asymmetric-distance over
    * PQ CODES — per-query work is `nProbe/nLists` of the corpus, scanned
    * at 16× compression, exact floats touched never. Both quantizers are
    * engine-replayable ([[trainKmeansPortable]] /
    * [[trainPqCodebooks]]); non-residual PQ (codes quantize the raw
    * vector, not the cell residual — the deterministic-oracle tradeoff,
    * one reconstruction table instead of nLists).
    *
    * Output: (query_id, corpus id, adist_r, pq_rank). Same heap-ranked,
    * Window-free shape as every other retrieval path. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      coarse: Seq[(Int, Seq[Double], Double)],
      codebooks: Seq[Seq[(Int, Seq[Double], Double)]],
      k: Int,
      nProbe: Int = 2,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      queryId: String = "vec_id",
      queryVec: String = "embedding"
  ): DataFrame = {
    require(coarse.nonEmpty && codebooks.nonEmpty, "need coarse centroids and codebooks")
    val spark = corpus.sparkSession
    import spark.implicits._
    val codes = pqEncode(
      assignCells(corpus, corpusVec, coarse, "list_id"), corpusVec, codebooks)
      .select(col(corpusId), col("list_id"), col("pq_codes"))

    // probe-cell selection: the ivfTopKWithCentroids heap ranking
    val centroids = coarse.toDF("list_id", "__centroid", "__c2")
    val qScored = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("__neg_probe",
        lit(2.0) * dot(col("__qv").cast("array<double>"), col("__centroid")) - col("__c2"))
      .select(col("query_id"), col("list_id"), col("__neg_probe"))
    val probes = GroupTopK.topKPerGroup(
        qScored, Seq("query_id"), "list_id", "__neg_probe", nProbe, rankCol = "__pr")
      .select(col("query_id"), col("list_id").cast("int").as("list_id"))

    // per-query ADC LUTs (the pqTopK construction)
    val subDim = codebooks.head.head._2.size
    val luts = codebooks.zipWithIndex.map { case (cb, s) =>
      val qs = slice(col("__qv"), lit(s * subDim + 1), lit(subDim))
      array(cb.sortBy(_._1).map { case (_, c, c2) =>
        dot(qs, qs) - lit(2.0) * dot(qs, typedlit(c)) + lit(c2)
      }: _*).as(s"__lut$s")
    }
    val q = queries.select(col(queryId).as("query_id"),
        col(queryVec).cast("array<double>").as("__qv"))
      .select(col("query_id") +: luts: _*)
      .join(probes, "query_id")

    val dist = codebooks.indices.map { s =>
      element_at(col(s"__lut$s"), element_at(col("pq_codes"), s + 1) + lit(1))
    }.reduceLeft(_ + _)
    val scored = codes
      .join(broadcast(q), Seq("list_id"))
      .filter(col(corpusId) =!= col("query_id"))
      .withColumn("__negd", -(round(dist, 6) + lit(0.0)))
      .select(col("query_id"), col(corpusId), col("__negd"))
    GroupTopK.topKPerGroup(scored, Seq("query_id"), corpusId, "__negd", k,
        rankCol = "pq_rank")
      .select(col("query_id"), col(corpusId),
        (-col("__negd") + lit(0.0)).as("adist_r"), col("pq_rank"))
  }

  /** Recall@k of an approximate retrieval result against the exact one —
    * "measure, don't guess" for the ANN stack: both inputs are retrieval
    * frames `(queryCol, idCol, …, nn_rank)` (any of [[lshTopK]],
    * [[ivfTopKWithCentroids]], [[pqTopK]]'s rank column renamed,
    * [[quantizedTopK]] vs [[bruteForceTopKAgg]]). Per query:
    * `n_hits` = |approx top-k ∩ exact top-k| and
    * `recall_r = round(n_hits / |exact top-k|, 6)` — the denominator is
    * the EXACT list's size, so queries with fewer than k true neighbors
    * score fairly. Queries the approx side missed entirely report 0.
    *
    * Scale shape: two rank filters, one semi-join on (query, id), two
    * bounded per-query counts — all k·|queries|-sized frames. */
  def recallAtK(
      approx: DataFrame,
      exact: DataFrame,
      k: Int,
      queryCol: String = "query_id",
      idCol: String = "vec_id"
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val a = approx.filter(col("nn_rank") <= k).select(col(queryCol), col(idCol))
    val e = exact.filter(col("nn_rank") <= k).select(col(queryCol), col(idCol))
    val hits = a.join(e, Seq(queryCol, idCol), "left_semi")
      .groupBy(queryCol).agg(count(lit(1)).as("__h"))
    e.groupBy(queryCol).agg(count(lit(1)).as("__n"))
      .join(hits, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("__h"), lit(0L)).as("n_hits"),
        (round(coalesce(col("__h"), lit(0L)) / col("__n"), 6) + lit(0.0)).as("recall_r"))
  }

  /** MATRYOSHKA / DIMENSION-BUDGET evaluation: retrieval recall when the
    * embedding column is TRUNCATED to its first `d` dimensions, for each
    * `d` in `dims` — the measurement behind the "can we serve at 16 of
    * the 64 dims?" decision (Kusupati et al.'s matryoshka embeddings
    * make prefixes meaningful; this reports what a given corpus actually
    * loses). Ground truth is the full-dimension exact top-k (computed
    * once, checkpointed); each budget re-ranks with cosine over the
    * sliced vectors (norms re-derived from the slice, the correct
    * truncation semantics) and scores [[recallAtK]] against the truth;
    * the report macro-averages per-query recall in query order (the
    * rankingSummary convention). A truncated zero-norm vector has no
    * cosine and drops from that budget's ranking, exactly like the
    * full-dim contract. Output one row per budget:
    * `(dim, n_queries, mean_recall_r)` — `dims` containing the full
    * width pins 1.0.
    *
    * Scale shape: one exact pass plus |dims| truncated passes, all
    * through the heap-aggregated [[bruteForceTopKAgg]] (map-side k per
    * query before the shuffle). Brute force is the ESTIMATOR here — run
    * it on a query sample; the serving path at any chosen budget is the
    * IVF family over sliced vectors. */
  def truncatedRecallReport(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dims: Seq[Int],
      corpusId: String = "vec_id",
      corpusVec: String = "embedding",
      queryId: String = "vec_id",
      queryVec: String = "embedding"
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(dims.nonEmpty && dims.forall(_ >= 1), "dims must be positive")
    val exact = graft.Checkpoints.localCheckpoint(
      bruteForceTopKAgg(corpus, queries, k, corpusId, corpusVec,
        queryId, queryVec), eager = true)
    dims.map { d =>
      val cT = corpus.select(col(corpusId),
        slice(col(corpusVec), 1, d).as(corpusVec))
      val qT = queries.select(col(queryId),
        slice(col(queryVec), 1, d).as(queryVec))
      val approx = bruteForceTopKAgg(cT, qT, k, corpusId, corpusVec,
        queryId, queryVec)
      recallAtK(approx, exact, k, "query_id", corpusId)
        .agg(count(lit(1)).as("n_queries"),
          (round(aggregate(
            array_sort(collect_list(struct(col("query_id").as("q"),
              col("recall_r").as("v")))),
            lit(0.0), (acc, x) => acc + x.getField("v")) /
            count(lit(1)).cast("double"), 6) + lit(0.0)).as("mean_recall_r"))
        .select(lit(d).as("dim"), col("n_queries"), col("mean_recall_r"))
    }.reduce(_.unionByName(_))
  }

  /** Blocked exact nearest neighbor: per id in `blockCol` block, the top-1
    * neighbor among rows sharing the block (an IVF-style partition-local
    * search — the scalable pattern when a coarse partitioner exists).
    *
    * Pairs per block are |block|², so a DEGENERATE partitioner (a
    * majority-language cell, an all-empty-text block) would go quadratic
    * silently — a per-block row ceiling raises loudly instead (route hot
    * blocks through [[lshTopK]] or refine the blocking). The guard rides
    * the probe side of the pair join as a projection, so a violating
    * block kills the job BEFORE emitting its quadratic output, and the
    * top-1 uses the [[GroupTopK]] heap (map-side partial, no full sort,
    * no Window) — the engine-wide ANN convention. The reported `cosine`
    * is rounded to 6 decimals, the tie-break granularity.
    */
  def blockedNearestNeighbor(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      maxBlockRows: Long = 65536
  ): DataFrame = {
    require(maxBlockRows >= 2, "maxBlockRows must be >= 2")
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    val counts = df.groupBy(col(blockCol).as("__blk")).agg(count(lit(1)).as("__bn"))
    // guard attached to a column the join USES (id) — a free-standing
    // guard column would be pruned away with the raise_error inside it
    val left = df
      .select(col(idCol).as("id"), col(vecCol).as("__va"), col(blockCol).as("__blk"))
      .join(counts, Seq("__blk"))
      .withColumn("id", when(col("__bn") > maxBlockRows,
        raise_error(concat(
          lit("blockedNearestNeighbor: block "), col("__blk").cast("string"),
          lit(" has "), col("__bn").cast("string"),
          lit(s" rows (> $maxBlockRows) — |block|² pairs; refine the blocking or " +
            "route hot blocks through lshTopK"))).cast(idType))
        .otherwise(col("id")))
      .drop("__bn")
    val right = df.select(col(idCol).as("nn_id"), col(vecCol).as("__vb"), col(blockCol).as("__blk"))
    val pairs = left.join(right, Seq("__blk")).filter(col("id") =!= col("nn_id"))
      .withColumn("__score", round(cosine(col("__va"), col("__vb")), 6))
    // GroupTopK drops null/NaN scores (the zero-norm guard), heaps with
    // k=1 per (id, block), ties toward the smaller nn_id — identical
    // rows to the old round-6-desc window, minus the per-block sort
    GroupTopK.topKPerGroup(pairs, Seq("id", "__blk"), "nn_id", "__score", k = 1)
      .select(col("id"), col("nn_id"), col("__blk").as(blockCol),
        col("__score").as("cosine"))
  }

  /** Johnson–Lindenstrauss random projection: `dim`-vector → `outDim`
    * components, each `(Σ_j ±v_j) / sqrt(outDim)` against the engine's
    * seeded ±1 sign matrix ([[hyperplanes]] — the same family the LSH
    * bucketer uses, so index layouts stay reproducible across operators).
    *
    * Per component the fold is a SEQUENTIAL `+/-` chain over the array
    * elements — IEEE-exact, mirrorable term-for-term in engine SQL (the
    * q45/q56 hyperplane-interpolation precedent), whole-stage-codegen'd,
    * no per-row RNG. Shrinking 64→16 dims cuts every downstream exact
    * rescore 4× while JL keeps pairwise cosines approximately intact —
    * the standard pre-filter in front of a 100 TB brute/IVF rescore
    * (audit the loss with [[recallAtK]], q189).
    */
  def randomProject(vec: Column, dim: Int, outDim: Int, seed: Long): Column = {
    require(outDim >= 1 && dim >= 1, "dim and outDim must be >= 1")
    val signs = hyperplanes(dim, outDim, seed)
    val scale = math.sqrt(outDim.toDouble)
    val vd = vec.cast("array<double>")
    array(signs.map { row =>
      row.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (s, i)) =>
        if (s > 0) acc + element_at(vd, i + 1) else acc - element_at(vd, i + 1)
      } / lit(scale)
    }: _*)
  }
}
