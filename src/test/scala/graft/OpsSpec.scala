package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, QualityRules, Similarity, TextAnalysis}

/** Unit specs for the training-data-pipeline operators, on synthetic
  * fixtures with planted duplicates/neighbors so expected outputs are
  * hand-derivable. */
class OpsSpec extends SparkSpec {

  import spark.implicits._

  def docs: DataFrame = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "a"),
    (1L, "the quick brown fox jumps over the lazy dog", "a"), // exact dup of 0
    (2L, "the quick brown fox jumped over the lazy dog", "a"), // near dup of 0
    (3L, "completely different content about spark engines", "b"),
    (4L, "the  quick   brown fox jumps over the lazy dog", "b") // ws-canonical dup of 0
  ).toDF("doc_id", "text", "source")

  test("exact dedup: canonical fingerprint groups") {
    val groups = Dedup.exactDupGroups(docs, "text", "doc_id").collect()
      .map(r => (r.getAs[Long]("n_copies"), r.getAs[Long]("keeper_id"))).toSet
    // 0,1,4 share a canonical form (whitespace collapsed); 2 and 3 unique
    assert(groups == Set((3L, 0L), (1L, 2L), (1L, 3L)))

    val kept = Dedup.dropExactDups(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 2L, 3L))
  }

  test("minhash near-dup pairs find planted near-duplicates") {
    val pairs = Dedup.polyMinhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // the dup cluster {0,1,4} and near-dup 2 must pair up; 3 must not
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 4L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // exact dups have estimated jaccard 1.0
    val est = Dedup.polyMinhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5)
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .head().getAs[Double]("est_jaccard")
    assert(est == 1.0)
  }

  test("polyMinhashBands: dup cluster shares every band, distinct docs none") {
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.polyMinhashBands(df, "text", "doc_id").collect()
        .groupBy(_.getAs[Long]("doc_id"))
        .view.mapValues(_.map(r => (r.getAs[Int]("band"), r.getAs[String]("band_key"))).toSet)
        .toMap
    val b = bands(docs)
    assert(b(0L).size == 4)
    // 0, 1 (exact dup) and 4 (whitespace-variant -> same token set) agree
    // on the full signature, hence every band key
    assert(b(0L) == b(1L) && b(0L) == b(4L))
    // unrelated content shares no bucket
    assert(b(0L).intersect(b(3L)).isEmpty)
    // deterministic and partition-invariant (md5 arithmetic, no RNG state)
    assert(bands(docs.repartition(7)) == b)
  }

  test("dupClusters: transitive chains collapse to the min-id component") {
    import spark.implicits._
    // chain 0-1-2 (0-2 never paired directly) + separate pair 5-6 + 8-0
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (0L, 8L))
      .toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 8L -> 0L, // transitive via 1 and 0
      5L -> 5L, 6L -> 5L))
    // repartitioned input -> identical assignment (pure joins, no RNG)
    val again = Dedup.dupClusters(pairs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == clusters)
  }

  test("semanticDedupKeepBest: highest quality wins; all-null clusters keep min id") {
    import spark.implicits._
    // two planted clusters of identical vectors (cosine 1), orthogonal to
    // each other (cosine 0 — the exact-verify stage must NOT merge them),
    // plus an unpaired singleton
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val c = Seq(0.0f, 0.0f, 1.0f, 0.0f)
    val df = Seq(
      (10L, a, Some(1.0)), (11L, a, Some(5.0)), (12L, a, Some(3.0)), // keeper: 11
      (20L, b, None), (21L, b, None),                                // all-null -> min id 20
      (30L, c, Some(0.5))                                            // singleton survives
    ).toDF("vec_id", "embedding", "quality")
    val kept = Dedup.semanticDedupKeepBest(df, "vec_id", "embedding", dim = 4,
      qualityCol = "quality", threshold = 0.9, nBits = 6, nTables = 2)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(11L, 20L, 30L))
    // ties on quality break toward the smaller id (the GroupTopK contract)
    val tied = df.withColumn("quality", lit(2.0))
    val keptTied = Dedup.semanticDedupKeepBest(tied, "vec_id", "embedding", dim = 4,
      qualityCol = "quality", threshold = 0.9, nBits = 6, nTables = 2)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptTied == Seq(10L, 20L, 30L))
  }

  test("gopher rules: measures are exact; each rule gates; null text fails") {
    val cfg = QualityRules.GopherConfig(minWords = 3, maxWords = 10,
      minAvgWordLen = 2.0, maxAvgWordLen = 8.0, maxSymbolRatio = 0.4,
      maxBulletFrac = 0.5, maxEllipsisFrac = 0.5, minAlphaFrac = 0.6,
      minStopwordHits = 1)
    val rich = "- the cat...\nsat on # mat…\nnow here done"
    val rows = Seq(
      (1L, Option("the cat sat on that mat")),   // passes every rule
      (2L, Option("the cat")),                   // word count below min
      (3L, Option("the abcdefghijklmnop qrstuvwxyzabcdef xyzabcdefghijkl")), // avg word len
      (4L, Option("##### the cat sat now")),     // symbol ratio 5/5 > 0.4
      (5L, Option("- the cat\n- sat on\nmat here now")), // bullet lines 2/3
      (6L, Option("the cat is...\nsat mat is...\nnow here is fine")), // ellipsis 2/3
      (7L, Option("the 111 222 333 444")),       // alpha fraction 1/5
      (8L, Option("zz yy xx ww vv")),            // no required stop word
      (9L, Option.empty[String]),                // null text
      (10L, Option(rich))
    ).toDF("doc_id", "text")
    val out = QualityRules.withGopherFlags(rows, "text", cfg)
    val pass = out.select("doc_id", "g_pass").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(pass == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false, 6L -> false, 7L -> false, 8L -> false, 9L -> false,
      10L -> false))
    // hand-derived measures for the rich document: 10 tokens, 31 non-ws
    // chars, symbols {#, ..., …}, 1 of 3 lines bulleted, 2 of 3 ending
    // in an ellipsis, 8 of 10 tokens alphabetic, one required stop word
    val m = out.filter(col("doc_id") === 10L).select(
      "g_words", "g_avg_word_len", "g_symbol_ratio", "g_bullet_frac",
      "g_ellipsis_frac", "g_alpha_frac", "g_stopword_hits").head()
    assert(m.getInt(0) == 10)
    assert(m.getDouble(1) == 31.0 / 10.0)
    assert(m.getDouble(2) == 3.0 / 10.0)
    assert(m.getDouble(3) == 1.0 / 3.0)
    assert(m.getDouble(4) == 2.0 / 3.0)
    assert(m.getDouble(5) == 8.0 / 10.0)
    assert(m.getInt(6) == 1)
    // the production-default gate is a pure filter (no helper columns)
    val kept = QualityRules.gopherFilter(rows, "text", cfg)
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("clusterBalancedSample: per-cell quota, hash-rank winners, partition-invariant") {
    import graft.ops.Sampling
    val cents = Seq((0, Seq(1.0, 0.0), 1.0), (1, Seq(0.0, 1.0), 1.0))
    val df = Seq(
      (Option(1L), Seq(0.9f, 0.1f)), (Option(2L), Seq(0.8f, 0.0f)),
      (Option(3L), Seq(1.1f, -0.1f)), (Option(4L), Seq(0.7f, 0.2f)),
      (Option(5L), Seq(0.1f, 1.0f)), (Option(6L), Seq(-0.2f, 0.9f)),
      (Option.empty[Long], Seq(1.0f, 0.0f)) // null id: unrankable, dropped
    ).toDF("id", "vec")
    val out = Sampling.clusterBalancedSample(df, "id", "vec", cents, perCluster = 2, salt = "t")
    val byCell = out.groupBy("list_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byCell == Map(0 -> 2L, 1 -> 2L)) // cell 0 has 4 candidates, capped at 2
    // winners must be exactly the two smallest unit hashes per cell, in
    // hash order — recompute with the same hash through a window rank
    import org.apache.spark.sql.expressions.Window
    val expected = df.filter(col("id").isNotNull)
      .withColumn("list_id", Similarity.assignCell(col("vec"), cents))
      .withColumn("__u", Sampling.unitHash(col("id"), "t"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("list_id").orderBy(col("__u"), col("id"))))
      .filter(col("rk") <= 2)
      .select(col("id"), col("list_id"), col("rk").cast("long").as("sample_rank"))
    val got = out.select("id", "list_id", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exp = expected.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == exp)
    // deterministic under repartitioning
    val again = Sampling.clusterBalancedSample(
        df.repartition(7), "id", "vec", cents, perCluster = 2, salt = "t")
      .select("id", "list_id", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(again == got)
  }

  test("pageRank: symmetric cycle is uniform; chain ranks exactly; partition-invariant") {
    import graft.ops.Graphs
    // 2-cycle with equal weights: stationary at 0.5/0.5 from the uniform
    // start, every iteration — and mass is conserved (no dangling)
    val cycle = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val cr = Graphs.pageRank(cycle, "src", "dst", iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cr(1L) == 0.5 && cr(2L) == 0.5)
    // A -> B dangling chain, 2 iterations: exact IEEE replay of the
    // engine's own op order (teleport + d * (rank * w / outw))
    val chain = Seq((1L, 2L)).toDF("src", "dst")
    val t2 = (1.0 - 0.85) / 2.0
    val b1 = t2 + 0.85 * (0.5 * 1.0 / 1.0)
    val b2 = t2 + 0.85 * (t2 * 1.0 / 1.0) // round 2 feeds A's settled teleport rank
    val got = Graphs.pageRank(chain, "src", "dst", iterations = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == t2 && got(2L) == b2 && b1 > b2)
    // weighted: parallel edges merge; ranks identical under repartition
    val g = Seq((1L, 3L, 2.0), (2L, 3L, 1.0), (3L, 1L, 1.0), (3L, 2L, 1.0),
      (1L, 3L, 1.0)).toDF("src", "dst", "w")
    val a = Graphs.pageRank(g, "src", "dst", Some("w"), iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Graphs.pageRank(g.repartition(7), "src", "dst", Some("w"), iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b) // bit-exact, not approximately equal
    assert(math.abs(a.values.sum - 1.0) < 1e-12) // no dangling: mass conserved
    assert(a(3L) > a(1L) && a(3L) > a(2L)) // the hub out-ranks the spokes
  }

  test("charEntropy: exact bits for planted distributions; empty 0, null null") {
    val df = Seq(
      (1L, Option("aaaa")),   // one symbol -> 0 bits
      (2L, Option("aabb")),   // two at p=.5 -> exactly 1 bit
      (3L, Option("abcd")),   // four at p=.25 -> exactly 2 bits
      (4L, Option("")),       // empty -> 0.0
      (5L, Option.empty[String])
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.charEntropy(col("text")).as("e")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(out(1L).contains(0.0))
    assert(out(2L).contains(1.0))
    assert(out(3L).contains(2.0))
    assert(out(4L).contains(0.0))
    assert(out(5L).isEmpty)
    // natural prose sits well above keyboard-mash floor
    val prose = df.sparkSession.range(1).select(
      TextAnalysis.charEntropy(lit("the quick brown fox jumps over the lazy dog")))
      .head().getDouble(0)
    assert(prose > 3.0 && prose < 5.0)
  }

  test("winsorize: exact percentile clip bounds; null/NaN pass through as null") {
    import graft.ops.Outliers
    val rows = (1 to 10).map(i => ("a", Option(i.toDouble))) ++
      Seq(("a", Option(Double.NaN)), ("a", Option.empty[Double]),
        ("b", Option(100.0))) // single-row group: lo == hi == value
    val df = rows.toDF("g", "v")
    val out = Outliers.winsorize(df, Seq("g"), "v", lower = 0.1, upper = 0.9,
        outCol = "w").collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    // linear-interpolated p10/p90 of 1..10: 1.9 and 9.1 (index p*(n-1))
    val a = out.filter(x => x._1 == "a" && x._2.exists(v =>
      !v.asInstanceOf[Double].isNaN))
    assert(a.collect { case (_, Some(v), Some(w)) => (v, w) }.toSet ==
      Set((1.0, 1.9), (2.0, 2.0), (3.0, 3.0), (4.0, 4.0), (5.0, 5.0),
        (6.0, 6.0), (7.0, 7.0), (8.0, 8.0), (9.0, 9.0), (10.0, 9.1)))
    // NaN and null values clip to null (and NaN didn't poison the bounds)
    assert(out.filter(x => x._2.isEmpty ||
      x._2.exists(v => v.asInstanceOf[Double].isNaN)).forall(_._3.isEmpty))
    // degenerate single-row group clips to itself
    assert(out.filter(_._1 == "b").head._3.contains(100.0))
  }

  test("uniformSampleExact: n smallest hashes win; partition-invariant; small frames rank fully") {
    import graft.ops.Sampling
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 100).toDF("id")
    val out = Sampling.uniformSampleExact(df, "id", n = 10, salt = "s")
    assert(out.count() == 10)
    val expected = df
      .withColumn("__u", Sampling.unitHash(col("id"), "s"))
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(col("__u"), col("id"))).cast("long"))
      .filter(col("sample_rank") <= 10)
      .select("id", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.select("id", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    val again = Sampling.uniformSampleExact(df.repartition(13), "id", 10, "s")
      .select("id", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == got)
    // n >= rows: everything survives, fully ranked
    assert(Sampling.uniformSampleExact(df.limit(5), "id", 10, "s").count() == 5)
  }

  test("dupClusters: pointer jumping converges a 200-node path in log rounds") {
    import spark.implicits._
    // a pure path graph is the worst case for plain min-label propagation
    // (rounds = diameter = 199); the pointer jump must finish it within
    // maxIter = 12 (~log2 growth: front advances 1, 3, 7, 15... nodes)
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs, maxIter = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.length == 200)
    assert(clusters.forall(_._2 == 0L), "every node must reach the min id")
  }

  test("dupClusters: reliable checkpoint rounds produce the same clusters") {
    import spark.implicits._
    val dir = tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs, reliableEvery = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L))
    // without a checkpoint dir the option must fail loud, not at round N
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    assert(saved.isDefined)
  }

  test("native SignatureAgreement equals the HOF formulation (incl. ragged/empty)") {
    import graft.expressions.SignatureAgreement
    val sigs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(80)
      .select(col("doc_id"),
        graft.expressions.PolyMinHashSignature(col("text"), 64, 5).as("sig"))
    val pairs = sigs.select(col("doc_id").as("ida"), col("sig").as("a"))
      .crossJoin(sigs.select(col("doc_id").as("idb"), col("sig").as("b")))
      .filter(col("ida") < col("idb")).limit(500)
    val both = pairs.select(
      SignatureAgreement(col("a"), col("b")).as("fast"),
      HofOracles.sigAgreementHof(col("a"), col("b")).as("slow")).collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getInt(0) == r.getInt(1)))
    // ragged + empty arrays: zip_with null-pads, the when falls to 0 —
    // the native loop must land on the same counts
    import spark.implicits._
    val edge = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 9L, 3L, 7L)), // ragged: prefix agreement 2
      (Seq.empty[Long], Seq(1L, 2L)),          // empty left: 0
      (Seq(5L), Seq(5L)))                      // exact: 1
      .toDF("a", "b")
    val e = edge.select(
      SignatureAgreement(col("a"), col("b")).as("fast"),
      HofOracles.sigAgreementHof(col("a"), col("b")).as("slow")).collect()
    assert(e.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((2, 2), (0, 0), (1, 1)))
  }

  test("native PolyMinHashSignature equals the HOF formulation") {
    // differential over real corpus text (adversarial whitespace included
    // via the fixture's doc 4); element order must match exactly since
    // band keys concatenate positions
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
      .unionAll(docs.select(col("doc_id") + 10000, col("text")))
    val native = corpus.select(col("doc_id"),
      graft.expressions.PolyMinHashSignature(col("text"), 16, 5).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = corpus.select(col("doc_id"),
      HofOracles.polyShingleSignatureHof(col("text"), 16, 5).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == hof)
    assert(native.values.forall(_.length == 16))
  }

  test("polyMinhashNearDupPairs: exact dups estimate 1.0, unrelated docs excluded") {
    val pairs = Dedup.polyMinhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    // the exact-dup cluster {0,1,4} agrees on every signature position
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 4L)) == 1.0)
    assert(pairs((1L, 4L)) == 1.0)
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L))
    // estimates are n/16 rationals by construction
    assert(pairs.values.forall(v => (v * 16).isWhole))
  }

  test("simhashPolyBands: identical docs equal bands, bands are 16-bit") {
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.simhashPolyBands(df, "text", "doc_id").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          Seq(r.getAs[Int]("band0"), r.getAs[Int]("band1"),
            r.getAs[Int]("band2"), r.getAs[Int]("band3"))).toMap
    val b = bands(docs)
    assert(b(0L) == b(1L)) // identical text
    assert(b.values.flatten.forall(v => v >= 0 && v <= 0xFFFF))
    // near-dup (one token changed) stays closer in fingerprint bits than
    // unrelated content: compare reassembled 64-bit hamming distances
    def fp(bs: Seq[Int]): Long =
      bs.zipWithIndex.map { case (v, i) => v.toLong << (16 * i) }.sum
    def ham(a: Long, c: Long) = java.lang.Long.bitCount(a ^ c)
    assert(ham(fp(b(0L)), fp(b(2L))) < ham(fp(b(0L)), fp(b(3L))))
    // deterministic under repartitioning
    assert(bands(docs.repartition(5)) == b)
    // empty doc: zero votes everywhere -> all-zero bands
    import spark.implicits._
    val empty = bands(Seq((9L, "", "z")).toDF("doc_id", "text", "source"))
    assert(empty(9L) == Seq(0, 0, 0, 0))
  }

  test("simhash: identical docs identical fingerprints, near-dups close") {
    val fp = docs.select(col("doc_id"), graft.expressions.SimHash64(col("text")).as("simhash"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(fp(0L) == fp(1L)) // identical text
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(0L), fp(2L)) < hamming(fp(0L), fp(3L)))
  }

  test("jaccard pairs: hand-computed set similarity") {
    val df = Seq(
      (0L, "a b c d", "x"),
      (1L, "a b c e", "x"),
      (2L, "f g h i", "x"),
      (3L, "a b c d", "y") // same text but different block -> no pair with 0
    ).toDF("doc_id", "text", "source")
    val pairs = Dedup.jaccardPairs(df, "text", "doc_id",
      blockCol = Some("source"), threshold = 0.1)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    // |{a,b,c,d} ∩ {a,b,c,e}| = 3, union = 5 -> 0.6
    assert(pairs((0L, 1L)) == 0.6)
    assert(!pairs.contains((0L, 3L)))
    assert(!pairs.keys.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("jaccard maxDocFreq drops ubiquitous tokens") {
    val df = Seq(
      (0L, "common a b", "x"), (1L, "common c d", "x"), (2L, "common e f", "x")
    ).toDF("doc_id", "text", "source")
    // 'common' appears in all 3 docs; cap at 2 removes it -> no pairs at all
    val pairs = Dedup.jaccardPairs(df, "text", "doc_id", threshold = 0.01,
      maxDocFreq = Some(2L))
    assert(pairs.count() == 0)
  }

  test("cosine: hand-computed values and self-similarity") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.0f, 1.0f), 0),
      (2L, Seq(1.0f, 1.0f), 0),
      (3L, Seq(-1.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val cos = df.select(col("vec_id"),
      Similarity.cosine(col("embedding"), typedlit(Seq(1.0, 0.0))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cos(0L) == 1.0)
    assert(cos(1L) == 0.0)
    assertNear(cos(2L), 1.0 / math.sqrt(2), 1e-12)
    assert(cos(3L) == -1.0)
  }

  test("brute-force top-k returns true nearest neighbors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") === 0)
    val topk = Similarity.bruteForceTopKAgg(emb, queries, k = 5)
      .orderBy("nn_rank").collect()
    assert(topk.length == 5)
    // ranks are 1..5 with non-increasing cosine
    val cosines = topk.map(_.getAs[Double]("cosine"))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    assert(!topk.exists(_.getAs[Long]("vec_id") == 0L)) // self excluded
  }

  test("LSH top-k candidates are a subset ranked by true cosine") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
    val lsh = Similarity.lshTopK(emb, q, k = 10, dim = 64).collect()
    assert(lsh.nonEmpty)
    assert(lsh.forall(_.getAs[Long]("vec_id") != 0L))
    val cosines = lsh.sortBy(_.getAs[Int]("nn_rank")).map(_.getAs[Double]("cosine"))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
  }

  test("text analysis basics") {
    val df = Seq(
      (0L, "the cat and the dog"),
      (1L, ""),
      (2L, "Der Hund und die Katze sind im Haus"),
      (3L, "el perro y la casa de los gatos")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.analyze(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Int]("n_tokens") == 5)
    assert(out(1L).getAs[Int]("n_tokens") == 0)
    assert(out(0L).getAs[String]("lang_id") == "en")
    assert(out(2L).getAs[String]("lang_id") == "de")
    assert(out(3L).getAs[String]("lang_id") == "es")
    // avg word len of "the cat and the dog": 15 chars / 5 tokens = 3.0
    assert(out(0L).getAs[Double]("avg_word_len") == 3.0)
  }

  test("winnowing fingerprints: edit-robust overlap") {
    val df = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumped over the lazy dog again and again"),
      (2L, "entirely unrelated words here about database engines")
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
      TextAnalysis.winnowingFingerprints(col("text")).as("fps")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    def overlap(a: Set[Long], b: Set[Long]) =
      a.intersect(b).size.toDouble / a.union(b).size
    assert(overlap(fps(0L), fps(1L)) > overlap(fps(0L), fps(2L)))
    assert(overlap(fps(0L), fps(1L)) > 0.4)
  }

  test("span decontamination: verbatim 13-token collision flags; near-miss survives") {
    val span13 = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val bench = Seq(
      (100L, s"intro $span13 outro"),
      (101L, "  TINY   DOC  ")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, s"training doc containing $span13 verbatim"),
      (1L, span13.replace("seven", "sevn") + " with extra trailing tokens"),
      (2L, "totally unrelated content with many other words"),
      (3L, "tiny doc")
    ).toDF("doc_id", "text")
    val ids = Dedup.spanContaminatedIds(corpus, bench, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    // 0: verbatim window; 3: sub-span doc whole-string-equal after
    // lowercase + whitespace normalization; 1 (one token altered) and 2
    // survive — the point of span collision vs containment ratio
    assert(ids == Set(0L, 3L))
    val pairs = Dedup.spanContaminationPairs(corpus, bench, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((0L, 100L, 1L)))
    assert(pairs.contains((3L, 101L, 1L)))
    val kept = Dedup.spanDecontaminate(corpus, bench, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  test("span bloom decontamination is identical to the exact operator") {
    val span13 = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val bench = Seq((100L, s"intro $span13 outro")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, s"leading tokens $span13 trailing"),
      (1L, span13.replace("four", "fuor") + " more words"),
      (2L, "unrelated words entirely different content"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(Dedup.spanDecontaminate(corpus, bench, "text", "doc_id"))
    val bloom = ids(Dedup.spanBloomDecontaminate(corpus, bench, "text", "doc_id"))
    assert(exact == Set(1L, 2L, 3L), "verbatim hit dropped; near-miss/null survive")
    assert(bloom == exact, "bloom pre-filter must not change the result")
    // empty benchmark: everything survives, no sketch built
    assert(Dedup.spanBloomSketch(bench.limit(0), "text").isEmpty)
    assert(ids(Dedup.spanBloomDecontaminate(corpus, bench.limit(0), "text", "doc_id"))
      == Set(0L, 1L, 2L, 3L))
  }

  test("winnowing: native expression equals the HOF formulation") {
    val df = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "tiny"),
      (2L, ""),
      (3L, "  spaced   out   TEXT  "),
      (4L, null.asInstanceOf[String]),
      (5L, "ünïcödé shingles ünïcödé shingles ünïcödé")
    ).toDF("doc_id", "text")
    for ((k, w) <- Seq((8, 4), (3, 2), (5, 1), (1, 3))) {
      def fps(c: org.apache.spark.sql.Column): Map[Long, Option[List[Long]]] =
        df.select(col("doc_id"), c.as("f")).collect()
          .map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toList)).toMap
      val native = fps(TextAnalysis.winnowingFingerprints(col("text"), k, w))
      val hof = fps(HofOracles.winnowingFingerprintsHof(col("text"), k, w))
      assert(native == hof, s"k=$k w=$w")
      assert(native(4L).isEmpty, "null text must fingerprint as null")
    }
  }

  test("multimodal: decode plumbing is deterministic and schema-stable") {
    val df = docs.withColumn("payload", encode(col("text"), "UTF-8"))
    val feats = Multimodal.decodeFeatures(df, "doc_id", "payload", featureDim = 4)
    assert(feats.schema.fieldNames.toSeq == Seq("doc_id", "n_bytes", "features"))
    val rows1 = feats.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bytes"), r.getSeq[Float](2)))
    val rows2 = feats.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bytes"), r.getSeq[Float](2)))
    assert(rows1.toSeq == rows2.toSeq) // deterministic
    val r0 = rows1.find(_._1 == 0L).get
    assert(r0._2 == "the quick brown fox jumps over the lazy dog".getBytes("UTF-8").length)
    assert(r0._3.length == 4)

    // identical payloads (docs 0 and 1) produce identical features
    val byId = rows1.map(t => t._1 -> t._3).toMap
    assert(byId(0L) == byId(1L))

    // frame sampling: stride-4 over 256-byte frames
    val frames = Multimodal.sampleFrames(df, "doc_id", "payload", frameSize = 8, stride = 2)
    val f0 = frames.filter(col("doc_id") === 0).collect()
    assert(f0.nonEmpty)
    assert(f0.forall(_.getAs[Array[Byte]]("frame_bytes").length <= 8))
  }

  test("embedding near-dup pairs find planted duplicates") {
    val base = (0 until 64).map(i => math.sin(i * 1.7).toFloat)
    val nearly = base.updated(0, base(0) + 0.001f)
    val other = (0 until 64).map(i => math.cos(i * 2.3).toFloat)
    val df = Seq(
      (0L, base), (1L, base), (2L, nearly), (3L, other)
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", dim = 64,
      threshold = 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("native DotProduct: codegen matches HOF formulation bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
    val q = emb.selectExpr("embedding as qv").limit(1)
    val pairs = emb.crossJoin(q)
    val both = pairs.select(
      Similarity.dot(col("embedding").cast("array<double>"), col("qv").cast("array<double>")).as("fast"),
      HofOracles.dotHof(col("embedding").cast("array<double>"), col("qv").cast("array<double>")).as("slow"))
    assert(both.collect().forall(r => r.getDouble(0) == r.getDouble(1)))

    // hand-computed value
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(df.select(Similarity.dot(col("a"), col("b"))).head().getDouble(0) == 32.0)
    // null array -> null
    val dfn = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    assert(dfn.select(Similarity.dot(col("a"), col("b"))).head().isNullAt(0))
    // null ELEMENT and length mismatch -> null, matching the HOF oracle
    val dfe = Seq(
      (Seq(Some(1.0), None, Some(3.0)), Seq(Some(2.0), Some(5.0), Some(4.0))),
      (Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), Some(4.0), Some(5.0)))
    ).toDF("a", "b")
    val outs = dfe.select(
      Similarity.dot(col("a"), col("b")).as("fast"),
      HofOracles.dotHof(col("a").cast("array<double>"), col("b").cast("array<double>")).as("slow"))
      .collect()
    outs.foreach { r =>
      assert(r.isNullAt(0), "native must be null for null elements / mismatched lengths")
      assert(r.isNullAt(1), "HOF oracle null")
    }
  }

  test("SQL function registration: graft_dot / graft_cosine") {
    graft.expressions.GraftFunctions.register(spark)
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
      .head().getDouble(0)
    assert(dot == 32.0)
    val cos = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .head().getDouble(0)
    assert(cos == 1.0)
    // idempotent re-registration
    graft.expressions.GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_dot(array(1.0D), array(2.0D))").head().getDouble(0) == 2.0)
    // quantization expressions are registered too
    assert(spark.sql("SELECT graft_maxabs(array(-3.0D, 2.0D))").head().getDouble(0) == 3.0)
    assert(spark.sql("SELECT graft_int8_codes(array(-3.0D, 1.5D))")
      .head().getSeq[Double](0) == Seq(-127.0, 64.0))
    // minhash family: agreement count + the poly signature (literal params)
    assert(spark.sql("SELECT graft_sig_agreement(array(1L, 2L, 3L), array(1L, 9L, 3L))")
      .head().getInt(0) == 2)
    val sig = spark.sql("SELECT graft_poly_minhash('the quick brown fox', 16, 5)")
      .head().getSeq[Long](0)
    assert(sig.length == 16 && sig.forall(v => v >= 0 && v < 2147483647L))
    intercept[Exception] {
      spark.sql("SELECT graft_poly_minhash('x', 1 + 1, 5)").head()
    }
    // text projections + the deterministic fold
    assert(spark.sql("SELECT graft_distinct_lines('a\nb\na')").head().getString(0) == "a\nb")
    assert(spark.sql("SELECT graft_nfc('e\u0301')").head().getString(0) == "\u00e9")
    assert(spark.sql("SELECT graft_word_grams('The the cat', 1)")
      .head().getSeq[String](0) == Seq("the", "cat"))
    assert(spark.sql("SELECT graft_bpe_symbols('ab')")
      .head().getSeq[String](0) == Seq("a", "b", "</w>"))
    assert(spark.sql(
      "SELECT graft_ordered_keyed_sum(array(struct(2L, 10.0D), struct(1L, 1.5D)))")
      .head().getDouble(0) == 11.5)
  }

  test("one-pass CosineSimilarity matches composed formulation bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    val q = emb.selectExpr("embedding as qv").limit(1)
    val both = emb.crossJoin(q).select(
      Similarity.cosine(col("qv"), col("embedding")).as("fast"),
      (Similarity.dot(col("qv").cast("array<double>"), col("embedding").cast("array<double>")) /
        (sqrt(Similarity.dot(col("qv").cast("array<double>"), col("qv").cast("array<double>"))) *
         sqrt(Similarity.dot(col("embedding").cast("array<double>"), col("embedding").cast("array<double>"))))).as("composed"))
    assert(both.collect().forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("multimodal: decodable payloads resize through the real pixel scaler") {
    import graft.ops.ImageCodecs
    import graft.ops.ImageCodecs.DecodedImage
    // planted 4x4 image, pixel value = flat index 0..47: factor-2 output
    // must copy EXACTLY source pixels (0,0) (2,0) (0,2) (2,2)
    val rgb = Array.tabulate[Byte](48)(_.toByte)
    val ppm = ImageCodecs.encodePpm(DecodedImage(4, 4, rgb))
    val bmp = { // same image as 24-bit BMP (bottom-up, padded rows)
      val rowSize = 12 // 4 px * 3 B, already 4-byte aligned
      val data = new Array[Byte](54 + rowSize * 4)
      def put32(o: Int, v: Int): Unit = { data(o) = v.toByte; data(o+1) = (v>>8).toByte; data(o+2) = (v>>16).toByte; data(o+3) = (v>>24).toByte }
      def put16(o: Int, v: Int): Unit = { data(o) = v.toByte; data(o+1) = (v>>8).toByte }
      data(0) = 'B'; data(1) = 'M'
      put32(2, data.length); put32(10, 54); put32(14, 40)
      put32(18, 4); put32(22, 4); put16(26, 1); put16(28, 24); put32(30, 0)
      for (y <- 0 until 4; x <- 0 until 4) {
        val src = (y * 4 + x) * 3
        val dst = 54 + (3 - y) * rowSize + x * 3 // bottom-up
        data(dst) = rgb(src + 2); data(dst + 1) = rgb(src + 1); data(dst + 2) = rgb(src) // BGR
      }
      data
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(0L, ppm),
        org.apache.spark.sql.Row(1L, bmp)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType, nullable = false))))
    val out = Multimodal.resizePayload(df, "doc_id", "payload", factor = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("resized")).toMap
    val expected = Seq(0, 2, 8, 10).flatMap { p => // flat pixel indices (0,0)(2,0)(0,2)(2,2)
      Seq(rgb(p * 3), rgb(p * 3 + 1), rgb(p * 3 + 2))
    }
    Seq(0L, 1L).foreach { id =>
      val img = ImageCodecs.decode(out(id)).get
      assert(img.width == 2 && img.height == 2, s"doc $id dims")
      assert(img.rgb.toSeq == expected, s"doc $id pixels (format-independent)")
    }
    // an image smaller than the factor collapses to its top-left pixel
    val tiny = ImageCodecs.encodePpm(DecodedImage(1, 1, Array[Byte](9, 8, 7)))
    val tdf = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(2L, tiny)),
      df.schema)
    val timg = ImageCodecs.decode(
      Multimodal.resizePayload(tdf, "doc_id", "payload", factor = 4)
        .head().getAs[Array[Byte]]("resized")).get
    assert(timg.width == 1 && timg.height == 1 && timg.rgb.toSeq == Seq[Byte](9, 8, 7))
  }

  test("multimodal: resize plumbing downsamples deterministically") {
    val df = docs.withColumn("payload", encode(col("text"), "UTF-8"))
    val resized = Multimodal.resizePayload(df, "doc_id", "payload", factor = 4)
    assert(resized.schema.fieldNames.toSeq == Seq("doc_id", "n_bytes", "resized"))
    val r0 = resized.filter(col("doc_id") === 0).head()
    val full = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    assert(r0.getAs[Long]("n_bytes") == full.length)
    val expect = full.indices.collect { case i if i % 4 == 0 => full(i) }.toSeq
    assert(r0.getAs[Array[Byte]]("resized").toSeq == expect)
  }

  test("jaccard pairs with word bigrams") {
    val df = Seq(
      (0L, "the quick brown fox runs", "x"),
      (1L, "the quick brown dog runs", "x"),
      (2L, "unrelated totally different words", "x")
    ).toDF("doc_id", "text", "source")
    val pairs = Dedup.jaccardPairs(df, "text", "doc_id", threshold = 0.1, ngram = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    // doc0 bigrams: {the quick, quick brown, brown fox, fox runs}
    // doc1 bigrams: {the quick, quick brown, brown dog, dog runs}
    // common 2, union 6 -> 1/3
    assertNear(pairs((0L, 1L)), 2.0 / 6.0, 1e-12)
    assert(!pairs.keys.exists(k => k._1 == 2L || k._2 == 2L))
  }

  test("cleanCorpus pipeline composes dedup + quality + language gates") {
    import graft.ops.Pipelines
    val corpus = Seq(
      (0L, "the cat and the dog sat in the warm house for hours today"),
      (1L, "the cat and the dog sat in the warm house for hours today"), // exact dup
      (2L, "the cat and the dog sat in the warm house for hours yesterday"), // near dup
      (3L, "zz xq 9#@!"), // junk -> quality gate
      (4L, "der hund und die katze sind mit dem kind im haus geblieben") // german
    ).toDF("doc_id", "text")

    val res = Pipelines.cleanCorpus(corpus, nearDupThreshold = 0.6,
      minQuality = 40.0, langAllowlist = Seq("en"))
    val kept = res.df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L))

    val st = res.stats()
    assert(st.input == 5)
    assert(st.afterExactDedup == 4)     // 1 dropped (exact dup)
    assert(st.afterNearDedup == 3)      // 2 dropped (near dup of 0)
    assert(st.output == 1)              // junk + german filtered

    // without the language gate the german doc survives
    val noLang = Pipelines.cleanCorpus(corpus, nearDupThreshold = 0.6, minQuality = 40.0)
    assert(noLang.df.select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L, 4L))

    // the optional Gopher bundle rides the quality stage: a doc passing
    // the heuristic score but failing a rule (word count here) drops,
    // and the funnel's afterQuality count reflects it
    val gophered = Pipelines.cleanCorpus(corpus, nearDupThreshold = 0.6,
      minQuality = 40.0,
      gopherRules = Some(QualityRules.GopherConfig(minWords = 12)))
    assert(gophered.df.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(0L)) // doc 4 (german) lacks the required English stop words
    assert(gophered.stats().afterQuality == 1)
  }

  test("cleanCorpus docLineDedup collapses internally-repetitive twins") {
    import graft.ops.Pipelines
    // both docs carry the same payload; doc 1 repeats its own lines — with
    // within-doc dedup ON they canonicalize to the same text and exact
    // dedup drops one
    val payload = "the cat and the dog sat in the warm house for hours today"
    val corpus = Seq(
      (0L, s"nav menu\n$payload"),
      (1L, s"nav menu\n$payload\nnav menu\n$payload")
    ).toDF("doc_id", "text")
    val off = Pipelines.cleanCorpus(corpus, minQuality = 0.0)
    assert(off.stats().afterExactDedup == 2)
    val on = Pipelines.cleanCorpus(corpus, minQuality = 0.0, docLineDedup = true)
    assert(on.stats().afterExactDedup == 1)
  }

  test("cleanCorpus nfcNormalize collapses composed/decomposed duplicates") {
    import graft.ops.Pipelines
    // same sentence; doc 1 renders every é as e+U+0301 (decomposed)
    val corpus = Seq(
      (0L, "the caf\u00e9 serves d\u00e9cent meals for the whole busy neighborhood crowd"),
      (1L, "the cafe\u0301 serves de\u0301cent meals for the whole busy neighborhood crowd")
    ).toDF("doc_id", "text")
    // default: the renderings hash apart and BOTH survive exact dedup
    val off = Pipelines.cleanCorpus(corpus, minQuality = 0.0)
    assert(off.stats().afterExactDedup == 2)
    // nfc stage: they canonicalize to one digest, duplicate dropped
    val on = Pipelines.cleanCorpus(corpus, minQuality = 0.0, nfcNormalize = true)
    assert(on.stats().afterExactDedup == 1)
    assert(on.df.select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L))
  }

  test("native SimHash64 matches HOF formulation exactly") {
    import graft.expressions.SimHash64
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    val both = real.select(
      SimHash64(col("text")).as("fast"),
      HofOracles.simhashHof(col("text")).as("slow"))
    assert(both.collect().forall(r => r.getLong(0) == r.getLong(1)))
    val edge = Seq[(Long, String)]((0L, ""), (1L, "   "), (2L, "ONE token"), (3L, "one token"),
      (4L, "\thello"), (5L, "a\n"), (6L, "\u0001x"), (7L, " x "), (8L, "a\r\nb"),
      (9L, null), (10L, "\t\n "))
      .toDF("doc_id", "text")
    val e = edge.select(col("doc_id"), SimHash64(col("text")).as("f"),
      HofOracles.simhashHof(col("text")).as("s")).collect()
    assert(e.forall(r => r.getLong(1) == r.getLong(2)))
    val byId = e.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(0L) == 0L && byId(1L) == 0L)
    assert(byId(9L) == 0L && byId(10L) == 0L) // null and whitespace-only: no votes
    assert(byId(2L) == byId(3L)) // case-insensitive
    // simhashPolyBands is the native fingerprint split into 16-bit bands
    val bands = Dedup.simhashPolyBands(edge, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (0 until 4).map(b => r.getInt(b + 1).toLong << (16 * b)).sum).toMap
    assert(bands == byId)
  }

  test("as-of join backward: latest at-or-before match, tolerance, no-match") {
    import graft.ops.Joins
    val left = Seq(
      (1L, 100L, 10L), // matches r2 (t=90, the latest <= 100)
      (1L, 50L, 20L),  // matches r1 exactly at its own time (inclusive)
      (1L, 10L, 30L),  // before any right row -> null
      (2L, 100L, 40L)  // key with no right rows at all -> null
    ).toDF("key", "t", "lv")
    val right = Seq(
      (1L, 50L, 101L, 1.5), // r1
      (1L, 90L, 102L, 2.5), // r2
      (1L, 90L, 103L, 3.5)  // r3: same time as r2 -> larger tie id wins
    ).toDF("key", "t", "rid", "rv")

    val out = Joins.asofJoinBackward(left, right, "key", "t", "t", "rid",
        payloadCols = Seq("rid", "rv"))
      .collect().map(r => r.getAs[Long]("lv") ->
        (Option(r.getAs[Any]("asof_rid")), Option(r.getAs[Any]("asof_rv")))).toMap
    assert(out(10L) == ((Some(103L), Some(3.5)))) // deterministic tie -> max rid
    assert(out(20L) == ((Some(101L), Some(1.5)))) // inclusive at equal time
    assert(out(30L) == ((None, None)))
    assert(out(40L) == ((None, None)))

    // tolerance: match older than 5 ticks is dropped
    val tol = Joins.asofJoinBackward(left, right, "key", "t", "t", "rid",
        payloadCols = Seq("rid"), tolerance = Some(5L))
      .collect().map(r => r.getAs[Long]("lv") -> Option(r.getAs[Any]("asof_rid"))).toMap
    assert(tol(10L) == None)        // 100 - 90 = 10 > 5
    assert(tol(20L) == Some(101L))  // 50 - 50 = 0 <= 5
  }

  test("range join: overlapping intervals, inclusive-lo exclusive-hi") {
    import graft.ops.Joins
    val intervals = Seq(
      (1L, 0.0, 10.0), (2L, 5.0, 15.0), (3L, 20.0, 30.0)
    ).toDF("iv_id", "lo", "hi")
    val values = Seq((100L, 0.0), (101L, 7.0), (102L, 10.0), (103L, 15.0),
      (104L, 25.0), (105L, 99.0)).toDF("v_id", "v")

    // bucketWidth deliberately smaller than the spans: intervals explode
    // into several grid cells and matches must still be exact
    val out = Joins.rangeJoin(values, "v", intervals, "lo", "hi", bucketWidth = 4.0)
      .select("v_id", "iv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set(
      (100L, 1L),             // v=0: inclusive lo
      (101L, 1L), (101L, 2L), // v=7: overlap zone -> both intervals
      (102L, 2L),             // v=10: hi of iv1 is EXCLUSIVE, lo half of iv2
      (104L, 3L)              // v=15 excluded (hi of iv2), v=99 matches nothing
    ))
  }

  test("as-of join forward: earliest at-or-after match with tolerance") {
    import graft.ops.Joins
    val left = Seq((1L, 100L, 10L), (1L, 200L, 20L)).toDF("key", "t", "lv")
    val right = Seq((1L, 100L, 101L, 1.0), (1L, 150L, 102L, 2.0), (1L, 400L, 103L, 3.0))
      .toDF("key", "t", "rid", "rv")
    val out = Joins.asofJoinForward(left, right, "key", "t", "t", "rid",
        payloadCols = Seq("rid", "rv"))
      .collect().map(r => r.getAs[Long]("lv") ->
        ((Option(r.getAs[Any]("asof_rid")), Option(r.getAs[Any]("asof_t"))))).toMap
    assert(out(10L) == ((Some(101L), Some(100L)))) // inclusive at-or-after
    assert(out(20L) == ((Some(103L), Some(400L)))) // next future event
    // tolerance drops matches further than 100 ticks ahead
    val tol = Joins.asofJoinForward(left, right, "key", "t", "t", "rid",
        payloadCols = Seq("rid"), tolerance = Some(100L))
      .collect().map(r => r.getAs[Long]("lv") -> Option(r.getAs[Any]("asof_rid"))).toMap
    assert(tol(10L) == Some(101L))
    assert(tol(20L) == None) // 400 - 200 = 200 > 100
  }

  test("native WordGrams matches the HOF formulation exactly") {
    import graft.ops.Dedup
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    val edges = Seq("", "   ", "one", "one two", "a b c d e f",
      "\ttab\nnewline  runs\r\n", "UPPER Case MiXeD", "dup dup dup dup")
      .toDF("text")
    for (df <- Seq(real.select("text"), edges); n <- Seq(1, 2, 3)) {
      val both = df.select(
        Dedup.wordGrams(col("text"), n).as("fast"),
        HofOracles.wordGramsHof(col("text"), n).as("slow")).collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n diverged: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("repetition signals: duplicate lines and repeated tokens") {
    val df = Seq(
      (0L, "nav\nbody text here\nnav\nfooter"),      // 4 lines, 1 dup -> 0.25
      (1L, "first line\nsecond thing"),               // no dups either way
      (2L, ""),                                       // empty -> 0.0 both
      (3L, "spam spam spam ham")                      // 4 tokens, 2 distinct
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.duplicateLineFraction(col("text")).as("dl"),
        TextAnalysis.repeatedTokenFraction(col("text")).as("rt"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(0L)._1 == 0.25)
    assert(out(1L) == ((0.0, 0.0)))
    assert(out(2L) == ((0.0, 0.0)))
    assert(out(3L)._2 == 0.5)
  }

  test("native distinctTokenCount matches the HOF formulation (case-sensitive)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
      .select("text")
      .union(Seq("", "  ", "Case case CASE", "a A a\tA\n").toDF("text"))
    val both = df.select(
      TextAnalysis.distinctTokenCount(col("text")).as("fast"),
      HofOracles.distinctTokenCountHof(col("text")).as("slow")).collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1), s"diverged: $r"))
    // case-preserving: "Case case CASE" has 3 distinct tokens
    val c = Seq("Case case CASE").toDF("text")
      .select(TextAnalysis.distinctTokenCount(col("text"))).head().getInt(0)
    assert(c == 3)
  }

  test("contamination check finds benchmark docs embedded in the corpus") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "totally unrelated training text about distributed engines here")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "beta gamma delta epsilon zeta"),   // fully contained in doc 0
      (101L, "lambda mu nu xi omicron pi rho")   // not present
    ).toDF("doc_id", "text")
    val hits = Dedup.contaminationPairs(corpus, bench, "text", "doc_id",
        threshold = 0.8, ngram = 3)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("bench_id"),
        r.getAs[Double]("containment")))
    assert(hits.toSeq == Seq((0L, 100L, 1.0)), s"got ${hits.toSeq}")
    // with a DF cap none of the corpus trigrams are frequent enough to drop
    val capped = Dedup.contaminationPairs(corpus, bench, "text", "doc_id",
      threshold = 0.8, ngram = 3, maxDocFreq = Some(10L)).count()
    assert(capped == 1L)

    // partial leak under a cap: the denominator must stay the FULL bench
    // gram count — dropping bench grams merely absent from the corpus
    // would score this 1/1 instead of 1/8
    val corpus2 = Seq((0L, "alpha beta gamma unique1 unique2 unique3"))
      .toDF("doc_id", "text")
    val bench2 = Seq((200L, "alpha beta gamma completely different tail words here now ok"))
      .toDF("doc_id", "text")
    val partial = Dedup.contaminationPairs(corpus2, bench2, "text", "doc_id",
      threshold = 0.01, ngram = 3, maxDocFreq = Some(10L)).collect()
    assert(partial.length == 1)
    assert(partial.head.getAs[Double]("containment") == 1.0 / 8.0,
      s"got ${partial.head}")
  }

  test("contamination report: per-bench rows, zeros preserved, ids disambiguated") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "totally unrelated training text about distributed engines here")
    ).toDF("doc_id", "text")
    // benchA doc 100 leaks; benchB reuses id 100 for a DIFFERENT clean
    // doc — the composite key must keep the two apart
    val benches = Seq(
      ("benchA", 100L, "beta gamma delta epsilon zeta"),
      ("benchA", 101L, "lambda mu nu xi omicron pi rho"),
      ("benchB", 100L, "sigma tau upsilon phi chi psi omega")
    ).toDF("bench", "doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, benches, "text", "doc_id",
        threshold = 0.8, ngram = 3)
      .collect().map(r => (r.getAs[String]("bench"), r.getAs[Long]("n_bench_docs"),
        r.getAs[Long]("n_contaminated_docs"), r.getAs[Long]("n_leaking_bench_docs"),
        r.getAs[Double]("max_containment_r"))).sortBy(_._1)
    assert(rep.toSeq == Seq(
      ("benchA", 2L, 1L, 1L, 1.0),
      ("benchB", 1L, 0L, 0L, 0.0)), s"got ${rep.toSeq}")
    // a '#' in a benchmark name would corrupt the composite key — refuse
    val e = intercept[Exception] {
      Dedup.contaminationReport(corpus,
        benches.withColumn("bench", concat(col("bench"), lit("#x"))),
        "text", "doc_id").collect()
    }
    assert(e.getMessage.contains("without '#'"))
  }

  test("range join plans an equi-join, never a nested-loop range predicate") {
    import graft.ops.Joins
    val intervals = spark.range(0, 200).select(col("id").as("iv_id"),
      (col("id") * 10.0).as("lo"), (col("id") * 10.0 + 15.0).as("hi"))
    val values = spark.range(0, 5000).select(col("id").as("v_id"),
      (col("id") % 2000 * 1.0).as("v"))
    val joined = Joins.rangeJoin(values, "v", intervals, "lo", "hi", bucketWidth = 10.0)
    joined.count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range join must pair via the bucket equi-join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join on the bucket id:\n$plan")
  }

  test("as-of join matches a naive reference on randomized data") {
    import graft.ops.Joins
    val rnd = new scala.util.Random(20260812)
    val left = Seq.fill(300)((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong,
      rnd.nextLong().abs % 100000))
    val right = Seq.fill(300)((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong,
      rnd.nextLong().abs % 100000, rnd.nextDouble()))

    // naive reference: argmax over all at-or-before candidates, tie -> max rid
    val expected = left.map { case (k, t, lv) =>
      val cands = right.filter(r => r._1 == k && r._2 <= t)
      val best = if (cands.isEmpty) None
        else Some(cands.maxBy(r => (r._2, r._3))).map(r => (r._3, r._4))
      (k, t, lv) -> best
    }.toMap

    val out = Joins.asofJoinBackward(
        left.toDF("key", "t", "lv"), right.toDF("key", "t", "rid", "rv"),
        "key", "t", "t", "rid", payloadCols = Seq("rid", "rv"))
      .collect().map { r =>
        val m = if (r.isNullAt(r.fieldIndex("asof_rid"))) None
          else Some((r.getAs[Long]("asof_rid"), r.getAs[Double]("asof_rv")))
        (r.getAs[Long]("key"), r.getAs[Long]("t"), r.getAs[Long]("lv")) -> m
      }.toMap
    assert(out.size == expected.size)
    expected.foreach { case (k, v) => assert(out(k) == v, s"mismatch at $k") }
  }

  test("as-of join: null keys never match (SQL equality semantics)") {
    import graft.ops.Joins
    val left = Seq((Option(1L), 100L, 1L), (None: Option[Long], 100L, 2L))
      .toDF("key", "t", "lv")
    val right = Seq((Option(1L), 50L, 10L, 1.0), (None: Option[Long], 50L, 11L, 2.0))
      .toDF("key", "t", "rid", "rv")
    val out = Joins.asofJoinBackward(left, right, "key", "t", "t", "rid",
        payloadCols = Seq("rid"))
      .collect().map(r => r.getAs[Long]("lv") -> Option(r.getAs[Any]("asof_rid"))).toMap
    assert(out(1L) == Some(10L))
    assert(out(2L) == None, "null = null must not match, like the SQL oracle")
  }

  test("range join fails fast and legibly on an outlier-wide interval") {
    import graft.ops.Joins
    val intervals = Seq((1L, 0.0, 1e18)).toDF("iv_id", "lo", "hi")
    val values = Seq((1L, 5.0)).toDF("v_id", "v")
    val e = intercept[Exception] {
      Joins.rangeJoin(values, "v", intervals, "lo", "hi", bucketWidth = 1.0).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("rangeJoin")),
      s"expected the legible guard message, got: ${messages(e)}")
  }

  test("image decode never throws on crafted or malformed payloads") {
    import graft.ops.ImageCodecs
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // width chosen so rowSize overflows Int32 if computed in Int
    val hostile = Array.concat(
      Array[Byte]('B', 'M'), le32(70), le32(0), le32(54),
      le32(40), le32(800000000), le32(1), le16(1), le16(24), le32(0),
      Array.fill[Byte](26)(0))
    assert(ImageCodecs.decode(hostile) == None)
    // Int.MinValue height (math.abs stays negative)
    val minH = Array.concat(
      Array[Byte]('B', 'M'), le32(70), le32(0), le32(54),
      le32(40), le32(2), le32(Int.MinValue), le16(1), le16(24), le32(0),
      Array.fill[Byte](26)(0))
    assert(ImageCodecs.decode(minH) == None)
    // truncated PPM and garbage headers
    assert(ImageCodecs.decode("P6\n9999 9999\n255\n".getBytes("US-ASCII")) == None)
    assert(ImageCodecs.decode("P6\nnot numbers\n".getBytes("US-ASCII")) == None)

    // CRLF-separated header must not shift the raster by one byte
    val rgb = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)
    val crlf = "P6\r\n2 2\r\n255\r\n".getBytes("US-ASCII") ++ rgb
    assert(ImageCodecs.decode(crlf).get.rgb.toSeq == rgb.toSeq)
  }

  test("l2 normalize and int8 quantization round-trip within error bound") {
    val df = Seq(
      (0L, Seq(3.0f, 4.0f)),          // norm 5
      (1L, Seq(0.0f, 0.0f)),          // zero vector
      (2L, Seq(-1.0f, 0.5f, 0.25f))
    ).toDF("vec_id", "v")

    val normed = df.select(col("vec_id"), Similarity.l2Normalize(col("v")).as("n"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Double](1)).map(_.toSeq)).toMap
    assert(normed(0L) == Some(Seq(0.6, 0.8)))
    assert(normed(1L) == None, "zero-norm vector must normalize to null, not NaN")

    val q = df.select(col("vec_id"), col("v"),
        Similarity.quantizeInt8(col("v")).as("q"),
        Similarity.dequantizeInt8(Similarity.quantizeInt8(col("v"))).as("d"))
      .collect().map { r =>
        r.getAs[Long]("vec_id") -> ((r.getAs[org.apache.spark.sql.Row]("q"),
          r.getSeq[Float](r.fieldIndex("v")),
          r.getSeq[Double](r.fieldIndex("d"))))
      }.toMap

    val (q0, v0, d0) = q(0L)
    assert(q0.getAs[Double]("scale") == 4.0)
    assert(q0.getSeq[Byte](q0.fieldIndex("codes")) == Seq(95.toByte, 127.toByte)) // round(3/4*127)=95
    v0.zip(d0).foreach { case (orig, deq) =>
      assert(math.abs(deq - orig) <= 4.0 / 254.0 + 1e-12, s"$deq vs $orig")
    }

    val (q1, _, d1) = q(1L)
    assert(q1.getAs[Double]("scale") == 0.0)
    assert(d1.forall(_ == 0.0), "zero vector dequantizes to exact zeros")

    val (q2, v2, d2) = q(2L)
    assert(q2.getSeq[Byte](q2.fieldIndex("codes")).head == (-127).toByte)
    v2.zip(d2).foreach { case (orig, deq) =>
      assert(math.abs(deq - orig) <= 1.0 / 254.0 + 1e-12)
    }
  }

  test("quantized top-k recalls the exact neighbors after rerank") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
    val exact = HofOracles.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(emb, queries, k = 10, rerank = 40)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@10 after int8 prefilter = $recall")
  }

  test("prepareTrainingCorpus cleans, enriches, and splits in one plan") {
    import graft.ops.Pipelines
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and keeps running", "a"),
      (1L, "the quick brown fox jumps over the lazy dog and keeps running", "a"), // exact dup
      (2L, "a completely different document about spark engines and scale", "b"),
      (3L, "x", "b") // single char: length term ~17, no stopwords -> ~47
    ).toDF("doc_id", "text", "source")
    val result = Pipelines.prepareTrainingCorpus(corpus,
      nearDupThreshold = 0.9, minQuality = 60.0,
      splits = Seq("train" -> 0.75, "val" -> 0.25), salt = "t")
    val rows = result.df.collect()
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(0L, 2L), s"dup and low-quality docs dropped, got $ids")
    assert(result.df.columns.contains("split"))
    assert(rows.forall(r => Set("train", "val").contains(r.getAs[String]("split"))))
    assert(rows.forall(_.getAs[Int]("n_tokens") > 0))
    val stats = result.stats()
    assert(stats.input == 4 && stats.afterExactDedup == 3 && stats.output == 2)
  }

  test("prepareTrainingCorpus: line dedup, source quota, shuffle order stages") {
    import graft.ops.Pipelines
    val chrome = "Home | About | Contact"
    // 6 docs share boilerplate chrome; 0 and 1 differ ONLY in chrome case
    // -> after line dedup they collapse to exact dups; source "a" has 4
    // survivors, quota cap 2 halves it
    val corpus = Seq(
      (0L, s"$chrome\nthe quick brown fox jumps over the lazy dog and runs", "a"),
      (1L, s"$chrome\nthe quick brown fox jumps over the lazy dog and runs", "a"),
      (2L, s"$chrome\na different document that is about spark engines and scale", "a"),
      (3L, s"$chrome\nanother body of text with enough words to pass the quality gate", "a"),
      (4L, s"$chrome\nyet another unique document with plenty of ordinary words here", "a"),
      (5L, s"$chrome\nthe last unique document body with enough common words to pass", "b")
    ).toDF("doc_id", "text", "source")
    val result = Pipelines.prepareTrainingCorpus(corpus,
      nearDupThreshold = 0.95, minQuality = 30.0,
      splits = Seq("train" -> 1.0), salt = "t2",
      lineDedupMaxDocFreq = Some(3L),
      sourceQuota = Some(("source", 2)),
      shuffleShards = Some(4))
    val rows = result.df.collect()
    // chrome stripped everywhere -> text starts with the body
    assert(rows.forall(r => !r.getAs[String]("text").contains(chrome)))
    // dup of 0/1 collapsed; per-source cap 2 -> at most 2 from "a", 1 from "b"
    val bySrc = rows.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(bySrc("a") == 2 && bySrc("b") == 1, s"got $bySrc")
    // shuffle-order columns present and well-formed
    assert(rows.forall { r =>
      val s = r.getAs[Int]("shard"); s >= 0 && s < 4 && r.getAs[Long]("shuffle_pos") >= 1
    })
    val stats = result.stats()
    assert(stats.input == 6 && stats.afterExactDedup == 5)
  }

  test("hash split: deterministic, partition-invariant, proportional") {
    import graft.ops.Sampling
    val ids = spark.range(0, 10000).toDF("id")
    val split = Sampling.withSplit(ids, "id",
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "s1")
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(math.abs(counts("train") - 7500.0) < 300, s"train ~75%, got $counts")
    assert(math.abs(counts("val") - 1250.0) < 150)

    // partition-invariant: identical assignment after a repartition
    val a = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.withSplit(ids.repartition(13), "id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)

    // under-allocated fractions leave the remainder unassigned
    val partial = Sampling.withSplit(ids, "id", Seq("sample" -> 0.25), salt = "s1")
    val n = partial.filter(col("split").isNull).count()
    assert(math.abs(n - 7500.0) < 300)

    // a different salt re-rolls assignments
    val c = Sampling.withSplit(ids, "id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "s2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a != c)
  }

  test("stratified sample keeps per-stratum fractions deterministically") {
    import graft.ops.Sampling
    val df = spark.range(0, 8000).toDF("id")
      .withColumn("stratum", when(col("id") % 2 === 0, "a").otherwise("b"))
    val kept = Sampling.stratifiedSample(df, "id", "stratum",
      Map("a" -> 0.5, "b" -> 0.125), salt = "s1")
    val counts = kept.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("a") - 2000.0) < 200, s"got $counts")
    assert(math.abs(counts("b") - 500.0) < 120, s"got $counts")
    // unlisted strata default to dropped
    val dropped = Sampling.stratifiedSample(
      df.withColumn("stratum", lit("zzz")), "id", "stratum", Map("a" -> 0.5))
    assert(dropped.count() == 0)
    // deterministic: re-evaluation returns the identical row set
    assert(kept.collect().map(_.getLong(0)).toSet ==
      kept.collect().map(_.getLong(0)).toSet)
  }

  test("temperature mix: n^alpha proportional draws, deterministic, upweights small sources") {
    import graft.ops.Sampling
    // sources of 100 / 400 / 900 rows; alpha=0.5 -> weights 10/20/30,
    // z=60, target=300 -> acceptance 0.5 / 0.25 / 1/6, expected draws
    // 50 / 100 / 150 (binomial sd < 10 each; assert within ~4 sigma)
    val df = spark.range(0, 1400).toDF("id")
      .withColumn("src",
        when(col("id") < 100, "small").when(col("id") < 500, "mid").otherwise("big"))
    val mixed = Sampling.temperatureMix(df, "id", "src", alpha = 0.5,
      targetRows = 300, salt = "tm1")
    val counts = mixed.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("small") - 50.0) < 30, s"got $counts")
    assert(math.abs(counts("mid") - 100.0) < 40, s"got $counts")
    assert(math.abs(counts("big") - 150.0) < 45, s"got $counts")
    // alpha < 1 upweights small sources: keep RATE decreasing in size
    assert(counts("small") / 100.0 > counts("mid") / 400.0)
    assert(counts("mid") / 400.0 > counts("big") / 900.0)

    // deterministic + partition-invariant (same contract as withSplit)
    val a = mixed.collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureMix(df.repartition(11), "id", "src", alpha = 0.5,
      targetRows = 300, salt = "tm1").collect().map(_.getLong(0)).toSet
    assert(a == b)

    // alpha = 1 reproduces plain proportional sampling: equal accept rate,
    // so a source 9x bigger draws ~9x the rows
    val prop = Sampling.temperatureMix(df, "id", "src", alpha = 1.0,
      targetRows = 700, salt = "tm1")
    val pc = prop.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(pc("big") - 450.0) < 60, s"got $pc") // 700 * 900/1400
    assert(math.abs(pc("small") - 50.0) < 30, s"got $pc")

    // a null source is a legitimate group (review finding: used to NPE in
    // the driver-side sort; plain === would then drop the group outright)
    val withNull = spark.range(0, 300).toDF("id")
      .withColumn("src", when(col("id") < 100, lit(null).cast("string"))
        .otherwise(lit("s")))
    val keptNull = Sampling.temperatureMix(withNull, "id", "src", alpha = 0.5,
      targetRows = 150, salt = "tm2")
      .filter(col("src").isNull).count()
    assert(keptNull > 0, "null-source rows must participate in the mix")
  }

  test("heap top-k refuses non-numeric ids loudly (no silent collapse)") {
    import graft.ops.GroupTopK
    val df = Seq(("g", "uuid-a", 1.0), ("g", "uuid-b", 2.0)).toDF("g", "id", "s")
    val e = intercept[Exception] {
      GroupTopK.topKPerGroup(df, Seq("g"), "id", "s", k = 2).collect()
    }
    assert(e.getMessage.contains("numeric-castable"),
      s"expected the loud id-contract error, got: ${e.getMessage}")
    // numeric STRING ids are fine (they cast)
    val ok = GroupTopK.topKPerGroup(
      Seq(("g", "7", 1.0), ("g", "9", 2.0)).toDF("g", "id", "s"),
      Seq("g"), "id", "s", k = 1)
      .select("id").head().getLong(0)
    assert(ok == 9L)
  }

  test("heap top-k aggregator matches the window formulation, windowless plan") {
    import graft.ops.GroupTopK
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 4)
    val viaAgg = Similarity.bruteForceTopKAgg(emb, queries, k = 7)
    // drop-in schema parity with the window formulation
    assert(viaAgg.schema("nn_rank").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val aggRows = viaAgg.select("query_id", "nn_rank", "vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val winRows = HofOracles.bruteForceTopK(emb, queries, k = 7)
      .select("query_id", "nn_rank", "vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(aggRows.sorted.toSeq == winRows.sorted.toSeq)

    // the plan must aggregate, not sort-and-rank
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"heap top-k must not plan a window:\n$plan")
    assert(plan.contains("Aggregate"), s"expected an aggregate-based plan:\n$plan")

    // ties break toward the smaller id, like orderBy(score desc, id asc)
    val tied = Seq((1L, 10L, 5.0), (1L, 3L, 5.0), (1L, 7L, 5.0))
      .toDF("g", "id", "s")
    val top2 = GroupTopK.topKPerGroup(tied, Seq("g"), "id", "s", k = 2)
      .orderBy("rank").collect().map(_.getAs[Long]("id")).toSeq
    assert(top2 == Seq(3L, 7L))

    // null/NaN scores are excluded entirely
    val messy = Seq((1L, 1L, Some(2.0)), (1L, 2L, Some(Double.NaN)),
      (1L, 3L, None: Option[Double])).toDF("g", "id", "s")
    val kept = GroupTopK.topKPerGroup(messy, Seq("g"), "id", "s", k = 5)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(kept == Set(1L))
  }

  test("string-keyed heap top-k: window parity, binary tie order, no Window node") {
    import graft.ops.GroupTopK
    val df = Seq(
      ("en", "b c", 5.0), ("en", "a b", 5.0), ("en", "c d", 9.0),
      ("en", "z z", 1.0), ("de", "x y", 2.0), ("de", "x z", 2.0)
    ).toDF("g", "key", "s")
    val viaAgg = GroupTopK.topKPerGroupString(df, Seq("g"), "key", "s", k = 2)
    val got = viaAgg.orderBy("g", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    // en: 9.0 "c d", then the 5.0 tie breaks toward "a b"; de: "x y" < "x z"
    assert(got == Seq(
      ("de", 1L, "x y", 2.0), ("de", 2L, "x z", 2.0),
      ("en", 1L, "c d", 9.0), ("en", 2L, "a b", 5.0)))
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"heap top-k must not plan a window:\n$plan")

    // tie order is BINARY (UTF-8 byte / code-point) — not UTF-16 code
    // units: U+FFFD sorts BELOW the supplementary U+1F600, though its
    // UTF-16 unit (0xFFFD) is larger than the surrogate (0xD83D)
    val uni = Seq((1, "😀", 1.0), (1, "�", 1.0)).toDF("g", "key", "s")
    val first = GroupTopK.topKPerGroupString(uni, Seq("g"), "key", "s", k = 1)
      .collect().head.getAs[String]("key")
    assert(first == "�")

    // null keys and null/NaN scores are unrankable and dropped
    val messy = Seq((1, Option("a"), Option(1.0)), (1, None: Option[String], Option(9.0)),
      (1, Option("b"), Some(Double.NaN)), (1, Option("c"), None: Option[Double]))
      .toDF("g", "key", "s")
    val kept = GroupTopK.topKPerGroupString(messy, Seq("g"), "key", "s", k = 5)
      .collect().map(_.getAs[String]("key")).toSet
    assert(kept == Set("a"))
  }

  test("payload-carrying string heap: selection identical to join-back, null payload refuses") {
    import graft.ops.GroupTopK
    // the r18 variant rides a LONG payload (n_pair, tf) through the
    // heap so collocations/tfidfKeywords skip the join-back that
    // re-evaluated the scored subtree; selection must be bit-identical
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { i =>
      val g = s"g${i % 5}"
      val key = s"k${rnd.nextInt(80)}"
      (g, key, rnd.nextInt(10).toDouble, (i % 97).toLong)
    }
    // the payload must be FUNCTIONALLY determined by (g, key) — as
    // n_pair/tf are (the scored frame is key-grain) — for the join-back
    // comparison to be well-defined
    val df = rows.groupBy(r => (r._1, r._2)).map { case ((g, k), rs) =>
      (g, k, rs.head._3, rs.head._4)
    }.toSeq.toDF("g", "key", "s", "p")
    val viaPayload = GroupTopK.topKPerGroupStringPayload(
        df, Seq("g"), "key", "s", "p", k = 7)
      .select("g", "rank", "key", "s", "p")
      .collect().map(_.toSeq).toSet
    val viaJoin = GroupTopK.topKPerGroupString(df, Seq("g"), "key", "s", k = 7)
      .join(df.select("g", "key", "p"), Seq("g", "key"))
      .select("g", "rank", "key", "s", "p")
      .collect().map(_.toSeq).toSet
    assert(viaPayload == viaJoin,
      s"payload heap diverged from join-back: ${viaPayload.diff(viaJoin)} / ${viaJoin.diff(viaPayload)}")
    // no Window node, same as the payload-less heap
    val plan = GroupTopK.topKPerGroupStringPayload(
      df, Seq("g"), "key", "s", "p", k = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"heap top-k must not plan a window:\n$plan")
    // a null payload refuses loudly rather than becoming 0
    val nullP = Seq((1, "a", 1.0, Some(2L)), (1, "b", 2.0, None: Option[Long]))
      .toDF("g", "key", "s", "p")
    val e = intercept[Exception] {
      GroupTopK.topKPerGroupStringPayload(nullP, Seq("g"), "key", "s", "p", k = 2).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("payload"),
      s"expected loud payload refusal, got: ${e.getMessage}")
  }

  test("skewReport: heavy keys ranked with shares; null keys weigh the total only") {
    import graft.ops.Reports
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c") ++
      Seq(null.asInstanceOf[String], null.asInstanceOf[String])).toDF("k")
    val got = Reports.skewReport(df, "k", k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    // totals include the 2 null rows (12), but null is not rankable
    assert(got == Seq((1L, "a", 6L, 0.5), (2L, "b", 3L, 0.25)))
  }

  test("retentionCohorts: first-bucket cohorting, per-offset distinct activity") {
    import graft.ops.Metrics
    val W = 100L
    val ev = Seq(
      (1L, 10L), (1L, 110L), (1L, 210L), (1L, 15L), // u1: buckets 0,1,2 (dup in 0)
      (2L, 20L),                                    // u2: bucket 0 only
      (3L, 130L), (3L, 230L)                        // u3: cohort 1, buckets 1,2
    ).toDF("user_id", "us")
    val got = Metrics.retentionCohorts(ev, "user_id", col("us"), W)
      .orderBy("cohort", "offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 2L, 1.0), (0L, 1L, 1L, 2L, 0.5), (0L, 2L, 1L, 2L, 0.5),
      (1L, 0L, 1L, 1L, 1.0), (1L, 1L, 1L, 1L, 1.0)))
  }

  test("eventTransitions: consecutive pairs per user, out-probabilities") {
    import graft.ops.Metrics
    val ev = Seq(
      (1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"), (1L, 3L, 30L, "a"),
      (2L, 4L, 10L, "a"), (2L, 5L, 20L, "a")
    ).toDF("user_id", "event_id", "us", "event_type")
    val got = Metrics.eventTransitions(ev, "user_id", "event_type", col("us"), "event_id")
      .orderBy("from_type", "to_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(("a", "a", 1L, 0.5), ("a", "b", 1L, 0.5), ("b", "a", 1L, 1.0)))
  }

  test("adaptiveSaltedJoin: plain-join parity across join types; hot ceiling refuses") {
    import graft.ops.Salting
    val left = ((1 to 20).map(_ => (Option(1L), "h")) ++ Seq(
      (Option(2L), "c1"), (Option(2L), "c2"), (Option(3L), "d"),
      (Option(9L), "u"), (None: Option[Long], "n"))).toDF("k", "lv")
    val right = Seq((Option(1L), "R1a"), (Option(1L), "R1b"), (Option(2L), "R2"),
      (Option(7L), "R7"), (None: Option[Long], "RN")).toDF("k", "rv")
    for (jt <- Seq("inner", "left", "left_semi", "left_anti")) {
      val a = Salting.adaptiveSaltedJoin(left, right, Seq("k"),
          buckets = 3, hotThreshold = 5, joinType = jt)
        .collect().map(_.toString).sorted.toSeq
      val p = left.join(right, Seq("k"), jt)
        .collect().map(_.toString).sorted.toSeq
      assert(a == p, s"join type $jt diverged from the plain join")
    }
    // two keys clear a threshold of 2; a ceiling of 1 must refuse loudly
    val err = intercept[IllegalArgumentException] {
      Salting.adaptiveSaltedJoin(left, right, Seq("k"),
        buckets = 3, hotThreshold = 2, maxHotKeys = 1).collect()
    }
    assert(err.getMessage.contains("not a skew sliver"))
  }

  test("snapshotDiff: added/removed/changed classification, null-aware values") {
    import graft.ops.Snapshot
    val prev = Seq((1L, Option("a")), (2L, Option("b")),
      (3L, None: Option[String]), (4L, Option("d"))).toDF("k", "v")
    val cur = Seq((1L, Option("a")), (2L, Option("c")),
      (3L, Option("x")), (5L, Option("e"))).toDF("k", "v")
    val got = Snapshot.snapshotDiff(prev, cur, Seq("k"), Seq("v"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change")).toMap
    // 1 unchanged (absent), 2 changed, 3 null->x changed, 4 removed, 5 added
    assert(got == Map(2L -> "changed", 3L -> "changed", 4L -> "removed", 5L -> "added"))
  }

  test("scd2History: runs, half-open intervals, null-safe change, invariance") {
    import graft.ops.Snapshot
    // key 1: a a b a  -> 3 versions; key 2: null x null -> 3 versions
    // (null-safe change test opens a version on BOTH null transitions);
    // key 3: single all-null first observation still opens version 1
    val obs = Seq(
      (1L, Option("a"), 10L, 100L), (1L, Option("a"), 20L, 101L),
      (1L, Option("b"), 30L, 102L), (1L, Option("a"), 40L, 103L),
      (2L, None: Option[String], 10L, 200L), (2L, Option("x"), 20L, 201L),
      (2L, None: Option[String], 30L, 202L),
      (3L, None: Option[String], 5L, 300L),
      (-1L, Option("z"), 0L, 400L) // null-key / null-ts rows dropped below
    ).toDF("k", "v", "ts", "tie")
      .withColumn("k", when(col("k") === -1L, lit(null)).otherwise(col("k")))
    val got = Snapshot.scd2History(obs, Seq("k"), Seq("v"), col("ts"), "tie")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("version")) ->
        ((Option(r.getAs[String]("v")), r.getAs[Long]("valid_from"),
          Option(r.getAs[Any]("valid_to")).map(_.asInstanceOf[Long]),
          r.getAs[Long]("n_obs"), r.getAs[Boolean]("is_current")))).toMap
    assert(got.size == 7) // 3 + 3 + 1; null key dropped
    assert(got((1L, 1L)) == ((Option("a"), 10L, Some(30L), 2L, false)))
    assert(got((1L, 2L)) == ((Option("b"), 30L, Some(40L), 1L, false)))
    assert(got((1L, 3L)) == ((Option("a"), 40L, None, 1L, true)))
    assert(got((2L, 1L)) == ((None, 10L, Some(20L), 1L, false)))
    assert(got((2L, 2L)) == ((Option("x"), 20L, Some(30L), 1L, false)))
    assert(got((2L, 3L)) == ((None, 30L, None, 1L, true)))
    assert(got((3L, 1L)) == ((None, 5L, None, 1L, true)))
    // partition-invariance: same history from a different physical layout
    val got2 = Snapshot.scd2History(obs.repartition(7), Seq("k"), Seq("v"),
        col("ts"), "tie")
      .collect().map(_.toString).sorted.toSeq
    val got1 = Snapshot.scd2History(obs, Seq("k"), Seq("v"), col("ts"), "tie")
      .collect().map(_.toString).sorted.toSeq
    assert(got1 == got2)
    // last_obs = last ts observed inside the run (the scd2Apply high-water mark)
    val lo = Snapshot.scd2History(obs, Seq("k"), Seq("v"), col("ts"), "tie")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("version")) ->
        r.getAs[Long]("last_obs")).toMap
    assert(lo((1L, 1L)) == 20L && lo((1L, 3L)) == 40L && lo((3L, 1L)) == 5L)
  }

  test("scd2Apply: increment equals full rebuild; closed rows untouched; late data refuses") {
    import graft.ops.Snapshot
    // keys: 1 = extended run + new version; 2 = value flip back; 3 = only
    // in old (pass-through); 4 = only in new (fresh-key path)
    val all = Seq(
      (1L, Option("a"), 10L, 100L), (1L, Option("a"), 20L, 101L),
      (1L, Option("a"), 30L, 102L), (1L, Option("b"), 40L, 103L),
      (2L, Option("x"), 10L, 200L), (2L, None: Option[String], 25L, 201L),
      (2L, Option("x"), 35L, 202L),
      (3L, Option("z"), 15L, 300L),
      (4L, Option("q"), 50L, 400L), (4L, Option("r"), 60L, 401L)
    ).toDF("k", "v", "ts", "tie")
    for (split <- Seq(5L, 22L, 28L, 45L, 100L)) {
      val hist = Snapshot.scd2History(all.filter(col("ts") < split),
        Seq("k"), Seq("v"), col("ts"), "tie")
      val inc = Snapshot.scd2Apply(hist, all.filter(col("ts") >= split),
          Seq("k"), Seq("v"), col("ts"), "tie")
        .collect().map(_.toString).sorted.toSeq
      val full = Snapshot.scd2History(all, Seq("k"), Seq("v"), col("ts"), "tie")
        .collect().map(_.toString).sorted.toSeq
      assert(inc == full, s"increment diverged from full rebuild at split=$split")
    }
    // late data (ts <= the key's current-run last_obs) refuses loudly
    val hist = Snapshot.scd2History(all.filter(col("ts") < 45L),
      Seq("k"), Seq("v"), col("ts"), "tie")
    val late = Seq((1L, Option("c"), 40L, 999L)).toDF("k", "v", "ts", "tie")
    val err = intercept[Exception] {
      Snapshot.scd2Apply(hist, late, Seq("k"), Seq("v"), col("ts"), "tie").collect()
    }
    assert(err.getMessage.contains("scd2Apply"), s"unexpected: ${err.getMessage}")
  }

  test("kAnonymity: audit numbers, null tuple is a class, suppression is k-anonymous") {
    import graft.ops.Privacy
    // classes: (a,1)x3, (a,2)x2, (b,1)x1 singleton, (null,1)x2, (null,null)x1
    val df = Seq(
      (1L, Option("a"), Option(1)), (2L, Option("a"), Option(1)), (3L, Option("a"), Option(1)),
      (4L, Option("a"), Option(2)), (5L, Option("a"), Option(2)),
      (6L, Option("b"), Option(1)),
      (7L, None: Option[String], Option(1)), (8L, None: Option[String], Option(1)),
      (9L, None: Option[String], None: Option[Int])
    ).toDF("id", "q1", "q2")
    val audit = Privacy.kAnonymityAudit(df, Seq("q1", "q2"), k = 2L).collect().head
    assert(audit.getAs[Long]("n_rows") == 9L)
    assert(audit.getAs[Long]("n_classes") == 5L)
    assert(audit.getAs[Long]("k_actual") == 1L)
    assert(audit.getAs[Long]("n_classes_below_k") == 2L) // (b,1), (null,null)
    assert(audit.getAs[Long]("n_rows_at_risk") == 2L)
    assert(audit.getAs[Long]("n_singletons") == 2L)
    assert(math.abs(audit.getAs[Double]("at_risk_frac_r") - 2.0 / 9.0) < 1e-6)
    val kept = Privacy.suppressBelowK(df, Seq("q1", "q2"), k = 2L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L)) // null-QI class of 2 kept
    // the suppressed frame is k-anonymous by construction
    val re = Privacy.kAnonymityAudit(
      Privacy.suppressBelowK(df, Seq("q1", "q2"), k = 2L), Seq("q1", "q2"), 2L)
      .collect().head
    assert(re.getAs[Long]("k_actual") >= 2L)
    // k=1 is the identity
    assert(Privacy.suppressBelowK(df, Seq("q1", "q2"), 1L).count() == 9L)
  }

  test("lDiversity: homogeneous classes flag, null sensitive doesn't count, quasi overlap refuses") {
    import graft.ops.Privacy
    // classes: (a) 3 rows / 2 diagnoses; (b) 2 rows / 1 diagnosis
    // (homogeneous); (c) 2 rows where one diagnosis is NULL -> 1 value
    val df = Seq(
      (1L, "a", Option("flu")), (2L, "a", Option("flu")), (3L, "a", Option("cold")),
      (4L, "b", Option("flu")), (5L, "b", Option("flu")),
      (6L, "c", Option("cold")), (7L, "c", None: Option[String])
    ).toDF("id", "q", "diag")
    val cls = Privacy.lDiversityClasses(df, Seq("q"), "diag").collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("class_n"), r.getAs[Long]("n_sensitive")))).toMap
    assert(cls == Map("a" -> ((3L, 2L)), "b" -> ((2L, 1L)), "c" -> ((2L, 1L))))
    val audit = Privacy.lDiversityAudit(df, Seq("q"), "diag", l = 2L).head()
    assert(audit.getAs[Long]("n_rows") == 7L && audit.getAs[Long]("n_classes") == 3L)
    assert(audit.getAs[Long]("l_actual") == 1L)
    assert(audit.getAs[Long]("n_classes_below_l") == 2L)
    assert(audit.getAs[Long]("n_rows_at_risk") == 4L)
    assert(audit.getAs[Long]("n_homogeneous") == 2L)
    assert(math.abs(audit.getAs[Double]("at_risk_frac_r") - 4.0 / 7.0) < 1e-6)
    // a frame that passes: every class carries >= 2 sensitive values
    val ok = Privacy.lDiversityAudit(
      df.filter(col("q") === "a"), Seq("q"), "diag", l = 2L).head()
    assert(ok.getAs[Long]("n_classes_below_l") == 0L &&
      ok.getAs[Long]("l_actual") == 2L)
    // the sensitive column among the quasi identifiers is a misuse
    val e = intercept[IllegalArgumentException] {
      Privacy.lDiversityAudit(df, Seq("q", "diag"), "diag", 2L)
    }
    assert(e.getMessage.contains("sensitive column"), e.getMessage)
  }

  test("recordLinkage: weighted field sims, null evidence, anchor reach, minScore") {
    import graft.ops.Joins
    import graft.ops.Joins.{LinkField, LinkFieldKind}
    val left = Seq(
      (1L, 1, "alice", Option("gold"), Option(100.0)),
      (2L, 1, "bobby", Option("iron"), Option(50.0)),
      (3L, 2, "carol", None: Option[String], Option(10.0))
    ).toDF("lid", "blk", "name", "tier", "bal")
    val right = Seq(
      (11L, 1, "alyse", Option("gold"), Option(110.0)), // name lev 2: unreachable at d=1
      (12L, 1, "bobbe", Option("iron"), Option(50.0)),  // lev 1 from bobby
      (13L, 2, "carol", Option("gold"), Option(15.0)),  // exact name, null left tier
      (14L, 2, "caryl", Option("gold"), None: Option[Double]) // lev 1, null right bal
    ).toDF("rid", "blk", "name", "tier", "bal")
    val fields = Seq(
      LinkField("name", "name", 0.5, LinkFieldKind.Edit),
      LinkField("tier", "tier", 0.2, LinkFieldKind.Exact),
      LinkField("bal", "bal", 0.3, LinkFieldKind.Numeric(100.0)))
    val got = Joins.recordLinkage(left, right, Seq("blk"), "lid", "rid",
        "name", "name", anchorMaxDist = 1, fields, minScore = 0.0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Double]("sim_name"), r.getAs[Double]("sim_tier"),
          r.getAs[Double]("sim_bal"), r.getAs[Double]("match_score_r")))).toMap
    // alice–alyce is lev-2: not a candidate at anchorMaxDist=1
    assert(!got.contains((1L, 11L)))
    // bobby–bobbe: name 1-1/5=0.8, tier exact, bal equal
    val b = got((2L, 12L))
    assert(b._1 == 0.8 && b._2 == 1.0 && b._3 == 1.0)
    assert(math.abs(b._4 - (0.5 * 0.8 + 0.2 + 0.3)) < 1e-9)
    // carol–carol: exact name; null LEFT tier contributes 0 evidence
    val c13 = got((3L, 13L))
    assert(c13._1 == 1.0 && c13._2 == 0.0 && math.abs(c13._3 - 0.95) < 1e-9)
    // carol–caryl: null RIGHT bal contributes 0
    val c14 = got((3L, 14L))
    assert(c14._1 == 0.8 && c14._3 == 0.0)
    // minScore drops the weak pair (carol–caryl scores 0.4)
    val strict = Joins.recordLinkage(left, right, Seq("blk"), "lid", "rid",
      "name", "name", 1, fields, minScore = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((2L, 12L), (3L, 13L)))
    // invalid configs refuse
    intercept[IllegalArgumentException] {
      Joins.recordLinkage(left, right, Seq("blk"), "lid", "rid", "name", "name", 1,
        Seq(LinkField("name", "name", -1.0, LinkFieldKind.Edit)), 0.0)
    }
    intercept[IllegalArgumentException] {
      Joins.recordLinkage(left, right, Seq("blk"), "lid", "rid", "name", "name", 1,
        Seq(LinkField("bal", "bal", 1.0, LinkFieldKind.Numeric(0.0))), 0.0)
    }
  }

  test("triangleCounts/clusteringCoefficient: planted graph, invariances, brute differential") {
    import graft.ops.Graphs
    // triangle 1-2-3, square 4-5-6-7 (no diagonal), pendant 8 off node 1;
    // noise: a parallel edge, a reversed duplicate, a self-loop, a null
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 4L),
      (1L, 8L),
      (2L, 1L), (1L, 2L), (3L, 3L)
    ).toDF("s", "d")
      .unionByName(Seq((Option.empty[Long], Option(9L))).toDF("s", "d"))
    val got = Graphs.clusteringCoefficient(edges, "s", "d")
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("n_triangles"),
          Option(r.getAs[Any]("clustering_r"))))).toMap
    assert(got(1L)._1 == 3L) // parallel + reversed dups collapse to one edge
    assert(got(1L)._2 == 1L && got(2L)._2 == 1L && got(3L)._2 == 1L)
    assert(got(4L)._2 == 0L && got(5L)._2 == 0L) // squares have no triangles
    assert(got(8L) == ((1L, 0L, None))) // degree-1: undefined coefficient
    assert(got(2L)._3.contains(1.0)) // node 2: deg 2, its one pair closes
    assert(math.abs(got(1L)._3.get.asInstanceOf[Double] - 0.333333) < 1e-9)
    assert(!got.contains(9L)) // null-endpoint edge dropped entirely
    // brute-force differential on a deterministic pseudo-random graph
    val rnd = (0 until 300).map { i =>
      val a = (i * 7919) % 24; val b = (i * 104729 + 13) % 24
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }
    val rdf = rnd.toDF("s", "d")
    val canon = rnd.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val eset = canon.toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).distinct
    val brute = (for {
      u <- nodes; v <- nodes if u < v; w <- nodes if v < w
      if eset((u, v)) && eset((v, w)) && eset((u, w))
    } yield Seq(u, v, w)).flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val fast = Graphs.triangleCounts(rdf, "s", "d")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
    assert(nodes.forall(n => fast(n) == brute.getOrElse(n, 0L)),
      s"triangle counts diverged from brute force: $fast vs $brute")
  }

  test("joinSizeEstimate: exact product arithmetic, null keys out, empty join") {
    import graft.ops.Reports
    val left = Seq(Option(1L), Option(1L), Option(1L), Option(2L), Option(3L), None)
      .toDF("k")
    val right = Seq(Option(1L), Option(1L), Option(2L), Option(4L), None).toDF("k")
    val r = Reports.joinSizeEstimate(left, right, Seq("k")).collect().head
    // key 1: 3x2=6; key 2: 1x1=1 -> est 7; common keys {1,2}
    assert(r.getAs[Long]("est_rows") == 7L)
    assert(r.getAs[Long]("n_keys_left") == 3L && r.getAs[Long]("n_keys_right") == 3L)
    assert(r.getAs[Long]("n_keys_common") == 2L)
    assert(r.getAs[Long]("max_key_rows") == 6L)
    assert(math.abs(r.getAs[Double]("top_frac_r") - 6.0 / 7.0) < 1e-6)
    // the estimate IS the true inner-join size
    assert(left.join(right, Seq("k")).count() == 7L)
    // disjoint keys: zero rows, null top fraction
    val z = Reports.joinSizeEstimate(
      Seq(1L).toDF("k"), Seq(2L).toDF("k"), Seq("k")).collect().head
    assert(z.getAs[Long]("est_rows") == 0L && z.isNullAt(z.fieldIndex("top_frac_r")))
  }

  test("quantileNormalize: pooled grid map, ties, nulls, single-row group") {
    import graft.ops.Outliers
    // group a: 1,2,3,4,5 (pooled with b: 101..105); group b much larger scale
    val df = Seq(
      ("a", Option(1.0)), ("a", Option(2.0)), ("a", Option(3.0)),
      ("a", Option(4.0)), ("a", Option(5.0)),
      ("b", Option(101.0)), ("b", Option(102.0)), ("b", Option(103.0)),
      ("b", Option(104.0)), ("b", Option(105.0)),
      ("a", None: Option[Double]),
      ("c", Option(42.0)) // single-row group maps to r=0
    ).toDF("g", "v")
    val got = Outliers.quantileNormalize(df, Seq("g"), "v", grid = 100)
      .collect().map(r => (r.getAs[String]("g"), Option(r.getAs[Any]("v"))) ->
        Option(r.getAs[Any]("qnorm_r")).map(_.asInstanceOf[Double])).toMap
    // null value passes through unmapped
    assert(got(("a", None)).isEmpty)
    // the min of each group maps to the pooled minimum (r=0 -> grid[0])
    val pooledMin = got(("a", Some(1.0))).get
    assert(pooledMin == got(("b", Some(101.0))).get && pooledMin == 1.0)
    // the max of each group maps to the pooled maximum (r=1 -> grid[end])
    assert(got(("a", Some(5.0))).get == got(("b", Some(105.0))).get)
    assert(got(("a", Some(5.0))).get == 105.0)
    // after normalization the two groups are on ONE scale: medians agree
    assert(got(("a", Some(3.0))).get == got(("b", Some(103.0))).get)
    // single-row group maps to r=0 == pooled min
    assert(got(("c", Some(42.0))).get == 1.0)
    // monotone within each group
    assert(got(("a", Some(2.0))).get < got(("a", Some(4.0))).get)
  }

  test("rrfFuse: reciprocal terms, best-rank dedup, tie toward smaller doc") {
    import graft.ops.Retrieval
    val rankings = Seq(
      // query q1: system A ranks docs 1,2,3; system B ranks 3,2,9
      ("q1", 1L, "A", 1), ("q1", 2L, "A", 2), ("q1", 3L, "A", 3),
      ("q1", 3L, "B", 1), ("q1", 2L, "B", 2), ("q1", 9L, "B", 3),
      // doc 9 double-listed by B: best (smallest) rank wins once
      ("q1", 9L, "B", 7),
      // query q2: one system only
      ("q2", 5L, "A", 1)
    ).toDF("q", "doc", "sys", "rank")
    val got = Retrieval.rrfFuse(rankings, "q", "doc", "sys", "rank", k = 60, topK = 10)
      .collect().map(r => (r.getAs[String]("q"), r.getAs[Long]("doc")) ->
        ((r.getAs[Double]("rrf_score_r"), r.getAs[Long]("fused_rank")))).toMap
    def t(r: Int) = 1.0 / (60.0 + r)
    assert(math.abs(got(("q1", 2L))._1 - math.rint((t(2) + t(2)) * 1e6) / 1e6) < 1e-9)
    assert(math.abs(got(("q1", 3L))._1 - math.rint((t(3) + t(1)) * 1e6) / 1e6) < 1e-9)
    assert(math.abs(got(("q1", 9L))._1 - math.rint(t(3) * 1e6) / 1e6) < 1e-9)
    // 1/(60+r) is convex in r, so the split ranks {1,3} of doc 3 beat
    // doc 2's {2,2}: 1/61 + 1/63 > 2/62
    assert(got(("q1", 3L))._2 < got(("q1", 2L))._2)
    assert(got(("q1", 9L))._2 == 4L) // worst: one rank-3 hit
    assert(got(("q2", 5L))._2 == 1L)
  }

  test("cusumChangepoints: prefix identity equals the recurrence; sustained shift alarms") {
    import graft.ops.Metrics
    // series "s": 20 quiet hourly buckets at ~10, then 10 buckets at 14
    // — a shift rollingAnomalies' 3-sigma bucket test would sleep through
    val h = 3600000000L
    val rows = ((0 until 20).flatMap(i => Seq.fill(10 + (i % 2))(("s", i))) ++
      (20 until 30).flatMap(i => Seq.fill(14)(("s", i))) ++
      (0 until 6).map(i => ("flat", i))) // constant series: never alarms
    val ev = rows.map { case (ty, b) => (ty, b.toLong * h + 5L) }
      .toDF("event_type", "us")
    val got = Metrics.cusumChangepoints(ev, "event_type", col("us"), h)
      .collect().map(r => (r.getAs[String]("series"), r.getAs[Long]("bucket")) ->
        ((Option(r.getAs[Any]("s_pos_r")).map(_.asInstanceOf[Double]),
          r.getAs[Boolean]("alarm_up"), r.getAs[Boolean]("alarm_down")))).toMap
    // scala recurrence replay for the shifted series
    val xs = (0 until 20).map(i => 10.0 + (i % 2)) ++ Seq.fill(10)(14.0)
    val n = xs.size
    val mean = xs.sum / n
    val sigma = math.sqrt(xs.map(x => x * x).sum / n - mean * mean)
    var s = 0.0
    val expected = xs.map { x => s = math.max(0.0, s + (x - mean - 0.5 * sigma)); s }
    (0 until n).foreach { i =>
      val gotS = got(("s", i.toLong))._1.get
      assert(math.abs(gotS - expected(i)) < 1e-4,
        s"bucket $i: prefix-identity CUSUM $gotS != recurrence ${expected(i)}")
    }
    // the sustained shift alarms before its 10 buckets are out
    assert((20 until 30).exists(i => got(("s", i.toLong))._2), "shift never alarmed")
    assert((0 until 20).forall(i => !got(("s", i.toLong))._2), "quiet period alarmed")
    // constant series: sigma 0, null scores, no alarms
    assert(got(("flat", 3L))._1.isEmpty && !got(("flat", 3L))._2 && !got(("flat", 3L))._3)
  }

  test("htEstimate: unbiased arithmetic, null values, bad probability refuses") {
    import graft.ops.Sampling
    // known probs: full inclusion p=1 rows estimate exactly themselves
    val full = Seq((1L, 1.0, 10.0, "g"), (2L, 1.0, 20.0, "g"), (3L, 1.0, 30.0, "g"))
      .toDF("id", "p", "v", "g")
    val ex = Sampling.htEstimate(full, "id", "p", "v", Seq("g")).collect().head
    assert(ex.getAs[Long]("n_sample") == 3L)
    assert(ex.getAs[Double]("est_rows_r") == 3.0)
    assert(ex.getAs[Double]("est_sum_r") == 60.0)
    assert(ex.getAs[Double]("se_sum_r") == 0.0) // p=1: zero variance
    // half-inclusion: each survivor stands for two rows
    val half = Seq((1L, 0.5, 10.0, "g"), (2L, 0.5, 30.0, "g"))
      .toDF("id", "p", "v", "g")
    val h = Sampling.htEstimate(half, "id", "p", "v", Seq("g")).collect().head
    assert(h.getAs[Double]("est_rows_r") == 4.0)
    assert(h.getAs[Double]("est_sum_r") == 80.0)
    // se = sqrt(sum (1-p)/p^2 v^2) = sqrt(2*(100+900)) = sqrt(2000)
    assert(math.abs(h.getAs[Double]("se_sum_r") - math.sqrt(2000.0)) < 1e-4)
    // null value contributes 0 to the total but still counts as a row
    val withNull = Seq((1L, 0.5, Option(10.0), "g"), (2L, 0.5, None: Option[Double], "g"))
      .toDF("id", "p", "v", "g")
    val n = Sampling.htEstimate(withNull, "id", "p", "v", Seq("g")).collect().head
    assert(n.getAs[Double]("est_rows_r") == 4.0 && n.getAs[Double]("est_sum_r") == 20.0)
    // a probability outside (0,1] refuses loudly
    val bad = Seq((1L, 0.0, 1.0, "g")).toDF("id", "p", "v", "g")
    val err = intercept[Exception] {
      Sampling.htEstimate(bad, "id", "p", "v", Seq("g")).collect()
    }
    assert(err.getMessage.contains("htEstimate"), s"unexpected: ${err.getMessage}")
  }

  test("benfordAudit: exact digit extraction, all-nine rows, junk excluded") {
    import graft.ops.Expectations
    // planted digits: 1 x4, 2 x3, 9 x1; plus sub-cent, null, NaN junk
    val df = Seq(Option(1.23), Option(12.0), Option(0.10), Option(199.0),
      Option(2.0), Option(0.25), Option(25000.0),
      Option(9.99),
      Option(0.001), None, Option(Double.NaN)).toDF("v")
    val got = Expectations.benfordAudit(df, "v")
      .collect().map(r => r.getAs[Int]("digit") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("obs_frac_r")))).toMap
    assert(got.size == 9) // all nine digits present even at count 0
    assert(got(1)._1 == 4L && got(2)._1 == 3L && got(9)._1 == 1L)
    assert(got(3)._1 == 0L && got(7)._1 == 0L)
    assert(math.abs(got(1)._2 - 0.5) < 1e-9) // 4 of 8 auditable rows
    // leading digit at a power-of-ten boundary: 0.10 -> cents 10 -> digit 1
    // (the log10 formulation wobbles exactly here; string slicing cannot)
  }

  test("reciprocity: answered edges counted, one-way rings score zero") {
    import graft.ops.Graphs
    // 1<->2 mutual; 3->4->5->3 one-way ring; 2->3 unanswered; dup + self noise
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 3L), (1L, 2L), (6L, 6L)).toDF("s", "d")
    val got = Graphs.reciprocity(edges, "s", "d")
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("out_deg"), r.getAs[Long]("n_recip"),
          r.getAs[Double]("reciprocity_r")))).toMap
    assert(got(1L) == ((1L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 0.5))) // 2->1 answered, 2->3 not
    assert(got(3L) == ((1L, 0L, 0.0)) && got(4L) == ((1L, 0L, 0.0)))
    assert(!got.contains(6L)) // self-loop-only node has no simple edges
  }

  test("attribution: first/last/linear credit, lookback window, credit conservation") {
    import graft.ops.Metrics
    // user 1: view@10, click@20, purchase@30 (both in window);
    //         view@95, purchase@100 with lookback 50 excludes nothing here
    // user 2: click@1, purchase@100 — click outside the 50-wide window
    val ev = Seq(
      (1L, "view", 10L, 101L), (1L, "click", 20L, 102L), (1L, "purchase", 30L, 103L),
      (1L, "view", 95L, 104L), (1L, "purchase", 100L, 105L),
      (2L, "click", 1L, 201L), (2L, "purchase", 100L, 202L)
    ).toDF("user_id", "event_type", "us", "event_id")
    def run(model: String) = Metrics.attribution(ev, "user_id", "event_type",
        col("us"), "event_id", "purchase", Seq("view", "click"), model, 50L)
      .collect().map(r => r.getAs[String]("touch_type") ->
        ((r.getAs[Long]("n_conversions"), r.getAs[Double]("credit_r")))).toMap
    // conv 103 touches: view@10, click@20; conv 105: view@95 only;
    // conv 202: none (click@1 is 99us stale)
    val lin = run("linear")
    assert(lin("view") == ((2L, 0.5 + 1.0)))
    assert(lin("click") == ((1L, 0.5)))
    // linear credit is conserved: one unit per attributed conversion
    assert(math.abs(lin.values.map(_._2).sum - 2.0) < 1e-9)
    val first = run("first")
    assert(first("view") == ((2L, 2.0)) && !first.contains("click"))
    val last = run("last")
    assert(last("click") == ((1L, 1.0)) && last("view") == ((1L, 1.0)))
    intercept[IllegalArgumentException] {
      Metrics.attribution(ev, "user_id", "event_type", col("us"), "event_id",
        "purchase", Seq("view"), "shapley", 50L)
    }
  }

  test("attribution: equal-ts ties — first takes the smaller id, last the larger") {
    import graft.ops.Metrics
    // two touches at the SAME timestamp: the (ts, id) struct order
    // resolves the tie — min picks the smaller id, max the larger
    val ev = Seq(
      (1L, "click", 10L, 1L), (1L, "view", 10L, 2L), (1L, "purchase", 20L, 9L)
    ).toDF("user_id", "event_type", "us", "event_id")
    def run(model: String) = Metrics.attribution(ev, "user_id", "event_type",
        col("us"), "event_id", "purchase", Seq("view", "click"), model, 50L)
      .collect().map(_.getAs[String]("touch_type")).toSeq
    assert(run("first") == Seq("click"), "first must break the ts tie toward id 1")
    assert(run("last") == Seq("view"), "last must break the ts tie toward id 2")
  }

  test("attribution: hot-user pair ceiling refuses loudly, guard survives the optimizer") {
    import graft.ops.Metrics
    // one bot-grade user: 4 conversions x 3 touches = 12 pairs
    val rows = (1 to 4).map(i => (1L, "purchase", 100L + i, 100L + i)) ++
      (1 to 3).map(i => (1L, "view", i.toLong, i.toLong))
    val df = rows.toDF("user_id", "event_type", "us", "event_id")
    def run(ceiling: Long) = Metrics.attribution(df, "user_id", "event_type",
      col("us"), "event_id", "purchase", Seq("view"), "linear", 1000L,
      maxUserPairs = ceiling)
    val err = intercept[Exception] { run(10L).collect() }
    assert(err.getMessage.contains("maxUserPairs"), s"unexpected: ${err.getMessage}")
    // the ceiling rides the consumed conversion timestamp — the
    // optimizer must not be able to column-prune the raise_error away
    val optimized = run(10L).queryExecution.optimizedPlan.toString
    assert(optimized.contains("raise_error"),
      s"hot-user guard was pruned out of the plan:\n$optimized")
    // exactly at the ceiling: passes, and the answer is the usual one
    val ok = run(12L).collect().map(r =>
      r.getAs[String]("touch_type") -> r.getAs[Double]("credit_r")).toMap
    assert(ok == Map("view" -> 4.0))
  }

  test("attribution linear / htEstimate refuse md5-string ids with the surrogate pointer") {
    import graft.ops.{Metrics, Sampling}
    val ev = Seq(
      (1L, "view", 10L, "9f86d081884c7d65"), (1L, "purchase", 20L, "60303ae22b998861")
    ).toDF("user_id", "event_type", "us", "event_id")
    val err = intercept[Exception] {
      Metrics.attribution(ev, "user_id", "event_type", col("us"), "event_id",
        "purchase", Seq("view"), "linear", 50L).collect()
    }
    assert(err.getMessage.contains("withSurrogateId"), s"unexpected: ${err.getMessage}")
    // first/last never cast the id — string ids are legal there
    val first = Metrics.attribution(ev, "user_id", "event_type", col("us"),
      "event_id", "purchase", Seq("view"), "first", 50L).collect()
    assert(first.length == 1 && first.head.getAs[Long]("n_conversions") == 1L)
    val s = Seq(("fcde2b2edba56bf4", 0.5, 10.0, "g")).toDF("id", "p", "v", "g")
    val err2 = intercept[Exception] {
      Sampling.htEstimate(s, "id", "p", "v", Seq("g")).collect()
    }
    assert(err2.getMessage.contains("withSurrogateId"), s"unexpected: ${err2.getMessage}")
  }

  test("connectedComponents: union-find differential, min-id labels, string ids refuse") {
    import graft.ops.Graphs
    // pseudo-random sparse graph on 60 nodes (several components)
    val rnd = (0 until 90).map { i =>
      ((i * 7919 % 60).toLong, (i * 104729 % 60).toLong)
    }.filter(p => p._1 != p._2)
    val got = Graphs.connectedComponents(rnd.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    // union-find truth with the min element as each tree's root, so
    // find(n) IS the component's minimum node id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    rnd.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = rnd.flatMap(p => Seq(p._1, p._2)).distinct.map(n => n -> find(n)).toMap
    assert(got == want)
    assert(got.values.toSet.subsetOf(got.keySet), "labels must be member node ids")
    // string ids refuse with the on-ramp pointer
    val err = intercept[Exception] {
      Graphs.connectedComponents(
        Seq(("deadbeef", "cafebabe")).toDF("s", "d"), "s", "d").collect()
    }
    assert(err.getMessage.contains("withSurrogateId"), s"unexpected: ${err.getMessage}")
  }

  test("ccApply: increment equals full rebuild at multiple split points") {
    import graft.ops.Graphs
    // the CC differential's pseudo-random graph, plus a tail of edges
    // that introduce brand-new nodes (ids >= 100) and chain-merge them
    val rnd = (0 until 90).map { i =>
      ((i * 7919 % 60).toLong, (i * 104729 % 60).toLong)
    }.filter(p => p._1 != p._2)
    val edges = rnd ++ Seq((100L, 101L), (101L, 3L), (102L, 102L), (0L, 1L))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    val full = asMap(Graphs.connectedComponents(edges.toDF("s", "d"), "s", "d"))
    for (split <- Seq(20, 45, 80, edges.size - 4)) {
      val hist = Graphs.connectedComponents(
        edges.take(split).toDF("s", "d"), "s", "d")
      val got = asMap(Graphs.ccApply(hist, edges.drop(split).toDF("s", "d"), "s", "d"))
      assert(got == full, s"split $split diverged: " +
        s"missing=${full.toSet -- got.toSet}, extra=${got.toSet -- full.toSet}")
    }
    // chained increments: apply the tail one batch at a time
    val h0 = Graphs.connectedComponents(edges.take(60).toDF("s", "d"), "s", "d")
    val h1 = Graphs.ccApply(h0, edges.slice(60, 75).toDF("s", "d"), "s", "d")
    val h2 = Graphs.ccApply(h1, edges.drop(75).toDF("s", "d"), "s", "d")
    assert(asMap(h2) == full)
    // empty increment is the identity
    import spark.implicits._
    val same = Graphs.ccApply(h0,
      Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d")
    assert(asMap(same) == asMap(h0))
    // string ids in the increment refuse with the on-ramp pointer
    val err = intercept[Exception] {
      Graphs.ccApply(h0, Seq(("x", "y")).toDF("s", "d"), "s", "d").collect()
    }
    assert(err.getMessage.contains("withSurrogateId"), s"unexpected: ${err.getMessage}")
    // adversarial whole-graph "increment": the broadcast-small contract
    // refuses LOUDLY before any broadcast, pointing at the rebuild path
    val big = intercept[IllegalArgumentException] {
      Graphs.ccApply(h0, edges.toDF("s", "d"), "s", "d",
        maxIncrementNodes = 10L)
    }
    assert(big.getMessage.contains("rebuild with connectedComponents"),
      s"unexpected: ${big.getMessage}")
    assert(big.getMessage.contains("maxIncrementNodes=10"))
    // exactly-at-the-ceiling passes (the bound is inclusive)
    val hist40 = Graphs.connectedComponents(edges.take(40).toDF("s", "d"), "s", "d")
    val atCeil = Graphs.ccApply(hist40, edges.drop(40).toDF("s", "d"), "s", "d",
      maxIncrementNodes = edges.drop(40).flatMap(p => Seq(p._1, p._2)).distinct.size.toLong)
    assert(asMap(atCeil) == full)
    // ccIncremental (concurrent history-CC + increment preamble) is
    // result-identical to the sequential composition at every split
    for (split <- Seq(20, 45, 80)) {
      val got = asMap(Graphs.ccIncremental(
        edges.take(split).toDF("s", "d"), edges.drop(split).toDF("s", "d"), "s", "d"))
      assert(got == full, s"ccIncremental split $split diverged: " +
        s"missing=${full.toSet -- got.toSet}, extra=${got.toSet -- full.toSet}")
    }
    // the concurrent path's ceiling refusal propagates the PRIMARY error
    val bigInc = intercept[IllegalArgumentException] {
      Graphs.ccIncremental(edges.take(60).toDF("s", "d"),
        edges.toDF("s", "d"), "s", "d", maxIncrementNodes = 10L)
    }
    assert(bigInc.getMessage.contains("rebuild with connectedComponents"))
  }

  test("ccIncremental launches every job in the caller's job group") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.ops.Graphs
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = (1L to 30L).map(i => (i, if (i % 7 == 0) i else i + 1))
    // a pooled worker that exists before the group is set must not leak
    // its own (empty) properties into the prep's jobs
    java.util.concurrent.CompletableFuture.supplyAsync(() => 0).join()
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("g", "ccIncremental job group")
    try {
      Graphs.ccIncremental(edges.take(15).toDF("s", "d"),
        edges.drop(15).toDF("s", "d"), "s", "d").collect()
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(!groups.isEmpty)
    assert(groups.asScala.forall(_ == "g"), groups.asScala.mkString(","))

    // cancelling the group when the first prep job starts stops the
    // call with the cancellation, and no prep job starts once the
    // cancel has returned. A prep job is one whose SQL execution was
    // started from ccPrepIncrement (its call site).
    val prepExecutions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val cancelledAt = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val canceller = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.details.contains("ccPrepIncrement") =>
            prepExecutions.add(s.executionId.toString); ()
          case _ => ()
        }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.jobGroup.id") == "g" &&
            prepExecutions.contains(j.properties.getProperty("spark.sql.execution.id"))) {
          if (j.time > cancelledAt.get) late.add(j.jobId)
          else if (cancelledAt.get == Long.MaxValue) {
            sc.cancelJobGroup("g")
            cancelledAt.set(System.currentTimeMillis())
          }
        }
    }
    sc.addSparkListener(canceller)
    sc.setJobGroup("g", "ccIncremental job group")
    try {
      val e = intercept[Exception] {
        Graphs.ccIncremental(edges.take(15).toDF("s", "d"),
          edges.drop(15).toDF("s", "d"), "s", "d").collect()
      }
      assert(String.valueOf(e.getMessage).toLowerCase.contains("cancel"), e)
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(canceller)
    }
    assert(cancelledAt.get != Long.MaxValue, "no prep job started")
    assert(late.isEmpty, s"prep jobs started after the cancel: ${late.asScala.mkString(",")}")
  }

  test("horizonDedup: greedy anchors, boundary kept, ties, brute-force replay") {
    import graft.ops.Dedup
    // key A: 0 (keep), 5 (drop), 10 (keep, == boundary), 14 (drop),
    //        20 (keep: 10+10), 29 (drop), 31 (keep)
    // key B ties at ts 0: smallest tie anchors, the twin suppresses
    val df = Seq(
      ("A", 0L, 1L), ("A", 5L, 2L), ("A", 10L, 3L), ("A", 14L, 4L),
      ("A", 20L, 5L), ("A", 29L, 6L), ("A", 31L, 7L),
      ("B", 0L, 11L), ("B", 0L, 10L), ("B", 100L, 12L)
    ).toDF("k", "ts", "id")
    val kept = Dedup.horizonDedup(df, Seq("k"), "ts", "id", horizonUs = 10L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L, 7L, 10L, 12L))
    // partition invariance
    val kept2 = Dedup.horizonDedup(df.repartition(7), Seq("k"), "ts", "id", 10L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == kept2)
    // brute-force greedy replay on a pseudo-random stream
    val rnd = (0 until 200).map(i =>
      (s"k${i % 5}", ((i * 7919) % 500).toLong, i.toLong))
    val got = Dedup.horizonDedup(rnd.toDF("k", "ts", "id"),
        Seq("k"), "ts", "id", 37L)
      .select("id").as[Long].collect().toSet
    val want = rnd.groupBy(_._1).flatMap { case (_, rows) =>
      var last = Long.MinValue
      rows.sortBy(r => (r._2, r._3)).flatMap { r =>
        if (last == Long.MinValue || r._2 - last >= 37L) { last = r._2; Some(r._3) }
        else None
      }
    }.toSet
    assert(got == want)
    // non-long ts refuses with the normalization hint
    val err = intercept[IllegalArgumentException] {
      Dedup.horizonDedup(Seq(("A", 1, 1L)).toDF("k", "ts", "id"),
        Seq("k"), "ts", "id", 10L)
    }
    assert(err.getMessage.contains("LONG"))
  }

  test("kCore: cascading peel, clique survives, chain peels to nothing") {
    import graft.ops.Graphs
    // K4 clique {1,2,3,4} + a tail 4-5-6 hanging off it; k=3:
    // 6 peels (deg 1) -> 5 peels (deg 1) -> 4 keeps deg 3 in the clique
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d")
    val core3 = Graphs.kCore(edges, "s", "d", k = 3)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg")).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a pure chain has no 2-core: cascading peel empties it
    val chain = (1L to 8L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("s", "d")
    assert(Graphs.kCore(chain, "s", "d", k = 2).count() == 0L)
    // the cascade needs one round per chain node: maxIter backstop raises
    val err = intercept[IllegalStateException] {
      Graphs.kCore(chain, "s", "d", k = 2, maxIter = 2)
    }
    assert(err.getMessage.contains("did not converge"))
    // k=1 on a simple graph is the identity (every endpoint has deg >= 1)
    assert(Graphs.kCore(edges, "s", "d", k = 1).count() == 6L)
  }

  test("prefixJaccardJoin: lossless vs the full inverted index; hot-prefix ceiling") {
    import graft.ops.Dedup
    // mixed corpus: one near-dup pair, one exact pair, distinct tails
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // J(1,2) = 4/6
      (3L, "one two three four"),
      (4L, "one two three four"),            // exact dup of 3
      (5L, "completely different words here"),
      (6L, "alpha omega psi chi phi")
    ).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "n_common").as[(Long, Long, Long)].collect().toSet
    val prefix = pairs(Dedup.prefixJaccardJoin(docs, "text", "doc_id", 0.5))
    // ground truth: the brute inverted index without any cap — the
    // prefix filter must lose NOTHING
    val brute = pairs(Dedup.jaccardPairs(docs, "text", "doc_id", threshold = 0.5)
      .withColumnRenamed("jaccard", "__j"))
    assert(prefix == brute && prefix.contains((1L, 2L, 4L)) && prefix.contains((3L, 4L, 4L)))
    // threshold 1.0: only the exact pair
    assert(pairs(Dedup.prefixJaccardJoin(docs, "text", "doc_id", 1.0)) ==
      Set((3L, 4L, 4L)))
    // near-dup-saturated corpus at a low threshold: every prefix token
    // is hot — the ceiling must refuse loudly
    val saturated = (1L to 40L).map(i => (i, "same exact text everywhere"))
      .toDF("doc_id", "text")
    val err = intercept[Exception] {
      Dedup.prefixJaccardJoin(saturated, "text", "doc_id", 0.5,
        maxPrefixFreq = 8L).collect()
    }
    assert(err.getMessage.contains("maxPrefixFreq"), s"unexpected: ${err.getMessage}")
  }

  test("personalizedPageRank: seed-only teleport, unreachable nodes at exact zero") {
    import graft.ops.Graphs
    // two disjoint chains: 1->2->3 (seeded at 1) and 10->11 (unseeded)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("s", "d")
    val got = Graphs.personalizedPageRank(edges, "s", "d", seeds = Seq(1L),
        iterations = 3, damping = 0.85)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    // the unseeded component never receives mass — EXACT zeros
    assert(got(10L) == 0.0 && got(11L) == 0.0)
    // seed keeps the teleport term; downstream decays geometrically
    assert(math.abs(got(1L) - 0.15) < 1e-12)
    assert(got(1L) > got(2L) * 0.9 || got(2L) > 0.0) // 2 earns d * rank(1)
    assert(got(2L) > got(3L) && got(3L) > 0.0)
    // global pageRank on the same graph gives the unseeded chain mass
    val global = Graphs.pageRank(edges, "s", "d", iterations = 3)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(global(11L) > 0.0)
    intercept[IllegalArgumentException] {
      Graphs.personalizedPageRank(edges, "s", "d", seeds = Seq.empty)
    }
  }

  test("tfidfKeywords: discriminative tokens beat ubiquitous ones; binary tie order") {
    import graft.ops.TextAnalysis
    // 'shared' is in every doc (idf = 0, never ranks above a real
    // keyword); 'rare' repeats in doc 1 (tf boost); doc 3 ties two
    // singleton tokens -> binary-smaller first
    val docs = Seq(
      (1L, "shared rare rare other"),
      (2L, "shared boring words"),
      (3L, "shared zeta alpha")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfKeywords(docs, "text", "doc_id", k = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        ((r.getAs[String]("token"), r.getAs[Long]("tf"))))
      .toMap
    assert(got((1L, 1L)) == (("rare", 2L)))
    // ubiquitous 'shared' scores 0 — it may appear at the tail but
    // never above a discriminative token
    assert(got((1L, 2L))._1 == "other")
    assert(got((3L, 1L)) == (("alpha", 1L)) && got((3L, 2L)) == (("zeta", 1L)))
  }

  test("seasonalAnomalies: daily cycle is normal, off-phase burst flags, leave-one-out") {
    import graft.ops.Metrics
    // 8 days of an hourly series with a strong daily cycle (phase 0 is
    // ALWAYS 50 events, other phases 5) + one burst day where phase 3
    // jumps. A trailing-window monitor would flag every phase-0 cell;
    // the seasonal profile must flag ONLY the burst.
    val events = (0 until 24 * 8).flatMap { h =>
      val phase = h % 24
      val n = if (phase == 0) 50 else if (phase == 3 && h / 24 == 5) 40 else 5
      (0 until n).map(i => ("s", h.toLong * 3600000000L + i))
    }.toDF("t", "us")
    val got = Metrics.seasonalAnomalies(events, "t", col("us"),
        bucketUs = 3600000000L, period = 24, k = 3.0)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Boolean]("is_anomaly"), r.getAs[Long]("base_n")))).toMap
    val flagged = got.filter(_._2._1).keys.toSet
    assert(flagged == Set(5L * 24 + 3), s"flagged: $flagged")
    // phase-0 cells: constant-50 leave-one-out baseline, never flagged
    assert((0 until 8).forall(d => !got(d.toLong * 24)._1))
    // every cell judged against the 7 OTHER cells of its phase
    assert(got(0L)._2 == 7L)
  }

  test("columnProfileDiff: exact null/distinct deltas per column") {
    import graft.ops.Reports
    val prev = Seq((1L, Option("a"), "x"), (2L, Option("b"), "x"), (3L, Option("a"), "y"))
      .toDF("id", "v", "g")
    val cur = Seq((1L, Option("a"), "x"), (2L, None: Option[String], "x"),
      (3L, None: Option[String], "z"), (4L, Option("c"), "z"))
      .toDF("id", "v", "g")
    val got = Reports.columnProfileDiff(prev, cur, Seq("v", "g"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    val v = got("v")
    assert(v.getAs[Long]("rows_prev") == 3L && v.getAs[Long]("rows_cur") == 4L)
    assert(v.getAs[Long]("d_rows") == 1L)
    assert(v.getAs[Long]("dist_prev") == 2L && v.getAs[Long]("dist_cur") == 2L)
    assert(v.getAs[Double]("null_rate_prev_r") == 0.0)
    assert(v.getAs[Double]("null_rate_cur_r") == 0.5)
    assert(v.getAs[Double]("d_null_rate_r") == 0.5)
    val g = got("g")
    assert(g.getAs[Long]("d_distinct") == 0L) // {x,y} -> {x,z}: both 2 distinct
    intercept[IllegalArgumentException] {
      Reports.columnProfileDiff(prev, cur, Seq("missing"))
    }
  }

  test("columnProfile: graft.stats.approx drops the Expand, keeps schema + closeness") {
    import graft.ops.Reports
    val df = (1L to 5000L).map(i => (i, s"v${i % 977}", if (i % 10 == 0) null else s"g${i % 3}"))
      .toDF("id", "v", "g")
    val exact = Reports.columnProfile(df, Seq("id", "v", "g"))
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"),
      "exact countDistinct path is the |cols|-fold Expand by design")
    spark.conf.set("graft.stats.approx", "true")
    try {
      val approx = Reports.columnProfile(df, Seq("id", "v", "g"))
      // identical schema: a drift gate must not care which path ran
      assert(approx.schema == exact.schema)
      assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
        "approx path must be a plain single-pass aggregate (no Expand)")
      val e = exact.collect().map(r => r.getAs[String]("column") -> r).toMap
      val a = approx.collect().map(r => r.getAs[String]("column") -> r).toMap
      for (c <- Seq("id", "v", "g")) {
        // rows/nulls/rate are exact on both paths
        assert(a(c).getAs[Long]("n_rows") == e(c).getAs[Long]("n_rows"))
        assert(a(c).getAs[Long]("n_null") == e(c).getAs[Long]("n_null"))
        assert(a(c).getAs[Double]("null_rate_r") == e(c).getAs[Double]("null_rate_r"))
        val (ad, ed) = (a(c).getAs[Long]("n_distinct").toDouble,
          e(c).getAs[Long]("n_distinct").toDouble)
        assert(math.abs(ad - ed) / ed <= 0.10, s"$c: approx $ad vs exact $ed")
      }
    } finally spark.conf.unset("graft.stats.approx")
  }

  test("weightedSampleNoReplacement: brute-force key replay, determinism, bad weight") {
    import graft.ops.Sampling
    val rows = (1L to 60L).map(i => (i, (i % 7 + 1).toDouble, s"g${i % 2}"))
    val df = rows.toDF("id", "w", "g")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSampleNoReplacement(d, "id", "w", Seq("g"), k = 5, salt = "t")
        .select("g", "rank", "id").as[(String, Long, Long)].collect().toSet
    val got = run(df)
    // brute-force A-ES replay: md5-prefix unit hash, ln(u)/w, top-5 per
    // group by key desc (ties toward smaller id — none expected here)
    val md = java.security.MessageDigest.getInstance("MD5")
    def unit(id: Long): Double = {
      val hex = md.digest(s"${id}t".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val want = rows.groupBy(_._3).flatMap { case (g, rs) =>
      rs.map(r => (r._1, math.log(unit(r._1)) / r._2))
        .sortBy { case (id, k) => (-k, id) }
        .take(5).zipWithIndex
        .map { case ((id, _), i) => (g, (i + 1).toLong, id) }
    }.toSet
    assert(got == want)
    // partition invariance
    assert(run(df.repartition(13)) == got)
    // exactly k per group
    assert(got.groupBy(_._1).forall(_._2.size == 5))
    // non-positive weight refuses loudly
    val err = intercept[Exception] {
      Sampling.weightedSampleNoReplacement(
        Seq((1L, 0.0, "g")).toDF("id", "w", "g"), "id", "w", Seq("g"), 1).collect()
    }
    assert(err.getMessage.contains("not positive"), s"unexpected: ${err.getMessage}")
  }

  test("withGroupRobustZscore: flags what mean/sigma misses; zero MAD stays null") {
    import graft.ops.Outliers
    // 1..9 plus one 1000: the classic z is diluted by the outlier's own
    // pull on sigma (z ~ 2.85 < 3.5) while the robust z is ~268
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).map(v => ("g", v)).toDF("g", "v")
    val got = Outliers.withGroupRobustZscore(df, Seq("g"), "v")
      .collect().map(r => r.getAs[Double]("v") ->
        ((r.getAs[Double]("median_r"), r.getAs[Double]("mad_r"),
          Option(r.getAs[java.lang.Double]("robust_z_r"))))).toMap
    assert(got(1000.0)._1 == 5.5 && got(1000.0)._2 == 2.5)
    // 0.6744897501960817 * 994.5 / 2.5
    assert(math.abs(got(1000.0)._3.get - 0.6744897501960817 * 994.5 / 2.5) < 1e-4)
    assert(got(5.0)._3.get < 1.0 && got(9.0)._3.get < 1.0)
    // over half the group identical: MAD = 0, z undefined (null)
    val flat = Seq(("g", 5.0), ("g", 5.0), ("g", 5.0), ("g", 9.0)).toDF("g", "v")
    val fz = Outliers.withGroupRobustZscore(flat, Seq("g"), "v")
      .filter(col("v") === 9.0).collect().head
    assert(fz.getAs[Double]("mad_r") == 0.0)
    assert(fz.isNullAt(fz.fieldIndex("robust_z_r")))
  }

  test("eventPaths: consecutive windows only, tail exclusion, binary tie order") {
    import graft.ops.Sessions
    // user 1: a b a b a -> paths (a b a) x2? windows: aba, bab, aba = aba:2, bab:1
    // user 2: a b a     -> aba:1 ; user 3: x y (too short for depth 3)
    val ev = Seq(
      (1L, "a", 1L, 1L), (1L, "b", 2L, 2L), (1L, "a", 3L, 3L),
      (1L, "b", 4L, 4L), (1L, "a", 5L, 5L),
      (2L, "a", 1L, 6L), (2L, "b", 2L, 7L), (2L, "a", 3L, 8L),
      (3L, "x", 1L, 9L), (3L, "y", 2L, 10L)
    ).toDF("user_id", "event_type", "us", "event_id")
    val got = Sessions.eventPaths(ev, "user_id", "event_type", col("us"),
        "event_id", depth = 3, k = 10)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[String]("path"),
        r.getAs[Long]("n"))).toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a > b > a", 3L), (2L, "b > a > b", 1L)))
    // depth 2: pairs, binary tie order between equal-count paths
    val got2 = Sessions.eventPaths(ev, "user_id", "event_type", col("us"),
        "event_id", depth = 2, k = 10)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[String]("path"))).toSeq
      .sortBy(_._1)
    assert(got2.head._2 == "a > b") // 3 occurrences beats b > a's 3? ties -> binary
    assert(got2.map(_._2).contains("x > y"))
  }

  test("entityKeepers: best-score keeper, singleton pass-through, null-score fallback") {
    import graft.ops.Joins
    // component {1,2,3} chained; component {7,8}; singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val recs = Seq((1L, 10.0), (2L, 99.0), (3L, 50.0),
      (7L, 1.0), (8L, 1.0), (9L, 42.0)).toDF("id", "score")
    val got = Joins.entityKeepers(recs, pairs, "id", "score")
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("component"), r.getAs[Long]("keeper_id")))).toMap
    assert(got.size == 6)
    assert(got(1L) == ((1L, 2L)) && got(2L) == ((1L, 2L)) && got(3L) == ((1L, 2L)))
    assert(got(7L) == ((7L, 7L)) && got(8L) == ((7L, 7L))) // tie -> smaller id
    assert(got(9L) == ((9L, 9L))) // unmatched: own singleton keeper
    // all-null-score component falls back to the min-id label
    val nullScores = Seq((1L, None: Option[Double]), (2L, None: Option[Double]),
      (3L, Some(5.0))).toDF("id", "score")
    val nb = Joins.entityKeepers(nullScores, Seq((1L, 2L)).toDF("id_a", "id_b"),
        "id", "score")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("keeper_id")).toMap
    assert(nb(1L) == 1L && nb(2L) == 1L && nb(3L) == 3L)
    // non-long-castable record id refuses loudly (no silent null-node row)
    val badIds = Seq(("doc-a", 1.0), ("doc-b", 2.0)).toDF("id", "score")
    val ex = intercept[Exception] {
      Joins.entityKeepers(badIds, Seq((1L, 2L)).toDF("id_a", "id_b"),
        "id", "score").collect()
    }
    assert(ex.getMessage.contains("withSurrogateId"), ex.getMessage)
  }

  test("theilSenTrend: burst-robust slope, exact tiny-series values, bucket ceiling") {
    import graft.ops.Metrics
    // series "up": counts 1,2,3,4,5 per bucket (slope exactly 1) with
    // ONE 100-count burst at bucket 2 — the median slope must stay 1
    // where an OLS fit would be dragged far above it
    val up = (0 until 5).flatMap { b =>
      val n = if (b == 2) 100 else b + 1
      (0 until n).map(i => ("up", b.toLong * 10L + (i % 7)))
    }
    // series "flat": constant 4/bucket -> slope exactly 0, intercept 4
    val flat = (0 until 6).flatMap(b => (0 until 4).map(i => ("flat", b.toLong * 10L + i % 3)))
    val got = Metrics.theilSenTrend((up ++ flat).toDF("t", "us"), "t", col("us"),
        bucketUs = 10L)
      .collect().map(r => r.getAs[String]("series") ->
        ((r.getAs[Long]("n_buckets"), r.getAs[Long]("n_pairs"),
          r.getAs[Double]("slope_r"), r.getAs[Double]("intercept_r")))).toMap
    assert(got("flat") == ((6L, 15L, 0.0, 4.0)))
    assert(got("up")._3 == 1.0, s"burst dragged the slope: ${got("up")}")
    // a series wider than the ceiling refuses loudly
    val wide = (0 until 50).map(b => ("w", b.toLong * 10L))
    val err = intercept[Exception] {
      Metrics.theilSenTrend(wide.toDF("t", "us"), "t", col("us"), 10L,
        maxBuckets = 10L).collect()
    }
    assert(err.getMessage.contains("maxBuckets"), s"unexpected: ${err.getMessage}")
  }

  test("collocations: PMI surfaces the planted pair, hapax floor, exact ln math") {
    import graft.ops.TextAnalysis
    // "new york" always adjacent (6x); "the" is everywhere (PMI ~ 0
    // with anything); "rare gem" co-occurs once (hapax: floored out)
    val docs = (1 to 6).map(i => (i.toLong, "the city of new york the"))
      .:+((7L, "rare gem the the the")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text", "doc_id",
        minCount = 2L, k = 5)
      .collect().map(r => r.getAs[String]("bigram") ->
        ((r.getAs[Long]("n_pair"), r.getAs[Double]("pmi_r"), r.getAs[Long]("rank"))))
      .toMap
    assert(got.contains("new york") && got("new york")._1 == 6L)
    // "city of" / "new york" / "of new" share identical counts -> equal
    // PMI; the tie breaks in binary order (city < new < of), so the
    // planted pair sits at rank 2 among the PMI-maximal trio
    assert(got("new york")._3 == 2L, s"tie order: $got")
    assert(got("city of")._3 == 1L && got("of new")._3 == 3L)
    assert(got("city of")._2 == got("new york")._2)
    // exact ln arithmetic: N=41 tokens (6x6 + 5), c_new=c_york=6, c_pair=6
    val n = 41.0
    val want = math.log(6.0) + math.log(n) - math.log(6.0) - math.log(6.0)
    assert(math.abs(got("new york")._2 - BigDecimal(want).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(!got.keys.exists(_ == "rare gem"), "hapax pair must be floored out")
  }

  test("intervalCoverage: islands, gaps, duplicate intervals, bad interval refuses") {
    import graft.ops.Joins
    // key A: [0,10] ∪ [5,20] merge; [30,40] separate; duplicate [30,40]
    // must NOT bridge the gap (the two-pass tie-swap regression) and
    // still counts in n_intervals; [40,45] touches (start == prev end:
    // NOT a gap — start > maxEnd opens islands, equality merges)
    val iv = Seq(
      ("A", 0L, 10L), ("A", 5L, 20L), ("A", 30L, 40L), ("A", 30L, 40L),
      ("A", 40L, 45L),
      ("B", 0L, 5L)
    ).toDF("k", "s", "e")
    val got = Joins.intervalCoverage(iv, Seq("k"), "s", "e")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val a = got("A")
    assert(a.getAs[Long]("n_intervals") == 5L)
    assert(a.getAs[Long]("n_islands") == 2L)
    assert(a.getAs[Long]("covered_us") == 20L + 15L) // [0,20] + [30,45]
    assert(a.getAs[Long]("span_us") == 45L)
    assert(a.getAs[Long]("max_gap_us") == 10L) // 30 - 20
    val b = got("B")
    assert(b.getAs[Long]("n_islands") == 1L && b.isNullAt(b.fieldIndex("max_gap_us")))
    // end < start refuses loudly
    val err = intercept[Exception] {
      Joins.intervalCoverage(Seq(("A", 10L, 5L)).toDF("k", "s", "e"),
        Seq("k"), "s", "e").collect()
    }
    assert(err.getMessage.contains("precedes start"), s"unexpected: ${err.getMessage}")
  }

  test("decayActivity: exact dyadic weights, horizon cutoff, dead users drop") {
    import graft.ops.Metrics
    // T_ref = 100 days (us grain: 1 day = 10 units here); user 1 has
    // 2 events today (k=0), 1 yesterday (k=1); user 2 only at k=2;
    // user 3 beyond the horizon (k=4 with horizon 4) -> no row
    val ev = Seq(
      (1L, 1000L), (1L, 1001L), (1L, 995L),
      (2L, 980L),
      (3L, 960L)
    ).toDF("user_id", "us")
    val got = Metrics.decayActivity(ev, "user_id", col("us"),
        halfLifeUs = 10L, horizon = 4)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_events_window"), r.getAs[Long]("decay_score"),
          r.getAs[Double]("score_r")))).toMap
    // weights: 2^(4-1-k): k=0 -> 8, k=1 -> 4, k=2 -> 2, k=3 -> 1
    // T = 1001; user 1: us 1001(k=0), 1000(k=0), 995(k=0? (1001-995)/10=0)
    assert(got(1L) == ((3L, 24L, 3.0))) // 3 events at k=0: 3*8; /8 = 3.0
    assert(got(2L) == ((1L, 2L, 0.25))) // k = (1001-980)/10 = 2 -> w 2; 2/8
    assert(!got.contains(3L)) // k = (1001-960)/10 = 4 >= horizon: dropped
  }

  test("abProportionTest: exact counts and z, arm-count refusal, degenerate nulls") {
    import graft.ops.Metrics
    val units = (Seq.fill(2)(("A", true)) ++ Seq.fill(2)(("A", false)) ++
      Seq.fill(3)(("B", true)) ++ Seq.fill(1)(("B", false)))
      .zipWithIndex.map { case ((v, c), i) => (i.toLong, v, c) }
      .toDF("id", "variant", "converted")
    val r = Metrics.abProportionTest(units, "variant", "converted").collect().head
    assert(r.getAs[String]("variant_a") == "A" && r.getAs[String]("variant_b") == "B")
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("conv_a") == 2L)
    assert(r.getAs[Long]("n_b") == 4L && r.getAs[Long]("conv_b") == 3L)
    assert(r.getAs[Double]("cr_a_r") == 0.5 && r.getAs[Double]("cr_b_r") == 0.75)
    assert(r.getAs[Double]("abs_lift_r") == 0.25 && r.getAs[Double]("rel_lift_r") == 0.5)
    // z = 0.25 / sqrt(0.625*0.375*(0.25+0.25))
    val z = 0.25 / math.sqrt(0.625 * 0.375 * 0.5)
    assert(math.abs(r.getAs[Double]("z_r") - z) < 1e-6)
    // three arms refuse loudly
    val err = intercept[Exception] {
      Metrics.abProportionTest(
        units.withColumn("variant",
          when(col("id") === 0L, lit("C")).otherwise(col("variant"))),
        "variant", "converted").collect()
    }
    assert(err.getMessage.contains("exactly 2 variants"), s"unexpected: ${err.getMessage}")
    // everyone converted: pooled variance 0 -> z null
    val allConv = Metrics.abProportionTest(
      units.withColumn("converted", lit(true)), "variant", "converted")
      .collect().head
    assert(allConv.isNullAt(allConv.fieldIndex("z_r")))
  }

  test("funnelStepLatency: per-pair deltas agree with the funnel chain") {
    import graft.ops.Sessions
    // user 1 completes s->v->c (10 then 30 us); user 2 stops at v (30)
    val ev = Seq(
      (1L, "s", 0L), (1L, "v", 10L), (1L, "c", 40L),
      (2L, "s", 0L), (2L, "v", 30L),
      (3L, "v", 5L) // never signed up: not in the funnel at all
    ).toDF("user_id", "event_type", "us")
    val got = Sessions.funnelStepLatency(ev, "user_id", "event_type", col("us"),
        Seq("s", "v", "c"), pcts = Seq(0.5))
      .collect().map(r => r.getAs[Long]("step_idx") ->
        ((r.getAs[String]("from_type"), r.getAs[String]("to_type"),
          r.getAs[Long]("n_users"), r.getAs[Long]("min_us"),
          r.getAs[Long]("max_us"), r.getAs[Double]("p50_us_r")))).toMap
    assert(got(1L) == (("s", "v", 2L, 10L, 30L, 20.0)))
    assert(got(2L) == (("v", "c", 1L, 30L, 30L, 30.0)))
    // the pair counts equal the funnel's step counts
    val funnelCounts = Sessions.funnel(ev, "user_id", "event_type", col("us"),
        Seq("s", "v", "c"))
      .select("step_idx", "n_users").as[(Long, Long)].collect().toMap
    assert(funnelCounts(1L) == got(1L)._3 && funnelCounts(2L) == got(2L)._3)
    // pct validation: out-of-range and label-colliding pcts refuse loudly
    intercept[IllegalArgumentException] {
      Sessions.funnelStepLatency(ev, "user_id", "event_type", col("us"),
        Seq("s", "v"), pcts = Seq(0.0))
    }
    intercept[IllegalArgumentException] {
      Sessions.funnelStepLatency(ev, "user_id", "event_type", col("us"),
        Seq("s", "v"), pcts = Seq(0.95, 0.954))
    }
  }

  test("activityConcentration: exact Gini, equal counts score zero, id guard") {
    import graft.ops.Metrics
    // counts (6, 2): population Gini = 0.25; heaviest share 0.75
    val ev = (Seq.fill(6)(1L) ++ Seq.fill(2)(2L)).map(u => (u, "e"))
      .toDF("user_id", "event_type")
    val r = Metrics.activityConcentration(ev, "user_id").collect().head
    assert(r.getAs[Long]("n_users") == 2L && r.getAs[Long]("n_events") == 8L)
    assert(r.getAs[Double]("gini_r") == 0.25)
    assert(r.getAs[Double]("top_user_frac_r") == 0.75)
    // perfectly equal counts: Gini exactly 0
    val eq = (1L to 4L).flatMap(u => Seq.fill(3)((u, "e"))).toDF("user_id", "event_type")
    assert(Metrics.activityConcentration(eq, "user_id")
      .collect().head.getAs[Double]("gini_r") == 0.0)
    // out-of-range id refuses with the surrogate pointer
    val err = intercept[Exception] {
      Metrics.activityConcentration(
        Seq((1L << 40, "e")).toDF("user_id", "event_type"), "user_id").collect()
    }
    assert(err.getMessage.contains("withSurrogateId"), s"unexpected: ${err.getMessage}")
  }

  test("novelGramFraction: exact fractions; Bloom twin never overcounts novelty") {
    import graft.ops.TextAnalysis
    val ref = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps"),        // all trigrams known -> 0
      (2L, "a totally different sentence here"), // nothing shared -> 1
      (3L, "the quick brown fox flies away"),    // mixed
      (4L, "hi")                                 // short doc: one short gram, novel
    ).toDF("doc_id", "text")
    val exact = TextAnalysis.novelGramFraction(docs, ref, "text", "doc_id", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"), r.getAs[Double]("novelty_r"))).toMap
    assert(exact(1L) == ((3L, 0L, 0.0)))
    assert(exact(2L)._1 == 3L && exact(2L)._3 == 1.0)
    // doc 3: trigrams = {the quick brown, quick brown fox, brown fox flies,
    // fox flies away}; first two known -> 2/4
    assert(exact(3L) == ((4L, 2L, 0.5)))
    assert(exact(4L) == ((1L, 1L, 1.0)))

    val bloom = TextAnalysis.novelGramFractionBloom(docs, ref, "text", "doc_id", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"))).toMap
    assert(bloom.keySet == exact.keySet)
    // Bloom false positives can only make a novel gram look known
    bloom.foreach { case (id, (ng, nn)) =>
      assert(ng == exact(id)._1)
      assert(nn <= exact(id)._2, s"doc $id bloom overcounted novelty")
    }
  }

  test("tokenDrift: shifted tokens rank first, stable token contributes zero") {
    import graft.ops.Drift
    val ref = Seq((1L, "a a a b c")).toDF("doc_id", "text")
    val cur = Seq((2L, "a b b b c")).toDF("doc_id", "text")
    val got = Drift.tokenDrift(ref, cur, "text", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("token"),
        r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"), r.getAs[Double]("contrib")))
    // v=3, totals 5/5: a moves .5->.25, b .25->.5 (equal |contrib|, tie
    // breaks to "a"); c is stable -> contrib 0, ranked last
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(got(0)._3 == 3L && got(0)._4 == 1L)
    assertNear(got(0)._5, 0.25 * math.log(2.0), 1e-12)
    assertNear(got(1)._5, 0.25 * math.log(2.0), 1e-12)
    assertNear(got(2)._5, 0.0, 1e-15)
    // PSI contributions are non-negative by construction
    assert(got.forall(_._5 >= 0.0))
  }

  test("embeddingOutliers: planted far vector flags, cluster members do not") {
    import graft.ops.Outliers
    val cents = Seq((0, Seq(1.0, 0.0), 1.0))
    val emb = (Seq.fill(5)(Seq(1.0f, 0.0f)) :+ Seq(-1.0f, 0.0f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = Outliers.embeddingOutliers(emb, "vec_id", "embedding", cents)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Int]("list_id"), r.getAs[Long]("dist_u"), r.getAs[Double]("zscore")))
    assert(got.forall(_._2 == 0))
    val (far, near) = got.partition(_._1 == 5L)
    assert(far.head._3 == 4000000L && far.head._4 > 2.0)       // |(-1,0)-(1,0)|² = 4
    assert(near.forall(g => g._3 == 0L && math.abs(g._4) < 1.0))
  }

  test("randomProject: bit-exact vs the driver-side fold, zero vector projects to zeros") {
    import graft.ops.Similarity
    val vec = Array.tabulate(8)(i => (i + 1) * 0.5f)
    val df = Seq((1L, vec.toSeq), (2L, Seq.fill(8)(0.0f)))
      .toDF("vec_id", "embedding")
    val out = df.orderBy("vec_id")
      .select(Similarity.randomProject(col("embedding"), 8, 4, seed = 7L).as("rp"))
      .collect().map(_.getSeq[Double](0).toList)
    val signs = Similarity.hyperplanes(8, 4, 7L)
    val want = signs.map(row => row.zipWithIndex.foldLeft(0.0) {
      case (acc, (s, i)) => if (s > 0) acc + vec(i).toDouble else acc - vec(i).toDouble
    } / math.sqrt(4.0))
    assert(out(0) == want) // same sequential fold -> bit-identical
    assert(out(1) == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("packDocsIntact: next-fit bins, oversize singleton, brute differential, invariance") {
    import graft.ops.Packing
    val docs = Seq(
      // shard a, budget 100: 60|30 -> bin 0; 50 overflows -> bin 1;
      // 40 fits bin 1 (90); 150 oversize -> bin 2 alone; 10 -> bin 3
      (1L, "a", 60L), (2L, "a", 30L), (3L, "a", 50L), (4L, "a", 40L),
      (5L, "a", 150L), (6L, "a", 10L),
      // shard b starts fresh
      (7L, "b", 100L), (8L, "b", 1L)
    ).toDF("doc_id", "shard", "n_tokens")
    val got = Packing.packDocsIntact(docs, "doc_id", "n_tokens", "shard", 100L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bin"))).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L,
      6L -> 3L, 7L -> 0L, 8L -> 1L), s"got $got")
    // brute differential on a random corpus + partition invariance
    val rnd = new scala.util.Random(7L)
    val rand = (1L to 400L).map(i => (i, s"s${i % 5}", rnd.nextInt(90).toLong + 1L))
    val randDf = rand.toDF("doc_id", "shard", "n_tokens")
    def brute(budget: Long): Map[Long, Long] =
      rand.groupBy(_._2).flatMap { case (_, ds) =>
        var bin = 0L; var fill = -1L
        ds.sortBy(_._1).map { case (id, _, n) =>
          if (fill < 0) { fill = n }
          else if (fill + n <= budget) { fill += n }
          else { bin += 1; fill = n }
          id -> bin
        }
      }
    val expect = brute(200L)
    val one = Packing.packDocsIntact(randDf.coalesce(1), "doc_id", "n_tokens",
        "shard", 200L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bin"))).toMap
    val many = Packing.packDocsIntact(randDf.repartition(13), "doc_id", "n_tokens",
        "shard", 200L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bin"))).toMap
    assert(one == expect && many == expect, "next-fit must replay the fold exactly")
    // bins respect the budget except oversize singletons
    val sizes = Packing.packDocsIntact(randDf, "doc_id", "n_tokens", "shard", 200L)
      .groupBy("shard", "bin").agg(sum("n_tokens").as("s"))
      .collect().map(_.getAs[Long]("s"))
    assert(sizes.forall(_ <= 200L), "all random docs fit the budget here")
    // nulls refuse loudly
    val err = intercept[Exception] {
      Packing.packDocsIntact(
        Seq((Some(1L), "a", 5L), (None, "a", 5L)).toDF("doc_id", "shard", "n_tokens"),
        "doc_id", "n_tokens", "shard", 10L).collect()
    }
    assert(err.getMessage.contains("null shard/id"), err.getMessage)
  }

  test("takedownAudit: flags the artifact that missed its takedown, missing path refuses") {
    import graft.ops.{Reports, Retrieval}
    val docs = Seq(
      (1L, "spark shuffles data between stages"),
      (2L, "broadcast joins avoid the shuffle"),
      (3L, "catalyst prunes columns and partitions")
    ).toDF("doc_id", "text")
    val idx = tempDir("graft-audit-idx")
    Retrieval.saveBm25Index(docs, "doc_id", "text", idx, numBuckets = 4)
    val exp = tempDir("graft-audit-exp")
    graft.io.Layout.writeShardsWithManifest(docs, "doc_id", exp, numShards = 2)
    // the deletion request: doc 2 — honored by the index, MISSED by the export
    val rm = Seq(2L).toDF("doc_id")
    Retrieval.removeFromBm25Index(rm, idx)
    val audit = Reports.takedownAudit(spark, rm, "doc_id", Seq(
      ("bm25_doclens", s"$idx/doclens", "__docid"),
      ("bm25_postings", s"$idx/postings", "__docid"),
      ("shard_export", s"$exp/data", "doc_id")))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_matches"), r.getAs[Boolean]("clean")))).toMap
    assert(audit("bm25_doclens") == ((0L, true)))
    assert(audit("bm25_postings") == ((0L, true)))
    assert(audit("shard_export")._1 > 0L && !audit("shard_export")._2,
      s"the export still holds doc 2: $audit")
    // a listed artifact whose path is gone is a misconfiguration, not a
    // clean audit
    val e = intercept[IllegalArgumentException] {
      Reports.takedownAudit(spark, rm, "doc_id",
        Seq(("ghost", s"$exp/nope", "doc_id"))).collect()
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("lengthBucketedBatches: sorted batches, padding report, null refusal, invariance") {
    import graft.ops.Packing
    val docs = Seq(
      (1L, "a", 8L), (2L, "a", 10L), (3L, "a", 8L), (4L, "a", 3L), (5L, "a", 1L),
      (6L, "b", 7L)
    ).toDF("doc_id", "shard", "n_chars")
    val assigned = Packing.lengthBucketedBatches(docs, "doc_id", "n_chars",
      "shard", batchSize = 2)
    val got = assigned.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("batch_idx")).toMap
    // shard a sorts (10,#2), (8,#1), (8,#3), (3,#4), (1,#5) — len DESC,
    // id ASC ties — so batches are {2,1}, {3,4}, {5}
    assert(got == Map(2L -> 0L, 1L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L, 6L -> 0L))
    val rep = Packing.paddingReport(assigned, "n_chars", "shard").collect()
      .map(r => (r.getAs[String]("shard"), r.getAs[Long]("batch_idx")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("max_len"),
          r.getAs[Long]("sum_len"), r.getAs[Double]("pad_frac_r")))).toMap
    assert(rep(("a", 0L)) == ((2L, 10L, 18L, 0.1))) // (20-18)/20
    assert(rep(("a", 1L)) == ((2L, 8L, 11L, 0.3125)))
    assert(rep(("a", 2L)) == ((1L, 1L, 1L, 0.0)))
    assert(rep(("b", 0L)) == ((1L, 7L, 7L, 0.0)))
    // sorted batching wastes no more padding than arrival-order batching
    val arrival = docs.withColumn("batch_idx",
      expr("(doc_id - 1) div 2")) // ids arrive in order here
    def waste(df: org.apache.spark.sql.DataFrame) =
      Packing.paddingReport(df, "n_chars", "shard").collect()
        .map(r => r.getAs[Long]("n_docs") * r.getAs[Long]("max_len") -
          r.getAs[Long]("sum_len")).sum
    assert(waste(assigned) <= waste(arrival))
    // a batch of only zero-length docs reports 0 padding, not 0/0 = NaN
    val zeros = Packing.paddingReport(
      Packing.lengthBucketedBatches(
        Seq((1L, "z", 0L), (2L, "z", 0L)).toDF("doc_id", "shard", "n_chars"),
        "doc_id", "n_chars", "shard", 2),
      "n_chars", "shard").collect()
    assert(zeros.length == 1 && zeros.head.getAs[Double]("pad_frac_r") == 0.0 &&
      !zeros.head.getAs[Double]("pad_frac_r").isNaN)
    // nulls refuse loudly; invariance under partitioning
    val err = intercept[Exception] {
      Packing.lengthBucketedBatches(
        Seq((Some(1L), "a", 5L), (None, "a", 5L)).toDF("doc_id", "shard", "n_chars"),
        "doc_id", "n_chars", "shard", 2).collect()
    }
    assert(err.getMessage.contains("null shard/id/length"), err.getMessage)
    val a = assigned.collect().map(_.toSeq).toSet
    val b = Packing.lengthBucketedBatches(docs.repartition(7), "doc_id",
      "n_chars", "shard", 2).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("sequence packing: exclusive offsets, straddling docs, shard isolation") {
    import graft.ops.Packing
    val docs = Seq(
      (1L, "a", 300L), (2L, "a", 300L), (3L, "a", 500L), // a: 0, 300, 600
      (4L, "b", 1200L), (5L, "b", 0L)                    // b: 0, 1200 (empty doc)
    ).toDF("doc_id", "shard", "n_tokens")
    val packed = Packing.sequencePacking(docs, "doc_id", "n_tokens", "shard",
        budget = 512L, orderCol = "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("offset"), r.getAs[Long]("chunk_first"),
          r.getAs[Long]("chunk_last"), r.getAs[Long]("n_chunks")))).toMap
    assert(packed(1L) == ((0L, 0L, 0L, 1L)))      // tokens 0-299 in chunk 0
    assert(packed(2L) == ((300L, 0L, 1L, 2L)))    // 300-599 straddles 511|512
    assert(packed(3L) == ((600L, 1L, 2L, 2L)))    // 600-1099 straddles 1023|1024
    assert(packed(4L) == ((0L, 0L, 2L, 3L)))      // shard b restarts at 0; 1200 tokens -> 3 chunks
    assert(packed(5L) == ((1200L, 2L, 2L, 1L)))   // empty doc occupies its boundary chunk
  }

  test("wav decode: round-trip, chunk walking, 8-bit, malformed") {
    import graft.ops.AudioCodecs
    // 4 samples at full/half scale: rms = sqrt((1 + 0.25 + 1 + 0) / 4)
    val samples = Array[Short](32767, 16384, -32768, 0)
    val wav = AudioCodecs.encodeWavPcm16(8000, 1, samples)
    val m = AudioCodecs.decodeWav(wav).get
    assert(m.sampleRate == 8000 && m.channels == 1 && m.bitsPerSample == 16)
    assert(m.nFrames == 4L)
    val expRms = math.sqrt((math.pow(32767 / 32768.0, 2) + math.pow(16384 / 32768.0, 2)
      + 1.0 + 0.0) / 4)
    assert(math.abs(m.rms - expRms) < 1e-12)

    // a LIST chunk between WAVE and fmt must be skipped, not rejected
    val listChunk = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++
      "INFO".getBytes("US-ASCII")
    val withList = wav.take(12) ++ listChunk ++ wav.drop(12)
    // fix RIFF size field (4..7): content grew by 12
    val riffLen = (wav.length - 8) + 12
    withList(4) = riffLen.toByte; withList(5) = (riffLen >> 8).toByte
    withList(6) = (riffLen >> 16).toByte; withList(7) = (riffLen >> 24).toByte
    assert(AudioCodecs.decodeWav(withList).get.nFrames == 4L)

    assert(AudioCodecs.decodeWav("not audio definitely not a riff header padding".getBytes("UTF-8")) == None)
    assert(AudioCodecs.decodeWav(wav.take(20)) == None)

    // stereo framing: 4 samples / 2 channels = 2 frames
    val stereo = AudioCodecs.encodeWavPcm16(44100, 2, samples)
    assert(AudioCodecs.decodeWav(stereo).get.nFrames == 2L)
  }

  test("video clip decode: round-trip, truncation tolerance, malformed") {
    import graft.ops.{ImageCodecs, VideoCodecs}
    def frame(seed: Int): ImageCodecs.DecodedImage = {
      val rnd = new scala.util.Random(seed)
      ImageCodecs.DecodedImage(4, 3, Array.fill(4 * 3 * 3)(rnd.nextInt(256).toByte))
    }
    val frames = (1 to 3).map(frame)
    val clip = VideoCodecs.encodeClip(frames)
    val back = VideoCodecs.decodeClip(clip).get
    assert(back.size == 3)
    back.zip(frames).foreach { case (a, b) =>
      assert(a.width == b.width && a.height == b.height && a.rgb.toSeq == b.rgb.toSeq)
    }
    // truncated tail: whole frames before the cut survive (crawl corruption)
    assert(VideoCodecs.decodeClip(clip.dropRight(5)).get.size == 2)
    // trailing garbage after whole frames: same tolerance
    assert(VideoCodecs.decodeClip(clip ++ "garbage".getBytes).get.size == 3)
    // no whole frame at all -> None
    assert(VideoCodecs.decodeClip("P6 not a real clip".getBytes) == None)
    assert(VideoCodecs.decodeClip(Array.emptyByteArray) == None)
  }

  test("video near-dups: frame-set jaccard pairs planted, boilerplate capped") {
    import graft.ops.{Dedup, ImageCodecs, Multimodal, VideoCodecs}
    import spark.implicits._
    def frame(seed: Int): ImageCodecs.DecodedImage = {
      val rnd = new scala.util.Random(seed)
      ImageCodecs.DecodedImage(16, 12, Array.fill(16 * 12 * 3)(rnd.nextInt(256).toByte))
    }
    // clip A = frames 1,2,3,4; clip B shares 3 of them (jaccard 3/5);
    // clip C disjoint; every clip gets a common "black frame" (all-zero)
    // that the frequency cap must drop before pairing
    val black = ImageCodecs.DecodedImage(16, 12, new Array[Byte](16 * 12 * 3))
    val clips = Seq(
      (1L, VideoCodecs.encodeClip(Seq(frame(1), frame(2), frame(3), frame(4), black))),
      (2L, VideoCodecs.encodeClip(Seq(frame(1), frame(2), frame(3), frame(9), black))),
      (3L, VideoCodecs.encodeClip(Seq(frame(7), frame(8), black)))
    ).toDF("doc_id", "payload")
    val fh = Multimodal.videoFrameHashes(clips, "doc_id", "payload")
    assert(fh.count() == 5 + 5 + 3)
    // cap 2: the black frame (in all 3 clips) is dropped, so clip 3
    // pairs with nothing and the 1-2 pair counts 3 shared of 4+4 classes
    val pairs = Dedup.videoNearDupPairs(fh, "doc_id", minJaccard = 0.5, maxClassClips = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(pairs == Seq((1L, 2L, 3L, 0.6)), s"pairs wrong: $pairs")
    // without the cap the black frame links everything to everything —
    // clip 3 then shares a class with both, but stays under the 0.5 bar
    val uncapped = Dedup.videoNearDupPairs(fh, "doc_id", minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"uncapped wrong: $uncapped")
  }

  test("multimodal: real PPM/BMP decode with exact expected features") {
    import graft.ops.ImageCodecs
    // 2x2 test image: red, green / blue, white
    val rgb = Array[Byte](
      255.toByte, 0, 0, /**/ 0, 255.toByte, 0,
      0, 0, 255.toByte, /**/ 255.toByte, 255.toByte, 255.toByte)
    val img = ImageCodecs.DecodedImage(2, 2, rgb)
    val ppm = ImageCodecs.encodePpm(img)

    // hand-built 24bpp bottom-up BMP of the SAME image (BGR, 4-byte row pad)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val bmp = Array.concat(
      Array[Byte]('B', 'M'), le32(70), le32(0), le32(54), // file header
      le32(40), le32(2), le32(2), le16(1), le16(24), le32(0), // info header
      Array.fill[Byte](20)(0), // rest of the 40-byte info header
      // bottom row first: blue, white (as BGR) + 2 pad bytes
      Array[Byte](255.toByte, 0, 0, 255.toByte, 255.toByte, 255.toByte, 0, 0),
      // top row: red, green (as BGR) + pad
      Array[Byte](0, 0, 255.toByte, 0, 255.toByte, 0, 0, 0))

    // both containers decode to identical pixels
    val fromPpm = ImageCodecs.decode(ppm).get
    val fromBmp = ImageCodecs.decode(bmp).get
    assert(fromPpm.width == 2 && fromPpm.height == 2)
    assert(fromPpm.rgb.toSeq == rgb.toSeq)
    assert(fromBmp.rgb.toSeq == rgb.toSeq)

    // PPM header comments are legal
    val commented = ("P6\n# test comment\n2 2\n255\n".getBytes("US-ASCII") ++ rgb)
    assert(ImageCodecs.decode(commented).get.rgb.toSeq == rgb.toSeq)

    // exact expected features at dim 8: [w, h, meanR, meanG, meanB, 3-bin
    // luminance histogram]; means are 0.5 exactly, lumas 76/149/29/255 ->
    // bins 0,1,0,2 -> [0.5, 0.25, 0.25]
    val expected = Seq(2f, 2f, 0.5f, 0.5f, 0.5f, 0.5f, 0.25f, 0.25f)
    assert(ImageCodecs.imageFeatures(img, 8).toSeq == expected)

    // end-to-end through the batched decode: image payloads get real
    // features, non-image payloads fall back to pseudo-features
    val df = Seq(
      (0L, ppm), (1L, bmp), (2L, "not an image at all".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val feats = Multimodal.decodeFeatures(df, "doc_id", "payload", featureDim = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Float](2)).toMap
    assert(feats(0L) == expected)
    assert(feats(1L) == expected) // format-agnostic: same image, same features
    assert(feats(2L) == Multimodal.fakeDecode("not an image at all".getBytes("UTF-8"), 8).toSeq)
  }

  test("native Int8Codes/MaxAbs match the HOF quantization exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    emb.select(
        Similarity.quantizeInt8(col("embedding")).as("fast"),
        HofOracles.quantizeInt8Hof(col("embedding")).as("slow"))
      .collect().foreach { r =>
        val f = r.getStruct(0); val s = r.getStruct(1)
        assert(f.getDouble(0) == s.getDouble(0), "scale must match bit-exactly")
        assert(f.getSeq[Byte](1) == s.getSeq[Byte](1), "codes must match")
      }
    val z = Seq((0L, Seq(0.0f, 0.0f))).toDF("id", "embedding")
      .select(Similarity.quantizeInt8(col("embedding")).as("fast"),
        HofOracles.quantizeInt8Hof(col("embedding")).as("slow")).head()
    assert(z.getStruct(0) == z.getStruct(1), "zero vector: all-zero codes both ways")

    // corrupt inputs: native nulls the WHOLE result (null is loud), where
    // the HOF chain would emit per-element garbage
    val corrupt = Seq(
      Seq(1.0, Double.NaN), Seq(1.0, Double.PositiveInfinity)
    ).toDF("v").select(
      graft.expressions.QuantizeExpressions.maxAbs(col("v")).as("s"),
      graft.expressions.QuantizeExpressions.int8Codes(col("v")).as("c"))
    corrupt.collect().foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1), s"non-finite element must null the result: $r")
    }
    val withNull = Seq(Tuple1(Seq(Some(1.0), None))).toDF("v").select(
      graft.expressions.QuantizeExpressions.int8Codes(col("v")).as("c")).head()
    assert(withNull.isNullAt(0), "null element must null the result")
  }

  test("l2Normalize nulls the whole result for null-element vectors") {
    val rows = Seq(
      (0L, Seq(Some(3.0f), Some(4.0f))),
      (1L, Seq(Some(1.0f), None))
    ).toDF("id", "v").select(col("id"), Similarity.l2Normalize(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rows(0L) && rows(1L))
  }

  test("as-of join ignores null-time right rows") {
    import graft.ops.Joins
    val left = Seq((1L, 100L, 1L)).toDF("key", "t", "lv")
    val right = Seq((Option(1L), Option.empty[Long], 9L, 1.0),
      (Option(1L), Option(50L), 10L, 2.0)).toDF("key", "t", "rid", "rv")
    val out = Joins.asofJoinBackward(left, right, "key", "t", "t", "rid",
        payloadCols = Seq("rid"))
      .head()
    assert(out.getAs[Long]("asof_rid") == 10L,
      "null-time right row must not be selected (r.t <= l.t is never true for null)")
  }

  test("fused HyperplaneBits matches composed formulation exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
    val both = emb.select(
      Similarity.hyperplaneBucket(col("embedding"), 64, 12, 7919L).as("fast"),
      HofOracles.hyperplaneBucketHof(col("embedding"), 64, 12, 7919L).as("slow"))
    assert(both.collect().forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("resample densifies the grid; forwardFill carries the last value") {
    import graft.ops.Resample
    // key A has events in buckets 0 and 2 (hole at 1); key B only at 1 —
    // the global grid is 0..2 for both keys
    val ev = Seq(
      ("A", 5L, 10.0), ("A", 9L, 20.0), ("A", 25L, 40.0),
      ("B", 12L, 7.0)
    ).toDF("k", "t", "v")
    val dense = Resample.resample(ev, "k", "t", 10L,
      Seq(count(lit(1)).as("n"), sum("v").as("sv")))
    val rows = dense.collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    assert(rows == Set(
      ("A", 0L, Some(2L), Some(30.0)), ("A", 1L, None, None), ("A", 2L, Some(1L), Some(40.0)),
      ("B", 0L, None, None), ("B", 1L, Some(1L), Some(7.0)), ("B", 2L, None, None)),
      s"got $rows")

    val filled = Resample.forwardFill(dense, Seq("k"), "bucket", Seq("sv"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    // A's hole carries 30.0 forward; B's LEADING hole stays null (nothing
    // to carry), its trailing hole carries 7.0
    assert(filled == Set(
      ("A", 0L, Some(30.0)), ("A", 1L, Some(30.0)), ("A", 2L, Some(40.0)),
      ("B", 0L, None), ("B", 1L, Some(7.0)), ("B", 2L, Some(7.0))),
      s"got $filled")

    // partition-invariant
    val again = Resample.resample(ev.repartition(7), "k", "t", 10L,
      Seq(count(lit(1)).as("n"), sum("v").as("sv")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == rows.map(r => (r._1, r._2)))
  }

  test("weightedSample: k per group, weight-proportional, deterministic") {
    import graft.ops.Sampling
    // two groups; in g1 heavy rows (w=100) vastly outweigh light (w=1)
    val rows = (1L to 50L).map(i => (i, "g1", if (i <= 25) 100L else 1L)) ++
      (51L to 60L).map(i => (i, "g2", 10L))
    val df = rows.toDF("id", "g", "w")
    val got = Sampling.weightedSample(df, "id", Seq("g"), "w", k = 10, salt = "s")
    val byG = got.collect().groupBy(_.getString(1))
    assert(byG("g1").length == 10 && byG("g2").length == 10)
    // heavy rows should dominate g1's sample (p(all-light pick) ~ 0)
    val heavy = byG("g1").count(_.getLong(0) <= 25)
    assert(heavy >= 7, s"expected heavy-weight dominance, got $heavy/10")

    // deterministic under repartitioning; zero/null weights excluded
    val again = Sampling.weightedSample(df.repartition(7), "id", Seq("g"), "w", 10, "s")
    assert(again.collect().map(_.getLong(0)).toSet == got.collect().map(_.getLong(0)).toSet)
    val withBad = (rows :+ ((99L, "g2", 0L))).toDF("id", "g", "w")
    assert(!Sampling.weightedSample(withBad, "id", Seq("g"), "w", 10, "s")
      .collect().map(_.getLong(0)).contains(99L))
  }

  test("keep-best dedup: latestByKey over fingerprint keeps the highest quality") {
    import graft.ops.{Snapshot, TextAnalysis}
    // rows 1/2 share canonical content (same quality -> larger id wins);
    // row 3 is its own group
    val df = Seq(
      (1L, "The quick brown fox jumps high"),
      (2L, "the  quick brown fox jumps high"),
      (3L, "Completely different text here")
    ).toDF("doc_id", "text")
      .withColumn("__q", TextAnalysis.qualityScore(col("text")))
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
    val kept = Snapshot.latestByKey(df, Seq("__fp"), col("__q"), "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("newDocs diffs snapshots by canonical content, not id") {
    val prev = Seq((1L, "Hello   World"), (2L, "old doc")).toDF("doc_id", "text")
    val cur = Seq(
      (10L, "hello world"),  // canonical dup of prev 1 (case+whitespace) -> excluded
      (11L, "Brand New"),    // genuinely new -> kept
      (12L, "old doc")       // exact dup -> excluded
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.newDocs(cur, prev, "text")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(11L))
  }

  test("corpusOverlap: identical corpora agree fully, disjoint vocabularies don't") {
    val a = Seq((1L, "alpha beta gamma"), (2L, "beta delta")).toDF("doc_id", "text")
    val same = graft.ops.Dedup.corpusOverlap(a, a.repartition(5), "text").head()
    assert(same.getLong(0) == 16L && same.getDouble(1) == 1.0)

    val b = Seq((9L, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8")).toDF("doc_id", "text")
    val disj = graft.ops.Dedup.corpusOverlap(a, b, "text").head()
    assert(disj.getLong(0) <= 2L, s"disjoint vocab should barely agree: $disj")

    // union property: a corpus equals itself split into two frames
    val split1 = a.filter(col("doc_id") === 1L)
    val split2 = a.filter(col("doc_id") === 2L)
    val sigWhole = graft.ops.Dedup.corpusSignature(a, "text").head().toSeq
    val sigUnion = graft.ops.Dedup.corpusSignature(split1.union(split2), "text").head().toSeq
    assert(sigWhole == sigUnion)
  }

  test("rollingMean: trailing frame, partial leading windows, per-key isolation") {
    import graft.ops.Resample
    val ts = Seq(
      ("A", 0L, 10.0), ("A", 1L, 20.0), ("A", 2L, 30.0), ("A", 3L, 40.0),
      ("B", 0L, 100.0), ("B", 1L, 0.0)
    ).toDF("k", "t", "v")
    val got = Resample.rollingMean(ts, Seq("k"), "t", "v", k = 3, "m")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got == Set(
      ("A", 0L, 10.0), ("A", 1L, 15.0), ("A", 2L, 20.0), ("A", 3L, 30.0),
      ("B", 0L, 100.0), ("B", 1L, 50.0)))
  }

  test("semanticDedup keeps one representative per embedding cluster") {
    val mk = (xs: Seq[Double]) => xs.map(_.toFloat)
    val emb = Seq(
      (0L, mk(Seq(1.0, 0.0, 0.0, 0.0))),
      (1L, mk(Seq(1.0, 0.0, 0.0, 0.0))),   // exact dup of 0
      (2L, mk(Seq(0.99, 0.01, 0.0, 0.0))), // near dup of 0
      (3L, mk(Seq(0.0, 1.0, 0.0, 0.0))),   // orthogonal: its own cluster
      (4L, mk(Seq(0.0, 0.0, 1.0, 0.0)))    // orthogonal: its own cluster
    ).toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding", dim = 4,
        threshold = 0.95, nBits = 4, nTables = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // cluster {0,1,2} keeps its minimum id; singletons survive untouched
    assert(kept == Set(0L, 3L, 4L), s"got $kept")
  }

  test("decontaminate removes corpus docs contained in the benchmark") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and keeps on running"),
      (1L, "an entirely original training document about distributed engines"),
      (2L, "another independent training document mentioning shuffle hygiene")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and keeps on running")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "text", "doc_id", threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"doc 0 leaks the benchmark verbatim, got $kept")
    // the report and the filter agree: removed ids == distinct corpus_ids
    val reported = Dedup.contaminationPairs(corpus, bench, "text", "doc_id",
        threshold = 0.8).select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(reported == Set(0L))
  }

  test("semanticDecontaminate removes embedding-space leaks; zero vectors never match") {
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val z = Seq(0.0f, 0.0f, 0.0f, 0.0f)
    val corpus = Seq((1L, a), (2L, b), (3L, z)).toDF("vec_id", "embedding")
    val bench = Seq((100L, a)).toDF("vec_id", "embedding") // 1 is a paraphrase leak
    val pairs = Dedup.semanticContaminationPairs(corpus, bench, "vec_id",
      "embedding", dim = 4, threshold = 0.9, nBits = 6, nTables = 2)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 100L))) // orthogonal 2 fails the verify; zero-norm 3 is NaN
    val kept = Dedup.semanticDecontaminate(corpus, bench, "vec_id", "embedding",
        dim = 4, threshold = 0.9, nBits = 6, nTables = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("bloomDecontaminate: identical to exact decontaminate; empty bench is a no-op") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and keeps on running"),
      (1L, "an entirely original training document about distributed engines"),
      (2L, "another independent training document mentioning shuffle hygiene"),
      (3L, null.asInstanceOf[String]) // null text: never contaminated, kept
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and keeps on running"),
      (11L, "training document mentioning shuffle hygiene practices at scale")
    ).toDF("doc_id", "text")
    for (threshold <- Seq(0.3, 0.8)) {
      val exact = Dedup.decontaminate(corpus, bench, "text", "doc_id", threshold)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val bloomed = Dedup.bloomDecontaminate(corpus, bench, "text", "doc_id", threshold)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bloomed == exact, s"bloom path diverged at threshold $threshold")
    }
    // no false negatives: the verbatim leak is always removed
    assert(!Dedup.bloomDecontaminate(corpus, bench, "text", "doc_id", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).contains(0L))
    // empty benchmark: null bloom short-circuits, corpus unchanged
    val kept = Dedup.bloomDecontaminate(
        corpus, bench.filter(col("doc_id") < 0), "text", "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L))
  }

  test("qualityWeightedSample: quality-proportional keep rate, null text dropped") {
    import graft.ops.Sampling
    val good = "the shuffle service keeps partial aggregates in memory and " +
      "spills to disk when it is under pressure for a while"
    val bad = "@@@@ #### 1234 5678 !!!! %%%% 9012 &&&& 3456 ****"
    val df = spark.range(0, 4000).toDF("id")
      .withColumn("text",
        when(col("id") < 2000, lit(good))
          .when(col("id") < 3999, lit(bad))
          .otherwise(lit(null).cast("string")))
    val kept = Sampling.qualityWeightedSample(df, "id", "text", salt = "qw1")
    val counts = kept.groupBy(col("id") < 2000).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    // good text scores ~100 -> keeps ~all rows; the symbol soup scores
    // exactly 40 (awl 4 lands in the sweet band, everything else zero)
    // -> keeps ~40%; null text must keep exactly zero
    assert(counts(true) > 1800, s"got $counts")
    val badKept = counts.getOrElse(false, 0L)
    assert(badKept > 600 && badKept < 1000, s"bad-text keep ~0.4, got $counts")
    assert(counts(true).toDouble / 2000.0 > badKept.toDouble / 1999.0)
    assert(kept.filter(col("text").isNull).count() == 0)
    // floor lifts low-quality acceptance; ceil caps high-quality
    val floored = Sampling.qualityWeightedSample(df, "id", "text",
      floor = 0.5, ceil = 0.6, salt = "qw1")
    val fc = floored.groupBy(col("id") < 2000).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(fc(false) > 800, s"floor=0.5 must keep ~half the bad rows, got $fc")
    assert(fc(true) < 1400, s"ceil=0.6 must cap the good rows, got $fc")
    // deterministic + partition-invariant
    val a = kept.select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.qualityWeightedSample(df.repartition(9), "id", "text", salt = "qw1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("line dedup: corpus-frequent lines removed, order/blanks/nulls kept") {
    val menu = "Home | About"
    val lined = Seq(
      (0L, s"$menu\nalpha body\n\nclosing alpha"),
      (1L, s"$menu\nbeta body"),
      (2L, s"$menu\ngamma body"),
      (3L, menu), // nothing but the frequent line -> empty string
      (4L, null.asInstanceOf[String]) // null text stays null
    ).toDF("doc_id", "text")
    val out = Dedup.dropFrequentLines(lined, "text", "doc_id", maxDocFreq = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("dedup_text")).toMap
    // menu appears in 4 docs > 2; bodies are unique; the blank line stays
    assert(out(0L) == "alpha body\n\nclosing alpha")
    assert(out(1L) == "beta body")
    assert(out(3L) == "")
    assert(out(4L) == null)

    // frequency counts documents, not occurrences: a line repeated many
    // times INSIDE one doc is not corpus boilerplate
    val selfRep = Seq(
      (0L, "x\nx\nx\nx\nx"), (1L, "a"), (2L, "b"), (3L, "c")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropFrequentLines(selfRep, "text", "doc_id", maxDocFreq = 2)
      .filter(col("doc_id") === 0).head().getAs[String]("dedup_text")
    assert(kept == "x\nx\nx\nx\nx", "per-doc repeats must not trip the doc-freq cap")

    // exact match only: case variants are different lines
    val cased = Seq(
      (0L, "Menu\none"), (1L, "Menu\ntwo"), (2L, "Menu\nthree"), (3L, "menu\nfour")
    ).toDF("doc_id", "text")
    val c = Dedup.dropFrequentLines(cased, "text", "doc_id", maxDocFreq = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("dedup_text")).toMap
    assert(c(0L) == "one" && c(3L) == "menu\nfour")
  }

  test("quota sample: per-source cap, deterministic, heap matches window") {
    import graft.ops.Sampling
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("src", when(col("id") < 700, "big")
        .when(col("id") < 990, "mid").otherwise(lit("tiny")))
    val capped = Sampling.quotaSample(df, "id", "src", cap = 100, salt = "qs1")
    val counts = capped.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // over-cap sources clamp to the cap; under-cap sources keep all rows
    assert(counts == Map("big" -> 100L, "mid" -> 100L, "tiny" -> 10L), s"got $counts")

    // deterministic + partition-invariant, and identical to the window
    // row_number formulation (the heap aggregate's differential oracle)
    val a = capped.select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.quotaSample(df.repartition(13), "id", "src", cap = 100, salt = "qs1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("__u").asc, col("id").asc)
    val windowed = df.withColumn("__u", Sampling.unitHash(col("id"), "qs1"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 100)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == windowed)

    // a different salt re-rolls the per-source selection
    val c = Sampling.quotaSample(df, "id", "src", cap = 100, salt = "qs2")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a != c)
  }

  test("token budget mix: sqrt-temperature budgets, per-source admission bound") {
    import graft.ops.Sampling
    // big: 900 docs x 10 tokens (9000); small: 100 x 10 (1000)
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("src", when(col("id") < 900, "big").otherwise(lit("small")))
      .withColumn("w", lit(10L))
    val out = Sampling.tokenBudgetMix(df, "id", "src", "w",
      alpha = 0.5, targetTokens = 4000L, salt = "tm1")
    val spent = out.groupBy("src").agg(sum("w").as("tok"), max("token_budget").as("b"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // budgets: z = sqrt(9000) + sqrt(1000); b_big = 4000*sqrt(9000)/z etc.
    val z = math.sqrt(9000.0) + math.sqrt(1000.0)
    assert(spent("big")._2 == 4000.0 * (math.sqrt(9000.0) / z))
    assert(spent("small")._2 == 4000.0 * (math.sqrt(1000.0) / z))
    // alpha = 0.5 narrows the 9:1 corpus to a 3:1 token spend, each
    // source within one doc of its budget
    for ((s, (tok, b)) <- spent) {
      assert(tok >= b.toLong - 9 && tok < b + 10.0, s"$s spent $tok of $b")
    }
    // deterministic under repartition
    val again = Sampling.tokenBudgetMix(df.repartition(13), "id", "src", "w",
      alpha = 0.5, targetTokens = 4000L, salt = "tm1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("mixing ops: int source keys, null-source groups, loud source ceiling") {
    import graft.ops.Sampling
    // INT source column: previously a ClassCastException at the driver
    // collect (getString on an int); the string-cast group key must give
    // the same decisions as pre-casting the column
    val intSrc = spark.range(0, 600).toDF("id")
      .withColumn("src", (col("id") % 3).cast("int"))
      .withColumn("w", lit(5L))
    val viaInt = Sampling.tokenBudgetMix(intSrc, "id", "src", "w",
      alpha = 0.5, targetTokens = 900L, salt = "im1")
      .select("id").collect().map(_.getLong(0)).toSet
    val viaStr = Sampling.tokenBudgetMix(
      intSrc.withColumn("src", col("src").cast("string")), "id", "src", "w",
      alpha = 0.5, targetTokens = 900L, salt = "im1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaInt == viaStr && viaInt.nonEmpty)
    assert(Sampling.temperatureMix(intSrc, "id", "src",
      alpha = 0.5, targetRows = 300L, salt = "im2").count() > 0)
    // a null-source group keeps its budget (null-safe join, not a silent
    // equi-join drop)
    val withNull = spark.range(0, 200).toDF("id")
      .withColumn("src", when(col("id") < 100, "a").otherwise(lit(null).cast("string")))
      .withColumn("w", lit(5L))
    val nullKept = Sampling.tokenBudgetMix(withNull, "id", "src", "w",
      alpha = 0.5, targetTokens = 500L, salt = "im3")
      .filter(col("src").isNull).count()
    assert(nullKept > 0, "null-source group vanished from tokenBudgetMix")
    // per-domain misuse fails loudly instead of collecting the world
    val manySources = spark.range(0, Sampling.MixMaxSources + 1L).toDF("id")
      .withColumn("src", col("id").cast("string"))
      .withColumn("w", lit(1L))
    val e1 = intercept[IllegalArgumentException] {
      Sampling.temperatureMix(manySources, "id", "src", alpha = 0.5, targetRows = 10L)
    }
    assert(e1.getMessage.contains("distinct sources"))
    val e2 = intercept[IllegalArgumentException] {
      Sampling.tokenBudgetMix(manySources, "id", "src", "w",
        alpha = 0.5, targetTokens = 10L)
    }
    assert(e2.getMessage.contains("distinct sources"))
  }

  test("group split: every group lands whole in one split") {
    import graft.ops.Sampling
    val df = spark.range(0, 3000).toDF("id")
      .withColumn("domain", concat(lit("d"), (col("id") % 100).cast("string")))
    val split = Sampling.withGroupSplit(df, "domain",
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "gs1")
    // coherence: one distinct split value per domain
    val perGroup = split.groupBy("domain")
      .agg(countDistinct("split").as("k")).filter(col("k") =!= 1)
    assert(perGroup.count() == 0)
    // all three splits are populated at 100 domains
    assert(split.select("split").distinct().count() == 3)
    // deterministic and identical to hashing the raw key with withSplit
    val direct = Sampling.withSplit(df, "domain",
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "gs1")
    assert(split.exceptAll(direct).count() == 0)
  }

  test("image near-dup: perturbed copy pairs, identical copies group, unrelated excluded") {
    import graft.ops.{Dedup, ImageCodecs, Multimodal}
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(42)
    val base = Array.fill(24 * 16 * 3)(rnd.nextInt(256).toByte)
    // pixel (3, 0) IS sampled by the 8x8 grid (sx = 3·cx at w=24): force
    // its cell bit to flip between base (black) and near (white)
    val pOff = (0 * 24 + 3) * 3
    base(pOff) = 0; base(pOff + 1) = 0; base(pOff + 2) = 0
    val near = base.clone()
    near(pOff) = -1; near(pOff + 1) = -1; near(pOff + 2) = -1 // 0xFF
    val other = Array.fill(24 * 16 * 3)(rnd.nextInt(256).toByte)
    val rows = Seq(
      (1L, ImageCodecs.encodePpm(ImageCodecs.DecodedImage(24, 16, base))),
      (2L, ImageCodecs.encodePpm(ImageCodecs.DecodedImage(24, 16, near))),
      (3L, ImageCodecs.encodePpm(ImageCodecs.DecodedImage(24, 16, other))),
      (4L, "not an image".getBytes("UTF-8")))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 2),
      schema)
    val hashes = Multimodal.imageHashes(df, "doc_id", "payload")
    val h = hashes.collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(h(4L) == ((None, None))) // undecodable -> null halves
    assert(h(1L)._1.isDefined && h(3L)._1.isDefined)
    assert(h(1L) != h(2L), "the sampled-pixel perturbation must change the hash")
    val pairs = Dedup.imageNearDupPairs(hashes, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the perturbed copy pairs with its base at small positive Hamming
    assert(pairs.exists { case (a, b, hd) => a == 1L && b == 2L && hd >= 1 && hd <= 3 },
      s"expected (1,2) pair: $pairs")
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L },
      s"unrelated image matched: $pairs")
    // identical payloads are a GROUP (hamming-0 classes never expand to
    // pairs — the dup-heavy-corpus contract), with the min-id keeper
    val dupHashes = Multimodal.imageHashes(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(10L, rows.head._2),
          org.apache.spark.sql.Row(11L, rows.head._2),
          org.apache.spark.sql.Row(12L, rows(2)._2)), 2), schema),
      "doc_id", "payload")
    assert(Dedup.imageNearDupPairs(dupHashes, "doc_id", maxHamming = 0).collect().isEmpty)
    val groups = Dedup.imageDupGroups(dupHashes, "doc_id")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(groups.toSeq == Seq((10L, 2L)))
  }

  test("image near-dup 256: wide-band pairs, groups, pigeonhole guard") {
    import graft.ops.{Dedup, ImageCodecs, Multimodal}
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(24 * 16 * 3)(rnd.nextInt(256).toByte)
    // dHash at w=24 samples sx = cx*24/17: cx=3 -> sx=4; sy = cy (h=16).
    // Black->white at sampled (4, 0) flips the two adjacent gradient
    // comparisons of row 0 — a 1..7-bit perturbation by construction
    val pOff = (0 * 24 + 4) * 3
    base(pOff) = 0; base(pOff + 1) = 0; base(pOff + 2) = 0
    val near = base.clone()
    near(pOff) = -1; near(pOff + 1) = -1; near(pOff + 2) = -1
    val other = Array.fill(24 * 16 * 3)(rnd.nextInt(256).toByte)
    def ppm(b: Array[Byte]) =
      ImageCodecs.encodePpm(ImageCodecs.DecodedImage(24, 16, b))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    def frame(rows: Seq[(Long, Array[Byte])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 2),
      schema)
    val hashes = Multimodal.imageHashes256(frame(Seq(
      (1L, ppm(base)), (2L, ppm(near)), (3L, ppm(other)),
      (4L, "not an image".getBytes("UTF-8")))), "doc_id", "payload")
    val h = hashes.collect().map(r => r.getLong(0) -> (1 to 8).map(r.get)).toMap
    assert(h(4L).forall(_ == null)) // undecodable -> all-null words
    // words are unsigned 32-bit values in longs (no sign bit anywhere)
    assert(h(1L).forall(w => w.asInstanceOf[Long] >= 0L &&
      w.asInstanceOf[Long] < (1L << 32)))
    assert(h(1L) != h(2L))
    val pairs = Dedup.imageNearDupPairs256(hashes, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists { case (a, b, hd) => a == 1L && b == 2L && hd >= 1 && hd <= 7 },
      s"expected (1,2) pair: ${pairs.toSeq}")
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L },
      s"unrelated image matched: ${pairs.toSeq}")
    // identical payloads: group report, never pairs
    val dup = Multimodal.imageHashes256(frame(Seq(
      (10L, ppm(base)), (11L, ppm(base)), (12L, ppm(other)))), "doc_id", "payload")
    assert(Dedup.imageNearDupPairs256(dup, "doc_id", maxHamming = 0, nBands = 8)
      .collect().isEmpty)
    assert(Dedup.imageDupGroups256(dup, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 2L)))
    // pigeonhole guard: recall past nBands-1 must fail loudly
    intercept[IllegalArgumentException] {
      Dedup.imageNearDupPairs256(hashes, "doc_id", maxHamming = 8, nBands = 8)
    }
    // 16-band variant agrees with the 8-band one at radius <= 7 (both
    // exact by pigeonhole there)
    val p16 = Dedup.imageNearDupPairs256(hashes, "doc_id", maxHamming = 7, nBands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(p16 == pairs.toSet)
  }

  test("withEpochRepeats: full copies exact, fractional copy hash-gated") {
    import graft.ops.Sampling
    val docs = spark.range(0, 400).toDF("id")
      .withColumn("src", when(col("id") < 200, "hot").otherwise(lit("cold")))
    val out = Sampling.withEpochRepeats(docs, "id", "src",
      Map("hot" -> 2.5), salt = "er1")
    val perRow = out.groupBy("id", "src").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // cold rows appear exactly once; hot rows 2 or 3 times
    assert(perRow.filter(_._2 == "cold").forall(_._3 == 1L))
    assert(perRow.filter(_._2 == "hot").forall(n => n._3 == 2L || n._3 == 3L))
    // the fractional third copy lands near its 0.5 rate
    val third = perRow.count(r => r._2 == "hot" && r._3 == 3L)
    assert(third > 60 && third < 140, s"fractional copy rate off: $third/200")
    // deterministic under repartitioning
    val again = Sampling.withEpochRepeats(docs.repartition(7), "id", "src",
      Map("hot" -> 2.5), salt = "er1")
      .select("id", "epoch_copy").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == out.select("id", "epoch_copy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // sub-1 factors downsample; epoch_copy stays 0
    val down = Sampling.withEpochRepeats(docs, "id", "src",
      Map("hot" -> 0.25), salt = "er1")
    val hotKept = down.filter(col("src") === "hot").count()
    assert(hotKept > 20 && hotKept < 80, s"downsample rate off: $hotKept/200")
    assert(down.select(max("epoch_copy")).head().getLong(0) == 0L)
  }

  test("materializeChunks: exact stream order, budget-full chunks, short tails") {
    import graft.ops.Packing
    // one shard, three docs in a pinned order: tokens a1..a5 | b1..b4 | c1..c3
    val docs = Seq(
      (1L, 1L, Seq("a1", "a2", "a3", "a4", "a5")),
      (2L, 2L, Seq("b1", "b2", "b3", "b4")),
      (3L, 3L, Seq("c1", "c2", "c3")))
      .toDF("doc_id", "pos", "toks")
      .withColumn("shard", lit(0))
      .withColumn("n", size(col("toks")))
    val packed = Packing.sequencePacking(docs, "doc_id", "n", "shard",
      budget = 4L, orderCol = "pos")
    val chunks = Packing.materializeChunks(packed, "toks", "shard", budget = 4L)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getSeq[String](3)))
    // stream = a1..a5 b1..b4 c1..c3 cut at 4: the straddles land exactly
    assert(chunks.toSeq == Seq(
      (0L, 4L, Seq("a1", "a2", "a3", "a4")),
      (1L, 4L, Seq("a5", "b1", "b2", "b3")),
      (2L, 4L, Seq("b4", "c1", "c2", "c3"))))
    // partition-invariance: the order comes from positions, not arrival
    val again = Packing.materializeChunks(
      Packing.sequencePacking(docs.repartition(5), "doc_id", "n", "shard",
        budget = 4L, orderCol = "pos"),
      "toks", "shard", budget = 4L)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getSeq[String](3)))
    assert(again.toSeq == chunks.toSeq)
  }

  test("chunkProvenance: spans tile each chunk exactly, zero-token docs absent") {
    import graft.ops.Packing
    val docs = Seq(
      (1L, 1L, 5), (2L, 2L, 4), (3L, 3L, 0), (4L, 4L, 3)) // 0-token doc 3
      .toDF("doc_id", "pos", "n")
      .withColumn("shard", lit(0))
    val packed = Packing.sequencePacking(docs, "doc_id", "n", "shard",
      budget = 4L, orderCol = "pos")
    val prov = Packing.chunkProvenance(packed, "doc_id", "n", "shard", budget = 4L)
      .orderBy("chunk_id", "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // stream: doc1[0,5) doc2[5,9) doc4[9,12); chunks of 4
    assert(prov.toSeq == Seq(
      (0L, 1L, 0L, 4L),            // chunk 0: doc1 tokens 0..3
      (1L, 1L, 0L, 1L),            // chunk 1: doc1's 5th token
      (1L, 2L, 1L, 3L),            //          doc2's first 3
      (2L, 2L, 0L, 1L),            // chunk 2: doc2's last
      (2L, 4L, 1L, 3L)))           //          doc4 whole
    // every chunk's spans tile it: sums equal the chunk's token count
    val perChunk = prov.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(perChunk == Map(0L -> 4L, 1L -> 4L, 2L -> 4L))
    assert(!prov.exists(_._2 == 3L))
  }

  test("recallAtK: identity = 1, misses = 0, short exact lists score fairly") {
    import graft.ops.Similarity
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2)) // query 2 has only 2 true neighbors
      .toDF("query_id", "vec_id", "nn_rank")
    // approx: query 1 gets 2 of 3 right (one wrong id); query 2 missing
    val approx = Seq(
      (1L, 10L, 1), (1L, 99L, 2), (1L, 12L, 3))
      .toDF("query_id", "vec_id", "nn_rank")
    val got = Similarity.recallAtK(approx, exact, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((2L, 0.666667)))
    assert(got(2L) == ((0L, 0.0))) // approx missed the query entirely
    // identity: approx == exact -> recall 1 everywhere, denominator = the
    // exact list size (2 for query 2, not k)
    val ident = Similarity.recallAtK(exact, exact, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ident == Map(1L -> 1.0, 2L -> 1.0))
    // ranks beyond k are ignored on both sides
    val deep = Similarity.recallAtK(approx, exact, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deep == Map(1L -> 1L, 2L -> 0L))
  }

  test("truncatedRecallReport: prefix-heavy vectors keep recall, full width pins 1.0") {
    import graft.ops.Similarity
    // vectors whose FIRST two dims carry the neighborhood structure and
    // whose tail is noise that flips the ranking when included at low d
    // the pairs (1,2) and (3,4) are prefix-neighbors
    def v(a: Double, b: Double, tail: Double*) = Seq(a, b) ++ tail
    val vecs = Seq(
      (1L, v(1.0, 0.0, 0.3, -0.2)),
      (2L, v(0.9, 0.1, -0.4, 0.1)),
      (3L, v(0.0, 1.0, 0.2, 0.5)),
      (4L, v(0.1, 0.9, -0.1, -0.5))
    ).toDF("vec_id", "embedding")
    val rep = Similarity.truncatedRecallReport(vecs, vecs, k = 1,
      dims = Seq(2, 4))
      .collect().map(r => r.getInt(0) ->
        ((r.getAs[Long]("n_queries"), r.getAs[Double]("mean_recall_r")))).toMap
    // full width against itself is the ground truth: recall exactly 1.0
    assert(rep(4) == ((4L, 1.0)))
    // at d = 2 the noise tail is gone — prefix neighbors need not agree
    // with the full ranking, but the report shape holds and every query
    // scores in [0, 1]
    assert(rep(2)._1 == 4L && rep(2)._2 >= 0.0 && rep(2)._2 <= 1.0)
    // degenerate: a vector whose PREFIX is all-zero drops from the
    // truncated ranking (NaN cosine) without poisoning the report
    val withZero = vecs.unionByName(
      Seq((9L, Seq(0.0, 0.0, 1.0, 1.0))).toDF("vec_id", "embedding"))
    val rep2 = Similarity.truncatedRecallReport(withZero, withZero, k = 1,
      dims = Seq(2, 4)).collect()
    assert(rep2.forall(r => !r.getAs[Double]("mean_recall_r").isNaN))
    // partition invariance
    val a = Similarity.truncatedRecallReport(vecs, vecs, 1, Seq(2, 4))
      .collect().map(_.toSeq).toSet
    val b = Similarity.truncatedRecallReport(vecs.repartition(5),
      vecs.repartition(3), 1, Seq(2, 4)).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("nearDupAudit: exact Jaccard rides each reported pair, bounded sliver") {
    import graft.ops.Dedup
    val base = "the quick brown fox jumps over the lazy dog and keeps running fast"
    val docs = Seq(
      (1L, base),
      (2L, base + " today"), // near-dup of 1: high exact jaccard
      (3L, "an entirely different subject concerning query planners and joins"))
      .toDF("doc_id", "text")
    val audit = Dedup.nearDupAudit(docs, "text", "doc_id", threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(audit.contains((1L, 2L)), s"planted pair missing: ${audit.keySet}")
    val (est, exact, err) = audit((1L, 2L))
    assert(exact > 0.7, s"exact jaccard too low: $exact")
    assert(math.abs(est - exact) - err < 1e-6)
    assert(!audit.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // exact shingle sets are computed on the PAIR-MEMBER sliver only: the
    // corpus reaches the set projection through a semi-join
    val plan = Dedup.nearDupAudit(docs, "text", "doc_id", threshold = 0.3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected semi-join sliver:\n$plan")
  }

  test("crossSourceDupMatrix: mirror pairs counted once per class") {
    import graft.ops.Reports
    val docs = Seq(
      (1L, "web", "shared article text"),
      (2L, "feed", "SHARED   article text"),  // canonical dup of 1
      (3L, "feed", "shared article text"),    // another copy, same class
      (4L, "blog", "shared article text"),    // third source, same class
      (5L, "web", "unique web story"),
      (6L, "feed", "unique feed story"))
      .toDF("doc_id", "source", "text")
    val m = Reports.crossSourceDupMatrix(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // one shared class across three sources -> three unordered pairs,
    // each counted ONCE despite feed having two member docs
    assert(m == Map(
      ("blog", "feed") -> 1L, ("blog", "web") -> 1L, ("feed", "web") -> 1L))
  }

  test("corpusDatasheet: exact volumes, dup burden, majority lang, determinism") {
    import graft.ops.Reports
    val docs = Seq(
      (1L, "web", "the cat and the dog"),        // en, 5 tokens
      (2L, "web", "THE  cat and the   dog"),     // canonical dup of 1
      (3L, "web", "el gato y la casa de"),       // es
      (4L, "books", "von der die und das im")    // de
    ).toDF("doc_id", "source", "text")
    val card = Reports.corpusDatasheet(docs)
      .collect().map(r => r.getString(0) -> r).toMap
    val web = card("web")
    assert(web.getAs[Long]("n_docs") == 3L)
    assert(web.getAs[Long]("n_tokens") == 5L + 5L + 6L)
    assert(web.getAs[Long]("n_exact_classes") == 2L) // 1 & 2 collapse
    assert(math.abs(web.getAs[Double]("dup_rate_r") - (1.0 - 2.0 / 3.0)) < 1e-6)
    assert(web.getAs[String]("top_lang") == "en") // en:2 vs es:1
    assert(card("books").getAs[String]("top_lang") == "de")
    assert(card("books").getAs[Double]("dup_rate_r") == 0.0)
    // bit-deterministic under repartitioning (the fold contract)
    val a = Reports.corpusDatasheet(docs).collect().toSet
    val b = Reports.corpusDatasheet(docs.repartition(7)).collect().toSet
    assert(a == b)
  }

  test("audio fingerprint dedup: perturbed clip pairs, identical group, junk null") {
    import graft.ops.{AudioCodecs, Dedup, Multimodal}
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(5)
    val base = Array.fill(2048)((rnd.nextInt(4096) - 2048).toShort)
    // re-level one window's worth of samples: flips the adjacent
    // energy-gradient bits, a 1..3-bit perturbation
    val near = base.clone()
    for (i <- 96 until 128) near(i) = (near(i) / 4).toShort
    val other = Array.fill(2048)((rnd.nextInt(4096) - 2048).toShort)
    def wav(s: Array[Short]) = AudioCodecs.encodeWavPcm16(16000, 1, s)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    def frame(rows: Seq[(Long, Array[Byte])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 2),
      schema)
    val fps = Multimodal.audioFingerprints(frame(Seq(
      (1L, wav(base)), (2L, wav(near)), (3L, wav(other)),
      (4L, "junk".getBytes("UTF-8")))), "doc_id", "payload")
    val m = fps.collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(m(4L) == ((None, None)))
    assert(m(1L)._1.isDefined && m(1L) != m(2L))
    val pairs = Dedup.audioNearDupPairs(fps, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h >= 1 && h <= 3 },
      s"expected (1,2) pair: ${pairs.toSeq}")
    assert(!pairs.exists { case (a, b, _) => a == 3L || b == 3L })
    // identical clips: a GROUP, never pairs
    val dup = Multimodal.audioFingerprints(frame(Seq(
      (10L, wav(base)), (11L, wav(base)), (12L, wav(other)))), "doc_id", "payload")
    assert(Dedup.audioNearDupPairs(dup, "doc_id", maxHamming = 0).collect().isEmpty)
    val groups = Dedup.audioDupGroups(dup, "doc_id")
      .select("keep_id", "n_members")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(groups.toSeq == Seq((10L, 2L)))
  }

  test("incremental image ingest 256: exact + near hit cross-side, fresh admits") {
    import graft.ops.{Dedup, ImageCodecs, Multimodal}
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(23)
    def ppm(bytes: Array[Byte]) =
      ImageCodecs.encodePpm(ImageCodecs.DecodedImage(24, 16, bytes))
    val base = Array.fill(24 * 16 * 3)(rnd.nextInt(256).toByte)
    val pOff = (0 * 24 + 4) * 3 // dHash-sampled pixel (4, 0) — cx=3
    base(pOff) = 0; base(pOff + 1) = 0; base(pOff + 2) = 0
    val near = base.clone()
    near(pOff) = -1; near(pOff + 1) = -1; near(pOff + 2) = -1
    val fresh = Array.fill(24 * 16 * 3)(rnd.nextInt(256).toByte)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    def frame(rows: Seq[(Long, Array[Byte])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 2),
      schema)
    val idxH = Multimodal.imageHashes256(frame(Seq((1L, ppm(base)))), "doc_id", "payload")
    val batH = Multimodal.imageHashes256(frame(Seq(
      (10L, ppm(base)),   // exact copy -> hamming 0 hit
      (11L, ppm(near)),   // perturbed -> near hit in 1..7
      (12L, ppm(fresh)),  // unrelated -> admits
      (13L, "junk".getBytes("UTF-8")))), "doc_id", "payload") // undecodable
    val hits = Dedup.incrementalImageDups256(idxH, batH, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(hits.exists { case (n, i, h) => n == 10L && i == 1L && h == 0 })
    assert(hits.exists { case (n, i, h) => n == 11L && i == 1L && h >= 1 && h <= 7 },
      s"perturbed copy missed: ${hits.toSeq}")
    assert(!hits.exists(_._1 == 12L))
    // the index NEVER pairs with itself: no index-index rows possible by
    // construction (cross-side bands only) — and admissions are exactly
    // the fresh image (undecodable excluded)
    val admitted = Dedup.incrementalImageDedup256(idxH, batH, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(12L), s"admissions wrong: $admitted")
  }

  test("incremental image ingest: exact + near classes hit, fresh admits") {
    import graft.ops.{Dedup, ImageCodecs, Multimodal}
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    def ppm(bytes: Array[Byte]) =
      ImageCodecs.encodePpm(ImageCodecs.DecodedImage(24, 16, bytes))
    val base = Array.fill(24 * 16 * 3)(rnd.nextInt(256).toByte)
    val pOff = (0 * 24 + 3) * 3 // sampled pixel (3, 0)
    base(pOff) = 0; base(pOff + 1) = 0; base(pOff + 2) = 0
    val near = base.clone()
    near(pOff) = -1; near(pOff + 1) = -1; near(pOff + 2) = -1
    val fresh = Array.fill(24 * 16 * 3)(rnd.nextInt(256).toByte)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    def frame(rows: Seq[(Long, Array[Byte])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 2),
      schema)
    val idxH = Multimodal.imageHashes(frame(Seq((1L, ppm(base)))), "doc_id", "payload")
    val batH = Multimodal.imageHashes(frame(Seq(
      (10L, ppm(base)),   // exact copy of the index image
      (11L, ppm(near)),   // perturbed copy (near)
      (12L, ppm(fresh))   // unrelated
    )), "doc_id", "payload")
    val hits = Dedup.incrementalImageDups(idxH, batH, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(hits.exists { case (n, i, hd) => n == 10L && i == 1L && hd == 0 })
    assert(hits.exists { case (n, i, hd) => n == 11L && i == 1L && hd >= 1 && hd <= 3 })
    assert(!hits.exists(_._1 == 12L), s"fresh image matched: $hits")
    val admitted = Dedup.incrementalImageDedup(idxH, batH, "doc_id", maxHamming = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(12L))
  }

  test("incremental near-dup: cross-side pairs only, admission drops hits") {
    import graft.ops.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    val index = Seq(
      (1L, base),
      (2L, base),                      // exact dup INSIDE the index: must not pair
      (3L, "completely different content about spark aggregation plans and shuffles")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " tonight"),        // near-dups the index
      (11L, "fresh unrelated news article covering distributed tokenizer training")
    ).toDF("doc_id", "text")
    val pairs = Dedup.incrementalNearDupPairs(index, batch, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 10 matches both copies in the index; 11 matches nothing; the
    // index's own 1<->2 duplicate never appears
    assert(pairs.map(_._1).toSet == Set(10L))
    assert(pairs.map(_._2).toSet == Set(1L, 2L))
    assert(pairs.forall(_._3 >= 0.5))
    val admitted = Dedup.incrementalDedup(index, batch, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(11L))
  }

  test("token budget sample: prefix-closed admission, one-doc overshoot max") {
    import graft.ops.Sampling
    val df = spark.range(0, 400).toDF("id")
      .withColumn("src", when(col("id") < 300, "big").otherwise(lit("small")))
      .withColumn("w", lit(10L))
    val out = Sampling.tokenBudgetSample(df, "id", "src", "w", budget = 250L, salt = "tb1")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3), r.getInt(4)))
    val bySrc = out.groupBy(_._1)
    // 250-token budget over 10-token docs: exactly 25 admitted per source
    assert(bySrc("big").length == 25 && bySrc("small").length == 25)
    // admission is the exact hash-order prefix: ranks are 1..25 and the
    // exclusive running totals are 0,10,...,240
    for (src <- Seq("big", "small")) {
      val ranks = bySrc(src).map(_._4).sorted
      assert(ranks.toSeq == (1 to 25))
      assert(bySrc(src).map(_._3).sorted.toSeq == (0 until 25).map(_ * 10L))
    }
    // deterministic under repartitioning
    val again = Sampling.tokenBudgetSample(
      df.repartition(11), "id", "src", "w", budget = 250L, salt = "tb1")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3), r.getInt(4))).toSet
    assert(again == out.toSet)
    // overshoot is bounded by one document: a 999-budget admits the doc
    // that CROSSES the boundary but nothing after it
    val over = Sampling.tokenBudgetSample(df, "id", "src", "w", budget = 999L, salt = "tb1")
    val perSrc = over.groupBy("src").agg(sum("w").as("tot")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSrc.values.forall(t => t >= 999L && t < 999L + 10L))
    // negative/null weights are excluded, never admitted
    val dirty = df.withColumn("w",
      when(col("id") % 7 === 0, lit(-1L)).when(col("id") % 11 === 0, lit(null)).otherwise(lit(10L)))
    val cleaned = Sampling.tokenBudgetSample(dirty, "id", "src", "w", budget = 100000L, salt = "tb1")
    assert(cleaned.filter(col("w") < 0 || col("w").isNull).count() == 0)
  }

  test("shuffle order: a deterministic permutation, contiguous per shard") {
    import graft.ops.Sampling
    val df = spark.range(0, 2000).toDF("id")
    val o = Sampling.withShuffleOrder(df, "id", numShards = 8, salt = "sh1")
    val rows = o.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("shard"), r.getAs[Long]("shuffle_pos")))
    assert(rows.length == 2000)
    // every row lands in [0, 8) and positions are 1..n contiguous per shard
    assert(rows.forall { case (_, s, _) => s >= 0 && s < 8 })
    rows.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // partition-invariant: the permutation is a pure function of ids
    val b = Sampling.withShuffleOrder(df.repartition(17), "id", numShards = 8, salt = "sh1")
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("shard"), r.getAs[Long]("shuffle_pos")))
      .toSet
    assert(rows.toSet == b)
    // the order is shuffled, not id order: within some shard, consecutive
    // positions are non-monotonic in id
    val anyShard = rows.filter(_._2 == rows.head._2).sortBy(_._3).map(_._1)
    assert(anyShard.zip(anyShard.tail).exists { case (x, y) => x > y })
  }

  test("curriculum order: quantile bands, within-band shuffle, nulls unassigned") {
    import graft.ops.Sampling
    import spark.implicits._
    // scores 0..999 -> quartile cuts 249.75/499.5/749.25; one null score
    val df = (0L until 1000L).map(i => (i, i.toDouble)) :+ (9999L, Double.NaN)
    val o = Sampling.curriculumOrder(
      df.toDF("id", "sc"), "id", "sc", nStages = 4, numShards = 4, salt = "c1")
    val rows = o.collect().map(r => (r.getAs[Long]("id"),
      Option(r.getAs[Integer]("stage")).map(_.toInt),
      Option(r.getAs[java.lang.Long]("curriculum_pos")).map(_.toLong)))
    // the NaN row is unassigned, loud
    assert(rows.find(_._1 == 9999L).get._2.isEmpty)
    assert(rows.find(_._1 == 9999L).get._3.isEmpty)
    // bands are monotone in score: stage = quartile of the id itself
    rows.filter(_._1 < 1000L).foreach { case (id, st, _) =>
      val expect = 1 + (if (id > 249) 1 else 0) + (if (id > 499) 1 else 0) + (if (id > 749) 1 else 0)
      assert(st.contains(expect), s"id $id stage $st != $expect")
    }
    // positions contiguous per (stage, shard)
    o.filter(col("stage").isNotNull)
      .groupBy("stage", "shard").agg(count(lit(1)).as("n"), max("curriculum_pos").as("m"))
      .collect().foreach(r =>
        assert(r.getAs[Long]("n") == r.getAs[Long]("m")))
    // pure function of ids + scores: identical under repartition
    val b = Sampling.curriculumOrder(
      df.toDF("id", "sc").repartition(13), "id", "sc",
      nStages = 4, numShards = 4, salt = "c1")
      .collect().map(r => (r.getAs[Long]("id"),
        Option(r.getAs[Integer]("stage")).map(_.toInt),
        Option(r.getAs[java.lang.Long]("curriculum_pos")).map(_.toLong))).toSet
    assert(rows.toSet == b)
  }
}
