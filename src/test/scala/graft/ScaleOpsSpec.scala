package graft

import org.apache.spark.sql.functions._

import graft.ops.{Salting, Similarity}

/** Specs for the scale-path operators: IVF ANN and skew salting. */
class ScaleOpsSpec extends SparkSpec {

  import spark.implicits._

  test("IVF top-k: valid ranked output with good recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)

    val exact = HofOracles.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 10, nLists = 16, nProbe = 8)
      .collect()

    // shape: per query at most k, ranks 1..k, cosine non-increasing
    val byQuery = ivf.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 5)
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("nn_rank"))
      assert(sorted.length <= 10)
      val cosines = sorted.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }

    // recall@10 against exact search: probing half the cells must recover
    // a solid fraction of true neighbors on random data
    val approx = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@10 too low: $recall")

    // determinism: same seed -> same result
    val again = Similarity.ivfTopK(emb, queries, k = 10, nLists = 16, nProbe = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert(again == approx)
  }

  test("salted aggregation equals plain aggregation") {
    // skewed: key 'hot' holds 90% of rows
    val rows = (1 to 900).map(i => ("hot", i.toDouble)) ++
      (1 to 100).map(i => (s"k${i % 7}", i.toDouble))
    val df = rows.toDF("k", "v")

    val salted = Salting.saltedAggregate(df, Seq("k"), col("v"), buckets = 8,
      Map("cnt" -> (count(lit(1)), sum(col("cnt"))),
        "total" -> (sum(col("v")), sum(col("total"))),
        "mx" -> (max(col("v")), max(col("mx")))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap

    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("total"), max("v").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap

    assert(salted.keySet == plain.keySet)
    plain.foreach { case (k, (c, t, m)) =>
      val (sc, st, sm) = salted(k)
      assert(sc == c)
      assertNear(st, t, 1e-6)
      assert(sm == m)
    }
  }

  test("salted join equals plain join") {
    val left = ((1 to 500).map(i => ("hot", i)) ++ Seq(("a", 1), ("b", 2), ("miss", 9)))
      .toDF("k", "lv")
    val right = Seq(("hot", 100), ("a", 200), ("b", 300), ("c", 400)).toDF("k", "rv")

    val plain = left.join(right, Seq("k")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val salted = Salting.saltedJoin(left, right, Seq("k"), buckets = 4).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(salted == plain)
    assert(plain.count(_._1 == "hot") == 500)

    // left join preserves unmatched rows exactly once
    val lj = Salting.saltedJoin(left, right, Seq("k"), buckets = 4, joinType = "left")
    assert(lj.filter(col("k") === "miss").count() == 1)
  }

  test("range-partitioned rank equals distinct-score rank (incl. ties, nulls)") {
    val rnd = new scala.util.Random(7)
    // continuous scores with planted ties and a few nulls
    val data = (0 until 500).map { i =>
      val v: java.lang.Double =
        if (i % 97 == 0) null
        else if (i % 11 == 0) 42.5
        else rnd.nextDouble() * 100.0
      (i.toLong, v)
    }
    val df = data.toDF("id", "score")

    val viaAgg = Ranks.withCompetitionRank(df, "score", "rank_a")
      .select("id", "rank_a").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val viaRange = Ranks.rangePartitionedRank(df, "score", "rank_b", numPartitions = 7)
      .select("id", "rank_b").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    // the windowless distinct-score strategy: the same kernel, each score
    // weighted by its row count, over 7 range partitions
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val viaScalable = try {
      Ranks.withCompetitionRank(df, "score", "rank_c", scalable = true)
        .select("id", "rank_c").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)

    assert(viaRange == viaAgg)
    assert(viaScalable == viaAgg)
    // ties share one rank
    val tieRanks = data.filter(d => d._2 != null && d._2 == 42.5)
      .map(d => viaRange(d._1)).toSet
    assert(tieRanks.size == 1)

    // signed zeros are one tie group in every strategy: Spark groups and
    // sorts 0.0 and -0.0 as equal, so they interleave inside a partition
    val zeros = Seq((1L, 0.0), (2L, -0.0), (3L, 0.0), (4L, -0.0), (5L, 1.0)).toDF("id", "score")
    Seq(Ranks.withCompetitionRank(zeros, "score", "rk"),
        Ranks.withCompetitionRank(zeros, "score", "rk", scalable = true),
        Ranks.rangePartitionedRank(zeros, "score", "rk", numPartitions = 3)).foreach { r =>
      assert(r.filter(col("id") < 5).select("rk").distinct().collect().map(_.getLong(0)).toSeq
        == Seq(2L))
    }
  }
}
