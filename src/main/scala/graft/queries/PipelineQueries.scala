package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Joins, Multimodal, Similarity, TextAnalysis}
import RegistryMemo.{memo, memoDir}

/** Training-data-pipeline and classical-relational queries over the shared
  * testdata: dedup, similarity search, text analysis, multimodal plumbing,
  * event-stream batch analytics. Oracle SQL mirrors arithmetic op-for-op
  * where DuckDB can express it; hash-sensitive ops (xxhash64-based minhash/
  * simhash/LSH) ship without oracles (rows-only driver check).
  */
object PipelineQueries extends OracleSqlStatic {

  private[queries] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.io.Tables.table(spark, dir, name)

  /** round() with IEEE -0.0 normalized to +0.0 (`+ 0.0` is the identity on
    * every other double). The driver's oracle compare hashes raw values, so
    * a rounded sum that collapses to zero must land on the same zero SIGN in
    * Spark and DuckDB — they don't always (observed: dequant_sum_r at
    * sf0.01 row 163, Spark 0.0 vs DuckDB -0.0). Oracle SQL mirrors `+ 0.0`.
    */
  private[queries] def roundz(c: Column, scale: Int): Column = round(c, scale) + lit(0.0)

  private[queries] type Centroids = Seq[(Int, Seq[Double], Double)]

  /** The IVF quantizer (q54 and the IVF serving chain). The q54 oracle can
    * only be written after training, because the centroids depend on the
    * data, so [[ivfOracleSql]] reads `current("ivf")`. The key carries
    * `nLists`: a dir-only key would hand a 16-list quantizer to a caller
    * asking for another list count. */
  private[queries] def ivfCentroids(emb: DataFrame, dir: String, nLists: Int): Centroids =
    memo("ivf", (dir, nLists))(Similarity.trainIvfCentroids(emb, "embedding", nLists))

  /** Persisted IVF index (q191): every serving query reads the same
    * on-disk index, the build-once/query-forever contract under test. */
  private[queries] def ivfServe(emb: DataFrame, cents: Centroids, dir: String): String =
    memoDir("ivf-serve", dir)(Similarity.saveIvfIndex(emb, cents, _))

  /** Persisted BM25 index (q248), the lexical twin of [[ivfServe]]. */
  private[queries] def bm25Serve(docs: DataFrame, dir: String): String =
    memoDir("bm25-serve", dir)(
      graft.ops.Retrieval.saveBm25Index(docs, "doc_id", "text", _, numBuckets = 32))

  /** Doc-grain forward sidecar of [[bm25Serve]]'s corpus (q289). */
  private[queries] def bm25Forward(docs: DataFrame, dir: String): String =
    memoDir("bm25-fwd", dir)(
      graft.ops.Retrieval.saveBm25Forward(docs, "doc_id", "text", _, numBuckets = 32))

  /** Chunk-grain BM25 index over the q269 chunk frame (q274). */
  private[queries] def bm25ChunkServe(chunks: DataFrame, dir: String): String =
    memoDir("bm25-chunk", dir)(
      graft.ops.Retrieval.saveBm25Index(chunks, "cid", "chunk", _, numBuckets = 32))

  /** Chunk-grain forward sidecar at the fused location inside the
    * [[bm25ChunkServe]] index `idxPath` (q292); that index is built first,
    * so the sidecar slots into the fused layout without a rebuild. */
  private[queries] def bm25ChunkForward(chunks: DataFrame, idxPath: String, dir: String): String =
    memo("bm25-chunk-fwd", dir) {
      val p = graft.ops.Retrieval.bm25ForwardPathFor(idxPath)
      graft.ops.Retrieval.saveBm25Forward(chunks, "cid", "chunk", p, numBuckets = 32)
      p
    }

  /** Width of the matryoshka slice (q293). */
  private[queries] val MatryoshkaDim = 16

  /** The IVF quantizer over the sliced vectors (q293); late-bound into
    * [[matryoshkaOracleSql]] like [[ivfCentroids]]. */
  private[queries] def matryoshkaCentroids(sliced: DataFrame, dir: String): Centroids =
    memo("mat-centroids", dir)(Similarity.trainIvfCentroids(sliced, "embedding", 16))

  /** Persisted IVF index over the sliced vectors (q293). */
  private[queries] def matryoshkaServe(sliced: DataFrame, cents: Centroids, dir: String): String =
    memoDir("mat-ivf", dir)(Similarity.saveIvfIndex(sliced, cents, _))

  /** Shard export of two thirds of the corpus with the last third appended
    * (q277); the served manifest must equal a write-once export. */
  private[queries] def shardAppend(docs: DataFrame, dir: String): String =
    memoDir("shard-app", dir) { p =>
      graft.io.Layout.writeShardsWithManifest(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        "doc_id", p, numShards = 8, salt = "m15")
      graft.io.Layout.appendShardsWithManifest(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), p)
    }

  /** Shard export with every `doc_id % 7 == 3` row removed (q281). */
  private[queries] def shardTakedown(docs: DataFrame, dir: String): String =
    memoDir("shard-rm", dir) { p =>
      graft.io.Layout.writeShardsWithManifest(
        docs, "doc_id", p, numShards = 8, salt = "m16")
      graft.io.Layout.removeFromShardExport(
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"), p)
    }

  /** BM25 index with every `doc_id % 7 == 3` document removed (q256). Kept
    * apart from [[bm25Serve]]: a takedown mutates its index, and q248's
    * must stay pristine. */
  private[queries] def bm25Takedown(docs: DataFrame, dir: String): String =
    memoDir("bm25-rm", dir) { p =>
      graft.ops.Retrieval.saveBm25Index(docs, "doc_id", "text", p, numBuckets = 32)
      graft.ops.Retrieval.removeFromBm25Index(
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"), p)
    }

  /** Positional BM25 index (q309). Kept apart from [[bm25Serve]]: the
    * layouts differ (tf-only vs positional), and q248's must stay
    * pristine. */
  private[queries] def bm25Positional(docs: DataFrame, dir: String): String =
    memoDir("bm25-pos", dir)(graft.ops.Retrieval.saveBm25Index(docs, "doc_id", "text", _,
      numBuckets = 32, withPositions = true))

  /** Chunk-grain BM25 index with every `doc_id % 7 == 3` document
    * forgotten by doc id (q299). */
  private[queries] def chunkTakedown(docs: DataFrame, dir: String): String =
    memoDir("chunk-rm", dir) { p =>
      val chunks = graft.ops.Retrieval.chunkText(
          docs, "doc_id", "text", chunkSize = 200, overlap = 50)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
      graft.ops.Retrieval.saveBm25Index(chunks, "cid", "chunk", p, numBuckets = 32)
      graft.ops.Retrieval.removeDocsFromChunkIndex(
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"), p)
    }

  /** IVF index with every `vec_id % 5 == 2` vector removed (q257). */
  private[queries] def ivfTakedown(emb: DataFrame, cents: Centroids, dir: String): String =
    memoDir("ivf-rm", dir) { p =>
      Similarity.saveIvfIndex(emb, cents, p)
      Similarity.removeFromIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) === 2).select("vec_id"), p)
    }

  /** Trained unigram-LM vocabulary (q249/q250 and the tokenizer artifact). */
  private[queries] def unigramVocab(docs: DataFrame, dir: String): Seq[graft.ops.UnigramTrain.Piece] =
    memo("unigram", dir)(graft.ops.UnigramTrain.train(docs, "text",
      maxPieceLen = 4, vocabSize = 64, iters = 2, maxWordLen = 12))

  /** The [[unigramVocab]] vocabulary frozen to disk (q262). */
  private[queries] def tokenizerServe(docs: DataFrame, dir: String): String =
    memoDir("tokenizer", dir)(graft.ops.UnigramTrain.saveTokenizer(
      docs.sparkSession, unigramVocab(docs, dir), _, maxPieceLen = 4))

  /** Reference (src0) drift histogram written once (q273), so each drift
    * check recounts only the current side. */
  private[queries] def driftRef(docs: DataFrame, dir: String): String =
    memoDir("drift-ref", dir) { p =>
      docs.filter(col("source") === "src0" && col("n_chars").isNotNull)
        .groupBy(expr("n_chars div 100").as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(p)
    }

  /** Weights of the q165 portable trainer, so the held-out-eval query
    * (q178) measures evaluation cost, not a second training run. */
  private[queries] def clfTrained(docs: DataFrame, dir: String): Seq[Double] =
    memo("clf", dir)(graft.ops.Classifier.trainPortable(
      docs, "text", "y", "doc_id", dim = 64, iters = 4, lr = 0.5))

  /** Merge rounds the BPE queries train/replay (q133/q134/q135 share one
    * training run per sf dir; the oracle re-trains in DuckDB). */
  private[queries] val BpeNumMerges = 12

  /** Trained BPE merges: q133's training run is reused by q134/q135
    * instead of re-running 12 aggregation rounds per consumer. Merges are
    * plain collected values, so the memo holds no Spark state that the
    * Checkpoints lifecycle could free. */
  private[queries] def bpeMerges(docs: DataFrame, dir: String, n: Int): Seq[graft.ops.BpeTrain.Merge] =
    memo("bpe", (dir, n))(graft.ops.BpeTrain.train(docs, "text", n))

  /** Approximate-mode BPE merges (q283). */
  private[queries] def bpeApproxMerges(docs: DataFrame, dir: String): Seq[graft.ops.BpeTrain.Merge] =
    memo("bpe-approx", dir)(graft.ops.BpeTrain.train(docs, "text",
      numMerges = 6, maxBatch = 3, exactGreedy = false))

  /** Portable-kmeans parameters the q143/q144 pair trains/replays. */
  private[queries] val KmClusters = 8
  private[queries] val KmIters = 4
  private[queries] val KmSalt = "graft-km"

  /** Trained portable-kmeans centroids (q143/q144); late-bound into the
    * q151 oracle. */
  private[queries] def kmCentroids(emb: DataFrame, dir: String): Centroids =
    memo("km", dir)(Similarity.trainKmeansPortable(
      emb, "vec_id", "embedding", KmClusters, KmIters, KmSalt))

  /** Product-quantization parameters for q149/q150 (dim 64 → m=4
    * subspaces × 16 codewords, 3 Lloyd rounds each). */
  private[queries] val PqM = 4
  private[queries] val PqK = 16
  private[queries] val PqIters = 3
  private[queries] val PqSalt = "graft"

  /** Trained PQ codebooks (q149/q150); late-bound into their oracles. */
  private[queries] def pqCodebooks(emb: DataFrame, dir: String): Seq[Centroids] =
    memo("pq", dir)(Similarity.trainPqCodebooks(
      emb, "vec_id", "embedding", dim = 64, m = PqM, k = PqK,
      iters = PqIters, salt = PqSalt))

  /** q119/q120 shared oracle: 13-gram collision decontamination.
    * lowercased whitespace tokens (the q58 idiom), 13-token windows with
    * the WordGrams short-doc convention (sub-13 docs contribute their
    * whole token string), any shared window with the bench tail drops
    * the doc. q120 (the Bloom pre-filtered path) is bit-identical. */
  private[queries] val spanDecontaminateOracle: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
      |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS toks
      |  FROM documents
      |), w AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, GREATEST(len(toks) - 13, 0) + 1),
      |    i -> array_to_string(toks[i + 1 : i + 13], ' '))) AS win
      |  FROM base WHERE len(toks) > 0
      |), bw AS (SELECT DISTINCT win FROM w WHERE doc_id >= 400),
      |bad AS (
      |  SELECT DISTINCT doc_id FROM w
      |  WHERE doc_id < 400 AND win IN (SELECT win FROM bw)
      |)
      |SELECT doc_id, lang FROM documents
      |WHERE doc_id < 400 AND doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin

  /** q122 probe tokens: frequent function words plus never-occurring
    * controls (est 0 via an untouched counter row somewhere in the grid).
    * Fixed by contract — a CM sketch is probed, not enumerated. */
  private[queries] val CmsProbes: Seq[String] = Seq(
    "the", "and", "of", "to", "data", "supplier", "quality",
    "zzz_absent_token", "qqq_never_seen")

  /** q77/q109 shared SemDeDup closure (identical parameters), computed
    * once per (session, sf dir) and pinned across [[graft.Checkpoints]]
    * cleanup barriers — the two keeper policies are views over the SAME
    * cluster assignment, and recomputing the pair + closure chain per
    * policy was round 5's heaviest redundant work (q109 at 4.4s re-ran
    * everything q77 had just computed). */
  private[queries] def semClusters(s: SparkSession, dir: String): DataFrame =
    graft.Checkpoints.pinned(
      s"semclusters:${s.sparkContext.applicationId}:$dir:0.2:8:3") {
      Dedup.semanticClusters(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.2, nBits = 8, nTables = 3)
    }

  /** GD iterations of the portable trainer (q165/q178). */
  private[queries] val ClfIters = 4

  /** The dense portable-trainer replay (q165/q178 oracles): per-doc
    * f[64] built once, each iteration z = list_dot_product(w, f)
    * (0.0-seeded element-order sum == graft_dot), gradient g_j summed
    * doc-id-then-sub-bucket ordered — the two-level OrderedKeyedVecSum
    * fold per position. Yields CTEs `toks` … `w_$ClfIters`. */
  private[queries] def clfTrainCtes: String = {
    val iterCtes = (1 to ClfIters).map { t =>
      s"""wl_${t - 1} AS MATERIALIZED (
         |  SELECT list(wv ORDER BY j) AS wl FROM w_${t - 1}
         |), it_$t AS MATERIALIZED (
         |  SELECT f.doc_id, f.b,
         |    list_transform(f.f, x -> x *
         |      (0.5 * (1.0 + list_dot_product(w.wl, f.f)
         |        / (1.0 + abs(list_dot_product(w.wl, f.f)))) - f.y)) AS gv
         |  FROM feats f CROSS JOIN wl_${t - 1} w
         |), l1_$t AS MATERIALIZED (
         |  SELECT g.b, CAST(r.jj AS BIGINT) AS j,
         |    list_reduce(list_prepend(0.0,
         |      list(g.gv[CAST(r.jj AS INT) + 1] ORDER BY g.doc_id)),
         |      (a, x) -> a + x) AS p
         |  FROM it_$t g CROSS JOIN range(64) AS r(jj)
         |  GROUP BY g.b, r.jj
         |), g_$t AS MATERIALIZED (
         |  SELECT j, list_reduce(list_prepend(0.0, list(p ORDER BY b)),
         |    (a, x) -> a + x) AS g
         |  FROM l1_$t GROUP BY j
         |), w_$t AS MATERIALIZED (
         |  SELECT w.j, w.wv - 0.5 * (g.g / (SELECT nd FROM ndc)) AS wv
         |  FROM w_${t - 1} w JOIN g_$t g USING (j)
         |)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT doc_id,
       |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
       |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
       |  FROM documents WHERE text IS NOT NULL
       |), tc AS MATERIALIZED (
       |  SELECT doc_id, CAST(doc_id % 2 AS DOUBLE) AS y, len(ts) AS n,
       |    CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 64 AS BIGINT) AS j,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM toks, unnest(ts) AS u(t)
       |  GROUP BY doc_id, y, n, j, b
       |), docs_d AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, y, b, n FROM tc
       |), grid AS MATERIALIZED (
       |  SELECT d.doc_id, d.y, d.b, CAST(r.jj AS BIGINT) AS j,
       |    CAST(coalesce(tc.c, 0) AS DOUBLE) / CAST(d.n AS DOUBLE) AS f
       |  FROM docs_d d CROSS JOIN range(64) AS r(jj)
       |  LEFT JOIN tc ON tc.doc_id = d.doc_id AND tc.j = CAST(r.jj AS BIGINT)
       |), feats AS MATERIALIZED (
       |  SELECT doc_id, y, b, list(f ORDER BY j) AS f
       |  FROM grid GROUP BY doc_id, y, b
       |), ndc AS MATERIALIZED (
       |  SELECT CAST(count(*) AS DOUBLE) AS nd FROM feats
       |), w_0 AS MATERIALIZED (
       |  SELECT CAST(r.j AS BIGINT) AS j, 0.0 AS wv FROM range(64) AS r(j)
       |),
       |$iterCtes""".stripMargin
  }

  /** A fixed 64-bucket weight vector for the q90 classifier demo —
    * deterministic integer arithmetic; the doubles are interpolated into
    * the oracle SQL via toString (round-trip exact), standing in for a
    * model exported by an offline trainer. */
  private[queries] val clfWeights: Seq[Double] =
    (0 until 64).map(j => ((j * 37 + 11) % 101) / 101.0 - 0.5)
  private[queries] val clfBias: Double = -0.05
  // ::DOUBLE on every element: DuckDB types bare decimal literals as
  // DECIMAL, which overflows in the list_reduce fold (DECIMAL(19,18))
  private[queries] val clfWeightsSql: String =
    clfWeights.map(w => s"($w)::DOUBLE").mkString("[", ", ", "]")

  /** The 16 signature positions over an `hs` hash-list column, with the
    * SAME polyPerms constants the engine uses (interpolated so the two
    * sides can never drift). */
  private[queries] val polySigList: String =
    graft.ops.Dedup.polyPerms(16).zipWithIndex.map { case ((a, b), j) =>
      s"    COALESCE(list_min(list_transform(hs, h -> (h * $a + $b) % 2147483647)), 2147483647) AS s${j + 1}"
    }.mkString(",\n")

  /** DuckDB CTE prefix for the token-unit poly-minhash oracle (q62):
    * distinct case-preserving tokens -> md5-prefix 32-bit hashes -> the
    * 16 signature positions. */
  private[queries] val polySigCte: String =
    s"""toks AS (
       |  SELECT doc_id,
       |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
       |         ELSE list_distinct(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) END AS ts
       |  FROM documents
       |), hs0 AS (
       |  SELECT doc_id, list_transform(ts, t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hs
       |  FROM toks
       |), sig AS (
       |  SELECT doc_id,
       |$polySigList
       |  FROM hs0
       |)""".stripMargin

  /** DuckDB CTE prefix for the shingle-unit poly-minhash oracles (q67,
    * q71): canonical form -> distinct char 5-shingles (short texts fall
    * back to the whole canon, mirroring Dedup.shingles) -> md5-prefix
    * hashes -> the 16 signature positions. `srcRel` is the relation (with
    * optional WHERE) supplying (doc_id, text). */
  private[queries] def polyShingleSigCte(srcRel: String, sfx: String = ""): String =
    s"""c0$sfx AS (
       |  SELECT doc_id, trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS canon
       |  FROM $srcRel
       |), hs0$sfx AS (
       |  SELECT doc_id, list_transform(
       |    CASE WHEN len(canon) < 5 THEN [canon]
       |         ELSE list_distinct(list_transform(range(0, len(canon) - 4),
       |                i -> substr(canon, CAST(i + 1 AS INT), 5))) END,
       |    t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hs
       |  FROM c0$sfx
       |), sig$sfx AS (
       |  SELECT doc_id,
       |$polySigList
       |  FROM hs0$sfx
       |)""".stripMargin

  /** Band-key projections over a suffixed `sig` CTE (the cross-side
    * variant [[polyBandSelects]] is the "" instance of). */
  private[queries] def polyBandSelectsFor(sfx: String): String = (0 until 4).map { b =>
    val cols = (1 to 4).map(r => s"s${b * 4 + r}").mkString(", ")
    s"  SELECT doc_id, $b AS band, concat_ws('-', $cols) AS band_key FROM sig$sfx"
  }.mkString("\n  UNION ALL\n")

  /** The 4 band-key projections over the `sig` CTE (4 positions per band,
    * '-'-joined decimal strings — exactly the engine's concat_ws). */
  private[queries] val polyBandSelects: String = (0 until 4).map { b =>
    val cols = (1 to 4).map(r => s"s${b * 4 + r}").mkString(", ")
    s"  SELECT doc_id, $b AS band, concat_ws('-', $cols) AS band_key FROM sig"
  }.mkString("\n  UNION ALL\n")

  /** Signature-position agreement count between `sa` and `sb` sig rows
    * (shared by the q67/q71/q73 pair oracles). */
  private[queries] val polyAgreeSql: String =
    (1 to 16).map(j => s"CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END").mkString(" + ")

  /** Band buckets -> distinct candidate pairs -> threshold-filtered pairs
    * with est_jaccard, over the `sig` CTE — the ONE copy of the bucketed
    * pair pipeline all three pair oracles (q67, q71, q73) append to their
    * sig CTE chain. */
  private[queries] def polyPairsCte(threshold: Double): String =
    s"""bk AS (
       |$polyBandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id
       |), pairs0 AS (
       |  SELECT id_a, id_b, CAST(($polyAgreeSql) AS DOUBLE) / 16.0 AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
       |  WHERE CAST(($polyAgreeSql) AS DOUBLE) / 16.0 >= $threshold
       |)""".stripMargin

  /** DuckDB CTE chain computing the engine's qualityScore blend as
    * `qscore` (CTE `scored`) over the (doc_id, text, `payload`...) rows
    * of `srcRel` — ONE copy of the mirrored formula shared by the q71
    * pipeline oracle and the q79 quality-sampling oracle, so the two can
    * never drift. */
  private[queries] def qualityCte(srcRel: String, payload: String): String =
    s"""comp0 AS (
       |  SELECT doc_id, $payload, text,
       |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN 0
       |         ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) END AS n_tok
       |  FROM $srcRel
       |), comp1 AS (
       |  SELECT doc_id, $payload,
       |    CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) * 1.0 / CAST(n_tok AS DOUBLE) AS awl,
       |    CAST(len(list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+'),
       |      x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS DOUBLE)
       |      / GREATEST(CAST(n_tok AS DOUBLE), 1.0) AS stop_ratio,
       |    CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS DOUBLE)
       |      / GREATEST(CAST(len(text) AS DOUBLE), 1.0) AS punct_ratio,
       |    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
       |      / GREATEST(CAST(len(text) AS DOUBLE), 1.0) AS digit_ratio
       |  FROM comp0
       |), scored AS (
       |  SELECT doc_id, $payload,
       |    (CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 40.0
       |          ELSE GREATEST(0.0, 40.0 - abs(awl - 5.5) * 5.0) END)
       |    + LEAST(stop_ratio * 200.0, 30.0)
       |    + GREATEST(0.0, 15.0 - punct_ratio * 100.0)
       |    + GREATEST(0.0, 15.0 - digit_ratio * 100.0) AS qscore
       |  FROM comp1
       |)""".stripMargin

  /** Hyperplane-bucket SQL generator (q45, q56): the engine's +-1 planes
    * come from a seeded driver-side PRNG, so this interpolates the EXACT
    * constants as `+- v[i]` term chains over a `v` DOUBLE[] column
    * (element order = the native HyperplaneBits accumulation order;
    * `x * +-1.0` and sequential `+`/`-` are IEEE-exact) and ORs the
    * per-table sign-bit keys into the any-table bucket match. Returns the
    * (sum projections, key projections) for a two-CTE chain. */
  private[queries] def hyperplaneKeySql(
      dim: Int, nBits: Int, nTables: Int, seedOf: Int => Long): (String, String) = {
    val sums = (0 until nTables).flatMap { t =>
      val planes = graft.ops.Similarity.hyperplanes(dim, nBits, seedOf(t))
      (0 until nBits).map { b =>
        val terms = planes(b).zipWithIndex.map { case (p, i) =>
          (if (p > 0) " + " else " - ") + s"v[${i + 1}]"
        }.mkString
        s"    (0.0$terms) AS s_${t}_$b"
      }
    }.mkString(",\n")
    val keys = (0 until nTables).map { t =>
      val bits = (0 until nBits).map { b =>
        // engine sets the bit for NaN sums (Spark NaN >= 0 is true)
        s"CASE WHEN s_${t}_$b >= 0 OR isnan(s_${t}_$b) THEN ${1L << b} ELSE 0 END"
      }.mkString(" + ")
      s"    ($bits) AS k_$t"
    }.mkString(",\n")
    (sums, keys)
  }

  /** JL-projection SQL generator (q188, q189): one `(0.0 ± v[i] …) /
    * sqrt(outDim)` chain per output component, signs from the engine's
    * seeded matrix — the hyperplaneKeySql precedent keeping magnitudes. */
  private[queries] def rpChainsSql(dim: Int, outDim: Int, seed: Long): Seq[String] = {
    val signs = graft.ops.Similarity.hyperplanes(dim, outDim, seed)
    val scale = java.lang.Double.toString(math.sqrt(outDim.toDouble))
    signs.map { row =>
      val terms = row.zipWithIndex.map { case (p, i) =>
        (if (p > 0) " + " else " - ") + s"v[${i + 1}]"
      }.mkString
      s"((0.0$terms) / $scale)"
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------------------ classical relational ops

    "q30_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          roundz(sum(col("l_extendedprice")), 2).as("sum_base_r"),
          roundz(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_r"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    "q31_join_revenue" -> { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(roundz(sum("o_totalprice"), 2).as("revenue_r"), count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    },

    "q32_window_running" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // DuckDB evaluates windowed SUM with a segment tree (pairwise FP
      // order), Spark sequentially — round to absorb the low-bit drift.
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          roundz(sum("value").over(w), 4).as("run_sum_r"))
        .orderBy("user_id", "event_id")
    },

    "q33_sessionize" -> { (s, dir) =>
      // gap > 30 min starts a new session; all integer microsecond math so
      // the DuckDB oracle is exact. ts arrives as long nanoseconds (the
      // sessions set spark.sql.legacy.parquet.nanosAsLong for the NANOS
      // parquet type); `div` keeps the truncation integral like epoch_us.
      // The gap rule is OWNED by Sessions.sessionize (q201 shares it) —
      // this query is the event-grain replay summarized to session grain.
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
      graft.ops.Sessions.sessionize(ev, "user_id", col("us"), "event_id",
          gapUs = 1800000000L)
        .groupBy(col("user_id"), col("session_seq").as("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min("event_id").as("first_event"), max("event_id").as("last_event"),
          (max("us") - min("us")).as("duration_us"))
        .orderBy("user_id", "session_id")
    },

    "q34_asof_join" -> { (s, dir) =>
      // backward as-of: every click joined to the user's latest purchase
      // at-or-before it — union + running-window shape, one shuffle, no
      // range-join explosion (Joins.asofJoinBackward).
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("value"))
      Joins.asofJoinBackward(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        keyCol = "user_id", leftTimeCol = "us", rightTimeCol = "us",
        rightTieCol = "event_id", payloadCols = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"), col("us"),
          col("asof_event_id"), col("asof_us"), col("asof_value"))
        .orderBy("event_id")
    },

    "q35_range_join" -> { (s, dir) =>
      // bucketed interval join: orders priced into OVERLAPPING price bands
      // derived from nation keys (each order matches 1-2 bands) — the
      // equi-join-on-grid plan, not a nested-loop range predicate.
      val bands = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"),
          (col("n_nationkey").cast("double") * lit(20000.0)).as("lo"),
          (col("n_nationkey").cast("double") * lit(20000.0) + lit(40000.0)).as("hi"))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("price"))
      Joins.rangeJoin(orders, "price", bands, "lo", "hi", bucketWidth = 40000.0)
        .select(col("o_orderkey"), col("price"), col("n_nationkey"), col("n_name"))
        .orderBy("o_orderkey", "n_nationkey")
    },

    "q68_rollup" -> { (s, dir) =>
      // multi-level aggregation (ROLLUP + grouping id): subtotals and the
      // grand total in one pass — Catalyst plans it as a single Expand +
      // hash aggregate, no per-level re-scan
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    "q70_set_ops" -> { (s, dir) =>
      // set operators over key columns: customers WITH orders (intersect)
      // tagged against customers WITHOUT (except) — Spark plans both as
      // aggregates/joins, no driver-side set logic
      val custKeys = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val orderCust = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val withOrders = custKeys.intersect(orderCust)
        .withColumn("has_orders", lit(1))
      val withoutOrders = custKeys.except(orderCust)
        .withColumn("has_orders", lit(0))
      withOrders.unionByName(withoutOrders).orderBy("k")
    },

    "q72_cube" -> { (s, dir) =>
      // CUBE: all 2^2 grouping combinations in one Expand + hash
      // aggregate — with ROLLUP (q68) this completes the multi-level
      // aggregation surface of the §2.6 checklist
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          roundz(sum("o_totalprice"), 2).as("sum_price_r"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    "q69_lead_lag" -> { (s, dir) =>
      // lead/lag event windows (per-user previous/next value + gap to the
      // previous event) — integer microsecond math, exact in both engines
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("us"), col("value"))
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("next_value", lead("value", 1).over(w))
        .withColumn("gap_us", col("us") - lag("us", 1).over(w))
        .select("event_id", "user_id", "prev_value", "next_value", "gap_us")
        .orderBy("event_id")
    },

    "q80_pivot" -> { (s, dir) =>
      // pivot (long -> wide): per-source mean doc length by language, with
      // the value list pinned so the output schema is static — mirrored as
      // FILTER'd conditional aggregates
      val langs = Seq("de", "en", "es", "fr", "zh")
      t(s, dir, "documents")
        .groupBy("source")
        .pivot("lang", langs)
        .agg(avg("n_chars"))
        .select(col("source") +: langs.map(l => roundz(col(l), 6).as(s"avg_$l")): _*)
        .orderBy("source")
    },

    "q81_ntile_rank" -> { (s, dir) =>
      // distribution window functions: quartile, percent_rank, cume_dist
      // per language — the tie-break on doc_id makes the order total, so
      // ntile's bucket boundaries are engine-independent
      val w = Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          ntile(4).over(w).as("quartile"),
          roundz(percent_rank().over(w), 9).as("pct_rank_r"),
          roundz(cume_dist().over(w), 9).as("cume_r"))
        .orderBy("doc_id")
    },

    "q82_resample_fill" -> { (s, dir) =>
      // hourly per-type event grid with holes materialized (215 empty
      // buckets at sf0.01) and the running sum forward-filled — exact
      // integer bucketing (ts div width), nulls only before a key's first
      // event
      val dense = graft.ops.Resample.resample(
        t(s, dir, "events"), "event_type", "ts", 3600000000000L,
        Seq(count(lit(1)).as("n"), sum("value").as("sv")))
      graft.ops.Resample.forwardFill(dense, Seq("event_type"), "bucket", Seq("sv"))
        .select(col("event_type"), col("bucket"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          roundz(col("sv"), 6).as("filled_sum_r"))
        .orderBy("event_type", "bucket")
    },

    // --------------------------------------------------- retrieval / stats

    "q83_vocabulary" -> { (s, dir) =>
      // corpus vocabulary: top 50 terms by document frequency (term-asc
      // tie-break makes the cut deterministic); top-k is
      // TakeOrderedAndProject, never a full sort
      graft.ops.Retrieval.vocabulary(t(s, dir, "documents"), "doc_id", "text", topK = 50)
        .orderBy(col("doc_freq").desc, col("term").asc)
    },

    "q289_bm25_prf_served" -> { (s, dir) =>
      // q287's pseudo-relevance feedback SERVED off the persisted
      // artifacts — pass one from the postings index, the harvest from
      // the doc-grain forward sidecar (bucket-pruned), pass two through
      // the same pruned scoring body; no corpus scan anywhere, same
      // oracle as q287 verbatim (serving ≡ ad-hoc by construction)
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val d = t(s, dir, "documents")
      val idx = bm25Serve(d, dir)
      val fwd = bm25Forward(d, dir)
      graft.ops.Retrieval.bm25SearchPrfPreindexed(
        s, idx, fwd, qs, "qid", "qtext",
        topK = 10, fbDocs = 5, fbTerms = 3, minTermLen = 3)
        .select(col("qid"), col("rank"), col("doc_id"), roundz(col("score"), 6).as("score_r"))
        .orderBy("qid", "rank")
    },

    "q290_hybrid_served" -> { (s, dir) =>
      // served HYBRID retrieval (the RAG production query shape): the
      // q84 text queries carry their doc's embedding; keyword
      // candidates from the persisted postings tree (q248 chain) and
      // vector candidates from the persisted IVF index (q191 chain,
      // same trained quantizer) fuse by reciprocal rank (q218
      // arithmetic) — the oracle composes the three chains
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      val ivfPath = ivfServe(emb, cents, dir)
      val bm25Path = bm25Serve(docs, dir)
      val qs = s.createDataFrame(Seq(
          (1L, "query hash join"),
          (2L, "window agg fast"),
          (3L, "customer order value part"))).toDF("qid", "qtext")
        .join(emb.select(col("vec_id").as("qid"), col("embedding")), Seq("qid"))
      graft.ops.Retrieval.hybridSearchPreindexed(
          s, bm25Path, ivfPath, qs, "qid", "qtext", "embedding",
          topK = 10, candK = 10, rrfK = 60, nProbe = 4)
        .orderBy("qid", "fused_rank")
    },

    "q287_bm25_prf" -> { (s, dir) =>
      // pseudo-relevance feedback on the q84 queries: each query's top-5
      // BM25 page donates its 3 most frequent new terms (>= 3 chars,
      // exact integer counts, binary tie-break), and the widened query
      // re-scores — the oracle replays both passes plus the harvest
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      graft.ops.Retrieval.bm25SearchPrf(
        t(s, dir, "documents"), "doc_id", "text", qs, "qid", "qtext",
        topK = 10, fbDocs = 5, fbTerms = 3, minTermLen = 3)
        .select(col("qid"), col("rank"), col("doc_id"), roundz(col("score"), 6).as("score_r"))
        .orderBy("qid", "rank")
    },

    "q84_bm25" -> { (s, dir) =>
      // BM25 top-10 per query: postings pruned to query terms before any
      // corpus-wide agg; term-sorted contribution fold (IEEE-reproducible);
      // heap top-k per query
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      graft.ops.Retrieval.bm25Search(
        t(s, dir, "documents"), "doc_id", "text", qs, "qid", "qtext", topK = 10)
        .select(col("qid"), col("rank"), col("doc_id"), roundz(col("score"), 6).as("score_r"))
        .orderBy("qid", "rank")
    },

    "q85_zscore_outliers" -> { (s, dir) =>
      // per-language z-score on document length from EXACT integer moments
      // (sum / sum-of-squares / count) — order-independent, engine-portable,
      // unlike streaming stddev
      graft.ops.Outliers.withGroupZscore(
        t(s, dir, "documents"), Seq("lang"), "n_chars", "z")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          roundz(col("z"), 9).as("z_r"),
          (abs(col("z")) > 2.0).as("is_outlier"))
        .orderBy("doc_id")
    },

    "q86_chunking" -> { (s, dir) =>
      // 200-char context windows with 50-char overlap (stride 150); last
      // chunk may be short; pure per-row explode arithmetic, no shuffle
      graft.ops.Retrieval.chunkText(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 200, overlap = 50)
        .select(col("doc_id"), col("chunk_idx"), col("chunk"),
          length(col("chunk")).as("chunk_len"))
        .orderBy("doc_id", "chunk_idx")
    },

    "q87_bigram_lm" -> { (s, dir) =>
      // bigram-LM perplexity quality signal: each doc scored under the
      // corpus' own MLE bigram model; term-sorted contribution fold
      graft.ops.LmScore.bigramScore(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          roundz(col("avg_logp"), 6).as("avg_logp_r"),
          roundz(col("perplexity"), 6).as("ppl_r"))
        .orderBy("doc_id")
    },

    "q88_latest_snapshot" -> { (s, dir) =>
      // change-log compaction: latest event per user via max(struct(...))
      // — one hash aggregate, the payload rides in the struct, no window
      // sort and no join-back
      // ts arrives as epoch-nanos int64 in Spark but DuckDB's TIMESTAMP is
      // micro-precision — compare at MICROS on both sides so version ties
      // (and the event_id tie-break) are engine-identical
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"), col("value"))
      graft.ops.Snapshot.latestByKey(ev, Seq("user_id"), col("ts_us"), "event_id")
        .orderBy("user_id")
    },

    "q89_expectations" -> { (s, dir) =>
      // one-pass data-quality gate: every check computed in a single
      // aggregate; null predicate results count as violations
      graft.ops.Expectations.report(t(s, dir, "lineitem"), Seq(
        "quantity_range" -> col("l_quantity").between(1, 50),
        "price_positive" -> (col("l_extendedprice") > 0),
        "discount_cap" -> (col("l_discount") <= 0.05),
        "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "shipdate_not_null" -> col("l_shipdate").isNotNull))
        .withColumn("violation_rate_r", roundz(col("violation_rate"), 9))
        .drop("violation_rate")
        .orderBy("check_name")
    },

    "q90_classifier_gate" -> { (s, dir) =>
      // hashing-trick linear quality classifier (fastText shape): pure
      // map-side Column fold in token-position order, no shuffle; weights
      // interpolated into the oracle from the same Scala doubles
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.Classifier.scoreColumn(col("text"), clfWeights, clfBias).as("p"))
        .select(col("doc_id"), roundz(col("p"), 9).as("prob_r"),
          (col("p") >= 0.5).as("accept"))
        .orderBy("doc_id")
    },

    "q91_unpivot" -> { (s, dir) =>
      // wide -> long reshaping (§2.6 relational checklist): three metric
      // columns melt into (metric, val) rows keyed by line identity
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },

    "q92_rolling_mean" -> { (s, dir) =>
      // densified hourly counts smoothed with a trailing 24-bucket moving
      // average; integer inputs keep the windowed avg engine-exact
      val dense = graft.ops.Resample.resample(
        t(s, dir, "events"), "event_type", "ts", 3600000000000L,
        Seq(count(lit(1)).as("n")))
        .withColumn("n_events", coalesce(col("n"), lit(0L)))
      graft.ops.Resample.rollingMean(dense, Seq("event_type"), "bucket", "n_events", 24, "roll")
        .select(col("event_type"), col("bucket"), col("n_events"),
          roundz(col("roll"), 9).as("roll_r"))
        .orderBy("event_type", "bucket")
    },

    "q93_percentiles" -> { (s, dir) =>
      // per-group exact percentile grid (linear interpolation) — the
      // small-SF twin of the approx_percentile sketch path (graft.stats
      // .approx); quantile_cont mirrors the interpolation
      val p = percentile(col("n_chars"), array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)))
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(p.as("q"))
        .select(col("lang"),
          roundz(element_at(col("q"), 1), 6).as("p25"),
          roundz(element_at(col("q"), 2), 6).as("p50"),
          roundz(element_at(col("q"), 3), 6).as("p75"),
          roundz(element_at(col("q"), 4), 6).as("p90"))
        .orderBy("lang")
    },

    "q94_anti_join" -> { (s, dir) =>
      // left-anti join (§2.6): customers with no high-value order — the
      // price filter pushes into the build side's parquet scan
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    "q95_histogram" -> { (s, dir) =>
      // fixed-width histogram per language: integer-div binning, exact
      // min/max per bin
      t(s, dir, "documents")
        .withColumn("bin", expr("n_chars div 100"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("lo"), max("n_chars").as("hi"))
        .orderBy("lang", "bin")
    },

    "q96_drift_psi" -> { (s, dir) =>
      // distribution drift between two source snapshots: per-bin PSI
      // contributions (Laplace-smoothed) plus the bin-ordered scalar fold
      val d = t(s, dir, "documents")
      graft.ops.Drift.binContributions(
        d.filter(col("source") === "src0"),
        d.filter(col("source") === "src1"),
        "n_chars", binWidth = 100L)
        .select(col("bin"), col("n_ref"), col("n_cur"),
          roundz(col("p_ref"), 9).as("p_ref_r"),
          roundz(col("p_cur"), 9).as("p_cur_r"),
          roundz(col("contrib"), 9).as("contrib_r"))
        .orderBy("bin")
    },

    "q97_corpus_overlap" -> { (s, dir) =>
      // whole-corpus vocabulary overlap from corpus-level MinHash union
      // signatures: one map-side projection + one N-long all-reduce per
      // corpus — no pairwise work at all
      val d = t(s, dir, "documents")
      graft.ops.Dedup.corpusOverlap(
        d.filter(col("source") === "src0"),
        d.filter(col("source") === "src1"),
        "text")
    },

    "q98_funnel_conversion" -> { (s, dir) =>
      // click -> purchase conversion within 1h via the forward as-of
      // join (one shuffle, no range explosion), rolled up per day
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      val conv = graft.ops.Joins.asofJoinForward(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id", "us", "us", "event_id",
        payloadCols = Seq("event_id"), tolerance = Some(3600000000L))
      conv
        .groupBy(expr("us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("asof_event_id").isNotNull, 1L).otherwise(0L)).as("n_conv"))
        .select(col("day"), col("n_clicks"), col("n_conv"),
          roundz(col("n_conv").cast("double") / col("n_clicks"), 9).as("rate_r"))
        .orderBy("day")
    },

    "q99_json_extract" -> { (s, dir) =>
      // semi-structured extraction: pull a typed field out of the JSON
      // props column (codegen'd path expression, no UDF) and roll it up
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum("k").as("sum_k"))
        .select(col("event_type"), col("n"), col("sum_k"),
          roundz(col("sum_k").cast("double") / col("n"), 9).as("avg_k_r"))
        .orderBy("event_type")
    },

    "q100_salted_agg" -> { (s, dir) =>
      // skew-salted two-level aggregation must equal the plain GROUP BY:
      // the salt only routes rows; counts and integral-double sums are
      // exact at any accumulation order, so the oracle is the unsalted SQL
      graft.ops.Salting.saltedAggregate(
        t(s, dir, "lineitem"), Seq("l_returnflag"), col("l_orderkey"), 16,
        scala.collection.immutable.ListMap(
          "cnt" -> ((count(lit(1)), sum(col("cnt")))),
          "sum_qty" -> ((sum(col("l_quantity")), sum(col("sum_qty"))))))
        .select(col("l_returnflag"), col("cnt"),
          roundz(col("sum_qty"), 6).as("sum_qty_r"))
        .orderBy("l_returnflag")
    },

    "q101_salted_join" -> { (s, dir) =>
      // skew-salted equi-join (right side replicated x16) must equal the
      // plain join row-for-row
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val r = t(s, dir, "orders").select(
        col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      graft.ops.Salting.saltedJoin(l, r, Seq("l_orderkey"), buckets = 16)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("qty"))
        .select(col("o_custkey"), col("n_lines"), roundz(col("qty"), 6).as("qty_r"))
        .orderBy("o_custkey")
    },

    "q198_adaptive_salted_join" -> { (s, dir) =>
      // skew salting for only the DETECTED hot keys (orders with 7
      // lineitems); the tail joins plain — must still equal the plain
      // join row-for-row, so the oracle is q101's unsalted SQL
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val r = t(s, dir, "orders").select(
        col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      graft.ops.Salting.adaptiveSaltedJoin(l, r, Seq("l_orderkey"),
          buckets = 4, hotThreshold = 7, maxHotKeys = 1 << 17)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("qty"))
        .select(col("o_custkey"), col("n_lines"), roundz(col("qty"), 6).as("qty_r"))
        .orderBy("o_custkey")
    },

    "q102_incremental_diff" -> { (s, dir) =>
      // incremental ingest: docs in the src1 snapshot whose canonical
      // content never appeared in src0 (anti-join on the md5 fingerprint)
      val d = t(s, dir, "documents")
      graft.ops.Dedup.newDocs(
        d.filter(col("source") === "src1"),
        d.filter(col("source") === "src0"), "text")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    "q103_funnel_portable" -> { (s, dir) =>
      // the q66 funnel counts under PORTABLE hashes: every stage count
      // re-derived in DuckDB off the q71 CTE chain — the composition's
      // arithmetic is hash-verified end to end, not just rows>0
      import s.implicits._
      val st = graft.ops.Pipelines.cleanCorpus(
        t(s, dir, "documents"), nearDupThreshold = 0.9, minQuality = 30.0,
        portableHashes = true).stats()
      Seq((st.input, st.afterExactDedup, st.afterNearDedup, st.afterQuality, st.output))
        .toDF("n_input", "n_exact", "n_near", "n_quality", "n_output")
    },

    "q104_prepare_portable" -> { (s, dir) =>
      // the ENTIRE prepareTrainingCorpus output under portable hashes —
      // cleaning chain + token/lang/fingerprint enrichment + deterministic
      // split, every column re-derived in DuckDB
      graft.ops.Pipelines.prepareTrainingCorpus(
        t(s, dir, "documents"), nearDupThreshold = 0.9, minQuality = 30.0,
        portableHashes = true)
        .df.select("doc_id", "lang", "source", "n_chars",
          "n_tokens", "lang_id", "fingerprint", "split")
        .orderBy("doc_id")
    },

    "q167_prepare_clf_gate" -> { (s, dir) =>
      // q104's full portable preparation with the trained-classifier gate
      // on: the fastText-style hashed-bucket model filters between
      // decontamination and enrichment — every stage still oracle-replayed
      graft.ops.Pipelines.prepareTrainingCorpus(
        t(s, dir, "documents"), nearDupThreshold = 0.9, minQuality = 30.0,
        classifierGate = Some((clfWeights, clfBias, 0.45)))
        .df.select("doc_id", "lang", "source", "n_chars",
          "n_tokens", "lang_id", "fingerprint", "split")
        .orderBy("doc_id")
    },

    "q105_weighted_sample" -> { (s, dir) =>
      // Efraimidis-Spirakis weighted sampling without replacement: 20 docs
      // per source, inclusion odds ~ n_chars; ln(u)/w key ordering is
      // engine-exact where pow would not be
      graft.ops.Sampling.weightedSample(
        t(s, dir, "documents"), "doc_id", Seq("source"), "n_chars", k = 20, salt = "ws")
        .select("doc_id", "source", "n_chars", "sample_rank")
        .orderBy("source", "sample_rank")
    },

    "q106_dedup_keep_best" -> { (s, dir) =>
      // exact dedup keeping the HIGHEST-QUALITY row per canonical group
      // (not the min id): Snapshot.latestByKey composed with the quality
      // score as the version — one max-struct aggregate, no window
      val d = t(s, dir, "documents")
        .withColumn("__q", TextAnalysis.qualityScore(col("text")))
        .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      graft.ops.Snapshot.latestByKey(d, Seq("__fp"), col("__q"), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          roundz(col("__q"), 6).as("q_r"))
        .orderBy("doc_id")
    },

    "q107_knn_eval" -> { (s, dir) =>
      // end-to-end retrieval evaluation: 1-NN label prediction over the
      // full corpus (ranked on ROUNDED cosine so ordering is engine-exact,
      // the q50 convention) -> per-class precision/recall/F1 from exact
      // integer confusion counts
      val emb = t(s, dir, "embeddings")
      val c = emb.select(col("vec_id").as("nn_id"), col("embedding").as("cv"))
      val q = emb.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val scored = q.join(c, col("qid") =!= col("nn_id"))
        .withColumn("cos_r", roundz(Similarity.cosine(col("qv"), col("cv")), 6))
        .filter(!isnan(col("cos_r")))
      val top1 = graft.ops.GroupTopK.topKPerGroup(
        scored.select("qid", "nn_id", "cos_r"), Seq("qid"), "nn_id", "cos_r", 1)
      val preds = top1
        .join(broadcast(emb.select(col("vec_id").as("nn_id"), col("label").as("pred_label"))), Seq("nn_id"))
        .join(broadcast(emb.select(col("vec_id").as("qid"), col("label").as("true_label"))), Seq("qid"))
      graft.ops.Metrics.classificationReport(preds, "true_label", "pred_label")
        .select(col("clazz"), col("support"), col("tp"),
          roundz(col("precision"), 9).as("precision_r"),
          roundz(col("recall"), 9).as("recall_r"),
          roundz(col("f1"), 9).as("f1_r"))
        .orderBy("clazz")
    },

    // --------------------------------------------------- text analysis

    "q61_group_topk" -> { (s, dir) =>
      // heap-aggregated top-k per group (map-side partial aggregation, no
      // window sort) — must equal SQL's row_number formulation exactly
      val j = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("price"))
      graft.ops.GroupTopK.topKPerGroup(j, Seq("n_name"), "o_orderkey", "price", k = 5)
        .orderBy("n_name", "rank")
    },

    "q36_hash_split" -> { (s, dir) =>
      // deterministic train/val/test carve: pure function of doc_id+salt,
      // reproducible by any engine (oracle recomputes the same md5 cut).
      // Dyadic fractions -> FP-exact cumulative thresholds.
      graft.ops.Sampling.withSplit(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
        salt = "graft-r2")
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    },

    "q40_dedup_exact" -> { (s, dir) =>
      Dedup.withDupCount(t(s, dir, "documents"), "text")
        .select("doc_id", "fingerprint", "dup_count")
        .orderBy("doc_id")
    },

    "q42_jaccard_pairs" -> { (s, dir) =>
      // maxDocFreq caps the inverted-index join: tokens present in >400 of
      // the ~2000 docs (stopwords) would otherwise generate ~all-pairs per
      // (block, token) bucket — the one shipped plan that used to degrade
      // quadratically with corpus growth.
      Dedup.jaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 2000),
        "text", "doc_id", blockCol = Some("source"), threshold = 0.5,
        maxDocFreq = Some(400L))
        .orderBy("id_a", "id_b")
    },

    "q46_token_stats" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.distinctTokenCount(col("text")).as("n_distinct"),
          TextAnalysis.avgWordLen(col("text")).as("avg_word_len"),
          TextAnalysis.stopwordHits(col("text"), TextAnalysis.StopwordSets.head._2)
            .as("en_stopword_hits"))
        .orderBy("doc_id")
    },

    "q46b_bpeish_tokens" -> { (s, dir) =>
      // BPE-ish subword counting (word pieces + standalone punctuation):
      // Java and RE2 agree on this ASCII \w / \s subset
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy("doc_id")
    },

    "q47b_repetition" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          roundz(TextAnalysis.duplicateLineFraction(col("text")), 9).as("dup_line_frac_r"),
          roundz(TextAnalysis.repeatedTokenFraction(col("text")), 9).as("rep_tok_frac_r"))
        .orderBy("doc_id")
    },

    "q48_lang_id" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id"))
        .orderBy("doc_id")
    },

    "q49_fingerprint" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    "q62_poly_minhash" -> { (s, dir) =>
      // oracle-checked MinHash LSH banding: md5 token hashes + integer
      // permutation arithmetic, so DuckDB re-derives every band key
      // bit-for-bit (the production minhashBuckets path is xxhash64 —
      // faster, but rows-only checkable; q41 covers it)
      Dedup.polyMinhashBands(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id", "band")
    },

    "q63_text_cleaning" -> { (s, dir) =>
      // web-text cleanup chain on synthesized HTML-ish wrappers: tags +
      // script elements stripped, entities decoded (&amp;lt; -> &lt;),
      // boilerplate lines dropped, PII redacted (the 10-digit phone and
      // the email/IP go; the 8-digit year range "2020-2024" must stay).
      // Every regex is Java/RE2-common-subset, mirrored in the oracle.
      val raw = t(s, dir, "documents").withColumn("html_text",
        concat_ws("\n",
          lit("<div>Call 555-123-4567 or mail bob@example.com</div><script>var x=1;</script>"),
          col("text"),
          lit("Copyright 2024 All rights reserved"),
          lit("range 2020-2024 ping 10.0.0.1 &amp;lt;tag&gt; done")))
      graft.ops.TextCleaning.clean(raw, "html_text", out = "clean_text")
        .select(col("doc_id"),
          md5(col("clean_text")).as("clean_digest"),
          col("clean_text_pii.emails").as("n_emails"),
          col("clean_text_pii.phones").as("n_phones"),
          col("clean_text_pii.ipv4").as("n_ipv4"),
          roundz(graft.ops.TextCleaning.boilerplateLineFraction(col("html_text")), 9)
            .as("boiler_frac_r"))
        .orderBy("doc_id")
    },

    "q110_gopher_rules" -> { (s, dir) =>
      // Gopher quality-rule bundle (published thresholds): the seven
      // per-document measures plus the overall pass verdict — all pure
      // codegen'd Column arithmetic, mirrored measure-for-measure in the
      // oracle (x/0 -> null on both engines, null components fail rules)
      graft.ops.QualityRules.withGopherFlags(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("g_words"),
          roundz(col("g_avg_word_len"), 6).as("awl_r"),
          roundz(col("g_symbol_ratio"), 6).as("symbol_r"),
          roundz(col("g_bullet_frac"), 6).as("bullet_r"),
          roundz(col("g_ellipsis_frac"), 6).as("ellipsis_r"),
          roundz(col("g_alpha_frac"), 6).as("alpha_r"),
          col("g_stopword_hits"), col("g_pass"))
        .orderBy("doc_id")
    },

    "q111_cluster_balanced" -> { (s, dir) =>
      // cluster-balanced diversity sampling: nearest-centroid assignment
      // against q54's cached quantizer (one literal-centroid argmax, zero
      // shuffle) + a deterministic md5-ranked quota per cell; the oracle
      // interpolates the SAME centroids and re-ranks the same hash
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      graft.ops.Sampling.clusterBalancedSample(emb, "vec_id", "embedding",
        cents, perCluster = 10, salt = "cb")
        .select("vec_id", "list_id", "sample_rank")
        .orderBy("list_id", "sample_rank")
    },

    "q113_winsorize" -> { (s, dir) =>
      // per-language winsorization of n_chars into the exact [p10, p90]
      // band — Spark percentile == DuckDB quantile_cont (the q93 pair),
      // so the clip bounds are engine-identical
      graft.ops.Outliers.winsorize(
        t(s, dir, "documents"), Seq("lang"), "n_chars",
        lower = 0.1, upper = 0.9, outCol = "clipped")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          roundz(col("clipped"), 6).as("clipped_r"))
        .orderBy("doc_id")
    },

    "q114_uniform_sample_exact" -> { (s, dir) =>
      // exactly-200 deterministic sample: smallest md5 unit hashes win,
      // ranked — no global sort (map-side heap, one n-row merge)
      graft.ops.Sampling.uniformSampleExact(
        t(s, dir, "documents"), "doc_id", n = 200, salt = "gx")
        .select("doc_id", "source", "sample_rank")
        .orderBy("sample_rank")
    },

    "q116_char_entropy" -> { (s, dir) =>
      // character-entropy quality signal: deterministic sorted-char fold
      // (-Σ p·ln(p)/ln2), bit-reproducible across engines; the < 3.0
      // flag is the junk/repetition gate a pipeline would filter on
      val ent = TextAnalysis.charEntropy(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          roundz(ent, 6).as("entropy_r"),
          (ent < 3.0).as("is_low"))
        .orderBy("doc_id")
    },

    "q117_pagerank" -> { (s, dir) =>
      // weighted PageRank over the nation trade graph (customer nation ->
      // supplier nation, weight = lineitem count): the domain-authority
      // prior a crawl corpus weights sources by; source-sorted fold makes
      // every FP rank engine-exact
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      graft.ops.Graphs.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("node"), roundz(col("rank"), 9).as("rank_r"))
        .orderBy("node")
    },

    "q118_dsir" -> { (s, dir) =>
      // DSIR data selection: hashed-bigram log-likelihood ratio of the
      // target slice (doc_id >= 400, the q58/q78 benchmark convention)
      // vs the raw training slice (doc_id < 400); each raw doc's score
      // folds count x llr in bucket-sorted order, top 50 by (score, id).
      // Every step is md5/ln-mirrorable, so the whole selection is
      // oracle-checked end to end.
      val docs = t(s, dir, "documents")
      val raw = docs.filter(col("doc_id") < 400)
      val target = docs.filter(col("doc_id") >= 400)
      val scored = graft.ops.Dsir.scoreAgainstTarget(target, raw,
        "doc_id", "text", n = 2, buckets = 4096, alpha = 0.01)
      graft.ops.Dsir.selectTop(scored, "doc_id", 50)
        .select(col("doc_id"), roundz(col("dsir_score"), 6).as("dsir_score_r"))
        .orderBy(col("dsir_score_r").desc, col("doc_id"))
    },

    "q119_span_decontaminate" -> { (s, dir) =>
      // verbatim 13-gram collision decontamination (the GPT-3 convention):
      // drop every training doc sharing a 13-token lowercased window with
      // the held-out tail; windows come from the native WordGrams
      // expression, the match is an ids-only semi-join against the bench
      // window set (AQE broadcasts it), the corpus never shuffles
      val docs = t(s, dir, "documents")
      Dedup.spanDecontaminate(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
        "text", "doc_id", span = 13)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    "q120_span_bloom_decontaminate" -> { (s, dir) =>
      // q119 through the Bloom pre-filter: the corpus scan probes the
      // bench-window sketch map-side (codegen'd, zero shuffle) and only
      // the candidate sliver enters the exact window semi-join — result
      // BIT-IDENTICAL to q119 (Bloom has no false negatives), so the
      // same oracle SQL hashes both (the q112/q78 precedent)
      val docs = t(s, dir, "documents")
      Dedup.spanBloomDecontaminate(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
        "text", "doc_id", span = 13)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    "q121_kmv_distinct" -> { (s, dir) =>
      // KMV (bottom-k) distinct-count sketch: per-source unique-document
      // cardinality from the k=64 smallest md5 hashes — fixed k-row state
      // per group through the GroupTopK heap (map-side partials), exact
      // below k, (k-1)/u_k above; every hash and the estimator itself are
      // md5/double arithmetic DuckDB replays bit-identically
      graft.ops.Sketches.kmvDistinct(
        t(s, dir, "documents"), Seq("source"), "text", k = 64)
        .orderBy("source")
    },

    "q122_cms_counts" -> { (s, dir) =>
      // count-min sketch token-frequency service: depth-4 x width-512 md5
      // counter grid over the token multiset (<= 2048 rows out regardless
      // of corpus size), probed for a fixed token set; estimates are the
      // classic min-across-rows upper bound, never an undercount
      val sketch = graft.ops.Sketches.cmsSketch(
        t(s, dir, "documents"), "text", depth = 4, width = 512)
      graft.ops.Sketches.cmsEstimate(sketch, CmsProbes, depth = 4, width = 512)
        .orderBy("token")
    },

    "q123_repeated_spans" -> { (s, dir) =>
      // exact-substring self-dedup, detection half: every non-first
      // occurrence of a verbatim repeated 13-token window within the
      // corpus (owner = (id, pos)-smallest). Windows shuffle by md5, the
      // per-window aggregate is a bounded (min, count) fold
      graft.ops.Dedup.repeatedSpanRemovals(
        t(s, dir, "documents"), "text", "doc_id", span = 13)
        .orderBy("doc_id", "pos")
    },

    "q124_self_dedup_spans" -> { (s, dir) =>
      // exact-substring self-dedup, removal half: cut each repeated span
      // occurrence out of its document (canonical occurrence kept),
      // rebuilt text = surviving case-preserved tokens space-joined;
      // untouched docs keep their original bytes
      graft.ops.Dedup.selfDedupSpans(
        t(s, dir, "documents"), "text", "doc_id", span = 13)
        .select(col("doc_id"), col("text"), length(col("text")).as("n_chars_after"))
        .orderBy("doc_id")
    },

    "q125_kmv_overlap" -> { (s, dir) =>
      // KMV set-operation cardinalities between two overlapping corpus
      // slices: three bottom-k aggregates (per side + merged), never a
      // cross-corpus join — the estimate path for q97's exact overlap
      val docs = t(s, dir, "documents")
      graft.ops.Sketches.kmvOverlap(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 300),
        "text", k = 64)
    },

    "q127_split_leakage" -> { (s, dir) =>
      // eval-hygiene audit: near-dup pairs straddling the q36 split
      // assignment — LSH candidates first, split labels joined onto the
      // pair sliver only (never the corpus cross-product)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val split = graft.ops.Sampling.withSplit(
        docs.select("doc_id"), "doc_id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "graft-r2")
      Dedup.splitLeakagePairs(
        docs.join(split.select("doc_id", "split"), "doc_id"),
        "text", "doc_id", "split", threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    "q128_nfc_normalize" -> { (s, dir) =>
      // Unicode NFC canonicalization (the pre-hash normalization step):
      // decompose every 'e' into e+COMBINING ACUTE deterministically, then
      // NFC must recompose — per-doc code-point counts before/after and a
      // changed flag, all mirrored by DuckDB's nfc_normalize
      val nfc = graft.expressions.NfcNormalize.normalizeNfc _
      t(s, dir, "documents")
        .select(col("doc_id"),
          // "e" + U+0301 COMBINING ACUTE, escaped so no tool can
          // silently recompose this source file
          replace(col("text"), lit("e"), lit("e\u0301")).as("t"))
        .select(col("doc_id"),
          length(col("t")).as("n_decomposed"),
          length(nfc(col("t"))).as("n_nfc"),
          (nfc(col("t")) =!= col("t")).as("changed"))
        .orderBy("doc_id")
    },

    "q131_zorder_key" -> { (s, dir) =>
      // Morton keys for multi-column data skipping: quantize part/supp
      // keys to 8-bit buckets between their global min/max (one broadcast
      // aggregate), interleave bits — pure long shift/and arithmetic the
      // oracle replays term-for-term
      graft.io.Layout.withZOrderKey(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        Seq("l_partkey", "l_suppkey"), bits = 8)
        .select("l_orderkey", "l_linenumber", "zorder_key")
        .orderBy("l_orderkey", "l_linenumber")
    },

    "q130_doc_line_dedup" -> { (s, dir) =>
      // WITHIN-document line dedup (map-side, stream-legal): plant nav
      // chrome + a copy-paste repeat around each doc, then the native
      // expression must keep first occurrences and every blank line
      val planted = t(s, dir, "documents").withColumn("lined",
        concat_ws("\n", lit("Nav | Menu"), col("text"), lit("Nav | Menu"),
          lit(""), col("text"), lit("Footer")))
      planted.select(col("doc_id"),
          graft.expressions.DistinctLines.distinctLines(col("lined")).as("dedup_text"))
        .withColumn("n_lines_after", size(split(col("dedup_text"), "\n", -1)))
        .orderBy("doc_id")
    },

    "q129_grouped_bootstrap" -> { (s, dir) =>
      // per-language error bars from the same one-pass Poisson resampling
      // (a row's replica weight keys on doc_id alone, so slice CIs and the
      // q126 global CI come from one consistent draw)
      graft.ops.Bootstrap.groupedMeanCI(
        t(s, dir, "documents"), Seq("lang"), "doc_id", "n_chars", replicas = 200)
        .orderBy("lang")
    },

    "q126_bootstrap_ci" -> { (s, dir) =>
      // Poisson-bootstrap CI for mean document length: one pass, 200
      // deterministic md5-seeded Poisson(1) replica weights per row,
      // exact integer replica sums, percentile over the 200 means
      graft.ops.Bootstrap.meanCI(
        t(s, dir, "documents"), "doc_id", "n_chars", replicas = 200)
    },

    "q132_bpe_pair_counts" -> { (s, dir) =>
      // BPE merge candidates, round 1: adjacent code-point-pair counts
      // over the word histogram (weights = corpus frequencies) — one
      // corpus tokenizing pass, one histogram aggregate, codegen'd
      // zip_with pair explode; top 30 under the training tie-break
      graft.ops.BpeTrain.initialPairCounts(t(s, dir, "documents"), "text")
        .orderBy(desc("pair_count"), asc("left_sym"), asc("right_sym"))
        .limit(30)
    },

    "q283_bpe_approx_train" -> { (s, dir) =>
      // the PRODUCTION batched-BPE path (exactGreedy = false): up to 3
      // merges commit per aggregation round via the deterministic
      // skip-scan (conflicting candidates are skipped, not stopped at),
      // so rounds ≈ merges / maxBatch. The oracle replays the whole
      // thing — ranked candidates, conflict skips, budget-capped
      // windows, chained greedy rewrites — unrolled in SQL.
      val merges = bpeApproxMerges(t(s, dir, "documents"), dir)
      graft.ops.BpeTrain.mergeTable(s, merges)
    },

    "q133_bpe_train" -> { (s, dir) =>
      // full BPE tokenizer training (Sennrich-style): 12 sequential merge
      // rounds, each ONE aggregation job over the distinct-word histogram
      // + a TakeOrdered argmax; greedy left-to-right rewrite via the
      // native merge-step expression. The oracle RE-TRAINS from scratch
      // in DuckDB and must land on the identical merge table.
      val merges = bpeMerges(t(s, dir, "documents"), dir, BpeNumMerges)
      graft.ops.BpeTrain.mergeTable(s, merges)
    },

    "q134_bpe_token_freq" -> { (s, dir) =>
      // vocabulary-coverage report of the trained tokenizer: corpus-wide
      // subword frequencies after applying all 12 merges in rank order
      // (one native encode pass per DISTINCT word, frequency-weighted —
      // the corpus itself is never re-read)
      val docs = t(s, dir, "documents")
      val merges = bpeMerges(docs, dir, BpeNumMerges)
      graft.ops.BpeTrain.tokenFrequencies(docs, "text", merges)
        .orderBy(desc("freq"), asc("token"))
        .limit(40)
    },

    "q135_bpe_tokens_per_doc" -> { (s, dir) =>
      // sequence-length profile under the trained tokenizer: per-document
      // BPE token counts via the word-cache join (per-word token LENGTH
      // joins back, not token arrays; AQE broadcasts the vocab side)
      val docs = t(s, dir, "documents")
      val merges = bpeMerges(docs, dir, BpeNumMerges)
      graft.ops.BpeTrain.tokensPerDoc(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },

    "q136_sampled_quantiles" -> { (s, dir) =>
      // bounded-state per-group quantiles: deterministic bottom-64 md5
      // uniform sample per language (GroupTopK heap, k rows of state no
      // matter how dominant the group), exact interpolated percentile of
      // the sample — the scale-safe path for q93/winsorize degenerate
      // groups, estimates themselves oracle-green
      graft.ops.Sketches.sampledQuantiles(
        t(s, dir, "documents"), Seq("lang"), "doc_id", "n_chars",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9), k = 64, salt = "graft-sq")
        .orderBy("lang")
    },

    "q137_token_budget" -> { (s, dir) =>
      // token-budget source mixing: admit docs per source in md5 order
      // while the EXCLUSIVE running n_chars total is under 3k — the
      // tokens-denominated quota (mixing recipes budget tokens, not rows)
      graft.ops.Sampling.tokenBudgetSample(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", budget = 3000L, salt = "graft-tb")
        .select("doc_id", "source", "n_chars", "tokens_before", "budget_rank")
        .orderBy("source", "budget_rank")
    },

    "q138_label_centroids" -> { (s, dir) =>
      // per-label mean embeddings via the two-level deterministic fold
      // (sorted per md5 sub-bucket, then sorted over ≤64 partials — the
      // PageRank hub-safe shape): centroid doubles are bit-identical
      // across engines; output exploded per dim for the oracle compare
      graft.ops.Labels.labelCentroids(
        t(s, dir, "embeddings"), "label", "vec_id", "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "m")))
        .select(col("label"), col("dim"), (round(col("m"), 9) + lit(0.0)).as("mean_r"))
        .orderBy("label", "dim")
    },

    "q139_label_noise" -> { (s, dir) =>
      // mislabeled-example screening: the 5 rows per label LEAST similar
      // to their own label centroid (confident-learning-style flagging);
      // heap-ranked on round(cos, 6), ties toward smaller id, no Window
      graft.ops.Labels.labelNoiseCandidates(
        t(s, dir, "embeddings"), "label", "vec_id", "embedding", k = 5)
        .orderBy("label", "noise_rank")
    },

    "q140_hard_negatives" -> { (s, dir) =>
      // contrastive hard-negative mining: for 5 anchor vectors, the 5
      // most-similar corpus rows with a DIFFERENT label — the map-side
      // heap reduces each anchor's candidates before the shuffle
      val emb = t(s, dir, "embeddings")
      graft.ops.Labels.hardNegatives(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", "label", k = 5)
        .orderBy("anchor_id", "neg_rank")
    },

    "q159_hard_negatives_lsh" -> { (s, dir) =>
      // corpus-scale hard-negative mining: candidates from hyperplane-LSH
      // bucket equi-joins (no cartesian anywhere — PlanShapeSpec pins it),
      // exact cosine + heap top-k over the candidate sliver only
      val emb = t(s, dir, "embeddings")
      graft.ops.Labels.hardNegativesLsh(
        emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", "label",
        k = 5, dim = 64, nBits = 8, nTables = 4)
        .orderBy("anchor_id", "neg_rank")
    },

    "q141_incremental_near_dups" -> { (s, dir) =>
      // daily-crawl ingest: new batch (doc_id % 4 = 0) near-dup-matched
      // against the standing index (doc_id % 4 <> 0) — band keys joined
      // CROSS-SIDE only, the index never pairs with itself
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
        "text", "doc_id", threshold = 0.5)
        .orderBy("new_id", "index_id")
    },

    "q142_incremental_dedup" -> { (s, dir) =>
      // the admission half: batch docs that near-dup nothing in the index
      // survive ingest (distinct-ids anti-join over the candidate sliver)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
        "text", "doc_id", threshold = 0.5)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },

    "q143_kmeans_train" -> { (s, dir) =>
      // PORTABLE deterministic k-means (Lloyd): hash-seeded init, literal
      // argmax assignment, two-level-fold updates — unlike the MLlib
      // quantizer, the DuckDB oracle RE-TRAINS all 4 rounds from scratch
      // and must land on bit-identical centroids (round-9 protected)
      val cents = kmCentroids(t(s, dir, "embeddings"), dir)
      val rows = cents.flatMap { case (cid, c, _) =>
        c.zipWithIndex.map { case (x, d) => (cid, d, x) }
      }
      import s.implicits._
      rows.toDF("cluster", "dim", "c")
        .select(col("cluster"), col("dim"), (round(col("c"), 9) + lit(0.0)).as("c_r"))
        .orderBy("cluster", "dim")
    },

    "q144_kmeans_sizes" -> { (s, dir) =>
      // the trained quantizer in use: zero-shuffle assignment of the whole
      // table to its nearest portable-kmeans centroid, per-cluster sizes
      val emb = t(s, dir, "embeddings")
      val cents = kmCentroids(emb, dir)
      Similarity.assignCells(
        emb.filter(col("vec_id").isNotNull && col("embedding").isNotNull),
        "embedding", cents, outCol = "cluster")
        .groupBy("cluster").agg(count(lit(1)).as("n"))
        .orderBy("cluster")
    },

    "q145_source_quality" -> { (s, dir) =>
      // per-source quality triage: the heuristic quality score profiled
      // per source through the bounded sampled-quantile sketch — the
      // report that decides which domains get downweighted, at k rows of
      // state per source regardless of source size
      val scored = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("q"))
      graft.ops.Sketches.sampledQuantiles(scored, Seq("source"), "doc_id", "q",
        Seq("q25" -> 0.25, "q50" -> 0.5, "q90" -> 0.9), k = 16, salt = "graft-sq2")
        .orderBy("source")
    },

    "q146_bpe_packing" -> { (s, dir) =>
      // the tokenizer -> packing handoff: per-doc BPE sequence lengths
      // (trained merges), deterministic shard + shuffle order, then
      // 512-token chunk layout via sharded exclusive prefix sums — the
      // full "tokenize, shuffle, pack" tail of a training-data pipeline
      val docs = t(s, dir, "documents")
      val merges = bpeMerges(docs, dir, BpeNumMerges)
      val lens = graft.ops.BpeTrain.tokensPerDoc(docs, "doc_id", "text", merges)
      val sharded = graft.ops.Sampling.withShuffleOrder(
        lens, "doc_id", numShards = 8, salt = "graft-pack")
      graft.ops.Packing.sequencePacking(
        sharded, "doc_id", "n_bpe_tokens", "shard", budget = 512L,
        orderCol = "shuffle_pos")
        .select("doc_id", "shard", "shuffle_pos", "n_bpe_tokens", "offset",
          "chunk_first", "chunk_last", "n_chunks")
        .orderBy("shard", "shuffle_pos")
    },

    "q147_group_split" -> { (s, dir) =>
      // leakage-proof carving: the split hashes the SOURCE, so a domain's
      // near-identical pages can never straddle train/val/test; output
      // proves coherence (one split per source) and shows the realized
      // row fractions
      val split = graft.ops.Sampling.withGroupSplit(
        t(s, dir, "documents"), "source",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "graft-gs")
      split.groupBy("source", "split").agg(count(lit(1)).as("n"))
        .orderBy("source", "split")
    },

    "q148_trigram_lm" -> { (s, dir) =>
      // interpolated trigram LM perplexity (Jelinek–Mercer λ=0.7/0.2/0.1
      // over ML tri/bi/unigram ratios): the n-gram perplexity filter with
      // every probability an integer-count ratio DuckDB re-derives; the
      // per-doc fold adds count x ln(p̂) over sorted distinct trigrams
      graft.ops.LmScore.trigramScore(
        t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          (round(col("avg_logp"), 6) + lit(0.0)).as("avg_logp_r"),
          (round(col("perplexity"), 6) + lit(0.0)).as("perp_r"))
        .orderBy("doc_id")
    },

    "q149_pq_encode" -> { (s, dir) =>
      // product quantization, storage half: 64 float dims → 4 codeword
      // ids (16 codewords per subspace, portable-kmeans codebooks), one
      // zero-shuffle literal argmax per subspace — the 16x-compressed
      // embedding table a 100-TB deployment persists
      val emb = t(s, dir, "embeddings")
      val cbs = pqCodebooks(emb, dir)
      Similarity.pqEncode(emb, "embedding", cbs)
        .select(col("vec_id"),
          element_at(col("pq_codes"), 1).as("c0"),
          element_at(col("pq_codes"), 2).as("c1"),
          element_at(col("pq_codes"), 3).as("c2"),
          element_at(col("pq_codes"), 4).as("c3"))
        .orderBy("vec_id")
    },

    "q150_pq_topk" -> { (s, dir) =>
      // product quantization, search half: asymmetric-distance top-10 for
      // 5 queries — per-query LUTs of exact subspace distances, corpus
      // scanned as CODES only, heap-ranked (Window-free)
      val emb = t(s, dir, "embeddings")
      val cbs = pqCodebooks(emb, dir)
      val codes = Similarity.pqEncode(emb, "embedding", cbs)
      Similarity.pqTopK(codes, emb.filter(col("vec_id") < 5), cbs, k = 10)
        .orderBy("query_id", "pq_rank")
    },

    "q151_ivf_pq" -> { (s, dir) =>
      // the production FAISS composition: coarse portable-kmeans cells
      // prune to nProbe=3 per query, ADC over PQ codes ranks inside the
      // probed cells — per-query work nProbe/nLists of the corpus at 16x
      // compression, floats never touched after encode
      val emb = t(s, dir, "embeddings")
      val coarse = kmCentroids(emb, dir)
      val cbs = pqCodebooks(emb, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), coarse, cbs,
        k = 10, nProbe = 3)
        .orderBy("query_id", "pq_rank")
    },

    "q152_image_ahash" -> { (s, dir) =>
      // perceptual average-hash of decoded images, integer-exact: the
      // q108 synthetic PPMs (pixel byte = (id*31 + flat) % 256) hash to
      // two 32-bit halves the oracle re-derives arithmetically — the
      // 8-byte artifact a media table persists for dedup
      Multimodal.imageHashes(
        syntheticPpms(t(s, dir, "documents").select("doc_id")), "doc_id", "payload")
        .orderBy("doc_id")
    },

    "q153_image_near_dups" -> { (s, dir) =>
      // image near-dup pairs BETWEEN distinct hash classes: even/odd doc
      // pairs share a base 16x12 image (odd perturbs one SAMPLED pixel
      // by +128), min-id class representatives band by 16-bit keys,
      // bit_count(xor) verifies — exact recall at Hamming <= 3 by
      // pigeonhole; identical-hash members are q155's group report
      val hashes = Multimodal.imageHashes(
        pairedPpms(t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 200)),
        "doc_id", "payload")
      Dedup.imageNearDupPairs(hashes, "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },

    "q160_image_dhash256" -> { (s, dir) =>
      // 256-bit gradient hash (16 rows x 17 sample columns, horizontal
      // gradient sign), integer-exact, as eight non-negative 32-bit words
      // — the artifact that unlocks 32-bit Hamming bands past the 64-bit
      // hash's 65,536-key band ceiling
      Multimodal.imageHashes256(
        pairedPpms(t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 200)),
        "doc_id", "payload")
        .orderBy("doc_id")
    },

    "q161_image_near_dups256" -> { (s, dir) =>
      // near-dup pairs over the 256-bit hash: distinct classes, EIGHT
      // 32-bit band keys (keyspace 2^32 per band — bucket occupancy stays
      // O(1) past 1e9 distinct images), bit_count verify, exact recall at
      // Hamming <= 7 by pigeonhole
      val hashes = Multimodal.imageHashes256(
        pairedPpms(t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 200)),
        "doc_id", "payload")
      Dedup.imageNearDupPairs256(hashes, "doc_id", maxHamming = 7, nBands = 8)
        .orderBy("id_a", "id_b")
    },

    "q168_near_dup_audit" -> { (s, dir) =>
      // estimator-quality audit: every reported near-dup pair carries its
      // EXACT canonical-shingle Jaccard next to the MinHash estimate —
      // exact sets computed only for pair members, never all-pairs
      Dedup.nearDupAudit(
        t(s, dir, "documents").filter(col("doc_id") < 1000),
        "text", "doc_id", threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    "q172_packed_chunks" -> { (s, dir) =>
      // the materialized training sequences: tokenize -> deterministic
      // shuffle order -> 64-token packing -> per-chunk token streams in
      // exact global order (tail chunks run short)
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = TextAnalysis.tokens(col("text"))
      val lens = docs.select(col("doc_id"), toks.as("__toks"),
        when(col("text").isNull, lit(0)).otherwise(size(toks)).as("n_tok"))
      val sharded = graft.ops.Sampling.withShuffleOrder(
        lens, "doc_id", numShards = 8, salt = "graft-pack2")
      val packed = graft.ops.Packing.sequencePacking(
        sharded, "doc_id", "n_tok", "shard", budget = 64L, orderCol = "shuffle_pos")
      graft.ops.Packing.materializeChunks(packed, "__toks", "shard", budget = 64L)
        .withColumn("chunk_text", concat_ws(" ", col("tokens")))
        .select("shard", "chunk_id", "n_tokens", "chunk_text")
        .orderBy("shard", "chunk_id")
    },

    "q177_surrogate_id_chain" -> { (s, dir) =>
      // the string-key on-ramp for the numeric-id contract: UUID-style
      // keys map to dense DETERMINISTIC surrogates (0-based rank in the
      // sorted key order), exact dedup + the grouped top-k heap run on
      // the longs, and the original keys join back — the surrogate never
      // reaches the output, so the whole chain is oracle-replayable
      // (min-surrogate keeper ≡ min-key keeper; heap tiebreak ≡ key asc)
      val docs = t(s, dir, "documents")
        .withColumn("uid", md5(concat(col("doc_id").cast("string"), lit("u"))))
        .select("uid", "text", "source", "n_chars")
      val sr = graft.ops.Ids.withSurrogateId(docs, "uid", "sid")
      val deduped = Dedup.dropExactDups(
        sr.df.select("sid", "uid", "text", "source", "n_chars"), "text", "sid")
      val top = graft.ops.GroupTopK.topKPerGroup(
        deduped, Seq("source"), "sid", "n_chars", k = 3)
      graft.ops.Ids.restoreId(top, sr.mapping, "sid")
        .select(col("source"), col("rank"), col("uid"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("source", "rank")
    },

    "q176_kmv_overlap_matrix" -> { (s, dir) =>
      // all-pairs estimated content overlap between sources over word
      // 5-gram shingles: per-source bottom-64 sketches, pairwise KMV
      // merges — the |sources|^2 stage runs on k-row sketches, not data
      val grams = t(s, dir, "documents")
        .select(col("source"),
          explode(graft.expressions.WordGrams.wordGrams(col("text"), 3)).as("gram"))
      graft.ops.Sketches.kmvOverlapMatrix(grams, "source", "gram", k = 64)
        .orderBy("source_a", "source_b")
    },

    "q175_cross_source_dups" -> { (s, dir) =>
      // mirror detection: source pairs sharing exact canonical classes,
      // reduced to DISTINCT (fingerprint, source) first so a
      // million-copy class contributes its pairs once. A planted mirror
      // of the first 50 docs (re-sourced, re-keyed) guarantees the
      // matrix is non-trivially exercised at every scale factor
      val docs = t(s, dir, "documents")
      val mirrored = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("source", concat(lit("mirror-"), col("source")))
      graft.ops.Reports.crossSourceDupMatrix(docs.unionByName(mirrored))
        .orderBy("source_a", "source_b")
    },

    "q174_bpe_fertility" -> { (s, dir) =>
      // per-source tokenizer fertility under the trained merges: exact
      // token/word totals, the vocab-fit signal for mixing decisions
      val docs = t(s, dir, "documents")
      val merges = bpeMerges(docs, dir, BpeNumMerges)
      graft.ops.BpeTrain.fertility(docs, "doc_id", "text", "source", merges)
        .orderBy("source")
    },

    "q173_chunk_provenance" -> { (s, dir) =>
      // data lineage of the q172 packing: which doc contributed which
      // token span of which chunk — integer arithmetic over offsets,
      // no re-tokenization
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = TextAnalysis.tokens(col("text"))
      val lens = docs.select(col("doc_id"),
        when(col("text").isNull, lit(0)).otherwise(size(toks)).as("n_tok"))
      val sharded = graft.ops.Sampling.withShuffleOrder(
        lens, "doc_id", numShards = 8, salt = "graft-pack2")
      val packed = graft.ops.Packing.sequencePacking(
        sharded, "doc_id", "n_tok", "shard", budget = 64L, orderCol = "shuffle_pos")
      graft.ops.Packing.chunkProvenance(packed, "doc_id", "n_tok", "shard", budget = 64L)
        .orderBy("shard", "chunk_id", "doc_id")
    },

    "q171_epoch_repeats" -> { (s, dir) =>
      // >1-epoch mixing weights: src0 appears 2.5x per epoch (two full
      // copies + a hash-gated 0.5 third), src1 downsampled to 0.25 —
      // pure map-side explode, every copy deterministic
      graft.ops.Sampling.withEpochRepeats(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25), salt = "graft-er")
        .select("doc_id", "source", "n_chars", "epoch_copy")
        .orderBy("doc_id", "epoch_copy")
    },

    "q169_near_dup_audit_summary" -> { (s, dir) =>
      // the one-row verdict on the estimator: pair count, precision at
      // the threshold against exact Jaccard, deterministic-fold MAE
      Dedup.nearDupAuditSummary(
        t(s, dir, "documents").filter(col("doc_id") < 1000),
        "text", "doc_id", threshold = 0.5)
    },

    "q166_corpus_datasheet" -> { (s, dir) =>
      // the per-source dataset card a corpus release ships: exact volume
      // integers, exact-dup burden, deterministic-fold mean quality,
      // majority language — every cell oracle-replayed
      graft.ops.Reports.corpusDatasheet(t(s, dir, "documents"))
        .orderBy("source")
    },

    "q165_classifier_train" -> { (s, dir) =>
      // in-engine PORTABLE classifier training (full-batch GD, rational
      // sigmoid link, two-level deterministic gradient folds): the DuckDB
      // oracle RE-TRAINS all 4 iterations from scratch and must land on
      // bit-identical weights at 9 decimals (the q143-kmeans contract)
      import s.implicits._
      val docs = t(s, dir, "documents")
        .withColumn("y", (col("doc_id") % 2).cast("double"))
      val w = graft.ops.Classifier.trainPortable(
        docs, "text", "y", "doc_id", dim = 64, iters = 4, lr = 0.5)
      w.zipWithIndex.map { case (v, j) => (j.toLong, v) }
        .toDF("j", "w")
        .select(col("j"), (round(col("w"), 9) + lit(0.0)).as("w_r"))
        .orderBy("j")
    },

    "q178_classifier_eval" -> { (s, dir) =>
      // held-out evaluation of the q165-trained gate (train -> gate ->
      // AUDIT): deterministic unit-hash test split, exp-sigmoid scores
      // at the 0.5 threshold, exact confusion counts -> rounded rational
      // metrics; weights come from the per-dir cache so this measures
      // evaluation, and the oracle re-trains from scratch in SQL
      val docs = t(s, dir, "documents")
        .withColumn("y", (col("doc_id") % 2).cast("double"))
      val w = clfTrained(docs, dir)
      graft.ops.Classifier.evaluate(
        docs, "text", "y", "doc_id", w, bias = 0.0, threshold = 0.5, split = "test")
    },

    "q180_video_frame_hashes" -> { (s, dir) =>
      // per-frame 256-bit gradient hashes of REAL concatenated-PPM clip
      // decodes — the 33-byte-per-frame artifact video dedup persists;
      // oracle re-derives the synthetic clips' sampled pixels exactly
      Multimodal.videoFrameHashes(
        pairedClips(t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 100)),
        "doc_id", "payload")
        .orderBy("doc_id", "frame_idx")
    },

    "q181_video_near_dups" -> { (s, dir) =>
      // clip near-dup pairs by frame-set Jaccard: an even/odd pair
      // shares 3 of its 4 distinct frame classes (jaccard 0.6); the
      // pair join is class-equi with a boilerplate-frame frequency cap
      val fh = Multimodal.videoFrameHashes(
        pairedClips(t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 200)),
        "doc_id", "payload")
      Dedup.videoNearDupPairs(fh, "doc_id", minJaccard = 0.5)
        .orderBy("id_a", "id_b")
    },

    "q186_classifier_calibration" -> { (s, dir) =>
      // calibration table of the q165-trained gate: per predicted-
      // probability decile, the deterministic-fold mean prediction vs
      // the exact empirical rate — mean_p != frac_pos per bin is the
      // "threshold lies about volume" audit
      val docs = t(s, dir, "documents")
        .withColumn("y", (col("doc_id") % 2).cast("double"))
      val w = clfTrained(docs, dir)
      graft.ops.Classifier.calibration(
        docs, "text", "y", "doc_id", w, bias = 0.0, nBins = 10)
        .orderBy("bin")
    },

    "q188_random_projection" -> { (s, dir) =>
      // JL random projection 64→16: each component is an IEEE-exact
      // sequential ±chain against the engine's seeded sign matrix, so
      // the oracle interpolates the same chains term-for-term (the q45
      // hyperplane precedent, with the magnitude kept instead of the
      // sign bit)
      val rp = graft.ops.Similarity.randomProject(col("embedding"), 64, 16, seed = 4242L)
      t(s, dir, "embeddings")
        .select(col("vec_id") +: (0 until 16).map(i =>
          roundz(element_at(rp, i + 1), 6).as(s"rp_${i + 1}")): _*)
        .orderBy("vec_id")
    },

    "q189_rp_recall" -> { (s, dir) =>
      // recall@10 of brute-force search in the 16-dim JL space vs the
      // exact 64-dim ranking — the measured answer to "how much ANN
      // quality does the 4× projection buy away?" (recallAtK, the q170
      // audit machinery, on the projected index)
      val emb = t(s, dir, "embeddings")
      val rp = emb.select(col("vec_id"),
        graft.ops.Similarity.randomProject(col("embedding"), 64, 16, seed = 4242L)
          .as("embedding"))
      val approx = Similarity.bruteForceTopKAgg(rp, rp.filter(col("vec_id") < 20), k = 10)
      val exact = Similarity.bruteForceTopKAgg(emb, emb.filter(col("vec_id") < 20), k = 10)
      Similarity.recallAtK(approx, exact, k = 10).orderBy("query_id")
    },

    "q190_top_ngrams" -> { (s, dir) =>
      // exact per-language bigram heavy hitters: map-side n-gram
      // explode, one count shuffle, then the STRING-keyed GroupTopK
      // heap (binary-order tie-break) — no Window, no full sort
      graft.ops.Retrieval.topNgrams(t(s, dir, "documents"), "text", "lang", n = 2, k = 5)
        .orderBy("lang", "rank")
    },

    "q191_ivf_served" -> { (s, dir) =>
      // the q54 search answered from the PERSISTED index: build once per
      // dir (ivfServe), read the preassigned corpus back (partition-
      // pruned by probed cell), same quantizer — shares q54's oracle
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      val path = ivfServe(emb, cents, dir)
      Similarity.ivfTopKPreassigned(
          s.read.parquet(s"$path/corpus"), emb.filter(col("vec_id") < 5),
          k = 10, Similarity.loadIvfCentroids(s, path), nProbe = 4)
        .select(col("query_id"), col("vec_id"),
          roundz(col("cosine"), 6).as("cosine_r"), col("nn_rank"))
        .orderBy("query_id", "nn_rank")
    },

    "q294_mmr_rerank" -> { (s, dir) =>
      // MMR diversification between retrieval and the context window:
      // the q191 served IVF candidates (top-20) re-rank greedily by
      // λ·cosine − (1−λ)·max-sim-to-picked (λ = 0.7), so near-duplicate
      // neighbors collapse and the page covers more of the query's
      // neighborhood — the oracle replays the greedy as a recursive
      // CTE carrying the picked set
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      val path = ivfServe(emb, cents, dir)
      val cand = Similarity.ivfTopKPreassigned(
          s.read.parquet(s"$path/corpus"), emb.filter(col("vec_id") < 5),
          k = 20, Similarity.loadIvfCentroids(s, path), nProbe = 4)
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      graft.ops.Retrieval.mmrRerank(cand, "query_id", "vec_id", "cosine",
          "embedding", k = 10, lambda = 0.7)
        .orderBy("query_id", "mmr_rank")
    },

    "q297_hybrid_mmr" -> { (s, dir) =>
      // the full served first-stage: the q290 hybrid page (top-20)
      // min-max-normalizes its fused scores per query (RRF and cosine
      // live on different scales — normalization makes λ meaningful)
      // and diversifies through MMR with the docs' embeddings — the
      // retrieve → fuse → diversify pipeline in three oracle-pinned
      // steps
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      val ivfPath = ivfServe(emb, cents, dir)
      val bm25Path = bm25Serve(docs, dir)
      val qs = s.createDataFrame(Seq(
          (1L, "query hash join"),
          (2L, "window agg fast"),
          (3L, "customer order value part"))).toDF("qid", "qtext")
        .join(emb.select(col("vec_id").as("qid"), col("embedding")), Seq("qid"))
      val page = graft.ops.Retrieval.hybridSearchPreindexed(
        s, bm25Path, ivfPath, qs, "qid", "qtext", "embedding",
        topK = 20, candK = 10, rrfK = 60, nProbe = 4)
      // barrier: withVec is read twice below (extrema agg + candidate
      // join) and carries the whole served-hybrid pipeline — without it
      // both consumers re-run the BM25+IVF+fuse stack
      val withVec = graft.Checkpoints.localCheckpoint(page.join(
        emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id")))
      val ext = withVec.groupBy("qid")
        .agg(min("rrf_score_r").as("__mn"), max("rrf_score_r").as("__mx"))
      val cand = withVec.join(ext, Seq("qid"))
        .withColumn("rel_n", when(col("__mx") === col("__mn"), lit(1.0))
          .otherwise((col("rrf_score_r") - col("__mn")) /
            (col("__mx") - col("__mn"))))
      graft.ops.Retrieval.mmrRerank(cand, "qid", "doc_id", "rel_n",
          "embedding", k = 10, lambda = 0.7)
        .orderBy("qid", "mmr_rank")
    },

    "q298_doc_collapse" -> { (s, dir) =>
      // the grain adapter between chunk retrieval and doc-grain eval:
      // the q274-served top-10 chunk page collapses to documents by
      // best chunk rank (three chunks of one doc at ranks 1-3 are ONE
      // hit), re-ranked for doc-grain qrels
      val chunks = graft.ops.Retrieval.chunkText(
          t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 50)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
      val idx = bm25ChunkServe(chunks, dir)
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val hits = graft.ops.Retrieval.bm25SearchPreindexed(
        s, idx, qs, "qid", "qtext", topK = 10)
      graft.ops.Retrieval.collapseChunkRanking(hits, "qid", "cid", "rank")
        .orderBy("qid", "doc_rank")
    },

    "q299_chunk_takedown" -> { (s, dir) =>
      // chunk-grain right-to-be-forgotten BY DOCUMENT id: every
      // doc_id % 7 == 3 document forgotten against the chunk index with
      // the cid set recovered from the doclens ledger (no corpus
      // access); serve over the survivor index ≡ rebuild from the
      // surviving documents' chunks, bit for bit
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val idx = chunkTakedown(t(s, dir, "documents"), dir)
      graft.ops.Retrieval.bm25SearchPreindexed(
          s, idx, qs, "qid", "qtext", topK = 5)
        .select(col("qid"), col("rank"),
          expr("cid div 1000").as("doc_id"),
          pmod(col("cid"), lit(1000L)).as("chunk_idx"),
          roundz(col("score"), 6).as("score_r"))
        .orderBy("qid", "rank")
    },

    "q192_skew_report" -> { (s, dir) =>
      // heavy-key diagnostic before a big join/groupBy: top-20 suppliers
      // by lineitem rows with their share — one count shuffle + the
      // string heap, the tail never crosses the exchange
      graft.ops.Reports.skewReport(t(s, dir, "lineitem"), "l_suppkey", k = 20)
        .orderBy("rank")
    },

    "q199_retention_cohorts" -> { (s, dir) =>
      // weekly retention cohorts over the event log: first-bucket
      // cohorting, exact distinct-user activity per (cohort, offset) —
      // all integer bucket math, engine-mirrorable
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("us"))
      graft.ops.Metrics.retentionCohorts(ev, "user_id", col("us"),
          bucketUs = 604800000000L)
        .orderBy("cohort", "offset")
    },

    "q200_event_transitions" -> { (s, dir) =>
      // first-order behavioral transition matrix: consecutive
      // event-type pairs per user (us, event_id order), counts and
      // out-probabilities — the broken-client/bot fingerprint
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("event_id"))
      graft.ops.Metrics.eventTransitions(ev, "user_id", "event_type",
          col("us"), "event_id")
        .orderBy("from_type", "to_type")
    },

    "q201_sessions" -> { (s, dir) =>
      // 30-minute-gap sessionization: one window pass per user (lag +
      // running sum over the SAME window spec = one sort), session-grain
      // stats ride the user partitioning — all integer micro math
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("event_id"))
      graft.ops.Sessions.sessionStats(ev, "user_id", col("us"), "event_id",
          "event_type", gapUs = 1800000000L)
        .orderBy("user_id", "session_seq")
    },

    "q202_funnel" -> { (s, dir) =>
      // ordered conversion funnel signup→view→click→purchase: per-step
      // conditional-min chain over |users|-row frames (each persisted —
      // it feeds the next step AND its own count), ratio assembly on a
      // |steps|-row frame
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
      graft.ops.Sessions.funnel(ev, "user_id", "event_type", col("us"),
          Seq("signup", "view", "click", "purchase"))
        .orderBy("step_idx")
    },

    "q203_fuzzy_join" -> { (s, dir) =>
      // record linkage: customer names within edit distance 1, blocked
      // on nation — equi-join on the block key (no cartesian), length
      // prune + banded threshold levenshtein, loud hot-block ceiling
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), col("c_custkey"), col("c_name"))
      graft.ops.Joins.editDistanceSelfJoin(c, Seq("nationkey"), "c_custkey",
          "c_name", maxDist = 1)
        .select(col("nationkey"), col("id_a"), col("id_b"),
          col("dist").cast("long").as("dist"))
        .orderBy("nationkey", "id_a", "id_b")
    },

    "q204_rolling_rates" -> { (s, dir) =>
      // trailing-3h per-type rates: RANGE frame over the hour ordinal
      // (gaps count as empty buckets), value pre-quantized to integer
      // cents so the rolling sums are exact in any accumulation order
      val ev = t(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000").as("us"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Metrics.rollingBucketAgg(ev, "event_type", col("us"),
          col("cents"), bucketUs = 3600000000L, windowBuckets = 3)
        .orderBy("bucket_type", "bucket")
    },

    "q205_conversion_latency" -> { (s, dir) =>
      // signup→first-purchase latency distribution: two |users|-row
      // aggregates joined on the user key, one exact-percentile row
      // (Spark percentile ≡ DuckDB quantile_cont)
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
      graft.ops.Sessions.conversionLatency(ev, "user_id", "event_type",
        col("us"), "signup", "purchase")
    },

    "q206_activity_histogram" -> { (s, dir) =>
      // events-per-user power-law histogram: exact floor(log2) via
      // length(bin(n))-1 — no FP wobble at power-of-2 boundaries
      graft.ops.Sessions.activityHistogram(t(s, dir, "events"), "user_id")
        .orderBy("log2_bucket")
    },

    "q207_rolling_anomalies" -> { (s, dir) =>
      // burst/outage monitor: hourly per-type counts z-scored against
      // the TRAILING-24h baseline (candidate bucket excluded) — exact
      // integer moments, term-identical IEEE double chain both engines
      val ev = t(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000").as("us"))
      graft.ops.Metrics.rollingAnomalies(ev, "event_type", col("us"),
          bucketUs = 3600000000L, baselineBuckets = 24, k = 3.0)
        .orderBy("bucket_type", "bucket")
    },

    "q208_session_fingerprints" -> { (s, dir) =>
      // bot/replay signatures: md5 of each session's event-type sequence
      // ((us, event_id) order, U+0001 joiner), repeated >= 2 sessions at
      // length >= 2 — only 16-byte hashes cross the final exchange
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("event_id"))
      graft.ops.Sessions.sessionFingerprints(ev, "user_id", col("us"),
          "event_id", "event_type", gapUs = 1800000000L,
          minSessions = 2L, minLen = 2)
        .orderBy(desc("n_sessions"), col("fingerprint"))
    },

    "q209_gap_histogram" -> { (s, dir) =>
      // inter-event cadence profile: per-user consecutive gaps, exact
      // log2 buckets (same-microsecond gaps land in bucket -1) — the
      // data-driven way to pick gapUs and watermark delays
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"))
      graft.ops.Sessions.interEventGaps(ev, "user_id", col("us"), "event_id")
        .orderBy("log2_gap_us")
    },

    "q210_scd2_history" -> { (s, dir) =>
      // SCD Type-2 dimension history: each customer's order stream
      // collapses to half-open validity intervals over the tracked
      // o_orderpriority attribute — a new version opens whenever the
      // priority changes between consecutive orders ((date, orderkey)
      // order); one window pass per key + a run-grain lead()
      val o = t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderpriority"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("obs_us"),
        col("o_orderkey"))
      graft.ops.Snapshot.scd2History(o, Seq("o_custkey"),
          Seq("o_orderpriority"), col("obs_us"), "o_orderkey")
        .orderBy("o_custkey", "version")
    },

    "q211_scd2_incremental" -> { (s, dir) =>
      // incremental SCD2 maintenance: the pre-1997 history is built
      // once, then the 1997+ order tail merges via scd2Apply — closed
      // versions pass through untouched, only open runs + the new
      // observations re-enter the window. Oracle = the FULL rebuild
      // over all observations (the differential that proves the
      // increment exact).
      val o = t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderpriority"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("obs_us"),
        col("o_orderkey"))
      val splitUs = 852076800000000L // 1997-01-01T00:00:00Z in epoch micros
      val hist = graft.ops.Snapshot.scd2History(
        o.filter(col("obs_us") < splitUs),
        Seq("o_custkey"), Seq("o_orderpriority"), col("obs_us"), "o_orderkey")
      graft.ops.Snapshot.scd2Apply(hist,
          o.filter(col("obs_us") >= splitUs),
          Seq("o_custkey"), Seq("o_orderpriority"), col("obs_us"), "o_orderkey")
        .orderBy("o_custkey", "version")
    },

    "q212_k_anonymity" -> { (s, dir) =>
      // privacy audit: is the customer frame k-anonymous on the
      // (nation, segment, balance-band) quasi-identifier tuple? One
      // class aggregate + one |classes|-row verdict; the band is exact
      // integer arithmetic (cents, shifted non-negative before div)
      val c = t(s, dir, "customer").withColumn("bal_band",
        expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000"))
      graft.ops.Privacy.kAnonymityAudit(c,
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5L)
    },

    "q213_k_suppression" -> { (s, dir) =>
      // privacy enforcement: drop every row whose quasi-identifier
      // class has fewer than 8 members — the output is 8-anonymous by
      // construction; |classes|-row build side, one key-grain join
      graft.ops.Privacy.suppressBelowK(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 8L)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .orderBy("c_custkey")
    },

    "q214_record_linkage" -> { (s, dir) =>
      // entity resolution: link customers to a perturbed clone registry
      // (every 3rd name's last char flipped, balances drifted by cents)
      // — candidates from the nation-blocked deletion index on the name
      // anchor, then weighted Edit/Numeric/Exact field scoring on the
      // candidate sliver only
      import graft.ops.Joins
      import graft.ops.Joins.{LinkField, LinkFieldKind}
      val c = t(s, dir, "customer")
      val clone = c.select(
        col("c_nationkey"),
        (col("c_custkey") + lit(1000000L)).as("rid"),
        when(pmod(col("c_custkey"), lit(3)) === 0,
          concat(expr("substring(c_name, 1, length(c_name) - 1)"), lit("X")))
          .otherwise(col("c_name")).as("r_name"),
        (col("c_acctbal") + pmod(col("c_custkey"), lit(7)).cast("double") * lit(0.01))
          .as("r_acctbal"),
        col("c_mktsegment").as("r_segment"))
      Joins.recordLinkage(c, clone, Seq("c_nationkey"), "c_custkey", "rid",
          "c_name", "r_name", anchorMaxDist = 1,
          fields = Seq(
            LinkField("c_name", "r_name", 0.5, LinkFieldKind.Edit),
            LinkField("c_acctbal", "r_acctbal", 0.3, LinkFieldKind.Numeric(100.0)),
            LinkField("c_mktsegment", "r_segment", 0.2, LinkFieldKind.Exact)),
          minScore = 0.9)
        .select(col("c_nationkey"), col("id_a"), col("id_b"), col("anchor_dist"),
          (round(col("sim_c_name"), 6) + lit(0.0)).as("sim_name_r"),
          (round(col("sim_c_acctbal"), 6) + lit(0.0)).as("sim_bal_r"),
          (round(col("sim_c_mktsegment"), 6) + lit(0.0)).as("sim_seg_r"),
          col("match_score_r"))
        .orderBy("id_a", "id_b")
    },

    "q215_triangle_density" -> { (s, dir) =>
      // link-farm/bot-ring signal: per-node triangle participation and
      // local clustering coefficient over the above-average-volume
      // nation trade graph (sparsified with a PURE-INTEGER threshold:
      // cnt * 12500 > total * 21 == cnt > 1.05 * total/625) — the
      // degree-ordered edge iterator bounds wedge volume at |E|^1.5
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val tr = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .groupBy(col("c_nationkey").as("n1"), col("s_nationkey").as("n2"))
        .agg(count(lit(1)).as("cnt"))
      val total = tr.agg(sum(col("cnt")).as("t"))
      val edges = tr.crossJoin(broadcast(total))
        .filter(col("cnt") * lit(12500L) > col("t") * lit(21L))
        .select("n1", "n2")
      graft.ops.Graphs.clusteringCoefficient(edges, "n1", "n2")
        .orderBy("node")
    },

    "q216_join_size_estimate" -> { (s, dir) =>
      // join pre-flight: exact inner-join output cardinality of
      // customer x orders on custkey at KEY grain — two aggregates and
      // a |keys|-row join size up the join without running it
      graft.ops.Reports.joinSizeEstimate(
        t(s, dir, "customer").select(col("c_custkey").as("k")),
        t(s, dir, "orders").select(col("o_custkey").as("k")),
        Seq("k"))
    },

    "q217_quantile_normalize" -> { (s, dir) =>
      // cross-source score calibration: per-language document lengths
      // quantile-mapped onto the pooled length distribution (101-point
      // exact-percentile grid, broadcast lookup + interpolation) — after
      // the map, a global threshold means the same thing in every lang
      graft.ops.Outliers.quantileNormalize(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          Seq("lang"), "n_chars", grid = 100)
        .orderBy("doc_id")
    },

    "q218_rrf_fusion" -> { (s, dir) =>
      // hybrid-retrieval fusion: two per-lang top-20 rankings (length
      // order vs md5 order — stand-ins for keyword and vector systems)
      // fused by reciprocal rank, k=60; terms fold in system-name order,
      // fused ties break toward the smaller doc id through the heap
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "lang", "n_chars", "text")
      val byLen = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("len").as("system"), col("rank"))
      val byHash = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(md5(col("text")).asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("md5").as("system"), col("rank"))
      graft.ops.Retrieval.rrfFuse(byLen.unionByName(byHash),
          "lang", "doc_id", "system", "rank", k = 60, topK = 10)
        .orderBy("lang", "fused_rank")
    },

    "q305_spell_correct" -> { (s, dir) =>
      // SymSpell-style query correction against the corpus vocabulary:
      // the ascii slice of the top-200 df terms is the dictionary; the
      // 50 heaviest >=4-char words, each with its 2nd char dropped,
      // play the misspelled queries; candidates meet through the
      // delete-key join and rank (distance, freq desc, term)
      val d = t(s, dir, "documents")
      val vocab = graft.ops.Retrieval.vocabulary(d, "doc_id", "text", 200)
        .filter(col("term").rlike("^[a-z]+$"))
        .select(col("term"), col("doc_freq"))
      val qs = vocab.filter(length(col("term")) >= 4)
        .orderBy(col("doc_freq").desc, col("term").asc).limit(50)
        .select(col("term").as("qid"),
          concat(col("term").substr(lit(1), lit(1)),
            col("term").substr(lit(3), length(col("term")) - 2)).as("term"))
      graft.ops.Retrieval.spellCorrect(qs, "qid", "term", vocab, "term",
          "doc_freq", topK = 3)
        .orderBy("qid", "sugg_rank")
    },

    "q306_phrase_search" -> { (s, dir) =>
      // quoted-query search: every doc_id % 97 == 1 document donates
      // its first two tokens as a phrase; matches require the tokens
      // CONSECUTIVELY (the prefilter narrows to docs holding all terms,
      // the fold verifies adjacency and counts occurrences)
      val d = t(s, dir, "documents")
      val ph = d.filter(pmod(col("doc_id"), lit(97)) === 1)
        .select(col("doc_id").as("pid"),
          slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 2).as("pt"))
        .filter(size(col("pt")) === 2)
        .select(col("pid"), concat_ws(" ", col("pt")).as("phrase"))
      graft.ops.Retrieval.phraseSearch(d, "doc_id", "text", ph, "pid", "phrase")
        .orderBy("pid", "doc_id")
    },

    "q307_proximity_search" -> { (s, dir) =>
      // proximity retrieval: documents where every query term occurs
      // within a 10-token window in ANY order — the long-pattern
      // relaxation of the q306 phrase match, same prefilter, window
      // fold counts qualifying starts
      val d = t(s, dir, "documents")
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      graft.ops.Retrieval.proximitySearch(d, "doc_id", "text", qs,
          "qid", "qtext", window = 10)
        .orderBy("qid", "doc_id")
    },

    "q308_snippets" -> { (s, dir) =>
      // result presentation: the q248 served page's top-5 hits render
      // their best 10-token span (max distinct query terms covered,
      // ties earliest) as the snippet
      val d = t(s, dir, "documents")
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val idx = bm25Serve(d, dir)
      val hits = graft.ops.Retrieval.bm25SearchPreindexed(
        s, idx, qs, "qid", "qtext", topK = 5)
      graft.ops.Retrieval.extractSnippets(d, "doc_id", "text",
          hits.select("qid", "doc_id"), "qid", qs, "qtext", window = 10)
        .orderBy("qid", "doc_id")
    },

    "q309_phrase_served" -> { (s, dir) =>
      // q306 answered from the PERSISTED positional index: phrase terms
      // prune the postings read to their buckets, slots equi-join the
      // pruned postings, stored position arrays intersect by arithmetic
      // — shares q306's oracle verbatim (served ≡ ad-hoc)
      val d = t(s, dir, "documents")
      val ph = d.filter(pmod(col("doc_id"), lit(97)) === 1)
        .select(col("doc_id").as("pid"),
          slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 2).as("pt"))
        .filter(size(col("pt")) === 2)
        .select(col("pid"), concat_ws(" ", col("pt")).as("phrase"))
      val idx = bm25Positional(d, dir)
      graft.ops.Retrieval.phraseSearchPreindexed(s, idx, ph, "pid", "phrase")
        .orderBy("pid", "doc_id")
    },

    "q310_proximity_served" -> { (s, dir) =>
      // q307 answered from the persisted positional index: stored
      // position arrays + doclens replace the corpus scan — shares
      // q307's oracle verbatim (served ≡ ad-hoc)
      val d = t(s, dir, "documents")
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val idx = bm25Positional(d, dir)
      graft.ops.Retrieval.proximitySearchPreindexed(s, idx, qs,
          "qid", "qtext", window = 10)
        .orderBy("qid", "doc_id")
    },

    "q311_spell_correct2" -> { (s, dir) =>
      // distance-2 correction: the q305 dictionary, queries with chars
      // 2 and 3 SWAPPED (a transposition — unreachable at one edit),
      // met through deletion-of-deletion keys and verified by exact
      // Levenshtein <= 2
      val d = t(s, dir, "documents")
      val vocab = graft.ops.Retrieval.vocabulary(d, "doc_id", "text", 200)
        .filter(col("term").rlike("^[a-z]+$"))
        .select(col("term"), col("doc_freq"))
      val qs = vocab.filter(length(col("term")) >= 4)
        .orderBy(col("doc_freq").desc, col("term").asc).limit(50)
        .select(col("term").as("qid"),
          concat(col("term").substr(lit(1), lit(1)),
            col("term").substr(lit(3), lit(1)),
            col("term").substr(lit(2), lit(1)),
            col("term").substr(lit(4), length(col("term")) - 3)).as("term"))
      graft.ops.Retrieval.spellCorrect(qs, "qid", "term", vocab, "term",
          "doc_freq", topK = 3, maxEdits = 2)
        .orderBy("qid", "sugg_rank")
    },

    "q303_bm25_describe" -> { (s, dir) =>
      // index health report over the q248 serving artifact: exact
      // corpus facts (counts, token totals, doc-length extremes,
      // vocabulary size, postings volume, heaviest df) replayed by the
      // oracle from the source corpus — the bucket-balance columns ride
      // the xxhash64 layout and are spec-pinned instead
      val idx = bm25Serve(t(s, dir, "documents"), dir)
      graft.ops.Retrieval.describeBm25Index(s, idx)
        .select("n_docs", "n_dl", "sum_dl", "avgdl_r", "n_tokenless",
          "min_dl", "max_dl", "vocab_size", "max_df", "postings_rows")
    },

    "q304_ivf_describe" -> { (s, dir) =>
      // cell-balance health report over the q191 serving artifact:
      // corpus volume, quantizer size, used/max/min cell populations
      // and the skew ratio that decides whether nProbe pruning still
      // prunes — assignment is deterministic given the quantizer, so
      // the whole row replays from interpolated centroids
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      val path = ivfServe(emb, cents, dir)
      graft.ops.Similarity.describeIvfIndex(s, path)
    },

    "q300_judging_pool" -> { (s, dir) =>
      // TREC pooling over the q218 run pair: the union of both systems'
      // top-10 per lang with provenance (how many systems, best rank,
      // contributing names) and the judged flag against synthetic
      // qrels (doc_id % 3 == 0 already judged) — the annotation queue
      // is the judged = false slice
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "lang", "n_chars", "text")
      val byLen = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("len").as("system"), col("rank"))
      val byHash = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(md5(col("text")).asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("md5").as("system"), col("rank"))
      val qrels = d.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("lang"), col("doc_id"))
      graft.ops.RankEval.pooledJudgingSet(byLen.unionByName(byHash),
          "lang", "doc_id", "system", "rank", poolDepth = 10,
          qrels = Some(qrels))
        .orderBy("lang", "doc_id")
    },

    "q301_interleave" -> { (s, dir) =>
      // team-draft interleaving of the q218 run pair (k = 10): per lang
      // the two systems merge into one page, each position owned by the
      // drafting team; ties flip the md5-deterministic coin so the
      // oracle's recursive replay agrees draw for draw
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "lang", "n_chars", "text")
      val byLen = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("len").as("system"), col("rank"))
      val byHash = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(md5(col("text")).asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("md5").as("system"), col("rank"))
      graft.ops.RankEval.teamDraftInterleave(byLen.unionByName(byHash),
          "lang", "doc_id", "system", "rank", k = 10)
        .orderBy("lang", "pos")
    },

    "q302_interleave_credit" -> { (s, dir) =>
      // click credit over the q301 page: synthetic clicks land on every
      // position showing a doc_id % 4 == 1 document; per lang the
      // owning teams' click counts decide the winner (null = tie,
      // including the all-silent page — silence is signal)
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "lang", "n_chars", "text")
      val byLen = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("len").as("system"), col("rank"))
      val byHash = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(md5(col("text")).asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("md5").as("system"), col("rank"))
      val page = graft.ops.RankEval.teamDraftInterleave(
        byLen.unionByName(byHash), "lang", "doc_id", "system", "rank", k = 10)
      val clicks = page.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select(col("lang"), col("pos"))
      graft.ops.RankEval.interleaveCredit(page, clicks, "lang", "pos")
        .orderBy("lang")
    },

    "q312_multileave" -> { (s, dir) =>
      // three-system multileaving (len-order, md5-order, reverse-length
      // order) per lang: the draft's coin indexes into the tied teams
      // in name order, so the oracle's recursive replay re-draws the
      // same picks
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "lang", "n_chars", "text")
      val byLen = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("len").as("system"), col("rank"))
      val byHash = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(md5(col("text")).asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("md5").as("system"), col("rank"))
      val byRev = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("rev").as("system"), col("rank"))
      graft.ops.RankEval.teamDraftMultileave(
          byLen.unionByName(byHash).unionByName(byRev),
          "lang", "doc_id", "system", "rank", k = 10)
        .orderBy("lang", "pos")
    },

    "q313_multileave_credit" -> { (s, dir) =>
      // long-format credit over the q312 page: clicks land on every
      // position showing a doc_id % 4 == 1 document; per (lang, team)
      // counts with the strict-max winner flag
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "lang", "n_chars", "text")
      val byLen = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("len").as("system"), col("rank"))
      val byHash = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(md5(col("text")).asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("md5").as("system"), col("rank"))
      val byRev = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("rev").as("system"), col("rank"))
      val page = graft.ops.RankEval.teamDraftMultileave(
        byLen.unionByName(byHash).unionByName(byRev),
        "lang", "doc_id", "system", "rank", k = 10)
      val clicks = page.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select(col("lang"), col("pos"))
      graft.ops.RankEval.multileaveCredit(page, clicks, "lang", "pos")
        .orderBy("lang", "team")
    },

    "q314_multileave_pref" -> { (s, dir) =>
      // who beats whom: the q313 credit readout folded into the
      // pairwise preference matrix — per unordered system pair, the
      // queries each side won strictly on clicks (teams absent from a
      // query's page count zero)
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "lang", "n_chars", "text")
      val byLen = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("len").as("system"), col("rank"))
      val byHash = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(md5(col("text")).asc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("md5").as("system"), col("rank"))
      val byRev = d.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), lit("rev").as("system"), col("rank"))
      val page = graft.ops.RankEval.teamDraftMultileave(
        byLen.unionByName(byHash).unionByName(byRev),
        "lang", "doc_id", "system", "rank", k = 10)
      val clicks = page.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select(col("lang"), col("pos"))
      val credit = graft.ops.RankEval.multileaveCredit(page, clicks, "lang", "pos")
      graft.ops.RankEval.multileavePreference(credit, "lang")
        .orderBy("team_a", "team_b")
    },

    "q219_cusum_changepoints" -> { (s, dir) =>
      // sustained-shift monitor: CUSUM over hourly per-type counts via
      // the prefix identity (running sum - running min) — plain window
      // arithmetic, one sort per series; 0.5 sigma slack, 4 sigma alarm
      val ev = t(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000").as("us"))
      graft.ops.Metrics.cusumChangepoints(ev, "event_type", col("us"),
          bucketUs = 3600000000L)
        .orderBy("series", "bucket")
    },

    "q220_ht_estimate" -> { (s, dir) =>
      // Horvitz–Thompson: estimate per-source corpus totals from a
      // Poisson sample with KNOWN per-doc inclusion probabilities
      // (p = (1 + doc_id % 5)/10, admitted by unit hash) — the exact
      // inverse of the engine's deterministic-acceptance samplers
      val d = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val p = (lit(1.0) + pmod(col("doc_id"), lit(5)).cast("double")) / lit(10.0)
      val sampled = d.withColumn("p", p)
        .filter(graft.ops.Sampling.unitHash(col("doc_id"), "ht") < col("p"))
      graft.ops.Sampling.htEstimate(sampled, "doc_id", "p", "n_chars",
          Seq("source"))
        .orderBy("source")
    },

    "q221_benford_audit" -> { (s, dir) =>
      // fabricated-numbers detector: leading-digit distribution of
      // order totals vs Benford's law — digit extracted exactly from
      // the integer-cents decimal string, no log10 boundary wobble
      graft.ops.Expectations.benfordAudit(t(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")
    },

    "q222_reciprocity" -> { (s, dir) =>
      // bot-ring complement to q215: per-nation fraction of directed
      // above-average trade edges answered by the reverse edge
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val tr = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .groupBy(col("c_nationkey").as("n1"), col("s_nationkey").as("n2"))
        .agg(count(lit(1)).as("cnt"))
      val total = tr.agg(sum(col("cnt")).as("t"))
      val edges = tr.crossJoin(broadcast(total))
        .filter(col("cnt") * lit(12500L) > col("t") * lit(21L))
        .select("n1", "n2")
      graft.ops.Graphs.reciprocity(edges, "n1", "n2").orderBy("node")
    },

    "q223_attribution" -> { (s, dir) =>
      // multi-touch attribution: linear credit of purchases across the
      // view/click touches in the trailing 24h — per-user interval
      // join, conv-id-ordered share fold
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("event_id"))
      graft.ops.Metrics.attribution(ev, "user_id", "event_type", col("us"),
          "event_id", conversionType = "purchase",
          touchTypes = Seq("view", "click"), model = "linear",
          lookbackUs = 86400000000L)
        .orderBy("touch_type")
    },

    "q224_horizon_dedup" -> { (s, dir) =>
      // re-crawl TTL policy: a (user, type) event repeated within 120h
      // is a duplicate; past the horizon it is a fresh version — greedy
      // anchors, one shuffle + streaming scan. The events table spans
      // 720h, so at most 7 anchors exist per key and the oracle's fixed
      // 8-round chained-CTE replay is provably sufficient.
      val ev = t(s, dir, "events").select(
        col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"), col("event_id"))
      graft.ops.Dedup.horizonDedup(ev, Seq("user_id", "event_type"),
          "us", "event_id", horizonUs = 432000000000L)
        .orderBy("user_id", "event_type", "us")
    },

    "q225_k_core" -> { (s, dir) =>
      // community cohesion: the 13-core of the thresholded trade graph
      // (iterative sub-k peel to the fixpoint; a bot ring's mutual core
      // survives, organic periphery peels). Oracle: a fixed 26-round
      // chained-CTE replay — 25 nodes bound the peel at 25 rounds, so
      // 26 are provably sufficient.
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val tr = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .groupBy(col("c_nationkey").as("n1"), col("s_nationkey").as("n2"))
        .agg(count(lit(1)).as("cnt"))
      val total = tr.agg(sum(col("cnt")).as("t"))
      val edges = tr.crossJoin(broadcast(total))
        .filter(col("cnt") * lit(12500L) > col("t") * lit(21L))
        .select("n1", "n2")
      graft.ops.Graphs.kCore(edges, "n1", "n2", k = 13).orderBy("node")
    },

    "q226_connected_components" -> { (s, dir) =>
      // entity-resolution closure: fuzzy-name matches (edit distance 1,
      // nation-blocked — the q203 pair set) CHAIN into entity groups;
      // connected components names each group by its minimum custkey.
      // Min-label propagation + pointer jumping, localCheckpoint per
      // round, loud maxIter backstop.
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), col("c_custkey"), col("c_name"))
      val pairs = graft.ops.Joins.editDistanceSelfJoin(c, Seq("nationkey"),
        "c_custkey", "c_name", maxDist = 1)
      graft.ops.Graphs.connectedComponents(pairs, "id_a", "id_b")
        .orderBy("node")
    },

    "q227_prefix_jaccard" -> { (s, dir) =>
      // lossless scalable twin of q42: exact all-pairs shingle-set
      // Jaccard via prefix filtering — candidates only from each doc's
      // rarest |A|-ceil(t|A|)+1 shingles, zero recall loss (q42's
      // maxDocFreq cap trades recall for the same bound). 3-gram
      // shingles (the contamination-family convention): this corpus is
      // template-generated, so unigram sets are near-saturated while
      // shingle matches isolate the true near-dups sharply
      graft.ops.Dedup.prefixJaccardJoin(
        t(s, dir, "documents"), "text", "doc_id", threshold = 0.5, ngram = 3)
        .orderBy("id_a", "id_b")
    },

    "q228_personalized_pagerank" -> { (s, dir) =>
      // TrustRank-shape seeded authority: teleport mass only on nations
      // {0, 5, 10} — rank measures proximity to the blessed seed set
      // (a link farm can inflate global PageRank, not seed proximity)
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      graft.ops.Graphs.personalizedPageRank(edges, "src", "dst",
          seeds = Seq(0L, 5L, 10L), iterations = 5)
        .select(col("node"), roundz(col("rank"), 9).as("rank_r"))
        .orderBy("node")
    },

    "q229_tfidf_keywords" -> { (s, dir) =>
      // per-doc top-3 TF-IDF keywords: tf x ln(N/df), heap-ranked
      // (score desc, binary-smaller token ties) — corpus tagging
      graft.ops.TextAnalysis.tfidfKeywords(
        t(s, dir, "documents"), "text", "doc_id", k = 3)
        .orderBy("doc_id", "rank")
    },

    "q230_seasonal_anomalies" -> { (s, dir) =>
      // hour-of-day-aware burst detection: each (type, hour) cell
      // z-scored against the OTHER cells of its phase (leave-one-out
      // exact moments) — the monitor a daily traffic cycle doesn't trip
      val ev = t(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000").as("us"))
      graft.ops.Metrics.seasonalAnomalies(ev, "event_type", col("us"),
          bucketUs = 3600000000L, period = 24, k = 3.0)
        .orderBy("series", "bucket")
    },

    "q231_profile_diff" -> { (s, dir) =>
      // release-to-release column drift: the q197 snapshot split, plus
      // every 5th cur doc loses its lang — the null-rate drift the
      // profile gate must name; row-level diff (q197) names the KEYS,
      // this names the COLUMNS
      val d = t(s, dir, "documents")
      val prev = d.filter(col("doc_id") < 800)
      val cur = d.filter(col("doc_id") >= 200 && col("doc_id") < 1000)
        .withColumn("lang",
          when(pmod(col("doc_id"), lit(5)) === 0, lit(null).cast("string"))
            .otherwise(col("lang")))
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.ops.Reports.columnProfileDiff(prev, cur,
          Seq("text", "lang", "source", "n_chars"))
        .orderBy("column")
    },

    "q232_weighted_sample_norep" -> { (s, dir) =>
      // Efraimidis–Spirakis weighted draw without replacement: 5 docs
      // per lang, probability proportional to length, deterministic
      // (ln(unitHash)/w keys, heap top-k — no pow, no window)
      val d = t(s, dir, "documents")
        .withColumn("w", col("n_chars") + lit(1L))
      graft.ops.Sampling.weightedSampleNoReplacement(d, "doc_id", "w",
          Seq("lang"), k = 5, salt = "es")
        .orderBy("lang", "rank")
    },

    "q233_robust_outliers" -> { (s, dir) =>
      // median/MAD robust z per lang: the outlier detector the outliers
      // themselves can't drag (50% breakdown vs the q85 mean/sigma)
      graft.ops.Outliers.withGroupRobustZscore(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), "n_chars")
        .orderBy("doc_id")
    },

    "q234_event_paths" -> { (s, dir) =>
      // behavioral motif mining: top-25 3-step event sequences — the
      // discovery complement of the q202 funnel (and the table a bot's
      // mechanical loop dominates first)
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"), col("event_id"))
      graft.ops.Sessions.eventPaths(ev, "user_id", "event_type", col("us"),
          "event_id", depth = 3, k = 25)
        .orderBy("rank")
    },

    "q235_entity_keepers" -> { (s, dir) =>
      // the ER last mile: q203 fuzzy matches -> q226 components -> each
      // entity keeps its highest-acctbal record (ties to smaller id);
      // unmatched customers are their own singleton keepers
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"),
        col("c_custkey"), col("c_name"), col("c_acctbal"))
      val pairs = graft.ops.Joins.editDistanceSelfJoin(c, Seq("nationkey"),
        "c_custkey", "c_name", maxDist = 1)
      graft.ops.Joins.entityKeepers(c, pairs, "c_custkey", "c_acctbal")
        .orderBy("node")
    },

    "q236_theil_sen" -> { (s, dir) =>
      // robust per-type trend: median pairwise slope over hourly
      // buckets — the drift answer a burst can't drag (q233's
      // philosophy applied to trends)
      val ev = t(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000").as("us"))
      graft.ops.Metrics.theilSenTrend(ev, "event_type", col("us"),
          bucketUs = 3600000000L)
        .orderBy("series")
    },

    "q237_collocations" -> { (s, dir) =>
      // corpus collocations: top-25 adjacent pairs by PMI (ln-decomposed,
      // overflow-free), pair count floored at 5 — the multi-word
      // expression detector
      graft.ops.TextAnalysis.collocations(
        t(s, dir, "documents"), "text", "doc_id", minCount = 5L, k = 25)
        .orderBy("rank")
    },

    "q238_interval_coverage" -> { (s, dir) =>
      // SLA-style coverage: each lineitem opens a 7-day shipping window;
      // per supplier, the union of windows (islands), covered time,
      // coverage ratio, and the largest hole — one window pass per key
      val iv = t(s, dir, "lineitem")
        .select(col("l_suppkey"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("s_us"))
        .withColumn("e_us", col("s_us") + lit(604800000000L))
      graft.ops.Joins.intervalCoverage(iv, Seq("l_suppkey"), "s_us", "e_us")
        .orderBy("l_suppkey")
    },

    "q239_decay_activity" -> { (s, dir) =>
      // recency-decayed engagement: exact dyadic half-life weights
      // (2^-k per elapsed day), no transcendentals — the deterministic
      // twin of exp-decay scoring; 30-day horizon drops dead accounts
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("us"))
      graft.ops.Metrics.decayActivity(ev, "user_id", col("us"),
          halfLifeUs = 86400000000L, horizon = 30)
        .orderBy("user_id")
    },

    "q240_ab_test" -> { (s, dir) =>
      // launch review: hash-bucketed assignment (exactly how real A/B
      // units are assigned), per-user conversion flag, pooled
      // two-proportion z — all integer counts into one IEEE sequence
      val users = t(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(col("event_type") === "purchase").as("converted"))
        .withColumn("variant",
          when(graft.ops.Sampling.unitHash(col("user_id"), "ab") < 0.5, "A")
            .otherwise("B"))
      graft.ops.Metrics.abProportionTest(users, "variant", "converted")
    },

    "q241_funnel_latency" -> { (s, dir) =>
      // step-to-step funnel timing: the wait between consecutive
      // first-reach times — where the funnel's time, not its drop, is
      // the product problem
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      graft.ops.Sessions.funnelStepLatency(ev, "user_id", "event_type",
          col("us"), Seq("signup", "view", "click", "purchase"))
        .orderBy("step_idx")
    },

    "q242_activity_gini" -> { (s, dir) =>
      // traffic concentration: Gini over per-user event counts + the
      // heaviest user's share — the bot-farm smell and the skew
      // forecast for per-user joins; scalable rank, no global window
      graft.ops.Metrics.activityConcentration(t(s, dir, "events"), "user_id")
    },

    "q243_neyman_allocation" -> { (s, dir) =>
      // review-budget allocation: 1000 labels across sources, n_h ∝
      // N_h·σ_h — variance-optimal stratified sampling, exact moments
      graft.ops.Sampling.neymanAllocation(
        t(s, dir, "documents"), Seq("source"), "n_chars", totalBudget = 1000L)
        .orderBy("source")
    },

    "q244_weighted_median" -> { (s, dir) =>
      // byte-weighted median length per lang: "half this language's
      // BYTES live in docs shorter than X" — the unweighted median
      // answers a doc-count question nobody asked
      graft.ops.Outliers.weightedQuantile(
        t(s, dir, "documents").filter(col("n_chars") > 0),
        Seq("lang"), "n_chars", "n_chars", p = 0.5)
        .orderBy("lang")
    },

    "q245_next_event_accuracy" -> { (s, dir) =>
      // Markov predictability: train argmax transitions on the first
      // half of the log (midpoint split), evaluate top-1 on the second
      // — a bot farm's arrival shows as an accuracy jump
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"), col("event_id"))
      val mm = ev.agg(min(col("us")), max(col("us"))).head()
      val split = (mm.getLong(0) + mm.getLong(1)) / 2
      graft.ops.Metrics.nextEventAccuracy(ev, "user_id", "event_type",
        col("us"), "event_id", split)
    },

    "q246_repeated_span_islands" -> { (s, dir) =>
      // ExactSubstr reporting artifact: MAXIMAL repeated-span intervals
      // per doc — the interval union of q123's window removals (a
      // repeated region of L >= 13 tokens merges its L-12 windows into
      // one island whose length is the true repeated length); one
      // md5-keyed window aggregate, no pair join, islands over a
      // unique-pos total order
      graft.ops.Dedup.repeatedSpans(
        t(s, dir, "documents"), "text", "doc_id", span = 13)
        .orderBy("doc_id", "span_start")
    },

    "q247_cc_incremental" -> { (s, dir) =>
      // incremental entity resolution: build components from 2/3 of the
      // q226 fuzzy-match pair graph, then ccApply the remaining third —
      // the history is scanned (broadcast semi + relabel), never
      // re-contracted; the oracle is the FULL-graph flood (increment ≡
      // rebuild is the operator's contract)
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), col("c_custkey"), col("c_name"))
      val pairs = graft.Checkpoints.trackCache(
        graft.ops.Joins.editDistanceSelfJoin(c, Seq("nationkey"),
          "c_custkey", "c_name", maxDist = 1).persist())
      val hist = pairs.filter(pmod(col("id_a"), lit(3)) =!= 0)
      val inc = pairs.filter(pmod(col("id_a"), lit(3)) === 0)
      // ccIncremental ≡ ccApply(connectedComponents(hist), inc) with the
      // independent history-contraction and increment-preamble subtrees
      // run as concurrent jobs (guide §2.6) — same operators, same result
      graft.ops.Graphs.ccIncremental(hist, inc, "id_a", "id_b")
        .orderBy("node")
    },

    "q248_bm25_preindexed" -> { (s, dir) =>
      // lexical serving from the PERSISTED postings index (built once
      // per sf dir, bucket-pruned reads, shared scoring tail): replays
      // q84's oracle exactly — the corpus is never re-tokenized
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val idx = bm25Serve(t(s, dir, "documents"), dir)
      graft.ops.Retrieval.bm25SearchPreindexed(
        s, idx, qs, "qid", "qtext", topK = 10)
        .select(col("qid"), col("rank"), col("doc_id"), roundz(col("score"), 6).as("score_r"))
        .orderBy("qid", "rank")
    },

    "q249_unigram_train" -> { (s, dir) =>
      // SentencePiece-style unigram vocabulary: candidate substrings ->
      // 2 hard-EM Viterbi rounds on the distinct-word histogram; the
      // oracle re-trains the identical recipe in SQL (DP unrolled)
      graft.ops.UnigramTrain.vocabTable(
        s, unigramVocab(t(s, dir, "documents"), dir))
        .orderBy("vocab_rank")
    },

    "q250_unigram_fertility" -> { (s, dir) =>
      // fertility comparison row vs BPE (the vocabulary-family decision
      // metric): tokens-per-word per source under BOTH trained
      // tokenizers, one row per source with the delta
      val docs = t(s, dir, "documents")
      val uni = graft.ops.UnigramTrain.fertility(
        docs, "doc_id", "text", "source", unigramVocab(docs, dir))
        .select(col("source"), col("n_words"),
          col("n_tokens").as("n_uni_tokens"), col("fertility_r").as("uni_fertility_r"))
      val bpe = graft.ops.BpeTrain.fertility(
        docs, "doc_id", "text", "source", bpeMerges(docs, dir, BpeNumMerges))
        .select(col("source"), col("n_bpe_tokens"),
          col("fertility_r").as("bpe_fertility_r"))
      uni.join(bpe, Seq("source"))
        .select(col("source"), col("n_words"), col("n_uni_tokens"),
          col("n_bpe_tokens"), col("uni_fertility_r"), col("bpe_fertility_r"),
          (round(col("bpe_fertility_r") - col("uni_fertility_r"), 6) + lit(0.0))
            .as("uni_advantage_r"))
        .orderBy("source")
    },

    "q251_unigram_tokens_per_doc" -> { (s, dir) =>
      // sequence-length profile under the trained unigram vocab (the
      // q135 BPE sibling): distinct-word Viterbi lengths joined back at
      // doc grain; oracle re-trains + re-encodes in SQL
      val docs = t(s, dir, "documents")
      graft.ops.UnigramTrain.tokensPerDoc(
        docs, "doc_id", "text", unigramVocab(docs, dir))
        .orderBy("doc_id")
    },

    "q252_entity_keepers_incremental" -> { (s, dir) =>
      // the FULL incremental entity-resolution loop: standing components
      // from 2/3 of the fuzzy pair graph, ccApply merges the last third,
      // entityKeepersFromComponents names the survivors — no
      // re-contraction of the standing graph; the oracle is q235's full
      // derivation (increment ≡ rebuild end to end)
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), col("c_custkey"), col("c_name"))
      val pairs = graft.Checkpoints.trackCache(
        graft.ops.Joins.editDistanceSelfJoin(c, Seq("nationkey"),
          "c_custkey", "c_name", maxDist = 1).persist())
      val hist = pairs.filter(pmod(col("id_a"), lit(3)) =!= 0)
      val inc = pairs.filter(pmod(col("id_a"), lit(3)) === 0)
      // concurrent history-CC + increment preamble (the q247 note)
      val comps = graft.Checkpoints.trackCache(
        graft.ops.Graphs.ccIncremental(hist, inc, "id_a", "id_b").persist())
      graft.ops.Joins.entityKeepersFromComponents(
        t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal")),
        comps, "c_custkey", "c_acctbal")
        .orderBy("node")
    },

    "q253_unigram_doc_logprob" -> { (s, dir) =>
      // per-doc mean piece ln-prob under the trained unigram LM — the
      // fluency gate the tokenizer family feeds; word folds in
      // segmentation order, doc folds in position order (q84 sorted-fold
      // convention), oracle re-trains + re-derives both folds
      val docs = t(s, dir, "documents")
      graft.ops.UnigramTrain.docLogProb(
        docs, "doc_id", "text", unigramVocab(docs, dir))
        .orderBy("doc_id")
    },

    "q284_judge_kappa" -> { (s, dir) =>
      // the inter-annotator agreement MATRIX over the q254 panel:
      // chance-corrected pairwise Cohen's kappa — the md5-coin judge
      // lands near 0 against everyone while the correlated heuristics
      // pair high; the whole statistic is one exact-integer ratio
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def judge(name: String, label: Column) =
        d.select(col("doc_id"), lit(name).as("judge"), label.as("label"))
      val nTok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val nDist = size(graft.expressions.WordGrams.distinctTokens(col("text")))
      val uh = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("graft-judge"))), 1, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)
      val votes = judge("len", when(col("n_chars") >= 300, "hi").otherwise("lo"))
        .unionByName(judge("tok", when(nTok >= 50, "hi").otherwise("lo")))
        .unionByName(judge("dtr",
          when(nTok > 0 && lit(2) * nDist >= nTok, "hi").otherwise("lo")))
        .unionByName(judge("lang", when(col("lang") === "en", "hi").otherwise("lo")))
        .unionByName(judge("fuzz", when(uh >= 0.5, "hi").otherwise("lo")))
      graft.ops.Judges.pairwiseKappa(votes, "doc_id", "judge", "label")
        .orderBy("judge_a", "judge_b")
    },

    "q285_krippendorff" -> { (s, dir) =>
      // the one-number agreement summary over the same panel, on a
      // vote frame with MISSING ratings (each judge abstains on a
      // deterministic doc_id slice — the case pairwise kappa can't
      // summarize): Krippendorff's nominal alpha, exact integer
      // coincidences, the observed side folded by panel size
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def judge(name: String, m: Int, label: Column) =
        d.filter(pmod(col("doc_id"), lit(7)) =!= m)
          .select(col("doc_id"), lit(name).as("judge"), label.as("label"))
      val nTok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val uh = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("graft-judge"))), 1, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)
      val votes = judge("len", 0, when(col("n_chars") >= 300, "hi").otherwise("lo"))
        .unionByName(judge("tok", 1, when(nTok >= 50, "hi").otherwise("lo")))
        .unionByName(judge("lang", 2,
          when(col("lang") === "en", "hi").otherwise("lo")))
        .unionByName(judge("fuzz", 3, when(uh >= 0.5, "hi").otherwise("lo")))
      graft.ops.Judges.krippendorffAlpha(votes, "doc_id", "judge", "label")
    },

    "q291_krippendorff_interval" -> { (s, dir) =>
      // the same abstention-riddled panel with GRADED 0–3 labels
      // (quality scores — the family's actual payload): interval-metric
      // alpha weights a near-miss (2 vs 3) under a full split (0 vs 3)
      // via δ = (a−b)² — exact integer squared-difference sums on both
      // disagreement sides, observed side folded by panel size
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def judge(name: String, m: Int, label: Column) =
        d.filter(pmod(col("doc_id"), lit(7)) =!= m)
          .select(col("doc_id"), lit(name).as("judge"), label.as("label"))
      val nTok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val uh = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("graft-judge"))), 1, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)
      val votes = judge("len", 0,
          least(floor(col("n_chars") / lit(200)).cast("long"), lit(3L)))
        .unionByName(judge("tok", 1, least(floor(nTok / lit(30)).cast("long"), lit(3L))))
        .unionByName(judge("lang", 2,
          when(col("lang") === "en", 3L).otherwise(1L)))
        .unionByName(judge("fuzz", 3, floor(uh * lit(4.0)).cast("long")))
      graft.ops.Judges.krippendorffAlpha(votes, "doc_id", "judge", "label",
        metric = "interval")
    },

    "q286_l_diversity" -> { (s, dir) =>
      // attribute-disclosure audit on top of q212's k-anonymity: the
      // (nation, segment) classes may each hold many customers, but if
      // a class's balance band is uniform, membership alone leaks it —
      // l-diversity counts distinct sensitive values per class
      val c = t(s, dir, "customer").withColumn("bal_band",
        expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000"))
      graft.ops.Privacy.lDiversityAudit(c,
        Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 8L)
    },

    "q254_judge_consensus" -> { (s, dir) =>
      // LLM-as-judge ensemble vetting: five deterministic heuristic
      // judges (length, token count, distinct-token ratio, language,
      // and a DELIBERATELY unreliable md5-coin judge) vote hi/lo per
      // doc; agreement weighting discounts the coin — raw-majority
      // round, exact-integer reliabilities, judge-ordered weight folds
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def judge(name: String, label: Column) =
        d.select(col("doc_id"), lit(name).as("judge"), label.as("label"))
      val nTok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val nDist = size(graft.expressions.WordGrams.distinctTokens(col("text")))
      val uh = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("graft-judge"))), 1, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)
      val votes = judge("len", when(col("n_chars") >= 300, "hi").otherwise("lo"))
        .unionByName(judge("tok", when(nTok >= 50, "hi").otherwise("lo")))
        .unionByName(judge("dtr",
          when(nTok > 0 && lit(2) * nDist >= nTok, "hi").otherwise("lo")))
        .unionByName(judge("lang", when(col("lang") === "en", "hi").otherwise("lo")))
        .unionByName(judge("fuzz", when(uh >= 0.5, "hi").otherwise("lo")))
      graft.ops.Judges.judgeConsensus(votes, "doc_id", "judge", "label")
        .orderBy("doc_id")
    },

    "q255_judge_reliability" -> { (s, dir) =>
      // the labeler report card over the same five-judge panel: items
      // seen + agreement rate vs the weighted consensus — the md5-coin
      // judge surfaces at ~0.5 while the correlated heuristics score high
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def judge(name: String, label: Column) =
        d.select(col("doc_id"), lit(name).as("judge"), label.as("label"))
      val nTok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val nDist = size(graft.expressions.WordGrams.distinctTokens(col("text")))
      val uh = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("graft-judge"))), 1, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)
      val votes = judge("len", when(col("n_chars") >= 300, "hi").otherwise("lo"))
        .unionByName(judge("tok", when(nTok >= 50, "hi").otherwise("lo")))
        .unionByName(judge("dtr",
          when(nTok > 0 && lit(2) * nDist >= nTok, "hi").otherwise("lo")))
        .unionByName(judge("lang", when(col("lang") === "en", "hi").otherwise("lo")))
        .unionByName(judge("fuzz", when(uh >= 0.5, "hi").otherwise("lo")))
      graft.ops.Judges.judgeReliability(votes, "doc_id", "judge", "label")
        .orderBy("judge")
    },

    "q260_unigram_pack" -> { (s, dir) =>
      // the tokenizer->packing integration over REAL subword output:
      // trained-vocab piece ids per doc (word-cache Viterbi, ids = the
      // pinned vocab rank), doc_id % 4 shards, 128-id budget, exact
      // global stream order; the oracle re-trains + re-encodes + re-
      // packs the identical chain in SQL
      val docs = t(s, dir, "documents")
      val enc = graft.ops.UnigramTrain.encodeDocs(
        docs, "doc_id", "text", unigramVocab(docs, dir))
        .withColumn("shard", pmod(col("doc_id"), lit(4L)))
      val packed = graft.ops.Packing.sequencePacking(
        enc, "doc_id", "n_pieces", "shard", budget = 128L, orderCol = "doc_id")
      graft.ops.Packing.materializeChunks(packed, "piece_ids", "shard", budget = 128L)
        .withColumn("chunk_ids",
          concat_ws(" ", transform(col("tokens"), _.cast("string"))))
        .select("shard", "chunk_id", "n_tokens", "chunk_ids")
        .orderBy("shard", "chunk_id")
    },

    "q261_unigram_provenance" -> { (s, dir) =>
      // lineage over the q260 subword packing: which document
      // contributed which piece-id span of which training chunk — the
      // takedown/contamination index now speaks real tokenizer output,
      // not whitespace proxies
      val docs = t(s, dir, "documents")
      val enc = graft.ops.UnigramTrain.encodeDocs(
        docs, "doc_id", "text", unigramVocab(docs, dir))
        .withColumn("shard", pmod(col("doc_id"), lit(4L)))
      val packed = graft.ops.Packing.sequencePacking(
        enc, "doc_id", "n_pieces", "shard", budget = 128L, orderCol = "doc_id")
      graft.ops.Packing.chunkProvenance(packed, "doc_id", "n_pieces", "shard", budget = 128L)
        .orderBy("shard", "chunk_id", "doc_id")
    },

    "q271_pack_intact" -> { (s, dir) =>
      // document-intact packing (the SFT discipline: examples never
      // split): next-fit bins in id order within doc_id % 4 shards,
      // 2000-char budget; the oracle replays the sequential recurrence
      // as a recursive CTE
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
        .select(pmod(col("doc_id"), lit(4L)).as("shard"),
          col("doc_id"), col("n_chars"))
      graft.ops.Packing.packDocsIntact(d, "doc_id", "n_chars", "shard",
          budget = 2000L)
        .orderBy("shard", "doc_id")
    },

    "q270_judge_served" -> { (s, dir) =>
      // serving-path parity for the judge family: the q254 panel scored
      // through the STANDING-counter path (judgeCounters ->
      // consensusWithCounters) — the streaming loop's arithmetic on a
      // deterministic panel; shares q254's oracle verbatim
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def judge(name: String, label: Column) =
        d.select(col("doc_id"), lit(name).as("judge"), label.as("label"))
      val nTok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val nDist = size(graft.expressions.WordGrams.distinctTokens(col("text")))
      val uh = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("graft-judge"))), 1, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)
      val votes = judge("len", when(col("n_chars") >= 300, "hi").otherwise("lo"))
        .unionByName(judge("tok", when(nTok >= 50, "hi").otherwise("lo")))
        .unionByName(judge("dtr",
          when(nTok > 0 && lit(2) * nDist >= nTok, "hi").otherwise("lo")))
        .unionByName(judge("lang", when(col("lang") === "en", "hi").otherwise("lo")))
        .unionByName(judge("fuzz", when(uh >= 0.5, "hi").otherwise("lo")))
      val counters = graft.ops.Judges.judgeCounters(votes, "doc_id", "judge", "label")
      graft.ops.Judges.consensusWithCounters(
          votes, counters, "doc_id", "judge", "label")
        .orderBy("doc_id")
    },

    "q269_rag_chunks" -> { (s, dir) =>
      // the RAG ingestion chain end to end: fixed-window chunking (the
      // q86 slicer), a surrogate chunk id, BM25 retrieval AT CHUNK
      // GRAIN, and integer provenance back to (doc_id, chunk_idx) —
      // retrieval that points into the document, not just at it
      val chunks = graft.ops.Retrieval.chunkText(
          t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 50)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      graft.ops.Retrieval.bm25Search(chunks, "cid", "chunk", qs, "qid", "qtext",
          topK = 5)
        .select(col("qid"), col("rank"),
          expr("cid div 1000").as("doc_id"),
          pmod(col("cid"), lit(1000L)).as("chunk_idx"),
          roundz(col("score"), 6).as("score_r"))
        .orderBy("qid", "rank")
    },

    "q274_rag_chunks_served" -> { (s, dir) =>
      // q269 answered from the PERSISTED chunk-grain index: build once
      // per sf dir, serve via the bucket-pruned preindexed search, map
      // the surrogate cid back to (doc_id, chunk_idx) — shares q269's
      // oracle verbatim (same chunker, same postings arithmetic)
      val chunks = graft.ops.Retrieval.chunkText(
          t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 50)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
      val idx = bm25ChunkServe(chunks, dir)
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      graft.ops.Retrieval.bm25SearchPreindexed(
          s, idx, qs, "qid", "qtext", topK = 5)
        .select(col("qid"), col("rank"),
          expr("cid div 1000").as("doc_id"),
          pmod(col("cid"), lit(1000L)).as("chunk_idx"),
          roundz(col("score"), 6).as("score_r"))
        .orderBy("qid", "rank")
    },

    "q292_rag_prf_served" -> { (s, dir) =>
      // chunk-grain pseudo-relevance feedback SERVED off the persisted
      // chunk index + its chunk-grain forward sidecar (the fused
      // layout's nested path): RAG stacks expand queries against
      // CHUNKS, not whole docs — each query's top-5 chunk page donates
      // its 3 most frequent new >=3-char terms, the widened query
      // re-scores through the same pruned postings, and the surrogate
      // cid maps feedback provenance back to (doc_id, chunk_idx)
      val chunks = graft.ops.Retrieval.chunkText(
          t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 50)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
      val idx = bm25ChunkServe(chunks, dir)
      val fwd = bm25ChunkForward(chunks, idx, dir)
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      graft.ops.Retrieval.bm25SearchPrfPreindexed(
          s, idx, fwd, qs, "qid", "qtext",
          topK = 5, fbDocs = 5, fbTerms = 3, minTermLen = 3)
        .select(col("qid"), col("rank"),
          expr("cid div 1000").as("doc_id"),
          pmod(col("cid"), lit(1000L)).as("chunk_idx"),
          roundz(col("score"), 6).as("score_r"))
        .orderBy("qid", "rank")
    },

    "q295_rag_context" -> { (s, dir) =>
      // RAG context expansion: the q274-served chunk hits stitch their
      // ±1 neighbors back into the contiguous source span using ONLY
      // the chunk corpus — the oracle pins the STRONG property that
      // the stitch reconstructs substr(text, span) of the original
      // document exactly (overlap-trimmed concatenation)
      val chunks = graft.ops.Retrieval.chunkText(
          t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 50)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
      val idx = bm25ChunkServe(chunks, dir)
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      // barrier: hits feeds both the rank projection and the context
      // expansion — one served page evaluation instead of two
      val hits = graft.Checkpoints.localCheckpoint(
        graft.ops.Retrieval.bm25SearchPreindexed(
          s, idx, qs, "qid", "qtext", topK = 5))
      hits.select(col("qid"), col("rank"), col("cid"))
        .join(graft.ops.Retrieval.expandChunkContext(
          hits, chunks, "qid", "cid", window = 1), Seq("qid", "cid"))
        .select(col("qid"), col("rank"), col("doc_id"),
          col("chunk_lo"), col("chunk_hi"), col("context"))
        .orderBy("qid", "rank")
    },

    "q296_context_budget" -> { (s, dir) =>
      // the last serving step before prompt assembly: the q295
      // expanded contexts pack greedily in rank order until the
      // 200-token budget fills — the first overflowing hit and
      // everything after it drop (monotone prefix, never a knapsack)
      val chunks = graft.ops.Retrieval.chunkText(
          t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 50)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"), col("chunk"))
      val idx = bm25ChunkServe(chunks, dir)
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      // barrier: hits feeds both the rank projection and the context
      // expansion (the q295 shape)
      val hits = graft.Checkpoints.localCheckpoint(
        graft.ops.Retrieval.bm25SearchPreindexed(
          s, idx, qs, "qid", "qtext", topK = 5))
      val ctx = hits.select(col("qid"), col("rank"), col("cid"))
        .join(graft.ops.Retrieval.expandChunkContext(
          hits, chunks, "qid", "cid", window = 1), Seq("qid", "cid"))
        .withColumn("n_tokens", graft.ops.TextAnalysis.tokenCount(col("context")))
      graft.ops.Retrieval.packContextByBudget(ctx, "qid", "rank", "n_tokens",
          budget = 200L)
        .select(col("qid"), col("rank"), col("doc_id"), col("n_tokens"),
          col("cum_cost"))
        .orderBy("qid", "rank")
    },

    "q280_ranking_summary" -> { (s, dir) =>
      // the one-row TREC macro-average over q278's per-query metrics —
      // the headline number a retrieval change ships with; judged
      // queries only, query-ordered folds
      val d = t(s, dir, "documents")
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val run = graft.ops.Retrieval.bm25Search(
        d, "doc_id", "text", qs, "qid", "qtext", topK = 10)
      val heads = s.createDataFrame(Seq(
        (1L, "query"), (2L, "window"), (3L, "customer"))).toDF("qid", "term")
      val qrels = d.crossJoin(broadcast(heads))
        .filter(col("text").contains(col("term")))
        .select(col("qid"), col("doc_id"),
          (lit(1L) + pmod(col("doc_id"), lit(3))).as("rel"))
      graft.ops.RankEval.rankingSummary(
        run, qrels, "qid", "doc_id", "rank", "rel", k = 10)
    },

    "q279_length_batches" -> { (s, dir) =>
      // inference-side sorted batching: docs length-bucketed within
      // their shard (len DESC, id ASC ties), consecutive 32s form a
      // batch, and the padding report prices each batch's pad share —
      // exact integer counts/lengths, one division
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
      val assigned = graft.ops.Packing.lengthBucketedBatches(
        d, "doc_id", "n_chars", "shard", batchSize = 32)
      graft.ops.Packing.paddingReport(assigned, "n_chars", "shard")
        .orderBy("shard", "batch_idx")
    },

    "q282_ranking_compare" -> { (s, dir) =>
      // the eval loop's decision question: is run B distinguishable
      // from run A on the same qrels? Run B here is run A's top-10
      // page REVERSED — a pure ranking regression, so precision/recall
      // deltas are exactly 0 while MRR/nDCG drop with a paired
      // query-bootstrap CI excluding 0 (deterministic md5 Poisson
      // draws keyed on qid:replica, quantile CI over replica means)
      val d = t(s, dir, "documents")
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val runA = graft.ops.Retrieval.bm25Search(
        d, "doc_id", "text", qs, "qid", "qtext", topK = 10)
      val runB = runA.withColumn("rank", lit(11) - col("rank"))
      val heads = s.createDataFrame(Seq(
        (1L, "query"), (2L, "window"), (3L, "customer"))).toDF("qid", "term")
      val qrels = d.crossJoin(broadcast(heads))
        .filter(col("text").contains(col("term")))
        .select(col("qid"), col("doc_id"),
          (lit(1L) + pmod(col("doc_id"), lit(3))).as("rel"))
      graft.ops.RankEval.compareRuns(
          runA, runB, qrels, "qid", "doc_id", "rank", "rel", k = 10)
        .orderBy("metric")
    },

    "q278_ranking_eval" -> { (s, dir) =>
      // graded ranking evaluation of the q84 BM25 run: qrels derive
      // from the corpus (docs containing the query's head term, grade
      // 1 + doc_id % 3), then MRR / P@10 / recall@10 / nDCG@10 per
      // query — rank-ordered DCG folds, best-first ideal folds, the
      // discount spelled ln(x)/ln(2) in both engines
      val d = t(s, dir, "documents")
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val run = graft.ops.Retrieval.bm25Search(
        d, "doc_id", "text", qs, "qid", "qtext", topK = 10)
      val heads = s.createDataFrame(Seq(
        (1L, "query"), (2L, "window"), (3L, "customer"))).toDF("qid", "term")
      val qrels = d.crossJoin(broadcast(heads))
        .filter(col("text").contains(col("term")))
        .select(col("qid"), col("doc_id"),
          (lit(1L) + pmod(col("doc_id"), lit(3))).as("rel"))
      graft.ops.RankEval.rankingMetrics(
          run, qrels, "qid", "doc_id", "rank", "rel", k = 10)
        .orderBy("qid")
    },

    "q275_reweight_iterated" -> { (s, dir) =>
      // DoReMi's published LOOP instead of one MW step: q265's losses
      // through TWO linearized multiplicative-weights rounds, each
      // renormalizing over the sorted-domain fold and mixing toward
      // uniform — the oracle unrolls both rounds term for term
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
      val cyc = pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2))
      val losses = d.groupBy(col("source").as("domain")).agg(
        (sum(when(cyc === 0, col("n_chars")).otherwise(lit(0L))).cast("double") /
          sum(when(cyc === 0, 1L).otherwise(0L)).cast("double")).as("ref_loss"),
        (sum(when(cyc === 1, col("n_chars")).otherwise(lit(0L))).cast("double") /
          sum(when(cyc === 1, 1L).otherwise(0L)).cast("double")).as("proxy_loss"))
      graft.ops.Mixture.domainReweight(losses, "domain", "ref_loss", "proxy_loss",
        eta = 2.0, smoothing = 0.25, iters = 2)
        .orderBy("domain")
    },

    "q276_ds_posteriors" -> { (s, dir) =>
      // soft Dawid-Skene over q258's five-judge panel: the final EM
      // round's FULL per-(item, label) posterior (linear-domain ordered
      // products, normalized by the hard winner's mass — no exp), with
      // the hard consensus marked; posteriors sum to 1 per item and the
      // oracle re-runs the whole EM plus the product folds
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def judge(name: String, label: Column) =
        d.select(col("doc_id"), lit(name).as("judge"), label.as("label"))
      val nTok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val nDist = size(graft.expressions.WordGrams.distinctTokens(col("text")))
      val uh = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("graft-judge"))), 1, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)
      val votes = judge("len", when(col("n_chars") >= 300, "hi").otherwise("lo"))
        .unionByName(judge("tok", when(nTok >= 50, "hi").otherwise("lo")))
        .unionByName(judge("dtr",
          when(nTok > 0 && lit(2) * nDist >= nTok, "hi").otherwise("lo")))
        .unionByName(judge("lang", when(col("lang") === "en", "hi").otherwise("lo")))
        .unionByName(judge("fuzz", when(uh >= 0.5, "hi").otherwise("lo")))
      graft.ops.Judges.dawidSkenePosteriors(votes, "doc_id", "judge", "label",
          iters = 2)
        .orderBy("doc_id", "label")
    },

    "q277_shard_append" -> { (s, dir) =>
      // incremental delivery: two thirds of the corpus exported with
      // writeShardsWithManifest, the last third APPENDED through the
      // marker-fenced appendShardsWithManifest — the published manifest
      // must equal the oracle's derivation over the UNION (append ≡
      // write-once, counts and checksums additive-exact)
      val d = t(s, dir, "documents").filter(col("doc_id").isNotNull)
      val p = shardAppend(d, dir)
      s.read.parquet(s"$p/manifest")
        .select(col("shard"), col("n_rows"), col("id_checksum"))
        .orderBy("shard")
    },

    "q281_shard_takedown" -> { (s, dir) =>
      // right-to-be-forgotten against a STANDING delivery: the export's
      // manifest after removeFromShardExport must equal the manifest of
      // a write-once export over the survivors — the oracle re-derives
      // it from the filtered corpus (exact counts, integer checksums)
      val d = t(s, dir, "documents").filter(col("doc_id").isNotNull)
      val p = shardTakedown(d, dir)
      s.read.parquet(s"$p/manifest")
        .select(col("shard"), col("n_rows"), col("id_checksum"))
        .orderBy("shard")
    },

    "q268_shard_manifest" -> { (s, dir) =>
      // sharded training-data export: deterministic md5 shard routing +
      // the delivery manifest (exact per-shard counts and integer id
      // checksums — order-independent long sums); the oracle re-derives
      // the whole manifest from the corpus
      val d = t(s, dir, "documents").filter(col("doc_id").isNotNull)
      graft.io.Layout.shardManifest(d, "doc_id", numShards = 8, salt = "m14")
        .select("shard", "n_rows", "id_checksum")
        .orderBy("shard")
    },

    "q267_embedding_drift" -> { (s, dir) =>
      // embedding-space drift: even/odd vec_id halves as the two corpus
      // snapshots, cells from the FROZEN q54 quantizer (literal-centroid
      // argmax, zero shuffle), add-one-smoothed PSI per cell — the
      // monitor that sees a content-cluster shift token drift cannot
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      graft.ops.Drift.embeddingDriftCells(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          emb.filter(pmod(col("vec_id"), lit(2)) === 1),
          "embedding", cents)
        .select(col("cell"), col("n_ref"), col("n_cur"),
          roundz(col("contrib"), 9).as("contrib_r"))
        .orderBy("cell")
    },

    "q265_domain_reweight" -> { (s, dir) =>
      // DoReMi-style mixture optimization: per-source losses derived
      // from the corpus itself (avg n_chars of even doc_id//20 cycles
      // = the reference run, odd cycles = the proxy run — sources
      // repeat every 20 ids, so a plain id parity would leave every
      // source one-sided; exact integer
      // sums, one division each), one linearized MW round with
      // uniform smoothing; the oracle replays the sorted-domain fold
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
      val losses = d.groupBy(col("source").as("domain")).agg(
        (sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 0, col("n_chars"))
          .otherwise(lit(0L))).cast("double") /
          sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 0, 1L).otherwise(0L))
            .cast("double")).as("ref_loss"),
        (sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 1, col("n_chars"))
          .otherwise(lit(0L))).cast("double") /
          sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 1, 1L).otherwise(0L))
            .cast("double")).as("proxy_loss"))
      graft.ops.Mixture.domainReweight(losses, "domain", "ref_loss", "proxy_loss",
        eta = 2.0, smoothing = 0.25)
        .orderBy("domain")
    },

    "q273_drift_served" -> { (s, dir) =>
      // drift SERVING parity: the reference histogram persists once
      // (driftRef) and the check recounts only the current side —
      // identical smoothed arithmetic, so it shares q96's oracle
      val d = t(s, dir, "documents")
      val ref = s.read.parquet(driftRef(d, dir))
        .select(col("bin"), col("cnt").as("n_ref"))
      val cur = d.filter(col("source") === "src1" && col("n_chars").isNotNull)
        .groupBy(expr("n_chars div 100").as("bin"))
        .agg(count(lit(1)).as("n_cur"))
      graft.ops.Drift.driftFromCounts(ref, cur)
        .select(col("bin"), col("n_ref"), col("n_cur"),
          roundz(col("p_ref"), 9).as("p_ref_r"),
          roundz(col("p_cur"), 9).as("p_cur_r"),
          roundz(col("contrib"), 9).as("contrib_r"))
        .orderBy("bin")
    },

    "q272_mixture_tokens" -> { (s, dir) =>
      // the optimized mixture against a TOKEN budget: q265's weights,
      // per-domain exact token totals (n_chars as the count), keep-rate
      // min(1, target * w / tokens) — kept rows carry ~target*w tokens
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
      val losses = d.groupBy(col("source").as("domain")).agg(
        (sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 0,
          col("n_chars")).otherwise(lit(0L))).cast("double") /
          sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 0, 1L)
            .otherwise(0L)).cast("double")).as("ref_loss"),
        (sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 1,
          col("n_chars")).otherwise(lit(0L))).cast("double") /
          sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 1, 1L)
            .otherwise(0L)).cast("double")).as("proxy_loss"))
      val w = graft.ops.Mixture.domainReweight(losses, "domain",
        "ref_loss", "proxy_loss", eta = 2.0, smoothing = 0.25)
      graft.ops.Mixture.resampleToMixtureTokens(d, "doc_id", "source", w,
        targetTokens = 100000L, tokenCol = "n_chars", salt = "graft-r14")
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    "q266_mixture_resample" -> { (s, dir) =>
      // the optimized mixture APPLIED: q265's weights drive a
      // deterministic md5-acceptance resample toward a 200-row budget
      // — the broadcast-table/map-side-filter shape, corpus never
      // shuffles; the oracle re-derives weights, counts, and cuts
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
      val losses = d.groupBy(col("source").as("domain")).agg(
        (sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 0, col("n_chars"))
          .otherwise(lit(0L))).cast("double") /
          sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 0, 1L).otherwise(0L))
            .cast("double")).as("ref_loss"),
        (sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 1, col("n_chars"))
          .otherwise(lit(0L))).cast("double") /
          sum(when(pmod(floor(col("doc_id") / lit(20)).cast("long"), lit(2)) === 1, 1L).otherwise(0L))
            .cast("double")).as("proxy_loss"))
      val w = graft.ops.Mixture.domainReweight(losses, "domain",
        "ref_loss", "proxy_loss", eta = 2.0, smoothing = 0.25)
      graft.ops.Mixture.resampleToMixture(d, "doc_id", "source", w,
        targetRows = 200L, salt = "graft-r14")
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    "q263_pref_pairs" -> { (s, dir) =>
      // RLHF/DPO preference-pair construction: doc_id % 37 prompt
      // buckets as items, the bucket's docs as candidate responses,
      // n_chars as the judge score — best-vs-worst pairs survive only
      // when the gap clears the 50-point margin; one item-grain agg
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
      graft.ops.Judges.preferencePairs(
        d.select(pmod(col("doc_id"), lit(37L)).as("item"),
          col("doc_id").as("cand"), col("n_chars").cast("double").as("score")),
        "item", "cand", "score", margin = 50.0)
        .orderBy("item")
    },

    "q264_bradley_terry" -> { (s, dir) =>
      // chatbot-arena-style source ranking: adjacent-doc length duels
      // (doc i vs doc i+1 of different sources) as pairwise outcomes,
      // four bounded Bradley-Terry MM rounds with alpha=1 smoothing;
      // the oracle re-runs the whole fit unrolled
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val nxt = d.select((col("doc_id") - 1L).as("doc_id"),
        col("source").as("s2"), col("n_chars").as("c2"))
      val duels = d.join(nxt, Seq("doc_id"))
        .filter(col("source") =!= col("s2") && col("n_chars") =!= col("c2"))
        .select(
          when(col("n_chars") > col("c2"), col("source"))
            .otherwise(col("s2")).as("winner"),
          when(col("n_chars") > col("c2"), col("s2"))
            .otherwise(col("source")).as("loser"))
      graft.ops.Judges.bradleyTerry(duels, "winner", "loser", iters = 4, alpha = 1L)
        .orderBy("player")
    },

    "q262_tokenizer_artifact" -> { (s, dir) =>
      // serving-side encode through the PERSISTED tokenizer artifact:
      // the vocabulary trains once, freezes to disk (pinned piece ids
      // travel WITH the artifact), and this query encodes every doc by
      // loading it back — bit-identical to the in-memory chain; the
      // oracle re-trains + re-encodes and must match id for id
      val docs = t(s, dir, "documents")
      val path = tokenizerServe(docs, dir)
      graft.ops.UnigramTrain.encodeDocsPreindexed(s, path, docs, "doc_id", "text")
        .select(col("doc_id"), col("n_pieces"),
          when(col("n_pieces") > 0,
            concat_ws(" ", transform(col("piece_ids"), _.cast("string"))))
            .as("ids_str"))
        .orderBy("doc_id")
    },

    "q258_dawid_skene" -> { (s, dir) =>
      // full hard-EM Dawid-Skene over q254's five-judge panel: per-judge
      // PER-LABEL confusion matrices + class priors, two bounded
      // re-estimation rounds; the oracle re-runs the whole EM unrolled
      // (the q249 bounded-replay discipline) — consensus AND ln-posterior
      // must hash-match
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def judge(name: String, label: Column) =
        d.select(col("doc_id"), lit(name).as("judge"), label.as("label"))
      val nTok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val nDist = size(graft.expressions.WordGrams.distinctTokens(col("text")))
      val uh = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("graft-judge"))), 1, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)
      val votes = judge("len", when(col("n_chars") >= 300, "hi").otherwise("lo"))
        .unionByName(judge("tok", when(nTok >= 50, "hi").otherwise("lo")))
        .unionByName(judge("dtr",
          when(nTok > 0 && lit(2) * nDist >= nTok, "hi").otherwise("lo")))
        .unionByName(judge("lang", when(col("lang") === "en", "hi").otherwise("lo")))
        .unionByName(judge("fuzz", when(uh >= 0.5, "hi").otherwise("lo")))
      graft.ops.Judges.dawidSkene(votes, "doc_id", "judge", "label", iters = 2)
        .orderBy("doc_id")
    },

    "q259_gold_judges" -> { (s, dir) =>
      // gold-anchored consensus: per-judge confusions estimated ONLY from
      // the doc_id % 11 gold slice (synthetic gold = the length rule),
      // then one scoring pass over every voted item — the trusted-subset
      // fix for correlated-majority basins EM cannot escape
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def judge(name: String, label: Column) =
        d.select(col("doc_id"), lit(name).as("judge"), label.as("label"))
      val nTok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val nDist = size(graft.expressions.WordGrams.distinctTokens(col("text")))
      val uh = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("graft-judge"))), 1, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)
      val votes = judge("len", when(col("n_chars") >= 300, "hi").otherwise("lo"))
        .unionByName(judge("tok", when(nTok >= 50, "hi").otherwise("lo")))
        .unionByName(judge("dtr",
          when(nTok > 0 && lit(2) * nDist >= nTok, "hi").otherwise("lo")))
        .unionByName(judge("lang", when(col("lang") === "en", "hi").otherwise("lo")))
        .unionByName(judge("fuzz", when(uh >= 0.5, "hi").otherwise("lo")))
      val gold = d.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select(col("doc_id"),
          when(col("n_chars") >= 300, "hi").otherwise("lo").as("gold"))
      graft.ops.Judges.goldAnchoredConsensus(
        votes, gold, "doc_id", "judge", "label", "gold")
        .orderBy("doc_id")
    },

    "q256_bm25_takedown" -> { (s, dir) =>
      // right-to-be-forgotten on the lexical serving index: every
      // doc_id % 7 == 3 document deleted from the persisted postings
      // (exact df subtraction via the doclens ledger, staged
      // marker-fenced commit); the oracle rebuilds BM25 from the
      // FILTERED corpus — post-delete search ≡ rebuild, bit for bit
      val qs = s.createDataFrame(Seq(
        (1L, "query hash join"),
        (2L, "window agg fast"),
        (3L, "customer order value part"))).toDF("qid", "qtext")
      val idx = bm25Takedown(t(s, dir, "documents"), dir)
      graft.ops.Retrieval.bm25SearchPreindexed(
        s, idx, qs, "qid", "qtext", topK = 10)
        .select(col("qid"), col("rank"), col("doc_id"), roundz(col("score"), 6).as("score_r"))
        .orderBy("qid", "rank")
    },

    "q257_ivf_takedown" -> { (s, dir) =>
      // right-to-be-forgotten on the ANN serving index: every
      // vec_id % 5 == 2 vector deleted from the persisted cell-
      // partitioned corpus (anti-join rewrite, staged commit); the
      // quantizer keeps serving; oracle = q54's derivation over the
      // filtered corpus (per-vector cell assignment, so drop ≡ rebuild)
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      val path = ivfTakedown(emb, cents, dir)
      Similarity.ivfTopKPreassigned(
          s.read.parquet(s"$path/corpus"), emb.filter(col("vec_id") < 5),
          k = 10, Similarity.loadIvfCentroids(s, path), nProbe = 4)
        .select(col("query_id"), col("vec_id"),
          roundz(col("cosine"), 6).as("cosine_r"), col("nn_rank"))
        .orderBy("query_id", "nn_rank")
    },

    "q197_snapshot_diff" -> { (s, dir) =>
      // release-to-release diff: the cur snapshot drops ids < 200, adds
      // 800–999, and rewrites every 7th doc's text — the diff names
      // exactly those keys; both sides reduce to (key, md5 sig) before
      // the one key-grain full-outer join
      val d = t(s, dir, "documents")
      val prev = d.filter(col("doc_id") < 800)
      val cur = d.filter(col("doc_id") >= 200 && col("doc_id") < 1000)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.ops.Snapshot.snapshotDiff(prev, cur, Seq("doc_id"), Seq("text", "n_chars"))
        .orderBy("doc_id")
    },

    "q196_novel_grams" -> { (s, dir) =>
      // exact n-gram novelty of the src1 slice against the src0
      // reference: distinct trigrams per doc, anti-join the reference
      // gram set, per-doc fraction — the memorization/derivative-content
      // measure (Bloom twin scores map-side at reference scales)
      val d = t(s, dir, "documents")
      graft.ops.TextAnalysis.novelGramFraction(
        d.filter(col("source") === "src1"), d.filter(col("source") === "src0"),
        "text", "doc_id", n = 3)
        .orderBy("doc_id")
    },

    "q195_token_drift" -> { (s, dir) =>
      // vocabulary drift between two crawl snapshots: the 50 tokens
      // moving the smoothed PSI most — counts per side, vocab-bounded
      // join, string-heap cut; names WHAT changed, where q96 only
      // flags THAT the length distribution moved
      val d = t(s, dir, "documents")
      graft.ops.Drift.tokenDrift(
        d.filter(col("source") === "src0"), d.filter(col("source") === "src1"),
        "text", k = 50)
        .select(col("rank"), col("token"), col("n_ref"), col("n_cur"),
          roundz(col("contrib"), 9).as("contrib_r"))
        .orderBy("rank")
    },

    "q194_embedding_outliers" -> { (s, dir) =>
      // embedding-space curation gate: dist² to the assigned IVF
      // centroid (one literal argmax, zero shuffle), quantized to
      // micro-units so the per-cell z-score moments are exact integral
      // sums — bit-reproducible, oracle re-derives cells AND z
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      graft.ops.Outliers.embeddingOutliers(emb, "vec_id", "embedding", cents)
        .select(col("vec_id"), col("list_id"), col("dist_u"),
          roundz(col("zscore"), 6).as("z_r"),
          (abs(col("zscore")) > 2.0).as("is_outlier"))
        .orderBy("vec_id")
    },

    "q193_frequent_ngrams" -> { (s, dir) =>
      // sketch-prefiltered EXACT frequent bigrams: the CMS can't
      // undercount, so the map-side estimate filter drops only n-grams
      // that provably miss minCount — the one real shuffle carries the
      // survivors, and the oracle is the PLAIN exact SQL
      graft.ops.Retrieval.frequentNgrams(
        t(s, dir, "documents"), "text", "lang", n = 2, minCount = 20,
        depth = 2, width = 65536)
        .orderBy("lang", "ngram")
    },

    "q187_near_dup_recall" -> { (s, dir) =>
      // planted-twin recall probe: the precision audit's other half —
      // a 1/20 md5 sample gets a content-keyed ~1/7-token-drop twin,
      // the detector runs over corpus+twins, and one row reports how
      // many truly-above-threshold planted pairs it recovered
      Dedup.nearDupRecallProbe(
        t(s, dir, "documents").filter(col("doc_id") < 1000),
        "text", "doc_id", probeModulus = 20, dropEveryK = 7,
        threshold = 0.5)
    },

    "q185_contamination_report" -> { (s, dir) =>
      // multi-benchmark contamination audit in ONE corpus pass: two
      // held-out slices as named benchmarks, per-benchmark leak counts
      // and max containment; a clean benchmark still reports its zeros
      val docs = t(s, dir, "documents")
      val benches = docs.filter(col("doc_id") >= 400 && col("doc_id") < 500)
        .withColumn("bench",
          when(col("doc_id") < 450, lit("benchA")).otherwise(lit("benchB")))
      Dedup.contaminationReport(
        docs.filter(col("doc_id") < 400), benches, "text", "doc_id",
        threshold = 0.5, ngram = 3, maxDocFreq = Some(100L))
        .orderBy("bench")
    },

    "q184_curriculum_order" -> { (s, dir) =>
      // curriculum epoch order: 4 exact-quantile score bands (round-6
      // cross-engine boundary contract), deterministic md5 shuffle
      // within each (stage, shard) cell — banded across, pseudo-random
      // inside, a pure function of ids + scores
      graft.ops.Sampling.curriculumOrder(
        t(s, dir, "documents"), "doc_id", "n_chars",
        nStages = 4, numShards = 8, salt = "cur")
        .select("doc_id", "stage", "shard", "curriculum_pos")
        .orderBy("doc_id")
    },

    "q182_video_dup_groups" -> { (s, dir) =>
      // exact clip dup groups: signature = md5 of the ORDERED frame-hash
      // sequence (a re-cut is a near-dup, not an exact dup); planted
      // re-keyed copies of the first 30 clips guarantee non-trivial
      // groups at every scale factor (the q175 mirror trick)
      val base = t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 100)
      val orig = pairedClips(base)
      val copies = pairedClips(base.filter(col("doc_id") < 30))
        .withColumn("doc_id", col("doc_id") + 1000L)
      val fh = Multimodal.videoFrameHashes(
        orig.unionByName(copies), "doc_id", "payload")
      Dedup.videoDupGroups(fh, "doc_id").orderBy("keep_id")
    },

    "q183_video_ingest" -> { (s, dir) =>
      // incremental video ingest: new clips vetted against a standing
      // frame-class index by frame-set Jaccard, class join CROSS-SIDE
      // only — odd clips overlap their even index partners at 0.6,
      // later odd clips are genuinely new
      val docs = t(s, dir, "documents").select("doc_id")
      val idxF = Multimodal.videoFrameHashes(
        pairedClips(docs.filter(col("doc_id") < 200 && col("doc_id") % 2 === 0)),
        "doc_id", "payload")
      val batF = Multimodal.videoFrameHashes(
        pairedClips(docs.filter(col("doc_id") < 300 && col("doc_id") % 2 === 1)),
        "doc_id", "payload")
      Dedup.incrementalVideoDups(idxF, batF, "doc_id", minJaccard = 0.5)
        .orderBy("new_id", "index_id")
    },

    "q179_audio_ingest" -> { (s, dir) =>
      // incremental audio ingest: a batch of new clips vetted against a
      // standing fingerprint index — exact classes equi-join, near
      // classes band CROSS-SIDE only (the q158/q162 daily-crawl shape
      // over energy fingerprints; odd clips near-match their even index
      // partners, later odd clips are genuinely new)
      val docs = t(s, dir, "documents").select("doc_id")
      val idxF = Multimodal.audioFingerprints(
        pairedWavs(docs.filter(col("doc_id") < 200 && col("doc_id") % 2 === 0)),
        "doc_id", "payload")
      val batF = Multimodal.audioFingerprints(
        pairedWavs(docs.filter(col("doc_id") < 300 && col("doc_id") % 2 === 1)),
        "doc_id", "payload")
      Dedup.incrementalAudioDups(idxF, batF, "doc_id", maxHamming = 3)
        .orderBy("new_id", "index_id")
    },

    "q163_audio_fingerprint" -> { (s, dir) =>
      // 64-bit integer-exact energy fingerprint of REAL decoded WAVs
      // (65 frame-windows, energy-gradient sign bits) — the 8-byte
      // artifact audio dedup persists; oracle re-derives the synthetic
      // clips arithmetically
      Multimodal.audioFingerprints(
        pairedWavs(t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 200)),
        "doc_id", "payload")
        .orderBy("doc_id")
    },

    "q164_audio_near_dups" -> { (s, dir) =>
      // audio near-dup pairs BETWEEN distinct fingerprint classes: the
      // image band machinery over energy fingerprints — a re-leveled
      // clip pairs with its base at small positive Hamming
      val fps = Multimodal.audioFingerprints(
        pairedWavs(t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 200)),
        "doc_id", "payload")
      Dedup.audioNearDupPairs(fps, "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },

    "q162_image_ingest256" -> { (s, dir) =>
      // incremental media ingest over the 256-bit gradient hash: exact
      // classes equi-join all eight words, near classes band CROSS-SIDE
      // only with 32-bit keys — the ingest shape that survives a
      // billion-image standing index (q158's 64-bit twin hits the
      // 65,536-key band ceiling there)
      val docs = t(s, dir, "documents").select("doc_id")
      val idxH = Multimodal.imageHashes256(
        pairedPpms(docs.filter(col("doc_id") < 200 && col("doc_id") % 2 === 0)),
        "doc_id", "payload")
      val batH = Multimodal.imageHashes256(
        pairedPpms(docs.filter(col("doc_id") < 300 && col("doc_id") % 2 === 1)),
        "doc_id", "payload")
      Dedup.incrementalImageDups256(idxH, batH, "doc_id", maxHamming = 7, nBands = 8)
        .orderBy("new_id", "index_id")
    },

    "q155_image_dup_groups" -> { (s, dir) =>
      // exact-hash duplicate classes (Hamming 0) as a GROUP report with
      // the min-id keeper — a million-copy image is one row, never a
      // quadratic pair expansion
      val hashes = Multimodal.imageHashes(
        pairedPpms(t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 200)),
        "doc_id", "payload")
      Dedup.imageDupGroups(hashes, "doc_id")
        .orderBy("keep_id")
    },

    "q158_image_ingest" -> { (s, dir) =>
      // incremental media ingest: odd-id batch images match the even-id
      // index (shared gid bases, perturbed) exactly or within Hamming 3;
      // odd ids >= 200 carry fresh bases and must admit — exact classes
      // equi-join, near classes band CROSS-SIDE only
      val docs = t(s, dir, "documents").select("doc_id")
      val idxH = Multimodal.imageHashes(
        pairedPpms(docs.filter(col("doc_id") < 200 && col("doc_id") % 2 === 0)),
        "doc_id", "payload")
      val batH = Multimodal.imageHashes(
        pairedPpms(docs.filter(col("doc_id") < 300 && col("doc_id") % 2 === 1)),
        "doc_id", "payload")
      Dedup.incrementalImageDups(idxH, batH, "doc_id", maxHamming = 3)
        .orderBy("new_id", "index_id")
    },

    "q154_token_budget_mix" -> { (s, dir) =>
      // temperature mixing denominated in TOKENS: budget_s = 60000 ·
      // sqrt(T_s)/Σ sqrt(T_t) over per-source n_chars totals, admission
      // in md5 order under each source's budget — the q64 rule budgeting
      // what mixing recipes actually budget
      graft.ops.Sampling.tokenBudgetMix(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", alpha = 0.5, targetTokens = 60000L,
        salt = "graft-tbm")
        .select(col("doc_id"), col("source"), col("n_chars"),
          (round(col("token_budget"), 6) + lit(0.0)).as("budget_r"),
          col("tokens_before"), col("budget_rank"))
        .orderBy("source", "budget_rank")
    },

    "q156_dim_stats" -> { (s, dir) =>
      // per-dimension embedding statistics via the deterministic
      // vector-wise fold (Σx and Σx² in pinned order): the whitening /
      // drift-monitoring input, bit-identical across engines
      graft.ops.Labels.dimStats(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("dim"),
          (round(col("mean"), 9) + lit(0.0)).as("mean_r"),
          (round(col("variance"), 9) + lit(0.0)).as("var_r"),
          (round(col("std"), 9) + lit(0.0)).as("std_r"))
        .orderBy("dim")
    },

    "q157_standardized" -> { (s, dir) =>
      // feature standardization against the corpus dim stats: a
      // zero-shuffle literal-array projection (stats are dim doubles),
      // zero-variance dims map to 0 — first three z components verified
      val emb = t(s, dir, "embeddings")
      val stats = graft.ops.Labels.dimStats(emb, "vec_id", "embedding")
        .collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(3)))
      graft.ops.Labels.standardize(emb, "embedding", stats.toSeq)
        .select(col("vec_id"),
          (round(element_at(col("z_vec"), 1), 6) + lit(0.0)).as("z0"),
          (round(element_at(col("z_vec"), 2), 6) + lit(0.0)).as("z1"),
          (round(element_at(col("z_vec"), 3), 6) + lit(0.0)).as("z2"))
        .orderBy("vec_id")
    },

    "q64_temperature_mix" -> { (s, dir) =>
      // n^0.5 source upweighting (multilingual-LM mixing rule): per-source
      // acceptance thresholds folded in sorted-source order with IEEE-exact
      // sqrt, so the oracle lands on identical cuts; row keep = md5 unit
      // hash, same contract as q36
      graft.ops.Sampling.temperatureMix(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", alpha = 0.5, targetRows = 300, salt = "graft-r4")
        .orderBy("doc_id")
    },

    "q65_poly_simhash" -> { (s, dir) =>
      // oracle-checked SimHash banding: md5 hex digits supply the 64 vote
      // bits, band values are 16-bit ints — DuckDB re-derives them exactly
      // (q43's xxhash64 simhash stays the production path)
      Dedup.simhashPolyBands(
        t(s, dir, "documents").filter(col("doc_id") < 1000), "text", "doc_id")
        .orderBy("doc_id")
    },

    "q67_poly_near_dup" -> { (s, dir) =>
      // the full near-dup PAIR pipeline (bucketed candidates + estimated
      // Jaccard) under the engine-independent hash family — the pair-level
      // oracle q47's xxhash64 path can't have. Same doc_id<1000 subset as
      // q47: the md5-per-shingle HOF chain is the deliberately portable
      // (not production-fast) path, ~3ms/doc interpreted.
      Dedup.polyMinhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") < 1000), "text", "doc_id",
        threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    "q74_line_dedup" -> { (s, dir) =>
      // corpus-frequency line removal (RefinedWeb-style): two planted
      // boilerplate lines appear in every document and must be stripped;
      // each document's own single-line text is unique and must survive.
      // Exact-match, order-preserving, blank-line-preserving semantics —
      // all DuckDB-mirrorable.
      val planted = t(s, dir, "documents").withColumn("lined_text",
        concat_ws("\n",
          lit("Home | About | Contact"),
          col("text"),
          lit(""),
          lit("Subscribe to our newsletter!")))
      Dedup.dropFrequentLines(planted, "lined_text", "doc_id", maxDocFreq = 50,
          out = "dedup_text")
        .select(col("doc_id"),
          md5(col("dedup_text")).as("dedup_digest"),
          size(split(col("dedup_text"), "\n")).as("n_lines_kept"))
        .orderBy("doc_id")
    },

    "q75_quota_sample" -> { (s, dir) =>
      // per-source domain cap: at most 20 docs per source, lowest unit
      // hash wins — selection runs through the heap top-k aggregate so
      // the shuffle carries cap x |sources| rows, never the corpus
      graft.ops.Sampling.quotaSample(
        t(s, dir, "documents").select("doc_id", "source", "lang"),
        "doc_id", "source", cap = 20, salt = "graft-r4")
        .select("doc_id", "source", "lang", "quota_rank")
        .orderBy("doc_id")
    },

    "q76_shuffle_order" -> { (s, dir) =>
      // deterministic epoch shuffle: shard + intra-shard position as a
      // pure function of ids — reproducible by any engine, no global sort
      graft.ops.Sampling.withShuffleOrder(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", numShards = 8, salt = "graft-r4")
        .select("doc_id", "shard", "shuffle_pos")
        .orderBy("doc_id")
    },

    // ------------------------------------------------- similarity search

    "q44_cosine_pairs" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.crossCosine(emb, queries, "vec_id", "embedding", "vec_id", "embedding")
        .select(col("query_id"), col("vec_id"), roundz(col("cosine"), 6).as("cosine_r"))
        .orderBy("query_id", "vec_id")
    },

    "q50_blocked_nn" -> { (s, dir) =>
      Similarity.blockedNearestNeighbor(
        t(s, dir, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", "label")
        .select(col("id"), col("nn_id"), col("label"), roundz(col("cosine"), 6).as("cosine_r"))
        .orderBy("id")
    },

    "q37_quantize_embed" -> { (s, dir) =>
      // int8 embedding quantization (4x storage at 100 TB): scale is
      // order-independent (max), codes use explicit half-away rounding,
      // so DuckDB recomputes them identically; the dequantized sum is
      // rounded (summation order differs across engines).
      val emb = t(s, dir, "embeddings")
      emb.select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("q"),
          col("embedding"))
        .select(col("vec_id"),
          col("q.scale").as("scale"),
          aggregate(col("q.codes"), lit(0L), (acc, c) => acc + c.cast("long")).as("code_sum"),
          roundz(aggregate(Similarity.dequantizeInt8(col("q")), lit(0.0), (acc, x) => acc + x), 6)
            .as("dequant_sum_r"))
        .orderBy("vec_id")
    },

    "q38_quantized_topk" -> { (s, dir) =>
      // two-stage retrieval over the quantized corpus: integer code-dot
      // prefilter (deterministic: exact ints) -> exact cosine rerank.
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 5), k = 10, rerank = 30)
        .select(col("query_id"), col("vec_id"),
          roundz(col("cosine"), 6).as("cosine_r"), col("nn_rank"))
        .orderBy("query_id", "nn_rank")
    },

    // -------------------------------------- hash-based ops (rows-only)

    "q41_minhash_buckets" -> { (s, dir) =>
      // EXPLICIT xxhash64 fast-path variant (rows-only by nature); the
      // portable md5 twin q62 is the oracle-checked default family
      Dedup.minhashBuckets(t(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "band", "band_key")
        .orderBy("doc_id", "band")
    },

    "q43_simhash" -> { (s, dir) =>
      // EXPLICIT xxhash64 fast-path variant (rows-only by nature); the
      // portable twin q65 is the oracle-checked default family
      Dedup.simhashWithBands(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    "q288_matryoshka_recall" -> { (s, dir) =>
      // dimension-budget sweep: recall@10 of cosine retrieval over the
      // first 8/16/32/64 dims against the full-width exact ranking —
      // the serve-at-fewer-dims decision, fully oracle-replayed (the
      // 64 row pins 1.0 by construction)
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      Similarity.truncatedRecallReport(emb, qs, k = 10, dims = Seq(8, 16, 32, 64))
        .orderBy("dim")
    },

    "q293_matryoshka_served" -> { (s, dir) =>
      // ACT on q288's decision: SERVE at the 16-dim budget — quantizer
      // trained on sliced vectors, IVF corpus persisted at the budget
      // width (cell-partitioned, so the serving read prunes AND moves
      // a quarter of the bytes), queries sliced to match, and every
      // query's recall vs the FULL-width exact ranking rides the
      // output — the sliced-IVF top-k replays in the oracle from the
      // interpolated sliced centroids (q54 machinery at reduced dims)
      val emb = t(s, dir, "embeddings")
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding"), 1, MatryoshkaDim).as("embedding"))
      val path = matryoshkaServe(sliced, matryoshkaCentroids(sliced, dir), dir)
      val served = Similarity.ivfTopKPreassigned(
        s.read.parquet(s"$path/corpus"), sliced.filter(col("vec_id") < 5),
        k = 10, Similarity.loadIvfCentroids(s, path), nProbe = 4)
      val exact = Similarity.bruteForceTopKAgg(
        emb, emb.filter(col("vec_id") < 5), k = 10)
      served.join(Similarity.recallAtK(served, exact, k = 10), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          roundz(col("cosine"), 6).as("cosine_r"), col("nn_rank"),
          col("n_hits"), col("recall_r"))
        .orderBy("query_id", "nn_rank")
    },

    "q170_ann_recall" -> { (s, dir) =>
      // recall@10 of hyperplane-LSH retrieval vs the exact ranking, per
      // query — the ANN stack's own estimator audit, fully oracle-replayed
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      val approx = Similarity.lshTopK(emb, qs, k = 10, dim = 64, nBits = 8)
      val exact = Similarity.bruteForceTopKAgg(emb, qs, k = 10)
      Similarity.recallAtK(approx, exact, k = 10)
        .orderBy("query_id")
    },

    "q45_lsh_topk" -> { (s, dir) =>
      // oracle-checked since round 4: the seeded +-1 hyperplanes are
      // interpolated into the SQL (see hyperplaneKeySql), so the bucket
      // match, candidate set, and cosine ranking all mirror exactly
      // nBits = 8: 12-bit keys leave 500 vectors almost collision-free
      // (1 candidate at sf0.01) — 8 bits yields a real candidate set
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 10, dim = 64,
          nBits = 8)
        .select(col("query_id"), col("vec_id"),
          roundz(col("cosine"), 6).as("cosine_r"), col("nn_rank"))
        .orderBy("query_id", "nn_rank")
    },

    "q55_scalable_rank" -> { (s, dir) =>
      // fully distributed competition rank over a continuous column
      // (range-partitioned, no global window) — oracle = SQL RANK()
      val scored = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("score"))
      graft.Ranks.rangePartitionedRank(scored, "score", "ranking")
        .select("o_orderkey", "score", "ranking")
        .orderBy("o_orderkey")
    },

    "q54_ivf_topk" -> { (s, dir) =>
      // explicit-centroid IVF: train (cached per dir), search with the
      // deterministic literal-centroid arithmetic, and let oracleSql
      // interpolate the SAME centroids into DuckDB SQL (see ivfCentroids)
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(emb, dir, nLists = 16)
      Similarity.ivfTopKWithCentroids(emb, emb.filter(col("vec_id") < 5),
        k = 10, cents, nProbe = 4)
        .select(col("query_id"), col("vec_id"),
          roundz(col("cosine"), 6).as("cosine_r"), col("nn_rank"))
        .orderBy("query_id", "nn_rank")
    },

    "q47_near_dup_pairs" -> { (s, dir) =>
      // EXPLICIT xxhash64 fast-path variant (rows-only by nature); the
      // portable md5 twin q67 is the oracle-checked default family
      Dedup.minhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") < 1000),
        "text", "doc_id", threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    "q57_clean_corpus" -> { (s, dir) =>
      // the EXPLICIT xxhash64 fast-path variant of the cleaning
      // composition (portableHashes = false, opt-in): its hashes exist in
      // no other engine, so rows-only — the pipeline DEFAULT is the
      // portable md5 family, oracle-checked end-to-end as q71
      graft.ops.Pipelines.cleanCorpus(
        t(s, dir, "documents"), nearDupThreshold = 0.9, minQuality = 30.0,
        portableHashes = false)
        .df.select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "q39_training_corpus" -> { (s, dir) =>
      // the EXPLICIT xxhash64 fast-path variant of the full preparation
      // flow (portableHashes = false, opt-in): rows-only — the pipeline
      // DEFAULT is the portable md5 family, oracle-checked as q104
      graft.ops.Pipelines.prepareTrainingCorpus(
        t(s, dir, "documents"), nearDupThreshold = 0.9, minQuality = 30.0,
        portableHashes = false)
        .df.select("doc_id", "split", "n_tokens", "lang_id")
        .orderBy("doc_id")
    },

    "q66_corpus_funnel" -> { (s, dir) =>
      // the funnel counts of the EXPLICIT xxhash64 fast path (opt-in,
      // rows-only) — catches silent filter breakage (a stage passing
      // everything or nothing) at verify/bench scale; the DEFAULT
      // portable-family funnel is oracle-checked as q103
      import s.implicits._
      val st = graft.ops.Pipelines.prepareTrainingCorpus(
        t(s, dir, "documents"), nearDupThreshold = 0.9, minQuality = 30.0,
        portableHashes = false).stats()
      Seq((st.input, st.afterExactDedup, st.afterNearDedup, st.afterQuality, st.output))
        .toDF("n_input", "n_exact", "n_near", "n_quality", "n_output")
    },

    "q71_clean_pipeline" -> { (s, dir) =>
      // the ENTIRE corpus-cleaning composition under portable hashes:
      // exact dedup -> poly-minhash near-dup removal -> quality gate, all
      // DuckDB-re-derived (the q57 twin is rows-only because its xxhash64
      // signatures exist in no other engine)
      graft.ops.Pipelines.cleanCorpus(
        t(s, dir, "documents"), nearDupThreshold = 0.9, minQuality = 30.0,
        portableHashes = true)
        .df.select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "q73_dup_clusters" -> { (s, dir) =>
      // transitive duplicate clusters (connected components by min-label
      // propagation) over the PORTABLE near-dup pairs, so the whole
      // pairs -> components chain has a DuckDB oracle (recursive CTE)
      val pairs = Dedup.polyMinhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") < 1000), "text", "doc_id",
        threshold = 0.9)
      Dedup.dupClusters(pairs).orderBy("doc_id")
    },

    "q58_contamination" -> { (s, dir) =>
      // benchmark-contamination check: treat doc_id >= 400 as the held-out
      // benchmark and find its documents embedded in the doc_id < 400
      // training corpus (trigram containment — planted near-dups cross
      // the boundary).
      // maxDocFreq: generated docs share formulaic trigrams whose fan-out
      // grows with the bench side — cap by corpus DF like q42
      val docs = t(s, dir, "documents")
      Dedup.contaminationPairs(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400),
        "text", "doc_id", threshold = 0.5, ngram = 3, maxDocFreq = Some(100L))
        .orderBy("corpus_id", "bench_id")
    },

    "q56_embedding_near_dup" -> { (s, dir) =>
      Dedup.embeddingNearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
        threshold = 0.2, nBits = 8, nTables = 3)
        .select(col("id_a"), col("id_b"), roundz(col("cosine"), 6).as("cosine_r"))
        .orderBy("id_a", "id_b")
    },

    "q115_semantic_decontaminate" -> { (s, dir) =>
      // embedding-space decontamination: corpus (vec_id < 400) minus
      // every vector cosine-near (>= 0.3) some benchmark vector
      // (vec_id >= 400) — catches paraphrase leakage q78's n-gram
      // containment can't see; candidate generation is a broadcast
      // bucket join (map-side), mirrored via interpolated planes
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDecontaminate(
        emb.filter(col("vec_id") < 400),
        emb.filter(col("vec_id") >= 400),
        "vec_id", "embedding", dim = 64,
        threshold = 0.3, nBits = 8, nTables = 3)
        .select("vec_id", "label")
        .orderBy("vec_id")
    },

    "q77_semantic_dedup" -> { (s, dir) =>
      // SemDeDup: q56's near-dup pairs -> transitive clusters -> keep the
      // min-id representative per cluster; fully oracle-checked (the
      // hyperplane constants interpolate into SQL, the closure is a
      // recursive CTE like q73). The clusters come from the session-pinned
      // shared closure — q109 consumes the SAME frame.
      Dedup.semanticDedup(
        t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
        threshold = 0.2, nBits = 8, nTables = 3,
        clusters = Some(semClusters(s, dir)))
        .select("vec_id", "label")
        .orderBy("vec_id")
    },

    "q109_semantic_keep_best" -> { (s, dir) =>
      // SemDeDup with keeper-by-quality: q77's clusters (the shared pinned
      // frame — the pair+closure chain runs once per session, not once per
      // policy), but each cluster keeps its highest-quality member
      // (deterministic derived quality so the oracle re-ranks identically)
      // instead of the min id
      val emb = t(s, dir, "embeddings")
        .withColumn("quality", (col("vec_id") % 7).cast("double"))
      Dedup.semanticDedupKeepBest(emb, "vec_id", "embedding", dim = 64,
        qualityCol = "quality", threshold = 0.2, nBits = 8, nTables = 3,
        clusters = Some(semClusters(s, dir)))
        .select("vec_id", "label")
        .orderBy("vec_id")
    },

    "q78_decontaminate" -> { (s, dir) =>
      // the filter stage over q58's contamination report: training corpus
      // (doc_id < 400) minus every doc whose trigram containment against
      // some benchmark doc (doc_id >= 400) reaches 0.5
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400),
        "text", "doc_id", threshold = 0.5, ngram = 3, maxDocFreq = Some(100L))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "q112_bloom_decontaminate" -> { (s, dir) =>
      // q78's decontamination flow through the Bloom scale path: the
      // bench-gram Bloom sketch (NO false negatives) clears
      // non-overlapping docs inside the codegen'd corpus scan; only
      // candidates reach the exact containment join, so the result is
      // bit-identical to the exact uncapped operator — which is exactly
      // what the oracle computes (q78's SQL minus the doc-frequency cap)
      val docs = t(s, dir, "documents")
      Dedup.bloomDecontaminate(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400),
        "text", "doc_id", threshold = 0.5, ngram = 3)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "q79_quality_sample" -> { (s, dir) =>
      // soft quality gate: acceptance = clamp(qualityScore/100, .05, .95)
      // against the md5 unit hash — q71 proves the score blend, q36 the
      // hash, this proves their composition
      graft.ops.Sampling.qualityWeightedSample(
        t(s, dir, "documents"), "doc_id", "text",
        floor = 0.05, ceil = 0.95, salt = "graft-r4")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },

    // ------------------------------------------------------- multimodal

    "q52_multimodal_meta" -> { (s, dir) =>
      Multimodal.withMediaMeta(
        t(s, dir, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
        "payload")
        .select(col("doc_id"), col("n_bytes"), col("content_digest"),
          ascii(substring(col("text"), 1, 1)).as("first_byte"))
        .orderBy("doc_id")
    },

    "q53_multimodal_decode" -> { (s, dir) =>
      // real mapPartitions batch-decode plumbing with the stub decoder
      val withPayload = t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.decodeFeatures(withPayload, "doc_id", "payload", featureDim = 8)
        .select(col("doc_id"), col("n_bytes"), roundz(element_at(col("features"), 1), 4).as("f0"))
        .orderBy("doc_id")
    },

    "q108_image_resize" -> { (s, dir) =>
      // REAL image resize through the PPM decode -> nearest-neighbor ->
      // re-encode path: payloads are deterministic synthetic PPMs (pixel
      // byte = (doc_id*31 + flat_index) % 256, dims keyed off doc_id), so
      // the oracle re-derives the resized dims and pixel checksum from
      // pure integer arithmetic — the resample IS integer index math.
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.ops.ImageCodecs
      val docs = t(s, dir, "documents").select("doc_id")
      val imgSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val imgs = docs.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val w = 4 + (id % 5).toInt // 4..8
          val h = 3 + (id % 4).toInt // 3..6
          val rgb = new Array[Byte](w * h * 3)
          var i = 0
          while (i < rgb.length) { rgb(i) = ((id * 31 + i) % 256).toByte; i += 1 }
          Row(id, ImageCodecs.encodePpm(ImageCodecs.DecodedImage(w, h, rgb)))
        }
      }(org.apache.spark.sql.Encoders.row(imgSchema))
      val resized = graft.ops.Multimodal.resizePayload(imgs, "doc_id", "payload", factor = 2)
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("out_w", IntegerType, nullable = false),
        StructField("out_h", IntegerType, nullable = false),
        StructField("pixel_sum", LongType, nullable = false)))
      resized.mapPartitions { rows =>
        rows.map { r =>
          // positional access: rows inside mapPartitions carry no schema
          val img = ImageCodecs.decode(r.getAs[Array[Byte]](2)).get
          var sum = 0L
          img.rgb.foreach(b => sum += (b & 0xFF))
          Row(r.getLong(0), img.width, img.height, sum)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema)).orderBy("doc_id")
    },

    "q60_sequence_packing" -> { (s, dir) =>
      // concat-then-chunk packing into 512-token sequences, sharded by
      // source (the scalable shape: prefix sums never cross shards)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.sequencePacking(
        docs, "doc_id", "n_tokens", "source", budget = 512L, orderCol = "doc_id")
        .select("doc_id", "source", "n_tokens", "offset",
          "chunk_first", "chunk_last", "n_chunks")
        .orderBy("doc_id")
    },

    "q59_wav_meta" -> { (s, dir) =>
      // real RIFF/WAVE decode: synthesize PCM16 payloads from the document
      // bytes (deterministic), decode with AudioCodecs, emit metadata the
      // oracle re-derives from pure length arithmetic.
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val wavs = docs.mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getString(1).getBytes("UTF-8")
          val n = bytes.length / 2
          val samples = new Array[Short](n)
          var i = 0
          while (i < n) {
            samples(i) = (((bytes(2 * i + 1) & 0xFF) << 8) | (bytes(2 * i) & 0xFF)).toShort
            i += 1
          }
          Row(r.getLong(0), graft.ops.AudioCodecs.encodeWavPcm16(16000, 1, samples))
        }
      }(org.apache.spark.sql.Encoders.row(schema))
      Multimodal.wavFeatures(wavs, "doc_id", "payload")
        .select("doc_id", "sample_rate", "channels", "bits", "n_frames", "duration_us")
        .orderBy("doc_id")
    },

    // ------------------------------------- events tumbling window (batch)

    "q51_event_windows" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(expr("ts div 1000") / lit(3600000000.0)).as("hour_bucket"))
        .agg(count(lit(1)).as("n_events"), roundz(sum("value"), 2).as("sum_value_r"))
        .orderBy("event_type", "hour_bucket")
    }
  )

  /** DuckDB oracle for the q54 IVF search, written from the TRAINED
    * centroids (available only after the query fn has run — [[ivfCentroids]]):
    * every stage downstream of training is plain arithmetic DuckDB can
    * mirror — cell assignment and probe selection rank `2·v⋅c − |c|²`
    * (ties toward the smaller list id), then exact cosine top-k with the
    * engine's (cosine DESC, vec_id) tie order. Centroid doubles are
    * interpolated via toString (round-trip exact) with element-wise
    * CAST AS DOUBLE (a bare decimal literal would parse as DECIMAL and
    * lose the low bits). */
  private[queries] def ivfOracleSql: Map[String, String] =
    RegistryMemo.current[Centroids]("ivf").toSeq.flatMap { cents =>
      def d(x: Double): String = s"CAST(${x.toString} AS DOUBLE)"
      val rows = cents.map { case (i, c, c2) =>
        s"    ($i, [${c.map(d).mkString(", ")}], ${d(c2)})"
      }.mkString(",\n")
      Seq(
      // cluster-balanced sampling shares the quantizer: same cell
      // assignment CTEs, then the q105-style md5 unit hash ranked
      // ascending per cell (ties toward the smaller id)
      "q111_cluster_balanced" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (
           |  SELECT * FROM (VALUES
           |$rows
           |  ) t(list_id, c, c2)
           |), cells AS (
           |  SELECT e.vec_id, cent.list_id,
           |    2.0 * list_dot_product(e.v, cent.c) - cent.c2 AS neg
           |  FROM e, cent
           |), assigned AS (
           |  SELECT vec_id, list_id FROM (
           |    SELECT vec_id, list_id,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY neg DESC, list_id) AS rn
           |    FROM cells) WHERE rn = 1
           |), u AS (
           |  SELECT vec_id, list_id,
           |    CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || 'cb'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
           |  FROM assigned
           |), rk AS (
           |  SELECT vec_id, list_id,
           |    row_number() OVER (PARTITION BY list_id ORDER BY uh, vec_id) AS sample_rank
           |  FROM u
           |)
           |SELECT vec_id, list_id, sample_rank FROM rk
           |WHERE sample_rank <= 10
           |ORDER BY list_id, sample_rank""".stripMargin,
      // embedding-space drift: same literal-centroid cells, even/odd
      // halves, add-one-smoothed PSI contributions per cell (the q96
      // arithmetic over cell histograms)
      "q267_embedding_drift" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (
           |  SELECT * FROM (VALUES
           |$rows
           |  ) t(list_id, c, c2)
           |), cells AS (
           |  SELECT e.vec_id, cent.list_id,
           |    2.0 * list_dot_product(e.v, cent.c) - cent.c2 AS neg
           |  FROM e, cent
           |), assigned AS (
           |  SELECT vec_id, list_id FROM (
           |    SELECT vec_id, list_id,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY neg DESC, list_id) AS rn
           |    FROM cells) WHERE rn = 1
           |), hr AS (
           |  SELECT list_id AS cell, CAST(count(*) AS BIGINT) AS n_ref
           |  FROM assigned WHERE vec_id % 2 = 0 GROUP BY list_id
           |), hc AS (
           |  SELECT list_id AS cell, CAST(count(*) AS BIGINT) AS n_cur
           |  FROM assigned WHERE vec_id % 2 = 1 GROUP BY list_id
           |), j AS (
           |  SELECT coalesce(hr.cell, hc.cell) AS cell,
           |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
           |  FROM hr FULL JOIN hc ON hr.cell = hc.cell
           |), tt AS (
           |  SELECT sum(n_ref) AS tr, sum(n_cur) AS tc,
           |    CAST(count(*) AS BIGINT) AS b
           |  FROM j
           |)
           |SELECT cell, n_ref, n_cur,
           |  round((CAST(n_cur + 1 AS DOUBLE) / (tc + b)
           |         - CAST(n_ref + 1 AS DOUBLE) / (tr + b))
           |    * ln((CAST(n_cur + 1 AS DOUBLE) / (tc + b))
           |        / (CAST(n_ref + 1 AS DOUBLE) / (tr + b))), 9) + 0.0 AS contrib_r
           |FROM j, tt ORDER BY cell""".stripMargin,
      // cell-balance health report: the same assignment CTEs aggregated
      // at CELL grain — population extremes, mean per trained cell, and
      // the skew ratio (max · n_cells / n_vecs), all from the
      // interpolated quantizer
      "q304_ivf_describe" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (
           |  SELECT * FROM (VALUES
           |$rows
           |  ) t(list_id, c, c2)
           |), cells AS (
           |  SELECT e.vec_id, cent.list_id,
           |    2.0 * list_dot_product(e.v, cent.c) - cent.c2 AS neg
           |  FROM e, cent
           |), assigned AS (
           |  SELECT vec_id, list_id FROM (
           |    SELECT vec_id, list_id,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY neg DESC, list_id) AS rn
           |    FROM cells) WHERE rn = 1
           |), cc AS (
           |  SELECT list_id, count(*) AS c FROM assigned GROUP BY 1
           |), agg AS (
           |  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_vecs,
           |    count(*) AS cells_used,
           |    CAST(max(c) AS BIGINT) AS max_cell_rows,
           |    CAST(min(c) AS BIGINT) AS min_cell_rows
           |  FROM cc
           |), nc AS (SELECT count(*) AS n_cells FROM cent)
           |SELECT n_vecs, n_cells, cells_used, max_cell_rows, min_cell_rows,
           |  round(CAST(n_vecs AS DOUBLE) / CAST(n_cells AS DOUBLE), 6) + 0.0
           |    AS mean_cell_r,
           |  round(CAST(max_cell_rows AS DOUBLE) * CAST(n_cells AS DOUBLE)
           |    / CAST(n_vecs AS DOUBLE), 6) + 0.0 AS skew_r
           |FROM agg, nc""".stripMargin,
      "q54_ivf_topk" -> q54IvfSql(rows),
      // serving-path parity: the persisted-index replay (q191) answers
      // the SAME question from the SAME quantizer, so it shares the
      // oracle verbatim
      "q191_ivf_served" -> q54IvfSql(rows),
      // takedown parity: the post-delete index serves exactly what a
      // rebuild over the SURVIVOR corpus serves (cell assignment is
      // per-vector) — the oracle filters the corpus, same quantizer
      "q257_ivf_takedown" -> q54IvfSql(rows, " WHERE e.vec_id % 5 <> 2"),
      // served hybrid: the q84 lexical run + the q54 vector chain
      // (same quantizer, queries 1–3) fused by the q218 RRF fold
      "q290_hybrid_served" -> q290HybridSql(rows),
      // MMR diversification over the q54 top-20: the greedy replays as
      // a recursive CTE carrying the picked ids/vectors; λ and 1−λ
      // interpolate as exact doubles (1−0.7 is NOT 0.3 in IEEE)
      "q294_mmr_rerank" -> q294MmrSql(rows),
      // the hybrid page (q290 chain, top-20), min-max normalized per
      // query, diversified by the q294 recursive greedy
      "q297_hybrid_mmr" -> q297HybridMmrSql(rows),
      // embedding-space outliers: same literal-centroid cells, dist² in
      // integer micro-units, exact-moment z per cell (the q85 contract)
      "q194_embedding_outliers" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (
           |  SELECT * FROM (VALUES
           |$rows
           |  ) t(list_id, c, c2)
           |), cells AS (
           |  SELECT e.vec_id, cent.list_id,
           |    2.0 * list_dot_product(e.v, cent.c) - cent.c2 AS neg
           |  FROM e, cent
           |), best AS (
           |  SELECT vec_id, list_id, neg FROM (
           |    SELECT vec_id, list_id, neg,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY neg DESC, list_id) AS rn
           |    FROM cells) WHERE rn = 1
           |), d AS (
           |  SELECT b.vec_id, b.list_id,
           |    CAST(round((list_dot_product(e.v, e.v) - b.neg) * 1e6) AS BIGINT) AS dist_u
           |  FROM best b JOIN e USING (vec_id)
           |), st AS (
           |  SELECT list_id, count(*) AS n, sum(dist_u) AS sx,
           |    sum(dist_u * dist_u) AS sxx
           |  FROM d GROUP BY list_id
           |), z AS (
           |  SELECT d.vec_id, d.list_id, d.dist_u,
           |    CAST(sx AS DOUBLE) / n AS mean,
           |    CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS var
           |  FROM d JOIN st USING (list_id)
           |)
           |SELECT vec_id, list_id, dist_u,
           |  round(CASE WHEN var > 0 THEN (CAST(dist_u AS DOUBLE) - mean) / sqrt(var) END, 6) + 0.0 AS z_r,
           |  CASE WHEN var > 0 THEN abs((CAST(dist_u AS DOUBLE) - mean) / sqrt(var)) > 2.0 END AS is_outlier
           |FROM z ORDER BY vec_id""".stripMargin
      )
    }.toMap

  private[queries] def q54IvfSql(rows: String, corpusWhere: String = ""): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (
       |  SELECT * FROM (VALUES
       |$rows
       |  ) t(list_id, c, c2)
       |), cells AS (
       |  SELECT e.vec_id, cent.list_id,
       |    2.0 * list_dot_product(e.v, cent.c) - cent.c2 AS neg
       |  FROM e, cent$corpusWhere
       |), assigned AS (
       |  SELECT vec_id, list_id FROM (
       |    SELECT vec_id, list_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY neg DESC, list_id) AS rn
       |    FROM cells) WHERE rn = 1
       |), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |probes AS (
       |  SELECT query_id, list_id FROM (
       |    SELECT q.query_id, cent.list_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY 2.0 * list_dot_product(q.qv, cent.c) - cent.c2 DESC, cent.list_id) AS rn
       |    FROM q, cent) WHERE rn <= 4
       |), scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    list_dot_product(q.qv, e.v)
       |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine
       |  FROM probes p
       |  JOIN assigned a USING (list_id)
       |  JOIN e ON e.vec_id = a.vec_id
       |  JOIN q ON q.query_id = p.query_id
       |  WHERE a.vec_id <> p.query_id
       |), rk AS (
       |  SELECT query_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS nn_rank
       |  FROM scored WHERE NOT isnan(cosine)
       |)
       |SELECT query_id, vec_id, round(cosine, 6) + 0.0 AS cosine_r, nn_rank
       |FROM rk WHERE nn_rank <= 10
       |ORDER BY query_id, nn_rank""".stripMargin

  /** q290: served hybrid retrieval — the q84 BM25 run (`rk`, qids 1–3)
    * and the q54 IVF chain (same trained quantizer, query vectors 1–3,
    * 4 probes, self-excluded, NaN-dropped) each to depth 10, fused by
    * the q218 reciprocal-rank fold (k = 60, terms in system-name
    * order, fused ties toward the smaller doc id). */
  private[queries] def q290HybridSql(rows: String): String =
    q290HybridChain(rows) +
    s"""
       |SELECT qid, doc_id, round(rrf, 6) + 0.0 AS rrf_score_r, fused_rank
       |FROM frk WHERE fused_rank <= 10 ORDER BY qid, fused_rank""".stripMargin

  /** The q290 CTE chain alone (`WITH toks … frk`) — reused by the
    * hybrid-page MMR oracle (q297), which appends normalization + the
    * recursive greedy over the fused page. */
  private[queries] def q290HybridChain(rows: String): String =
    bm25RunCtes("") +
    s""", e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (
       |  SELECT * FROM (VALUES
       |$rows
       |  ) t(list_id, c, c2)
       |), cells AS (
       |  SELECT e.vec_id, cent.list_id,
       |    2.0 * list_dot_product(e.v, cent.c) - cent.c2 AS neg
       |  FROM e, cent
       |), vassigned AS (
       |  SELECT vec_id, list_id FROM (
       |    SELECT vec_id, list_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY neg DESC, list_id) AS rn
       |    FROM cells) WHERE rn = 1
       |), vq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
       |vprobes AS (
       |  SELECT query_id, list_id FROM (
       |    SELECT vq.query_id, cent.list_id,
       |      row_number() OVER (PARTITION BY vq.query_id
       |        ORDER BY 2.0 * list_dot_product(vq.qv, cent.c) - cent.c2 DESC, cent.list_id) AS rn
       |    FROM vq, cent) WHERE rn <= 4
       |), vscored AS (
       |  SELECT p.query_id, a.vec_id,
       |    list_dot_product(vq.qv, e.v)
       |      / (sqrt(list_dot_product(vq.qv, vq.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine
       |  FROM vprobes p
       |  JOIN vassigned a USING (list_id)
       |  JOIN e ON e.vec_id = a.vec_id
       |  JOIN vq ON vq.query_id = p.query_id
       |  WHERE a.vec_id <> p.query_id
       |), vrk AS (
       |  SELECT query_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS nn_rank
       |  FROM vscored WHERE NOT isnan(cosine)
       |), cand AS (
       |  SELECT qid, doc_id, 'bm25' AS sys, rank FROM rk WHERE rank <= 10
       |  UNION ALL
       |  SELECT query_id AS qid, vec_id AS doc_id, 'ivf' AS sys, nn_rank AS rank
       |  FROM vrk WHERE nn_rank <= 10
       |), fused AS (
       |  SELECT qid, doc_id,
       |    list_reduce(list_prepend(0.0,
       |      list(1.0 / (60.0 + CAST(rank AS DOUBLE)) ORDER BY sys)),
       |      (a, b) -> a + b) AS rrf
       |  FROM cand GROUP BY 1, 2
       |), frk AS (
       |  SELECT qid, doc_id, rrf,
       |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS fused_rank
       |  FROM fused
       |)""".stripMargin

  /** q294: MMR re-ranking of the q54/q191 IVF top-20 — the recursive
    * CTE carries the picked (ids, vectors, objectives) per query; each
    * step's pick is `max(struct(m, −doc, v))` (= objective desc, doc
    * asc, the engine's tie order), with the penalty cosine the exact
    * q54 arithmetic over the carried vectors. */
  private[queries] def q294MmrSql(rows: String): String = {
    val lam = 0.7
    val oneMinus = 1.0 - lam // NOT 0.3: interpolate the exact IEEE value
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (
       |  SELECT * FROM (VALUES
       |$rows
       |  ) t(list_id, c, c2)
       |), cells AS (
       |  SELECT e.vec_id, cent.list_id,
       |    2.0 * list_dot_product(e.v, cent.c) - cent.c2 AS neg
       |  FROM e, cent
       |), assigned AS (
       |  SELECT vec_id, list_id FROM (
       |    SELECT vec_id, list_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY neg DESC, list_id) AS rn
       |    FROM cells) WHERE rn = 1
       |), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |probes AS (
       |  SELECT query_id, list_id FROM (
       |    SELECT q.query_id, cent.list_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY 2.0 * list_dot_product(q.qv, cent.c) - cent.c2 DESC, cent.list_id) AS rn
       |    FROM q, cent) WHERE rn <= 4
       |), scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    list_dot_product(q.qv, e.v)
       |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine
       |  FROM probes p
       |  JOIN assigned a USING (list_id)
       |  JOIN e ON e.vec_id = a.vec_id
       |  JOIN q ON q.query_id = p.query_id
       |  WHERE a.vec_id <> p.query_id
       |), cand AS MATERIALIZED (
       |  SELECT query_id, vec_id, cosine, v FROM (
       |    SELECT sc.query_id, sc.vec_id, sc.cosine, e.v,
       |      row_number() OVER (PARTITION BY sc.query_id ORDER BY sc.cosine DESC, sc.vec_id) AS nn_rank
       |    FROM scored sc JOIN e USING (vec_id)
       |    WHERE NOT isnan(sc.cosine)) WHERE nn_rank <= 20
       |), sel AS (
       |  SELECT query_id, 0 AS step,
       |    CAST([] AS BIGINT[]) AS ids, CAST([] AS DOUBLE[][]) AS vecs,
       |    CAST([] AS DOUBLE[]) AS mmrs
       |  FROM (SELECT DISTINCT query_id FROM cand)
       |  UNION ALL
       |  SELECT p.query_id, p.step + 1,
       |    list_append(p.ids, -p.pick.nd),
       |    list_append(p.vecs, p.pick.v),
       |    list_append(p.mmrs, p.pick.m)
       |  FROM (
       |    SELECT s.query_id, s.step, s.ids, s.vecs, s.mmrs,
       |      max(struct_pack(
       |        m := CAST(${lam.toString} AS DOUBLE) * c.cosine
       |          - CAST(${oneMinus.toString} AS DOUBLE) * coalesce(
       |            list_max(list_transform(s.vecs, sv ->
       |              list_dot_product(c.v, sv) /
       |                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(sv, sv))))),
       |            CAST(0.0 AS DOUBLE)),
       |        nd := -c.vec_id,
       |        v := c.v)) AS pick
       |    FROM sel s JOIN cand c
       |      ON c.query_id = s.query_id AND NOT list_contains(s.ids, c.vec_id)
       |    WHERE s.step < 10
       |    GROUP BY s.query_id, s.step, s.ids, s.vecs, s.mmrs
       |  ) p
       |)
       |SELECT query_id, ids[i] AS vec_id, i AS mmr_rank,
       |  round(mmrs[i], 6) + 0.0 AS mmr_r
       |FROM sel, UNNEST(range(1, len(ids) + 1)) t(i)
       |WHERE step = (SELECT max(step) FROM sel s2 WHERE s2.query_id = sel.query_id)
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** q297: the q290 fused page (top-20) joined to its vectors, scores
    * min-max normalized per query (ties: a degenerate page of one
    * score normalizes to 1.0), then the q294 recursive MMR greedy over
    * the normalized relevance. The chain's leading `WITH` gains the
    * RECURSIVE keyword the greedy needs. */
  private[queries] def q297HybridMmrSql(rows: String): String = {
    val lam = 0.7
    val oneMinus = 1.0 - lam
    q290HybridChain(rows).replaceFirst("WITH toks", "WITH RECURSIVE toks") +
    s""", page AS (
       |  SELECT qid, doc_id, round(rrf, 6) + 0.0 AS r
       |  FROM frk WHERE fused_rank <= 20
       |), pv AS MATERIALIZED (
       |  SELECT p.qid, p.doc_id, p.r, e.v
       |  FROM page p JOIN e ON e.vec_id = p.doc_id
       |), ext AS (
       |  SELECT qid, min(r) AS mn, max(r) AS mx FROM pv GROUP BY qid
       |), cand2 AS MATERIALIZED (
       |  SELECT pv.qid, pv.doc_id, pv.v,
       |    CASE WHEN ext.mx = ext.mn THEN 1.0
       |         ELSE (pv.r - ext.mn) / (ext.mx - ext.mn) END AS rel
       |  FROM pv JOIN ext USING (qid)
       |), msel AS (
       |  SELECT qid, 0 AS step,
       |    CAST([] AS BIGINT[]) AS ids, CAST([] AS DOUBLE[][]) AS vecs,
       |    CAST([] AS DOUBLE[]) AS mmrs
       |  FROM (SELECT DISTINCT qid FROM cand2)
       |  UNION ALL
       |  SELECT p.qid, p.step + 1,
       |    list_append(p.ids, -p.pick.nd),
       |    list_append(p.vecs, p.pick.v),
       |    list_append(p.mmrs, p.pick.m)
       |  FROM (
       |    SELECT s.qid, s.step, s.ids, s.vecs, s.mmrs,
       |      max(struct_pack(
       |        m := CAST(${lam.toString} AS DOUBLE) * c.rel
       |          - CAST(${oneMinus.toString} AS DOUBLE) * coalesce(
       |            list_max(list_transform(s.vecs, sv ->
       |              list_dot_product(c.v, sv) /
       |                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(sv, sv))))),
       |            CAST(0.0 AS DOUBLE)),
       |        nd := -c.doc_id,
       |        v := c.v)) AS pick
       |    FROM msel s JOIN cand2 c
       |      ON c.qid = s.qid AND NOT list_contains(s.ids, c.doc_id)
       |    WHERE s.step < 10
       |    GROUP BY s.qid, s.step, s.ids, s.vecs, s.mmrs
       |  ) p
       |)
       |SELECT qid, ids[i] AS doc_id, i AS mmr_rank,
       |  round(mmrs[i], 6) + 0.0 AS mmr_r
       |FROM msel, UNNEST(range(1, len(ids) + 1)) t(i)
       |WHERE step = (SELECT max(step) FROM msel s2 WHERE s2.qid = msel.qid)
       |ORDER BY qid, mmr_rank""".stripMargin
  }

  /** Static oracles plus the trained-quantizer q54/q111 oracles and the
    * trained-PQ q149/q150 oracles (present once the corresponding query
    * has run in this JVM — Verify runs every query before dumping
    * oracle_sql.json, so the driver always sees them). */
  def oracleSql: Map[String, String] =
    staticOracleSql ++ ivfOracleSql ++ pqOracleSql ++ ivfPqOracleSql ++
      matryoshkaOracleSql

  /** DuckDB oracle for the q293 matryoshka serving flow, written from
    * the TRAINED sliced-vector quantizer ([[matryoshkaCentroids]], the
    * [[ivfOracleSql]] late-binding pattern): the sliced IVF chain is
    * the q54 machinery over `v[1:16]`, the recall side joins the
    * FULL-width exact brute ranking, both self-excluded/NaN-dropped. */
  private[queries] def matryoshkaOracleSql: Map[String, String] =
    RegistryMemo.current[Centroids]("mat-centroids").toSeq.map { cents =>
      def d(x: Double): String = s"CAST(${x.toString} AS DOUBLE)"
      val rows = cents.map { case (i, c, c2) =>
        s"    ($i, [${c.map(d).mkString(", ")}], ${d(c2)})"
      }.mkString(",\n")
      val dim = MatryoshkaDim
      "q293_matryoshka_served" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |et AS (SELECT vec_id, v[1:$dim] AS vt FROM e),
           |cent AS (
           |  SELECT * FROM (VALUES
           |$rows
           |  ) t(list_id, c, c2)
           |), cells AS (
           |  SELECT et.vec_id, cent.list_id,
           |    2.0 * list_dot_product(et.vt, cent.c) - cent.c2 AS neg
           |  FROM et, cent
           |), assigned AS (
           |  SELECT vec_id, list_id FROM (
           |    SELECT vec_id, list_id,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY neg DESC, list_id) AS rn
           |    FROM cells) WHERE rn = 1
           |), vq AS (SELECT vec_id AS query_id, vt AS qv FROM et WHERE vec_id < 5),
           |probes AS (
           |  SELECT query_id, list_id FROM (
           |    SELECT vq.query_id, cent.list_id,
           |      row_number() OVER (PARTITION BY vq.query_id
           |        ORDER BY 2.0 * list_dot_product(vq.qv, cent.c) - cent.c2 DESC, cent.list_id) AS rn
           |    FROM vq, cent) WHERE rn <= 4
           |), scored AS (
           |  SELECT p.query_id, a.vec_id,
           |    list_dot_product(vq.qv, et.vt)
           |      / (sqrt(list_dot_product(vq.qv, vq.qv)) * sqrt(list_dot_product(et.vt, et.vt))) AS cosine
           |  FROM probes p
           |  JOIN assigned a USING (list_id)
           |  JOIN et ON et.vec_id = a.vec_id
           |  JOIN vq ON vq.query_id = p.query_id
           |  WHERE a.vec_id <> p.query_id
           |), served AS (
           |  SELECT query_id, vec_id, cosine,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS nn_rank
           |  FROM scored WHERE NOT isnan(cosine)
           |  QUALIFY nn_rank <= 10
           |), fq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
           |fsc AS (
           |  SELECT fq.query_id, e.vec_id,
           |    list_dot_product(fq.qv, e.v)
           |      / (sqrt(list_dot_product(fq.qv, fq.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine
           |  FROM fq JOIN e ON e.vec_id <> fq.query_id
           |), frk AS (
           |  SELECT query_id, vec_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS nn_rank
           |  FROM fsc WHERE NOT isnan(cosine)
           |  QUALIFY nn_rank <= 10
           |), hits AS (
           |  SELECT s.query_id, CAST(count(*) AS BIGINT) AS h
           |  FROM served s JOIN frk f ON s.query_id = f.query_id AND s.vec_id = f.vec_id
           |  GROUP BY 1
           |), en AS (
           |  SELECT query_id, CAST(count(*) AS BIGINT) AS n FROM frk GROUP BY 1
           |)
           |SELECT s.query_id, s.vec_id, round(s.cosine, 6) + 0.0 AS cosine_r,
           |  s.nn_rank, coalesce(h.h, 0) AS n_hits,
           |  round(coalesce(h.h, 0) / en.n, 6) + 0.0 AS recall_r
           |FROM served s
           |JOIN en USING (query_id)
           |LEFT JOIN hits h ON h.query_id = s.query_id
           |ORDER BY s.query_id, s.nn_rank""".stripMargin
    }.toMap

  private[queries] def sqlDouble(x: Double): String = s"CAST(${x.toString} AS DOUBLE)"

  /** The shared PQ CTE block: codebook VALUES, per-subspace slices,
    * literal-argmax code assignment. */
  private[queries] def pqCommonCtes(cbs: Seq[Seq[(Int, Seq[Double], Double)]]): String = {
    val rows = cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (cid, c, c2) =>
        s"    ($s, $cid, [${c.map(sqlDouble).mkString(", ")}], ${sqlDouble(c2)})"
      }
    }.mkString(",\n")
    val subDim = cbs.head.head._2.size
    val svSelects = cbs.indices.map { s =>
      s"  SELECT vec_id, $s AS s, v[${s * subDim + 1}:${(s + 1) * subDim}] AS vs FROM e"
    }.mkString("\n  UNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cb AS (
       |  SELECT * FROM (VALUES
       |$rows
       |  ) t(sub, cid, c, c2)
       |), sv AS (
       |$svSelects
       |), asg AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT sv.vec_id, sv.s, cb.cid,
       |      row_number() OVER (PARTITION BY sv.vec_id, sv.s
       |        ORDER BY 2.0 * list_dot_product(sv.vs, cb.c) - cb.c2 DESC, cb.cid) AS rn
       |    FROM sv JOIN cb ON cb.sub = sv.s) WHERE rn = 1
       |)""".stripMargin
  }

  /** IVF-PQ oracle: interpolates BOTH trained quantizers (coarse kmeans
    * cells + PQ codebooks) and replays probe selection, assignment, and
    * the ADC term chain. */
  private[queries] def ivfPqOracleSql: Map[String, String] =
    (for {
      coarse <- RegistryMemo.current[Centroids]("km")
      cbs <- RegistryMemo.current[Seq[Centroids]]("pq")
    } yield {
      val coarseRows = coarse.map { case (i, c, c2) =>
        s"    ($i, [${c.map(sqlDouble).mkString(", ")}], ${sqlDouble(c2)})"
      }.mkString(",\n")
      val subDim = cbs.head.head._2.size
      val qsvSelects = cbs.indices.map { s =>
        s"  SELECT query_id, $s AS s, qv[${s * subDim + 1}:${(s + 1) * subDim}] AS qs FROM q"
      }.mkString("\n  UNION ALL\n")
      val tPivot = cbs.indices.map(s =>
        s"    max(CASE WHEN s = $s THEN term END) AS t$s").mkString(",\n")
      val tChain = cbs.indices.map(s => s"t$s").mkString(" + ")
      Map("q151_ivf_pq" ->
        (pqCommonCtes(cbs) + s""",
           |coarse AS (
           |  SELECT * FROM (VALUES
           |$coarseRows
           |  ) t(list_id, cc, cc2)
           |), cells AS (
           |  SELECT vec_id, list_id FROM (
           |    SELECT e.vec_id, coarse.list_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY 2.0 * list_dot_product(e.v, coarse.cc) - coarse.cc2 DESC, coarse.list_id) AS rn
           |    FROM e, coarse) WHERE rn = 1
           |), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
           |probes AS (
           |  SELECT query_id, list_id FROM (
           |    SELECT q.query_id, coarse.list_id,
           |      row_number() OVER (PARTITION BY q.query_id
           |        ORDER BY 2.0 * list_dot_product(q.qv, coarse.cc) - coarse.cc2 DESC, coarse.list_id) AS rn
           |    FROM q, coarse) WHERE rn <= 3
           |), qsv AS (
           |$qsvSelects
           |), lut AS (
           |  SELECT query_id, qsv.s, cb.cid,
           |    list_dot_product(qs, qs) - 2.0 * list_dot_product(qs, cb.c) + cb.c2 AS term
           |  FROM qsv JOIN cb ON cb.sub = qsv.s
           |), cand AS (
           |  SELECT p.query_id, cells.vec_id
           |  FROM probes p JOIN cells ON cells.list_id = p.list_id
           |  WHERE cells.vec_id <> p.query_id
           |), contrib AS (
           |  SELECT c.query_id, c.vec_id, a.s, l.term
           |  FROM cand c
           |  JOIN asg a ON a.vec_id = c.vec_id
           |  JOIN lut l ON l.query_id = c.query_id AND l.s = a.s AND l.cid = a.cid
           |), pv AS (
           |  SELECT query_id, vec_id,
           |$tPivot
           |  FROM contrib GROUP BY query_id, vec_id
           |), dist AS (
           |  SELECT query_id, vec_id, round($tChain, 6) + 0.0 AS adist_r FROM pv
           |), rk AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist_r ASC, vec_id) AS pq_rank
           |  FROM dist
           |)
           |SELECT query_id, vec_id, adist_r, pq_rank
           |FROM rk WHERE pq_rank <= 10
           |ORDER BY query_id, pq_rank""".stripMargin))
    }).getOrElse(Map.empty)

  /** Late-bound PQ oracles: the trained codebooks interpolate as a VALUES
    * table; assignment is the literal argmax (rounded-free — both engines
    * compute identical doubles), search replays the LUT arithmetic
    * term-for-term with the subspace sum in the engine's left-assoc
    * order. */
  private[queries] def pqOracleSql: Map[String, String] =
    RegistryMemo.current[Seq[Centroids]]("pq").toSeq.flatMap { cbs =>
      val subDim = cbs.head.head._2.size
      val qsvSelects = cbs.indices.map { s =>
        val lo = s * subDim + 1
        val hi = (s + 1) * subDim
        s"  SELECT query_id, $s AS s, qv[$lo:$hi] AS qs FROM q"
      }.mkString("\n  UNION ALL\n")
      val commonCtes = pqCommonCtes(cbs)
      val pivot = cbs.indices.map(s =>
        s"    max(CASE WHEN s = $s THEN cid END) AS c$s").mkString(",\n")
      val tPivot = cbs.indices.map(s =>
        s"    max(CASE WHEN s = $s THEN term END) AS t$s").mkString(",\n")
      val tChain = cbs.indices.map(s => s"t$s").mkString(" + ")
      Seq(
        "q149_pq_encode" ->
          s"""$commonCtes
             |SELECT vec_id,
             |$pivot
             |FROM asg GROUP BY vec_id ORDER BY vec_id""".stripMargin,
        "q150_pq_topk" ->
          s"""$commonCtes,
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
             |qsv AS (
             |$qsvSelects
             |), lut AS (
             |  SELECT query_id, qsv.s, cb.cid,
             |    list_dot_product(qs, qs) - 2.0 * list_dot_product(qs, cb.c) + cb.c2 AS term
             |  FROM qsv JOIN cb ON cb.sub = qsv.s
             |), contrib AS (
             |  SELECT l.query_id, a.vec_id, a.s, l.term
             |  FROM asg a JOIN lut l ON l.s = a.s AND l.cid = a.cid
             |), pv AS (
             |  SELECT query_id, vec_id,
             |$tPivot
             |  FROM contrib GROUP BY query_id, vec_id
             |), dist AS (
             |  SELECT query_id, vec_id, round($tChain, 6) + 0.0 AS adist_r
             |  FROM pv WHERE vec_id <> query_id
             |), rk AS (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist_r ASC, vec_id) AS pq_rank
             |  FROM dist
             |)
             |SELECT query_id, vec_id, adist_r, pq_rank
             |FROM rk WHERE pq_rank <= 10
             |ORDER BY query_id, pq_rank""".stripMargin)
    }.toMap

  /** BPE training oracle, shared machinery: `state_0` is the word
    * histogram symbolized to code points + '</w>'; each round derives
    * pair counts, picks the argmax under the engine tie-break
    * (count DESC, left ASC, right ASC — binary string order both
    * engines), and replays the GREEDY left-to-right merge with window
    * functions: consecutive-match islands per word, odd island index
    * merges, the following position is absorbed. MATERIALIZED is
    * load-bearing: DuckDB inlines plain CTEs per reference, which makes
    * an n-round chain exponential. */
  private[queries] val bpeW0Sql: String =
    """w0 AS (
      |  SELECT unnest(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS word
      |  FROM documents
      |  WHERE text IS NOT NULL AND len(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0
      |),
      |state_0 AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt, list_append(string_split(word, ''), '</w>') AS s
      |  FROM w0 GROUP BY word
      |)""".stripMargin

  private[queries] def bpeRoundSql(r: Int): String = {
    val p = r - 1
    s"""pairs_$r AS MATERIALIZED (
       |  SELECT s[i+1] AS a, s[i+2] AS b, sum(cnt) AS c
       |  FROM state_$p, unnest(range(len(s)-1)) AS u(i)
       |  GROUP BY 1, 2
       |),
       |best_$r AS MATERIALIZED (
       |  SELECT a, b, c FROM pairs_$r ORDER BY c DESC, a, b LIMIT 1
       |),
       |ex_$r AS MATERIALIZED (
       |  SELECT word, cnt, i, s[i+1] AS sym,
       |    (s[i+1] = (SELECT a FROM best_$r) AND i+2 <= len(s)
       |      AND s[i+2] = (SELECT b FROM best_$r)) AS m
       |  FROM state_$p, unnest(range(len(s))) AS u(i)
       |),
       |run_$r AS (
       |  SELECT word, cnt, i, sym, m,
       |    CASE WHEN m THEN i - row_number() OVER (PARTITION BY word, m ORDER BY i) END AS isl
       |  FROM ex_$r
       |),
       |mk_$r AS (
       |  SELECT word, cnt, i, sym, m, isl,
       |    CASE WHEN m THEN row_number() OVER (PARTITION BY word, isl ORDER BY i) END AS ridx
       |  FROM run_$r
       |),
       |dec_$r AS (
       |  SELECT word, cnt, i, sym,
       |    (m AND ridx % 2 = 1) AS do_merge,
       |    lag(m AND ridx % 2 = 1, 1, false) OVER (PARTITION BY word ORDER BY i) AS absorbed
       |  FROM mk_$r
       |),
       |state_$r AS MATERIALIZED (
       |  SELECT word, any_value(cnt) AS cnt,
       |    list(CASE WHEN do_merge THEN sym || (SELECT b FROM best_$r) ELSE sym END ORDER BY i) AS s
       |  FROM dec_$r
       |  WHERE NOT absorbed
       |  GROUP BY word
       |)""".stripMargin
  }

  private[queries] def bpeStatePrefix(n: Int): String =
    "WITH " + bpeW0Sql + ",\n" + (1 to n).map(bpeRoundSql).mkString(",\n")

  /** APPROXIMATE batched BPE oracle (q283): replays
    * `BpeTrain.train(…, exactGreedy = false)` — the production path a
    * 32k-merge vocabulary uses — entirely in SQL. Per round, the top
    * `maxBatch` ranked candidates are SKIP-scanned (a candidate
    * conflicts iff its right symbol is an accepted left, its left an
    * accepted right, or either symbol equals an accepted member's
    * concatenation), the round's candidate window is capped at the
    * remaining merge budget, and each accepted merge applies as its own
    * greedy left-to-right pass in rank order (chained application ≡
    * sequential passes). Rounds are unrolled `rounds` deep: every round
    * with pairs accepts at least its top candidate, so
    * `rounds = numMerges` covers the worst case and late rounds
    * pass through once the budget is spent. */
  private[queries] def bpeApproxSql(
      numMerges: Int, maxBatch: Int, rounds: Int): String = {
    val sb = new StringBuilder("WITH " + bpeW0Sql)
    var prevState = "state_0"
    val sels = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    for (r <- 1 to rounds) {
      val acceptedBefore =
        if (sels.isEmpty) "0"
        else s"(SELECT count(*) FROM (${sels.map(s => s"SELECT a FROM ${s._3}")
          .mkString(" UNION ALL ")}))"
      sb ++= s""",
        |cand_$r AS MATERIALIZED (
        |  SELECT a, b, c, row_number() OVER (ORDER BY c DESC, a, b) AS rnk
        |  FROM (
        |    SELECT s[i+1] AS a, s[i+2] AS b, sum(cnt) AS c
        |    FROM $prevState, unnest(range(len(s)-1)) AS u(i)
        |    GROUP BY 1, 2)
        |  QUALIFY rnk <= $maxBatch
        |)""".stripMargin
      val roundSels = scala.collection.mutable.ArrayBuffer.empty[String]
      for (i <- 1 to maxBatch) {
        val sel = s"sel_${r}_$i"
        val conflict =
          if (roundSels.isEmpty) ""
          else {
            val p = roundSels.map(n => s"SELECT a, b FROM $n").mkString(" UNION ALL ")
            s"""
               |    AND NOT EXISTS (SELECT 1 FROM ($p) p
               |      WHERE p.a = c0.b OR p.b = c0.a
               |         OR p.a || p.b = c0.a OR p.a || p.b = c0.b)""".stripMargin
          }
        sb ++= s""",
          |$sel AS MATERIALIZED (
          |  SELECT a, b, c FROM cand_$r c0
          |  WHERE c0.rnk = $i AND $i <= $numMerges - $acceptedBefore$conflict
          |)""".stripMargin
        roundSels += sel
        val st = s"st_${r}_$i"
        sb ++= s""",
          |ex_${r}_$i AS (
          |  SELECT word, cnt, i, s[i+1] AS sym,
          |    coalesce(s[i+1] = (SELECT a FROM $sel) AND i+2 <= len(s)
          |      AND s[i+2] = (SELECT b FROM $sel), false) AS m
          |  FROM $prevState, unnest(range(len(s))) AS u(i)
          |),
          |run_${r}_$i AS (
          |  SELECT word, cnt, i, sym, m,
          |    CASE WHEN m THEN i - row_number() OVER (PARTITION BY word, m ORDER BY i) END AS isl
          |  FROM ex_${r}_$i
          |),
          |mk_${r}_$i AS (
          |  SELECT word, cnt, i, sym, m, isl,
          |    CASE WHEN m THEN row_number() OVER (PARTITION BY word, isl ORDER BY i) END AS ridx
          |  FROM run_${r}_$i
          |),
          |dec_${r}_$i AS (
          |  SELECT word, cnt, i, sym,
          |    (m AND ridx % 2 = 1) AS do_merge,
          |    lag(m AND ridx % 2 = 1, 1, false) OVER (PARTITION BY word ORDER BY i) AS absorbed
          |  FROM mk_${r}_$i
          |),
          |$st AS MATERIALIZED (
          |  SELECT word, any_value(cnt) AS cnt,
          |    list(CASE WHEN do_merge THEN sym || (SELECT b FROM $sel) ELSE sym END ORDER BY i) AS s
          |  FROM dec_${r}_$i
          |  WHERE NOT absorbed
          |  GROUP BY word
          |)""".stripMargin
        prevState = st
        sels += ((r, i, sel))
      }
    }
    sb ++= "\n" + s"""SELECT CAST(row_number() OVER (ORDER BY r, i) AS INT) AS merge_rank,
      |  a AS left_sym, b AS right_sym, CAST(c AS BIGINT) AS pair_count
      |FROM (${sels.map { case (r, i, n) => s"SELECT $r AS r, $i AS i, a, b, c FROM $n" }
        .mkString(" UNION ALL ")})
      |ORDER BY merge_rank""".stripMargin
    sb.toString
  }

  /** q108-convention synthetic PPM payloads: w = 4 + id%5, h = 3 + id%4,
    * pixel byte = (id·31 + flat) % 256 — deterministic, so oracles
    * re-derive every decoded byte arithmetically. */
  private[queries] def syntheticPpms(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = 4 + (id % 5).toInt
        val h = 3 + (id % 4).toInt
        val rgb = new Array[Byte](w * h * 3)
        var i = 0
        while (i < rgb.length) { rgb(i) = ((id * 31 + i) % 256).toByte; i += 1 }
        Row(id, graft.ops.ImageCodecs.encodePpm(graft.ops.ImageCodecs.DecodedImage(w, h, rgb)))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Paired synthetic WAVs (q163/q164): even/odd ids share a base clip
    * (gid = doc_id/2, 2048 mono PCM16 samples, value = ((gid·7919 +
    * i·31) mod 4096) − 2048); odd ids perturb samples 96..127 (+997
    * before the mod) — a localized loudness change touching 2–3 energy
    * windows, so pairs land at small positive fingerprint Hamming. */
  private[queries] def pairedWavs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val gid = id / 2
        val samples = new Array[Short](2048)
        var i = 0
        while (i < 2048) {
          val off = if (id % 2 == 1 && i >= 96 && i < 128) 997L else 0L
          samples(i) = (((gid * 7919L + i * 31L + off) % 4096L) - 2048L).toShort
          i += 1
        }
        Row(id, graft.ops.AudioCodecs.encodeWavPcm16(16000, 1, samples))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Near-dup planted pairs: even/odd ids share base image gid = id/2
    * (16×12, pixel byte = (gid·31 + flat) % 256); odd ids perturb the
    * SAMPLED pixel byte at flat index 6 by +128. */
  private[queries] def pairedPpms(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val gid = id / 2
        val w = 16
        val h = 12
        val rgb = new Array[Byte](w * h * 3)
        var i = 0
        while (i < rgb.length) { rgb(i) = ((gid * 31 + i) % 256).toByte; i += 1 }
        if (id % 2 == 1) rgb(6) = ((gid * 31 + 6 + 128) % 256).toByte
        Row(id, graft.ops.ImageCodecs.encodePpm(graft.ops.ImageCodecs.DecodedImage(w, h, rgb)))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Deterministic 4-frame concatenated-PPM clips: frame pixel byte =
    * (gid·31 + f·97 + i) % 256 over 16×12 RGB; odd ids perturb frame 1's
    * byte 6 by +128, so an even/odd pair shares frames 0, 2, 3 — the
    * video analogue of [[pairedPpms]]/[[pairedWavs]]. */
  private[queries] def pairedClips(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val gid = id / 2
        val frames = (0 until 4).map { f =>
          val w = 16
          val h = 12
          val rgb = new Array[Byte](w * h * 3)
          var i = 0
          while (i < rgb.length) {
            rgb(i) = ((gid * 31 + f * 97 + i) % 256).toByte
            i += 1
          }
          if (id % 2 == 1 && f == 1)
            rgb(6) = ((gid * 31 + f * 97 + 6 + 128) % 256).toByte
          graft.ops.ImageCodecs.DecodedImage(w, h, rgb)
        }
        Row(id, graft.ops.VideoCodecs.encodeClip(frames))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** The paired-CLIP per-frame gradient-hash CTE chain (q180/q181):
    * [[imageDhashCtes]] with a frame dimension — replays [[pairedClips]]'
    * pixel formula per (doc, frame), the 16×17 sampling grid, and the
    * bit assembly, ending in `hh$sfx(doc_id, frame_idx, dh0..dh7)`. */
  private[queries] def videoDhashCtes(rel: String, sfx: String = ""): String = {
    def byteAt(off: Int): String =
      s"""(CASE WHEN doc_id % 2 = 1 AND f = 1 AND (((cy*12) // 16)*16 + ((cx*16) // 17))*3 + $off = 6
         |          THEN (gid*31 + 97 + 6 + 128) % 256
         |          ELSE (gid*31 + f*97 + (((cy*12) // 16)*16 + ((cx*16) // 17))*3 + $off) % 256 END)""".stripMargin
    val words = (0 until 8).map(j =>
      s"""    CAST(coalesce(sum(CASE WHEN idx // 32 = $j
         |      THEN (CAST(1 AS BIGINT) << CAST(idx % 32 AS INT)) END), 0) AS BIGINT) AS dh$j""".stripMargin)
      .mkString(",\n")
    s"""d$sfx AS (
       |  SELECT doc_id, doc_id // 2 AS gid FROM documents WHERE $rel
       |), lums$sfx AS (
       |  SELECT doc_id, f, cy, cx,
       |    ${byteAt(0)}
       |    + ${byteAt(1)}
       |    + ${byteAt(2)} AS lum
       |  FROM d$sfx, unnest(range(4)) AS rf(f), unnest(range(16)) AS r1(cy), unnest(range(17)) AS r2(cx)
       |), bits$sfx AS (
       |  SELECT a.doc_id, a.f, a.cy * 16 + a.cx AS idx
       |  FROM lums$sfx a JOIN lums$sfx b
       |    ON a.doc_id = b.doc_id AND a.f = b.f AND a.cy = b.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 16 AND b.lum > a.lum
       |), fr$sfx AS (
       |  SELECT d$sfx.doc_id, rf.f FROM d$sfx, unnest(range(4)) AS rf(f)
       |), hh$sfx AS (
       |  SELECT fr$sfx.doc_id, CAST(fr$sfx.f AS INT) AS frame_idx,
       |$words
       |  FROM fr$sfx LEFT JOIN bits$sfx
       |    ON bits$sfx.doc_id = fr$sfx.doc_id AND bits$sfx.f = fr$sfx.f
       |  GROUP BY fr$sfx.doc_id, fr$sfx.f
       |)""".stripMargin
  }

  /** Portable-kmeans oracle machinery: DuckDB re-trains Lloyd's rounds —
    * hash-seeded init, argmax assignment (`2·v⋅c − |c|²` DESC, cid ASC),
    * two-level-fold centroid update, empty clusters keep their centroid.
    * Every FP step mirrors the engine's order, so centroids stay in
    * bit-lockstep round by round. */
  private[queries] def kmRoundSql(r: Int): String = {
    val p = r - 1
    s"""asg_$r AS MATERIALIZED (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY 2 * list_dot_product(e.v, c.c) - c.c2 DESC, c.cid) AS rnk
       |    FROM e CROSS JOIN cent_$p c
       |  ) WHERE rnk = 1
       |), d_$r AS (
       |  SELECT cid, vec_id, i AS dim, v[i+1] AS x,
       |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS b
       |  FROM asg_$r, unnest(range(len(v))) AS u(i)
       |), p_$r AS (
       |  SELECT cid, dim, b,
       |    list_reduce(list(x ORDER BY vec_id), (acc, z) -> acc + z) AS ps,
       |    count(*) AS n
       |  FROM d_$r GROUP BY cid, dim, b
       |), m_$r AS (
       |  SELECT cid, dim,
       |    list_reduce(list_prepend(0.0, list(ps ORDER BY b)), (acc, z) -> acc + z)
       |      / CAST(sum(n) AS BIGINT) AS m
       |  FROM p_$r GROUP BY cid, dim
       |), nc_$r AS (
       |  SELECT cid, list(m ORDER BY dim) AS c FROM m_$r GROUP BY cid
       |), cent_$r AS MATERIALIZED (
       |  SELECT pc.cid, COALESCE(nc.c, pc.c) AS c,
       |    list_dot_product(COALESCE(nc.c, pc.c), COALESCE(nc.c, pc.c)) AS c2
       |  FROM cent_$p pc LEFT JOIN nc_$r nc ON nc.cid = pc.cid
       |)""".stripMargin
  }

  private[queries] def kmPrefix(k: Int, iters: Int, salt: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
       |), sr AS (
       |  SELECT vec_id, v,
       |    CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '$salt'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
       |  FROM e
       |), init AS (
       |  SELECT vec_id, v, row_number() OVER (ORDER BY uh, vec_id) AS rn FROM sr
       |), cent_0 AS MATERIALIZED (
       |  SELECT CAST(rn - 1 AS INT) AS cid, v AS c, list_dot_product(v, v) AS c2
       |  FROM init WHERE rn <= $k
       |)""".stripMargin + ",\n" + (1 to iters).map(kmRoundSql).mkString(",\n")

  /** The paired-PPM average-hash CTE chain (q153/q155/q158): planted
    * even/odd images (gid = doc_id/2, odd perturbs sampled-pixel byte 6),
    * cell luminance replay, division-free threshold, shift-assembled
    * halves. `rel` filters documents; `sfx` suffixes the CTE names so two
    * sides can coexist in one query. */
  private[queries] def imageAhashCtes(rel: String, sfx: String): String =
    s"""d$sfx AS (
       |  SELECT doc_id, doc_id // 2 AS gid FROM documents WHERE $rel
       |), cells$sfx AS (
       |  SELECT doc_id, i,
       |    (CASE WHEN doc_id % 2 = 1 AND (((i // 8) * 12 // 8) * 16 + ((i % 8) * 2)) * 3 = 6
       |          THEN (gid*31 + 134) % 256
       |          ELSE (gid*31 + (((i // 8) * 12 // 8) * 16 + ((i % 8) * 2)) * 3) % 256 END)
       |    + (CASE WHEN doc_id % 2 = 1 AND (((i // 8) * 12 // 8) * 16 + ((i % 8) * 2)) * 3 + 1 = 6
       |          THEN (gid*31 + 134) % 256
       |          ELSE (gid*31 + (((i // 8) * 12 // 8) * 16 + ((i % 8) * 2)) * 3 + 1) % 256 END)
       |    + (CASE WHEN doc_id % 2 = 1 AND (((i // 8) * 12 // 8) * 16 + ((i % 8) * 2)) * 3 + 2 = 6
       |          THEN (gid*31 + 134) % 256
       |          ELSE (gid*31 + (((i // 8) * 12 // 8) * 16 + ((i % 8) * 2)) * 3 + 2) % 256 END) AS lum
       |  FROM d$sfx, unnest(range(64)) AS u(i)
       |), t$sfx AS (
       |  SELECT doc_id, CAST(sum(lum) AS BIGINT) AS tot FROM cells$sfx GROUP BY doc_id
       |), hh$sfx AS (
       |  SELECT c.doc_id,
       |    CAST(sum(CASE WHEN i >= 32 AND c.lum * 64 > t$sfx.tot
       |          THEN (CAST(1 AS BIGINT) << CAST(i - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi,
       |    CAST(sum(CASE WHEN i < 32 AND c.lum * 64 > t$sfx.tot
       |          THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS lo
       |  FROM cells$sfx c JOIN t$sfx USING (doc_id) GROUP BY c.doc_id
       |)""".stripMargin

  /** The paired-PPM 256-bit GRADIENT-hash CTE chain (q160/q161): same
    * planted even/odd 16×12 images as [[imageAhashCtes]], sampled on the
    * dHash 16-row × 17-column grid, bit `cy·16+cx` set iff the right
    * neighbor's luminance is greater, assembled into eight non-negative
    * 32-bit words (no 64-bit sign pitfalls — DuckDB raises on
    * `1::BIGINT << 63`). */
  private[queries] def imageDhashCtes(rel: String, sfx: String): String = {
    // sampled-pixel byte formula: base = ((cy*12/16)*16 + (cx*16/17))*3,
    // byte(p) = (gid*31 + p) % 256, odd docs perturb byte 6 to +128
    def byteAt(off: Int): String =
      s"""(CASE WHEN doc_id % 2 = 1 AND (((cy*12) // 16)*16 + ((cx*16) // 17))*3 + $off = 6
         |          THEN (gid*31 + 134) % 256
         |          ELSE (gid*31 + (((cy*12) // 16)*16 + ((cx*16) // 17))*3 + $off) % 256 END)""".stripMargin
    val words = (0 until 8).map(j =>
      s"""    CAST(coalesce(sum(CASE WHEN idx // 32 = $j
         |      THEN (CAST(1 AS BIGINT) << CAST(idx % 32 AS INT)) END), 0) AS BIGINT) AS dh$j""".stripMargin)
      .mkString(",\n")
    s"""d$sfx AS (
       |  SELECT doc_id, doc_id // 2 AS gid FROM documents WHERE $rel
       |), lums$sfx AS (
       |  SELECT doc_id, cy, cx,
       |    ${byteAt(0)}
       |    + ${byteAt(1)}
       |    + ${byteAt(2)} AS lum
       |  FROM d$sfx, unnest(range(16)) AS r1(cy), unnest(range(17)) AS r2(cx)
       |), bits$sfx AS (
       |  SELECT a.doc_id, a.cy * 16 + a.cx AS idx
       |  FROM lums$sfx a JOIN lums$sfx b
       |    ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 16 AND b.lum > a.lum
       |), hh$sfx AS (
       |  SELECT d$sfx.doc_id,
       |$words
       |  FROM d$sfx LEFT JOIN bits$sfx ON bits$sfx.doc_id = d$sfx.doc_id
       |  GROUP BY d$sfx.doc_id
       |)""".stripMargin
  }

  /** The paired-WAV energy-fingerprint CTE chain (q163/q164/q179):
    * replays [[pairedWavs]]' sample arithmetic, the frame→window
    * assignment `w = i·65 / 2048`, integer window energies, and the
    * gradient-sign half assembly — ending in
    * `hh$sfx(doc_id, afp_hi, afp_lo)` for the rows matching `filter`. */
  private[queries] def audioFpCtes(filter: String = "doc_id < 200", sfx: String = ""): String =
    s"""d$sfx AS (
       |  SELECT doc_id, doc_id // 2 AS gid FROM documents WHERE $filter
       |), smp$sfx AS (
       |  SELECT doc_id, (i * 65) // 2048 AS w,
       |    CASE WHEN doc_id % 2 = 1 AND i >= 96 AND i < 128
       |         THEN abs(((gid*7919 + i*31 + 997) % 4096) - 2048)
       |         ELSE abs(((gid*7919 + i*31) % 4096) - 2048) END AS mag
       |  FROM d$sfx, unnest(range(2048)) AS u(i)
       |), en$sfx AS (
       |  SELECT doc_id, w, CAST(sum(mag) AS BIGINT) AS e
       |  FROM smp$sfx GROUP BY doc_id, w
       |), grid$sfx AS (
       |  SELECT d$sfx.doc_id, g.w FROM d$sfx, unnest(range(65)) AS g(w)
       |), eg$sfx AS (
       |  SELECT grid$sfx.doc_id, grid$sfx.w, coalesce(en$sfx.e, 0) AS e
       |  FROM grid$sfx LEFT JOIN en$sfx ON en$sfx.doc_id = grid$sfx.doc_id AND en$sfx.w = grid$sfx.w
       |), hh$sfx AS (
       |  SELECT a.doc_id,
       |    CAST(coalesce(sum(CASE WHEN a.w >= 32 AND b.e > a.e
       |          THEN (CAST(1 AS BIGINT) << CAST(a.w - 32 AS INT)) END), 0) AS BIGINT) AS afp_hi,
       |    CAST(coalesce(sum(CASE WHEN a.w < 32 AND b.e > a.e
       |          THEN (CAST(1 AS BIGINT) << CAST(a.w AS INT)) END), 0) AS BIGINT) AS afp_lo
       |  FROM eg$sfx a JOIN eg$sfx b ON b.doc_id = a.doc_id AND b.w = a.w + 1
       |  GROUP BY a.doc_id
       |)""".stripMargin

  /** q156/q157 shared derivation: per-dim Σx and Σx² through the same
    * two-level fold order the engine's vector aggregator uses. */
  private[queries] val dimStatsCte: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
      |), d AS (
      |  SELECT vec_id, i AS dim, v[i+1] AS x,
      |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS b
      |  FROM e, unnest(range(len(v))) AS u(i)
      |), p AS (
      |  SELECT dim, b,
      |    list_reduce(list(x ORDER BY vec_id), (acc, z) -> acc + z) AS ps,
      |    list_reduce(list(x * x ORDER BY vec_id), (acc, z) -> acc + z) AS ps2,
      |    count(*) AS n
      |  FROM d GROUP BY dim, b
      |), m AS (
      |  SELECT dim,
      |    list_reduce(list_prepend(0.0, list(ps ORDER BY b)), (acc, z) -> acc + z)
      |      / CAST(sum(n) AS BIGINT) AS mean,
      |    list_reduce(list_prepend(0.0, list(ps2 ORDER BY b)), (acc, z) -> acc + z)
      |      / CAST(sum(n) AS BIGINT) AS m2
      |  FROM p GROUP BY dim
      |)
      |""".stripMargin

  /** Shared q138/q139 centroid derivation: the two-level deterministic
    * fold (64 md5 sub-buckets) in the exact order the engine sums. */
  private[queries] val labelCentroidCte: String =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
      |), d AS (
      |  SELECT label, vec_id, i AS dim, v[i+1] AS x,
      |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS b
      |  FROM e, unnest(range(len(v))) AS u(i)
      |), p AS (
      |  SELECT label, dim, b,
      |    list_reduce(list(x ORDER BY vec_id), (acc, z) -> acc + z) AS ps,
      |    count(*) AS n
      |  FROM d GROUP BY label, dim, b
      |), c AS (
      |  SELECT label, dim,
      |    list_reduce(list_prepend(0.0, list(ps ORDER BY b)), (acc, z) -> acc + z)
      |      / CAST(sum(n) AS BIGINT) AS m
      |  FROM p GROUP BY label, dim
      |)
      |""".stripMargin

}
