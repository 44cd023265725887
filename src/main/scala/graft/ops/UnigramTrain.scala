package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.{UnigramExpressions, WordGrams}

/** Distributed UNIGRAM-LM tokenizer training (SentencePiece's unigram
  * model, Kudo 2018) — the other mainstream subword-vocabulary family
  * next to [[BpeTrain]], built with the same discipline:
  *
  *  - training never touches the corpus after ONE tokenizing pass — the
  *    EM loop runs on the distinct-WORD histogram (weights = corpus
  *    frequencies), exactly the [[BpeTrain.train]] shape;
  *  - the candidate vocabulary is every substring of length ≤
  *    `maxPieceLen` weighted by word frequency (counted WITH positional
  *    multiplicity), capped at the `vocabSize` most frequent (ties
  *    toward the binary-smaller piece) with ALL single characters kept
  *    regardless — the coverage guarantee the DP needs;
  *  - each hard-EM round is ONE aggregation job over the histogram: the
  *    native [[graft.expressions.UnigramViterbi]] segments every
  *    distinct word under the current scores, the piece counts combine
  *    map-side, and the (vocab-bounded) count table comes back to the
  *    driver to become the next round's scores — the
  *    [[Classifier.trainPortable]] one-job-per-iteration contract;
  *  - pieces the Viterbi never used drop from the vocabulary (hard-EM
  *    pruning); coverage survives because any previously-optimal path
  *    only used surviving pieces.
  *
  * Determinism contract (what makes the recipe DuckDB-replayable, the
  * q165/q133 bounded-replay precedent): scores are `ln(count) −
  * ln(total)` of exact integers (`ln` agrees cross-engine; `exp`/`pow`
  * never enter), each DP cell is one addition of identically-derived
  * doubles, and every argmax tie-break is pinned (DP: smallest piece
  * length; vocabulary cap: count DESC then piece ASC). The oracle
  * re-trains from scratch in SQL — forward DP and backtrack unrolled
  * to `maxWordLen` MATERIALIZED stages — and must land on the
  * identical final vocabulary and counts. */
object UnigramTrain {

  /** One vocabulary piece with its final hard-EM count. */
  final case class Piece(piece: String, count: Long)

  /** Words longer than `maxWordLen` refuse loudly: the oracle's DP
    * unroll (and any bounded replay) is `maxWordLen` stages deep, and a
    * silent truncation would diverge. Rides the consumed word column. */
  private def checkedHistogram(df: DataFrame, textCol: String, maxWordLen: Int): DataFrame =
    BpeTrain.wordHistogram(df, textCol)
      .withColumn("word",
        when(length(col("word")) > maxWordLen, raise_error(concat(
          lit("unigramTrain: word '"), col("word"),
          lit(s"' exceeds maxWordLen = $maxWordLen — raise it (the oracle "),
          lit("replay unrolls the DP to this bound)"))))
          .otherwise(col("word")))

  /** The capped candidate vocabulary: (piece, count) — every substring
    * of length ≤ `maxPieceLen` of every histogram word, weighted by the
    * word's corpus frequency and counted once per OCCURRENCE position;
    * the `vocabSize` most frequent survive (count DESC, piece ASC), and
    * single characters always survive (DP coverage). */
  def candidateVocab(
      df: DataFrame,
      textCol: String,
      maxPieceLen: Int = 4,
      vocabSize: Int = 64,
      maxWordLen: Int = 16
  ): DataFrame = {
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    require(vocabSize >= 1, "vocabSize must be >= 1")
    val hist = checkedHistogram(df, textCol, maxWordLen)
    // all substrings with positional multiplicity: flatten of per-start
    // per-length slices — interpreted HOFs, but over the (bounded)
    // distinct-word histogram, never the corpus
    val subs = flatten(transform(
      sequence(lit(1), length(col("word"))),
      i => transform(
        sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i + 1)),
        l => substring(col("word"), i, l))))
    val counts = graft.Checkpoints.trackCache(hist
      .select(col("cnt"), explode(subs).as("piece"))
      .groupBy("piece")
      .agg(sum(col("cnt")).as("c"))
      .persist())
    // two-level top-K for the vocabSize cap: an unpartitioned
    // row_number over EVERY candidate substring is a single-task global
    // sort — the hot-spot shape the engine avoids everywhere. Level 1:
    // a per-partition in-stage sort + take (anything outside its
    // partition's top vocabSize cannot be in the global top vocabSize);
    // level 2: the exact rank over the ≤ |partitions|·vocabSize
    // survivors. The pinned (count DESC, piece ASC) tie order holds at
    // both levels, and counts compare as exact LONGS throughout.
    val survivors = counts
      .sortWithinPartitions(col("c").desc, col("piece").asc)
      .mapPartitions(_.take(vocabSize))(
        org.apache.spark.sql.Encoders.row(counts.schema))
    val top = survivors
      .withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("piece").asc)))
      .filter(col("__rn") <= vocabSize)
      .select(col("piece"), col("c"))
    // single characters always survive (DP coverage); a char already in
    // the top-K dedupes on its identical (piece, c) row
    top.unionByName(counts.filter(length(col("piece")) === 1)).distinct()
  }

  /** Train the unigram vocabulary: `iters` hard-EM rounds over the
    * candidate vocabulary. Returns the surviving pieces with their
    * final Viterbi counts, ordered (count DESC, piece ASC). */
  def train(
      df: DataFrame,
      textCol: String,
      maxPieceLen: Int = 4,
      vocabSize: Int = 64,
      iters: Int = 2,
      maxWordLen: Int = 16
  ): Seq[Piece] = {
    require(iters >= 1, "iters must be >= 1")
    val hist = graft.Checkpoints.localCheckpoint(
      checkedHistogram(df, textCol, maxWordLen), eager = false)
    // vocab-bounded driver state (the BpeTrain merge-list / kmeans
    // centroid convention): |vocab| <= vocabSize + |alphabet|
    var vocab: Seq[(String, Long)] =
      candidateVocab(df, textCol, maxPieceLen, vocabSize, maxWordLen)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    var r = 0
    while (r < iters) {
      val total = vocab.map(_._2).sum
      val scores = vocab.map { case (p, c) =>
        p -> (math.log(c.toDouble) - math.log(total.toDouble))
      }
      vocab = hist
        .select(col("cnt"),
          explode(UnigramExpressions.unigramViterbi(col("word"), scores, maxPieceLen))
            .as("piece"))
        .groupBy("piece")
        .agg(sum(col("cnt")).as("c"))
        .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toSeq
      r += 1
    }
    graft.Checkpoints.free(hist)
    vocab.sortBy { case (p, c) => (-c, p) }.map { case (p, c) => Piece(p, c) }
  }

  /** The trained vocabulary as a frame: (vocab_rank, piece, cnt). */
  def vocabTable(spark: SparkSession, pieces: Seq[Piece]): DataFrame = {
    val schema = StructType(Seq(
      StructField("vocab_rank", LongType, nullable = false),
      StructField("piece", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        pieces.zipWithIndex.map { case (p, i) => Row((i + 1).toLong, p.piece, p.count) }, 1),
      schema)
  }

  /** Distinct-word encodings under a trained vocabulary: (word, cnt,
    * tokens) — one native Viterbi pass per distinct word, the
    * [[BpeTrain.encodeWords]] word-cache shape. Out-of-corpus
    * characters fall back to single OOV pieces (encode is total). */
  def encodeWords(df: DataFrame, textCol: String, pieces: Seq[Piece],
      maxPieceLen: Int = 4): DataFrame = {
    val total = pieces.map(_.count).sum
    val scores = pieces.map(p =>
      p.piece -> (math.log(p.count.toDouble) - math.log(total.toDouble)))
    BpeTrain.wordHistogram(df, textCol)
      .withColumn("tokens",
        UnigramExpressions.unigramViterbi(col("word"), scores, maxPieceLen))
  }

  /** A loaded tokenizer ARTIFACT: the pinned-order vocabulary plus the
    * `maxPieceLen` the artifact's Viterbi was trained with (an encode
    * under a different bound could segment differently — the bound is
    * part of the tokenizer, so it travels with it). */
  final case class Tokenizer(pieces: Seq[Piece], maxPieceLen: Int)

  /** Persist a trained tokenizer as a SERVING ARTIFACT — the
    * [[graft.ops.Retrieval.saveBm25Index]] /
    * [[graft.ops.Similarity.saveIvfIndex]] treatment for the vocabulary:
    * train once, then every encode job (batch backfill, streaming
    * ingest, another cluster entirely) loads the identical frozen
    * tokenizer instead of re-running the EM. Layout under `path`:
    *  - `vocab/`: `(vocab_rank, piece, cnt)` — the [[vocabTable]]
    *    frame, rank = the pinned (count DESC, piece ASC) train order,
    *    so piece ids are part of the artifact, not re-derived;
    *  - `stats/`: one row `(vocab_size, total_cnt, max_piece_len)` —
    *    exact integers, written LAST: the stats row is the commit
    *    marker, and [[loadTokenizer]] refuses a vocab/stats mismatch
    *    (a torn or clobbered artifact must fail loudly, not encode
    *    with half a vocabulary).
    * The artifact is tiny (vocab-bounded) — a fresh save overwrites in
    * place; there is no append/maintenance side (a vocabulary never
    * changes incrementally: retrain and re-save). */
  def saveTokenizer(
      spark: SparkSession,
      pieces: Seq[Piece],
      path: String,
      maxPieceLen: Int = 4
  ): Unit = {
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    vocabTable(spark, pieces)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/vocab")
    IndexCommit.writeRow(spark, s"$path/stats",
      "vocab_size" -> pieces.size.toLong, "total_cnt" -> pieces.map(_.count).sum,
      "max_piece_len" -> maxPieceLen)
  }

  /** Load a [[saveTokenizer]] artifact. The vocabulary collects to the
    * driver in rank order — vocab-bounded by construction (the same
    * driver-state contract as [[train]] itself). Refuses loudly when
    * the vocab row count disagrees with the stats row (torn write,
    * concurrent clobber, wrong path) — an encode under half a
    * vocabulary would silently segment differently. */
  def loadTokenizer(spark: SparkSession, path: String): Tokenizer = {
    val stats = spark.read.parquet(s"$path/stats").head()
    val expected = stats.getAs[Long]("vocab_size")
    val rows = spark.read.parquet(s"$path/vocab")
      .orderBy(col("vocab_rank"))
      .collect()
    require(rows.length.toLong == expected,
      s"loadTokenizer: artifact at '$path' is torn — stats row pins " +
        s"$expected pieces but vocab/ holds ${rows.length}; re-save with " +
        "saveTokenizer")
    Tokenizer(
      rows.map(r => Piece(r.getAs[String]("piece"), r.getAs[Long]("cnt"))).toSeq,
      stats.getAs[Int]("max_piece_len"))
  }

  /** [[encodeDocs]] under a PERSISTED tokenizer — the serving-side
    * encode: load the frozen artifact, segment with its own
    * `maxPieceLen`. Bit-identical to the in-memory path by
    * construction (same pieces, same pinned ids, same bound). */
  def encodeDocsPreindexed(
      spark: SparkSession,
      tokenizerPath: String,
      df: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val tk = loadTokenizer(spark, tokenizerPath)
    encodeDocs(df, idCol, textCol, tk.pieces, tk.maxPieceLen)
  }

  /** Per-document PIECE-ID streams under a trained vocabulary — the
    * tokenize step of "tokenize, shuffle, pack" with REAL subword
    * output: each document's words segment through the word-cache
    * Viterbi (one native pass per DISTINCT word) and the piece strings
    * map to their vocab ids (1-based rank in the pinned (count DESC,
    * piece ASC) order — derivable by the oracle from the re-trained
    * vocabulary); OOV fallback pieces map to id 0. Output: `(idCol,
    * n_pieces, piece_ids)` with the ids concatenated in word order ×
    * segmentation order; token-less documents carry an empty array.
    * Feed `piece_ids`/`n_pieces` straight into
    * [[graft.ops.Packing.sequencePacking]] /
    * [[graft.ops.Packing.materializeChunks]] — the lineage chain then
    * rides real subword ids, not whitespace proxies.
    *
    * Scale shape: the per-word id arrays travel through one word-cache
    * join; each document's stream assembles in ONE aggregation
    * (word-position-sorted flatten — document-grain buffering, the
    * engine-wide rebuild convention). */
  def encodeDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pieces: Seq[Piece],
      maxPieceLen: Int = 4
  ): DataFrame = {
    // vocab ids: 1-based rank in the Piece order train() pins
    val idMap = map(pieces.zipWithIndex.flatMap { case (p, i) =>
      Seq(lit(p.piece), lit((i + 1).toLong))
    }: _*)
    val wordIds = encodeWords(df, textCol, pieces, maxPieceLen)
      .select(col("word"),
        transform(col("tokens"),
          t => coalesce(element_at(idMap, t), lit(0L))).as("__ids"))
    val docWords = df.select(col(idCol),
      posexplode_outer(WordGrams.wordGramsMulti(coalesce(col(textCol), lit("")), 1))
        .as(Seq("__pos", "word")))
    docWords
      .join(wordIds, Seq("word"), "left")
      .groupBy(idCol)
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__ids").as("ids")))),
        x => x.getField("ids"))).as("piece_ids"))
      .select(col(idCol),
        coalesce(col("piece_ids"),
          array().cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType))).as("piece_ids"))
      // size over the COALESCED array: legacy mode sizes null as -1
      .select(col(idCol), size(col("piece_ids")).cast("long").as("n_pieces"),
        col("piece_ids"))
  }

  /** Per-document unigram token counts — the sequence-length profile a
    * packing/sharding stage consumes, the [[BpeTrain.tokensPerDoc]]
    * sibling: explode each document's words, join the distinct-word
    * Viterbi LENGTHS (one int per word, never the piece arrays), sum.
    * Documents with no tokens report 0. */
  def tokensPerDoc(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pieces: Seq[Piece],
      maxPieceLen: Int = 4
  ): DataFrame = {
    val wordLens = encodeWords(df, textCol, pieces, maxPieceLen)
      .select(col("word"), size(col("tokens")).as("__nt"))
    df.select(col(idCol),
        explode_outer(WordGrams.wordGramsMulti(coalesce(col(textCol), lit("")), 1))
          .as("word"))
      .join(wordLens, Seq("word"), "left")
      .groupBy(idCol)
      .agg(coalesce(sum("__nt"), lit(0L)).as("n_unigram_tokens"))
  }

  /** Per-document mean piece log-probability under the trained unigram
    * LM — the fluency/quality FILTERING signal the tokenizer family
    * feeds (a document whose best segmentation still needs many
    * low-probability pieces is noise: wrong language, mojibake,
    * binary spill). Output: `(idCol, n_pieces, sum_lnp_r, avg_lnp_r)`;
    * documents with no tokens report 0 pieces and null scores.
    *
    * Determinism (oracle-replayable): a word's ln-prob folds its
    * pieces in SEGMENTATION order (the token array the native Viterbi
    * returns ≡ SQL `ORDER BY pos`), and the document folds its words
    * in POSITION order (the q84 sorted-fold convention) — every
    * addend is the same ln-derived double on both engines.
    *
    * Scale shape: the [[tokensPerDoc]] word-cache join with two doubles
    * per distinct word; the per-document fold buffers one document's
    * word list (document-grain, like every rebuild in the engine). */
  def docLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pieces: Seq[Piece],
      maxPieceLen: Int = 4
  ): DataFrame = {
    val total = pieces.map(_.count).sum
    val scoreMap = map(pieces.flatMap(p => Seq(
      lit(p.piece),
      lit(math.log(p.count.toDouble) - math.log(total.toDouble)))): _*)
    val wordStats = encodeWords(df, textCol, pieces, maxPieceLen)
      .select(col("word"), size(col("tokens")).as("__nt"),
        aggregate(transform(col("tokens"), t =>
          coalesce(element_at(scoreMap, t),
            lit(graft.expressions.UnigramExpressions.OovPenalty))),
          lit(0.0), (acc, x) => acc + x).as("__lnp"))
    val docWords = df.select(col(idCol),
      posexplode_outer(WordGrams.wordGramsMulti(coalesce(col(textCol), lit("")), 1))
        .as(Seq("__pos", "word")))
    docWords
      .join(wordStats, Seq("word"), "left")
      .groupBy(idCol)
      .agg(coalesce(sum(col("__nt")), lit(0L)).as("n_pieces"),
        aggregate(array_sort(collect_list(struct(col("__pos"), col("__lnp").as("l")))),
          lit(0.0), (acc, x) => acc + x.getField("l")).as("__sum"))
      .select(col(idCol), col("n_pieces"),
        when(col("n_pieces") > 0, round(col("__sum"), 6) + lit(0.0))
          .as("sum_lnp_r"),
        when(col("n_pieces") > 0,
          round(col("__sum") / col("n_pieces").cast("double"), 6) + lit(0.0))
          .as("avg_lnp_r"))
  }

  /** Tokenizer FERTILITY under the trained unigram vocabulary (tokens
    * per whitespace word, the [[BpeTrain.fertility]] metric) — the
    * comparison row that says which vocabulary family serves a source
    * better. Same output shape: (source, n_words, n_tokens,
    * fertility_r). */
  def fertility(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      pieces: Seq[Piece],
      maxPieceLen: Int = 4
  ): DataFrame = {
    val wordLens = encodeWords(df, textCol, pieces, maxPieceLen)
      .select(col("word"), size(col("tokens")).as("n_tok"))
    val docWords = df
      .select(col(idCol), col(sourceCol).as("source"),
        explode_outer(WordGrams.wordGramsMulti(coalesce(col(textCol), lit("")), 1))
          .as("word"))
    docWords
      .join(wordLens, Seq("word"), "left")
      .groupBy("source")
      .agg(count(col("word")).cast("long").as("n_words"),
        coalesce(sum("n_tok"), lit(0L)).as("n_tokens"))
      .withColumn("fertility_r",
        round(col("n_tokens") / col("n_words"), 6) + lit(0.0))
  }
}
