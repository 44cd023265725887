package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash
  * group-by), MinHash+LSH, SimHash, and n-gram Jaccard set-similarity —
  * each expressed as shuffle-conscious DataFrame transformations.
  *
  * Scale notes baked into the design:
  *   - exact dedup groups on a 128-bit digest, never on the raw text
  *     (shuffle keys stay 16 bytes at 100 TB);
  *   - MinHash banding turns all-pairs O(N^2) into per-bucket candidate
  *     joins; signatures are computed in one codegen'd projection;
  *   - the Jaccard inverted-index join applies a document-frequency cap to
  *     stop-shingles (the classic prefix-filter trick) so hot tokens don't
  *     quadratically explode a bucket.
  */
object Dedup {

  /** Distinct word n-grams of the lowercased text (1 = unigram tokens).
    * Empty/whitespace-only documents yield an EMPTY array for every n —
    * without the size guard, n>1 would emit one empty-string gram and any
    * two blank documents would count as sharing content. Shared by
    * [[jaccardPairs]] and [[contaminationPairs]] so the two set-similarity
    * paths can never drift apart.
    *
    * Computed by the native one-pass [[graft.expressions.WordGrams]]; the
    * HOF chain it replaces interprets per element and its `array_distinct`
    * is O(tokens²) per document — measured ~10x slower on real corpora. */
  private[graft] def wordGrams(textCol: Column, ngram: Int): Column =
    graft.expressions.WordGrams.wordGrams(textCol, ngram)

  /** Character k-shingles of the canonicalized text. */
  def shingles(text: Column, k: Int = 5): Column = {
    val canon = TextAnalysis.canonicalize(text)
    when(length(canon) < k, array(canon))
      .otherwise(array_distinct(transform(
        sequence(lit(0), length(canon) - lit(k)),
        i => substr(canon, i + 1, lit(k)))))
  }

  /** Exact duplicate groups: canonical fingerprint -> group size + keeper
    * (minimum id). `keep="first"` semantics of pandas drop_duplicates. */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** Per-row exact-dup annotation (window count over the fingerprint) —
    * keeps every row, marks copies. */
  def withDupCount(df: DataFrame, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    df.withColumn("fingerprint", fp)
      .withColumn("dup_count",
        count(lit(1)).over(Window.partitionBy("fingerprint")))
  }

  /** Drop exact duplicates keeping the minimum-id row — the distributed
    * `drop_duplicates(keep='first')`. One shuffle on the digest. */
  def dropExactDups(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("__fp").orderBy(col(idCol).asc)
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  // ------- oracle-reproducible polynomial MinHash (md5 token hashes)

  /** Permutation constants for the poly minhash family — pure arithmetic
    * so the DuckDB oracle generator derives the identical (a, b) pairs
    * (single source of truth: the native expression's companion). */
  private[graft] val PolyPrime = 2147483647L // 2^31 - 1 (Mersenne)
  private[graft] def polyPerms(numPerms: Int): Seq[(Long, Long)] =
    graft.expressions.PolyMinHashSignature.perms(numPerms)

  /** md5-prefix hashes (32-bit, engine-independent) of an array of text
    * units — the shared hash step of the poly minhash family. */
  private[graft] def polyHashes(units: Column): Column =
    transform(units, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))

  /** Distinct-word-token units for [[polyMinhashBands]]. */
  private def polyTokenHashes(textCol: Column): Column =
    polyHashes(graft.expressions.WordGrams.distinctTokens(textCol))

  /** One signature position per (a, b) permutation over an `hs` hash
    * array: min of `(a*h + b) mod p`, empty/null arrays pinned to p.
    * The ONE body both the banding and the HOF-differential paths share
    * — a constant tweak applied to a single copy cannot de-sync them. */
  private[graft] def polySig(hs: Column, numPerms: Int): Seq[Column] =
    polyPerms(numPerms).map { case (a, b) =>
      coalesce(
        array_min(transform(hs, h => pmod(h * lit(a) + lit(b), lit(PolyPrime)))),
        lit(PolyPrime))
    }

  /** Incremental-snapshot diff: the rows of `current` whose CANONICAL
    * content ([[TextAnalysis.fingerprint]]: lowercase, whitespace-
    * collapsed, md5) does not appear anywhere in `previous` — the
    * "process only genuinely new documents" step of an incremental
    * ingest, robust to re-crawled duplicates arriving under new ids.
    * Scale shape: a left-anti hash join on the 32-char fingerprint; the
    * previous side projects to ONE column before shuffling. */
  def newDocs(
      current: DataFrame,
      previous: DataFrame,
      textCol: String
  ): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    current
      .withColumn("__fp", fp)
      .join(previous.select(fp.as("__fp")).distinct(), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Corpus-level MinHash signature (one row, `s1..sN`): position j is
    * the min over every document's signature position — by
    * min-distributivity, exactly the signature of the UNION of all the
    * documents' token sets. Same md5 + integer-arithmetic hash family as
    * [[polyMinhashBands]], so it is engine-portable. Scale shape: a
    * map-side projection and ONE all-reduce of N longs. */
  def corpusSignature(df: DataFrame, textCol: String, numPerms: Int = 16): DataFrame = {
    val sigs = df.select(
      polySig(polyTokenHashes(col(textCol)), numPerms).zipWithIndex
        .map { case (c, j) => c.as(s"s${j + 1}") }: _*)
    sigs.agg(
      min(col("s1")).as("s1"),
      (2 to numPerms).map(j => min(col(s"s$j")).as(s"s$j")): _*)
  }

  /** Whole-corpus vocabulary overlap: the fraction of agreeing
    * [[corpusSignature]] positions estimates Jaccard(tokens(A),
    * tokens(B)) — the one-number answer to "is this new crawl actually
    * new data?" before any pairwise work. One row: `agreement`,
    * `jaccard_est`. */
  def corpusOverlap(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      numPerms: Int = 16
  ): DataFrame = {
    val sa = corpusSignature(a, textCol, numPerms)
    val sb = corpusSignature(b, textCol, numPerms)
      .select((1 to numPerms).map(j => col(s"s$j").as(s"t$j")): _*)
    val agree = (1 to numPerms)
      .map(j => when(col(s"s$j") === col(s"t$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    sa.crossJoin(broadcast(sb))
      .select(agree.as("agreement"),
        (agree.cast("double") / numPerms).as("jaccard_est"))
  }

  /** MinHash LSH banding over ENGINE-INDEPENDENT hashes: token hash =
    * first 8 md5 hex chars as a 32-bit int, permutations
    * `h -> (a*h + b) mod p` with (a, b) from [[polyPerms]]. Every step
    * is plain md5 + integer arithmetic, so the complete signature->band
    * pipeline gets a full DuckDB oracle and any external system can
    * re-derive the buckets bit-for-bit. Word-token units;
    * [[polyShingleBands]] is the char-shingle sibling. Min is
    * duplicate-invariant, so distinct-vs-raw token lists agree by
    * construction. `a*h < 2^30 * 2^32 = 2^62`: no 64-bit overflow. */
  def polyMinhashBands(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numPerms: Int = 16,
      bands: Int = 4
  ): DataFrame =
    // two projections: the token hashes are computed once per row, not
    // once per signature position (CollapseProject keeps a non-cheap
    // expression that is referenced numPerms times in its own projection)
    sigBands(
      df.select(col(idCol), polyTokenHashes(col(textCol)).as("__hs"))
        .select(col(idCol), array(polySig(col("__hs"), numPerms): _*).as("__sig")),
      idCol, "__sig", numPerms, bands)

  /** Exploded `(idCol, band, band_key)` buckets of a signature column:
    * band `b` keys on positions `b*rows+1 .. (b+1)*rows`, '-'-joined
    * decimal strings. Two documents share a (band, key) bucket iff a
    * whole band of their signatures agrees — the LSH amplification. */
  private def sigBands(sigs: DataFrame, idCol: String, sigCol: String,
      numPerms: Int, bands: Int): DataFrame = {
    require(numPerms % bands == 0, "numPerms must be divisible by bands")
    val rows = numPerms / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("-", (0 until rows).map(r =>
          element_at(col(sigCol), b * rows + r + 1)): _*).as("band_key"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** MinHash LSH band buckets `(idCol, band, band_key)` over the native
    * char-5-shingle [[graft.expressions.PolyMinHashSignature]] at 16
    * permutations in 4 bands — the candidate keys
    * [[polyMinhashNearDupPairs]] joins on at its defaults. Every hash is
    * md5 + integer arithmetic, so DuckDB re-derives every key (q41).
    *
    * Checkpoints: a lazy projection of `df` that reads no checkpoint, so
    * [[graft.Checkpoints.freeAll]] leaves it valid. */
  def polyShingleBands(df: DataFrame, textCol: String, idCol: String): DataFrame =
    sigBands(polySignatures(df, textCol, idCol), idCol, "signature", 16, 4)

  /** MinHash LSH near-duplicate pairs `(id_a, id_b, est_jaccard)`,
    * `id_a < id_b`, over character `k`-shingles of the canonical form.
    * Every hash is md5 + integer arithmetic, so candidate pairs AND
    * estimated Jaccard get a full DuckDB oracle — the pair-level
    * companion to [[polyMinhashBands]]. (Shingles, not word tokens: on
    * template-heavy corpora unigram sets overlap massively and a 16-perm
    * token signature saturates — measured 65k pairs at threshold 0.5 on
    * 500 synthetic docs vs a few hundred with shingles.) `est_jaccard` =
    * agreeing positions / numPerms is an exact small rational in both
    * engines.
    *
    * Checkpoints: when `df`'s plan has 32 or more nodes the signatures
    * are read from a `localCheckpointIfDeep` checkpoint, so
    * [[graft.Checkpoints.freeAll]] invalidates the result; consume it
    * before the host's barrier. */
  def polyMinhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numPerms: Int = 16,
      bands: Int = 4,
      k: Int = 5
  ): DataFrame = {
    // The repartition is a deliberate materialization barrier: the
    // signature projection feeds the bucket explode and both join-backs,
    // and without the exchange Catalyst delays the (non-codegen)
    // projection past the bucket self-join and recomputes it per JOINED
    // row; with it the projection runs once per document and
    // ReuseExchange shares it. A deep input plan (a full pipeline output)
    // is then truncated by a checkpoint of ids + signatures only —
    // otherwise every reference subtree repeats the pipeline verbatim and
    // a long chain OOMs the driver building explain output (observed via
    // splitLeakagePairs over prepareTrainingCorpus). Shallow plans skip
    // that job: it cost ~0.6s flat on sub-second queries.
    val sigs = graft.Checkpoints.localCheckpointIfDeep(
      polySignatures(df, textCol, idCol, numPerms, k).repartition(col(idCol)))
    val buckets = sigBands(sigs, idCol, "signature", numPerms, bands)

    // Candidate pairs carry ONLY the two ids through the bucket self-join
    // and distinct — shipping the signatures through a dense-bucket
    // shuffle is what kills this operator at scale. Signatures re-join
    // afterwards against the (much smaller) per-doc signature frame.
    val a = buckets.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val b = buckets.select(col(idCol).as("id_b"), col("band"), col("band_key"))
    val candidates = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    // native per-pair agreement loop (codegen'd) — this runs once per
    // candidate pair, the hot inner loop on near-dup-rich corpora
    val agree = graft.expressions.SignatureAgreement(col("sig_a"), col("sig_b"))
    candidates
      .join(sigs.select(col(idCol).as("id_a"), col("signature").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("signature").as("sig_b")), "id_b")
      .withColumn("est_jaccard", agree.cast("double") / lit(numPerms.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** EXACT image duplicate classes: every distinct average-hash with two
    * or more members, with the min-id keeper and the member count —
    * Hamming-0 dedup as a GROUP report, never a pairwise expansion (a
    * million copies of a blank image is one row here; as pairs it would
    * be 5·10¹¹ rows — no operator can output that). One map-side-combined
    * groupBy; drop non-keepers by anti-joining `keep_id` back. */
  def imageDupGroups(hashes: DataFrame, idCol: String): DataFrame =
    hashes
      .filter(col("ahash_hi").isNotNull && col("ahash_lo").isNotNull)
      .groupBy("ahash_hi", "ahash_lo")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)

  /** NEAR-duplicate image pairs over perceptual average-hashes
    * ([[Multimodal.imageHashes]] output: id + two 32-bit halves),
    * between DISTINCT hash classes: each distinct hash is represented by
    * its min-id member, the 64-bit hash splits into four 16-bit band
    * keys, candidate representatives share a band, and exact Hamming
    * distance (`bit_count(xor)` over both halves) verifies. Pigeonhole:
    * with 4 bands any pair within Hamming distance 3 shares a band —
    * recall is EXACT for `maxHamming` ≤ 3 between classes.
    *
    * Identical-hash members are deliberately NOT paired here — that is
    * [[imageDupGroups]]'s job as a group report. The distinction is what
    * keeps this operator alive on dup-heavy corpora: a hash class with
    * 10⁶ members previously put 10⁶ identical band keys in one bucket
    * and the candidate self-join went quadratic (measured: 733s for 100k
    * synthetic images that collapse to a few hundred classes; 3s after).
    *
    * Scale shape: distinct-hash reduce, band explode over CLASSES, ids
    * join per bucket, verify on the candidate sliver. Null hashes
    * (undecodable payloads) are excluded. Output: (id_a, id_b, hamming
    * ≥ 1), id_a < id_b, ids are class representatives. */
  /** The four 16-bit Hamming band keys of an ahash-halves frame. */
  private def ahashBands(h: DataFrame, idOut: String): DataFrame =
    h.select(col(idOut), explode(array(
      struct(lit(0).as("band"), shiftright(col("ahash_hi"), 16).bitwiseAND(lit(65535L)).as("bk")),
      struct(lit(1).as("band"), col("ahash_hi").bitwiseAND(lit(65535L)).as("bk")),
      struct(lit(2).as("band"), shiftright(col("ahash_lo"), 16).bitwiseAND(lit(65535L)).as("bk")),
      struct(lit(3).as("band"), col("ahash_lo").bitwiseAND(lit(65535L)).as("bk"))
    )).as("b"))
      .select(col(idOut), col("b.band").as("band"), col("b.bk").as("bk"))

  /** Distinct-hash classes with the min-id representative. */
  private def ahashClasses(hashes: DataFrame, idCol: String, idOut: String): DataFrame =
    hashes
      .filter(col("ahash_hi").isNotNull && col("ahash_lo").isNotNull)
      .groupBy("ahash_hi", "ahash_lo")
      .agg(min(col(idCol)).as(idOut))

  def imageNearDupPairs(
      hashes: DataFrame,
      idCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    val h = ahashClasses(hashes, idCol, idCol)
      .select(col(idCol), col("ahash_hi"), col("ahash_lo"))
    val bands = ahashBands(h, idCol)
    val candidates = bands.select(col(idCol).as("id_a"), col("band"), col("bk"))
      .join(bands.select(col(idCol).as("id_b"), col("band"), col("bk")),
        Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    candidates
      .join(h.select(col(idCol).as("id_a"), col("ahash_hi").as("__hia"),
        col("ahash_lo").as("__loa")), "id_a")
      .join(h.select(col(idCol).as("id_b"), col("ahash_hi").as("__hib"),
        col("ahash_lo").as("__lob")), "id_b")
      .withColumn("hamming",
        (bit_count(col("__hia").bitwiseXOR(col("__hib"))) +
          bit_count(col("__loa").bitwiseXOR(col("__lob")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The 256-bit sibling of [[imageNearDupPairs]], over
    * [[Multimodal.imageHashes256]] output (dh0..dh7, eight non-negative
    * 32-bit words): distinct-class reduce, Hamming banding, exact
    * `bit_count(xor)` verify — same algorithm, bigger hash, WIDER bands.
    *
    * Why it exists: 64-bit average-hash banding at exact recall ≤ 3
    * forces 16-bit band keys — 65,536 buckets per band, so per-bucket
    * class counts (and the candidate self-join) grow LINEARLY with
    * distinct-image count; at 10⁹ distinct images that is ~15k classes
    * and ~10⁸ candidate pairs per bucket. With 256 bits the default
    * `nBands = 8` gives 32-bit band keys (keyspace 2³² — expected bucket
    * occupancy stays O(1) past 10⁹ classes) at exact recall for Hamming
    * ≤ 7, the same 2.7% relative radius as 3/64ths. `nBands = 16`
    * (16-bit keys, recall ≤ 15) trades keyspace back for radius when
    * recall matters more than corpus size.
    *
    * Output: (id_a, id_b, hamming ≥ 1), id_a < id_b, ids are min-id
    * class representatives; identical-hash members are
    * [[imageDupGroups256]]'s report. */
  /** Estimator-quality AUDIT of the portable near-dup report — "measure,
    * don't guess" for the dedup stage itself: every pair
    * [[polyMinhashNearDupPairs]] reports gets its EXACT canonical
    * char-k-shingle Jaccard computed alongside the MinHash estimate, so
    * a pipeline can quantify estimator error (and false-positive rate at
    * its threshold) before trusting a corpus-wide sweep.
    *
    * Scale shape: exact sets are computed ONLY for pair members (a
    * semi-join slivers the corpus — the report is bounded, so the exact
    * work is too; never an all-pairs exact pass). Output: (id_a, id_b,
    * est_jaccard, exact_jaccard_r, abs_err_r). */
  def nearDupAudit(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numPerms: Int = 16,
      bands: Int = 4,
      k: Int = 5
  ): DataFrame = {
    val pairs = polyMinhashNearDupPairs(docs, textCol, idCol, threshold, numPerms, bands, k)
    // the SAME shingle universe the signatures hash: distinct char
    // k-shingles of the canonical form, whole-canon fallback under k
    val canon = TextAnalysis.canonicalize(col(textCol))
    val shingles = when(length(canon) < k, array(canon))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(canon) - lit(k) + 1),
        i => canon.substr(i, lit(k)))))
    val involved = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol)))
      .distinct()
    val sets = docs
      .join(involved, Seq(idCol), "left_semi")
      .select(col(idCol), shingles.as("__ss"))
    val inter = size(array_intersect(col("__ssa"), col("__ssb"))).cast("double")
    val exact = inter /
      (size(col("__ssa")) + size(col("__ssb")) - inter).cast("double")
    pairs
      .join(sets.select(col(idCol).as("id_a"), col("__ss").as("__ssa")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__ss").as("__ssb")), "id_b")
      .withColumn("exact_jaccard_r", round(exact, 6) + lit(0.0))
      .withColumn("abs_err_r", round(abs(col("est_jaccard") - exact), 6) + lit(0.0))
      .select("id_a", "id_b", "est_jaccard", "exact_jaccard_r", "abs_err_r")
  }

  /** Planted-twin RECALL probe for the near-dup detector — the other
    * half of measure-don't-guess: [[nearDupAuditSummary]] reports the
    * PRECISION of reported pairs; this plants known near-duplicates and
    * reports how many the detector finds. A deterministic md5-bucket
    * sample of the corpus (`1/probeModulus` of docs) gets a synthetic
    * twin — the original minus every token whose md5 bucket ≡ 0 (mod
    * `dropEveryK`), a content-keyed (order-free, engine-replayable)
    * ~1/k-token perturbation — keyed `id + idOffset`. The detector runs
    * over corpus ∪ twins; the probe then scores each planted pair with
    * its EXACT char-shingle Jaccard (computed map-side — both texts live
    * in one row) and reports ONE row:
    * `n_planted, n_above` (exact Jaccard clears the threshold — the
    * pairs a perfect detector must find), `n_recovered` (planted pairs
    * the detector reported), `n_recovered_above`,
    * `recall_r = n_recovered_above / n_above` (banding+estimator recall
    * on the pairs that are truly there), and
    * `detection_rate_r = n_recovered / n_planted`.
    *
    * Scale shape: twins are a 1/probeModulus sliver; the detector's cost
    * is its normal corpus run plus that sliver; the exact-Jaccard step
    * is per-probe map-side, never a join. Ids must stay below
    * `idOffset` — violated ids raise loudly. */
  def nearDupRecallProbe(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      probeModulus: Int = 20,
      dropEveryK: Int = 7,
      idOffset: Long = 1000000L,
      threshold: Double = 0.5,
      numPerms: Int = 16,
      bands: Int = 4,
      k: Int = 5
  ): DataFrame = {
    require(probeModulus >= 1, "probeModulus must be >= 1")
    require(dropEveryK >= 2, "dropEveryK must be >= 2 (k=1 would drop every token)")
    // the isNull arm catches non-numeric ids (cast -> null would make both
    // range comparisons null and silently fall through to otherwise) as
    // well as genuinely null ids — both must refuse loudly, not emit
    // null twin ids downstream
    val guardedId = when(
      col(idCol).cast("long").isNull ||
        col(idCol).cast("long") >= idOffset || col(idCol).cast("long") < 0L,
      raise_error(concat(
        lit(s"nearDupRecallProbe: ids must be numeric in [0, $idOffset); got "),
        coalesce(col(idCol).cast("string"), lit("null")),
        lit(" — route string keys through Ids.withSurrogateId first")))).otherwise(col(idCol))
    val base = docs.select(guardedId.as(idCol), col(textCol))
    val bucket = pmod(
      conv(substring(md5(concat(col(idCol).cast("string"), lit("probe"))), 1, 8), 16, 10)
        .cast("long"),
      lit(probeModulus.toLong))
    val toks = TextAnalysis.tokens(col(textCol))
    val keptToks = filter(toks, t =>
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(dropEveryK.toLong)) =!= 0)
    val probes = base
      .filter(col(textCol).isNotNull && bucket === 0)
      .select(col(idCol), col(textCol), concat_ws(" ", keptToks).as("__twin"))
    val twins = probes.select((col(idCol) + lit(idOffset)).as(idCol), col("__twin").as(textCol))
    val pairs = polyMinhashNearDupPairs(
      base.unionByName(twins), textCol, idCol, threshold, numPerms, bands, k)
      .select(col("id_a"), col("id_b"), lit(true).as("__hit"))
    def sh(c: Column): Column = {
      val canon = TextAnalysis.canonicalize(c)
      when(length(canon) < k, array(canon))
        .otherwise(array_distinct(transform(
          sequence(lit(1), length(canon) - lit(k) + 1),
          i => canon.substr(i, lit(k)))))
    }
    val inter = size(array_intersect(col("__sa"), col("__sb"))).cast("double")
    val planted = probes
      .select(col(idCol).cast("long").as("id_a"),
        (col(idCol) + lit(idOffset)).cast("long").as("id_b"),
        sh(col(textCol)).as("__sa"), sh(col("__twin")).as("__sb"))
      .withColumn("__exact",
        inter / (size(col("__sa")) + size(col("__sb")) - inter).cast("double"))
      .join(pairs, Seq("id_a", "id_b"), "left")
    planted.agg(
      count(lit(1)).as("n_planted"),
      count(when(col("__exact") >= threshold, 1)).as("n_above"),
      count(when(col("__hit"), 1)).as("n_recovered"),
      count(when(col("__hit") && col("__exact") >= threshold, 1)).as("n_recovered_above"))
      .select(col("n_planted"), col("n_above"), col("n_recovered"),
        col("n_recovered_above"),
        (round(col("n_recovered_above") / col("n_above"), 6) + lit(0.0)).as("recall_r"),
        (round(col("n_recovered") / col("n_planted"), 6) + lit(0.0)).as("detection_rate_r"))
  }

  /** One-row summary of [[nearDupAudit]] — the numbers a pipeline
    * actually acts on before trusting a sweep at its threshold:
    * `n_pairs`, `n_true` (exact Jaccard also clears the threshold),
    * `precision_r`, `mae_r` (mean |est − exact|, summed in
    * (id_a, id_b)-sorted order so the double is engine-reproducible),
    * and `max_err_r`. */
  def nearDupAuditSummary(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numPerms: Int = 16,
      bands: Int = 4,
      k: Int = 5
  ): DataFrame = {
    val audit = nearDupAudit(docs, textCol, idCol, threshold, numPerms, bands, k)
    val oks = graft.expressions.OrderedKeyedSum.orderedKeyedSum _
    // pair-sorted deterministic fold of the errors: key pairs by a
    // single long via (id_a << 32) | id_b — order-isomorphic to the
    // (id_a, id_b) lexicographic sort and collision-free whenever both
    // ids fit unsigned 32 bits, which the guard enforces loudly (the
    // OrderedKeyedSum contract needs UNIQUE keys; a multiplier scheme
    // collides exactly at the large-id corpora the engine targets)
    // id_a ≤ 2³¹−1 keeps the shifted key inside a non-negative long
    // (a 32-bit id_a would wrap the sign bit and break the ordering)
    val idsFit32 = col("id_a").between(0L, 0x7FFFFFFFL) && col("id_b").between(0L, 0xFFFFFFFFL)
    val pk = when(idsFit32, shiftleft(col("id_a"), 32) + col("id_b"))
      .otherwise(raise_error(concat(
        lit("nearDupAuditSummary ids must fit unsigned 32 bits for the pair fold key; got ("),
        col("id_a").cast("string"), lit(", "), col("id_b").cast("string"),
        lit(") — route through Ids.withSurrogateId first"))).cast("long"))
    audit
      .withColumn("__pk", pk)
      .agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("exact_jaccard_r") >= threshold, 1)).as("n_true"),
        (oks(collect_list(struct(col("__pk").as("k"), col("abs_err_r").as("v"))))
          / count(lit(1))).as("__mae"),
        max(col("abs_err_r")).as("max_err_r"))
      .select(
        col("n_pairs"), col("n_true"),
        (round(col("n_true") / col("n_pairs"), 6) + lit(0.0)).as("precision_r"),
        (round(col("__mae"), 9) + lit(0.0)).as("mae_r"),
        col("max_err_r"))
  }

  /** Audio near-duplicate pairs over energy fingerprints
    * ([[Multimodal.audioFingerprints]] output: id + afp_hi/afp_lo) —
    * the same distinct-class + four-16-bit-band + bit_count-verify
    * machinery as [[imageNearDupPairs]] (exact recall at Hamming ≤ 3
    * between classes; identical-fingerprint members are
    * [[audioDupGroups]]'s report). A re-encoded or slightly re-leveled
    * clip keeps most energy-gradient signs; an unrelated clip differs
    * in ~32 bits. */
  def audioNearDupPairs(
      fingerprints: DataFrame,
      idCol: String,
      maxHamming: Int = 3
  ): DataFrame =
    imageNearDupPairs(
      fingerprints
        .withColumnRenamed("afp_hi", "ahash_hi")
        .withColumnRenamed("afp_lo", "ahash_lo"),
      idCol, maxHamming)

  /** INCREMENTAL audio ingest pairs: a new batch's energy fingerprints
    * matched against a standing audio index — [[incrementalImageDups]]
    * over (afp_hi, afp_lo): exact classes equi-join, near classes band
    * CROSS-SIDE only, so a daily clip increment costs the increment.
    * Output: (new_id, index_id, hamming) over class representatives. */
  def incrementalAudioDups(
      indexFps: DataFrame,
      batchFps: DataFrame,
      idCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    def ren(df: DataFrame) = df
      .withColumnRenamed("afp_hi", "ahash_hi")
      .withColumnRenamed("afp_lo", "ahash_lo")
    incrementalImageDups(ren(indexFps), ren(batchFps), idCol, maxHamming)
  }

  /** The admission half of audio ingest — [[incrementalImageDedup]] over
    * energy fingerprints: batch rows whose fingerprint CLASS matches
    * nothing in the index exactly or within `maxHamming`; undecodable
    * clips (null fingerprints) are excluded. */
  def incrementalAudioDedup(
      indexFps: DataFrame,
      batchFps: DataFrame,
      idCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    def ren(df: DataFrame) = df
      .withColumnRenamed("afp_hi", "ahash_hi")
      .withColumnRenamed("afp_lo", "ahash_lo")
    incrementalImageDedup(ren(indexFps), ren(batchFps), idCol, maxHamming)
      .withColumnRenamed("ahash_hi", "afp_hi")
      .withColumnRenamed("ahash_lo", "afp_lo")
  }

  /** VIDEO near-duplicate pairs via frame-set overlap: clips sharing a
    * high Jaccard of DISTINCT per-frame 256-bit gradient-hash classes
    * ([[Multimodal.videoFrameHashes]] output) — a re-muxed, re-ordered,
    * or lightly trimmed copy keeps most frame classes; unrelated clips
    * share none. The [[graft.ops.Reports.crossSourceDupMatrix]] shape on
    * frame classes: distinct (clip, class) first so a looping clip
    * counts each frame once, then the pair join runs CLASS-equi — the
    * band key is the full 256-bit class, so bucket occupancy is the
    * number of clips holding that exact frame.
    *
    * Boilerplate frame classes (black frames, title cards, test
    * patterns) occurring in more than `maxClassClips` clips are DROPPED
    * before pairing — the [[dropFrequentLines]] semantics: they carry no
    * identity signal and are exactly the classes whose |clips|² pair
    * fan-out would go quadratic. Output:
    * `(id_a, id_b, n_shared, jaccard_r)` with `jaccard_r =
    * round(shared / (|A| + |B| − shared), 6) ≥ minJaccard`. */
  def videoNearDupPairs(
      frameHashes: DataFrame,
      idCol: String,
      minJaccard: Double = 0.5,
      maxClassClips: Long = 1000
  ): DataFrame = {
    require(minJaccard > 0.0, "minJaccard must be positive (0 would pair all clips)")
    val classes = frameHashes
      .select(col(idCol) +: DhashWordCols.map(col): _*)
      .distinct()
    val freqOk = classes.groupBy(DhashWordCols.map(col): _*)
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxClassClips)
      .select(DhashWordCols.map(col): _*)
    val kept = classes.join(freqOk, DhashWordCols, "left_semi")
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val a = kept.select(col(idCol).as("id_a") +: DhashWordCols.map(col): _*)
    val b = kept.select(col(idCol).as("id_b") +: DhashWordCols.map(col): _*)
    val shared = a.join(b, DhashWordCols).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
      .withColumn("jaccard_r",
        round(col("n_shared") /
          (col("__na") + col("__nb") - col("n_shared")), 6) + lit(0.0))
      .filter(col("jaccard_r") >= minJaccard)
      .select("id_a", "id_b", "n_shared", "jaccard_r")
  }

  /** EXACT video duplicate groups: the clip signature is the md5 of the
    * ordered `frame_idx:dh0..dh7` sequence (frame ORDER matters — a
    * re-cut is a near-dup, [[videoNearDupPairs]]' job, not an exact
    * dup), grouped with the min-id keeper — [[imageDupGroups]] for
    * clips. One groupBy on a 32-char signature; frames never travel
    * beyond their hash rows. Output: (clip_sig, keep_id, n_members ≥ 2). */
  def videoDupGroups(frameHashes: DataFrame, idCol: String): DataFrame = {
    val frameStr = concat_ws(":",
      col("frame_idx").cast("string") +: DhashWordCols.map(c => col(c).cast("string")): _*)
    val sig = frameHashes
      .select(col(idCol), struct(col("frame_idx"), frameStr.as("fs")).as("__e"))
      .groupBy(col(idCol))
      .agg(md5(concat_ws("|",
        transform(array_sort(collect_list(col("__e"))), e => e.getField("fs")))).as("clip_sig"))
    sig
      .groupBy("clip_sig")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
  }

  /** INCREMENTAL video ingest pairs: a new batch's clips matched against
    * a standing frame-class index by frame-set Jaccard — the
    * [[incrementalImageDups]] daily-crawl shape on
    * [[videoNearDupPairs]]' semantics. The class join runs CROSS-SIDE
    * only (the index never pairs with itself); the boilerplate-frame
    * frequency cap applies to the UNION of both sides' class occupancy,
    * so a title card shared by index and batch is dropped everywhere.
    * Output: (new_id, index_id, n_shared, jaccard_r ≥ minJaccard). */
  def incrementalVideoDups(
      indexFrames: DataFrame,
      batchFrames: DataFrame,
      idCol: String,
      minJaccard: Double = 0.5,
      maxClassClips: Long = 1000
  ): DataFrame = {
    require(minJaccard > 0.0, "minJaccard must be positive")
    def classesOf(df: DataFrame, idOut: String) = df
      .select(col(idCol).as(idOut) +: DhashWordCols.map(col): _*)
      .distinct()
    val ci = classesOf(indexFrames, "index_id")
    val cn = classesOf(batchFrames, "new_id")
    val freqOk = ci.select(DhashWordCols.map(col): _*)
      .unionAll(cn.select(DhashWordCols.map(col): _*))
      .groupBy(DhashWordCols.map(col): _*)
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxClassClips)
      .select(DhashWordCols.map(col): _*)
    val ki = ci.join(freqOk, DhashWordCols, "left_semi")
    val kn = cn.join(freqOk, DhashWordCols, "left_semi")
    val si = ki.groupBy(col("index_id")).agg(count(lit(1)).as("__ni"))
    val sn = kn.groupBy(col("new_id")).agg(count(lit(1)).as("__nn"))
    kn.join(ki, DhashWordCols)
      .groupBy("new_id", "index_id").agg(count(lit(1)).as("n_shared"))
      .join(sn, "new_id")
      .join(si, "index_id")
      .withColumn("jaccard_r",
        round(col("n_shared") /
          (col("__nn") + col("__ni") - col("n_shared")), 6) + lit(0.0))
      .filter(col("jaccard_r") >= minJaccard)
      .select("new_id", "index_id", "n_shared", "jaccard_r")
  }

  /** The admission half of video ingest: batch clips whose frame-set
    * overlaps NO index clip at `minJaccard` — their frame-hash rows,
    * ready to append to the index. Clips with zero decodable frames are
    * absent from `batchFrames` and so cannot be admitted. */
  def incrementalVideoDedup(
      indexFrames: DataFrame,
      batchFrames: DataFrame,
      idCol: String,
      minJaccard: Double = 0.5,
      maxClassClips: Long = 1000
  ): DataFrame = {
    val hits = incrementalVideoDups(
      indexFrames, batchFrames, idCol, minJaccard, maxClassClips)
      .select(col("new_id")).distinct()
    batchFrames.join(hits, batchFrames(idCol) === hits("new_id"), "left_anti")
  }

  /** Exact audio duplicate classes (fingerprint Hamming 0) with the
    * min-id keeper — [[imageDupGroups]] over energy fingerprints. */
  def audioDupGroups(fingerprints: DataFrame, idCol: String): DataFrame =
    imageDupGroups(
      fingerprints
        .withColumnRenamed("afp_hi", "ahash_hi")
        .withColumnRenamed("afp_lo", "ahash_lo"),
      idCol)
      .withColumnRenamed("ahash_hi", "afp_hi")
      .withColumnRenamed("ahash_lo", "afp_lo")

  private val DhashWordCols: Seq[String] = (0 until 8).map(j => s"dh$j")

  /** Distinct 256-bit hash classes (all 8 words) with the min-id rep. */
  private def dhashClasses(hashes: DataFrame, idCol: String, idOut: String): DataFrame =
    hashes
      .filter(DhashWordCols.map(c => col(c).isNotNull).reduce(_ && _))
      .groupBy(DhashWordCols.map(col): _*)
      .agg(min(col(idCol)).as(idOut))
      .select(col(idOut) +: DhashWordCols.map(col): _*)

  /** The `nBands` Hamming band keys of a dhash-words frame. Words are
    * non-negative (32-bit values in longs), so arithmetic shiftright
    * never sign-extends — SQL mirrors need no unsigned ops. */
  private def dhashBands(h: DataFrame, idOut: String, nBands: Int): DataFrame = {
    require(Seq(8, 16, 32).contains(nBands),
      "nBands must be 8, 16, or 32 (band width 32/16/8 bits within words)")
    val width = 256 / nBands
    val perWord = 32 / width
    val mask = (1L << width) - 1L
    def bandStructs(b: Int) = {
      val j = b / perWord
      val off = (b % perWord) * width
      struct(lit(b).as("band"),
        shiftright(col(s"dh$j"), off).bitwiseAND(lit(mask)).as("bk"))
    }
    h.select(col(idOut),
        explode(array((0 until nBands).map(bandStructs): _*)).as("b"))
      .select(col(idOut), col("b.band").as("band"), col("b.bk").as("bk"))
  }

  /** Exact 256-bit Hamming distance between two prefixed word sets. */
  private def dhashHamming(aPrefix: String, bPrefix: String): Column =
    DhashWordCols.map(c =>
      bit_count(col(s"$aPrefix$c").bitwiseXOR(col(s"$bPrefix$c")))).reduce(_ + _)

  def imageNearDupPairs256(
      hashes: DataFrame,
      idCol: String,
      maxHamming: Int = 7,
      nBands: Int = 8
  ): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    require(maxHamming < nBands,
      s"exact recall needs maxHamming < nBands (pigeonhole): got $maxHamming >= $nBands")
    val h = dhashClasses(hashes, idCol, idCol)
    val bands = dhashBands(h, idCol, nBands)
    val candidates = bands.select(col(idCol).as("id_a"), col("band"), col("bk"))
      .join(bands.select(col(idCol).as("id_b"), col("band"), col("bk")),
        Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    candidates
      .join(h.select(col(idCol).as("id_a") +:
        DhashWordCols.map(c => col(c).as(s"__a_$c")): _*), "id_a")
      .join(h.select(col(idCol).as("id_b") +:
        DhashWordCols.map(c => col(c).as(s"__b_$c")): _*), "id_b")
      .withColumn("hamming", dhashHamming("__a_", "__b_").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact 256-bit duplicate classes (Hamming 0) as a group report with
    * the min-id keeper — [[imageDupGroups]] over the gradient hash. */
  def imageDupGroups256(hashes: DataFrame, idCol: String): DataFrame =
    hashes
      .filter(DhashWordCols.map(c => col(c).isNotNull).reduce(_ && _))
      .groupBy(DhashWordCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
      .select("keep_id", "n_members")

  /** INCREMENTAL 256-bit image ingest — [[incrementalImageDups]] over the
    * gradient hash: exact matches equi-join all eight words, near matches
    * band the class representatives CROSS-SIDE only (the standing index
    * never pairs with itself; with the default 32-bit bands its bucket
    * occupancy stays O(1) however big the index grows — exactly where the
    * 64-bit band ceiling bit hardest). Output: (new_id, index_id,
    * hamming) over class representatives. */
  def incrementalImageDups256(
      indexHashes: DataFrame,
      batchHashes: DataFrame,
      idCol: String,
      maxHamming: Int = 7,
      nBands: Int = 8
  ): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    require(maxHamming < nBands,
      s"exact recall needs maxHamming < nBands (pigeonhole): got $maxHamming >= $nBands")
    val idx = dhashClasses(indexHashes, idCol, "index_id")
    val bat = dhashClasses(batchHashes, idCol, "new_id")
    val exact = bat.join(idx, DhashWordCols)
      .select(col("new_id"), col("index_id"), lit(0).as("hamming"))
    val near = dhashBands(bat, "new_id", nBands)
      .join(dhashBands(idx, "index_id", nBands), Seq("band", "bk"))
      .select("new_id", "index_id")
      .distinct()
      .join(bat.select(col("new_id") +:
        DhashWordCols.map(c => col(c).as(s"__n_$c")): _*), "new_id")
      .join(idx.select(col("index_id") +:
        DhashWordCols.map(c => col(c).as(s"__i_$c")): _*), "index_id")
      .withColumn("hamming", dhashHamming("__n_", "__i_").cast("int"))
      .filter(col("hamming") >= 1 && col("hamming") <= maxHamming)
      .select(col("new_id"), col("index_id"), col("hamming"))
    exact.unionByName(near)
  }

  /** The admission half of 256-bit image ingest: batch rows whose hash
    * class matches nothing in the index exactly or within `maxHamming`
    * ([[incrementalImageDedup]] over the gradient hash). Undecodable
    * payloads (null words) are excluded. */
  def incrementalImageDedup256(
      indexHashes: DataFrame,
      batchHashes: DataFrame,
      idCol: String,
      maxHamming: Int = 7,
      nBands: Int = 8
  ): DataFrame = {
    val hitClasses = incrementalImageDups256(
        indexHashes, batchHashes, idCol, maxHamming, nBands)
      .join(dhashClasses(batchHashes, idCol, "new_id"), "new_id")
      .select(DhashWordCols.map(col): _*)
      .distinct()
    batchHashes
      .filter(DhashWordCols.map(c => col(c).isNotNull).reduce(_ && _))
      .join(hitClasses, DhashWordCols, "left_anti")
  }

  /** INCREMENTAL image ingest: match a new batch's perceptual hashes
    * against a standing image index — the media sibling of
    * [[incrementalNearDupPairs]]. Exact matches come from a plain
    * (hi, lo) equi-join of the two sides' DISTINCT hash classes
    * (hamming 0); near matches band the class representatives and join
    * CROSS-SIDE only, so the index never pairs with itself and a daily
    * increment costs the increment. Output: (new_id, index_id, hamming)
    * over class representatives. In production the index side reads the
    * persisted 8-byte hash table ([[Multimodal.imageHashes]] output) —
    * payload bytes never travel. */
  def incrementalImageDups(
      indexHashes: DataFrame,
      batchHashes: DataFrame,
      idCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    val idx = ahashClasses(indexHashes, idCol, "index_id")
    val bat = ahashClasses(batchHashes, idCol, "new_id")
    val exact = bat.join(idx, Seq("ahash_hi", "ahash_lo"))
      .select(col("new_id"), col("index_id"), lit(0).as("hamming"))
    val near = ahashBands(bat.select(col("new_id"), col("ahash_hi"), col("ahash_lo")), "new_id")
      .join(ahashBands(idx.select(col("index_id"), col("ahash_hi"), col("ahash_lo")), "index_id"),
        Seq("band", "bk"))
      .select("new_id", "index_id")
      .distinct()
      .join(bat.select(col("new_id"), col("ahash_hi").as("__hin"),
        col("ahash_lo").as("__lon")), "new_id")
      .join(idx.select(col("index_id"), col("ahash_hi").as("__hii"),
        col("ahash_lo").as("__loi")), "index_id")
      .withColumn("hamming",
        (bit_count(col("__hin").bitwiseXOR(col("__hii"))) +
          bit_count(col("__lon").bitwiseXOR(col("__loi")))).cast("int"))
      .filter(col("hamming") >= 1 && col("hamming") <= maxHamming)
      .select(col("new_id"), col("index_id"), col("hamming"))
    exact.unionByName(near)
  }

  /** The admission half of image ingest: batch rows whose hash CLASS
    * matches nothing in the index (exactly or within `maxHamming`).
    * Undecodable payloads (null hashes) cannot be vetted and are
    * excluded — admit them explicitly if the pipeline wants them. */
  def incrementalImageDedup(
      indexHashes: DataFrame,
      batchHashes: DataFrame,
      idCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    val hitClasses = incrementalImageDups(indexHashes, batchHashes, idCol, maxHamming)
      .join(ahashClasses(batchHashes, idCol, "new_id"), "new_id")
      .select("ahash_hi", "ahash_lo")
      .distinct()
    batchHashes
      .filter(col("ahash_hi").isNotNull && col("ahash_lo").isNotNull)
      .join(hitClasses, Seq("ahash_hi", "ahash_lo"), "left_anti")
  }

  /** INCREMENTAL near-dup: match a new batch against an existing corpus
    * WITHOUT ever pairing the corpus with itself — the daily-crawl shape
    * at 100 TB, where the historical index is orders of magnitude larger
    * than the increment and re-deduping it per batch would dominate the
    * pipeline. Band keys are computed per side and joined CROSS-SIDE
    * only; the batch side's buckets are the small build side (AQE
    * broadcasts them when measured-small), so the index never shuffles
    * by anything except its own band keys. In production the index side
    * would read persisted signatures (write [[polyMinhashBands]] /
    * signature frames once per ingest); this entry point recomputes them
    * from text for self-containedness.
    *
    * Output: (new_id, index_id, est_jaccard) — every batch doc paired
    * with every index doc sharing a band whose estimated Jaccard clears
    * `threshold`. Same portable hash family / estimated-Jaccard contract
    * as [[polyMinhashNearDupPairs]]. */
  def incrementalNearDupPairs(
      index: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numPerms: Int = 16,
      bands: Int = 4,
      k: Int = 5
  ): DataFrame =
    incrementalNearDupPairsFromSigs(
      polySignatures(index, textCol, idCol, numPerms, k),
      polySignatures(batch, textCol, idCol, numPerms, k),
      idCol, threshold, numPerms, bands)

  /** The per-doc portable MinHash signature frame `(idCol, signature)` —
    * the artifact a production ingest PERSISTS once per batch so the
    * standing index is vetted as signatures, never re-hashed text
    * ([[incrementalNearDupPairsFromSigs]] /
    * [[graft.streaming.StreamingEval.textIngestStream]] consume it). */
  def polySignatures(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numPerms: Int = 16,
      k: Int = 5
  ): DataFrame =
    docs.select(col(idCol),
      graft.expressions.PolyMinHashSignature(col(textCol), numPerms, k).as("signature"))

  /** [[incrementalNearDupPairs]] over PRE-COMPUTED signature frames
    * (`(idCol, signature)` each, e.g. [[polySignatures]] output or the
    * persisted index table): band keys per side, joined CROSS-SIDE only,
    * agreement-verify on the candidate sliver. The daily increment costs
    * the increment — the index never re-hashes, never self-joins. */
  def incrementalNearDupPairsFromSigs(
      indexSigs: DataFrame,
      batchSigs: DataFrame,
      idCol: String,
      threshold: Double = 0.5,
      numPerms: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    // barrier per side: each signature frame feeds its bucket explode AND
    // the verify join-back (same shuffle-hygiene as the self-join path);
    // checkpoint only when the upstream plan is deep enough to need it
    def prep(df: DataFrame, idOut: String, sigOut: String) =
      graft.Checkpoints.localCheckpointIfDeep(
        df.select(col(idCol).as(idOut), col("signature").as(sigOut))
          .repartition(col(idOut)))
    val idxSigs = prep(indexSigs, "index_id", "sig_i")
    val newSigs = prep(batchSigs, "new_id", "sig_n")
    val candidates = sigBands(newSigs, "new_id", "sig_n", numPerms, bands)
      .join(sigBands(idxSigs, "index_id", "sig_i", numPerms, bands), Seq("band", "band_key"))
      .select("new_id", "index_id")
      .distinct()
    val agree = graft.expressions.SignatureAgreement(col("sig_n"), col("sig_i"))
    candidates
      .join(newSigs, "new_id")
      .join(idxSigs, "index_id")
      .withColumn("est_jaccard", agree.cast("double") / lit(numPerms.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("index_id"), col("est_jaccard"))
  }

  /** The admission half of incremental ingest: batch rows that near-dup
    * NOTHING in the index (distinct-ids anti-join over
    * [[incrementalNearDupPairs]]'s candidate sliver). Within-batch
    * duplicates are deliberately out of scope — run the batch through
    * [[dropExactDups]] / [[polyMinhashNearDupPairs]] first; this
    * operator's contract is purely batch-vs-index. */
  def incrementalDedup(
      index: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numPerms: Int = 16,
      bands: Int = 4,
      k: Int = 5
  ): DataFrame = {
    val hit = incrementalNearDupPairs(index, batch, textCol, idCol,
        threshold, numPerms, bands, k)
      .select(col("new_id").as(idCol)).distinct()
    batch.join(hit, Seq(idCol), "left_anti")
  }

  /** Train/val/test LEAKAGE audit: near-duplicate pairs whose members sit
    * in DIFFERENT splits — the contamination an in-split dedup cannot see
    * (a test doc near-duplicating a train doc silently inflates eval).
    * Built on [[polyMinhashNearDupPairs]]'s bucketed candidates (the
    * engine-portable hash family), then an ids-only split-label join-back;
    * output: (id_a, split_a, id_b, split_b, est_jaccard), id_a < id_b.
    *
    * Scale: the pair set is the LSH candidate sliver, so the split joins
    * touch pairs, never the corpus cross-product; run it after the split
    * assignment and before anything trains. */
  def splitLeakagePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      splitCol: String,
      threshold: Double = 0.5,
      numPerms: Int = 16,
      bands: Int = 4,
      k: Int = 5
  ): DataFrame = {
    val pairs = polyMinhashNearDupPairs(df, textCol, idCol, threshold, numPerms, bands, k)
    val labels = df.select(col(idCol), col(splitCol))
    pairs
      .join(labels.select(col(idCol).as("id_a"), col(splitCol).as("split_a")), "id_a")
      .join(labels.select(col(idCol).as("id_b"), col(splitCol).as("split_b")), "id_b")
      .filter(!(col("split_a") <=> col("split_b")))
      .select(col("id_a"), col("split_a"), col("id_b"), col("split_b"), col("est_jaccard"))
  }

  /** SimHash banding over ENGINE-INDEPENDENT hashes: the native md5
    * [[graft.expressions.SimHash64]] fingerprint split into 4 × 16-bit
    * int band keys `band0..band3` (bits 0-15 first). Documents within
    * Hamming distance 3 share at least one band by pigeonhole. Band values
    * are ≤ 65535 — no signed-64 overflow in any engine, unlike emitting
    * the full fingerprint — so DuckDB re-derives them exactly (q43, q65).
    * Null or blank text has no tokens and bands to zero. */
  def simhashPolyBands(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // two projections: the fingerprint is computed once per row, not once
    // per band (CollapseProject keeps a non-cheap expression that is
    // referenced four times in its own projection)
    df.select(col(idCol), graft.expressions.SimHash64(col(textCol)).as("__sh"))
      .select(col(idCol) +: (0 until 4).map(b =>
        shiftright(col("__sh"), 16 * b).bitwiseAND(0xFFFFL).cast("int").as(s"band$b")): _*)

  /** Exact token-set Jaccard similarity for all pairs within a blocking
    * key, via the inverted-index (explode -> self-join on token -> count
    * common) pattern. `maxDocFreq` drops ubiquitous tokens before the join
    * — the prefix-filter trick that keeps hot shingles from exploding.
    *
    * @param ngram 1 = unigram tokens, n>1 = word n-grams
    */
  def jaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: Option[String] = None,
      threshold: Double = 0.5,
      ngram: Int = 1,
      maxDocFreq: Option[Long] = None
  ): DataFrame = {
    val blockKey = blockCol.map(col).getOrElse(lit(0))

    // materialization barrier: the tokenize+explode subtree feeds the
    // doc-frequency filter, the sizes aggregate, and BOTH join sides —
    // without the exchange Catalyst re-tokenizes the corpus per reference
    // (same hazard as polyMinhashNearDupPairs)
    val docTokens = df
      .select(col(idCol).as("id"), blockKey.as("__blk"),
        explode(wordGrams(col(textCol), ngram)).as("tok"))
      .repartition(col("id"))
    val filtered = maxDocFreq match {
      case Some(cap) =>
        val df_ = docTokens.groupBy("tok").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("tok")
        docTokens.join(df_, Seq("tok"), "left_semi")
      case None => docTokens
    }
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))

    val a = filtered.select(col("id").as("id_a"), col("__blk"), col("tok"))
    val b = filtered.select(col("id").as("id_b"), col("__blk"), col("tok"))
    val common = a.join(b, Seq("__blk", "tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"))

    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
  }

  /** Exact all-pairs Jaccard self-join with PREFIX FILTERING — the
    * LOSSLESS scalable twin of [[jaccardPairs]]: same output contract
    * (every unordered pair of documents whose distinct-token-set Jaccard
    * clears `threshold`), but candidates come from each document's
    * PREFIX — its `|A| − ⌈t·|A|⌉ + 1` globally-RAREST tokens (ascending
    * (corpus frequency, token) order) — instead of from every token.
    * [[jaccardPairs]]' `maxDocFreq` cap bounds hot-token fan-out by
    * TRADING RECALL (pairs linked only through ubiquitous tokens are
    * missed); the prefix filter buys the same bound with ZERO loss:
    * if J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so the globally-smallest
    * shared token sits within the last `|A∩B|−1`-from-the-end positions
    * of A's sorted order — inside A's prefix, and symmetrically inside
    * B's (the prefix-filtering principle of Bayardo et al. 2007 /
    * Xiao et al. 2008's PPJoin, re-derived for the per-set Jaccard
    * bound). Ubiquitous tokens land at the END of the sorted order and
    * never generate candidates unless a document is so short they fall
    * inside its prefix.
    *
    * Scale shape — FLAT ROWS END TO END, no per-doc arrays: one
    * tokenize pass (cached — it feeds the frequency aggregate, the
    * prefix ranking, and the verify), one frequency join, a
    * per-doc-partition window that ranks each doc's tokens in the
    * global (frequency, token) order (row_number over |doc| short
    * partitions — a collect_list-of-structs formulation was measured
    * OOMing aggregation buffers at 100k × 400-shingle docs; a window
    * holds one row at a time), the prefix equi-join on the token key
    * (bounded by prefix-token co-occurrence, i.e. by near-matches
    * plus rare-token collisions), a size filter (`t·max(|A|,|B|) ≤
    * min` — a qualifying pair's sizes are within t of each other)
    * BEFORE the distinct, and a JOIN-BASED exact verify on just the
    * candidate sliver: candidate × A-token rows inner-joined to B's
    * (id, token) set count the intersection exactly — again no
    * arrays, so a long document costs rows, never task memory. A
    * prefix token shared by more than `maxPrefixFreq` documents
    * refuses loudly through the consumed token column (the [[Joins
    * .editDistanceJoin]] convention) — on zipf text that means a
    * corpus of near-identical short documents, where the candidate
    * set is genuinely quadratic and worth refusing.
    *
    * The threshold filter runs on the RAW exact jaccard; `jaccard_r`
    * is the 6-decimal display rounding. Output: `id_a`, `id_b`
    * (unordered, `id_a < id_b`), `n_common`, `jaccard_r`. */
  def prefixJaccardJoin(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      ngram: Int = 1,
      maxPrefixFreq: Long = 65536L
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(ngram >= 1, "ngram must be >= 1")
    require(maxPrefixFreq >= 1, "maxPrefixFreq must be >= 1")
    // one exchange barrier: the tokenize+explode subtree feeds the
    // frequency aggregate, the ranking window, AND both verify sides
    // (the jaccardPairs hazard — without it Catalyst re-tokenizes per
    // branch)
    val toks = graft.Checkpoints.trackCache(df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"), explode(wordGrams(col(textCol), ngram)).as("tok"))
      .repartition(col("__id"))
      .persist())
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("__f"))
    val sizes = toks.groupBy("__id").agg(count(lit(1)).as("sz"))
    // rank each doc's tokens in the global (frequency, token) order —
    // the canonical order both prefixes derive from; flat rows, one
    // window pass over short per-doc partitions
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__f").asc, col("tok").asc)
    val ranked = toks.join(freq, "tok")
      .withColumn("__rn", row_number().over(w))
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")).cast("long") + 1L)
    val pre = ranked.join(sizes, "__id")
      .filter(col("__rn") <= prefixLen)
      .select(col("__id"), col("sz"), col("tok"), col("__rn"), col("__f"))
    // hot-prefix ceiling, riding the consumed join key. Persisted: both
    // candidate-join sides read guarded — without the barrier each side
    // re-ran the frequency aggregate + ranking window + prefix joins
    // over the full token stream (prefix rows are the SMALL end of the
    // pipeline, ≤ prefix length per doc, so the cache is cheap).
    val preCounts = pre.groupBy("tok").agg(count(lit(1)).as("__pf"))
    val guarded = graft.Checkpoints.trackCache(pre.join(preCounts, "tok")
      .withColumn("tok",
        when(col("__pf") > maxPrefixFreq, raise_error(concat(
          lit("prefixJaccardJoin: prefix token '"), col("tok"),
          lit(s"' occurs in more than $maxPrefixFreq documents — the corpus "),
          lit("is near-duplicate-saturated at this threshold; raise the "),
          lit("threshold, the ngram size, or maxPrefixFreq")))
          .cast("string"))
        .otherwise(col("tok")))
      .drop("__pf")
      .persist())
    val aSide = guarded.select(col("__id").as("id_a"), col("sz").as("sz_a"),
      col("tok"), col("__rn").as("__rna"), col("__f"))
    val bSide = guarded.select(col("__id").as("id_b"), col("sz").as("sz_b"),
      col("tok"), col("__rn").as("__rnb"))
    // PPJoin position filter: let w be the pair's FIRST shared token in
    // the global (frequency, token) order. No shared token precedes w
    // in EITHER doc (a globally-earlier shared token would sit before w
    // in both sorted docs and hence inside both prefixes — contradicting
    // w's minimality), so the overlap is bounded by 1 + min(|A|−i,
    // |B|−j) at w's positions, and the pair must still reach the
    // equivalent overlap threshold t·(|A|+|B|)/(1+t) (J ≥ t ⇔ c ≥
    // that). Only w's bound is valid — a LATER shared token's positions
    // bound nothing (earlier shared tokens exist). A small epsilon
    // keeps FP boundary pairs: the filter may only ever keep extra
    // candidates, never drop a true pair; the verify is exact.
    val cands = graft.Checkpoints.trackCache(aSide.join(bSide, "tok")
      .filter(col("id_a") < col("id_b"))
      // size filter: J ≥ t forces t·max(|A|,|B|) ≤ |A∩B| ≤ min(|A|,|B|)
      .filter(lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double")
        <= least(col("sz_a"), col("sz_b")).cast("double"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(struct(col("__f"), col("tok"), col("__rna"), col("__rnb"))).as("__w"),
        min(col("sz_a")).as("__sa"), min(col("sz_b")).as("__sb"))
      .withColumn("__ub", lit(1L) + least(
        col("__sa") - col("__w.__rna"), col("__sb") - col("__w.__rnb")))
      .filter(col("__ub").cast("double") * lit(1.0 + threshold)
        >= lit(threshold) * (col("__sa") + col("__sb")).cast("double") - lit(1e-6))
      .select("id_a", "id_b")
      .persist())
    // join-based exact intersection: (pair × A-token) rows that also
    // exist in B's token set — flat rows, no arrays
    val common = cands
      .join(toks.select(col("__id").as("id_a"), col("tok")), "id_a")
      .join(toks.select(col("__id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("__id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("__j", col("n_common").cast("double") /
        (col("sz_a") + col("sz_b") - col("n_common")).cast("double"))
      .filter(col("__j") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"),
        (round(col("__j"), 6) + lit(0.0)).as("jaccard_r"))
  }

  /** Benchmark-contamination check: which `bench` documents leak into
    * `corpus`? A cross-corpus inverted-index join (same shape as
    * [[jaccardPairs]], but between two different tables) scoring
    * CONTAINMENT — `|tokens(corpus_doc) ∩ tokens(bench_doc)| /
    * |tokens(bench_doc)|` — the standard contamination metric: a short
    * benchmark item fully embedded in a long training document scores 1.0
    * where symmetric Jaccard would dilute it.
    *
    * Scale shape: only (id, token) pairs shuffle; `maxDocFreq` drops
    * grams whose CORPUS document frequency (the big side) exceeds the cap
    * from BOTH sides — numerator and denominator stay consistent, while
    * bench grams the corpus never contains remain in the denominator (a
    * cap trades recall on ubiquitous text for bounded fan-out; with
    * n-grams the DF is naturally low and the cap is rarely needed). Word
    * n-grams (`ngram` > 1) make matches structural instead of
    * bag-of-words. */
  def contaminationPairs(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      ngram: Int = 3,
      maxDocFreq: Option[Long] = None,
      benchIdCol: Option[String] = None
  ): DataFrame = {
    def grams(df: DataFrame, idOut: String): DataFrame = {
      val src = if (idOut == "bench_id") benchIdCol.getOrElse(idCol) else idCol
      df.select(col(src).as(idOut),
        explode(wordGrams(col(textCol), ngram)).as("tok"))
    }
    val (filtered, benchFiltered) = maxDocFreq match {
      case Some(cap) =>
        // two references (DF aggregate + join) -> materialization barrier,
        // or Catalyst re-tokenizes the corpus per reference
        val corpusToks = grams(corpus, "corpus_id").repartition(col("corpus_id"))
        val hot = corpusToks.groupBy("tok").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select("tok")
        // drop ONLY the over-cap grams, from both sides: bench sizes must
        // span the same gram universe as the intersection counts (a capped
        // numerator over a full denominator hides heavy leaks), but bench
        // grams absent from the corpus must STAY in the denominator — a
        // semi-join against kept corpus grams would shrink it to only the
        // leaking grams and score everything near 1.0
        (corpusToks.join(hot, Seq("tok"), "left_anti"),
          grams(bench, "bench_id").join(hot, Seq("tok"), "left_anti"))
      case None =>
        (grams(corpus, "corpus_id"), grams(bench, "bench_id"))
    }
    // bench side is small and referenced twice (join + sizes)
    val benchToks = benchFiltered.repartition(col("bench_id"))
    val benchSizes = benchToks.groupBy("bench_id").agg(count(lit(1)).as("bench_sz"))

    filtered.join(benchToks, Seq("tok"))
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("n_common"))
      .join(benchSizes, "bench_id")
      .withColumn("containment",
        col("n_common").cast("double") / col("bench_sz").cast("double"))
      .filter(col("containment") >= threshold)
      .select("corpus_id", "bench_id", "n_common", "containment")
  }

  /** MULTI-benchmark contamination report in ONE pass: `benches` carries
    * every held-out set at once (`benchNameCol`, `idCol`, `textCol` —
    * ids may repeat across benchmarks; an internal `name#id` composite
    * key disambiguates), the gram join runs once over the union, and the
    * result aggregates per benchmark — the release-audit table:
    * `(bench, n_bench_docs, n_contaminated_docs, n_leaking_bench_docs,
    * max_containment_r)`. A benchmark with zero leakage still gets its
    * row (zeros — absence of evidence must be visible). Per-benchmark
    * loops over [[contaminationPairs]] would re-tokenize the 100-TB
    * corpus once per benchmark; this shape tokenizes it once. */
  def contaminationReport(
      corpus: DataFrame,
      benches: DataFrame,
      textCol: String,
      idCol: String,
      benchNameCol: String = "bench",
      threshold: Double = 0.8,
      ngram: Int = 3,
      maxDocFreq: Option[Long] = None
  ): DataFrame = {
    // '#' in a benchmark name would corrupt the composite-key split
    val safeName = when(col(benchNameCol).isNull || col(benchNameCol).contains("#"),
      raise_error(concat(lit("contaminationReport: bench name must be non-null without '#': "),
        col(benchNameCol)))).otherwise(col(benchNameCol).cast("string"))
    val keyed = benches.withColumn("__bid",
      concat(safeName, lit("#"), col(idCol).cast("string")))
    val pairs = contaminationPairs(
      corpus, keyed, textCol, idCol, threshold, ngram, maxDocFreq,
      benchIdCol = Some("__bid"))
      .withColumn("__bn", substring_index(col("bench_id"), "#", 1))
    val totals = keyed
      .groupBy(substring_index(col("__bid"), "#", 1).as("__bn"))
      .agg(count(lit(1)).as("n_bench_docs"))
    totals
      .join(pairs.groupBy("__bn").agg(
        countDistinct(col("corpus_id")).as("__nc"),
        countDistinct(col("bench_id")).as("__nb"),
        max(round(col("containment"), 6) + lit(0.0)).as("__mx")),
        Seq("__bn"), "left")
      .select(col("__bn").as(benchNameCol),
        col("n_bench_docs"),
        coalesce(col("__nc"), lit(0L)).as("n_contaminated_docs"),
        coalesce(col("__nb"), lit(0L)).as("n_leaking_bench_docs"),
        coalesce(col("__mx"), lit(0.0)).as("max_containment_r"))
  }

  /** Transitive duplicate clusters from near-dup PAIRS: connected
    * components by min-label propagation with pointer jumping. Returns
    * `(doc_id, cluster_id)` for every id that appears in a pair, where
    * `cluster_id` is the minimum id of the component — the canonical
    * keeper. (The greedy drop-the-higher-id reduction in
    * [[Pipelines.cleanCorpus]] eliminates the same docs but never names
    * clusters; this operator is the full cluster assignment, e.g. for
    * provenance tracking or picking a keeper by quality instead of id.)
    *
    * Per round, each node takes (1) the minimum label among itself and
    * its neighbors (edge relaxation — this is what gets checkpointed
    * and change-counted), then (2) a POINTER DOUBLING through the
    * round's own checkpointed table, applied lazily as the next
    * round's input (labels are node ids, so looking a node's fresh
    * label up in the same table composes the walk with itself —
    * squaring the compressed distance, the Shiloach–Vishkin trick).
    * Per-round reach ~doubles and COMPOUNDS round over round, so even
    * a pure chain — the worst shape for label flooding — converges in
    * ~log₂(ecc) + c rounds (measured: q226's fuzzy-name chain graph at
    * sf0.1 took 32 rounds when the jump went through the PREVIOUS
    * round's stale table, a handful with the doubling; the
    * 10k-node-path ScaleSmoke row dropped accordingly). The doubling
    * join reads the CHECKPOINTED leaf, never the un-materialized relax
    * output — joining the live relax plan against itself recomputed
    * the |E|-grain relaxation once per join side (the r12 shape,
    * measured 1.4× on q73). Blob-shaped near-dup graphs still converge
    * in 2-4 rounds. The bound stays data-dependent (hence the loud
    * `maxIter` backstop), and rounds stay cheap: the label frame is
    * two longs per paired doc, the edge frame is static (persisted) —
    * an edge-rewriting algorithm (large-star/small-star) would buy its
    * O(log²) guarantee by reshuffling O(E) every round, the wrong
    * trade when the doubling already collapses thread shapes.
    *
    * One Spark job per round: the convergence check rides the round's own
    * materialization (a `LongAccumulator` incremented while the new label
    * frame is checkpointed) instead of a separate count action.
    * Accumulator semantics are safe here because the decision is
    * `changed == 0`: task retries can only over-count real changes, never
    * invent one.
    *
    * Checkpointing: each round's labels are eagerly checkpointed —
    * lineage truncation, not just caching, because the per-round plan
    * references the previous labels THREE times (directly, through the
    * neighbor aggregate, and through the jump), so without truncation the
    * LOGICAL plan grows 3× per round and any downstream composition over
    * the returned frame re-plans the whole tree (q77's semantic graph
    * froze .explain this way). Each round FREES the round it supersedes
    * (via [[graft.Checkpoints]]) the moment its own checkpoint is
    * materialized, so at most two rounds' blocks are ever live — a long
    * label loop does not accumulate per-round block sets. By default the
    * checkpoint is local (executor blocks); a local checkpoint cannot
    * survive executor loss (its lineage is truncated, so lost blocks are
    * unrecomputable). For long multi-hour runs set
    * `spark.sparkContext.setCheckpointDir(...)` and pass
    * `reliableEvery = N`: every Nth round writes a recoverable reliable
    * (file-backed) checkpoint, and when a later round FAILS the loop
    * rewinds to the most recent reliable round and replays from there
    * (up to 3 rewinds) — so a failure costs < N replayed rounds instead
    * of the whole call. */
  /** Test seam: invoked at the start of each [[dupClusters]] round with
    * the round number; a spec throws from here to exercise the
    * rewind-to-reliable path (executor loss is not simulable in local
    * mode). No-op in production. */
  private[graft] var roundProbe: Int => Unit = _ => ()

  def dupClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 64,
      reliableEvery: Int = 0
  ): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val fwd = pairs.select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
    // localCheckpoint, NOT persist: edges is referenced twice per
    // propagation round, and with a plain persist the PAIRS subtree
    // (bucket self-join + two signature join-backs, un-truncated since
    // the upstream checkpoint went depth-conditional) stays in every
    // round's LOGICAL plan — Catalyst re-analyzes it 2× per round and
    // the flat planning overhead, not execution, was q73's round-8
    // 1.46× regression. Lazy: the labels init below is a full pass.
    val edges = graft.Checkpoints.localCheckpoint(
      fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(), eager = false)
    require(reliableEvery == 0 || spark.sparkContext.getCheckpointDir.isDefined,
      "reliableEvery > 0 needs spark.sparkContext.setCheckpointDir(...)")
    // lazy: round 0's neigh/relaxed joins are full passes over labels
    // inside the same counted-checkpoint job, so the init blocks (and
    // edges' own lazy checkpoint upstream) materialize there instead of
    // paying a separate upfront job each
    var labels = graft.Checkpoints.localCheckpoint(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")), eager = false)
    // whether `labels` is a local checkpoint we own (freeable when
    // superseded) vs a reliable file-backed one (no storage blocks)
    var labelsLocal = true
    // most recent reliable checkpoint and the round count it represents —
    // the rewind target when a later round fails
    var reliable: Option[(DataFrame, Int)] = None
    var rewinds = 0
    // `labels` is the (possibly jump-composed, LAZY) frame the next round
    // relaxes over; `bare` is the bare checkpointed leaf behind it — the
    // frame whose blocks get freed when superseded and whose fixpoint is
    // returned (at convergence the jump is an identity, so returning the
    // bare leaf keeps the downstream plan a shallow scan)
    var bare = labels
    // pointer DOUBLING through the round's own CHECKPOINTED table
    // (Shiloach–Vishkin style): a label is a node id, so looking a
    // node's fresh label up in the same table composes the walk with
    // itself — per-round reach ~doubles and COMPOUNDS across rounds
    // (thread-shaped components converge in ~log₂(ecc) + c rounds,
    // spec-pinned: 200-path ≤ 12, ScaleSmoke 10k-path ≤ 20). The jump
    // stays LAZY on top of the checkpoint: materializing it would cost
    // a second checkpoint per round, and joining it against the
    // UN-materialized relax output (the r12 shape) recomputed the
    // |E|-grain relaxation once per join side — measured 1.4× on q73.
    // Lazily, each consumer pass re-runs only a |V|-grain equi-join
    // over the checkpointed blocks. Labels only ever decrease toward
    // the component min, so any composition preserves the invariant.
    def jumpOnce(t: DataFrame): DataFrame = {
      // renamed lookup columns keep the self-join unambiguous
      val lookup = t.select(col("id").as("__lk_id"), col("label").as("__lk_l"))
      t.join(lookup, col("label") === col("__lk_id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__lk_l"), col("label"))).as("label"))
    }
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      try {
        roundProbe(iter)
        val neigh = edges
          .join(labels.select(col("id").as("dst"), col("label").as("nl")), Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(min("nl").as("nlabel"))
        val relaxed = labels
          .join(neigh, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("rl"),
            col("label").as("old"))
        // convergence rides the RELAX change count alone: at the relax
        // fixpoint every edge has equal labels on both ends, so labels
        // are constant per component and any pointer jump is an
        // identity — counting post-jump changes (the r12 shape) detects
        // the same fixpoint one join deeper.
        val acc = spark.sparkContext.longAccumulator(s"graft.dupClusters.changed.$iter")
        val counted = relaxed.select(col("id"), col("rl"), col("old"))
          .as[(Long, Long, Long)].mapPartitions { it =>
            it.map { case (id, nl, ol) => if (nl != ol) acc.add(1L); (id, nl) }
          }.toDF("id", "label")
        val takeReliable = reliableEvery > 0 && (iter + 1) % reliableEvery == 0
        // resetStats: a checkpoint truncates lineage but carries
        // originStats, and re-checkpointing a plan built on the previous
        // round's checkpoint COMPOUNDS sizeInBytes multiplicatively —
        // by ~round 18 the planner stalls in million-bit BigInt
        // multiplies (exponential round times, executors idle). Each
        // round must restart from a fresh stats leaf.
        val next =
          if (takeReliable) {
            val ck = counted.checkpoint(true)
            spark.createDataFrame(ck.rdd, ck.schema)
          }
          else graft.Checkpoints.localCheckpoint(counted, resetStats = true)
        // `next` is fully materialized: the superseded round's local
        // blocks are dead — free them now instead of letting one block
        // set per round pile up for the session
        if (labelsLocal) graft.Checkpoints.free(bare)
        bare = next
        labels = jumpOnce(next)
        labelsLocal = !takeReliable
        if (takeReliable) reliable = Some((next, iter + 1))
        changed = acc.value
        iter += 1
      } catch {
        case e: Throwable if reliable.isDefined && rewinds < 3 =>
          // executor loss takes local checkpoint blocks with it and their
          // truncated lineage cannot recompute them — rewind to the last
          // reliable (file-backed) round and replay the rounds since
          rewinds += 1
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"dupClusters round $iter failed (${e.getMessage}); rewinding to " +
              s"reliable round ${reliable.get._2} (rewind $rewinds/3)")
          labels = reliable.get._1
          bare = reliable.get._1
          labelsLocal = false
          iter = reliable.get._2
          changed = 1L
      }
    }
    graft.Checkpoints.free(edges)
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"dupClusters converged in $iter rounds (maxIter $maxIter)")
    // a partial clustering (labels still moving when maxIter hit) would
    // silently name spurious clusters for one real component — fail loud,
    // the caller raises maxIter (worst case ~ eccentricity of a
    // component's min node; see the scaladoc)
    if (changed > 0) {
      throw new IllegalStateException(
        s"dupClusters did not converge within $maxIter rounds; " +
          "a component min's eccentricity exceeds maxIter — raise it")
    }
    // the returned frame reads the final checkpointed labels — a shallow
    // plan downstream anti-joins can compose with freely; every
    // superseded round was freed as it was replaced, and the final
    // round's blocks are released by the host's `Checkpoints.freeAll`
    // barrier once the caller is done
    bare.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Lines that occur in more than `maxDocFreq` distinct documents —
    * corpus-frequency boilerplate detection (the cross-document
    * complement of the per-document pattern filter in
    * `TextCleaning.removeBoilerplate`). A line is counted once per
    * document (`array_distinct` before the explode) and compared EXACTLY
    * (no normalization: "Home | About" and "home | about" are different
    * lines — normalizing first would merge legitimate prose with menu
    * chrome). Blank / whitespace-only lines are excluded: they occur in
    * every multi-paragraph document and removing them would destroy
    * paragraph structure rather than deduplicate content.
    *
    * Scale shape: one explode + groupBy(line) count — the only shuffle —
    * with the `HAVING count > maxDocFreq` filter applied in the same
    * aggregate, so the output is only the (small) frequent-line set. */
  def frequentLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDocFreq: Long
  ): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    df.select(explode(array_distinct(split(col(textCol), "\n"))).as("line"))
      .filter(length(trim(col("line"))) > 0)
      .groupBy("line")
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") > maxDocFreq)
  }

  /** Line-wise corpus deduplication (RefinedWeb/CCNet-style): rewrite each
    * document with every corpus-frequent line (per [[frequentLines]])
    * removed, preserving the relative order of the surviving lines. Adds
    * `out` next to the original text; null text stays null, and a document
    * whose every line is frequent becomes the empty string.
    *
    * Scale shape: the frequent-line set is the join side — it is small by
    * construction (only lines repeated across > maxDocFreq documents), so
    * the anti-join broadcasts; the explode → anti-join → re-assemble path
    * shuffles once on the document id. Blank lines never match (the
    * frequent set excludes them) so document formatting survives. */
  def dropFrequentLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDocFreq: Long,
      out: String = "dedup_text"
  ): DataFrame = {
    val freq = broadcast(
      frequentLines(df, textCol, idCol, maxDocFreq).select(col("line").as("__freq_line")))
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("pos", "__pos")
      .withColumnRenamed("col", "__line")
    val rebuilt = lines
      .join(freq, lines("__line") === freq("__freq_line"), "left_anti")
      .groupBy(idCol)
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x("__line"))).as("__rebuilt"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn(out,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__rebuilt"), lit(""))))
      .drop("__rebuilt")
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed (hyperplane bits
    * via [[Similarity.hyperplaneBucket]]) then exact-cosine verified. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nBits: Int = 10,
      nTables: Int = 3
  ): DataFrame = {
    // ids-only bucket join + distinct, vectors re-joined afterwards (same
    // shuffle-hygiene rationale as polyMinhashNearDupPairs).
    val withB = (t: Int) => df.select(
      col(idCol),
      Similarity.hyperplaneBucket(col(vecCol), dim, nBits, 104729L * (t + 1)).as("bucket"),
      lit(t).as("table"))
    // barrier: both self-join sides reference this subtree; the exchange
    // keeps the hyperplane projections to one evaluation per row
    val bucketed = (0 until nTables).map(withB).reduce(_ unionAll _)
      .repartition(col(idCol))
    val l = bucketed.select(col(idCol).as("id_a"), col("bucket"), col("table"))
    val r = bucketed.select(col(idCol).as("id_b"), col("bucket"), col("table"))
    l.join(r, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("__va")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), "id_b")
      .withColumn("cosine", Similarity.cosine(col("__va"), col("__vb")))
      // NaN (zero-norm vector) passes >= in Spark; numpy would say False
      .filter(!isnan(col("cosine")) && col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Cross-frame semantic contamination report: every (corpus, bench)
    * pair whose embedding cosine reaches `threshold` — the
    * embedding-space analogue of [[contaminationPairs]], catching bench
    * PARAPHRASES that n-gram containment misses. Both sides key with the
    * SAME hyperplane tables, so candidate generation is an equi-join on
    * (table, bucket). The bench side is UNHINTED: a benchmark suite is
    * usually small, and AQE broadcasts it when its MEASURED size fits —
    * candidate generation is then map-side (zero shuffle of the corpus),
    * while an oversized bench frame degrades to a shuffle join instead
    * of OOMing under a forced broadcast. The only shuffled rows beyond
    * that are the candidate id pairs themselves (distinct) before the
    * exact-cosine verify. NaN cosines (zero-norm vectors) never match. */
  def semanticContaminationPairs(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.9,
      nBits: Int = 10,
      nTables: Int = 3
  ): DataFrame = {
    def withB(df: DataFrame, out: String): DataFrame =
      (0 until nTables).map { t =>
        df.select(col(idCol).as(out),
          Similarity.hyperplaneBucket(col(vecCol), dim, nBits, 104729L * (t + 1))
            .as("bucket"),
          lit(t).as("table"))
      }.reduce(_ unionAll _)
    withB(corpus, "corpus_id")
      .join(withB(bench, "bench_id"), Seq("table", "bucket"))
      .select("corpus_id", "bench_id").distinct()
      .join(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__vc")),
        "corpus_id")
      .join(bench.select(col(idCol).as("bench_id"), col(vecCol).as("__vb")),
        "bench_id")
      .withColumn("cosine", Similarity.cosine(col("__vc"), col("__vb")))
      .filter(!isnan(col("cosine")) && col("cosine") >= threshold)
      .select("corpus_id", "bench_id", "cosine")
  }

  /** Remove from `corpus` every row semantically contaminated against
    * `bench` (per [[semanticContaminationPairs]]) — [[decontaminate]]'s
    * embedding-space sibling. The anti-join ships only the distinct
    * contaminated ids. */
  def semanticDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.9,
      nBits: Int = 10,
      nTables: Int = 3
  ): DataFrame = {
    val contaminated = semanticContaminationPairs(
        corpus, bench, idCol, vecCol, dim, threshold, nBits, nTables)
      .select(col("corpus_id").as(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic deduplication: drop every row that is
    * cosine-near some lower-id row, TRANSITIVELY — near-dup pairs from
    * [[embeddingNearDupPairs]] (hyperplane LSH buckets + exact-cosine
    * verify), connected components from [[dupClusters]], then keep only
    * each component's minimum-id representative. Unpaired rows survive
    * untouched. Unlike the greedy pairwise drop in
    * [[Pipelines.cleanCorpus]] (which can orphan chains), the component
    * keeper is canonical: exactly one survivor per semantic cluster.
    *
    * Scale shape: inherits the bucketed pair join (no all-pairs) and the
    * [[dupClusters]] label loop (near-clique clusters converge in 2-4
    * rounds; see its scaladoc for the thin-thread worst case); the final
    * anti-join ships only loser ids. */
  /** The shared cluster-assignment step of [[semanticDedup]] /
    * [[semanticDedupKeepBest]]: bucketed near-dup pairs → connected
    * components, as `(doc_id, cluster_id)` for every paired id. Exposed
    * so a session evaluating BOTH keeper policies (or any other
    * cluster-consuming stage) computes the expensive pair + closure
    * chain ONCE and feeds the same clusters frame to each — pass the
    * result as the `clusters` argument of either policy. */
  def semanticClusters(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nBits: Int = 10,
      nTables: Int = 3
  ): DataFrame =
    dupClusters(embeddingNearDupPairs(df, idCol, vecCol, dim, threshold, nBits, nTables))

  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nBits: Int = 10,
      nTables: Int = 3,
      clusters: Option[DataFrame] = None
  ): DataFrame = {
    val cl = clusters.getOrElse(
      semanticClusters(df, idCol, vecCol, dim, threshold, nBits, nTables))
    val losers = cl
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[semanticDedup]] with keeper-by-QUALITY: each semantic cluster keeps
    * its highest-`qualityCol` member instead of the minimum id — the
    * production SemDeDup policy (drop the redundant copies, keep the best
    * written one). Ties break toward the smaller id; null/NaN quality maps
    * to -Infinity (below every real score but still rankable), so an
    * all-null cluster degrades to the min-id keeper instead of vanishing.
    *
    * Scale shape: [[semanticDedup]]'s bucketed pairs + label loop, plus
    * one join of the (small) cluster assignment against the quality
    * column and a k=1 [[GroupTopK]] heap — keeper selection never
    * shuffles the corpus, only the clustered ids. When both policies run
    * in one session, compute [[semanticClusters]] once and pass it as
    * `clusters` here and to [[semanticDedup]]. */
  def semanticDedupKeepBest(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      qualityCol: String,
      threshold: Double = 0.95,
      nBits: Int = 10,
      nTables: Int = 3,
      clusters: Option[DataFrame] = None
  ): DataFrame = {
    val cl = clusters.getOrElse(
      semanticClusters(df, idCol, vecCol, dim, threshold, nBits, nTables))
    val q = col(qualityCol).cast("double")
    val scored = cl.join(
      df.select(col(idCol).cast("long").as("doc_id"),
        when(q.isNotNull && !isnan(q), q)
          .otherwise(lit(Double.NegativeInfinity)).as("__q")),
      Seq("doc_id"))
    val keepers = GroupTopK.topKPerGroup(scored, Seq("cluster_id"), "doc_id", "__q", 1)
      .select(col("doc_id"))
    val losers = cl.select("doc_id").join(keepers, Seq("doc_id"), "left_anti")
      .select(col("doc_id").cast(df.schema(idCol).dataType).as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: remove from `corpus` every document whose
    * n-gram containment against some `bench` document reaches `threshold`
    * (per [[contaminationPairs]]). The returned frame is `corpus` minus
    * the contaminated rows — the filter stage that the contamination
    * REPORT feeds in a real eval-hygiene pipeline.
    *
    * Scale shape: the pair search is the bounded inverted-index join of
    * [[contaminationPairs]] (DF-capped, never all-pairs); the final
    * anti-join ships only the distinct contaminated ids — small by
    * construction (bounded by the benchmark's reach). */
  def decontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      ngram: Int = 3,
      maxDocFreq: Option[Long] = None
  ): DataFrame = {
    val contaminated = contaminationPairs(
      corpus, bench, textCol, idCol, threshold, ngram, maxDocFreq)
      .select(col("corpus_id").as(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Verbatim-span contamination: every corpus document sharing at least
    * one `span`-token window (lowercased, whitespace-normalized — the
    * published "13-gram collision" decontamination convention used for
    * GPT-3-style training sets) with some benchmark document. This is
    * the EXACT-substring complement of [[contaminationPairs]]'s distinct
    * n-gram containment RATIO: a single verbatim 13-token overlap flags
    * the document regardless of how much else differs.
    *
    * Sub-`span` documents participate with their whole token string as
    * one window (the [[wordGrams]] short-document convention), so two
    * short documents collide only when verbatim-equal after
    * normalization.
    *
    * Scale shape: one window explode per side, then an ids-only
    * left-semi join against the DISTINCT bench window set — benchmarks
    * are small, so AQE broadcasts the measured build side and the
    * corpus never shuffles; the output is the distinct contaminated id
    * set, bounded by the benchmark's reach. */
  def spanContaminatedIds(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      span: Int = 13
  ): DataFrame = {
    require(span >= 1, "span must be >= 1")
    corpus
      .select(col(idCol).as("corpus_id"), explode(wordGrams(col(textCol), span)).as("__w"))
      .join(bench.select(explode(wordGrams(col(textCol), span)).as("__w")).distinct(),
        Seq("__w"), "left_semi")
      .select("corpus_id").distinct()
  }

  /** The (corpus, bench) pair report behind [[spanContaminatedIds]]:
    * which benchmark document each contaminated corpus document collides
    * with, and on how many distinct windows — the audit trail an eval
    * team reviews before dropping data. Same join shape; the pair count
    * aggregates distinct shared windows per pair. */
  def spanContaminationPairs(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      span: Int = 13
  ): DataFrame = {
    require(span >= 1, "span must be >= 1")
    val cw = corpus.select(col(idCol).as("corpus_id"),
      explode(wordGrams(col(textCol), span)).as("__w"))
    val bw = bench.select(col(idCol).as("bench_id"),
      explode(wordGrams(col(textCol), span)).as("__w"))
    cw.join(bw, Seq("__w"))
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("n_shared_windows"))
  }

  /** `corpus` minus every verbatim-span-contaminated document (per
    * [[spanContaminatedIds]]) — the filter stage of the 13-gram-collision
    * recipe. */
  def spanDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      span: Int = 13
  ): DataFrame = {
    val contaminated = spanContaminatedIds(corpus, bench, textCol, idCol, span)
      .select(col("corpus_id").as(idCol))
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Serialized Bloom sketch over `bench`'s distinct `span`-token windows
    * (the [[spanContaminatedIds]] window convention), built by one
    * distributed aggregate — a few MB at default sizing, `None` for an
    * empty benchmark. Bloom filters have NO false negatives: every truly
    * shared window probes positive. Feed to [[spanContaminatedFlag]] /
    * [[spanBloomDecontaminate]], or ship it to a streaming ingest. */
  def spanBloomSketch(
      bench: DataFrame,
      textCol: String,
      span: Int = 13,
      expectedWindows: Long = 1L << 20,
      fpp: Double = 0.01
  ): Option[Array[Byte]] = {
    require(span >= 1, "span must be >= 1")
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    require(expectedWindows > 0, "expectedWindows must be positive")
    val numBits = math.max(64L, math.ceil(
      -expectedWindows.toDouble * math.log(fpp) / (math.log(2.0) * math.log(2.0))).toLong)
    Option(bench
      .select(explode(wordGrams(col(textCol), span)).as("__w"))
      .agg(org.apache.spark.sql.graft.BloomBridge
        .bloomAgg(xxhash64(col("__w")), expectedWindows, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf"))
  }

  /** Map-side conservative span-contamination flag: true iff some
    * `span`-token window of `text` probes positive against a
    * [[spanBloomSketch]]. A single codegen'd predicate — no shuffle, no
    * state — so it is STREAM-LEGAL: a structured-streaming ingest can
    * drop probably-contaminated documents at parse time
    * ([[graft.streaming.StreamingEval.decontaminateStream]]). False
    * positives are bounded by the sketch's fpp (a conservative extra
    * drop); false negatives are impossible. Null text flags false. */
  def spanContaminatedFlag(text: Column, sketch: Array[Byte], span: Int = 13): Column = {
    require(span >= 1, "span must be >= 1")
    coalesce(exists(wordGrams(text, span),
      w => org.apache.spark.sql.graft.BloomBridge.mightContain(sketch, xxhash64(w))),
      lit(false))
  }

  /** [[spanDecontaminate]] through the Bloom pre-filter — the 100-TB
    * shape: the corpus scan probes the sketch map-side and only the
    * candidate sliver enters the exact window semi-join, so the result
    * is IDENTICAL to the exact operator (no false negatives; false
    * positives only cost verify work, bounded by `fpp`). */
  def spanBloomDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      span: Int = 13,
      expectedWindows: Long = 1L << 20,
      fpp: Double = 0.01
  ): DataFrame =
    spanBloomSketch(bench, textCol, span, expectedWindows, fpp) match {
      case None => corpus // empty benchmark: nothing to remove
      case Some(bf) =>
        val candidates = corpus.filter(spanContaminatedFlag(col(textCol), bf, span))
        val contaminated = spanContaminatedIds(candidates, bench, textCol, idCol, span)
          .select(col("corpus_id").as(idCol))
        corpus.join(contaminated, Seq(idCol), "left_anti")
    }

  /** [[decontaminate]] through a Bloom-filter pre-filter — the 100-TB
    * shape: one distributed aggregate builds a Bloom sketch (a few MB)
    * over the benchmark's n-gram hashes; the corpus scan then probes it
    * as a plan LITERAL (codegen'd, map-side, no shuffle) and only
    * documents sharing at least one probable gram with the benchmark —
    * a tiny fraction of a web corpus, since benchmarks are small — enter
    * the shuffle-bearing exact containment join. Bloom filters have NO
    * false negatives, so every truly contaminated document is a
    * candidate and the result is IDENTICAL to the exact operator (the
    * uncapped variant; a corpus-wide doc-frequency cap would need the
    * full-corpus gram aggregate the Bloom path exists to avoid). False
    * positives only cost extra exact-join work, bounded by `fpp`.
    *
    * Uses Spark's own runtime-filter expressions
    * ([[org.apache.spark.sql.graft.BloomBridge]]), so the probe stays
    * inside whole-stage codegen. `expectedGrams`/`fpp` size the sketch
    * (defaults: 2^20 grams at 1% ≈ 1.2 MB); keep `expectedGrams` within
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (4e6
    * default). */
  def bloomDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      ngram: Int = 3,
      expectedGrams: Long = 1L << 20,
      fpp: Double = 0.01
  ): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    require(expectedGrams > 0, "expectedGrams must be positive")
    val numBits = math.max(64L, math.ceil(
      -expectedGrams.toDouble * math.log(fpp) / (math.log(2.0) * math.log(2.0))).toLong)
    val bloom = bench
      .select(explode(wordGrams(col(textCol), ngram)).as("tok"))
      .agg(org.apache.spark.sql.graft.BloomBridge
        .bloomAgg(xxhash64(col("tok")), expectedGrams, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (bloom == null) corpus // empty benchmark: nothing to remove
    else {
      val anyHit = exists(wordGrams(col(textCol), ngram),
        g => org.apache.spark.sql.graft.BloomBridge.mightContain(bloom, xxhash64(g)))
      val candidates = corpus.filter(coalesce(anyHit, lit(false)))
      val contaminated = contaminationPairs(
          candidates, bench, textCol, idCol, threshold, ngram, maxDocFreq = None)
        .select(col("corpus_id").as(idCol))
        .distinct()
      corpus.join(contaminated, Seq(idCol), "left_anti")
    }
  }

  // ------------------------------------------------------------------
  // Exact-substring SELF-dedup (repeated verbatim spans WITHIN a corpus)
  // ------------------------------------------------------------------

  /** Positioned lowercased `span`-token windows: (`__id`, `pos`, `__w`)
    * with `pos` the 0-based token offset the window starts at. Sub-`span`
    * documents contribute their whole token string at pos 0 (the
    * [[wordGrams]] short-document convention). */
  private def positionedWindows(
      df: DataFrame, textCol: String, idCol: String, span: Int): DataFrame =
    df.select(col(idCol).as("__id"),
      posexplode(graft.expressions.WordGrams.wordGramsMultiLower(col(textCol), span))
        .as(Seq("pos", "__w")))

  /** The distinct md5 window fingerprints a document set contributes to
    * a [[selfDedupAgainstIndex]] index — the takedown key set
    * [[graft.streaming.StreamingEval.removeFromSpanIndex]] anti-joins. */
  private[graft] def windowHashes(
      df: DataFrame, textCol: String, idCol: String, span: Int): DataFrame =
    positionedWindows(df, textCol, idCol, span)
      .select(md5(col("__w")).as("h")).distinct()

  /** Every non-first occurrence of a verbatim repeated `span`-token
    * window across (or within) documents — the removal set of
    * exact-substring self-deduplication, the within-corpus complement of
    * [[spanContaminatedIds]]'s corpus-vs-benchmark collision. Published
    * recipe: repeated verbatim spans in web corpora are near-universally
    * boilerplate/templating, and keeping ONE canonical occurrence while
    * cutting the rest measurably improves LMs trained on the result.
    *
    * Canonical occurrence ("owner") = the (id, pos)-smallest, so results
    * are deterministic and re-runnable. Output: (`idCol`, `pos`) token
    * spans to cut, `[pos, pos + span)`.
    *
    * Scale shape: windows shuffle by their md5 (16-byte key, not the
    * ~100-byte window text); the window-multiset shuffle is inherent to
    * EXACT substring matching (a distributed suffix array pays the same
    * pass) — there is no candidate pre-filter that preserves exactness.
    * The per-window aggregate is a bounded (min, count) fold, never a
    * list; the removal join-back is ids+hash only. */
  def repeatedSpanRemovals(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      span: Int = 13
  ): DataFrame = {
    require(span >= 1, "span must be >= 1")
    val w = positionedWindows(corpus, textCol, idCol, span)
      .select(col("__id"), col("pos"), md5(col("__w")).as("__h"))
    val repeated = w.groupBy("__h")
      .agg(min(struct(col("__id"), col("pos"))).as("__owner"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select("__h", "__owner")
    w.join(repeated, Seq("__h"))
      .filter(struct(col("__id"), col("pos")) =!= col("__owner"))
      .select(col("__id").as(idCol), col("pos"))
  }

  /** MAXIMAL repeated spans — the Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", ExactSubstr)
    * reporting artifact: the per-document interval UNION of
    * [[repeatedSpanRemovals]]' window removals. A maximal repeated
    * substring of L ≥ `span` tokens contains exactly L − span + 1
    * windows, every one of them verbatim-duplicated, so merging
    * overlapping-or-adjacent removal windows reconstructs the maximal
    * span EXACTLY, with no suffix array: `span_end − span_start` is
    * the true repeated-region length, and no token outside a
    * repeated-≥-span substring is ever covered. Semantics are the
    * self-dedup family's verbatim (lowercased-match) keep-first —
    * the span listing and [[selfDedupSpans]]' cuts cover the SAME
    * tokens by construction.
    *
    * Scale shape: [[repeatedSpanRemovals]] (one md5-keyed window
    * aggregate, no pair join — a boilerplate-saturated corpus makes
    * the aggregate's groups hot but never quadratic) plus one
    * per-document gaps-and-islands pass. The islands windows ride a
    * UNIQUE sort key (`pos` — one window per (doc, pos)) and
    * equal-length intervals, so the previous window's end IS the
    * running max end and one `lag` suffices (the q238 island rule:
    * total order, never flag-then-sum over ties).
    *
    * Output: `idCol`, `span_start` (0-based token index),
    * `span_end` (exclusive), `n_windows` (removal windows merged
    * into the span). Documents with nothing repeated emit no row. */
  def repeatedSpans(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      span: Int = 13
  ): DataFrame = {
    val red = repeatedSpanRemovals(corpus, textCol, idCol, span)
      .select(col(idCol), col("pos").cast("long").as("pos"))
    val ord = Window.partitionBy(idCol).orderBy("pos")
    val marked = red
      .withColumn("__pe", lag(col("pos") + span, 1).over(ord))
      .withColumn("__brk",
        when(col("__pe").isNull || col("pos") > col("__pe"), 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__brk")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // clamp to the true token count: a sub-span document's whole-doc
    // window (the wordGrams short-document convention) ends at the
    // document, not at pos + span
    val nt = corpus
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), size(
        graft.expressions.WordGrams.wordGramsMulti(col(textCol), 1))
        .cast("long").as("__nt"))
    marked.groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + span).as("__rawEnd"),
        count(lit(1)).as("n_windows"))
      .join(nt, Seq(idCol))
      .select(col(idCol), col("span_start"),
        least(col("__rawEnd"), col("__nt")).as("span_end"), col("n_windows"))
  }

  /** Exact-substring self-dedup: cut every [[repeatedSpanRemovals]] span
    * out of its document, keeping the canonical occurrence. A document's
    * rebuilt text is its (case-preserved) tokens outside the union of its
    * removal ranges, joined with single spaces — i.e. trimmed documents
    * come back whitespace-normalized (the tokenizer's convention);
    * untouched documents keep their original text byte-for-byte.
    * Documents trimmed to zero tokens survive as empty strings (drop
    * them with a length filter if desired — the quality gates downstream
    * do). Token positions are stable under lowercasing (case changes
    * never touch whitespace), so the lowercased match positions index
    * the raw token array directly. */
  def selfDedupSpans(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      span: Int = 13
  ): DataFrame =
    applySpanCuts(corpus, textCol, idCol, span,
      repeatedSpanRemovals(corpus, textCol, idCol, span))

  /** Shared cut application: rewrite each document's `textCol` to its
    * case-preserved tokens outside the union of `[pos, pos + span)`
    * removal ranges (`cuts`: rows of `(idCol, pos)`), space-joined;
    * untouched documents keep their original bytes. */
  private def applySpanCuts(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      span: Int,
      cuts: DataFrame
  ): DataFrame = {
    val grouped = cuts
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("pos"))).as("__cuts"))
    val rawToks = graft.expressions.WordGrams.wordGramsMulti(col(textCol), 1)
    val rebuilt = array_join(
      filter(rawToks, (_, i) =>
        !exists(col("__cuts"), p => p <= i && i < p + lit(span))), " ")
    corpus.join(grouped, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__cuts").isNull, col(textCol)).otherwise(rebuilt))
      .drop("__cuts")
  }

  /** One micro-batch of STREAMING exact-substring self-dedup: cut every
    * window occurrence whose content is already in the standing
    * fingerprint `index` (seen in ANY earlier batch — its canonical
    * copy lives upstream) or is a non-first occurrence WITHIN this
    * batch, then rebuild the batch's documents. Returns the cleaned
    * batch plus the batch's first-seen window fingerprints — the rows
    * the caller appends to the index so later batches cut against
    * them. With batches arriving in increasing-id order the
    * composition over batches equals one [[selfDedupSpans]] over the
    * union (StreamingSpec-pinned; the keep-first owner is the global
    * (id, pos) minimum either way).
    *
    * Scale shape: one window pass over the BATCH; the standing index
    * is touched by two hash-key joins at the batch's window grain
    * (semi to find hits, anti to find first-seens) — never scanned
    * into memory, never shuffled beyond the 16-byte keys. */
  def selfDedupAgainstIndex(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      span: Int,
      index: Option[DataFrame]
  ): (DataFrame, DataFrame) = {
    val w = graft.Checkpoints.trackCache(
      positionedWindows(batch, textCol, idCol, span)
        .select(col("__id"), col("pos"), md5(col("__w")).as("__h"))
        .persist())
    val owners = w.groupBy("__h")
      .agg(min(struct(col("__id"), col("pos"))).as("__owner"))
    val withOwner = w.join(owners, Seq("__h"))
    val (removals, newFps) = index match {
      case Some(ix) =>
        val known = ix.select(col("h").as("__h"))
        val hit = withOwner.join(known, Seq("__h"), "left_semi")
          .select(col("__id"), col("pos"))
        val fresh = withOwner.join(known, Seq("__h"), "left_anti")
        val freshDups = fresh
          .filter(struct(col("__id"), col("pos")) =!= col("__owner"))
          .select(col("__id"), col("pos"))
        (hit.unionByName(freshDups),
          fresh.select(col("__h").as("h")).distinct())
      case None =>
        (withOwner.filter(struct(col("__id"), col("pos")) =!= col("__owner"))
          .select(col("__id"), col("pos")),
          w.select(col("__h").as("h")).distinct())
    }
    (applySpanCuts(batch, textCol, idCol, span,
      removals.select(col("__id").as(idCol), col("pos"))), newFps)
  }

  /** Horizon (TTL) dedup: within each `keyCols` identity, keep a row iff
    * it falls at least `horizonUs` after the PREVIOUS KEPT row — the
    * re-crawl/re-ingest policy "the same content seen again within N
    * hours is a repeat; after N hours it counts as a fresh version".
    * This is GREEDY anchor selection (each kept row opens a suppression
    * window), which no fixed window frame expresses: whether row i
    * survives depends on which earlier rows survived. Exactly-at-
    * boundary rows (`ts == last_kept + horizonUs`) are KEPT; equal-`ts`
    * rows order by the unique `tieCol`, so the earliest tie anchors and
    * its same-instant copies suppress.
    *
    * Scale shape: ONE shuffle (`repartition` on the key) + an in-stage
    * `sortWithinPartitions(key, ts, tie)` + a streaming per-partition
    * scan holding two scalars of state (current key, last kept ts) —
    * no per-group buffering, so a million-copy hot key costs its scan,
    * never memory. Null keys/timestamps are dropped (no identity / no
    * position — the temporal-op convention). */
  def horizonDedup(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tieCol: String,
      horizonUs: Long
  ): DataFrame = {
    require(keyCols.nonEmpty, "horizonDedup needs key columns")
    require(horizonUs > 0, "horizonUs must be positive")
    val clean = df.filter(
      keyCols.map(col(_).isNotNull).reduce(_ && _) && col(tsCol).isNotNull)
    val schema = clean.schema
    require(schema(tsCol).dataType == org.apache.spark.sql.types.LongType,
      s"horizonDedup needs a LONG microsecond column, got ${schema(tsCol).dataType}" +
        " — normalize upstream (graft.io.Tables / ts div 1000)")
    val keyIdx = keyCols.map(schema.fieldIndex)
    val tsIdx = schema.fieldIndex(tsCol)
    val sorted = clean
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions(
        (keyCols.map(col(_).asc) :+ col(tsCol).asc :+ col(tieCol).asc): _*)
    sorted.mapPartitions { rows =>
      var curKey: Seq[Any] = null
      var lastKept = Long.MinValue
      rows.filter { r =>
        val k = keyIdx.map(r.get)
        val ts = r.getLong(tsIdx)
        if (k != curKey) { curKey = k; lastKept = ts; true }
        else if (ts - lastKept >= horizonUs) { lastKept = ts; true }
        else false
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }
}
