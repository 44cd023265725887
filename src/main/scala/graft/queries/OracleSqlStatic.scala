package graft.queries

/** The static (data-independent) DuckDB oracle SQL for
  * [[PipelineQueries]] — split from the query builders so diffs and
  * copy/review passes touch SQL text and Spark plans separately. Pure
  * constants: every entry mirrors its query's arithmetic op-for-op;
  * trained-quantizer oracles (IVF/PQ/BPE state) stay in
  * [[PipelineQueries]] because they interpolate runtime-trained
  * literals. `lazy` because the interpolated helper constants live in
  * the object this trait is mixed into and initialize after it. */
private[queries] trait OracleSqlStatic { this: PipelineQueries.type =>

  /** Shared CTE chain of q226/q235: the q203 fuzzy-match pair set,
    * undirected edges, and a fixed `rounds`-round min-label flood
    * (measured fixpoints 3/8/32 at the three sfs — a shortfall would
    * hash-mismatch, the q224 bounded-replay argument). Ends with
    * `l<rounds>` = (node, label). */
  private def ccFloodCtes(rounds: Int): String = {
    val iter = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.label, coalesce(m.ml, l.label)) AS label
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT e.u AS node, min(p.label) AS ml
         |    FROM e JOIN l${i - 1} p ON p.node = e.v
         |    GROUP BY e.u
         |  ) m ON m.node = l.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""c AS (
       |  SELECT c_nationkey AS nationkey, c_custkey, c_name FROM customer
       |  WHERE c_nationkey IS NOT NULL AND c_name IS NOT NULL
       |), pairs AS MATERIALIZED (
       |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
       |  FROM c a JOIN c b
       |    ON a.nationkey = b.nationkey AND a.c_custkey < b.c_custkey
       |  WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
       |    AND levenshtein(a.c_name, b.c_name) <= 1
       |), e AS MATERIALIZED (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT id_a AS u, id_b AS v FROM pairs
       |    UNION ALL SELECT id_b, id_a FROM pairs)
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS node, u AS label FROM e
       |),
       |$iter""".stripMargin
  }

  /** Full unigram-LM re-train in SQL (q249): candidate vocabulary →
    * `iters` hard-EM rounds, each one Viterbi forward DP + backtrack
    * unrolled to `maxWordLen` MATERIALIZED stages — the q133-BPE
    * "oracle re-trains from scratch" discipline. Mirrors
    * [[graft.ops.UnigramTrain.train]] cell for cell: ln-decomposed
    * scores over exact integer counts, one addition per DP cell in the
    * same operand order, argmax ties by `ORDER BY cand DESC, pl ASC`
    * (the native expression's strict-`>` over ascending l). Unreached
    * positions simply have no DP row — on corpus words every position
    * on the previous round's path stays reachable, and the engine's
    * OOV fallback can never enter a corpus word's optimal path (its
    * deterministic penalty loses to any real segmentation). */
  private def unigramRoundCtes(r: Int, maxWordLen: Int): String = {
    val fwd = (1 to maxWordLen).map { p =>
      s"""b${r}_$p AS MATERIALIZED (
         |  SELECT word, pos, best, bl FROM (
         |    SELECT a.word, $p AS pos, a.best + sc.s AS best, sc.pl AS bl,
         |      row_number() OVER (PARTITION BY a.word
         |        ORDER BY a.best + sc.s DESC, sc.pl ASC) AS rn
         |    FROM acc${r}_${p - 1} a JOIN sc$r sc
         |      ON a.pos = $p - sc.pl
         |      AND substr(a.word, a.pos + 1, sc.pl) = sc.piece
         |  ) WHERE rn = 1
         |), acc${r}_$p AS MATERIALIZED (
         |  SELECT * FROM acc${r}_${p - 1} UNION ALL SELECT * FROM b${r}_$p
         |)""".stripMargin
    }.mkString(",\n")
    val back = (1 to maxWordLen).map { j =>
      s"""k${r}_$j AS MATERIALIZED (
         |  SELECT t.word, t.pos - b.bl AS pos,
         |    substr(t.word, t.pos - b.bl + 1, b.bl) AS piece
         |  FROM k${r}_${j - 1} t JOIN acc${r}_$maxWordLen b
         |    ON b.word = t.word AND b.pos = t.pos
         |  WHERE t.pos > 0
         |)""".stripMargin
    }.mkString(",\n")
    val allK = (1 to maxWordLen)
      .map(j => s"SELECT word, piece FROM k${r}_$j").mkString(" UNION ALL ")
    s"""t$r AS MATERIALIZED (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM v${r - 1}),
       |sc$r AS MATERIALIZED (
       |  SELECT piece, CAST(len(piece) AS INT) AS pl,
       |    ln(CAST(c AS DOUBLE)) - ln(tot) AS s
       |  FROM v${r - 1}, t$r
       |),
       |acc${r}_0 AS MATERIALIZED (
       |  SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS best, 0 AS bl FROM hist
       |),
       |$fwd,
       |k${r}_0 AS MATERIALIZED (SELECT word, CAST(len(word) AS INT) AS pos FROM hist),
       |$back,
       |v$r AS MATERIALIZED (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM ($allK) p JOIN hist USING (word)
       |  GROUP BY piece
       |)""".stripMargin
  }

  /** The WITH-body (no leading WITH, no final SELECT) of the unigram
    * re-train: hist -> candidates -> capped v0 -> `iters` EM rounds. */
  private def unigramCtes(
      maxPieceLen: Int, vocabSize: Int, iters: Int, maxWordLen: Int): String = {
    val tok = """CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
                |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END""".stripMargin
    val rounds = (1 to iters).map(unigramRoundCtes(_, maxWordLen)).mkString(",\n")
    s"""hist AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest($tok) AS word
       |    FROM documents WHERE text IS NOT NULL
       |  ) GROUP BY word
       |), s1 AS (
       |  SELECT word, cnt, unnest(range(1, len(word) + 1)) AS i FROM hist
       |), s2 AS (
       |  SELECT word, cnt, i,
       |    unnest(range(1, least($maxPieceLen, len(word) - i + 1) + 1)) AS l
       |  FROM s1
       |), cand AS MATERIALIZED (
       |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |    CAST(sum(cnt) AS BIGINT) AS c
       |  FROM s2 GROUP BY 1
       |), v0 AS MATERIALIZED (
       |  SELECT piece, c FROM (
       |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece ASC) AS rn
       |    FROM cand)
       |  WHERE rn <= $vocabSize OR len(piece) = 1
       |),
       |$rounds""".stripMargin
  }

  private def unigramTrainSql(
      maxPieceLen: Int, vocabSize: Int, iters: Int, maxWordLen: Int): String =
    s"""WITH ${unigramCtes(maxPieceLen, vocabSize, iters, maxWordLen)}
       |SELECT CAST(row_number() OVER (ORDER BY c DESC, piece ASC) AS BIGINT) AS vocab_rank,
       |  piece, c AS cnt
       |FROM v$iters ORDER BY vocab_rank""".stripMargin

  /** The WITH-body for the unigram ENCODE→PACK chain (q260/q261):
    * re-train the tokenizer (2 EM rounds), re-encode every distinct
    * word (round-3 DP), rank the final vocabulary into piece ids, and
    * lay every document's id stream into `doc_id % 4` shards with
    * exclusive prefix-sum offsets (budget 128) — the engine's
    * `encodeDocs` → `sequencePacking` chain replayed end to end. */
  private lazy val unigramPackCtes: String = {
    val maxWordLen = 12
    val allK = (1 to maxWordLen)
      .map(j => s"SELECT word, pos, piece FROM k3_$j").mkString(" UNION ALL ")
    unigramCtes(maxPieceLen = 4, vocabSize = 64, iters = 2, maxWordLen) + ",\n" +
      unigramRoundCtes(3, maxWordLen) + s""",
         |vr AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(row_number() OVER (ORDER BY c DESC, piece ASC) AS BIGINT) AS pid
         |  FROM v2
         |), wseg AS MATERIALIZED (
         |  $allK
         |), wp AS MATERIALIZED (
         |  SELECT w.word, coalesce(vr.pid, 0) AS pid,
         |    CAST(row_number() OVER (PARTITION BY w.word ORDER BY w.pos) - 1
         |      AS BIGINT) AS widx
         |  FROM wseg w LEFT JOIN vr ON vr.piece = w.piece
         |), wlen AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM wseg GROUP BY word
         |), dt AS (
         |  SELECT doc_id,
         |    CASE WHEN text IS NULL OR len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents
         |), dwp AS (
         |  SELECT doc_id, unnest(ts) AS word,
         |    unnest(range(1, len(ts) + 1)) AS wpos
         |  FROM dt
         |), dw AS MATERIALIZED (
         |  SELECT dwp.doc_id, dwp.wpos, dwp.word, wlen.n,
         |    CAST(sum(wlen.n) OVER (PARTITION BY dwp.doc_id ORDER BY dwp.wpos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - wlen.n
         |      AS BIGINT) AS woff
         |  FROM dwp JOIN wlen USING (word)
         |), dlen AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS np FROM dw GROUP BY doc_id
         |), pk AS MATERIALIZED (
         |  SELECT doc_id, doc_id % 4 AS shard, np,
         |    CAST(sum(np) OVER (PARTITION BY doc_id % 4 ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - np
         |      AS BIGINT) AS "offset"
         |  FROM dlen
         |)""".stripMargin
  }

  /** The five-judge vote panel over `documents` (tokenizer CASE,
    * integer distinct-ratio test, q136 md5 unit-hash coin) — the CTE
    * prefix mirroring the engine's vote construction exactly, shared by
    * the agreement-weighted q254/q255, the Dawid–Skene q258, and the
    * gold-anchored q259. */
  private val judgePanelCtes: String =
    """d AS (
      |  SELECT doc_id, n_chars, lang,
      |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
      |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ts
      |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |), v AS MATERIALIZED (
      |  SELECT doc_id, 'len' AS judge,
      |    CASE WHEN n_chars >= 300 THEN 'hi' ELSE 'lo' END AS label FROM d
      |  UNION ALL SELECT doc_id, 'tok',
      |    CASE WHEN len(ts) >= 50 THEN 'hi' ELSE 'lo' END FROM d
      |  UNION ALL SELECT doc_id, 'dtr',
      |    CASE WHEN len(ts) > 0 AND 2 * len(list_distinct(ts)) >= len(ts)
      |         THEN 'hi' ELSE 'lo' END FROM d
      |  UNION ALL SELECT doc_id, 'lang',
      |    CASE WHEN lang = 'en' THEN 'hi' ELSE 'lo' END FROM d
      |  UNION ALL SELECT doc_id, 'fuzz',
      |    CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-judge'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 >= 0.5
      |         THEN 'hi' ELSE 'lo' END FROM d
      |)""".stripMargin

  /** The q96 numeric-bin PSI statement — shared verbatim by the
    * persisted-reference serving replay q273 (identical smoothed
    * arithmetic by construction). */
  private lazy val driftPsiSql: String =
    """WITH r AS (
        |  SELECT n_chars // 100 AS bin, count(*) AS n_ref
        |  FROM documents WHERE source = 'src0' AND n_chars IS NOT NULL GROUP BY 1
        |), c AS (
        |  SELECT n_chars // 100 AS bin, count(*) AS n_cur
        |  FROM documents WHERE source = 'src1' AND n_chars IS NOT NULL GROUP BY 1
        |), j AS (
        |  SELECT coalesce(r.bin, c.bin) AS bin,
        |         coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM r FULL OUTER JOIN c ON r.bin = c.bin
        |), t AS (
        |  SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc,
        |         count(*) AS b FROM j
        |)
        |SELECT bin, n_ref, n_cur,
        |  round(CAST(n_ref + 1 AS DOUBLE) / (tr + b), 9) + 0.0 AS p_ref_r,
        |  round(CAST(n_cur + 1 AS DOUBLE) / (tc + b), 9) + 0.0 AS p_cur_r,
        |  round((CAST(n_cur + 1 AS DOUBLE) / (tc + b) - CAST(n_ref + 1 AS DOUBLE) / (tr + b))
        |    * ln((CAST(n_cur + 1 AS DOUBLE) / (tc + b)) / (CAST(n_ref + 1 AS DOUBLE) / (tr + b))), 9) + 0.0 AS contrib_r
        |FROM j CROSS JOIN t ORDER BY bin""".stripMargin

  /** The q254 agreement-weighted consensus statement — shared verbatim
    * by the serving-path replay q270 (same weights by construction). */
  private lazy val judgeConsensusSql: String =
    s"""WITH $judgeVoteCtes
       |SELECT win.doc_id, consensus, n_judges, n_agree,
       |  round(CAST(n_agree AS DOUBLE) / n_judges, 6) + 0.0 AS support_r,
       |  round(win.w / wt.tw, 6) + 0.0 AS weighted_support_r,
       |  n_agree = n_judges AS unanimous
       |FROM win JOIN wt USING (doc_id) JOIN ag USING (doc_id)
       |ORDER BY win.doc_id""".stripMargin

  /** The panel plus the agreement-weighted consensus derivation (raw
    * majority, scalar reliabilities, weight folds) — q254/q255's CTEs. */
  private val judgeVoteCtes: String = judgePanelCtes +
    """, mc AS (
      |  SELECT doc_id, label, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1, 2
      |), maj AS (
      |  SELECT doc_id, label AS mlab FROM mc
      |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, label ASC) = 1
      |), rel AS MATERIALIZED (
      |  SELECT judge,
      |    CAST(sum(CASE WHEN v.label = maj.mlab THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*) AS r
      |  FROM v JOIN maj USING (doc_id) GROUP BY judge
      |), wv AS (
      |  SELECT v.doc_id, v.label,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(rel.r ORDER BY v.judge)), (a, b) -> a + b) AS w
      |  FROM v JOIN rel USING (judge) GROUP BY v.doc_id, v.label
      |), wt AS (
      |  SELECT v.doc_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(rel.r ORDER BY v.judge)), (a, b) -> a + b) AS tw,
      |    CAST(count(*) AS BIGINT) AS n_judges
      |  FROM v JOIN rel USING (judge) GROUP BY v.doc_id
      |), win AS MATERIALIZED (
      |  SELECT doc_id, label AS consensus, w FROM wv
      |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, label ASC) = 1
      |), ag AS (
      |  SELECT v.doc_id,
      |    CAST(sum(CASE WHEN v.label = win.consensus THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      |  FROM v JOIN win USING (doc_id) GROUP BY v.doc_id
      |)""".stripMargin

  /** One Dawid–Skene scoring round in SQL, mirroring
    * [[graft.ops.Judges]]'s `dsScorePass` arithmetic exactly: Laplace-1-
    * smoothed exact-integer ratios, ln domain, judge-ordered folds,
    * argmax ties toward the binary-smaller label. `prev` names the
    * current-labeling CTE `(doc_id, t)`; emits `den$r`/`num$r`/`pri$r`/
    * `sc$r`/`cur$r` with `cur$r` carrying `(doc_id, t, post)`. */
  private def dsRoundCtes(r: Int, prev: String): String =
    s"""den$r AS MATERIALIZED (
       |  SELECT v.judge, c.t, CAST(count(*) AS BIGINT) AS d
       |  FROM v JOIN $prev c USING (doc_id) GROUP BY 1, 2
       |), num$r AS MATERIALIZED (
       |  SELECT v.judge, c.t, v.label AS o, CAST(count(*) AS BIGINT) AS n
       |  FROM v JOIN $prev c USING (doc_id) GROUP BY 1, 2, 3
       |), pri$r AS MATERIALIZED (
       |  SELECT lab.label AS t,
       |    CAST(coalesce(pc.n, 0) + 1 AS DOUBLE) /
       |      ((SELECT count(*) FROM $prev) + (SELECT count(*) FROM lab)) AS pi
       |  FROM lab LEFT JOIN (
       |    SELECT t, CAST(count(*) AS BIGINT) AS n FROM $prev GROUP BY t) pc
       |    ON pc.t = lab.label
       |), sc$r AS MATERIALIZED (
       |  SELECT q.doc_id, q.t,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(q.lnc ORDER BY q.judge)), (a, b) -> a + b) AS s
       |  FROM (
       |    SELECT v.doc_id, v.judge, lab.label AS t,
       |      ln(CAST(coalesce(num.n, 0) + 1 AS DOUBLE) /
       |         (coalesce(den.d, 0) + (SELECT count(*) FROM lab))) AS lnc
       |    FROM v CROSS JOIN lab
       |    LEFT JOIN num$r num
       |      ON num.judge = v.judge AND num.t = lab.label AND num.o = v.label
       |    LEFT JOIN den$r den ON den.judge = v.judge AND den.t = lab.label
       |  ) q GROUP BY q.doc_id, q.t
       |), cur$r AS MATERIALIZED (
       |  SELECT doc_id, t, post FROM (
       |    SELECT sc.doc_id, sc.t, ln(pri.pi) + sc.s AS post
       |    FROM sc$r sc JOIN pri$r pri ON pri.t = sc.t)
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY post DESC, t ASC) = 1
       |)""".stripMargin

  /** The shared DS/gold output tail over a final `(doc_id, t, post)`. */
  private def dsOutputSql(fin: String): String =
    s"""SELECT f.doc_id, f.t AS consensus,
       |  CAST(count(*) AS BIGINT) AS n_judges,
       |  CAST(sum(CASE WHEN v.label = f.t THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  round(CAST(sum(CASE WHEN v.label = f.t THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) + 0.0 AS support_r,
       |  round(f.post, 6) + 0.0 AS logpost_r
       |FROM v JOIN $fin f USING (doc_id)
       |GROUP BY f.doc_id, f.t, f.post
       |ORDER BY f.doc_id""".stripMargin

  /** Full unrolled hard-EM Dawid–Skene (q258): majority init, `iters`
    * re-estimation rounds — the oracle re-runs the whole EM, so the
    * hash compare pins every smoothed ratio and fold. */
  private def dawidSkeneSql(iters: Int): String = {
    val rounds = (1 to iters).map(r =>
      dsRoundCtes(r, if (r == 1) "cur0" else s"cur${r - 1}")).mkString(",\n")
    s"""WITH $judgePanelCtes,
       |lab AS MATERIALIZED (SELECT DISTINCT label FROM v),
       |cur0 AS MATERIALIZED (
       |  SELECT doc_id, label AS t FROM (
       |    SELECT doc_id, label, CAST(count(*) AS BIGINT) AS n
       |    FROM v GROUP BY 1, 2)
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, label ASC) = 1
       |),
       |$rounds
       |${dsOutputSql(s"cur$iters")}""".stripMargin
  }

  /** Soft Dawid–Skene (q276): the q258 EM re-run pins the final round's
    * estimates and hard winner, then the per-(item, label) LINEAR mass —
    * the same Laplace-smoothed cell rationals folded multiplicatively in
    * judge order (initial 1.0), times the prior — divides by the hard
    * winner's mass and normalizes over the label-ordered ratio sum,
    * mirroring [[graft.ops.Judges.dawidSkenePosteriors]] double for
    * double (`exp` never enters either engine). */
  private def dsPosteriorsSql(iters: Int): String = {
    val rounds = (1 to iters).map(r =>
      dsRoundCtes(r, if (r == 1) "cur0" else s"cur${r - 1}")).mkString(",\n")
    s"""WITH $judgePanelCtes,
       |lab AS MATERIALIZED (SELECT DISTINCT label FROM v),
       |cur0 AS MATERIALIZED (
       |  SELECT doc_id, label AS t FROM (
       |    SELECT doc_id, label, CAST(count(*) AS BIGINT) AS n
       |    FROM v GROUP BY 1, 2)
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, label ASC) = 1
       |),
       |$rounds,
       |mass AS MATERIALIZED (
       |  SELECT q.doc_id, q.t,
       |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
       |      list(q.r ORDER BY q.judge)), (a, b) -> a * b) AS prod
       |  FROM (
       |    SELECT v.doc_id, v.judge, lab.label AS t,
       |      CAST(coalesce(num.n, 0) + 1 AS DOUBLE) /
       |        (coalesce(den.d, 0) + (SELECT count(*) FROM lab)) AS r
       |    FROM v CROSS JOIN lab
       |    LEFT JOIN num$iters num
       |      ON num.judge = v.judge AND num.t = lab.label AND num.o = v.label
       |    LEFT JOIN den$iters den ON den.judge = v.judge AND den.t = lab.label
       |  ) q GROUP BY q.doc_id, q.t
       |), pm AS MATERIALIZED (
       |  SELECT m.doc_id, m.t, pri.pi * m.prod AS p
       |  FROM mass m JOIN pri$iters pri ON pri.t = m.t
       |), pw AS MATERIALIZED (
       |  SELECT pm.doc_id, pm.p AS pwin
       |  FROM pm JOIN cur$iters w ON w.doc_id = pm.doc_id AND w.t = pm.t
       |), rt AS MATERIALIZED (
       |  SELECT pm.doc_id, pm.t, pm.p / pw.pwin AS q
       |  FROM pm JOIN pw USING (doc_id)
       |), zn AS (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list(q ORDER BY t)), (a, b) -> a + b) AS z
       |  FROM rt GROUP BY doc_id
       |)
       |SELECT rt.doc_id, rt.t AS label,
       |  round(rt.q / zn.z, 6) + 0.0 AS posterior_r,
       |  rt.t = w.t AS is_consensus
       |FROM rt JOIN zn USING (doc_id) JOIN cur$iters w USING (doc_id)
       |ORDER BY rt.doc_id, rt.t""".stripMargin
  }

  /** Gold-anchored consensus (q259): confusions and prior from the gold
    * items only, one scoring pass over every voted item. */
  private lazy val goldJudgesSql: String =
    s"""WITH $judgePanelCtes,
       |cur0 AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN n_chars >= 300 THEN 'hi' ELSE 'lo' END AS t
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 11 = 0
       |),
       |lab AS MATERIALIZED (
       |  SELECT DISTINCT label FROM (
       |    SELECT label FROM v UNION ALL SELECT t FROM cur0)
       |),
       |${dsRoundCtes(1, "cur0")}
       |${dsOutputSql("cur1")}""".stripMargin

  /** The shared q265/q266 mixture CTE prefix: per-source cycle-parity-split
    * losses (exact integer sums, one division each), excess = max(proxy
    * − ref, 0), the linearized MW raw weight 1 + 2·excess, and the
    * sorted-domain normalization fold — [[graft.ops.Mixture
    * .domainReweight]]'s driver arithmetic replayed term for term. */
  private lazy val domainReweightCtes: String =
    """WITH l AS (
      |  SELECT source AS domain,
      |    CAST(sum(CASE WHEN (doc_id // 20) % 2 = 0 THEN n_chars ELSE 0 END) AS DOUBLE)
      |      / CAST(sum(CASE WHEN (doc_id // 20) % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS ref_loss,
      |    CAST(sum(CASE WHEN (doc_id // 20) % 2 = 1 THEN n_chars ELSE 0 END) AS DOUBLE)
      |      / CAST(sum(CASE WHEN (doc_id // 20) % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS proxy_loss
      |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY source
      |), x AS MATERIALIZED (
      |  SELECT domain,
      |    greatest(proxy_loss - ref_loss, CAST(0.0 AS DOUBLE)) AS excess,
      |    CAST(1.0 AS DOUBLE)
      |      + CAST(2.0 AS DOUBLE) * greatest(proxy_loss - ref_loss, CAST(0.0 AS DOUBLE)) AS raw
      |  FROM l
      |), zz AS (
      |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list(raw ORDER BY domain NULLS FIRST)), (a, b) -> a + b) AS z,
      |    CAST(count(*) AS BIGINT) AS k
      |  FROM x
      |)""".stripMargin

  /** One Bradley–Terry MM round in SQL, mirroring
    * [[graft.ops.Judges.bradleyTerry]]'s arithmetic exactly: smoothed
    * integer matchup counts, opponent-id-ordered denominator folds,
    * each strength one double division. */
  private def btRoundCte(r: Int): String =
    s"""p$r AS MATERIALIZED (
       |  SELECT e.i,
       |    CAST(w.W AS DOUBLE) / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(CAST(e.n AS DOUBLE) / (pi.p + pj.p) ORDER BY e.j)),
       |      (a, b) -> a + b) AS p
       |  FROM e JOIN p${r - 1} pi ON pi.i = e.i JOIN p${r - 1} pj ON pj.i = e.j
       |    JOIN w ON w.i = e.i
       |  GROUP BY e.i, w.W
       |)""".stripMargin

  /** Full unrolled Bradley–Terry fit (q264): adjacent-doc length duels
    * between sources, `iters` MM rounds, strength normalized to the
    * binary-smallest player — the oracle re-runs the whole fit. */
  private def bradleyTerrySql(iters: Int): String = {
    val rounds = (1 to iters).map(btRoundCte).mkString(",\n")
    s"""WITH m AS (
       |  SELECT CASE WHEN d1.n_chars > d2.n_chars THEN d1.source ELSE d2.source END AS winner,
       |         CASE WHEN d1.n_chars > d2.n_chars THEN d2.source ELSE d1.source END AS loser
       |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
       |  WHERE d1.doc_id IS NOT NULL AND d2.doc_id IS NOT NULL
       |    AND d1.source IS NOT NULL AND d2.source IS NOT NULL
       |    AND d1.n_chars IS NOT NULL AND d2.n_chars IS NOT NULL
       |    AND d1.source <> d2.source AND d1.n_chars <> d2.n_chars
       |), dr AS (
       |  SELECT winner AS i, loser AS j, 1 AS win FROM m
       |  UNION ALL SELECT loser, winner, 0 FROM m
       |), e AS MATERIALIZED (
       |  SELECT i, j, CAST(sum(win) AS BIGINT) AS rw, CAST(count(*) AS BIGINT) AS rn,
       |    CAST(sum(win) + 1 AS BIGINT) AS wins, CAST(count(*) + 2 AS BIGINT) AS n
       |  FROM dr GROUP BY i, j
       |), w AS MATERIALIZED (
       |  SELECT i, CAST(sum(wins) AS BIGINT) AS W,
       |    CAST(sum(rw) AS BIGINT) AS n_wins, CAST(sum(rn) AS BIGINT) AS n_matches
       |  FROM e GROUP BY i
       |), p0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM w),
       |$rounds,
       |ref AS (SELECT p FROM p$iters ORDER BY i LIMIT 1)
       |SELECT p$iters.i AS player, w.n_matches, w.n_wins,
       |  CAST(0 AS BIGINT) AS n_draws,
       |  round(p$iters.p / (SELECT p FROM ref), 6) + 0.0 AS strength_r
       |FROM p$iters JOIN w ON w.i = p$iters.i
       |ORDER BY player""".stripMargin
  }

  /** q84's BM25 derivation — shared verbatim by the persisted-index
    * replay q248 (same scores by construction). */
  private lazy val bm25OracleSql: String = bm25OracleSqlFor("")

  /** The q278 qrels + per-query metric CTE chain over the q84 run —
    * shared by the per-query statement (q278) and the macro-average
    * (q280). */
  private lazy val rankingQrelsIdealCtes: String =
    s""", g AS MATERIALIZED (
       |  SELECT q2.qid, d.doc_id, 1 + d.doc_id % 3 AS g
       |  FROM documents d
       |  CROSS JOIN (VALUES (1, 'query'), (2, 'window'), (3, 'customer')) q2(qid, term)
       |  WHERE contains(d.text, q2.term)
       |), ideal AS (
       |  -- iDCG truncated at k = 10 (TREC nDCG@k: the best possible
       |  -- top-k page), while n_judged still counts every positive
       |  SELECT qid, count(*) AS n_judged,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(CAST(g AS DOUBLE) /
       |        (ln(CAST(rn + 1 AS DOUBLE)) / CAST(${math.log(2.0)} AS DOUBLE))
       |        ORDER BY rn) FILTER (WHERE rn <= 10)), (a, b) -> a + b) AS idcg
       |  FROM (SELECT qid, g, row_number()
       |          OVER (PARTITION BY qid ORDER BY g DESC, doc_id ASC) AS rn FROM g)
       |  GROUP BY qid
       |)""".stripMargin

  /** The run-side metric CTE over a named top-k CTE — instantiated once
    * for q278/q280 and twice (run A / run B) for q282. */
  private def rankingMetCte(topk: String, met: String): String =
    s""", $met AS (
       |  SELECT t.qid, count(*) AS n_retrieved,
       |    CAST(sum(CASE WHEN g.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |    min(CASE WHEN g.g IS NOT NULL THEN t.r END) AS first_hit,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(CAST(coalesce(g.g, 0) AS DOUBLE) /
       |        (ln(CAST(t.r + 1 AS DOUBLE)) / CAST(${math.log(2.0)} AS DOUBLE))
       |        ORDER BY t.r)), (a, b) -> a + b) AS dcg
       |  FROM $topk t LEFT JOIN g ON g.qid = t.qid AND g.doc_id = t.doc_id
       |  GROUP BY t.qid
       |), ap_$met AS (
       |  -- average-precision numerator: P@r at each hit, folded in rank
       |  -- order (hit index hi via row_number over the hits alone)
       |  SELECT qid, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list(CAST(hi AS DOUBLE) / CAST(r AS DOUBLE) ORDER BY r)),
       |    (a, b) -> a + b) AS ap_num
       |  FROM (SELECT t.qid, t.r,
       |          row_number() OVER (PARTITION BY t.qid ORDER BY t.r) AS hi
       |        FROM $topk t JOIN g ON g.qid = t.qid AND g.doc_id = t.doc_id)
       |  GROUP BY qid
       |)""".stripMargin

  private lazy val rankingEvalCtes: String = bm25RunCtes("") +
    """, topk AS (
      |  SELECT qid, doc_id, rank AS r FROM rk WHERE rank <= 10
      |)""".stripMargin +
    rankingQrelsIdealCtes + rankingMetCte("topk", "met")

  /** The per-query metric SELECT over a named met CTE. */
  private def rankingPerQuerySel(met: String): String =
    s"""SELECT i.qid, i.n_judged,
       |  coalesce(m.n_retrieved, 0) AS n_retrieved,
       |  coalesce(m.n_hits, 0) AS n_hits,
       |  coalesce(round(1.0 / m.first_hit, 6) + 0.0, 0.0) AS mrr_r,
       |  round(CAST(coalesce(m.n_hits, 0) AS DOUBLE) / CAST(10.0 AS DOUBLE), 6)
       |    + 0.0 AS precision_r,
       |  round(CAST(coalesce(m.n_hits, 0) AS DOUBLE) / i.n_judged, 6) + 0.0 AS recall_r,
       |  round(coalesce(m.dcg, 0.0) / i.idcg, 6) + 0.0 AS ndcg_r,
       |  round(coalesce(ap.ap_num, 0.0) / i.n_judged, 6) + 0.0 AS map_r
       |FROM ideal i LEFT JOIN $met m USING (qid)
       |  LEFT JOIN ap_$met ap USING (qid)""".stripMargin

  /** q278's per-query SELECT (no ORDER BY — q280 wraps it as a CTE). */
  private lazy val rankingEvalPerQuery: String = rankingPerQuerySel("met")

  /** q282: paired A/B of the q84 run against its rank-REVERSED twin —
    * per-query deltas, then the deterministic Poisson query bootstrap
    * (the q126 weight idiom keyed qid:replica) and quantile_cont CI. */
  private lazy val rankingCompareSql: String = bm25RunCtes("") +
    """, topk AS (
      |  SELECT qid, doc_id, rank AS r FROM rk WHERE rank <= 10
      |), topkb AS (
      |  SELECT qid, doc_id, 11 - rank AS r FROM rk WHERE rank <= 10
      |)""".stripMargin +
    rankingQrelsIdealCtes +
    rankingMetCte("topk", "met") + rankingMetCte("topkb", "metb") +
    s""", pa AS (${rankingPerQuerySel("met")})
       |, pb AS (${rankingPerQuerySel("metb")})
       |, longt AS (
       |  SELECT a.qid, 'mrr_r' AS metric, a.mrr_r AS va, b.mrr_r AS vb
       |    FROM pa a JOIN pb b USING (qid)
       |  UNION ALL SELECT a.qid, 'precision_r', a.precision_r, b.precision_r
       |    FROM pa a JOIN pb b USING (qid)
       |  UNION ALL SELECT a.qid, 'recall_r', a.recall_r, b.recall_r
       |    FROM pa a JOIN pb b USING (qid)
       |  UNION ALL SELECT a.qid, 'ndcg_r', a.ndcg_r, b.ndcg_r
       |    FROM pa a JOIN pb b USING (qid)
       |  UNION ALL SELECT a.qid, 'map_r', a.map_r, b.map_r
       |    FROM pa a JOIN pb b USING (qid)
       |), dlt AS (
       |  SELECT qid, metric, va, vb, vb - va AS d FROM longt
       |), mbase AS (
       |  SELECT metric, count(*) AS n_queries,
       |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(va ORDER BY qid)), (x, y) -> x + y) / count(*), 6) + 0.0 AS mean_a_r,
       |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(vb ORDER BY qid)), (x, y) -> x + y) / count(*), 6) + 0.0 AS mean_b_r,
       |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(d ORDER BY qid)), (x, y) -> x + y) / count(*), 6) + 0.0 AS delta_r
       |  FROM dlt GROUP BY metric
       |), wt AS (
       |  SELECT metric, qid, d, b,
       |    CASE WHEN u < 0.36787944117144233 THEN 0
       |         WHEN u < 0.7357588823428847 THEN 1
       |         WHEN u < 0.9196986029286058 THEN 2
       |         WHEN u < 0.9810118431238462 THEN 3
       |         WHEN u < 0.9963401531726563 THEN 4
       |         WHEN u < 0.9994058151824183 THEN 5
       |         WHEN u < 0.9999167588507119 THEN 6
       |         WHEN u < 0.9999909967049427 THEN 7
       |         ELSE 8 END AS w
       |  FROM (
       |    SELECT metric, qid, d, b,
       |      CAST(CAST(('0x' || substr(md5(CAST(qid AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
       |        / 1152921504606846976.0 AS u
       |    FROM dlt, (SELECT unnest(range(0, 200)) AS b))
       |), pr AS (
       |  SELECT metric, b,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(CAST(w AS DOUBLE) * d ORDER BY qid)), (x, y) -> x + y) AS num,
       |    sum(w) AS den
       |  FROM wt GROUP BY metric, b HAVING sum(w) > 0
       |), prm AS (
       |  SELECT metric, num / CAST(den AS DOUBLE) AS m FROM pr
       |), cis AS (
       |  SELECT metric, round(quantile_cont(m, 0.025), 6) + 0.0 AS ci_low_r,
       |    round(quantile_cont(m, 0.975), 6) + 0.0 AS ci_high_r,
       |    count(*) AS replicas
       |  FROM prm GROUP BY metric
       |)
       |SELECT metric, n_queries, mean_a_r, mean_b_r, delta_r,
       |  ci_low_r, ci_high_r, replicas
       |FROM mbase JOIN cis USING (metric) ORDER BY metric""".stripMargin

  /** The q269 chunk-grain BM25 RAG statement — shared verbatim by the
    * persisted chunk-index serving replay q274 (the q248 pattern at
    * chunk grain: same chunker, same postings arithmetic, same
    * provenance mapping, so the served scores are the ad-hoc scores by
    * construction). */
  private lazy val ragChunksSql: String =
    ragChunkRunCtes +
    s"""
       |SELECT qid, rank, cid // 1000 AS doc_id, cid % 1000 AS chunk_idx,
       |  round(score, 6) + 0.0 AS score_r
       |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** The q269 chunk-grain CTE chain alone (`WITH n ... rk`) — reused by
    * the chunk-grain PRF oracle (q292), which appends the q287 harvest
    * + second pass over the chunk run. */
  private lazy val ragChunkRunCtes: String = ragChunkRunCtesWhere("")

  /** The q306 phrase-search derivation (every doc_id % 97 == 1
    * document's first two tokens as the phrase, all-terms prefilter,
    * position-enumerated adjacency) — shared VERBATIM by the
    * positional-index serving replay q309 (served ≡ ad-hoc, the
    * q248/q274 parity discipline). */
  private lazy val phraseSearchOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
       |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
       |  FROM documents
       |), tt AS (
       |  SELECT doc_id, ts FROM toks WHERE len(ts) >= 1
       |), ph AS (
       |  SELECT doc_id AS pid, list_slice(ts, 1, 2) AS pt
       |  FROM toks WHERE doc_id % 97 = 1 AND len(ts) >= 2
       |), pterm AS (
       |  SELECT pid, unnest(list_distinct(pt)) AS term FROM ph
       |), pn AS (SELECT pid, count(*) AS need FROM pterm GROUP BY 1),
       |dterm AS (
       |  SELECT doc_id, unnest(list_distinct(ts)) AS term FROM tt
       |), cand AS (
       |  SELECT c.pid, c.doc_id
       |  FROM (
       |    SELECT pid, doc_id, count(*) AS have
       |    FROM pterm JOIN dterm USING (term) GROUP BY 1, 2) c
       |  JOIN pn USING (pid) WHERE c.have = pn.need
       |), occ AS (
       |  SELECT c.pid, c.doc_id, t.i
       |  FROM cand c
       |  JOIN ph ON ph.pid = c.pid
       |  JOIN tt ON tt.doc_id = c.doc_id,
       |  UNNEST(range(1, len(tt.ts))) t(i)
       |  WHERE list_slice(tt.ts, t.i, t.i + 1) = ph.pt
       |)
       |SELECT pid, doc_id, count(*) AS n_occurrences,
       |  CAST(min(i) AS BIGINT) AS first_pos
       |FROM occ GROUP BY 1, 2 ORDER BY pid, doc_id""".stripMargin

  /** The q307 proximity derivation (the three standard queries, 10-token
    * windows, all-terms prefilter, window-start enumeration) — shared
    * VERBATIM by the positional-index serving replay q310. */
  private lazy val proximitySearchOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
       |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
       |  FROM documents
       |), tt AS (SELECT doc_id, ts FROM toks WHERE len(ts) >= 1),
       |q(qid, qtext) AS (
       |  VALUES (1, 'query hash join'), (2, 'window agg fast'),
       |         (3, 'customer order value part')
       |), qq AS (
       |  SELECT qid, list_distinct(string_split(qtext, ' ')) AS qt FROM q
       |), pterm AS (SELECT qid, unnest(qt) AS term FROM qq),
       |pn AS (SELECT qid, count(*) AS need FROM pterm GROUP BY 1),
       |dterm AS (SELECT doc_id, unnest(list_distinct(ts)) AS term FROM tt),
       |cand AS (
       |  SELECT c.qid, c.doc_id
       |  FROM (
       |    SELECT qid, doc_id, count(*) AS have
       |    FROM pterm JOIN dterm USING (term) GROUP BY 1, 2) c
       |  JOIN pn USING (qid) WHERE c.have = pn.need
       |), occ AS (
       |  SELECT c.qid, c.doc_id, t.i
       |  FROM cand c
       |  JOIN qq ON qq.qid = c.qid
       |  JOIN tt ON tt.doc_id = c.doc_id,
       |  UNNEST(range(1, greatest(len(tt.ts) - 10 + 1, 1) + 1)) t(i)
       |  WHERE list_has_all(list_slice(tt.ts, t.i, t.i + 9), qq.qt)
       |)
       |SELECT qid, doc_id, count(*) AS n_windows,
       |  CAST(min(i) AS BIGINT) AS first_window_pos
       |FROM occ GROUP BY 1, 2 ORDER BY qid, doc_id""".stripMargin

  /** The three-system multileave draft (len / md5 / rev runs, k = 10):
    * the recursion carries per-team counts; each transition aggregates
    * every team's best unpicked candidate, keeps the ELIGIBLE teams at
    * the minimum count (team order — the Spark side's name order), and
    * the md5 coin INDEXES into the tied list (`floor(u · |tied|)`).
    * Shared by q312 (the page) and q313 (its click credit). */
  private lazy val multileaveDraftCtes: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, lang, n_chars, text FROM documents WHERE text IS NOT NULL
      |), a AS (
      |  SELECT lang, doc_id, 'len' AS system, rank FROM (
      |    SELECT lang, doc_id,
      |      row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rank
      |    FROM d) WHERE rank <= 20
      |), b AS (
      |  SELECT lang, doc_id, 'md5' AS system, rank FROM (
      |    SELECT lang, doc_id,
      |      row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rank
      |    FROM d) WHERE rank <= 20
      |), c3 AS (
      |  SELECT lang, doc_id, 'rev' AS system, rank FROM (
      |    SELECT lang, doc_id,
      |      row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank
      |    FROM d) WHERE rank <= 20
      |), u3 AS (
      |  SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c3
      |), msel AS (
      |  SELECT lang, 0 AS step, CAST([] AS BIGINT[]) AS ids,
      |    CAST([] AS VARCHAR[]) AS teams, 0 AS c0, 0 AS c1, 0 AS c2
      |  FROM (SELECT DISTINCT lang FROM u3)
      |  UNION ALL
      |  SELECT p.lang, p.step + 1,
      |    list_append(p.ids, p.pick.d),
      |    list_append(p.teams, ['len', 'md5', 'rev'][p.pick.t + 1]),
      |    p.c0 + CASE WHEN p.pick.t = 0 THEN 1 ELSE 0 END,
      |    p.c1 + CASE WHEN p.pick.t = 1 THEN 1 ELSE 0 END,
      |    p.c2 + CASE WHEN p.pick.t = 2 THEN 1 ELSE 0 END
      |  FROM (
      |    SELECT s2.*,
      |      s2.tied[1 + least(CAST(floor(s2.u01 * len(s2.tied)) AS INT),
      |        len(s2.tied) - 1)] AS pick
      |    FROM (
      |      SELECT s1.*,
      |        list_filter([
      |          struct_pack(c := s1.c0, t := 0, d := s1.pa.d),
      |          struct_pack(c := s1.c1, t := 1, d := s1.pb.d),
      |          struct_pack(c := s1.c2, t := 2, d := s1.pc.d)],
      |          x -> x.d IS NOT NULL AND x.c = s1.mn) AS tied
      |      FROM (
      |        SELECT s0.*, least(
      |          CASE WHEN s0.pa.d IS NOT NULL THEN s0.c0 END,
      |          CASE WHEN s0.pb.d IS NOT NULL THEN s0.c1 END,
      |          CASE WHEN s0.pc.d IS NOT NULL THEN s0.c2 END) AS mn
      |        FROM (
      |          SELECT s.lang, s.step, s.ids, s.teams, s.c0, s.c1, s.c2,
      |            CAST(CAST(('0x' || substr(md5(s.lang || ':' ||
      |              CAST(s.step + 1 AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
      |              / 1152921504606846976.0 AS u01,
      |            min(CASE WHEN c.system = 'len'
      |              THEN struct_pack(r := c.rank, d := c.doc_id) END) AS pa,
      |            min(CASE WHEN c.system = 'md5'
      |              THEN struct_pack(r := c.rank, d := c.doc_id) END) AS pb,
      |            min(CASE WHEN c.system = 'rev'
      |              THEN struct_pack(r := c.rank, d := c.doc_id) END) AS pc
      |          FROM msel s JOIN u3 c
      |            ON c.lang = s.lang AND NOT list_contains(s.ids, c.doc_id)
      |          WHERE s.step < 10
      |          GROUP BY ALL
      |        ) s0
      |      ) s1
      |    ) s2
      |  ) p
      |)""".stripMargin

  /** The q218 two-system run pair (len-order vs md5-order, top-20 per
    * lang) as a reusable chain ending in `u` — shared by the judging
    * pool (q300) and the interleaving draft (q301/q302). */
  private lazy val interleaveRunCtes: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, lang, n_chars, text FROM documents WHERE text IS NOT NULL
      |), a AS (
      |  SELECT lang, doc_id, 'len' AS system, rank FROM (
      |    SELECT lang, doc_id,
      |      row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rank
      |    FROM d) WHERE rank <= 20
      |), b AS (
      |  SELECT lang, doc_id, 'md5' AS system, rank FROM (
      |    SELECT lang, doc_id,
      |      row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rank
      |    FROM d) WHERE rank <= 20
      |), u AS (SELECT * FROM a UNION ALL SELECT * FROM b)""".stripMargin

  /** The team-draft recursion over [[interleaveRunCtes]]'s `u` (k = 10):
    * per lang the state carries (ids, teams, na, nb); each transition
    * aggregates both systems' best unpicked candidate (min over a rank-
    * first struct), resolves the drafting team — counts first, then the
    * md5 coin over (lang, step) in [[graft.ops.Bootstrap.unit]]'s exact
    * formula — and an exhausted list cedes the pick; recursion stops
    * when no candidate remains (the join goes empty). */
  private lazy val interleaveDraftCtes: String =
    interleaveRunCtes +
    """, msel AS (
      |  SELECT lang, 0 AS step, CAST([] AS BIGINT[]) AS ids,
      |    CAST([] AS VARCHAR[]) AS teams, 0 AS na, 0 AS nb
      |  FROM (SELECT DISTINCT lang FROM u)
      |  UNION ALL
      |  SELECT p.lang, p.step + 1,
      |    list_append(p.ids, CASE WHEN p.pick_a THEN p.pa.d ELSE p.pb.d END),
      |    list_append(p.teams, CASE WHEN p.pick_a THEN 'len' ELSE 'md5' END),
      |    p.na + CASE WHEN p.pick_a THEN 1 ELSE 0 END,
      |    p.nb + CASE WHEN p.pick_a THEN 0 ELSE 1 END
      |  FROM (
      |    SELECT s2.*,
      |      (s2.want_a AND s2.pa IS NOT NULL)
      |        OR (NOT s2.want_a AND s2.pb IS NULL AND s2.pa IS NOT NULL)
      |        AS pick_a
      |    FROM (
      |      SELECT s1.*,
      |        (s1.na < s1.nb OR (s1.na = s1.nb AND s1.u01 < 0.5)) AS want_a
      |      FROM (
      |        SELECT s.lang, s.step, s.ids, s.teams, s.na, s.nb,
      |          CAST(CAST(('0x' || substr(md5(s.lang || ':' ||
      |            CAST(s.step + 1 AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
      |            / 1152921504606846976.0 AS u01,
      |          min(CASE WHEN c.system = 'len'
      |            THEN struct_pack(r := c.rank, d := c.doc_id) END) AS pa,
      |          min(CASE WHEN c.system = 'md5'
      |            THEN struct_pack(r := c.rank, d := c.doc_id) END) AS pb
      |        FROM msel s JOIN u c
      |          ON c.lang = s.lang AND NOT list_contains(s.ids, c.doc_id)
      |        WHERE s.step < 10
      |        GROUP BY ALL
      |      ) s1
      |    ) s2
      |  ) p
      |)""".stripMargin

  /** [[ragChunkRunCtes]] over an optionally FILTERED document corpus —
    * the chunk-grain takedown oracle (q299) injects the survivor
    * predicate, pinning post-delete chunk search ≡ rebuild from the
    * surviving documents' chunks (the q256 discipline at chunk grain,
    * exact because the remove's df subtraction IS the rebuild). */
  private def ragChunkRunCtesWhere(corpusWhere: String): String =
    s"""WITH n AS (
       |  SELECT doc_id, text,
       |    CASE WHEN len(text) <= 200 THEN 1
       |         ELSE CAST(ceil(CAST(len(text) - 200 AS DOUBLE) / 150.0) AS BIGINT) + 1 END AS nc
       |  FROM documents WHERE text IS NOT NULL$corpusWhere
       |), ech AS (
       |  SELECT doc_id, text, unnest(range(0, nc)) AS chunk_idx FROM n
       |), ch AS (
       |  SELECT doc_id * 1000 + chunk_idx AS cid,
       |    substr(text, CAST(chunk_idx * 150 + 1 AS BIGINT), 200) AS chunk
       |  FROM ech
       |), toks AS (
       |  SELECT cid,
       |    CASE WHEN len(regexp_replace(chunk, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
       |         ELSE string_split_regex(regexp_replace(chunk, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
       |  FROM ch
       |), dl AS (
       |  SELECT cid, len(ts) AS dl, ts FROM toks
       |), posting AS (
       |  SELECT cid, dl, unnest(ts) AS term FROM dl
       |), tf AS (
       |  SELECT cid, dl, term, count(*) AS tf FROM posting GROUP BY 1, 2, 3
       |), consts AS (
       |  SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
       |), q(qid, term) AS (
       |  VALUES (1, 'query'), (1, 'hash'), (1, 'join'),
       |         (2, 'window'), (2, 'agg'), (2, 'fast'),
       |         (3, 'customer'), (3, 'order'), (3, 'value'), (3, 'part')
       |), m AS (
       |  SELECT tf.cid, tf.dl, tf.term, tf.tf
       |  FROM tf JOIN (SELECT DISTINCT term FROM q) qt USING (term)
       |), dfq AS (
       |  SELECT term, count(*) AS df FROM m GROUP BY term
       |), contrib AS (
       |  SELECT m.cid, m.term,
       |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
       |      ((tf * ${1.2 + 1.0}) / (tf + ${1.2} * (${1.0 - 0.75} + ${0.75} * dl / avgdl))) AS c
       |  FROM m JOIN dfq USING (term) CROSS JOIN consts
       |), sc AS (
       |  SELECT qid, cid,
       |    list_reduce(list_prepend(0.0, list(c ORDER BY term)), (a, b) -> a + b) AS score
       |  FROM contrib JOIN q USING (term) GROUP BY 1, 2
       |), rk AS (
       |  SELECT qid, cid, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
       |  FROM sc
       |)""".stripMargin

  /** q292: the q287 pseudo-relevance-feedback chain at CHUNK grain —
    * the q269 run (`rk`) harvests each query's top-5 chunk page for its
    * 3 most frequent new >=3-char terms, the widened vocabulary
    * re-scores through the identical chunk-grain CTE shapes, and the
    * surrogate cid maps back to (doc_id, chunk_idx) provenance. */
  private lazy val ragChunksPrfSql: String = ragChunkRunCtes +
    s""", fbdoc AS (
       |  SELECT qid, cid FROM rk WHERE rank <= 5
       |), cand AS (
       |  SELECT f.qid, p.term, CAST(count(*) AS BIGINT) AS cnt
       |  FROM fbdoc f JOIN posting p USING (cid)
       |  WHERE len(p.term) >= 3
       |  GROUP BY 1, 2
       |), newcand AS (
       |  SELECT c.qid, c.term, c.cnt FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM q WHERE q.qid = c.qid AND q.term = c.term)
       |), exp_ AS (
       |  SELECT qid, term FROM newcand
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, term ASC) <= 3
       |), q2 AS MATERIALIZED (
       |  SELECT qid, term FROM q UNION ALL SELECT qid, term FROM exp_
       |), m2 AS (
       |  SELECT tf.cid, tf.dl, tf.term, tf.tf
       |  FROM tf JOIN (SELECT DISTINCT term FROM q2) qt USING (term)
       |), dfq2 AS (
       |  SELECT term, count(*) AS df FROM m2 GROUP BY term
       |), contrib2 AS (
       |  SELECT m2.cid, m2.term,
       |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
       |      ((tf * ${1.2 + 1.0}) / (tf + ${1.2} * (${1.0 - 0.75} + ${0.75} * dl / avgdl))) AS c
       |  FROM m2 JOIN dfq2 USING (term) CROSS JOIN consts
       |), sc2 AS (
       |  SELECT qid, cid,
       |    list_reduce(list_prepend(0.0, list(c ORDER BY term)), (a, b) -> a + b) AS score
       |  FROM contrib2 JOIN q2 USING (term) GROUP BY 1, 2
       |), rk2 AS (
       |  SELECT qid, cid, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
       |  FROM sc2
       |)
       |SELECT qid, rank, cid // 1000 AS doc_id, cid % 1000 AS chunk_idx,
       |  round(score, 6) + 0.0 AS score_r
       |FROM rk2 WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** The q84 BM25 derivation over an optionally FILTERED corpus — the
    * takedown oracle (q256) injects the survivor predicate and thereby
    * pins post-delete search ≡ rebuild-without-the-docs. */
  private def bm25OracleSqlFor(corpusWhere: String): String =
    s"""${bm25RunCtes(corpusWhere)}
       |SELECT qid, rank, doc_id, round(score, 6) + 0.0 AS score_r
       |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** The q84 CTE chain alone (`WITH toks ... rk`) — reused by the
    * ranking-evaluation oracle (q278), which appends its own qrels and
    * metric CTEs over the `rk` run. */
  private[queries] def bm25RunCtes(corpusWhere: String): String =
    s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents$corpusWhere
         |), dl AS (
         |  SELECT doc_id, len(ts) AS dl, ts FROM toks
         |), posting AS (
         |  SELECT doc_id, dl, unnest(ts) AS term FROM dl
         |), tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf FROM posting GROUP BY 1, 2, 3
         |), consts AS (
         |  SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
         |), q(qid, term) AS (
         |  VALUES (1, 'query'), (1, 'hash'), (1, 'join'),
         |         (2, 'window'), (2, 'agg'), (2, 'fast'),
         |         (3, 'customer'), (3, 'order'), (3, 'value'), (3, 'part')
         |), m AS (
         |  SELECT tf.doc_id, tf.dl, tf.term, tf.tf
         |  FROM tf JOIN (SELECT DISTINCT term FROM q) qt USING (term)
         |), dfq AS (
         |  SELECT term, count(*) AS df FROM m GROUP BY term
         |), contrib AS (
         |  SELECT m.doc_id, m.term,
         |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
         |      ((tf * ${1.2 + 1.0}) / (tf + ${1.2} * (${1.0 - 0.75} + ${0.75} * dl / avgdl))) AS c
         |  FROM m JOIN dfq USING (term) CROSS JOIN consts
         |), sc AS (
         |  SELECT qid, doc_id,
         |    list_reduce(list_prepend(0.0, list(c ORDER BY term)), (a, b) -> a + b) AS score
         |  FROM contrib JOIN q USING (term) GROUP BY 1, 2
         |), rk AS (
         |  SELECT qid, doc_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM sc
         |)""".stripMargin

  /** q287: the q84 run (pass one, `rk`) harvests each query's top-5
    * page for its 3 most frequent NEW >=3-char terms, then the widened
    * vocabulary re-scores through the identical BM25 CTE shapes
    * (m2/dfq2/contrib2/sc2 mirror m/dfq/contrib/sc). */
  private lazy val bm25PrfSql: String = bm25RunCtes("") +
    s""", fbdoc AS (
       |  SELECT qid, doc_id FROM rk WHERE rank <= 5
       |), cand AS (
       |  SELECT f.qid, p.term, CAST(count(*) AS BIGINT) AS cnt
       |  FROM fbdoc f JOIN posting p USING (doc_id)
       |  WHERE len(p.term) >= 3
       |  GROUP BY 1, 2
       |), newcand AS (
       |  SELECT c.qid, c.term, c.cnt FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM q WHERE q.qid = c.qid AND q.term = c.term)
       |), exp_ AS (
       |  SELECT qid, term FROM newcand
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, term ASC) <= 3
       |), q2 AS MATERIALIZED (
       |  SELECT qid, term FROM q UNION ALL SELECT qid, term FROM exp_
       |), m2 AS (
       |  SELECT tf.doc_id, tf.dl, tf.term, tf.tf
       |  FROM tf JOIN (SELECT DISTINCT term FROM q2) qt USING (term)
       |), dfq2 AS (
       |  SELECT term, count(*) AS df FROM m2 GROUP BY term
       |), contrib2 AS (
       |  SELECT m2.doc_id, m2.term,
       |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
       |      ((tf * ${1.2 + 1.0}) / (tf + ${1.2} * (${1.0 - 0.75} + ${0.75} * dl / avgdl))) AS c
       |  FROM m2 JOIN dfq2 USING (term) CROSS JOIN consts
       |), sc2 AS (
       |  SELECT qid, doc_id,
       |    list_reduce(list_prepend(0.0, list(c ORDER BY term)), (a, b) -> a + b) AS score
       |  FROM contrib2 JOIN q2 USING (term) GROUP BY 1, 2
       |), rk2 AS (
       |  SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
       |  FROM sc2
       |)
       |SELECT qid, rank, doc_id, round(score, 6) + 0.0 AS score_r
       |FROM rk2 WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** q235's full entity-canonicalization derivation — shared verbatim
    * by the incremental-loop replay q252 (increment == rebuild). */
  private lazy val entityKeepersOracleSql: String =
    s"""WITH ${ccFloodCtes(40)},
         |comp AS (SELECT node, label AS component FROM l40),
         |scored AS (
         |  SELECT comp.node, comp.component, cu.c_acctbal
         |  FROM comp JOIN customer cu ON cu.c_custkey = comp.node
         |), best AS (
         |  SELECT component, node AS keeper_id FROM scored
         |  QUALIFY row_number() OVER (
         |    PARTITION BY component ORDER BY c_acctbal DESC, node) = 1
         |), matched AS (
         |  SELECT s.node, s.component, b.keeper_id
         |  FROM scored s JOIN best b USING (component)
         |), singles AS (
         |  SELECT c_custkey AS node, c_custkey AS component, c_custkey AS keeper_id
         |  FROM customer
         |  WHERE c_custkey NOT IN (SELECT node FROM comp)
         |)
         |SELECT node, component, keeper_id FROM matched
         |UNION ALL SELECT node, component, keeper_id FROM singles
         |ORDER BY node""".stripMargin

  /** The q71 cleaning chain as CTEs: exact dedup keeps the min id per
    * canonical md5 (`exact`), poly-minhash near-dup losers at est
    * Jaccard >= `nearDupThreshold` drop (`surv`, with text), and `scored`
    * carries each survivor's quality `qscore` — shared by the cleanCorpus
    * (q57/q66/q71/q103) and prepareTrainingCorpus (q39/q104/q167)
    * oracles. */
  private def cleanChainCtes(nearDupThreshold: Double): String =
    s"""canon0 AS (
       |  SELECT doc_id, lang, source, n_chars, text,
       |    trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS ccanon
       |  FROM documents
       |), exact AS (
       |  SELECT * FROM canon0
       |  WHERE doc_id IN (SELECT MIN(doc_id) FROM canon0 GROUP BY md5(ccanon))
       |), ${polyShingleSigCte("exact")}, ${polyPairsCte(nearDupThreshold)}, losers AS (
       |  SELECT DISTINCT id_b FROM pairs0
       |), surv AS (
       |  SELECT * FROM exact WHERE doc_id NOT IN (SELECT id_b FROM losers)
       |), ${qualityCte("surv", "lang, source, n_chars")}""".stripMargin

  /** cleanCorpus output at `minQuality = 30` (q57, q71). */
  private def cleanSql(nearDupThreshold: Double): String =
    s"""WITH ${cleanChainCtes(nearDupThreshold)}
       |SELECT doc_id, lang, source, n_chars FROM scored
       |WHERE qscore >= 30.0 ORDER BY doc_id""".stripMargin

  /** cleanCorpus funnel counts at `minQuality = 30` (q66, q103). */
  private def funnelSql(nearDupThreshold: Double): String =
    s"""WITH ${cleanChainCtes(nearDupThreshold)}
       |SELECT
       |  (SELECT count(*) FROM documents) AS n_input,
       |  (SELECT count(*) FROM exact) AS n_exact,
       |  (SELECT count(*) FROM surv) AS n_near,
       |  (SELECT count(*) FROM scored WHERE qscore >= 30.0) AS n_quality,
       |  (SELECT count(*) FROM scored WHERE qscore >= 30.0) AS n_output""".stripMargin

  /** prepareTrainingCorpus's enrichment of the `src` rows (doc_id, lang,
    * source, n_chars, text) as CTEs ending in `enr`: token count,
    * stop-word language id, canonical fingerprint and the default-salt
    * split. */
  private def enrichCtes(src: String): String =
    s"""hits AS (
       |  SELECT *,
       |    len(list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+'), x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS c_en,
       |    len(list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+'), x -> x IN ('el','la','de','que','y','en','los','se','del','las'))) AS c_es,
       |    len(list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+'), x -> x IN ('le','la','les','de','et','des','un','une','du','est'))) AS c_fr,
       |    len(list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+'), x -> x IN ('der','die','das','und','von','zu','den','mit','ist','im'))) AS c_de
       |  FROM $src
       |), enr0 AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN 0
       |         ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) END AS n_tokens,
       |    CASE
       |      WHEN c_en = GREATEST(c_en, c_es, c_fr, c_de) AND c_en > 0 THEN 'en'
       |      WHEN c_es = GREATEST(c_en, c_es, c_fr, c_de) AND c_es > 0 THEN 'es'
       |      WHEN c_fr = GREATEST(c_en, c_es, c_fr, c_de) AND c_fr > 0 THEN 'fr'
       |      WHEN c_de = GREATEST(c_en, c_es, c_fr, c_de) AND c_de > 0 THEN 'de'
       |      ELSE 'und' END AS lang_id,
       |    md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
       |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
       |  FROM hits
       |), enr AS (
       |  SELECT *,
       |    CASE WHEN uh < 0.875 THEN 'train'
       |         WHEN uh < 0.9375 THEN 'val'
       |         WHEN uh < 1.0 THEN 'test'
       |         ELSE NULL END AS split
       |  FROM enr0
       |)""".stripMargin

  /** prepareTrainingCorpus output columns `cols` at `minQuality = 30`
    * (q39, q104). */
  private def prepareSql(nearDupThreshold: Double, cols: String): String =
    s"""WITH ${cleanChainCtes(nearDupThreshold)}, final0 AS (
       |  SELECT s.doc_id, s.lang, s.source, s.n_chars, v.text
       |  FROM scored s JOIN surv v USING (doc_id)
       |  WHERE s.qscore >= 30.0
       |), ${enrichCtes("final0")}
       |SELECT $cols FROM enr ORDER BY doc_id""".stripMargin

  /** The pair pipeline on doc_id < 1000 at `threshold` (q47, q67): sig +
    * band CTEs, the bucketed candidate self-join and the
    * position-agreement Jaccard estimate (an exact n/16 rational in both
    * engines). */
  private def polyPairsSql(threshold: Double): String =
    s"""WITH ${polyShingleSigCte("documents WHERE doc_id < 1000")}, ${polyPairsCte(threshold)}
       |SELECT id_a, id_b, est_jaccard FROM pairs0
       |ORDER BY id_a, id_b""".stripMargin

  /** md5-hex SimHash bands of `srcRel`'s (doc_id, text) rows (q43, q65):
    * bit i lives in hex digit i//4 at weight 2^(i%4); per-bit +-1 vote
    * sums, sign -> 4 x 16-bit band keys; no tokens -> zero bands. */
  private def polySimhashSql(srcRel: String): String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CASE WHEN len(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
       |         ELSE string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS toks
       |  FROM $srcRel
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS t FROM base WHERE len(toks) > 0
       |), votes AS (
       |  SELECT doc_id, b.i AS bit,
       |    SUM(CASE WHEN (CAST(('0x' || substr(md5(t), CAST(b.i // 4 AS INT) + 1, 1)) AS INT)
       |      // (CASE WHEN b.i % 4 = 0 THEN 1 WHEN b.i % 4 = 1 THEN 2 WHEN b.i % 4 = 2 THEN 4 ELSE 8 END)) % 2 = 1
       |      THEN 1 ELSE -1 END) AS vote
       |  FROM tok, range(64) AS b(i)
       |  GROUP BY doc_id, b.i
       |), bands AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN vote > 0 AND bit < 16 THEN (1 << CAST(bit AS INT)) ELSE 0 END) AS INTEGER) AS band0,
       |    CAST(SUM(CASE WHEN vote > 0 AND bit >= 16 AND bit < 32 THEN (1 << CAST(bit - 16 AS INT)) ELSE 0 END) AS INTEGER) AS band1,
       |    CAST(SUM(CASE WHEN vote > 0 AND bit >= 32 AND bit < 48 THEN (1 << CAST(bit - 32 AS INT)) ELSE 0 END) AS INTEGER) AS band2,
       |    CAST(SUM(CASE WHEN vote > 0 AND bit >= 48 THEN (1 << CAST(bit - 48 AS INT)) ELSE 0 END) AS INTEGER) AS band3
       |  FROM votes GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  COALESCE(band0, 0) AS band0, COALESCE(band1, 0) AS band1,
       |  COALESCE(band2, 0) AS band2, COALESCE(band3, 0) AS band3
       |FROM (SELECT doc_id FROM $srcRel) d
       |LEFT JOIN bands USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  protected lazy val staticOracleSql: Map[String, String] = Map(
    // bottom-64 uniform sample (md5 unit hash, ties to smaller id) then
    // quantile_cont == Spark exact percentile (q93-pinned parity)
    "q136_sampled_quantiles" ->
      """WITH h AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-sq'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |), r AS (
        |  SELECT lang, n_chars, row_number() OVER (PARTITION BY lang ORDER BY uh, doc_id) AS rn
        |  FROM h
        |)
        |SELECT lang,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.9) AS p90
        |FROM r WHERE rn <= 64 GROUP BY lang ORDER BY lang""".stripMargin,

    // exclusive running-total admission in (uh, id) order; HUGEINT sum
    // cast back to BIGINT to match the engine's long
    "q137_token_budget" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-tb'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0
        |), r AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY uh, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before,
        |    row_number() OVER (PARTITION BY source ORDER BY uh, doc_id) AS budget_rank
        |  FROM h
        |)
        |SELECT doc_id, source, n_chars, tokens_before, budget_rank
        |FROM r WHERE tokens_before < 3000
        |ORDER BY source, budget_rank""".stripMargin,

    // interpolated trigram LM: ML ratios from three n-gram streams,
    // λ-blend in the engine's operand order, ln, sorted distinct-trigram
    // fold (prepend-0.0 == aggregate's lit(0.0) seed)
    "q148_trigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ts
        |  FROM documents
        |), tri AS (
        |  SELECT doc_id, ts[i+1] AS w1, ts[i+2] AS w2, ts[i+3] AS w3
        |  FROM toks, unnest(range(len(ts)-2)) AS u(i) WHERE len(ts) >= 3
        |), dtc AS (
        |  SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS tc
        |  FROM tri GROUP BY doc_id, w1, w2, w3
        |), c3 AS (
        |  SELECT w1, w2, w3, CAST(sum(tc) AS BIGINT) AS c3 FROM dtc GROUP BY w1, w2, w3
        |), x3 AS (
        |  SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS x3 FROM c3 GROUP BY w1, w2
        |), bi AS (
        |  SELECT ts[i+1] AS wa, ts[i+2] AS wb
        |  FROM toks, unnest(range(len(ts)-1)) AS u(i) WHERE len(ts) >= 2
        |), c2 AS (
        |  SELECT wa, wb, CAST(count(*) AS BIGINT) AS c2 FROM bi GROUP BY wa, wb
        |), x2 AS (
        |  SELECT wa, CAST(sum(c2) AS BIGINT) AS x2 FROM c2 GROUP BY wa
        |), uni AS (
        |  SELECT unnest(ts) AS w FROM toks
        |), c1 AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w
        |), n1 AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM c1
        |), sc AS (
        |  SELECT dtc.doc_id, dtc.tc,
        |    concat_ws(' ', dtc.w1, dtc.w2, dtc.w3) AS g,
        |    0.7 * COALESCE(CAST(c3.c3 AS DOUBLE) / x3.x3, 0.0)
        |      + 0.2 * COALESCE(CAST(c2.c2 AS DOUBLE) / x2.x2, 0.0)
        |      + 0.1 * (CAST(c1.c1 AS DOUBLE) / (SELECT n1 FROM n1)) AS phat
        |  FROM dtc
        |  JOIN c1 ON c1.w = dtc.w3
        |  LEFT JOIN c3 ON c3.w1 = dtc.w1 AND c3.w2 = dtc.w2 AND c3.w3 = dtc.w3
        |  LEFT JOIN x3 ON x3.w1 = dtc.w1 AND x3.w2 = dtc.w2
        |  LEFT JOIN c2 ON c2.wa = dtc.w2 AND c2.wb = dtc.w3
        |  LEFT JOIN x2 ON x2.wa = dtc.w2
        |), ag AS (
        |  SELECT doc_id, CAST(sum(tc) AS BIGINT) AS n_trigrams,
        |    list_reduce(list_prepend(0.0, list(tc * ln(phat) ORDER BY g)), (a, b) -> a + b) AS lp
        |  FROM sc GROUP BY doc_id
        |)
        |SELECT d.doc_id, ag.n_trigrams,
        |  round(ag.lp / ag.n_trigrams, 6) + 0.0 AS avg_logp_r,
        |  round(exp(-(ag.lp / ag.n_trigrams)), 6) + 0.0 AS perp_r
        |FROM documents d LEFT JOIN ag USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // average-hash replay: cell luminance from the synthetic pixel
    // formula, division-free mean comparison, bit shifts assemble halves
    "q152_image_ahash" ->
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
        |), cells AS (
        |  SELECT doc_id, i,
        |    ((doc_id*31 + (((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 3) % 256)
        |    + ((doc_id*31 + (((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 3 + 1) % 256)
        |    + ((doc_id*31 + (((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 3 + 2) % 256) AS lum
        |  FROM d, unnest(range(64)) AS u(i)
        |), t AS (
        |  SELECT doc_id, CAST(sum(lum) AS BIGINT) AS tot FROM cells GROUP BY doc_id
        |)
        |SELECT c.doc_id,
        |  CAST(sum(CASE WHEN i >= 32 AND c.lum * 64 > t.tot
        |        THEN (CAST(1 AS BIGINT) << CAST(i - 32 AS INT)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(sum(CASE WHEN i < 32 AND c.lum * 64 > t.tot
        |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM cells c JOIN t USING (doc_id)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // near-dup audit: the q67 pair chain + exact list_intersect Jaccard
    // over the same canonical shingle lists the signatures hash
    "q168_near_dup_audit" -> {
      s"""WITH ${polyShingleSigCte("(SELECT doc_id, text FROM documents WHERE doc_id < 1000)")},
         |${polyPairsCte(0.5)}, sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(canon) < 5 THEN [canon]
         |         ELSE list_distinct(list_transform(range(0, len(canon) - 4),
         |                i -> substr(canon, CAST(i + 1 AS INT), 5))) END AS ss
         |  FROM c0
         |), ex AS (
         |  SELECT p.id_a, p.id_b, p.est_jaccard,
         |    CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
         |      / CAST(len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) AS DOUBLE) AS exact_j
         |  FROM pairs0 p
         |  JOIN sh a ON a.doc_id = p.id_a
         |  JOIN sh b ON b.doc_id = p.id_b
         |)
         |SELECT id_a, id_b, est_jaccard,
         |  round(exact_j, 6) + 0.0 AS exact_jaccard_r,
         |  round(abs(est_jaccard - exact_j), 6) + 0.0 AS abs_err_r
         |FROM ex ORDER BY id_a, id_b""".stripMargin
    },

    // packed chunks: q146's shard/shuffle/prefix-sum conventions (salt
    // 'graft-pack2', whitespace tokens, budget 64) + per-chunk
    // string_agg in global-position order
    "q172_packed_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ts
        |  FROM documents
        |), lens AS (
        |  SELECT doc_id, len(ts) AS n, ts FROM toks
        |), hx AS (
        |  SELECT doc_id, n, ts, md5(CAST(doc_id AS VARCHAR) || 'graft-pack2') AS hex
        |  FROM lens
        |), sp AS (
        |  SELECT doc_id, n, ts,
        |    CAST(CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY CAST(CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8 AS INT)
        |      ORDER BY hex, doc_id) AS BIGINT) AS shuffle_pos
        |  FROM hx
        |), o AS (
        |  SELECT doc_id, shard, ts,
        |    CAST(SUM(n) OVER (PARTITION BY shard ORDER BY shuffle_pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS "offset"
        |  FROM sp
        |), tokpos AS (
        |  SELECT shard, "offset" + u.i AS gpos, ts[CAST(u.i + 1 AS INT)] AS tok
        |  FROM o, unnest(range(len(ts))) AS u(i)
        |)
        |SELECT shard, gpos // 64 AS chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  string_agg(tok, ' ' ORDER BY gpos) AS chunk_text
        |FROM tokpos GROUP BY shard, gpos // 64
        |ORDER BY shard, chunk_id""".stripMargin,

    // surrogate-id chain: the dense sorted-rank surrogate is internal,
    // so the oracle works purely in key space — min-uid keeper per
    // canonical class, top-3 per source by n_chars with uid-asc tiebreak
    "q177_surrogate_id_chain" ->
      """WITH u AS (
        |  SELECT md5(CAST(doc_id AS VARCHAR) || 'u') AS uid, text, source, n_chars
        |  FROM documents
        |), keep AS (
        |  SELECT uid, source, n_chars,
        |    row_number() OVER (
        |      PARTITION BY md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))))
        |      ORDER BY uid) AS rn
        |  FROM u
        |), dd AS (
        |  SELECT uid, source, n_chars FROM keep WHERE rn = 1
        |), tk AS (
        |  SELECT source, uid, n_chars,
        |    row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY CAST(n_chars AS DOUBLE) DESC, uid ASC) AS rank
        |  FROM dd WHERE n_chars IS NOT NULL
        |)
        |SELECT source, CAST(rank AS BIGINT) AS rank, uid, CAST(n_chars AS BIGINT) AS n_chars
        |FROM tk WHERE rank <= 3
        |ORDER BY source, rank""".stripMargin,

    // KMV overlap matrix: per-source bottom-64 of distinct 3-gram md5
    // hashes, pairwise list merges, the (k-1)/u_k estimator per side
    "q176_kmv_overlap_matrix" -> {
      val est = (sk: String) =>
        s"CASE WHEN len($sk) < 64 THEN CAST(len($sk) AS DOUBLE) ELSE 63.0 * 1152921504606846976.0 / CAST($sk[64] AS DOUBLE) END"
      s"""WITH base AS (
         |  SELECT source,
         |    CASE WHEN len(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS toks
         |  FROM documents
         |), tri AS (
         |  SELECT source, unnest(list_transform(
         |    range(0, GREATEST(len(toks) - 3, 0) + 1),
         |    i -> array_to_string(toks[i + 1 : i + 3], ' '))) AS gram
         |  FROM base WHERE len(toks) > 0
         |), h AS (
         |  SELECT DISTINCT source, CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS u
         |  FROM tri
         |), rk AS (
         |  SELECT source, u, row_number() OVER (PARTITION BY source ORDER BY u) AS rn FROM h
         |), sk AS (
         |  SELECT source, list(u ORDER BY u) AS s FROM rk WHERE rn <= 64 GROUP BY source
         |), pr AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    a.s AS ska, b.s AS skb,
         |    list_sort(list_distinct(a.s || b.s))[1:64] AS sku
         |  FROM sk a JOIN sk b ON a.source < b.source
         |), e AS (
         |  SELECT source_a, source_b,
         |    ${est("ska")} AS ea, ${est("skb")} AS eb, ${est("sku")} AS eu
         |  FROM pr
         |)
         |SELECT source_a, source_b,
         |  round(ea, 6) + 0.0 AS est_a, round(eb, 6) + 0.0 AS est_b,
         |  round(eu, 6) + 0.0 AS est_union,
         |  round(GREATEST(ea + eb - eu, 0.0), 6) + 0.0 AS est_intersection,
         |  round(CASE WHEN eu > 0.0 THEN GREATEST(ea + eb - eu, 0.0) / eu ELSE 0.0 END, 6) + 0.0 AS est_jaccard_r
         |FROM e ORDER BY source_a, source_b""".stripMargin
    },

    // cross-source dup matrix: distinct (canonical md5, source) pairs
    // self-joined per class, counted per unordered source pair
    "q175_cross_source_dups" ->
      """WITH aug AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'mirror-' || source, text
        |  FROM documents WHERE doc_id < 50
        |), ds AS (
        |  SELECT DISTINCT md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS fp, source
        |  FROM aug WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_classes
        |FROM ds a JOIN ds b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY source_a, source_b""".stripMargin,

    // chunk provenance: the q172 offset chain + per-chunk span clamps in
    // pure integer arithmetic
    "q173_chunk_provenance" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
        |         ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n
        |  FROM documents
        |), hx AS (
        |  SELECT doc_id, n, md5(CAST(doc_id AS VARCHAR) || 'graft-pack2') AS hex
        |  FROM toks
        |), sp AS (
        |  SELECT doc_id, n,
        |    CAST(CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY CAST(CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8 AS INT)
        |      ORDER BY hex, doc_id) AS BIGINT) AS shuffle_pos
        |  FROM hx
        |), o AS (
        |  SELECT doc_id, shard, n,
        |    CAST(SUM(n) OVER (PARTITION BY shard ORDER BY shuffle_pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS "offset"
        |  FROM sp WHERE n > 0
        |), spans AS (
        |  SELECT shard, doc_id, "offset", n, u.c AS chunk_id, u.c * 64 AS cstart
        |  FROM o, unnest(range("offset" // 64, ("offset" + n - 1) // 64 + 1)) AS u(c)
        |)
        |SELECT shard, chunk_id, doc_id,
        |  GREATEST("offset", cstart) - cstart AS chunk_start,
        |  LEAST("offset" + n, cstart + 64) - GREATEST("offset", cstart) AS n_from_doc
        |FROM spans ORDER BY shard, chunk_id, doc_id""".stripMargin,

    // epoch repeats: copy explode + the same md5 unit-hash gate on the
    // fractional copy, every branch of the CASE factor replayed
    "q171_epoch_repeats" ->
      """WITH c AS (
        |  SELECT doc_id, source, n_chars, i AS epoch_copy,
        |    CASE WHEN source = 'src0' THEN 2.5
        |         WHEN source = 'src1' THEN 0.25 ELSE 1.0 END AS f
        |  FROM documents, unnest(range(3)) AS u(i)
        |)
        |SELECT doc_id, source, n_chars, epoch_copy FROM c
        |WHERE epoch_copy < floor(f) OR (epoch_copy = floor(f)
        |  AND CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch_copy AS VARCHAR) || 'graft-er'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < f - floor(f))
        |ORDER BY doc_id, epoch_copy""".stripMargin,

    // audit summary: q168's chain reduced to the one-row verdict; MAE
    // folds errors in pair-key order (id_a*1e9 + id_b)
    "q169_near_dup_audit_summary" -> {
      s"""WITH ${polyShingleSigCte("(SELECT doc_id, text FROM documents WHERE doc_id < 1000)")},
         |${polyPairsCte(0.5)}, sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(canon) < 5 THEN [canon]
         |         ELSE list_distinct(list_transform(range(0, len(canon) - 4),
         |                i -> substr(canon, CAST(i + 1 AS INT), 5))) END AS ss
         |  FROM c0
         |), ex AS (
         |  SELECT p.id_a, p.id_b, p.est_jaccard,
         |    CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
         |      / CAST(len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) AS DOUBLE) AS exact_j
         |  FROM pairs0 p
         |  JOIN sh a ON a.doc_id = p.id_a
         |  JOIN sh b ON b.doc_id = p.id_b
         |), exr AS (
         |  SELECT id_a * 1000000000 + id_b AS pk,
         |    round(exact_j, 6) + 0.0 AS exact_jaccard_r,
         |    round(abs(est_jaccard - exact_j), 6) + 0.0 AS abs_err_r
         |  FROM ex
         |)
         |SELECT count(*) AS n_pairs,
         |  count(CASE WHEN exact_jaccard_r >= 0.5 THEN 1 END) AS n_true,
         |  round(count(CASE WHEN exact_jaccard_r >= 0.5 THEN 1 END) / count(*), 6) + 0.0 AS precision_r,
         |  round(list_reduce(list_prepend(0.0, list(abs_err_r ORDER BY pk)), (a, x) -> a + x)
         |    / count(*), 9) + 0.0 AS mae_r,
         |  max(abs_err_r) AS max_err_r
         |FROM exr""".stripMargin
    },

    // per-source datasheet: volume integers, distinct canonical classes,
    // the two-level quality fold, majority lang (count desc, lang desc)
    "q166_corpus_datasheet" -> {
      def stopHits(words: Seq[String]) =
        s"len(list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+'), x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"
      val en = stopHits(Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"))
      val es = stopHits(Seq("el", "la", "de", "que", "y", "en", "los", "se", "del", "las"))
      val fr = stopHits(Seq("le", "la", "les", "de", "et", "des", "un", "une", "du", "est"))
      val de = stopHits(Seq("der", "die", "das", "und", "von", "zu", "den", "mit", "ist", "im"))
      s"""WITH base AS (
         |  SELECT source, doc_id, text FROM documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), ${qualityCte("base", "source")}, vol AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN 0
         |         ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) END) AS BIGINT) AS n_tokens,
         |    CAST(sum(len(text)) AS BIGINT) AS n_chars
         |  FROM base GROUP BY source
         |), cls AS (
         |  SELECT source,
         |    count(DISTINCT md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))))) AS n_exact_classes
         |  FROM base GROUP BY source
         |), q1 AS (
         |  SELECT s.source,
         |    CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS b,
         |    list_reduce(list_prepend(0.0, list(s.qscore ORDER BY s.doc_id)), (a, x) -> a + x) AS p,
         |    count(*) AS n
         |  FROM scored s GROUP BY s.source, b
         |), qm AS (
         |  SELECT source,
         |    round(list_reduce(list_prepend(0.0, list(p ORDER BY b)), (a, x) -> a + x)
         |      / CAST(sum(n) AS BIGINT), 9) + 0.0 AS mean_quality_r
         |  FROM q1 GROUP BY source
         |), lid AS (
         |  SELECT source, doc_id,
         |    $en AS c_en, $es AS c_es, $fr AS c_fr, $de AS c_de
         |  FROM base
         |), lv AS (
         |  SELECT source, CASE
         |    WHEN c_en = GREATEST(c_en, c_es, c_fr, c_de) AND c_en > 0 THEN 'en'
         |    WHEN c_es = GREATEST(c_en, c_es, c_fr, c_de) AND c_es > 0 THEN 'es'
         |    WHEN c_fr = GREATEST(c_en, c_es, c_fr, c_de) AND c_fr > 0 THEN 'fr'
         |    WHEN c_de = GREATEST(c_en, c_es, c_fr, c_de) AND c_de > 0 THEN 'de'
         |    ELSE 'und' END AS lang
         |  FROM lid
         |), lc AS (
         |  SELECT source, lang, count(*) AS c FROM lv GROUP BY source, lang
         |), lt AS (
         |  SELECT source, lang AS top_lang FROM (
         |    SELECT source, lang, row_number() OVER (PARTITION BY source ORDER BY c DESC, lang DESC) AS rn
         |    FROM lc
         |  ) WHERE rn = 1
         |)
         |SELECT vol.source, vol.n_docs, vol.n_tokens, vol.n_chars, cls.n_exact_classes,
         |  round(1.0 - cls.n_exact_classes / vol.n_docs, 6) + 0.0 AS dup_rate_r,
         |  qm.mean_quality_r, lt.top_lang
         |FROM vol JOIN cls USING (source) JOIN qm USING (source) JOIN lt USING (source)
         |ORDER BY vol.source""".stripMargin
    },

    // full 4-iteration portable-logreg RE-TRAINING in DuckDB: token
    // bucket counts once, then per iteration the j-ordered margin fold,
    // the rational sigmoid residual, and the two-level doc-sorted
    // gradient fold — every step the engine's exact arithmetic order
    "q165_classifier_train" ->
      s"""WITH $clfTrainCtes
         |SELECT j, round(wv, 9) + 0.0 AS w_r FROM w_$ClfIters ORDER BY j""".stripMargin,

    // held-out gate evaluation: weights re-trained by the q165 CTEs,
    // test split re-derived from the id unit hash, exp-sigmoid score at
    // the 0.5 threshold (the q167 gate precedent), exact confusion
    // counts -> rounded rational metrics
    "q178_classifier_eval" ->
      s"""WITH $clfTrainCtes,
         |wl AS MATERIALIZED (
         |  SELECT list(wv ORDER BY j) AS wl FROM w_$ClfIters
         |), ev AS (
         |  SELECT CAST(doc_id % 2 AS DOUBLE) AS y,
         |    (1.0 / (1.0 + exp(-(0.0 +
         |      list_reduce(list_prepend(0.0, list_transform(ts, tok ->
         |        wl.wl[CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS INT) + 1])),
         |        (a, x) -> a + x) / len(ts)))) >= 0.5) AS pos
         |  FROM toks CROSS JOIN wl
         |  WHERE len(ts) > 0
         |    AND CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 >= 0.9375
         |    AND CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < 1.0
         |), cm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         |    CAST(count(*) FILTER (WHERE pos AND y = 1.0) AS BIGINT) AS tp,
         |    CAST(count(*) FILTER (WHERE pos AND y <> 1.0) AS BIGINT) AS fp,
         |    CAST(count(*) FILTER (WHERE NOT pos AND y <> 1.0) AS BIGINT) AS tn,
         |    CAST(count(*) FILTER (WHERE NOT pos AND y = 1.0) AS BIGINT) AS fn
         |  FROM ev
         |)
         |SELECT n_eval, tp, fp, tn, fn,
         |  round((tp + tn) / CAST(n_eval AS DOUBLE), 6) + 0.0 AS accuracy_r,
         |  round(tp / CAST(tp + fp AS DOUBLE), 6) + 0.0 AS precision_r,
         |  round(tp / CAST(tp + fn AS DOUBLE), 6) + 0.0 AS recall_r,
         |  round(2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE), 6) + 0.0 AS f1_r
         |FROM cm""".stripMargin,

    // per-frame gradient-hash dump: the clip pixel/sampling/bit
    // arithmetic replayed exactly, eight 32-bit words per frame
    "q180_video_frame_hashes" ->
      (s"WITH ${videoDhashCtes("doc_id < 100")}\n" +
        """SELECT doc_id, frame_idx, dh0, dh1, dh2, dh3, dh4, dh5, dh6, dh7
          |FROM hh ORDER BY doc_id, frame_idx""".stripMargin),

    // clip near-dups by frame-set Jaccard: distinct (clip, class),
    // boilerplate-frequency cap, class-equi pair join, rounded rational
    "q181_video_near_dups" -> {
      val w = (0 until 8).map(j => s"dh$j")
      val wList = w.mkString(", ")
      val eq = w.map(c => s"a.$c = b.$c").mkString(" AND ")
      s"""WITH ${videoDhashCtes("doc_id < 200")},
         |classes AS (
         |  SELECT DISTINCT doc_id, $wList FROM hh
         |), freqok AS (
         |  SELECT $wList FROM classes GROUP BY $wList HAVING count(*) <= 1000
         |), kept AS (
         |  SELECT classes.* FROM classes JOIN freqok USING ($wList)
         |), sizes AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY doc_id
         |), shared AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kept a JOIN kept b ON $eq AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |), jac AS (
         |  SELECT id_a, id_b, n_shared,
         |    round(n_shared / CAST(na.n + nb.n - n_shared AS DOUBLE), 6) + 0.0 AS jaccard_r
         |  FROM shared
         |  JOIN sizes na ON na.doc_id = id_a
         |  JOIN sizes nb ON nb.doc_id = id_b
         |)
         |SELECT id_a, id_b, n_shared, jaccard_r FROM jac
         |WHERE jaccard_r >= 0.5 ORDER BY id_a, id_b""".stripMargin
    },

    // calibration: re-trained weights, exp-sigmoid scores, decile bins,
    // two-level ordered fold of p per bin, exact positive counts
    "q186_classifier_calibration" ->
      s"""WITH $clfTrainCtes,
         |wl AS MATERIALIZED (
         |  SELECT list(wv ORDER BY j) AS wl FROM w_$ClfIters
         |), sc AS (
         |  SELECT doc_id, CAST(doc_id % 2 AS DOUBLE) AS y,
         |    1.0 / (1.0 + exp(-(0.0 +
         |      list_reduce(list_prepend(0.0, list_transform(ts, tok ->
         |        wl.wl[CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS INT) + 1])),
         |        (a, x) -> a + x) / len(ts)))) AS p
         |  FROM toks CROSS JOIN wl WHERE len(ts) > 0
         |), binned AS (
         |  SELECT doc_id, y, p,
         |    LEAST(CAST(floor(p * 10) AS INT), 9) AS bin,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS b
         |  FROM sc
         |), l1 AS (
         |  SELECT bin, b,
         |    list_reduce(list_prepend(0.0, list(p ORDER BY doc_id)), (a, x) -> a + x) AS s,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) FILTER (WHERE y = 1.0) AS BIGINT) AS np
         |  FROM binned GROUP BY bin, b
         |), l2 AS (
         |  SELECT bin,
         |    list_reduce(list_prepend(0.0, list(s ORDER BY b)), (a, x) -> a + x) AS ps,
         |    CAST(sum(n) AS BIGINT) AS n, CAST(sum(np) AS BIGINT) AS n_pos
         |  FROM l1 GROUP BY bin
         |)
         |SELECT bin, n, n_pos,
         |  round(ps / n, 6) + 0.0 AS mean_p_r,
         |  round(n_pos / CAST(n AS DOUBLE), 6) + 0.0 AS frac_pos_r
         |FROM l2 ORDER BY bin""".stripMargin,

    // JL projection: the ±chains interpolate term-for-term
    "q188_random_projection" -> {
      val chains = rpChainsSql(64, 16, 4242L)
      val cols = chains.zipWithIndex.map { case (c, i) =>
        s"  round($c, 6) + 0.0 AS rp_${i + 1}"
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT vec_id,
         |$cols
         |FROM e ORDER BY vec_id""".stripMargin
    },

    // recall@10 of the 16-dim JL index vs the exact 64-dim ranking: the
    // q170 audit chain with the projected lists as the approx side
    "q189_rp_recall" -> {
      val rpList = rpChainsSql(64, 16, 4242L).mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT vec_id, v, $rpList AS rp FROM e),
         |q AS (SELECT * FROM p WHERE vec_id < 20),
         |ark AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cid,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_dot_product(q.rp, c.rp) / (sqrt(list_dot_product(q.rp, q.rp)) * sqrt(list_dot_product(c.rp, c.rp))) DESC, c.vec_id) AS rnk
         |  FROM p c JOIN q ON c.vec_id <> q.vec_id
         |  WHERE NOT isnan(list_dot_product(q.rp, c.rp) / (sqrt(list_dot_product(q.rp, q.rp)) * sqrt(list_dot_product(c.rp, c.rp))))
         |), approx AS (SELECT query_id, cid FROM ark WHERE rnk <= 10),
         |erk AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cid,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) AS rnk
         |  FROM e c JOIN e q ON c.vec_id <> q.vec_id AND q.vec_id < 20
         |  WHERE NOT isnan(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))))
         |), exact AS (SELECT query_id, cid FROM erk WHERE rnk <= 10),
         |hits AS (
         |  SELECT a.query_id, count(*) AS h
         |  FROM approx a JOIN exact x ON x.query_id = a.query_id AND x.cid = a.cid
         |  GROUP BY a.query_id
         |), den AS (
         |  SELECT query_id, count(*) AS n FROM exact GROUP BY query_id
         |)
         |SELECT den.query_id, coalesce(hits.h, 0) AS n_hits,
         |  round(coalesce(hits.h, 0) / den.n, 6) + 0.0 AS recall_r
         |FROM den LEFT JOIN hits USING (query_id)
         |ORDER BY den.query_id""".stripMargin
    },

    // per-language bigram heavy hitters: same tokenizer CASE, positional
    // bigram build via list_transform over range (a 1-token doc yields
    // its one short gram, the engine-wide WordGrams convention), count,
    // rank ≤ k with the engine's (cnt DESC, ngram binary ASC) tie order
    "q190_top_ngrams" ->
      s"""WITH d AS (
         |  SELECT lang,
         |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents WHERE text IS NOT NULL
         |), g AS (
         |  SELECT lang,
         |    unnest(CASE WHEN len(ts) = 1 THEN [ts[1]]
         |           ELSE list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]) END) AS ngram
         |  FROM d
         |), c AS (
         |  SELECT lang, ngram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY lang, ngram
         |), r AS (
         |  SELECT lang, ngram, cnt,
         |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, ngram ASC) AS rnk
         |  FROM c
         |)
         |SELECT lang, CAST(rnk AS BIGINT) AS rank, ngram, cnt
         |FROM r WHERE rnk <= 5
         |ORDER BY lang, rank""".stripMargin,

    // weekly retention: integer bucket math at micros (the q82/q92
    // epoch convention), exact distinct-user counts
    "q199_retention_cohorts" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS b
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), ub AS (SELECT DISTINCT user_id, b FROM e),
        |ch AS (SELECT user_id, min(b) AS cohort FROM ub GROUP BY user_id),
        |act AS (
        |  SELECT cohort, b - cohort AS "offset",
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM ub JOIN ch USING (user_id) GROUP BY 1, 2
        |), base AS (SELECT cohort, n_active AS n_cohort FROM act WHERE "offset" = 0)
        |SELECT act.cohort, act."offset", n_active, n_cohort,
        |  round(n_active / n_cohort, 6) + 0.0 AS retention_r
        |FROM act JOIN base USING (cohort)
        |ORDER BY cohort, "offset"""".stripMargin,

    // transition matrix: lead() per user with the engine's (us, id)
    // order, exact counts, out-probability per from_type
    "q200_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE user_id IS NOT NULL
        |), nx AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
        |  FROM e
        |), c AS (
        |  SELECT event_type AS from_type, nxt AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM nx WHERE nxt IS NOT NULL GROUP BY 1, 2
        |), t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT from_type, to_type, n, round(n / t.tot, 6) + 0.0 AS p_r
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // 30-minute sessionization to session grain: the q33 lag+running-sum
    // window replay plus per-session bounds and distinct-type counts —
    // all integer microsecond math
    "q201_sessions" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), flagged AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), sess AS (
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us, max(us) - min(us) AS duration_us,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    // ordered funnel: per-step conditional-min MATERIALIZED CTEs (each
    // step's earliest qualifying event at-or-after the previous step's
    // conversion time), ratio assembly on the 4-row frame
    "q202_funnel" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IN ('signup', 'view', 'click', 'purchase')
        |), s0 AS MATERIALIZED (
        |  SELECT u, min(us) AS ti FROM ev WHERE t = 'signup' GROUP BY u
        |), s1 AS MATERIALIZED (
        |  SELECT ev.u, min(us) AS ti FROM ev JOIN s0 ON ev.u = s0.u
        |  WHERE t = 'view' AND us >= s0.ti GROUP BY ev.u
        |), s2 AS MATERIALIZED (
        |  SELECT ev.u, min(us) AS ti FROM ev JOIN s1 ON ev.u = s1.u
        |  WHERE t = 'click' AND us >= s1.ti GROUP BY ev.u
        |), s3 AS MATERIALIZED (
        |  SELECT ev.u, min(us) AS ti FROM ev JOIN s2 ON ev.u = s2.u
        |  WHERE t = 'purchase' AND us >= s2.ti GROUP BY ev.u
        |), counts AS (
        |  SELECT CAST(0 AS BIGINT) AS step_idx, 'signup' AS step_type,
        |    CAST(count(*) AS BIGINT) AS n_users FROM s0
        |  UNION ALL SELECT 1, 'view', count(*) FROM s1
        |  UNION ALL SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |)
        |SELECT step_idx, step_type, n_users,
        |  CASE WHEN first_value(n_users) OVER w > 0
        |    THEN round(n_users / first_value(n_users) OVER w, 6) + 0.0 END
        |    AS conv_from_first_r,
        |  CASE WHEN coalesce(lag(n_users) OVER w, n_users) > 0
        |    THEN round(n_users / coalesce(lag(n_users) OVER w, n_users), 6) + 0.0 END
        |    AS conv_from_prev_r
        |FROM counts WINDOW w AS (ORDER BY step_idx)
        |ORDER BY step_idx""".stripMargin,

    // fuzzy join: DuckDB levenshtein within nation blocks — the plain
    // quadratic formulation IS the oracle; the engine answers it with
    // the symmetric-deletion candidate index
    "q203_fuzzy_join" ->
      """WITH c AS (
        |  SELECT c_nationkey AS nationkey, c_custkey, c_name FROM customer
        |  WHERE c_nationkey IS NOT NULL AND c_name IS NOT NULL
        |)
        |SELECT a.nationkey AS nationkey, a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM c a JOIN c b
        |  ON a.nationkey = b.nationkey AND a.c_custkey < b.c_custkey
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY nationkey, id_a, id_b""".stripMargin,

    // trailing-3h per-type rates: RANGE frame over the hour ordinal so
    // gap hours count as empty buckets; integer-cents sums are exact in
    // any accumulation order
    "q204_rolling_rates" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL
        |), pb AS (
        |  SELECT event_type AS bucket_type, us // 3600000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n, sum(cents) AS v_cents
        |  FROM e GROUP BY 1, 2
        |)
        |SELECT bucket_type, bucket, n, CAST(v_cents AS BIGINT) AS v_cents,
        |  CAST(sum(n) OVER w AS BIGINT) AS roll_n,
        |  CAST(sum(v_cents) OVER w AS BIGINT) AS roll_cents,
        |  round(sum(n) OVER w / 3.0, 6) + 0.0 AS avg_n_dense_r
        |FROM pb WINDOW w AS (PARTITION BY bucket_type ORDER BY bucket
        |  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY bucket_type, bucket""".stripMargin,

    // signup→purchase latency: two |users|-row conditional-min frames,
    // one exact-percentile row (quantile_cont ≡ Spark percentile)
    "q205_conversion_latency" ->
      """WITH ev AS (
        |  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), f AS (SELECT u, min(us) AS t0 FROM ev WHERE t = 'signup' GROUP BY u),
        |l AS (
        |  SELECT ev.u, min(us - t0) AS lat FROM ev JOIN f ON ev.u = f.u
        |  WHERE t = 'purchase' AND us >= t0 GROUP BY ev.u
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  min(lat) AS min_us, max(lat) AS max_us,
        |  round(quantile_cont(lat, 0.5), 6) + 0.0 AS p50_us_r,
        |  round(quantile_cont(lat, 0.9), 6) + 0.0 AS p90_us_r,
        |  round(quantile_cont(lat, 0.99), 6) + 0.0 AS p99_us_r
        |FROM l""".stripMargin,

    // events-per-user magnitude histogram: length(bin(n)) - 1 is the
    // engine's exact floor(log2) — no FP wobble at power-of-2 boundaries
    "q206_activity_histogram" ->
      """WITH n AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events
        |  WHERE user_id IS NOT NULL GROUP BY user_id
        |)
        |SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS log2_bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  min(n) AS min_events, max(n) AS max_events,
        |  CAST(sum(n) AS BIGINT) AS sum_events
        |FROM n GROUP BY 1 ORDER BY log2_bucket""".stripMargin,

    // rolling anomaly monitor: exact integer baseline moments (count /
    // Σn / Σn² over the trailing RANGE frame, candidate excluded), then
    // mean / population variance / z in the SAME IEEE double op order
    // the Spark side uses — divisions and sqrt are exact-rounded, so
    // the bits and the k·σ boundary comparison agree engine-to-engine
    "q207_rolling_anomalies" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL
        |), pb AS (
        |  SELECT event_type AS bucket_type, us // 3600000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2
        |), wd AS (
        |  SELECT bucket_type, bucket, n,
        |    CAST(count(*) OVER w AS BIGINT) AS m,
        |    CAST(sum(n) OVER w AS BIGINT) AS s1,
        |    CAST(sum(n * n) OVER w AS BIGINT) AS s2
        |  FROM pb WINDOW w AS (PARTITION BY bucket_type ORDER BY bucket
        |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |), wv AS (
        |  SELECT bucket_type, bucket, n, m,
        |    s1 / CAST(m AS DOUBLE) AS mu,
        |    s2 / CAST(m AS DOUBLE)
        |      - (s1 / CAST(m AS DOUBLE)) * (s1 / CAST(m AS DOUBLE)) AS v
        |  FROM wd
        |)
        |SELECT bucket_type, bucket, n, m AS base_n,
        |  CASE WHEN m >= 3 THEN round(mu, 6) + 0.0 END AS mean_r,
        |  CASE WHEN m >= 3 AND v > 0 THEN round((n - mu) / sqrt(v), 6) + 0.0 END AS z_r,
        |  (m >= 3 AND ((v > 0 AND abs(n - mu) > 3.0 * sqrt(v))
        |    OR (v = 0 AND n <> mu))) AS is_anomaly
        |FROM wv ORDER BY bucket_type, bucket""".stripMargin,

    // session fingerprints: md5 of the (us, event_id)-ordered type
    // sequence with the chr(1) joiner (the engine's signature
    // convention), session grain from the q201 window replay
    "q208_session_fingerprints" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), flagged AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), sess AS (
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged
        |), fp AS (
        |  SELECT user_id, session_seq,
        |    md5(string_agg(coalesce(event_type, chr(0)), chr(1) ORDER BY us, event_id)) AS fingerprint,
        |    CAST(count(*) AS BIGINT) AS seq_len
        |  FROM sess GROUP BY user_id, session_seq
        |  HAVING count(*) >= 2
        |)
        |SELECT fingerprint, seq_len, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM fp GROUP BY fingerprint, seq_len
        |HAVING count(*) >= 2
        |ORDER BY n_sessions DESC, fingerprint""".stripMargin,

    // inter-event gap histogram: exact log2 magnitude buckets
    // (length(bin(gap)) - 1; zero gaps -> bucket -1)
    "q209_gap_histogram" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), g AS (
        |  SELECT us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
        |  FROM ev
        |)
        |SELECT CAST(CASE WHEN gap > 0 THEN length(bin(gap)) - 1 ELSE -1 END AS BIGINT)
        |    AS log2_gap_us,
        |  CAST(count(*) AS BIGINT) AS n_gaps,
        |  min(gap) AS min_gap_us, max(gap) AS max_gap_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1 ORDER BY log2_gap_us""".stripMargin,

    // snapshot diff: per-side md5 value signatures (chr(1) joiner,
    // chr(0) null sentinel — the engine's exact convention), one
    // full-outer join, null-change rows filtered
    "q197_snapshot_diff" ->
      """WITH sigp AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(0)),
        |    coalesce(CAST(n_chars AS VARCHAR), chr(0)))) AS o
        |  FROM documents WHERE doc_id < 800
        |), cur0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    n_chars
        |  FROM documents WHERE doc_id >= 200 AND doc_id < 1000
        |), sigc AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(0)),
        |    coalesce(CAST(n_chars AS VARCHAR), chr(0)))) AS nw
        |  FROM cur0
        |), diff AS (
        |  SELECT coalesce(sigp.doc_id, sigc.doc_id) AS doc_id,
        |    CASE WHEN sigp.doc_id IS NULL THEN 'added'
        |         WHEN sigc.doc_id IS NULL THEN 'removed'
        |         WHEN o <> nw THEN 'changed' END AS change
        |  FROM sigp FULL OUTER JOIN sigc ON sigp.doc_id = sigc.doc_id
        |)
        |SELECT doc_id, change FROM diff WHERE change IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // n-gram novelty: the q78 trigram CTE shape, doc-distinct grams
    // anti-joined against the reference gram set
    "q196_novel_grams" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        |  FROM documents WHERE text IS NOT NULL
        |), tri AS (
        |  SELECT doc_id, source, unnest(list_transform(
        |    range(0, GREATEST(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(toks[i + 1 : i + 3], ' '))) AS g
        |  FROM base WHERE len(toks) > 0
        |), dgr AS (
        |  SELECT DISTINCT doc_id, g FROM tri WHERE source = 'src1' AND doc_id IS NOT NULL
        |), rg AS (SELECT DISTINCT g FROM tri WHERE source = 'src0'),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM dgr GROUP BY doc_id),
        |nov AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
        |  FROM dgr ANTI JOIN rg USING (g) GROUP BY doc_id
        |)
        |SELECT tot.doc_id, n_grams, coalesce(n_novel, 0) AS n_novel,
        |  round(coalesce(n_novel, 0) / n_grams, 6) + 0.0 AS novelty_r
        |FROM tot LEFT JOIN nov ON tot.doc_id = nov.doc_id
        |ORDER BY tot.doc_id""".stripMargin,

    // token drift: per-token smoothed PSI contributions (the q96
    // formula at token grain), ranked |contrib| DESC / token binary ASC
    "q195_token_drift" ->
      s"""WITH d0 AS (
         |  SELECT CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents WHERE text IS NOT NULL AND source = 'src0'
         |), d1 AS (
         |  SELECT CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents WHERE text IS NOT NULL AND source = 'src1'
         |), r AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS n_ref
         |  FROM (SELECT unnest(ts) AS token FROM d0) GROUP BY token
         |), c AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS n_cur
         |  FROM (SELECT unnest(ts) AS token FROM d1) GROUP BY token
         |), j AS (
         |  SELECT coalesce(r.token, c.token) AS token,
         |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
         |  FROM r FULL OUTER JOIN c ON r.token = c.token
         |), t AS (
         |  SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc,
         |    count(*) AS v FROM j
         |), sc AS (
         |  SELECT token, n_ref, n_cur,
         |    (CAST(n_cur + 1 AS DOUBLE) / (tc + v) - CAST(n_ref + 1 AS DOUBLE) / (tr + v))
         |      * ln((CAST(n_cur + 1 AS DOUBLE) / (tc + v)) / (CAST(n_ref + 1 AS DOUBLE) / (tr + v))) AS contrib
         |  FROM j CROSS JOIN t
         |), rk AS (
         |  SELECT token, n_ref, n_cur, contrib,
         |    row_number() OVER (ORDER BY abs(contrib) DESC, token ASC) AS rnk
         |  FROM sc
         |)
         |SELECT CAST(rnk AS BIGINT) AS rank, token, n_ref, n_cur,
         |  round(contrib, 9) + 0.0 AS contrib_r
         |FROM rk WHERE rnk <= 50
         |ORDER BY rank""".stripMargin,

    // sketch-prefiltered frequent bigrams: the engine result is provably
    // the exact thresholded count, so the oracle needs NO sketch replay
    "q193_frequent_ngrams" ->
      s"""WITH d AS (
         |  SELECT lang,
         |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents WHERE text IS NOT NULL
         |), g AS (
         |  SELECT lang,
         |    unnest(CASE WHEN len(ts) = 1 THEN [ts[1]]
         |           ELSE list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]) END) AS ngram
         |  FROM d
         |), c AS (
         |  SELECT lang, ngram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY lang, ngram
         |)
         |SELECT lang, ngram, cnt FROM c WHERE cnt >= 20
         |ORDER BY lang, ngram""".stripMargin,

    // heavy-key skew report: count, total, rank with the engine's
    // (cnt DESC, key binary ASC) tie order — keys compare as STRINGS
    "q192_skew_report" ->
      s"""WITH c AS (
         |  SELECT CAST(l_suppkey AS VARCHAR) AS key,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM lineitem GROUP BY 1
         |), t AS (SELECT sum(cnt) AS tot FROM c),
         |r AS (
         |  SELECT key, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, key ASC) AS rnk
         |  FROM c
         |)
         |SELECT CAST(rnk AS BIGINT) AS rank, key, cnt,
         |  round(cnt / t.tot, 6) + 0.0 AS share_r
         |FROM r, t WHERE rnk <= 20
         |ORDER BY rank""".stripMargin,

    // planted-twin recall probe: twin construction, detector replay over
    // corpus+twins (the q67 sig/pair machinery on the augmented
    // relation), exact shingle jaccard per planted pair, one-row counts
    "q187_near_dup_recall" -> {
      val toksSql =
        """CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
          |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END""".stripMargin
      def shSql(x: String) =
        s"""(CASE WHEN len($x) < 5 THEN [$x]
           |     ELSE list_distinct(list_transform(range(0, len($x) - 4),
           |            i -> substr($x, CAST(i + 1 AS INT), 5))) END)""".stripMargin
      s"""WITH bd AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 1000
         |), pr AS (
         |  SELECT doc_id, text,
         |    array_to_string(list_filter($toksSql,
         |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 7 <> 0), ' ') AS twin
         |  FROM bd
         |  WHERE text IS NOT NULL
         |    AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'probe'), 1, 8)) AS BIGINT) % 20 = 0
         |), aug AS (
         |  SELECT doc_id, text FROM bd
         |  UNION ALL SELECT doc_id + 1000000, twin FROM pr
         |), ${polyShingleSigCte("aug")}, ${polyPairsCte(0.5)},
         |pl0 AS (
         |  SELECT doc_id,
         |    trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS ca,
         |    trim(lower(regexp_replace(twin, '\\s+', ' ', 'g'))) AS cb
         |  FROM pr
         |), pl AS (
         |  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
         |    ${shSql("ca")} AS sa, ${shSql("cb")} AS sb
         |  FROM pl0
         |), rec AS (
         |  SELECT pl.id_a, pl.id_b,
         |    CAST(len(list_intersect(sa, sb)) AS DOUBLE)
         |      / CAST(len(sa) + len(sb) - len(list_intersect(sa, sb)) AS DOUBLE) AS exact_j,
         |    (p.id_a IS NOT NULL) AS hit
         |  FROM pl LEFT JOIN pairs0 p USING (id_a, id_b)
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_planted,
         |  CAST(count(*) FILTER (WHERE exact_j >= 0.5) AS BIGINT) AS n_above,
         |  CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_recovered,
         |  CAST(count(*) FILTER (WHERE hit AND exact_j >= 0.5) AS BIGINT) AS n_recovered_above,
         |  round(count(*) FILTER (WHERE hit AND exact_j >= 0.5)
         |    / CAST(count(*) FILTER (WHERE exact_j >= 0.5) AS DOUBLE), 6) + 0.0 AS recall_r,
         |  round(count(*) FILTER (WHERE hit) / CAST(count(*) AS DOUBLE), 6) + 0.0 AS detection_rate_r
         |FROM rec""".stripMargin
    },

    // multi-benchmark contamination report: the q58 gram machinery once
    // over both benchmarks, aggregated per bench with zero-preserving
    // totals
    "q185_contamination_report" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        |  FROM documents
        |), tri AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, GREATEST(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(toks[i + 1 : i + 3], ' '))) AS tok
        |  FROM base WHERE len(toks) > 0
        |), d AS (
        |  SELECT DISTINCT doc_id, tok FROM tri
        |), c0 AS (SELECT doc_id AS corpus_id, tok FROM d WHERE doc_id < 400),
        |b0 AS (
        |  SELECT (CASE WHEN doc_id < 450 THEN 'benchA' ELSE 'benchB' END)
        |      || '#' || CAST(doc_id AS VARCHAR) AS bench_id, tok
        |  FROM d WHERE doc_id >= 400 AND doc_id < 500
        |),
        |hot AS (SELECT tok FROM c0 GROUP BY tok HAVING COUNT(*) > 100),
        |c AS (SELECT * FROM c0 WHERE tok NOT IN (SELECT tok FROM hot)),
        |b AS (SELECT * FROM b0 WHERE tok NOT IN (SELECT tok FROM hot)),
        |sizes AS (SELECT bench_id, COUNT(*) AS bench_sz FROM b GROUP BY bench_id),
        |common AS (
        |  SELECT corpus_id, bench_id, COUNT(*) AS n_common
        |  FROM c JOIN b USING (tok) GROUP BY corpus_id, bench_id
        |), pairs AS (
        |  SELECT corpus_id, bench_id, split_part(bench_id, '#', 1) AS bn,
        |    CAST(n_common AS DOUBLE) / CAST(bench_sz AS DOUBLE) AS containment
        |  FROM common JOIN sizes USING (bench_id)
        |  WHERE CAST(n_common AS DOUBLE) / CAST(bench_sz AS DOUBLE) >= 0.5
        |), totals AS (
        |  SELECT CASE WHEN doc_id < 450 THEN 'benchA' ELSE 'benchB' END AS bn,
        |    CAST(COUNT(*) AS BIGINT) AS n_bench_docs
        |  FROM documents WHERE doc_id >= 400 AND doc_id < 500 GROUP BY 1
        |), agg AS (
        |  SELECT bn,
        |    CAST(count(DISTINCT corpus_id) AS BIGINT) AS nc,
        |    CAST(count(DISTINCT bench_id) AS BIGINT) AS nb,
        |    max(round(containment, 6) + 0.0) AS mx
        |  FROM pairs GROUP BY bn
        |)
        |SELECT totals.bn AS bench, totals.n_bench_docs,
        |  coalesce(agg.nc, 0) AS n_contaminated_docs,
        |  coalesce(agg.nb, 0) AS n_leaking_bench_docs,
        |  coalesce(agg.mx, 0.0) AS max_containment_r
        |FROM totals LEFT JOIN agg USING (bn)
        |ORDER BY bench""".stripMargin,

    // curriculum order: quantile_cont cuts at round-6, boundary ties to
    // the lower band, md5-hex shuffle within each (stage, shard) cell
    "q184_curriculum_order" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS sc FROM documents
        |), c AS (
        |  SELECT [round(quantile_cont(sc, 0.25), 6),
        |          round(quantile_cont(sc, 0.5), 6),
        |          round(quantile_cont(sc, 0.75), 6)] AS cuts
        |  FROM s WHERE sc IS NOT NULL AND NOT isnan(sc)
        |), st AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'cur') AS hex,
        |    CASE WHEN sc IS NULL OR isnan(sc) THEN NULL ELSE
        |      1 + (CASE WHEN sc > cuts[1] THEN 1 ELSE 0 END)
        |        + (CASE WHEN sc > cuts[2] THEN 1 ELSE 0 END)
        |        + (CASE WHEN sc > cuts[3] THEN 1 ELSE 0 END) END AS stage
        |  FROM s CROSS JOIN c
        |), sh AS (
        |  SELECT doc_id, stage, hex,
        |    CASE WHEN stage IS NULL THEN NULL
        |         ELSE CAST(CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8 AS INT) END AS shard
        |  FROM st
        |)
        |SELECT doc_id, stage, shard,
        |  CASE WHEN stage IS NULL THEN NULL ELSE
        |    CAST(row_number() OVER (PARTITION BY stage, shard ORDER BY hex, doc_id) AS BIGINT) END AS curriculum_pos
        |FROM sh ORDER BY doc_id""".stripMargin,

    // exact clip dup groups: md5 of the frame-ordered hash string, the
    // planted re-keyed copies re-derived by shifting hh's doc_id
    "q182_video_dup_groups" -> {
      val fs = "CAST(frame_idx AS VARCHAR)" +
        (0 until 8).map(j => s" || ':' || CAST(dh$j AS VARCHAR)").mkString
      s"""WITH ${videoDhashCtes("doc_id < 100")},
         |aug AS (
         |  SELECT doc_id, frame_idx, ${(0 until 8).map(j => s"dh$j").mkString(", ")} FROM hh
         |  UNION ALL
         |  SELECT doc_id + 1000, frame_idx, ${(0 until 8).map(j => s"dh$j").mkString(", ")}
         |  FROM hh WHERE doc_id < 30
         |), sig AS (
         |  SELECT doc_id,
         |    md5(string_agg($fs, '|' ORDER BY frame_idx)) AS clip_sig
         |  FROM aug GROUP BY doc_id
         |)
         |SELECT clip_sig, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_members
         |FROM sig GROUP BY clip_sig HAVING count(*) >= 2
         |ORDER BY keep_id""".stripMargin
    },

    // incremental video ingest: distinct (clip, class) per side, union
    // frequency cap, cross-side class join, rounded rational jaccard
    "q183_video_ingest" -> {
      val w = (0 until 8).map(j => s"dh$j")
      val wList = w.mkString(", ")
      s"""WITH ${videoDhashCtes("doc_id < 200 AND doc_id % 2 = 0", "_i")},
         |${videoDhashCtes("doc_id < 300 AND doc_id % 2 = 1", "_n")},
         |ci AS (SELECT DISTINCT doc_id AS index_id, $wList FROM hh_i),
         |cn AS (SELECT DISTINCT doc_id AS new_id, $wList FROM hh_n),
         |freqok AS (
         |  SELECT $wList FROM (
         |    SELECT $wList FROM ci UNION ALL SELECT $wList FROM cn
         |  ) u GROUP BY $wList HAVING count(*) <= 1000
         |), ki AS (SELECT ci.* FROM ci JOIN freqok USING ($wList)),
         |kn AS (SELECT cn.* FROM cn JOIN freqok USING ($wList)),
         |si AS (SELECT index_id, CAST(count(*) AS BIGINT) AS n FROM ki GROUP BY index_id),
         |sn AS (SELECT new_id, CAST(count(*) AS BIGINT) AS n FROM kn GROUP BY new_id),
         |shared AS (
         |  SELECT kn.new_id, ki.index_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kn JOIN ki USING ($wList)
         |  GROUP BY kn.new_id, ki.index_id
         |), jac AS (
         |  SELECT shared.new_id, shared.index_id, shared.n_shared,
         |    round(shared.n_shared / CAST(sn.n + si.n - shared.n_shared AS DOUBLE), 6) + 0.0 AS jaccard_r
         |  FROM shared
         |  JOIN sn ON sn.new_id = shared.new_id
         |  JOIN si ON si.index_id = shared.index_id
         |)
         |SELECT new_id, index_id, n_shared, jaccard_r FROM jac
         |WHERE jaccard_r >= 0.5 ORDER BY new_id, index_id""".stripMargin
    },

    // incremental audio ingest: exact fingerprint classes equi-join,
    // near classes band cross-side, bit_count verify in 1..3 — the q158
    // arithmetic over energy fingerprints, two suffixed CTE chains
    "q179_audio_ingest" ->
      (s"WITH ${audioFpCtes("doc_id < 200 AND doc_id % 2 = 0", "_i")},\n" +
        s"${audioFpCtes("doc_id < 300 AND doc_id % 2 = 1", "_n")},\n" +
        """ci AS (SELECT afp_hi, afp_lo, min(doc_id) AS index_id FROM hh_i GROUP BY afp_hi, afp_lo),
          |cn AS (SELECT afp_hi, afp_lo, min(doc_id) AS new_id FROM hh_n GROUP BY afp_hi, afp_lo),
          |ex AS (
          |  SELECT cn.new_id, ci.index_id, 0 AS hamming
          |  FROM cn JOIN ci ON cn.afp_hi = ci.afp_hi AND cn.afp_lo = ci.afp_lo
          |),
          |bi AS (
          |  SELECT index_id, 0 AS band, (afp_hi >> 16) & 65535 AS bk FROM ci
          |  UNION ALL SELECT index_id, 1, afp_hi & 65535 FROM ci
          |  UNION ALL SELECT index_id, 2, (afp_lo >> 16) & 65535 FROM ci
          |  UNION ALL SELECT index_id, 3, afp_lo & 65535 FROM ci
          |),
          |bn AS (
          |  SELECT new_id, 0 AS band, (afp_hi >> 16) & 65535 AS bk FROM cn
          |  UNION ALL SELECT new_id, 1, afp_hi & 65535 FROM cn
          |  UNION ALL SELECT new_id, 2, (afp_lo >> 16) & 65535 FROM cn
          |  UNION ALL SELECT new_id, 3, afp_lo & 65535 FROM cn
          |),
          |nearc AS (
          |  SELECT DISTINCT bn.new_id, bi.index_id
          |  FROM bn JOIN bi ON bn.band = bi.band AND bn.bk = bi.bk
          |),
          |near AS (
          |  SELECT nearc.new_id, nearc.index_id,
          |    CAST(bit_count(xor(cn.afp_hi, ci.afp_hi)) + bit_count(xor(cn.afp_lo, ci.afp_lo)) AS INT) AS hamming
          |  FROM nearc
          |  JOIN cn ON cn.new_id = nearc.new_id
          |  JOIN ci ON ci.index_id = nearc.index_id
          |  WHERE bit_count(xor(cn.afp_hi, ci.afp_hi)) + bit_count(xor(cn.afp_lo, ci.afp_lo)) BETWEEN 1 AND 3
          |)
          |SELECT * FROM ex UNION ALL SELECT * FROM near
          |ORDER BY new_id, index_id""".stripMargin),

    // audio energy-fingerprint dump: sample arithmetic, window energies,
    // and gradient-sign halves replayed exactly
    "q163_audio_fingerprint" ->
      (s"WITH ${audioFpCtes()}\n" +
        """SELECT doc_id, afp_hi, afp_lo FROM hh ORDER BY doc_id""".stripMargin),

    // audio near-dup pairs: distinct fingerprint classes, four 16-bit
    // bands, bit_count verify — the q153 machinery over energy halves
    "q164_audio_near_dups" ->
      (s"WITH ${audioFpCtes()},\n" +
        """rep AS (
          |  SELECT min(doc_id) AS doc_id, afp_hi AS hi, afp_lo AS lo
          |  FROM hh GROUP BY afp_hi, afp_lo
          |), bands AS (
          |  SELECT doc_id, 0 AS band, (hi >> 16) & 65535 AS bk FROM rep
          |  UNION ALL SELECT doc_id, 1, hi & 65535 FROM rep
          |  UNION ALL SELECT doc_id, 2, (lo >> 16) & 65535 FROM rep
          |  UNION ALL SELECT doc_id, 3, lo & 65535 FROM rep
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
          |)
          |SELECT id_a, id_b,
          |  CAST(bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS INT) AS hamming
          |FROM cand
          |JOIN rep ha ON ha.doc_id = id_a
          |JOIN rep hb ON hb.doc_id = id_b
          |WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) <= 3
          |ORDER BY id_a, id_b""".stripMargin),

    // 256-bit gradient hash dump: the dHash sampling/bit arithmetic
    // replayed exactly, eight 32-bit words per doc
    "q160_image_dhash256" ->
      (s"WITH ${imageDhashCtes("doc_id < 200", "")}\n" +
        """SELECT doc_id, dh0, dh1, dh2, dh3, dh4, dh5, dh6, dh7
          |FROM hh ORDER BY doc_id""".stripMargin),

    // 256-bit near-dup pairs: distinct classes by all eight words, band
    // key = the WORD ITSELF (nBands=8 -> 32-bit keys), bit_count verify
    // over the eight xors, exact recall at Hamming <= 7
    "q161_image_near_dups256" ->
      (s"WITH ${imageDhashCtes("doc_id < 200", "")},\n" +
        """rep AS (
          |  SELECT min(doc_id) AS doc_id, dh0, dh1, dh2, dh3, dh4, dh5, dh6, dh7
          |  FROM hh GROUP BY dh0, dh1, dh2, dh3, dh4, dh5, dh6, dh7
          |), bands AS (
          |  SELECT doc_id, 0 AS band, dh0 AS bk FROM rep
          |  UNION ALL SELECT doc_id, 1, dh1 FROM rep
          |  UNION ALL SELECT doc_id, 2, dh2 FROM rep
          |  UNION ALL SELECT doc_id, 3, dh3 FROM rep
          |  UNION ALL SELECT doc_id, 4, dh4 FROM rep
          |  UNION ALL SELECT doc_id, 5, dh5 FROM rep
          |  UNION ALL SELECT doc_id, 6, dh6 FROM rep
          |  UNION ALL SELECT doc_id, 7, dh7 FROM rep
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
          |)
          |SELECT id_a, id_b,
          |  CAST(bit_count(xor(ha.dh0, hb.dh0)) + bit_count(xor(ha.dh1, hb.dh1))
          |     + bit_count(xor(ha.dh2, hb.dh2)) + bit_count(xor(ha.dh3, hb.dh3))
          |     + bit_count(xor(ha.dh4, hb.dh4)) + bit_count(xor(ha.dh5, hb.dh5))
          |     + bit_count(xor(ha.dh6, hb.dh6)) + bit_count(xor(ha.dh7, hb.dh7)) AS INT) AS hamming
          |FROM cand
          |JOIN rep ha ON ha.doc_id = id_a
          |JOIN rep hb ON hb.doc_id = id_b
          |WHERE bit_count(xor(ha.dh0, hb.dh0)) + bit_count(xor(ha.dh1, hb.dh1))
          |    + bit_count(xor(ha.dh2, hb.dh2)) + bit_count(xor(ha.dh3, hb.dh3))
          |    + bit_count(xor(ha.dh4, hb.dh4)) + bit_count(xor(ha.dh5, hb.dh5))
          |    + bit_count(xor(ha.dh6, hb.dh6)) + bit_count(xor(ha.dh7, hb.dh7)) <= 7
          |ORDER BY id_a, id_b""".stripMargin),

    // 256-bit incremental ingest: exact classes equi-join all 8 words,
    // near classes band cross-side (band key = the word), hamming 1..7
    "q162_image_ingest256" -> {
      val w = (0 until 8).map(j => s"dh$j")
      val wList = w.mkString(", ")
      def classes(sfx: String, idOut: String) =
        s"SELECT $wList, min(doc_id) AS $idOut FROM hh$sfx GROUP BY $wList"
      def bandsOf(src: String, idOut: String) =
        (0 until 8).map(j => s"SELECT $idOut, $j AS band, dh$j AS bk FROM $src")
          .mkString("\n  UNION ALL ")
      val eqAll = w.map(c => s"cn.$c = ci.$c").mkString(" AND ")
      val ham = w.map(c => s"bit_count(xor(cn.$c, ci.$c))").mkString(" + ")
      s"""WITH ${imageDhashCtes("doc_id < 200 AND doc_id % 2 = 0", "_i")},
         |${imageDhashCtes("doc_id < 300 AND doc_id % 2 = 1", "_n")},
         |ci AS (${classes("_i", "index_id")}),
         |cn AS (${classes("_n", "new_id")}),
         |ex AS (
         |  SELECT cn.new_id, ci.index_id, 0 AS hamming
         |  FROM cn JOIN ci ON $eqAll
         |),
         |bi AS (
         |  ${bandsOf("ci", "index_id")}
         |),
         |bn AS (
         |  ${bandsOf("cn", "new_id")}
         |),
         |nearc AS (
         |  SELECT DISTINCT bn.new_id, bi.index_id
         |  FROM bn JOIN bi ON bn.band = bi.band AND bn.bk = bi.bk
         |),
         |near AS (
         |  SELECT nearc.new_id, nearc.index_id, CAST($ham AS INT) AS hamming
         |  FROM nearc
         |  JOIN cn ON cn.new_id = nearc.new_id
         |  JOIN ci ON ci.index_id = nearc.index_id
         |  WHERE $ham BETWEEN 1 AND 7
         |)
         |SELECT * FROM ex UNION ALL SELECT * FROM near
         |ORDER BY new_id, index_id""".stripMargin
    },

    // planted even/odd image pairs: the perturbed byte rides the CASE,
    // then banded 16-bit keys and bit_count(xor) verify — identical
    // candidate + verify arithmetic to the engine
    "q153_image_near_dups" ->
      (s"WITH ${imageAhashCtes("doc_id < 200", "")},\n" +
        """rep AS (
          |  SELECT min(doc_id) AS doc_id, hi, lo FROM hh GROUP BY hi, lo
          |), bands AS (
          |  SELECT doc_id, 0 AS band, (hi >> 16) & 65535 AS bk FROM rep
          |  UNION ALL SELECT doc_id, 1, hi & 65535 FROM rep
          |  UNION ALL SELECT doc_id, 2, (lo >> 16) & 65535 FROM rep
          |  UNION ALL SELECT doc_id, 3, lo & 65535 FROM rep
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
          |)
          |SELECT id_a, id_b,
          |  CAST(bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS INT) AS hamming
          |FROM cand
          |JOIN rep ha ON ha.doc_id = id_a
          |JOIN rep hb ON hb.doc_id = id_b
          |WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) <= 3
          |ORDER BY id_a, id_b""".stripMargin),


    // incremental image ingest: exact classes equi-join, near classes
    // band cross-side, bit_count verify in 1..3 — same arithmetic, two
    // suffixed CTE chains
    "q158_image_ingest" ->
      (s"WITH ${imageAhashCtes("doc_id < 200 AND doc_id % 2 = 0", "_i")},\n" +
        s"${imageAhashCtes("doc_id < 300 AND doc_id % 2 = 1", "_n")},\n" +
        """ci AS (SELECT hi, lo, min(doc_id) AS index_id FROM hh_i GROUP BY hi, lo),
          |cn AS (SELECT hi, lo, min(doc_id) AS new_id FROM hh_n GROUP BY hi, lo),
          |ex AS (
          |  SELECT cn.new_id, ci.index_id, 0 AS hamming
          |  FROM cn JOIN ci ON cn.hi = ci.hi AND cn.lo = ci.lo
          |),
          |bi AS (
          |  SELECT index_id, 0 AS band, (hi >> 16) & 65535 AS bk FROM ci
          |  UNION ALL SELECT index_id, 1, hi & 65535 FROM ci
          |  UNION ALL SELECT index_id, 2, (lo >> 16) & 65535 FROM ci
          |  UNION ALL SELECT index_id, 3, lo & 65535 FROM ci
          |),
          |bn AS (
          |  SELECT new_id, 0 AS band, (hi >> 16) & 65535 AS bk FROM cn
          |  UNION ALL SELECT new_id, 1, hi & 65535 FROM cn
          |  UNION ALL SELECT new_id, 2, (lo >> 16) & 65535 FROM cn
          |  UNION ALL SELECT new_id, 3, lo & 65535 FROM cn
          |),
          |nearc AS (
          |  SELECT DISTINCT bn.new_id, bi.index_id FROM bn JOIN bi USING (band, bk)
          |),
          |nr AS (
          |  SELECT n.new_id, n.index_id,
          |    CAST(bit_count(xor(cn.hi, ci.hi)) + bit_count(xor(cn.lo, ci.lo)) AS INT) AS hamming
          |  FROM nearc n
          |  JOIN cn ON cn.new_id = n.new_id
          |  JOIN ci ON ci.index_id = n.index_id
          |)
          |SELECT new_id, index_id, hamming FROM ex
          |UNION ALL
          |SELECT new_id, index_id, hamming FROM nr WHERE hamming BETWEEN 1 AND 3
          |ORDER BY new_id, index_id""".stripMargin),

    // per-dim moment folds in the engine's exact order: unseeded level-1
    // list_reduce (the vector aggregator's v0+v1+...), prepend-seeded
    // level-2 over bucket partials, x·x per element before any fold
    "q156_dim_stats" ->
      (dimStatsCte +
        """SELECT dim, round(mean, 9) + 0.0 AS mean_r,
          |  round(GREATEST(m2 - mean * mean, 0.0), 9) + 0.0 AS var_r,
          |  round(sqrt(GREATEST(m2 - mean * mean, 0.0)), 9) + 0.0 AS std_r
          |FROM m ORDER BY dim""".stripMargin),

    "q157_standardized" ->
      (dimStatsCte +
        """, st AS (
          |  SELECT dim, mean, sqrt(GREATEST(m2 - mean * mean, 0.0)) AS std FROM m
          |), z AS (
          |  SELECT e.vec_id, st.dim,
          |    CASE WHEN st.std = 0.0 THEN 0.0
          |         ELSE (e.v[st.dim + 1] - st.mean) / st.std END AS zv
          |  FROM e JOIN st ON st.dim < 3
          |)
          |SELECT vec_id,
          |  round(max(CASE WHEN dim = 0 THEN zv END), 6) + 0.0 AS z0,
          |  round(max(CASE WHEN dim = 1 THEN zv END), 6) + 0.0 AS z1,
          |  round(max(CASE WHEN dim = 2 THEN zv END), 6) + 0.0 AS z2
          |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // exact-hash image classes: same cell/threshold replay as q153, then
    // a plain group-by with the min-id keeper
    "q155_image_dup_groups" ->
      (s"WITH ${imageAhashCtes("doc_id < 200", "")}\n" +
        """SELECT hi AS ahash_hi, lo AS ahash_lo,
          |  min(doc_id) AS keep_id, count(*) AS n_members
          |FROM hh GROUP BY hi, lo HAVING count(*) >= 2
          |ORDER BY keep_id""".stripMargin),


    // token-denominated temperature budgets: exact integer totals, the
    // q64 sorted-source sqrt fold, then the q137 admission window with a
    // per-source budget; the filter compares the RAW budget double
    "q154_token_budget_mix" ->
      """WITH cl AS (
        |  SELECT doc_id, source, n_chars FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0
        |), tt AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS t FROM cl GROUP BY source
        |), zz AS (
        |  SELECT list_reduce(list_prepend(0.0, list(sqrt(CAST(t AS DOUBLE)) ORDER BY source)),
        |    (a, b) -> a + b) AS z
        |  FROM tt
        |), bud AS (
        |  SELECT tt.source, 60000.0 * (sqrt(CAST(t AS DOUBLE)) / z) AS b FROM tt, zz
        |), h AS (
        |  SELECT cl.*,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-tbm'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
        |  FROM cl
        |), r AS (
        |  SELECT h.doc_id, h.source, h.n_chars, bud.b,
        |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY h.source ORDER BY uh, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before,
        |    row_number() OVER (PARTITION BY h.source ORDER BY uh, doc_id) AS budget_rank
        |  FROM h JOIN bud ON bud.source = h.source
        |)
        |SELECT doc_id, source, n_chars, round(b, 6) + 0.0 AS budget_r, tokens_before, budget_rank
        |FROM r WHERE tokens_before < b
        |ORDER BY source, budget_rank""".stripMargin,

    // group-hashed split: the q36 cut arithmetic over md5(source||salt)
    "q147_group_split" ->
      """WITH sp AS (
        |  SELECT source,
        |    CASE WHEN uh < 0.75 THEN 'train'
        |         WHEN uh < 0.875 THEN 'val'
        |         WHEN uh < 1.0 THEN 'test'
        |         ELSE NULL END AS split
        |  FROM (
        |    SELECT source,
        |      CAST(CAST(('0x' || substr(md5(source || 'graft-gs'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
        |    FROM documents)
        |)
        |SELECT source, split, count(*) AS n
        |FROM sp GROUP BY source, split
        |ORDER BY source, split""".stripMargin,

    // the q79 quality blend + the q136 sampled-quantile machinery, per
    // source (quantile_cont == exact percentile, q93/q113 parity)
    "q145_source_quality" ->
      (s"WITH ${qualityCte("documents WHERE text IS NOT NULL", "source")},\n" +
        """h AS (
          |  SELECT source, doc_id, qscore,
          |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-sq2'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
          |  FROM scored WHERE qscore IS NOT NULL
          |), r AS (
          |  SELECT source, qscore, row_number() OVER (PARTITION BY source ORDER BY uh, doc_id) AS rn
          |  FROM h
          |)
          |SELECT source,
          |  quantile_cont(qscore, 0.25) AS q25,
          |  quantile_cont(qscore, 0.5) AS q50,
          |  quantile_cont(qscore, 0.9) AS q90
          |FROM r WHERE rn <= 16 GROUP BY source ORDER BY source""".stripMargin),

    // DuckDB re-trains the portable kmeans end to end (4 Lloyd rounds)
    "q143_kmeans_train" ->
      (kmPrefix(KmClusters, KmIters, KmSalt) + s"""
         |SELECT cid AS cluster, i AS dim, round(c[i+1], 9) + 0.0 AS c_r
         |FROM cent_$KmIters, unnest(range(len(c))) AS u(i)
         |ORDER BY cluster, dim""".stripMargin),

    "q144_kmeans_sizes" ->
      (kmPrefix(KmClusters, KmIters, KmSalt) + s""",
         |asg_f AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY 2 * list_dot_product(e.v, c.c) - c.c2 DESC, c.cid) AS rnk
         |    FROM e CROSS JOIN cent_$KmIters c
         |  ) WHERE rnk = 1
         |)
         |SELECT cid AS cluster, count(*) AS n
         |FROM asg_f GROUP BY cid ORDER BY cluster""".stripMargin),

    // cross-side-only band join: batch buckets vs index buckets, never
    // index-index; agreement arithmetic identical to the q67 pair oracle
    "q141_incremental_near_dups" ->
      s"""WITH ${polyShingleSigCte("documents WHERE doc_id < 1000 AND doc_id % 4 <> 0", "_i")},
         |${polyShingleSigCte("documents WHERE doc_id < 1000 AND doc_id % 4 = 0", "_n")},
         |bk_i AS (
         |${polyBandSelectsFor("_i")}
         |), bk_n AS (
         |${polyBandSelectsFor("_n")}
         |), cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
         |  FROM bk_n n JOIN bk_i i ON n.band = i.band AND n.band_key = i.band_key
         |)
         |SELECT new_id, index_id, CAST(($polyAgreeSql) AS DOUBLE) / 16.0 AS est_jaccard
         |FROM cand
         |JOIN sig_n sa ON sa.doc_id = new_id
         |JOIN sig_i sb ON sb.doc_id = index_id
         |WHERE CAST(($polyAgreeSql) AS DOUBLE) / 16.0 >= 0.5
         |ORDER BY new_id, index_id""".stripMargin,

    "q142_incremental_dedup" ->
      s"""WITH ${polyShingleSigCte("documents WHERE doc_id < 1000 AND doc_id % 4 <> 0", "_i")},
         |${polyShingleSigCte("documents WHERE doc_id < 1000 AND doc_id % 4 = 0", "_n")},
         |bk_i AS (
         |${polyBandSelectsFor("_i")}
         |), bk_n AS (
         |${polyBandSelectsFor("_n")}
         |), cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
         |  FROM bk_n n JOIN bk_i i ON n.band = i.band AND n.band_key = i.band_key
         |), hit AS (
         |  SELECT DISTINCT new_id
         |  FROM cand
         |  JOIN sig_n sa ON sa.doc_id = new_id
         |  JOIN sig_i sb ON sb.doc_id = index_id
         |  WHERE CAST(($polyAgreeSql) AS DOUBLE) / 16.0 >= 0.5
         |)
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |WHERE d.doc_id < 1000 AND d.doc_id % 4 = 0
         |  AND d.doc_id NOT IN (SELECT new_id FROM hit)
         |ORDER BY d.doc_id""".stripMargin,

    // two-level deterministic centroid fold: per (label, dim, md5-bucket)
    // list_reduce in id order, then in bucket order — the engine's exact
    // summation order, so means agree bit-for-bit before the round
    "q138_label_centroids" ->
      (labelCentroidCte +
        """SELECT label, dim, round(m, 9) + 0.0 AS mean_r
          |FROM c ORDER BY label, dim""".stripMargin),

    "q139_label_noise" ->
      (labelCentroidCte +
        """, cent AS (
          |  SELECT label, list(m ORDER BY dim) AS cv FROM c GROUP BY label
          |), scored AS (
          |  SELECT e.label, e.vec_id,
          |    round(list_dot_product(e.v, cent.cv) /
          |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) + 0.0 AS cr
          |  FROM e JOIN cent ON e.label = cent.label
          |), rk AS (
          |  SELECT label, vec_id, cr,
          |    row_number() OVER (PARTITION BY label ORDER BY cr ASC, vec_id) AS noise_rank
          |  FROM scored WHERE NOT isnan(cr)
          |)
          |SELECT label, vec_id, cr AS cos_centroid_r, noise_rank
          |FROM rk WHERE noise_rank <= 5
          |ORDER BY label, noise_rank""".stripMargin),

    "q140_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |), a AS (
        |  SELECT vec_id AS anchor_id, label AS al, v AS av FROM e WHERE vec_id < 5
        |), sc AS (
        |  SELECT anchor_id, e.vec_id AS neg_id, e.label AS neg_label,
        |    round(list_dot_product(av, e.v) /
        |      (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(e.v, e.v))), 6) + 0.0 AS cr
        |  FROM a JOIN e ON e.label <> a.al
        |), rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY cr DESC, neg_id) AS neg_rank
        |  FROM sc WHERE NOT isnan(cr)
        |)
        |SELECT anchor_id, neg_id, neg_label, cr AS cos_r, neg_rank
        |FROM rk WHERE neg_rank <= 5
        |ORDER BY anchor_id, neg_rank""".stripMargin,

    // LSH hard negatives: the q45 hyperplane-key interpolation, any-table
    // bucket match restricted to different-label pairs, exact cosine +
    // the engine's (cr DESC, neg_id) tie order over candidates only
    "q159_hard_negatives_lsh" -> {
      val (sums, keys) = hyperplaneKeySql(64, 8, 4, t => 7919L * (t + 1))
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (
         |  SELECT vec_id, label, v,
         |$sums
         |  FROM e
         |), kk AS (
         |  SELECT vec_id, label, v,
         |$keys
         |  FROM s
         |), a AS (SELECT * FROM kk WHERE vec_id < 50),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS anchor_id, c.vec_id AS neg_id
         |  FROM kk c JOIN a ON c.label <> a.label
         |    AND (c.k_0 = a.k_0 OR c.k_1 = a.k_1 OR c.k_2 = a.k_2 OR c.k_3 = a.k_3)
         |), sc AS (
         |  SELECT cand.anchor_id, cand.neg_id, c.label AS neg_label,
         |    round(list_dot_product(a.v, c.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 6) + 0.0 AS cr
         |  FROM cand
         |  JOIN e c ON c.vec_id = cand.neg_id
         |  JOIN e a ON a.vec_id = cand.anchor_id
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY cr DESC, neg_id) AS neg_rank
         |  FROM sc WHERE NOT isnan(cr)
         |)
         |SELECT anchor_id, neg_id, neg_label, cr AS cos_r, neg_rank
         |FROM rk WHERE neg_rank <= 5
         |ORDER BY anchor_id, neg_rank""".stripMargin
    },

    "q132_bpe_pair_counts" ->
      ("WITH " + bpeW0Sql + "\n" +
        """SELECT s[i+1] AS left_sym, s[i+2] AS right_sym, CAST(sum(cnt) AS BIGINT) AS pair_count
          |FROM state_0, unnest(range(len(s)-1)) AS u(i)
          |GROUP BY 1, 2
          |ORDER BY pair_count DESC, left_sym, right_sym LIMIT 30""".stripMargin),

    // full 12-round BPE re-training in DuckDB: the merge table must be
    // IDENTICAL to the engine's (same greedy semantics, same tie-break)
    // approximate batched BPE (the exactGreedy=false production path):
    // full SQL replay of the ranked skip-scan and chained rewrites
    "q283_bpe_approx_train" ->
      bpeApproxSql(numMerges = 6, maxBatch = 3, rounds = 6),

    "q133_bpe_train" ->
      (bpeStatePrefix(BpeNumMerges) + "\n" +
        (1 to BpeNumMerges).map(r =>
          s"SELECT $r AS merge_rank, a AS left_sym, b AS right_sym, CAST(c AS BIGINT) AS pair_count FROM best_$r")
          .mkString(" UNION ALL ") + " ORDER BY merge_rank"),

    // token frequencies after 12 merges == symbol frequencies of the
    // training state (encode-in-rank-order ≡ training-state-after-k,
    // both greedy): weight each distinct word's symbols by its count
    "q134_bpe_token_freq" ->
      (bpeStatePrefix(BpeNumMerges) + s"""
         |SELECT sym AS token, CAST(sum(cnt) AS BIGINT) AS freq
         |FROM state_$BpeNumMerges, unnest(s) AS u(sym)
         |GROUP BY sym ORDER BY freq DESC, token LIMIT 40""".stripMargin),

    // fertility: per-occurrence word stream joined to the replayed
    // training state's symbol lengths, exact integer sums per source
    "q174_bpe_fertility" ->
      (bpeStatePrefix(BpeNumMerges) + s""",
         |dw AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN text IS NULL OR len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |           ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END) AS word
         |  FROM documents
         |),
         |tl AS (
         |  SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS w, CAST(sum(len(st.s)) AS BIGINT) AS b
         |  FROM dw JOIN state_$BpeNumMerges st USING (word)
         |  GROUP BY dw.doc_id
         |),
         |agg AS (
         |  SELECT d.source,
         |    CAST(sum(coalesce(tl.w, 0)) AS BIGINT) AS n_words,
         |    CAST(sum(coalesce(tl.b, 0)) AS BIGINT) AS n_bpe_tokens
         |  FROM documents d LEFT JOIN tl USING (doc_id)
         |  GROUP BY d.source
         |)
         |SELECT source, n_words, n_bpe_tokens,
         |  round(n_bpe_tokens / n_words, 6) + 0.0 AS fertility_r
         |FROM agg ORDER BY source""".stripMargin),

    // tokenize (replayed training state) -> q76 shard/shuffle -> q60
    // packing arithmetic, end to end in one SQL chain
    "q146_bpe_packing" ->
      (bpeStatePrefix(BpeNumMerges) + s""",
         |dw AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN text IS NULL OR len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |           ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END) AS word
         |  FROM documents
         |),
         |tl AS (
         |  SELECT dw.doc_id, CAST(sum(len(st.s)) AS BIGINT) AS n
         |  FROM dw JOIN state_$BpeNumMerges st USING (word)
         |  GROUP BY dw.doc_id
         |),
         |lens AS (
         |  SELECT d.doc_id, coalesce(tl.n, 0) AS n_bpe_tokens
         |  FROM documents d LEFT JOIN tl USING (doc_id)
         |),
         |hx AS (
         |  SELECT doc_id, n_bpe_tokens, md5(CAST(doc_id AS VARCHAR) || 'graft-pack') AS hex
         |  FROM lens
         |),
         |sp AS (
         |  SELECT doc_id, n_bpe_tokens,
         |    CAST(CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
         |    CAST(ROW_NUMBER() OVER (
         |      PARTITION BY CAST(CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8 AS INT)
         |      ORDER BY hex, doc_id) AS BIGINT) AS shuffle_pos
         |  FROM hx
         |),
         |o AS (
         |  SELECT doc_id, shard, shuffle_pos, n_bpe_tokens,
         |    CAST(SUM(n_bpe_tokens) OVER (PARTITION BY shard ORDER BY shuffle_pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bpe_tokens AS BIGINT) AS "offset"
         |  FROM sp
         |)
         |SELECT doc_id, shard, shuffle_pos, n_bpe_tokens, "offset",
         |  "offset" // 512 AS chunk_first,
         |  ("offset" + GREATEST(n_bpe_tokens, 1) - 1) // 512 AS chunk_last,
         |  ("offset" + GREATEST(n_bpe_tokens, 1) - 1) // 512 - "offset" // 512 + 1 AS n_chunks
         |FROM o ORDER BY shard, shuffle_pos""".stripMargin),

    "q135_bpe_tokens_per_doc" ->
      (bpeStatePrefix(BpeNumMerges) + s""",
         |dw AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN text IS NULL OR len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |           ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END) AS word
         |  FROM documents
         |),
         |tl AS (
         |  SELECT dw.doc_id, CAST(sum(len(st.s)) AS BIGINT) AS n
         |  FROM dw JOIN state_$BpeNumMerges st USING (word)
         |  GROUP BY dw.doc_id
         |)
         |SELECT d.doc_id, coalesce(tl.n, 0) AS n_bpe_tokens
         |FROM documents d LEFT JOIN tl USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    "q30_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  round(SUM(l_extendedprice), 2) + 0.0 AS sum_base_r,
        |  round(SUM(l_extendedprice * (1.0 - l_discount)), 2) + 0.0 AS sum_disc_r,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q31_join_revenue" ->
      """SELECT n_name, round(SUM(o_totalprice), 2) + 0.0 AS revenue_r, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q32_window_running" ->
      """SELECT event_id, user_id, value,
        |  round(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) + 0.0 AS run_sum_r
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q33_sessionize" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), sess AS (
        |  -- DuckDB windowed SUM over integers yields HUGEINT (float64 in the
        |  -- driver's frame); CAST pins it to int64 to match Spark's output.
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  min(event_id) AS first_event, max(event_id) AS last_event,
        |  max(us) - min(us) AS duration_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q34_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value FROM events
        |), c AS (SELECT * FROM ev WHERE event_type = 'click'),
        |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.event_id, c.user_id, c.us,
        |    p.event_id AS asof_event_id, p.us AS asof_us, p.value AS asof_value,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY p.us DESC, p.event_id DESC) AS rn
        |  FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.us <= c.us
        |)
        |SELECT event_id, user_id, us, asof_event_id, asof_us, asof_value
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q35_range_join" ->
      """WITH bands AS (
        |  SELECT n_nationkey, n_name,
        |    CAST(n_nationkey AS DOUBLE) * 20000.0 AS lo,
        |    CAST(n_nationkey AS DOUBLE) * 20000.0 + 40000.0 AS hi
        |  FROM nation
        |), o AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price FROM orders)
        |SELECT o_orderkey, price, n_nationkey, n_name
        |FROM o JOIN bands ON price >= lo AND price < hi
        |ORDER BY o_orderkey, n_nationkey""".stripMargin,

    "q68_rollup" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        |  COUNT(*) AS n_rows,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q70_set_ops" ->
      """SELECT k, has_orders FROM (
        |  SELECT k, 1 AS has_orders FROM (
        |    SELECT c_custkey AS k FROM customer
        |    INTERSECT
        |    SELECT o_custkey AS k FROM orders
        |  )
        |  UNION ALL
        |  SELECT k, 0 AS has_orders FROM (
        |    SELECT c_custkey AS k FROM customer
        |    EXCEPT
        |    SELECT o_custkey AS k FROM orders
        |  )
        |) ORDER BY k""".stripMargin,

    "q72_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  round(SUM(o_totalprice), 2) + 0.0 AS sum_price_r,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q69_lead_lag" ->
      """SELECT event_id, user_id,
        |  lag(value) OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    "q80_pivot" ->
      """SELECT source,
        |  round(avg(n_chars) FILTER (WHERE lang = 'de'), 6) + 0.0 AS avg_de,
        |  round(avg(n_chars) FILTER (WHERE lang = 'en'), 6) + 0.0 AS avg_en,
        |  round(avg(n_chars) FILTER (WHERE lang = 'es'), 6) + 0.0 AS avg_es,
        |  round(avg(n_chars) FILTER (WHERE lang = 'fr'), 6) + 0.0 AS avg_fr,
        |  round(avg(n_chars) FILTER (WHERE lang = 'zh'), 6) + 0.0 AS avg_zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q81_ntile_rank" ->
      """SELECT doc_id, lang,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 9) + 0.0 AS pct_rank_r,
        |  round(cume_dist() OVER w, 9) + 0.0 AS cume_r
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
        |ORDER BY doc_id""".stripMargin,

    // dense hourly grid per event type (integer-div bucketing of epoch
    // nanos), empty buckets joined in as zeros, running sum forward-filled
    // with LAST_VALUE IGNORE NULLS over the same frame the engine uses
    "q82_resample_fill" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket,
        |         count(*) AS n, sum(value) AS sv
        |  FROM events GROUP BY 1, 2
        |), bounds AS (
        |  SELECT min(bucket) AS lo, max(bucket) AS hi FROM b
        |), grid AS (
        |  SELECT t.event_type, g.bucket
        |  FROM (SELECT DISTINCT event_type FROM b) t,
        |       (SELECT unnest(range(lo, hi + 1)) AS bucket FROM bounds) g
        |), joined AS (
        |  SELECT g.event_type, g.bucket, b.n, b.sv
        |  FROM grid g LEFT JOIN b USING (event_type, bucket)
        |)
        |SELECT event_type, bucket,
        |  coalesce(n, 0) AS n_events,
        |  round(last_value(sv IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0 AS filled_sum_r
        |FROM joined ORDER BY event_type, bucket""".stripMargin,

    "q83_vocabulary" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ts
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, unnest(ts) AS term FROM toks
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM p GROUP BY 1, 2
        |), v AS (
        |  SELECT term, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS term_freq
        |  FROM tf GROUP BY term
        |)
        |SELECT term, doc_freq, term_freq FROM v
        |ORDER BY doc_freq DESC, term LIMIT 50""".stripMargin,

    // BM25 constants are interpolated from the SAME Scala doubles the
    // operator uses (Double.toString round-trips exactly), so the two
    // sides cannot drift; the contribution fold is term-sorted on both.
    "q84_bm25" -> bm25OracleSql,

    // pseudo-relevance feedback: pass one's top page donates expansion
    // terms, the widened query re-scores through identical BM25 CTEs
    "q287_bm25_prf" -> bm25PrfSql,

    // the persisted-artifact serving replay shares q287's oracle
    // verbatim (the q248/q274 serving-parity discipline)
    "q289_bm25_prf_served" -> bm25PrfSql,

    // persisted-index BM25 (q248) serves the SAME scores as the ad-hoc
    // search — one oracle, two engine paths (the drift-proof contract)
    "q248_bm25_preindexed" -> bm25OracleSql,
    "q256_bm25_takedown" -> bm25OracleSqlFor(" WHERE doc_id % 7 <> 3"),

    // unigram-LM tokenizer: the oracle RE-TRAINS from scratch — same
    // candidate cap, 2 hard-EM rounds of Viterbi DP (forward + backtrack
    // unrolled to 12 positions), identical ln-decomposed scores and
    // argmax tie order; must land on the identical vocabulary and counts
    "q249_unigram_train" -> unigramTrainSql(
      maxPieceLen = 4, vocabSize = 64, iters = 2, maxWordLen = 12),

    // per-doc unigram token counts: re-train + one encode DP, then the
    // distinct-word lengths join back at doc grain (0 for empty docs)
    "q251_unigram_tokens_per_doc" -> (
      "WITH " +
      unigramCtes(maxPieceLen = 4, vocabSize = 64, iters = 2, maxWordLen = 12) + ",\n" +
      unigramRoundCtes(3, 12) + s""",
         |wtok AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n_tok
         |  FROM (${(1 to 12).map(j => s"SELECT word, piece FROM k3_$j").mkString(" UNION ALL ")})
         |  GROUP BY word
         |),
         |dw AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN text IS NULL OR len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |           ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END) AS word
         |  FROM documents
         |),
         |tl AS (
         |  SELECT dw.doc_id, CAST(sum(wt.n_tok) AS BIGINT) AS n
         |  FROM dw JOIN wtok wt USING (word) GROUP BY dw.doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(tl.n, 0) AS BIGINT) AS n_unigram_tokens
         |FROM documents d LEFT JOIN tl USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // per-doc unigram LM score: word lnp folds pieces ORDER BY pos (the
    // segmentation order the engine's token array carries), doc folds
    // word lnps ORDER BY token position — both 0.0-seeded like the
    // engine's aggregate() folds
    "q253_unigram_doc_logprob" -> (
      "WITH " +
      unigramCtes(maxPieceLen = 4, vocabSize = 64, iters = 2, maxWordLen = 12) + ",\n" +
      unigramRoundCtes(3, 12) + s""",
         |wl AS MATERIALIZED (
         |  SELECT k.word, CAST(count(*) AS BIGINT) AS n_tok,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(sc3.s ORDER BY k.pos)), (a, b) -> a + b) AS lnp
         |  FROM (${(1 to 12).map(j => s"SELECT word, pos, piece FROM k3_$j").mkString(" UNION ALL ")}) k
         |  JOIN sc3 ON sc3.piece = k.piece
         |  GROUP BY k.word
         |),
         |dt AS (
         |  SELECT doc_id,
         |    CASE WHEN text IS NULL OR len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents
         |),
         |dwp AS (
         |  SELECT doc_id, unnest(ts) AS word, unnest(range(1, len(ts) + 1)) AS pos
         |  FROM dt
         |),
         |tl AS (
         |  SELECT dwp.doc_id, CAST(sum(wl.n_tok) AS BIGINT) AS np,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(wl.lnp ORDER BY dwp.pos)), (a, b) -> a + b) AS s
         |  FROM dwp JOIN wl USING (word) GROUP BY dwp.doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(tl.np, 0) AS BIGINT) AS n_pieces,
         |  CASE WHEN coalesce(tl.np, 0) > 0 THEN round(tl.s, 6) + 0.0 END AS sum_lnp_r,
         |  CASE WHEN coalesce(tl.np, 0) > 0 THEN round(tl.s / tl.np, 6) + 0.0 END AS avg_lnp_r
         |FROM documents d LEFT JOIN tl USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // ensemble-judge consensus: raw majority -> agreement-weighted vote
    // (judge-ordered weight folds, ties binary-smaller)
    "q254_judge_consensus" -> judgeConsensusSql,

    // pairwise Cohen's kappa over the q254 panel: co-judgment self-join
    // with judge_a < judge_b (binary order), exact-integer marginal
    // products, kappa = (agree*n - S)/(n^2 - S) in one division
    "q284_judge_kappa" ->
      (s"""WITH $judgePanelCtes, co AS MATERIALIZED (
          |  SELECT a.judge AS judge_a, b.judge AS judge_b,
          |         a.label AS la, b.label AS lb
          |  FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.judge < b.judge
          |), cnt AS (
          |  SELECT judge_a, judge_b, CAST(count(*) AS BIGINT) AS n_items,
          |    CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
          |  FROM co GROUP BY 1, 2
          |), ac AS (
          |  SELECT judge_a, judge_b, la AS c, CAST(count(*) AS BIGINT) AS ac
          |  FROM co GROUP BY 1, 2, 3
          |), bc AS (
          |  SELECT judge_a, judge_b, lb AS c, CAST(count(*) AS BIGINT) AS bc
          |  FROM co GROUP BY 1, 2, 3
          |), sm AS (
          |  SELECT judge_a, judge_b, CAST(sum(ac * bc) AS BIGINT) AS s
          |  FROM ac JOIN bc USING (judge_a, judge_b, c) GROUP BY 1, 2
          |)
          |SELECT cnt.judge_a, cnt.judge_b, n_items, n_agree,
          |  CASE WHEN n_items * n_items - coalesce(s, 0) = 0 THEN NULL
          |       ELSE round(CAST(n_agree * n_items - coalesce(s, 0) AS DOUBLE)
          |         / CAST(n_items * n_items - coalesce(s, 0) AS DOUBLE), 6) + 0.0
          |  END AS kappa_r
          |FROM cnt LEFT JOIN sm USING (judge_a, judge_b)
          |ORDER BY judge_a, judge_b""".stripMargin),

    // Krippendorff's nominal alpha over a panel WITH abstentions (each
    // judge skips a doc_id % 7 slice): observed disagreement grouped by
    // panel size (shared 1/(m-1) denominator, folded in m order),
    // expected side pure integers, alpha = 1 - Do_sum*(n-1)/(n^2 - sum nc^2)
    "q285_krippendorff" ->
      ("""WITH d AS (
         |  SELECT doc_id, n_chars, lang,
         |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ts
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), v AS MATERIALIZED (
         |  SELECT doc_id, 'len' AS judge,
         |    CASE WHEN n_chars >= 300 THEN 'hi' ELSE 'lo' END AS label
         |  FROM d WHERE doc_id % 7 <> 0
         |  UNION ALL SELECT doc_id, 'tok',
         |    CASE WHEN len(ts) >= 50 THEN 'hi' ELSE 'lo' END
         |  FROM d WHERE doc_id % 7 <> 1
         |  UNION ALL SELECT doc_id, 'lang',
         |    CASE WHEN lang = 'en' THEN 'hi' ELSE 'lo' END
         |  FROM d WHERE doc_id % 7 <> 2
         |  UNION ALL SELECT doc_id, 'fuzz',
         |    CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-judge'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 >= 0.5
         |         THEN 'hi' ELSE 'lo' END
         |  FROM d WHERE doc_id % 7 <> 3
         |), nu AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nu FROM v GROUP BY doc_id
         |), vu AS MATERIALIZED (
         |  SELECT v.doc_id, v.label, nu.nu FROM v JOIN nu USING (doc_id)
         |  WHERE nu.nu >= 2
         |), nuc AS (
         |  SELECT doc_id, nu, label, CAST(count(*) AS BIGINT) AS nuc
         |  FROM vu GROUP BY 1, 2, 3
         |), bym AS (
         |  SELECT nu AS m, CAST(sum(nuc * (nu - nuc)) AS BIGINT) AS sm
         |  FROM nuc GROUP BY nu
         |), dos AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(CAST(sm AS DOUBLE) / CAST(m - 1 AS DOUBLE) ORDER BY m)),
         |    (a, b) -> a + b) AS dosum FROM bym
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_units FROM vu
         |), lc AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS nc FROM vu GROUP BY label
         |), l2 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_labels,
         |    CAST(sum(nc * nc) AS BIGINT) AS sumc2 FROM lc
         |)
         |SELECT n_units, n AS n_ratings, n_labels,
         |  round(dosum / n, 6) + 0.0 AS do_r,
         |  round(CAST(n * n - sumc2 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6)
         |    + 0.0 AS de_r,
         |  CASE WHEN n * n - sumc2 = 0 THEN NULL
         |       ELSE round(1.0 - dosum * CAST(n - 1 AS DOUBLE)
         |         / CAST(n * n - sumc2 AS DOUBLE), 6) + 0.0
         |  END AS alpha_r
         |FROM dos, tot, l2""".stripMargin),

    // interval-metric alpha over the graded 0–3 twin of the q285 panel:
    // per-unit ordered-pair squared-difference sums 2(m·Σv² − (Σv)²)
    // folded by panel size; expected side 2(n·Σv² − (Σv)²) over all
    // ratings — exact integers on both sides
    "q291_krippendorff_interval" ->
      ("""WITH d AS (
         |  SELECT doc_id, n_chars, lang,
         |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ts
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), v AS MATERIALIZED (
         |  SELECT doc_id, 'len' AS judge,
         |    least(CAST(floor(n_chars / 200) AS BIGINT), 3) AS label
         |  FROM d WHERE doc_id % 7 <> 0
         |  UNION ALL SELECT doc_id, 'tok',
         |    least(CAST(floor(len(ts) / 30) AS BIGINT), 3)
         |  FROM d WHERE doc_id % 7 <> 1
         |  UNION ALL SELECT doc_id, 'lang',
         |    CASE WHEN lang = 'en' THEN 3 ELSE 1 END
         |  FROM d WHERE doc_id % 7 <> 2
         |  UNION ALL SELECT doc_id, 'fuzz',
         |    CAST(floor(CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-judge'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 * 4.0) AS BIGINT)
         |  FROM d WHERE doc_id % 7 <> 3
         |), nu AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nu FROM v GROUP BY doc_id
         |), vu AS MATERIALIZED (
         |  SELECT v.doc_id, v.label, nu.nu FROM v JOIN nu USING (doc_id)
         |  WHERE nu.nu >= 2
         |), su AS (
         |  SELECT doc_id, nu, CAST(sum(label) AS BIGINT) AS s,
         |    CAST(sum(label * label) AS BIGINT) AS q
         |  FROM vu GROUP BY 1, 2
         |), bym AS (
         |  SELECT nu AS m, CAST(sum(2 * (nu * q - s * s)) AS BIGINT) AS sm
         |  FROM su GROUP BY nu
         |), dos AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(CAST(sm AS DOUBLE) / CAST(m - 1 AS DOUBLE) ORDER BY m)),
         |    (a, b) -> a + b) AS dosum FROM bym
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_units,
         |    CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
         |    CAST(sum(label) AS BIGINT) AS gs,
         |    CAST(sum(label * label) AS BIGINT) AS gq
         |  FROM vu
         |), dd AS (
         |  SELECT CAST(2 * (n * gq - gs * gs) AS BIGINT) AS d2 FROM tot
         |)
         |SELECT n_units, n AS n_ratings, n_labels,
         |  round(dosum / n, 6) + 0.0 AS do_r,
         |  round(CAST(d2 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6)
         |    + 0.0 AS de_r,
         |  CASE WHEN d2 = 0 THEN NULL
         |       ELSE round(1.0 - dosum * CAST(n - 1 AS DOUBLE)
         |         / CAST(d2 AS DOUBLE), 6) + 0.0
         |  END AS alpha_r
         |FROM dos, tot, dd""".stripMargin),

    // l-diversity verdict: distinct sensitive balance bands per
    // (nation, segment) class — exact distinct counts, one division
    "q286_l_diversity" ->
      ("""WITH c AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS bal_band
         |  FROM customer
         |), cls AS (
         |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_n,
         |    CAST(count(DISTINCT bal_band) AS BIGINT) AS n_sensitive
         |  FROM c GROUP BY 1, 2
         |)
         |SELECT CAST(sum(class_n) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_classes,
         |  CAST(min(n_sensitive) AS BIGINT) AS l_actual,
         |  CAST(sum(CASE WHEN n_sensitive < 8 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_classes_below_l,
         |  CAST(coalesce(sum(CASE WHEN n_sensitive < 8 THEN class_n END), 0)
         |    AS BIGINT) AS n_rows_at_risk,
         |  CAST(sum(CASE WHEN n_sensitive = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_homogeneous,
         |  round(CAST(coalesce(sum(CASE WHEN n_sensitive < 8 THEN class_n END), 0)
         |    AS DOUBLE) / sum(class_n), 6) + 0.0 AS at_risk_frac_r
         |FROM cls""".stripMargin),

    // serving-path parity: consensus from the STANDING counters
    // (judgeCounters -> consensusWithCounters) answers the same panel
    // with the same weights, so it shares q254's oracle verbatim
    "q270_judge_served" -> judgeConsensusSql,

    // unigram ENCODE->PACK end to end: re-train + re-encode in SQL,
    // piece ids from the ranked final vocabulary, stream positions and
    // chunk cuts in exact integer math, per-chunk id streams in global
    // order — the packed sequences ride REAL subword ids
    "q260_unigram_pack" -> (
      s"""WITH $unigramPackCtes,
         |stream AS MATERIALIZED (
         |  SELECT pk.shard, pk."offset" + dw.woff + wp.widx AS gpos, wp.pid
         |  FROM pk JOIN dw USING (doc_id) JOIN wp ON wp.word = dw.word
         |)
         |SELECT shard, gpos // 128 AS chunk_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  string_agg(CAST(pid AS VARCHAR), ' ' ORDER BY gpos) AS chunk_ids
         |FROM stream GROUP BY shard, gpos // 128
         |ORDER BY shard, chunk_id""".stripMargin),

    // lineage of the q260 packing over the SAME subword streams: which
    // doc contributed which id span of which chunk (integer arithmetic
    // over the pack offsets)
    "q261_unigram_provenance" -> (
      s"""WITH $unigramPackCtes,
         |pr AS (
         |  SELECT pk.shard, u.c AS chunk_id, pk.doc_id,
         |    greatest(pk."offset", u.c * 128) - u.c * 128 AS chunk_start,
         |    least(pk."offset" + pk.np, u.c * 128 + 128)
         |      - greatest(pk."offset", u.c * 128) AS n_from_doc
         |  FROM pk, unnest(range(pk."offset" // 128,
         |    (pk."offset" + pk.np - 1) // 128 + 1)) AS u(c)
         |  WHERE pk.np > 0
         |)
         |SELECT shard, chunk_id, doc_id,
         |  CAST(chunk_start AS BIGINT) AS chunk_start,
         |  CAST(n_from_doc AS BIGINT) AS n_from_doc
         |FROM pr ORDER BY shard, chunk_id, doc_id""".stripMargin),

    // serving-side encode through the persisted tokenizer artifact:
    // identical to the in-memory encode chain, so the oracle re-trains
    // + re-encodes (the q260 CTEs) and emits each document's id stream
    // in word-position x segmentation order
    "q262_tokenizer_artifact" -> (
      s"""WITH $unigramPackCtes,
         |ds AS (
         |  SELECT dw.doc_id, dw.woff + wp.widx AS p, wp.pid
         |  FROM dw JOIN wp ON wp.word = dw.word
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces,
         |    string_agg(CAST(pid AS VARCHAR), ' ' ORDER BY p) AS ids_str
         |  FROM ds GROUP BY doc_id
         |), ids AS (SELECT DISTINCT doc_id FROM documents)
         |SELECT ids.doc_id, CAST(coalesce(agg.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  agg.ids_str
         |FROM ids LEFT JOIN agg USING (doc_id)
         |ORDER BY ids.doc_id""".stripMargin),

    // full hard-EM Dawid-Skene over the same panel: the oracle unrolls
    // both re-estimation rounds (smoothed priors + per-judge confusion
    // matrices, ln-domain judge-ordered folds) and must land on the
    // identical consensus AND posterior
    "q258_dawid_skene" -> dawidSkeneSql(2),

    // RLHF preference-pair construction: best-vs-worst candidate per
    // doc_id % 37 prompt bucket, margin-gated, ties toward the
    // binary-smaller candidate on both ends
    "q263_pref_pairs" ->
      """WITH b AS (
        |  SELECT doc_id % 37 AS item, doc_id AS cand, CAST(n_chars AS DOUBLE) AS score
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |), best AS (
        |  SELECT item, cand AS chosen, score AS chosen_score FROM b
        |  QUALIFY row_number() OVER (PARTITION BY item ORDER BY score DESC, cand ASC) = 1
        |), worst AS (
        |  SELECT item, cand AS rejected, score AS rejected_score FROM b
        |  QUALIFY row_number() OVER (PARTITION BY item ORDER BY score ASC, cand ASC) = 1
        |), nc AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS n_candidates FROM b GROUP BY item
        |)
        |SELECT best.item, chosen, rejected, chosen_score, rejected_score, n_candidates
        |FROM best JOIN worst USING (item) JOIN nc USING (item)
        |WHERE chosen <> rejected AND chosen_score - rejected_score >= 50.0
        |ORDER BY best.item""".stripMargin,

    // Bradley-Terry strength fit over adjacent-doc length duels between
    // sources: the oracle unrolls all four MM rounds (opponent-ordered
    // denominator folds, binary-smallest-player normalization)
    "q264_bradley_terry" -> bradleyTerrySql(4),

    // document-intact next-fit packing: the sequential recurrence
    // replayed as a recursive CTE (working table = one open bin per
    // shard per step)
    "q271_pack_intact" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id % 4 AS shard, doc_id, CAST(n_chars AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |), nf(shard, rn, doc_id, n, bin, fill) AS (
        |  SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT), n FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.shard, s.rn, s.doc_id, s.n,
        |    CASE WHEN nf.fill + s.n <= 2000 THEN nf.bin ELSE nf.bin + 1 END,
        |    CASE WHEN nf.fill + s.n <= 2000 THEN nf.fill + s.n ELSE s.n END
        |  FROM nf JOIN s ON s.shard = nf.shard AND s.rn = nf.rn + 1
        |)
        |SELECT shard, doc_id, n AS n_chars, bin
        |FROM nf ORDER BY shard, doc_id""".stripMargin,

    // RAG chunk retrieval: the q86 chunker -> surrogate chunk ids ->
    // the q84 BM25 chain at chunk grain -> integer provenance back to
    // (doc_id, chunk_idx)
    "q269_rag_chunks" -> ragChunksSql,

    // chunk-grain retrieval SERVING: the same search answered from the
    // PERSISTED chunk index (built once per sf dir), so it shares
    // q269's oracle verbatim — the q248 serve-forever discipline at
    // chunk grain
    "q274_rag_chunks_served" -> ragChunksSql,

    // chunk-grain PRF served off the persisted chunk index + its
    // chunk-grain forward sidecar: the q287 two-pass chain at chunk
    // grain, cid provenance mapped back to (doc_id, chunk_idx)
    "q292_rag_prf_served" -> ragChunksPrfSql,

    // RAG context expansion: ±1-neighbor stitch of the served chunk
    // hits — pinned as EXACT source-span reconstruction
    // (substr(text, lo·150+1, (hi−lo)·150+200), the overlap-trim
    // identity)
    "q295_rag_context" -> (ragChunkRunCtes +
      s""", hit AS (
         |  SELECT qid, cid, rank FROM rk WHERE rank <= 5
         |), span AS (
         |  SELECT h.qid, h.rank, h.cid, h.cid // 1000 AS doc_id,
         |    greatest(h.cid % 1000 - 1, 0) AS clo,
         |    least(h.cid % 1000 + 1, n.nc - 1) AS chi,
         |    n.text
         |  FROM hit h JOIN n ON n.doc_id = h.cid // 1000
         |)
         |SELECT qid, rank, doc_id, clo AS chunk_lo, chi AS chunk_hi,
         |  substr(text, CAST(clo * 150 + 1 AS BIGINT),
         |    CAST((chi - clo) * 150 + 200 AS BIGINT)) AS context
         |FROM span ORDER BY qid, rank""".stripMargin),

    // chunk→doc ranking collapse: best chunk rank per document, docs
    // re-ranked (rank asc, doc asc) — the grain adapter for doc qrels
    "q298_doc_collapse" -> (ragChunkRunCtes +
      s""", hit AS (
         |  SELECT qid, cid, rank FROM rk WHERE rank <= 10
         |), b AS (
         |  SELECT qid, cid // 1000 AS doc_id,
         |    CAST(min(rank) AS BIGINT) AS best_chunk_rank
         |  FROM hit GROUP BY 1, 2
         |)
         |SELECT qid, doc_id, best_chunk_rank,
         |  row_number() OVER (PARTITION BY qid
         |    ORDER BY best_chunk_rank, doc_id) AS doc_rank
         |FROM b ORDER BY qid, doc_rank""".stripMargin),

    // chunk-grain RTBF: every doc_id % 7 == 3 document forgotten BY DOC
    // ID against the chunk index (cids recovered from the doclens
    // ledger, no corpus access); oracle = the chunk run over the
    // surviving documents — post-delete serve ≡ rebuild
    "q299_chunk_takedown" -> (ragChunkRunCtesWhere(" AND doc_id % 7 != 3") +
      s"""
         |SELECT qid, rank, cid // 1000 AS doc_id, cid % 1000 AS chunk_idx,
         |  round(score, 6) + 0.0 AS score_r
         |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // token-budget context packing: the q295 contexts in rank order
    // under a running-sum 200-token ceiling (monotone greedy prefix)
    "q296_context_budget" -> (ragChunkRunCtes +
      s""", hit AS (
         |  SELECT qid, cid, rank FROM rk WHERE rank <= 5
         |), span AS (
         |  SELECT h.qid, h.rank, h.cid, h.cid // 1000 AS doc_id,
         |    greatest(h.cid % 1000 - 1, 0) AS clo,
         |    least(h.cid % 1000 + 1, n.nc - 1) AS chi,
         |    n.text
         |  FROM hit h JOIN n ON n.doc_id = h.cid // 1000
         |), ctx AS (
         |  SELECT qid, rank, doc_id,
         |    substr(text, CAST(clo * 150 + 1 AS BIGINT),
         |      CAST((chi - clo) * 150 + 200 AS BIGINT)) AS context
         |  FROM span
         |), cost AS (
         |  SELECT qid, rank, doc_id,
         |    CASE WHEN len(regexp_replace(context, '^\\s+|\\s+$$', '', 'g')) = 0 THEN 0
         |         ELSE len(string_split_regex(regexp_replace(context, '^\\s+|\\s+$$', '', 'g'), '\\s+')) END AS n_tokens
         |  FROM ctx
         |), packed AS (
         |  SELECT qid, rank, doc_id, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY qid ORDER BY rank) AS cum_cost
         |  FROM cost
         |)
         |SELECT qid, rank, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(cum_cost AS BIGINT) AS cum_cost
         |FROM packed WHERE cum_cost <= 200 ORDER BY qid, rank""".stripMargin),

    // sharded-export manifest: md5-prefix shard routing, exact counts,
    // order-independent integer id checksums
    // the takedown'd delivery manifest re-derived over the SURVIVORS:
    // takedown ≡ write-once without the removed rows
    "q281_shard_takedown" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'm16'), 1, 8)) AS BIGINT) AS h
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id % 7 <> 3
        |)
        |SELECT h % 8 AS shard, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(h) AS BIGINT) AS id_checksum
        |FROM h GROUP BY h % 8 ORDER BY shard""".stripMargin,

    "q268_shard_manifest" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'm14'), 1, 8)) AS BIGINT) AS h
        |  FROM documents WHERE doc_id IS NOT NULL
        |)
        |SELECT h % 8 AS shard, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(h) AS BIGINT) AS id_checksum
        |FROM h GROUP BY h % 8 ORDER BY shard""".stripMargin,

    // sorted batching for inference: per-shard (len DESC, id) order,
    // 32-doc batches, padding fraction off exact integers
    "q279_length_batches" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, doc_id % 8 AS shard
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |), a AS (
        |  SELECT shard, doc_id, n_chars,
        |    (row_number() OVER (PARTITION BY shard ORDER BY n_chars DESC, doc_id ASC)
        |      - 1) // 32 AS batch_idx
        |  FROM d
        |)
        |SELECT shard, batch_idx, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(n_chars) AS BIGINT) AS max_len,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_len,
        |  round(CAST(count(*) * max(n_chars) - sum(n_chars) AS DOUBLE) /
        |    CAST(count(*) * max(n_chars) AS DOUBLE), 6) + 0.0 AS pad_frac_r
        |FROM a GROUP BY shard, batch_idx
        |ORDER BY shard, batch_idx""".stripMargin,

    // graded ranking evaluation of the q84 BM25 run against derived
    // qrels (docs containing each query's head term, grade 1 + id%3):
    // MRR / P@10 / recall@10 / nDCG@10 per query, every discount
    // spelled ln(x)/ln(2) so both engines run the same libm calls and
    // every sum is a rank- or ideal-ordered fold
    "q278_ranking_eval" -> (rankingEvalCtes + rankingEvalPerQuery +
      "\nORDER BY i.qid"),

    // paired A/B ranking comparison with a deterministic bootstrap CI
    // over queries: run B is run A with its top-10 page REVERSED, so
    // the same-document metrics (precision/recall) delta exactly 0 and
    // the order-sensitive ones (MRR/nDCG) regress with a CI that
    // excludes 0
    "q282_ranking_compare" -> rankingCompareSql,

    // the one-row TREC macro-average over q278's per-query metrics:
    // judged queries only, query-ordered folds over the ROUNDED
    // per-query values (the operator's contract)
    "q280_ranking_summary" -> (rankingEvalCtes +
      s""", pq AS MATERIALIZED (
         |$rankingEvalPerQuery
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(mrr_r ORDER BY qid)), (a, b) -> a + b) / count(*), 6)
         |    + 0.0 AS mrr_r,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(precision_r ORDER BY qid)), (a, b) -> a + b) / count(*), 6)
         |    + 0.0 AS precision_r,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(recall_r ORDER BY qid)), (a, b) -> a + b) / count(*), 6)
         |    + 0.0 AS recall_r,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(ndcg_r ORDER BY qid)), (a, b) -> a + b) / count(*), 6)
         |    + 0.0 AS ndcg_r,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(map_r ORDER BY qid)), (a, b) -> a + b) / count(*), 6)
         |    + 0.0 AS map_r
         |FROM pq WHERE n_judged > 0""".stripMargin),

    // iterated DoReMi: q265's losses through TWO MW rounds, each
    // renormalizing over the sorted-domain fold and mixing toward
    // uniform — round 1 is exactly q265's weight, round 2 multiplies it
    // by the same linearized factor and repeats the fold
    "q275_reweight_iterated" -> (domainReweightCtes +
      s"""
         |, w1 AS MATERIALIZED (
         |  SELECT domain, excess,
         |    CAST(0.75 AS DOUBLE) * (raw / z) + CAST(0.25 AS DOUBLE) / k AS w
         |  FROM x, zz
         |), r2 AS MATERIALIZED (
         |  SELECT domain, excess,
         |    w * (CAST(1.0 AS DOUBLE) + CAST(2.0 AS DOUBLE) * excess) AS raw
         |  FROM w1
         |), z2 AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(raw ORDER BY domain NULLS FIRST)), (a, b) -> a + b) AS z,
         |    CAST(count(*) AS BIGINT) AS k
         |  FROM r2
         |)
         |SELECT domain, round(excess, 6) + 0.0 AS excess_r,
         |  round(CAST(0.75 AS DOUBLE) * (raw / z) + CAST(0.25 AS DOUBLE) / k, 6)
         |    + 0.0 AS weight_r
         |FROM r2, z2 ORDER BY domain NULLS FIRST""".stripMargin),

    // soft Dawid-Skene: the full EM re-run (q258's rounds), then the
    // final round's per-(item, label) LINEAR mass (judge-ordered
    // multiplicative folds of the same smoothed rationals), normalized
    // by the hard winner's mass and the label-ordered ratio sum
    "q276_ds_posteriors" -> dsPosteriorsSql(2),

    // incremental shard export: write-once(2/3) + append(1/3) must
    // publish the manifest of the UNION — the oracle derives it from
    // the whole corpus directly
    "q277_shard_append" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'm15'), 1, 8)) AS BIGINT) AS h
        |  FROM documents WHERE doc_id IS NOT NULL
        |)
        |SELECT h % 8 AS shard, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(h) AS BIGINT) AS id_checksum
        |FROM h GROUP BY h % 8 ORDER BY shard""".stripMargin,

    // DoReMi-style domain reweighting: excess loss per source, one
    // linearized MW round, sorted-domain normalization fold, uniform
    // smoothing — every double replayed
    "q265_domain_reweight" -> (domainReweightCtes +
      s"""
         |SELECT domain, round(excess, 6) + 0.0 AS excess_r,
         |  round(CAST(0.75 AS DOUBLE) * (raw / z) + CAST(0.25 AS DOUBLE) / k, 6)
         |    + 0.0 AS weight_r
         |FROM x, zz ORDER BY domain NULLS FIRST""".stripMargin),

    // the optimized mixture against a TOKEN budget: q265 weights ->
    // exact per-domain token totals -> keep-rate min(1, target*w/toks)
    "q272_mixture_tokens" -> (domainReweightCtes +
      s""", w AS (
         |  SELECT domain,
         |    round(CAST(0.75 AS DOUBLE) * (raw / z) + CAST(0.25 AS DOUBLE) / k, 6)
         |      + 0.0 AS wt
         |  FROM x, zz
         |), cnt AS (
         |  SELECT source AS domain, CAST(sum(n_chars) AS BIGINT) AS toks
         |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
         |  GROUP BY source
         |), acc AS (
         |  SELECT domain,
         |    least(CAST(1.0 AS DOUBLE),
         |      CAST(100000.0 AS DOUBLE) * wt / CAST(toks AS DOUBLE)) AS a
         |  FROM w JOIN cnt USING (domain) WHERE toks > 0
         |)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN acc ON d.source = acc.domain
         |WHERE d.doc_id IS NOT NULL AND d.n_chars IS NOT NULL
         |  AND CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'graft-r14'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < a
         |ORDER BY d.doc_id""".stripMargin),

    // the optimized mixture applied: q265 weights -> per-source
    // acceptance cuts -> deterministic md5 resample toward 200 rows
    "q266_mixture_resample" -> (domainReweightCtes +
      s""", w AS (
         |  SELECT domain,
         |    round(CAST(0.75 AS DOUBLE) * (raw / z) + CAST(0.25 AS DOUBLE) / k, 6)
         |      + 0.0 AS wt
         |  FROM x, zz
         |), cnt AS (
         |  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n
         |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
         |  GROUP BY source
         |), acc AS (
         |  SELECT domain,
         |    least(CAST(1.0 AS DOUBLE), CAST(200.0 AS DOUBLE) * wt / CAST(n AS DOUBLE)) AS a
         |  FROM w JOIN cnt USING (domain)
         |)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN acc ON d.source = acc.domain
         |WHERE d.doc_id IS NOT NULL AND d.n_chars IS NOT NULL
         |  AND CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'graft-r14'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < a
         |ORDER BY d.doc_id""".stripMargin),

    // gold-anchored consensus: confusions from the doc_id % 11 gold
    // slice only, one scoring pass over every voted item
    "q259_gold_judges" -> goldJudgesSql,

    // labeler report card vs the weighted consensus
    "q255_judge_reliability" ->
      s"""WITH $judgeVoteCtes
         |SELECT v.judge, CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(CASE WHEN v.label = win.consensus THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |  round(CAST(sum(CASE WHEN v.label = win.consensus THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) + 0.0 AS agree_rate_r
         |FROM v JOIN win USING (doc_id)
         |GROUP BY v.judge ORDER BY v.judge""".stripMargin,

    // fertility head-to-head: BOTH tokenizers re-trained from scratch in
    // one SQL chain (BPE merge replay + unigram EM replay + one encode
    // DP under the final vocab), then per-source tokens-per-word
    "q250_unigram_fertility" -> (
      bpeStatePrefix(BpeNumMerges) + ",\n" +
      unigramCtes(maxPieceLen = 4, vocabSize = 64, iters = 2, maxWordLen = 12) + ",\n" +
      unigramRoundCtes(3, 12) + s""",
         |wtok AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n_tok
         |  FROM (${(1 to 12).map(j => s"SELECT word, piece FROM k3_$j").mkString(" UNION ALL ")})
         |  GROUP BY word
         |),
         |dw AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN text IS NULL OR len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |           ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END) AS word
         |  FROM documents
         |),
         |utl AS (
         |  SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS w,
         |    CAST(sum(wt.n_tok) AS BIGINT) AS u
         |  FROM dw JOIN wtok wt USING (word) GROUP BY dw.doc_id
         |),
         |btl AS (
         |  SELECT dw.doc_id, CAST(sum(len(st.s)) AS BIGINT) AS b
         |  FROM dw JOIN state_$BpeNumMerges st USING (word) GROUP BY dw.doc_id
         |),
         |agg AS (
         |  SELECT d.source,
         |    CAST(sum(coalesce(utl.w, 0)) AS BIGINT) AS n_words,
         |    CAST(sum(coalesce(utl.u, 0)) AS BIGINT) AS n_uni_tokens,
         |    CAST(sum(coalesce(btl.b, 0)) AS BIGINT) AS n_bpe_tokens
         |  FROM documents d LEFT JOIN utl USING (doc_id) LEFT JOIN btl USING (doc_id)
         |  GROUP BY d.source
         |)
         |SELECT source, n_words, n_uni_tokens, n_bpe_tokens,
         |  round(n_uni_tokens / n_words, 6) + 0.0 AS uni_fertility_r,
         |  round(n_bpe_tokens / n_words, 6) + 0.0 AS bpe_fertility_r,
         |  round(round(n_bpe_tokens / n_words, 6) - round(n_uni_tokens / n_words, 6), 6) + 0.0 AS uni_advantage_r
         |FROM agg ORDER BY source""".stripMargin),

    // z-scores from EXACT integer moments — both engines derive
    // mean/variance from the same exact sums, so the doubles agree bitwise
    "q85_zscore_outliers" ->
      """WITH st AS (
        |  SELECT lang, count(n_chars) AS n, sum(n_chars) AS sx,
        |         sum(CAST(n_chars AS BIGINT) * n_chars) AS sxx
        |  FROM documents GROUP BY lang
        |), z AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |    CAST(sx AS DOUBLE) / n AS mean,
        |    CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS var
        |  FROM documents d JOIN st USING (lang)
        |)
        |SELECT doc_id, lang, n_chars,
        |  round(CASE WHEN var > 0 THEN (CAST(n_chars AS DOUBLE) - mean) / sqrt(var) END, 9) + 0.0 AS z_r,
        |  CASE WHEN var > 0 THEN abs((CAST(n_chars AS DOUBLE) - mean) / sqrt(var)) > 2.0 END AS is_outlier
        |FROM z ORDER BY doc_id""".stripMargin,

    "q86_chunking" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(text) <= 200 THEN 1
        |         ELSE CAST(ceil(CAST(len(text) - 200 AS DOUBLE) / 150.0) AS BIGINT) + 1 END AS nc
        |  FROM documents WHERE text IS NOT NULL
        |), e AS (
        |  SELECT doc_id, text, unnest(range(0, nc)) AS chunk_idx FROM n
        |)
        |SELECT doc_id, chunk_idx,
        |  substr(text, chunk_idx * 150 + 1, 200) AS chunk,
        |  len(substr(text, chunk_idx * 150 + 1, 200)) AS chunk_len
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    // MLE bigram model from the corpus itself; doc score = Σ over DISTINCT
    // bigrams of (in-doc count × ln p), folded in bigram-sorted order —
    // identical-value addition commutes exactly, so this equals the
    // position-order sum while staying engine-reproducible
    "q87_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ts
        |  FROM documents
        |), bi AS (
        |  SELECT doc_id, unnest([ts[i] || ' ' || ts[i + 1] FOR i IN range(1, len(ts))]) AS bigram
        |  FROM toks WHERE len(ts) >= 2
        |), bc AS (
        |  SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1, count(*) AS bc
        |  FROM bi GROUP BY 1, 2, 3
        |), bg AS (
        |  SELECT w1, bigram, CAST(sum(bc) AS BIGINT) AS c2 FROM bc GROUP BY 1, 2
        |), h AS (
        |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bg GROUP BY 1
        |), pr AS (
        |  SELECT bigram, c2 / c1 AS p FROM bg JOIN h USING (w1)
        |), sc AS (
        |  SELECT doc_id, CAST(sum(bc) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_prepend(0.0, list(bc * ln(p) ORDER BY bigram)), (a, b) -> a + b) AS lp
        |  FROM bc JOIN pr USING (bigram) GROUP BY doc_id
        |)
        |SELECT d.doc_id, n_bigrams,
        |  round(lp / n_bigrams, 6) + 0.0 AS avg_logp_r,
        |  round(exp(-(lp / n_bigrams)), 6) + 0.0 AS ppl_r
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q88_latest_snapshot" ->
      """WITH rk AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT event_id, user_id, event_type, ts_us, value
        |FROM rk WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q89_expectations" ->
      """WITH t AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_quantity,
        |    CAST(sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
        |    CAST(sum(CASE WHEN NOT coalesce(l_discount <= 0.05, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_discount,
        |    CAST(sum(CASE WHEN NOT coalesce(l_returnflag IN ('A', 'N', 'R'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_flag,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ship
        |  FROM lineitem
        |)
        |SELECT * FROM (
        |  SELECT 'quantity_range' AS check_name, n AS n_rows, v_quantity AS n_violations,
        |         round(CAST(v_quantity AS DOUBLE) / n, 9) + 0.0 AS violation_rate_r FROM t
        |  UNION ALL
        |  SELECT 'price_positive', n, v_price, round(CAST(v_price AS DOUBLE) / n, 9) + 0.0 FROM t
        |  UNION ALL
        |  SELECT 'discount_cap', n, v_discount, round(CAST(v_discount AS DOUBLE) / n, 9) + 0.0 FROM t
        |  UNION ALL
        |  SELECT 'returnflag_domain', n, v_flag, round(CAST(v_flag AS DOUBLE) / n, 9) + 0.0 FROM t
        |  UNION ALL
        |  SELECT 'shipdate_not_null', n, v_ship, round(CAST(v_ship AS DOUBLE) / n, 9) + 0.0 FROM t
        |) ORDER BY check_name""".stripMargin,

    "q90_classifier_gate" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id,
         |    ($clfBias)::DOUBLE + CASE WHEN len(ts) > 0 THEN
         |      list_reduce(list_prepend(0.0, list_transform(ts, t ->
         |        $clfWeightsSql[CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 64 AS INT) + 1])),
         |        (a, b) -> a + b) / len(ts)
         |    END AS margin
         |  FROM toks
         |)
         |SELECT doc_id,
         |  round(1.0 / (1.0 + exp(-margin)), 9) + 0.0 AS prob_r,
         |  (1.0 / (1.0 + exp(-margin)) >= 0.5) AS accept
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q91_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |) ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q92_rolling_mean" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), bounds AS (
        |  SELECT min(bucket) AS lo, max(bucket) AS hi FROM b
        |), grid AS (
        |  SELECT t.event_type, g.bucket
        |  FROM (SELECT DISTINCT event_type FROM b) t,
        |       (SELECT unnest(range(lo, hi + 1)) AS bucket FROM bounds) g
        |), joined AS (
        |  SELECT g.event_type, g.bucket, coalesce(b.n, 0) AS n_events
        |  FROM grid g LEFT JOIN b USING (event_type, bucket)
        |)
        |SELECT event_type, bucket, n_events,
        |  round(avg(n_events) OVER (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW), 9) + 0.0 AS roll_r
        |FROM joined ORDER BY event_type, bucket""".stripMargin,

    "q93_percentiles" ->
      """WITH q AS (
        |  SELECT lang, quantile_cont(n_chars, [0.25, 0.5, 0.75, 0.9]) AS qs
        |  FROM documents GROUP BY lang
        |)
        |SELECT lang,
        |  round(qs[1], 6) + 0.0 AS p25,
        |  round(qs[2], 6) + 0.0 AS p50,
        |  round(qs[3], 6) + 0.0 AS p75,
        |  round(qs[4], 6) + 0.0 AS p90
        |FROM q ORDER BY lang""".stripMargin,

    "q94_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q95_histogram" ->
      """SELECT lang, n_chars // 100 AS bin, count(*) AS n_docs,
        |  min(n_chars) AS lo, max(n_chars) AS hi
        |FROM documents GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,

    "q96_drift_psi" -> driftPsiSql,

    // drift SERVING parity: the persisted-reference-histogram path
    // (cellCounts persisted once + driftFromCounts) computes the same
    // smoothed contributions, so it shares q96's oracle verbatim
    "q273_drift_served" -> driftPsiSql,



    // corpus signatures = per-position min over the per-doc signatures
    // (s1..s16 from the SAME interpolated polyPerms the engine uses)
    "q97_corpus_overlap" -> {
      def sigCte(tag: String, src: String) =
        s"""t$tag AS (
           |  SELECT CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
           |         ELSE list_distinct(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) END AS ts
           |  FROM documents WHERE source = '$src'
           |), h$tag AS (
           |  SELECT list_transform(ts, t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hs FROM t$tag
           |), g$tag AS (
           |  SELECT
           |$polySigList
           |  FROM h$tag
           |), m$tag AS (SELECT ${(1 to 16).map(j => s"min(s$j) AS s$j").mkString(", ")} FROM g$tag)""".stripMargin
      s"""WITH ${sigCte("a", "src0")},
         |${sigCte("b", "src1")},
         |ag AS (
         |  SELECT (${(1 to 16).map(j => s"CASE WHEN ma.s$j = mb.s$j THEN 1 ELSE 0 END").mkString(" + ")}) AS agreement
         |  FROM ma CROSS JOIN mb
         |)
         |SELECT CAST(agreement AS BIGINT) AS agreement,
         |  CAST(agreement AS DOUBLE) / 16 AS jaccard_est
         |FROM ag""".stripMargin
    },

    "q98_funnel_conversion" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
        |), c AS (
        |  SELECT * FROM e WHERE event_type = 'click'
        |), conv AS (
        |  SELECT c.event_id, c.us,
        |    EXISTS (SELECT 1 FROM e p
        |            WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |              AND p.us >= c.us AND p.us - c.us <= 3600000000) AS converted
        |  FROM c
        |)
        |SELECT us // 86400000000 AS day, count(*) AS n_clicks,
        |  CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_conv,
        |  round(CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 9) + 0.0 AS rate_r
        |FROM conv GROUP BY 1 ORDER BY day""".stripMargin,

    "q99_json_extract" ->
      """WITH x AS (
        |  SELECT event_type, CAST(props ->> '$.k' AS BIGINT) AS k FROM events
        |)
        |SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  round(CAST(sum(k) AS DOUBLE) / count(k), 9) + 0.0 AS avg_k_r
        |FROM x GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q100_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  round(sum(l_quantity), 6) + 0.0 AS sum_qty_r
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q101_salted_join" ->
      """SELECT o_custkey, count(*) AS n_lines,
        |  round(sum(l_quantity), 6) + 0.0 AS qty_r
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin,

    // adaptive salting is RESULT-transparent: the oracle is the same
    // unsalted join — only the physical replication differs
    "q198_adaptive_salted_join" ->
      """SELECT o_custkey, count(*) AS n_lines,
        |  round(sum(l_quantity), 6) + 0.0 AS qty_r
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin,

    "q102_incremental_diff" ->
      """WITH fp AS (
        |  SELECT doc_id, lang, n_chars, source,
        |    md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS f
        |  FROM documents
        |)
        |SELECT doc_id, lang, n_chars FROM fp c
        |WHERE source = 'src1'
        |  AND NOT EXISTS (SELECT 1 FROM fp p WHERE p.source = 'src0' AND p.f = c.f)
        |ORDER BY doc_id""".stripMargin,

    // stage counts off the same CTE chain as q71; no lang allowlist, so
    // output == afterQuality
    "q103_funnel_portable" -> funnelSql(0.9),
    "q66_corpus_funnel" -> funnelSql(0.8),

    // q71's chain -> join text back -> q46/q48/q49/q36-style enrichment,
    // with the default salt 'graft' and dyadic cuts 0.875/0.9375/1.0
    "q104_prepare_portable" -> prepareSql(0.9,
      "doc_id, lang, source, n_chars, n_tokens, lang_id, fingerprint, split"),
    "q39_training_corpus" -> prepareSql(0.8, "doc_id, split, n_tokens, lang_id"),

    // q104's chain + the q90 classifier margin as a gate after the
    // quality stage (between decontamination and enrichment)
    "q167_prepare_clf_gate" -> {
      s"""WITH ${cleanChainCtes(0.9)}, final0 AS (
         |  SELECT s.doc_id, s.lang, s.source, s.n_chars, v.text
         |  FROM scored s JOIN surv v USING (doc_id)
         |  WHERE s.qscore >= 30.0
         |), clf AS (
         |  SELECT *,
         |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM final0
         |), clfg AS (
         |  SELECT doc_id, lang, source, n_chars, text FROM clf
         |  WHERE len(ts) > 0 AND 1.0 / (1.0 + exp(-(
         |    ($clfBias)::DOUBLE +
         |    list_reduce(list_prepend(0.0, list_transform(ts, t ->
         |      $clfWeightsSql[CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 64 AS INT) + 1])),
         |      (a, b) -> a + b) / len(ts)))) >= 0.45
         |), ${enrichCtes("clfg")}
         |SELECT doc_id, lang, source, n_chars, n_tokens, lang_id, fingerprint, split
         |FROM enr ORDER BY doc_id""".stripMargin
    },

    "q105_weighted_sample" ->
      """WITH u AS (
        |  SELECT doc_id, source, n_chars,
        |    ln(CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE) AS key
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |), rk AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS sample_rank
        |  FROM u
        |)
        |SELECT doc_id, source, n_chars, sample_rank FROM rk
        |WHERE sample_rank <= 20 ORDER BY source, sample_rank""".stripMargin,

    "q106_dedup_keep_best" -> {
      s"""WITH ${qualityCte("documents", "lang, source, n_chars")}, f AS (
         |  SELECT s.doc_id, s.lang, s.source, s.n_chars, s.qscore,
         |    md5(trim(lower(regexp_replace(d.text, '\\s+', ' ', 'g')))) AS fp
         |  FROM scored s JOIN documents d USING (doc_id)
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp
         |    ORDER BY qscore DESC, doc_id DESC) AS rn
         |  FROM f
         |)
         |SELECT doc_id, lang, source, n_chars, round(qscore, 6) + 0.0 AS q_r
         |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },

    "q107_knn_eval" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS true_label, v AS qv FROM e WHERE vec_id < 100),
        |pairs AS (
        |  SELECT qid, true_label, e.vec_id AS nn_id, e.label AS pred_label,
        |    round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos_r
        |  FROM q, e WHERE e.vec_id <> qid
        |), top1 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, nn_id) AS rn
        |    FROM pairs WHERE NOT isnan(cos_r)
        |  ) WHERE rn = 1
        |), cm AS (
        |  SELECT true_label, pred_label, count(*) AS n FROM top1 GROUP BY 1, 2
        |), rs AS (
        |  SELECT true_label AS clazz, CAST(sum(n) AS BIGINT) AS support FROM cm GROUP BY 1
        |), cs AS (
        |  SELECT pred_label AS clazz, CAST(sum(n) AS BIGINT) AS predicted FROM cm GROUP BY 1
        |), dg AS (
        |  SELECT true_label AS clazz, n AS tp FROM cm WHERE true_label = pred_label
        |), j AS (
        |  SELECT coalesce(rs.clazz, cs.clazz) AS clazz,
        |    coalesce(support, 0) AS support, coalesce(predicted, 0) AS predicted
        |  FROM rs FULL OUTER JOIN cs ON rs.clazz = cs.clazz
        |), j2 AS (
        |  SELECT j.clazz, support, CAST(coalesce(tp, 0) AS BIGINT) AS tp,
        |    CASE WHEN predicted > 0 THEN CAST(coalesce(tp, 0) AS DOUBLE) / predicted END AS p,
        |    CASE WHEN support > 0 THEN CAST(coalesce(tp, 0) AS DOUBLE) / support END AS r
        |  FROM j LEFT JOIN dg ON j.clazz = dg.clazz
        |)
        |SELECT clazz, support, tp,
        |  round(p, 9) + 0.0 AS precision_r,
        |  round(r, 9) + 0.0 AS recall_r,
        |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) END, 9) + 0.0 AS f1_r
        |FROM j2 ORDER BY clazz""".stripMargin,

    "q61_group_topk" ->
      """WITH j AS (
        |  SELECT n_name, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |), rk AS (
        |  SELECT n_name, o_orderkey, price,
        |    row_number() OVER (PARTITION BY n_name ORDER BY price DESC, o_orderkey) AS rank
        |  FROM j
        |)
        |SELECT n_name, rank, o_orderkey, price
        |FROM rk WHERE rank <= 5 ORDER BY n_name, rank""".stripMargin,

    "q36_hash_split" ->
      """WITH u AS (
        |  SELECT doc_id, source,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-r2'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
        |  FROM documents
        |)
        |SELECT doc_id, source,
        |  CASE WHEN uh < 0.75 THEN 'train'
        |       WHEN uh < 0.875 THEN 'val'
        |       WHEN uh < 1.0 THEN 'test'
        |       ELSE NULL END AS split
        |FROM u ORDER BY doc_id""".stripMargin,

    "q37_quantize_embed" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings
        |), c AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
        |    ELSE list_transform(embedding, x ->
        |      CAST(GREATEST(-127.0, LEAST(127.0,
        |        sign(CAST(x AS DOUBLE) / scale * 127.0) *
        |        floor(abs(CAST(x AS DOUBLE) / scale * 127.0) + 0.5))) AS INTEGER))
        |    END AS codes
        |  FROM q
        |)
        |SELECT vec_id, scale,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  round(list_sum(list_transform(codes, cd -> CAST(cd AS DOUBLE) * scale / 127.0)), 6) + 0.0 AS dequant_sum_r
        |FROM c ORDER BY vec_id""".stripMargin,

    "q38_quantized_topk" ->
      """WITH c0 AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings
        |), cod AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0.0)
        |    ELSE list_transform(embedding, x ->
        |      GREATEST(-127.0, LEAST(127.0,
        |        sign(CAST(x AS DOUBLE) / scale * 127.0) *
        |        floor(abs(CAST(x AS DOUBLE) / scale * 127.0) + 0.5))))
        |    END AS codes
        |  FROM c0
        |), qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv, codes AS qc FROM cod WHERE vec_id < 5
        |), cand AS (
        |  SELECT query_id, c.vec_id, c.embedding AS cv, qs.qv,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_dot_product(qs.qc, c.codes) DESC, c.vec_id) AS arank
        |  FROM cod c, qs WHERE c.vec_id <> query_id
        |), scored AS (
        |  SELECT query_id, vec_id,
        |    list_dot_product(qv::DOUBLE[], cv::DOUBLE[]) /
        |      (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) * sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))) AS cosine
        |  FROM cand WHERE arank <= 30
        |), rk AS (
        |  -- zero-norm corpus vectors: Spark drops the NaN cosine rows
        |  -- before ranking; DuckDB's x/0 is NULL — filter to mirror
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS nn_rank
        |  FROM scored WHERE cosine IS NOT NULL
        |)
        |SELECT query_id, vec_id, round(cosine, 6) + 0.0 AS cosine_r, nn_rank
        |FROM rk WHERE nn_rank <= 10 ORDER BY query_id, nn_rank""".stripMargin,

    "q40_dedup_exact" ->
      """WITH d AS (
        |  SELECT doc_id, md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        |  FROM documents
        |)
        |SELECT doc_id, fingerprint,
        |  COUNT(*) OVER (PARTITION BY fingerprint) AS dup_count
        |FROM d ORDER BY doc_id""".stripMargin,

    "q58_contamination" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        |  FROM documents
        |), tri AS (
        |  -- empty docs emit NO grams (mirrors the engine's size guard)
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, GREATEST(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(toks[i + 1 : i + 3], ' '))) AS tok
        |  FROM base WHERE len(toks) > 0
        |), d AS (
        |  SELECT DISTINCT doc_id, tok FROM tri
        |), c0 AS (SELECT doc_id AS corpus_id, tok FROM d WHERE doc_id < 400),
        |b0 AS (SELECT doc_id AS bench_id, tok FROM d WHERE doc_id >= 400),
        |-- mirror of maxDocFreq=100: drop ONLY over-cap corpus grams from
        |-- both sides (bench grams absent from the corpus stay in the
        |-- denominator)
        |hot AS (SELECT tok FROM c0 GROUP BY tok HAVING COUNT(*) > 100),
        |c AS (SELECT * FROM c0 WHERE tok NOT IN (SELECT tok FROM hot)),
        |b AS (SELECT * FROM b0 WHERE tok NOT IN (SELECT tok FROM hot)),
        |sizes AS (SELECT bench_id, COUNT(*) AS bench_sz FROM b GROUP BY bench_id),
        |common AS (
        |  SELECT corpus_id, bench_id, COUNT(*) AS n_common
        |  FROM c JOIN b USING (tok) GROUP BY corpus_id, bench_id
        |)
        |SELECT corpus_id, bench_id, n_common,
        |  CAST(n_common AS DOUBLE) / CAST(bench_sz AS DOUBLE) AS containment
        |FROM common JOIN sizes USING (bench_id)
        |WHERE CAST(n_common AS DOUBLE) / CAST(bench_sz AS DOUBLE) >= 0.5
        |ORDER BY corpus_id, bench_id""".stripMargin,

    "q42_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 2000
        |), d0 AS (
        |  SELECT DISTINCT doc_id, source, tok FROM toks
        |), keep AS (
        |  -- mirror of maxDocFreq=400: drop tokens present in >400 docs
        |  SELECT tok FROM d0 GROUP BY tok HAVING COUNT(*) <= 400
        |), d AS (
        |  SELECT d0.* FROM d0 JOIN keep USING (tok)
        |), sizes AS (
        |  -- sizes AFTER the DF filter, matching the Spark operator
        |  SELECT doc_id, COUNT(*) AS sz FROM d GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM d a JOIN d b ON a.source = b.source AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT id_a, id_b, n_common,
        |    CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
        |  FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |)
        |SELECT * FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "q46_token_stats" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN [] ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        |  FROM documents
        |)
        |SELECT doc_id,
        |  len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_distinct,
        |  CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) * 1.0 / CAST(len(toks) AS DOUBLE) AS avg_word_len,
        |  len(list_filter(string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'),
        |    x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS en_stopword_hits
        |FROM d ORDER BY doc_id""".stripMargin,

    "q46b_bpeish_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[\w]+|[^\w\s]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q47b_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS lines,
        |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        |  FROM documents
        |)
        |SELECT doc_id,
        |  round(CASE WHEN len(lines) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / CAST(len(lines) AS DOUBLE) END, 9) + 0.0 AS dup_line_frac_r,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END, 9) + 0.0 AS rep_tok_frac_r
        |FROM t ORDER BY doc_id""".stripMargin,

    "q48_lang_id" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'), x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS c_en,
        |    len(list_filter(string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'), x -> x IN ('el','la','de','que','y','en','los','se','del','las'))) AS c_es,
        |    len(list_filter(string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'), x -> x IN ('le','la','les','de','et','des','un','une','du','est'))) AS c_fr,
        |    len(list_filter(string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'), x -> x IN ('der','die','das','und','von','zu','den','mit','ist','im'))) AS c_de
        |  FROM documents
        |)
        |SELECT doc_id, CASE
        |  WHEN c_en = GREATEST(c_en, c_es, c_fr, c_de) AND c_en > 0 THEN 'en'
        |  WHEN c_es = GREATEST(c_en, c_es, c_fr, c_de) AND c_es > 0 THEN 'es'
        |  WHEN c_fr = GREATEST(c_en, c_es, c_fr, c_de) AND c_fr > 0 THEN 'fr'
        |  WHEN c_de = GREATEST(c_en, c_es, c_fr, c_de) AND c_de > 0 THEN 'de'
        |  ELSE 'und' END AS lang_id
        |FROM c ORDER BY doc_id""".stripMargin,

    "q49_fingerprint" ->
      """SELECT doc_id, md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every arithmetic step of polyMinhashBands mirrored: md5-prefix token
    // hashes, (a*h+b) mod p permutations with the SAME polyPerms constants
    // (interpolated below), min over the token set, 4-slice band keys
    "q62_poly_minhash" ->
      s"""WITH $polySigCte
         |SELECT doc_id, band, band_key FROM (
         |$polyBandSelects
         |)
         |ORDER BY doc_id, band""".stripMargin,

    // pair-level poly minhash over char 5-shingles
    "q67_poly_near_dup" -> polyPairsSql(0.5),
    "q47_near_dup_pairs" -> polyPairsSql(0.7),

    // q62's band keys over char 5-shingle signatures of the whole corpus
    "q41_minhash_buckets" ->
      s"""WITH ${polyShingleSigCte("documents")}
         |SELECT doc_id, band, band_key FROM (
         |$polyBandSelects
         |)
         |ORDER BY doc_id, band""".stripMargin,

    // the full cleaning chain mirrored step-for-step: strip script/style +
    // tags, decode entities (ampersand LAST), drop boilerplate lines,
    // redact email -> phone -> IP, collapse whitespace; pii counts run on
    // the decoded pre-boilerplate text exactly like TextCleaning.clean
    "q63_text_cleaning" ->
      """WITH raw AS (
        |  -- concat_ws, not '||': Spark's concat_ws SKIPS null columns, so
        |  -- a null text row keeps the literal lines instead of nulling out
        |  SELECT doc_id,
        |    concat_ws(chr(10),
        |      '<div>Call 555-123-4567 or mail bob@example.com</div><script>var x=1;</script>',
        |      text,
        |      'Copyright 2024 All rights reserved',
        |      'range 2020-2024 ping 10.0.0.1 &amp;lt;tag&gt; done') AS h
        |  FROM documents
        |), detag AS (
        |  SELECT doc_id, h, regexp_replace(regexp_replace(h,
        |    '(?is)<(script|style)\b[^>]*>.*?</(script|style)>', ' ', 'g'),
        |    '<[^>]*>', ' ', 'g') AS s
        |  FROM raw
        |), dec AS (
        |  SELECT doc_id, h, replace(replace(replace(replace(replace(replace(replace(s,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |    '&apos;', chr(39)), '&amp;', '&') AS s
        |  FROM detag
        |), boiler AS (
        |  SELECT doc_id, h, s,
        |    array_to_string(list_filter(string_split(s, chr(10)), l ->
        |      len(regexp_replace(l, '^\s+|\s+$', '', 'g')) > 0 AND NOT regexp_matches(
        |        regexp_replace(l, '^\s+|\s+$', '', 'g'),
        |        '(?i)(cookie|copyright|all rights reserved|terms of (use|service)|privacy policy|subscribe|sign in|log in|newsletter|click here)')),
        |      chr(10)) AS kept
        |  FROM dec
        |), red AS (
        |  -- redaction order email -> IP -> phone (mirrors redactPii)
        |  SELECT doc_id, h, s,
        |    regexp_replace(regexp_replace(regexp_replace(kept,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\+?\d(?:[()\-. ]{0,2}\d){8,15}', '<PHONE>', 'g') AS r,
        |    regexp_replace(s,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS se
        |  FROM boiler
        |), red2 AS (
        |  SELECT *, regexp_replace(se,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS si
        |  FROM red
        |)
        |SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(r, '\s+', ' ', 'g'), '^ | $', '', 'g')) AS clean_digest,
        |  len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(si, '\+?\d(?:[()\-. ]{0,2}\d){8,15}')) AS n_phones,
        |  len(regexp_extract_all(se, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |  round(CASE WHEN len(string_split(h, chr(10))) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(string_split(h, chr(10)), l ->
        |      len(regexp_replace(l, '^\s+|\s+$', '', 'g')) = 0 OR regexp_matches(
        |        regexp_replace(l, '^\s+|\s+$', '', 'g'),
        |        '(?i)(cookie|copyright|all rights reserved|terms of (use|service)|privacy policy|subscribe|sign in|log in|newsletter|click here)'))) AS DOUBLE)
        |      / CAST(len(string_split(h, chr(10))) AS DOUBLE) END, 9) + 0.0 AS boiler_frac_r
        |FROM red2 ORDER BY doc_id""".stripMargin,

    // Gopher rules measure-for-measure: q46's token CTE (trim-both +
    // \s+ split, empty -> []), literal-\n line split, non-overlapping
    // symbol scan, presence (not count) of the 8 required stop words;
    // x/0 -> NULL on both engines, CASE/when treat a NULL contains as 0,
    // and NULL AND FALSE = FALSE in both 3VLs, so g_pass is total
    "q110_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN [] ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS toks,
        |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN [] ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS lowtoks,
        |    list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS lines
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    len(toks) AS g_words,
        |    CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) * 1.0 / CAST(len(toks) AS DOUBLE) AS awl,
        |    CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS symr,
        |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•‣▪]'))) AS DOUBLE) / CAST(len(lines) AS DOUBLE) AS bf,
        |    CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE) / CAST(len(lines) AS DOUBLE) AS ef,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS af,
        |    (CASE WHEN list_contains(lowtoks, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(lowtoks, 'be') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(lowtoks, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(lowtoks, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(lowtoks, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(lowtoks, 'that') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(lowtoks, 'have') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(lowtoks, 'with') THEN 1 ELSE 0 END) AS hits
        |  FROM d
        |)
        |SELECT doc_id, g_words,
        |  round(awl, 6) + 0.0 AS awl_r,
        |  round(symr, 6) + 0.0 AS symbol_r,
        |  round(bf, 6) + 0.0 AS bullet_r,
        |  round(ef, 6) + 0.0 AS ellipsis_r,
        |  round(af, 6) + 0.0 AS alpha_r,
        |  hits AS g_stopword_hits,
        |  coalesce(g_words BETWEEN 50 AND 100000
        |    AND awl BETWEEN 3.0 AND 10.0
        |    AND symr <= 0.1
        |    AND coalesce(bf <= 0.9, true)
        |    AND coalesce(ef <= 0.3, true)
        |    AND af >= 0.8
        |    AND hits >= 2, false) AS g_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // PageRank: 5 chained iteration CTEs, each the engine's exact
    // arithmetic — teleport (1-d)/N + d * the TWO-LEVEL contribution
    // fold (src-sorted fold per (dst, md5 sub-bucket), then bucket-sorted
    // fold of the partials — the hub-safe order the engine uses)
    "q117_pagerank" -> {
      def iterCte(cur: String, prev: String): String =
        s"""$cur AS (
           |  SELECT nodes.node,
           |    (1.0 - 0.85) / CAST(nn.n AS DOUBLE) + 0.85 * COALESCE(s.acc, 0.0) AS rank
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT dst AS node,
           |      list_reduce(list_prepend(0.0, list(p ORDER BY b)), (a, x) -> a + x) AS acc
           |    FROM (
           |      SELECT e.dst, e.b,
           |        list_reduce(list_prepend(0.0, list(r.rank * e.w / e.outw ORDER BY e.src)), (a, x) -> a + x) AS p
           |      FROM e JOIN $prev r ON e.src = r.node
           |      GROUP BY e.dst, e.b) s1
           |    GROUP BY dst) s ON s.node = nodes.node
           |)""".stripMargin
      val iters = (1 to 5).map(i => iterCte(s"r$i", s"r${i - 1}")).mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2
         |), od AS (SELECT src, SUM(w) AS outw FROM e0 GROUP BY src),
         |e AS (SELECT e0.src, e0.dst, e0.w, od.outw,
         |  CAST(('0x' || substr(md5(CAST(e0.src AS VARCHAR)), 1, 4)) AS BIGINT) % 1024 AS b
         |  FROM e0 JOIN od USING (src)),
         |nodes AS (SELECT DISTINCT src AS node FROM e0 UNION SELECT DISTINCT dst FROM e0),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS (SELECT node, 1.0 / CAST(nn.n AS DOUBLE) AS rank FROM nodes, nn),
         |$iters
         |SELECT node, round(rank, 9) + 0.0 AS rank_r FROM r5 ORDER BY node""".stripMargin
    },

    // DSIR: md5-bucketed bigram counts, add-alpha log-likelihood ratios
    // (ln == Math.log bit-exact, the q105 pair), per-doc bucket-sorted
    // fold of count x llr, top 50 by raw score then the rounded display
    // order. alpha*buckets is interpolated from the engine's own double
    // product so both sides smooth with the identical constant.
    "q118_dsir" -> {
      val aB = (0.01 * 4096).toString
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS toks
         |  FROM documents
         |), grams AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) = 0 THEN []
         |         WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) END AS gs
         |  FROM tok
         |), gb AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
         |  FROM (SELECT doc_id, unnest(gs) AS g FROM grams)
         |), tc AS (SELECT b, count(*) AS ct FROM gb WHERE doc_id >= 400 GROUP BY b),
         |rc AS (SELECT b, count(*) AS cr FROM gb WHERE doc_id < 400 GROUP BY b),
         |tot AS (SELECT (SELECT COALESCE(SUM(ct), 0) FROM tc) AS nt,
         |               (SELECT COALESCE(SUM(cr), 0) FROM rc) AS nr),
         |w AS (
         |  SELECT COALESCE(tc.b, rc.b) AS b,
         |    ln((CAST(COALESCE(tc.ct, 0) AS DOUBLE) + CAST(0.01 AS DOUBLE))
         |       / (CAST(nt AS DOUBLE) + CAST($aB AS DOUBLE)))
         |    - ln((CAST(COALESCE(rc.cr, 0) AS DOUBLE) + CAST(0.01 AS DOUBLE))
         |       / (CAST(nr AS DOUBLE) + CAST($aB AS DOUBLE))) AS llr
         |  FROM tc FULL JOIN rc ON tc.b = rc.b CROSS JOIN tot
         |), dbc AS (
         |  SELECT doc_id, b, count(*) AS cnt FROM gb WHERE doc_id < 400 GROUP BY doc_id, b
         |), sc AS (
         |  SELECT dbc.doc_id,
         |    list_reduce(list_prepend(0.0, list(CAST(dbc.cnt AS DOUBLE) * COALESCE(w.llr, 0.0) ORDER BY dbc.b)), (a, x) -> a + x) AS s
         |  FROM dbc LEFT JOIN w ON dbc.b = w.b
         |  GROUP BY dbc.doc_id
         |), top AS (SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 50)
         |SELECT doc_id, round(s, 6) + 0.0 AS dsir_score_r FROM top
         |ORDER BY dsir_score_r DESC, doc_id""".stripMargin
    },

    // 13-gram collision decontamination: lowercased whitespace tokens
    // (the q58 idiom), 13-token windows with the WordGrams short-doc
    // convention (sub-13 docs contribute their whole token string), any
    // shared window with the bench tail -> dropped. q120 (the Bloom
    // pre-filtered path) is bit-identical and reuses this oracle.
    "q119_span_decontaminate" -> spanDecontaminateOracle,

    // KMV bottom-k distinct sketch: k smallest distinct 60-bit md5 hashes
    // per source; exact count below k, (k-1)/u_k estimator above. The
    // 63*2^60 numerator is exact in a double on both engines, so the
    // division is the only rounding step and it is IEEE-identical.
    "q121_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT source, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS u
        |  FROM documents WHERE text IS NOT NULL
        |), r AS (
        |  SELECT source, u, row_number() OVER (PARTITION BY source ORDER BY u) AS rn FROM h
        |), a AS (
        |  SELECT source, max(u) AS uk, count(*) AS m FROM r WHERE rn <= 64 GROUP BY source
        |)
        |SELECT source,
        |  CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
        |       ELSE 63.0 * 1152921504606846976.0 / CAST(uk AS DOUBLE) END AS est_distinct
        |FROM a ORDER BY source""".stripMargin,

    // KMV overlap: per-side and merged bottom-64 sketches; intersection by
    // inclusion-exclusion clamped at 0; every estimate replays the q121
    // estimator arithmetic
    "q125_kmv_overlap" ->
      """WITH ha AS (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS u
        |  FROM documents WHERE doc_id < 400 AND text IS NOT NULL
        |), hb AS (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS u
        |  FROM documents WHERE doc_id >= 300 AND text IS NOT NULL
        |), hu AS (
        |  SELECT u FROM ha UNION SELECT u FROM hb
        |), ea AS (
        |  SELECT max(u) AS uk, count(*) AS m
        |  FROM (SELECT u, row_number() OVER (ORDER BY u) AS rn FROM ha) WHERE rn <= 64
        |), eb AS (
        |  SELECT max(u) AS uk, count(*) AS m
        |  FROM (SELECT u, row_number() OVER (ORDER BY u) AS rn FROM hb) WHERE rn <= 64
        |), eu AS (
        |  SELECT max(u) AS uk, count(*) AS m
        |  FROM (SELECT u, row_number() OVER (ORDER BY u) AS rn FROM hu) WHERE rn <= 64
        |), est AS (
        |  SELECT
        |    (SELECT CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
        |       ELSE 63.0 * 1152921504606846976.0 / CAST(uk AS DOUBLE) END FROM ea) AS est_a,
        |    (SELECT CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
        |       ELSE 63.0 * 1152921504606846976.0 / CAST(uk AS DOUBLE) END FROM eb) AS est_b,
        |    (SELECT CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
        |       ELSE 63.0 * 1152921504606846976.0 / CAST(uk AS DOUBLE) END FROM eu) AS est_union
        |)
        |SELECT est_a, est_b, est_union,
        |  GREATEST(est_a + est_b - est_union, 0.0) AS est_intersection,
        |  CASE WHEN est_union > 0.0
        |       THEN GREATEST(est_a + est_b - est_union, 0.0) / est_union
        |       ELSE 0.0 END AS est_jaccard
        |FROM est""".stripMargin,

    // NFC canonicalization: plant e+COMBINING ACUTE (chr(769) = U+0301),
    // nfc_normalize must recompose to the same code-point counts and
    // changed flags the native expression produces
    "q128_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS t FROM documents
        |)
        |SELECT doc_id, len(t) AS n_decomposed, len(nfc_normalize(t)) AS n_nfc,
        |  nfc_normalize(t) != t AS changed
        |FROM d ORDER BY doc_id""".stripMargin,

    // split leakage: the q67 pair pipeline joined onto the q36 split
    // labels, keeping only cross-split pairs (IS DISTINCT FROM matches
    // the engine's null-safe inequality)
    "q127_split_leakage" ->
      s"""WITH ${polyShingleSigCte("documents WHERE doc_id < 1000")}, ${polyPairsCte(0.5)},
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN uh < 0.75 THEN 'train'
         |         WHEN uh < 0.875 THEN 'val'
         |         WHEN uh < 1.0 THEN 'test'
         |         ELSE NULL END AS split
         |  FROM (
         |    SELECT doc_id,
         |      CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-r2'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
         |    FROM documents WHERE doc_id < 1000)
         |)
         |SELECT id_a, sa.split AS split_a, id_b, sb.split AS split_b, est_jaccard
         |FROM pairs0
         |JOIN sp sa ON sa.doc_id = id_a
         |JOIN sp sb ON sb.doc_id = id_b
         |WHERE sa.split IS DISTINCT FROM sb.split
         |ORDER BY id_a, id_b""".stripMargin,

    // z-order: same quantization (double ratio, floor, clamp) and the same
    // 16 interleave terms — bit j of dim d lands at position k*2 + d
    "q131_zorder_key" -> {
      val terms = (0 until 8).flatMap { k =>
        Seq(s"(((q0 >> $k) & 1) << ${k * 2})", s"(((q1 >> $k) & 1) << ${k * 2 + 1})")
      }.mkString(" + ")
      s"""WITH s AS (
         |  SELECT CAST(min(l_partkey) AS DOUBLE) AS mn0, CAST(max(l_partkey) AS DOUBLE) AS mx0,
         |         CAST(min(l_suppkey) AS DOUBLE) AS mn1, CAST(max(l_suppkey) AS DOUBLE) AS mx1
         |  FROM lineitem
         |), q AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CASE WHEN l_partkey IS NULL OR mx0 = mn0 THEN 0
         |         ELSE LEAST(255, GREATEST(0, CAST(floor((CAST(l_partkey AS DOUBLE) - mn0) / (mx0 - mn0) * 256) AS BIGINT))) END AS q0,
         |    CASE WHEN l_suppkey IS NULL OR mx1 = mn1 THEN 0
         |         ELSE LEAST(255, GREATEST(0, CAST(floor((CAST(l_suppkey AS DOUBLE) - mn1) / (mx1 - mn1) * 256) AS BIGINT))) END AS q1
         |  FROM lineitem, s
         |)
         |SELECT l_orderkey, l_linenumber, $terms AS zorder_key
         |FROM q ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    // within-doc line dedup: indexed list_filter keeps a line iff blank or
    // unseen in the prefix (1-based lambda index; coalesce guards the
    // list_position absent-value convention across DuckDB versions)
    "q130_doc_line_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    concat_ws(chr(10), 'Nav | Menu', text, 'Nav | Menu', '', text, 'Footer') AS lined
        |  FROM documents
        |), split_ AS (
        |  SELECT doc_id, string_split(lined, chr(10)) AS lines FROM planted
        |), dl AS (
        |  SELECT doc_id, array_to_string(
        |    list_filter(lines, (l, i) -> l = '' OR coalesce(list_position(lines[1:i-1], l), 0) = 0),
        |    chr(10)) AS dedup_text
        |  FROM split_
        |)
        |SELECT doc_id, dedup_text, len(string_split(dedup_text, chr(10))) AS n_lines_after
        |FROM dl ORDER BY doc_id""".stripMargin,

    // grouped bootstrap: q126's resampling with lang in every GROUP BY;
    // the weight arithmetic is identical because draws key on doc_id only
    "q129_grouped_bootstrap" ->
      """WITH rws AS (
        |  SELECT lang, doc_id AS id, n_chars AS x FROM documents WHERE n_chars IS NOT NULL
        |), u AS (
        |  SELECT lang, x, b,
        |    CAST(CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
        |      / 1152921504606846976.0 AS u
        |  FROM rws, (SELECT unnest(range(0, 200)) AS b)
        |), w AS (
        |  SELECT lang, b, x,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.9999167588507119 THEN 6
        |         WHEN u < 0.9999909967049427 THEN 7
        |         ELSE 8 END AS w
        |  FROM u
        |), pr AS (
        |  SELECT lang, b, CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS m
        |  FROM w GROUP BY lang, b HAVING sum(w) > 0
        |), ci AS (
        |  SELECT lang, quantile_cont(m, 0.025) AS ci_low, quantile_cont(m, 0.975) AS ci_high,
        |         count(*) AS replicas
        |  FROM pr GROUP BY lang
        |), base AS (
        |  SELECT lang, CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
        |  FROM rws GROUP BY lang
        |)
        |SELECT base.lang, mean, ci_low, ci_high, replicas
        |FROM base JOIN ci USING (lang) ORDER BY lang""".stripMargin,

    // Poisson bootstrap: per-(row, replica) Poisson(1) weights via the
    // inverse CDF over md5 unit draws (the literal thresholds mirror
    // Bootstrap.PoissonCdf); replica sums are exact integers, the CI is
    // quantile_cont == Spark exact percentile (q93-verified)
    "q126_bootstrap_ci" ->
      """WITH rws AS (
        |  SELECT doc_id AS id, n_chars AS x FROM documents WHERE n_chars IS NOT NULL
        |), u AS (
        |  SELECT x, b,
        |    CAST(CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
        |      / 1152921504606846976.0 AS u
        |  FROM rws, (SELECT unnest(range(0, 200)) AS b)
        |), w AS (
        |  SELECT b, x,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.9999167588507119 THEN 6
        |         WHEN u < 0.9999909967049427 THEN 7
        |         ELSE 8 END AS w
        |  FROM u
        |), pr AS (
        |  SELECT b, CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS m
        |  FROM w GROUP BY b HAVING sum(w) > 0
        |)
        |SELECT
        |  (SELECT CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM rws) AS mean,
        |  quantile_cont(m, 0.025) AS ci_low,
        |  quantile_cont(m, 0.975) AS ci_high,
        |  count(*) AS replicas
        |FROM pr""".stripMargin,

    // count-min sketch: depth-4 x width-512 grid, cell = md5("row:token")
    // 60-bit prefix mod width; estimate = min counter across rows, missing
    // cells read 0. Token multiset via the q84/q87 split idiom.
    "q122_cms_counts" ->
      """WITH toks AS (
        |  SELECT CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ts
        |  FROM documents WHERE text IS NOT NULL
        |), tok AS (
        |  SELECT unnest(ts) AS t FROM toks
        |), cells AS (
        |  SELECT r, CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || t), 1, 15)) AS BIGINT) % 512 AS cell,
        |         count(*) AS cnt
        |  FROM tok, (SELECT unnest([0, 1, 2, 3]) AS r) GROUP BY 1, 2
        |), probes AS (
        |  SELECT unnest(['the', 'and', 'of', 'to', 'data', 'supplier', 'quality',
        |                 'zzz_absent_token', 'qqq_never_seen']) AS token
        |), pc AS (
        |  SELECT token, r,
        |    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || token), 1, 15)) AS BIGINT) % 512 AS cell
        |  FROM probes, (SELECT unnest([0, 1, 2, 3]) AS r)
        |)
        |SELECT token, min(coalesce(cnt, 0)) AS est_count
        |FROM pc LEFT JOIN cells USING (r, cell)
        |GROUP BY token ORDER BY token""".stripMargin,

    // exact-substring self-dedup, detection half: positioned lowercased
    // 13-token windows (short docs = whole token string at pos 0), every
    // occurrence of a >1-count window except the (doc_id, pos)-smallest
    "q123_repeated_spans" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, pw.pos AS pos, pw.win AS win FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(0, GREATEST(len(toks) - 13, 0) + 1),
        |      i -> {'pos': i, 'win': array_to_string(toks[i + 1 : i + 13], ' ')})) AS pw
        |    FROM base WHERE len(toks) > 0)
        |), rep AS (
        |  SELECT win FROM w GROUP BY win HAVING count(*) > 1
        |), ranked AS (
        |  SELECT doc_id, pos, row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
        |  FROM w WHERE win IN (SELECT win FROM rep)
        |)
        |SELECT doc_id, pos FROM ranked WHERE rn > 1 ORDER BY doc_id, pos""".stripMargin,

    // removal half: cut [pos, pos+13) token ranges of each removal from
    // its doc (1-based lambda index in DuckDB vs 0-based in Spark);
    // untouched docs keep original text, trimmed docs come back
    // whitespace-normalized from case-preserved tokens
    "q124_self_dedup_spans" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS toks,
        |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS rtoks
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, pw.pos AS pos, pw.win AS win FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(0, GREATEST(len(toks) - 13, 0) + 1),
        |      i -> {'pos': i, 'win': array_to_string(toks[i + 1 : i + 13], ' ')})) AS pw
        |    FROM base WHERE len(toks) > 0)
        |), rep AS (
        |  SELECT win FROM w GROUP BY win HAVING count(*) > 1
        |), ranked AS (
        |  SELECT doc_id, pos, row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
        |  FROM w WHERE win IN (SELECT win FROM rep)
        |), cuts AS (
        |  SELECT doc_id, list_sort(list(pos)) AS cs FROM ranked WHERE rn > 1 GROUP BY doc_id
        |), out AS (
        |  SELECT b.doc_id,
        |    CASE WHEN c.cs IS NULL THEN b.text
        |         -- array_to_string([]) is NULL in DuckDB but '' in Spark's
        |         -- array_join: a fully-trimmed doc must survive as ''
        |         ELSE coalesce(array_to_string(list_filter(b.rtoks,
        |           (x, i) -> NOT len(list_filter(c.cs, p -> p <= i - 1 AND i - 1 < p + 13)) > 0), ' '), '')
        |    END AS text
        |  FROM base b LEFT JOIN cuts c USING (doc_id)
        |)
        |SELECT doc_id, text, len(text) AS n_chars_after FROM out ORDER BY doc_id""".stripMargin,
    "q120_span_bloom_decontaminate" -> spanDecontaminateOracle,

    // char entropy: same sorted-fold determinism contract as q84/q87 —
    // terms (c/n)·ln(c/n)/ln(2) summed left-to-right over the SORTED
    // distinct chars from 0.0; ln == Math.log bit-exact (the q105 pair)
    "q116_char_entropy" ->
      """WITH ent AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL THEN NULL
        |         WHEN len(text) = 0 THEN 0.0
        |         ELSE -list_reduce(list_prepend(0.0,
        |           list_transform(list_sort(list_distinct(string_split(text, ''))),
        |             c -> (CAST(len(text) - len(replace(text, c, '')) AS DOUBLE) / CAST(len(text) AS DOUBLE))
        |                  * ln(CAST(len(text) - len(replace(text, c, '')) AS DOUBLE) / CAST(len(text) AS DOUBLE)) / ln(2))),
        |           (a, b) -> a + b)
        |    END AS entropy
        |  FROM documents
        |)
        |SELECT doc_id, round(entropy, 6) + 0.0 AS entropy_r, entropy < 3.0 AS is_low
        |FROM ent ORDER BY doc_id""".stripMargin,

    // winsorize: quantile_cont == Spark exact percentile (q93-verified);
    // GREATEST/LEAST over non-null bounds, null value -> null clip
    "q113_winsorize" ->
      """WITH b AS (
        |  SELECT lang, quantile_cont(n_chars, [0.1, 0.9]) AS qs
        |  FROM documents GROUP BY lang
        |)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  round(CASE WHEN d.n_chars IS NOT NULL
        |    THEN LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), qs[1]), qs[2]) END, 6) + 0.0 AS clipped_r
        |FROM documents d JOIN b USING (lang)
        |ORDER BY d.doc_id""".stripMargin,

    // exactly-n sample: the engine's heap ranks -unitHash with ties
    // toward the smaller id == ORDER BY hash, id ascending
    "q114_uniform_sample_exact" ->
      """WITH u AS (
        |  SELECT doc_id, source,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'gx'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
        |  FROM documents WHERE doc_id IS NOT NULL
        |), rk AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (ORDER BY uh, doc_id) AS sample_rank
        |  FROM u
        |)
        |SELECT doc_id, source, sample_rank FROM rk
        |WHERE sample_rank <= 200 ORDER BY sample_rank""".stripMargin,

    // sorted-source fold with IEEE-exact sqrt (alpha = 0.5), op order
    // target * (w/z) / n mirrored exactly; row keep = q36's md5 unit hash
    "q64_temperature_mix" ->
      """WITH counts AS (
        |  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
        |), zz AS (
        |  SELECT list_reduce(list(sqrt(CAST(n AS DOUBLE)) ORDER BY source), (a, b) -> a + b) AS z
        |  FROM counts
        |), acc AS (
        |  SELECT source, LEAST(1.0, 300.0 * (sqrt(CAST(n AS DOUBLE)) / z) / CAST(n AS DOUBLE)) AS a
        |  FROM counts, zz
        |)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN acc USING (source)
        |WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'graft-r4'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < a
        |ORDER BY d.doc_id""".stripMargin,

    // corpus-frequency line dedup: per-doc-distinct line counts (> 50 docs
    // = frequent), exact match removal, blank lines exempt, order kept.
    // concat_ws skips NULLs in both engines, so null text keeps the
    // planted literals; the filtered list re-joins with chr(10) before
    // the digest/line-count exactly like the engine's concat_ws
    "q74_line_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    concat_ws(chr(10), 'Home | About | Contact', text, '',
        |              'Subscribe to our newsletter!') AS lt
        |  FROM documents
        |), freq AS (
        |  SELECT line FROM (
        |    SELECT doc_id, unnest(list_distinct(string_split(lt, chr(10)))) AS line
        |    FROM planted
        |  ) WHERE len(regexp_replace(line, '^\s+|\s+$', '', 'g')) > 0
        |  GROUP BY line HAVING COUNT(*) > 50
        |), fl AS (
        |  SELECT coalesce(list(line), []) AS fls FROM freq
        |), rebuilt AS (
        |  SELECT doc_id,
        |    array_to_string(list_filter(string_split(lt, chr(10)),
        |      l -> NOT list_contains(fls, l)), chr(10)) AS dedup
        |  FROM planted, fl
        |)
        |SELECT doc_id, md5(dedup) AS dedup_digest,
        |  len(string_split(dedup, chr(10))) AS n_lines_kept
        |FROM rebuilt ORDER BY doc_id""".stripMargin,

    // per-source quota cap: lowest md5 unit hash wins, ties toward the
    // smaller id — ROW_NUMBER mirrors the heap aggregate's comparator
    "q75_quota_sample" ->
      """WITH u AS (
        |  SELECT doc_id, source, lang,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-r4'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source, lang,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY uh, doc_id) AS quota_rank
        |  FROM u
        |)
        |SELECT doc_id, source, lang, quota_rank
        |FROM r WHERE quota_rank <= 20 ORDER BY doc_id""".stripMargin,

    // deterministic shuffle order: shard = md5-prefix mod 8 (value is a
    // non-negative 32-bit int, so % == pmod), position = rank within the
    // shard by full hex then id
    "q76_shuffle_order" ->
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'graft-r4') AS hex
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, hex,
        |    CAST(CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8 AS INT) AS shard
        |  FROM h
        |)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hex, doc_id) AS BIGINT) AS shuffle_pos
        |FROM s ORDER BY doc_id""".stripMargin,

    // the hyperplane-LSH near-dup pipeline is fully oracle-checkable: the
    // +-1 planes come from a seeded driver-side PRNG, so the generator
    // interpolates the EXACT constants as +-v[i] term chains (element
    // order = the native HyperplaneBits accumulation order; x*+-1.0 and
    // sequential +/- are IEEE-exact), then mirrors the any-table bucket
    // match and the exact-cosine verify
    "q56_embedding_near_dup" -> {
      val (sums, keys) = hyperplaneKeySql(64, 8, 3, t => 104729L * (t + 1))
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (
         |  SELECT vec_id, v,
         |$sums
         |  FROM e
         |), k AS (
         |  SELECT vec_id, v,
         |$keys
         |  FROM s
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.v AS va, c.v AS vb
         |  FROM k a JOIN k c ON a.vec_id < c.vec_id
         |    AND (a.k_0 = c.k_0 OR a.k_1 = c.k_1 OR a.k_2 = c.k_2)
         |), scored AS (
         |  SELECT id_a, id_b,
         |    list_dot_product(va, vb) / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS cosine
         |  FROM pairs
         |)
         |SELECT id_a, id_b, round(cosine, 6) + 0.0 AS cosine_r
         |FROM scored WHERE NOT isnan(cosine) AND cosine >= 0.2
         |ORDER BY id_a, id_b""".stripMargin
    },

    // q56's keyed-pair chain split corpus/bench on vec_id: any-table
    // band match -> exact cosine >= 0.3 -> corpus anti-join
    "q115_semantic_decontaminate" -> {
      val (sums, keys) = hyperplaneKeySql(64, 8, 3, t => 104729L * (t + 1))
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (
         |  SELECT vec_id, v,
         |$sums
         |  FROM e
         |), k AS (
         |  SELECT vec_id, v,
         |$keys
         |  FROM s
         |), cont AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM k a JOIN k c ON a.vec_id < 400 AND c.vec_id >= 400
         |    AND (a.k_0 = c.k_0 OR a.k_1 = c.k_1 OR a.k_2 = c.k_2)
         |  WHERE NOT isnan(list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))))
         |    AND list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.3
         |)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id < 400 AND vec_id NOT IN (SELECT vec_id FROM cont)
         |ORDER BY vec_id""".stripMargin
    },

    // SemDeDup: q56's pair chain -> bidirectional edges -> transitive
    // closure (recursive CTE, like q73) -> drop every node whose minimum
    // reachable id is smaller than itself; survivors keep their payload
    "q77_semantic_dedup" -> {
      val (sums, keys) = hyperplaneKeySql(64, 8, 3, t => 104729L * (t + 1))
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (
         |  SELECT vec_id, v,
         |$sums
         |  FROM e
         |), k AS (
         |  SELECT vec_id, v,
         |$keys
         |  FROM s
         |), prs AS (
         |  SELECT a.vec_id AS id_a, c.vec_id AS id_b
         |  FROM k a JOIN k c ON a.vec_id < c.vec_id
         |    AND (a.k_0 = c.k_0 OR a.k_1 = c.k_1 OR a.k_2 = c.k_2)
         |  WHERE NOT isnan(list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))))
         |    AND list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.2
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
         |), losers AS (
         |  SELECT src AS vec_id FROM reach GROUP BY src HAVING MIN(dst) < src
         |)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY vec_id""".stripMargin
    },

    // q77's pair + closure chain, keeper re-ranked by the derived quality
    // (q DESC, id ASC — the engine's GroupTopK tie contract); clusters
    // name themselves via LEAST(src, MIN(dst)) like q73
    "q109_semantic_keep_best" -> {
      val (sums, keys) = hyperplaneKeySql(64, 8, 3, t => 104729L * (t + 1))
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (
         |  SELECT vec_id, v,
         |$sums
         |  FROM e
         |), k AS (
         |  SELECT vec_id, v,
         |$keys
         |  FROM s
         |), prs AS (
         |  SELECT a.vec_id AS id_a, c.vec_id AS id_b
         |  FROM k a JOIN k c ON a.vec_id < c.vec_id
         |    AND (a.k_0 = c.k_0 OR a.k_1 = c.k_1 OR a.k_2 = c.k_2)
         |  WHERE NOT isnan(list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))))
         |    AND list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.2
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
         |), clusters AS (
         |  SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), keepers AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY CAST(vec_id % 7 AS DOUBLE) DESC, vec_id) AS rn
         |    FROM clusters) WHERE rn = 1
         |), losers AS (
         |  SELECT vec_id FROM clusters
         |  WHERE vec_id NOT IN (SELECT vec_id FROM keepers)
         |)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY vec_id""".stripMargin
    },

    // decontamination: q58's containment chain as a predicate — training
    // corpus minus every doc_id that appears as a contaminated corpus_id
    "q78_decontaminate" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        |  FROM documents
        |), tri AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, GREATEST(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(toks[i + 1 : i + 3], ' '))) AS tok
        |  FROM base WHERE len(toks) > 0
        |), d AS (
        |  SELECT DISTINCT doc_id, tok FROM tri
        |), c0 AS (SELECT doc_id AS corpus_id, tok FROM d WHERE doc_id < 400),
        |b0 AS (SELECT doc_id AS bench_id, tok FROM d WHERE doc_id >= 400),
        |hot AS (SELECT tok FROM c0 GROUP BY tok HAVING COUNT(*) > 100),
        |c AS (SELECT * FROM c0 WHERE tok NOT IN (SELECT tok FROM hot)),
        |b AS (SELECT * FROM b0 WHERE tok NOT IN (SELECT tok FROM hot)),
        |sizes AS (SELECT bench_id, COUNT(*) AS bench_sz FROM b GROUP BY bench_id),
        |common AS (
        |  SELECT corpus_id, bench_id, COUNT(*) AS n_common
        |  FROM c JOIN b USING (tok) GROUP BY corpus_id, bench_id
        |), cont AS (
        |  SELECT DISTINCT corpus_id
        |  FROM common JOIN sizes USING (bench_id)
        |  WHERE CAST(n_common AS DOUBLE) / CAST(bench_sz AS DOUBLE) >= 0.5
        |)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id < 400 AND doc_id NOT IN (SELECT corpus_id FROM cont)
        |ORDER BY doc_id""".stripMargin,

    // the Bloom pre-filter is exact-equivalent (no false negatives), so
    // the oracle is simply q78's containment SQL WITHOUT the
    // doc-frequency cap — the Bloom path's uncapped semantics
    "q112_bloom_decontaminate" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        |  FROM documents
        |), tri AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, GREATEST(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(toks[i + 1 : i + 3], ' '))) AS tok
        |  FROM base WHERE len(toks) > 0
        |), d AS (
        |  SELECT DISTINCT doc_id, tok FROM tri
        |), c AS (SELECT doc_id AS corpus_id, tok FROM d WHERE doc_id < 400),
        |b AS (SELECT doc_id AS bench_id, tok FROM d WHERE doc_id >= 400),
        |sizes AS (SELECT bench_id, COUNT(*) AS bench_sz FROM b GROUP BY bench_id),
        |common AS (
        |  SELECT corpus_id, bench_id, COUNT(*) AS n_common
        |  FROM c JOIN b USING (tok) GROUP BY corpus_id, bench_id
        |), cont AS (
        |  SELECT DISTINCT corpus_id
        |  FROM common JOIN sizes USING (bench_id)
        |  WHERE CAST(n_common AS DOUBLE) / CAST(bench_sz AS DOUBLE) >= 0.5
        |)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id < 400 AND doc_id NOT IN (SELECT corpus_id FROM cont)
        |ORDER BY doc_id""".stripMargin,

    // soft quality gate: the shared qualityCte blend, acceptance
    // clamp(qscore/100, .05, .95) against q36's md5 unit hash; null text
    // drops explicitly in both engines
    "q79_quality_sample" ->
      s"""WITH ${qualityCte("documents WHERE text IS NOT NULL", "source, n_chars")}
         |SELECT doc_id, source, n_chars FROM scored
         |WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-r4'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0
         |      < LEAST(GREATEST(qscore / 100.0, 0.05), 0.95)
         |ORDER BY doc_id""".stripMargin,

    // ANN recall audit: the q45 LSH chain and the exact ranking, reduced
    // to per-query hit counts over the exact denominator
    // matryoshka dimension-budget sweep: per budget d, cosine re-ranking
    // over v[1:d] (norms from the slice) vs the full-width exact top-10;
    // per-query recall rounds 6dp, then a query-ordered fold macro-avg
    "q288_matryoshka_recall" -> {
      val dims = Seq(8, 16, 32, 64)
      val perDim = dims.map { d =>
        s"""trk_$d AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS cid,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |      list_dot_product(q.v[1:$d], c.v[1:$d]) / (sqrt(list_dot_product(q.v[1:$d], q.v[1:$d])) * sqrt(list_dot_product(c.v[1:$d], c.v[1:$d]))) DESC, c.vec_id) AS rnk
           |  FROM e c JOIN e q ON c.vec_id <> q.vec_id AND q.vec_id < 20
           |  WHERE NOT isnan(list_dot_product(q.v[1:$d], c.v[1:$d]) / (sqrt(list_dot_product(q.v[1:$d], q.v[1:$d])) * sqrt(list_dot_product(c.v[1:$d], c.v[1:$d]))))
           |), tap_$d AS (SELECT query_id, cid FROM trk_$d WHERE rnk <= 10),
           |hit_$d AS (
           |  SELECT x.query_id,
           |    CAST(count(CASE WHEN a.cid IS NOT NULL THEN 1 END) AS BIGINT) AS h,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM exact x LEFT JOIN tap_$d a
           |    ON a.query_id = x.query_id AND a.cid = x.cid
           |  GROUP BY x.query_id
           |), rec_$d AS (
           |  SELECT query_id, round(h / n, 6) + 0.0 AS recall_r FROM hit_$d
           |), agg_$d AS (
           |  SELECT $d AS dim, CAST(count(*) AS BIGINT) AS n_queries,
           |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(recall_r ORDER BY query_id)), (a, b) -> a + b)
           |      / count(*), 6) + 0.0 AS mean_recall_r
           |  FROM rec_$d
           |)""".stripMargin
      }
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |erk AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cid,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) AS rnk
         |  FROM e c JOIN e q ON c.vec_id <> q.vec_id AND q.vec_id < 20
         |  WHERE NOT isnan(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))))
         |), exact AS (SELECT query_id, cid FROM erk WHERE rnk <= 10),
         |${perDim.mkString(",\n")}
         |${dims.map(d => s"SELECT dim, n_queries, mean_recall_r FROM agg_$d")
           .mkString(" UNION ALL ")}
         |ORDER BY dim""".stripMargin
    },

    "q170_ann_recall" -> {
      val (sums, keys) = hyperplaneKeySql(64, 8, 4, t => 7919L * (t + 1))
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (
         |  SELECT vec_id, v,
         |$sums
         |  FROM e
         |), kk AS (
         |  SELECT vec_id, v,
         |$keys
         |  FROM s
         |), q AS (SELECT * FROM kk WHERE vec_id < 20),
         |cand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cid, q.v AS qv, c.v AS cv
         |  FROM kk c JOIN q ON c.vec_id <> q.vec_id
         |    AND (c.k_0 = q.k_0 OR c.k_1 = q.k_1 OR c.k_2 = q.k_2 OR c.k_3 = q.k_3)
         |), ark AS (
         |  SELECT query_id, cid,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC, cid) AS rnk
         |  FROM cand
         |  WHERE NOT isnan(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))))
         |), approx AS (SELECT query_id, cid FROM ark WHERE rnk <= 10),
         |erk AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cid,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) AS rnk
         |  FROM e c JOIN e q ON c.vec_id <> q.vec_id AND q.vec_id < 20
         |  WHERE NOT isnan(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))))
         |), exact AS (SELECT query_id, cid FROM erk WHERE rnk <= 10),
         |hits AS (
         |  SELECT a.query_id, count(*) AS h
         |  FROM approx a JOIN exact x ON x.query_id = a.query_id AND x.cid = a.cid
         |  GROUP BY a.query_id
         |), den AS (
         |  SELECT query_id, count(*) AS n FROM exact GROUP BY query_id
         |)
         |SELECT den.query_id, coalesce(hits.h, 0) AS n_hits,
         |  round(coalesce(hits.h, 0) / den.n, 6) + 0.0 AS recall_r
         |FROM den LEFT JOIN hits USING (query_id)
         |ORDER BY den.query_id""".stripMargin
    },

    // LSH ANN top-k: hyperplane keys (12 bits x 4 tables, interpolated
    // constants), any-table candidate match excluding self, exact cosine
    // rank with the engine's (cosine DESC, vec_id) tie order
    "q45_lsh_topk" -> {
      val (sums, keys) = hyperplaneKeySql(64, 8, 4, t => 7919L * (t + 1))
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (
         |  SELECT vec_id, v,
         |$sums
         |  FROM e
         |), k AS (
         |  SELECT vec_id, v,
         |$keys
         |  FROM s
         |), q AS (SELECT * FROM k WHERE vec_id < 5),
         |cand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cid, q.v AS qv, c.v AS cv
         |  FROM k c JOIN q ON c.vec_id <> q.vec_id
         |    AND (c.k_0 = q.k_0 OR c.k_1 = q.k_1 OR c.k_2 = q.k_2 OR c.k_3 = q.k_3)
         |), scored AS (
         |  SELECT query_id, cid AS vec_id,
         |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
         |  FROM cand
         |), rk AS (
         |  SELECT query_id, vec_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS nn_rank
         |  FROM scored WHERE NOT isnan(cosine)
         |)
         |SELECT query_id, vec_id, round(cosine, 6) + 0.0 AS cosine_r, nn_rank
         |FROM rk WHERE nn_rank <= 10
         |ORDER BY query_id, nn_rank""".stripMargin
    },

    // the full cleaning pipeline mirrored end-to-end: exact dedup (keep
    // min id per canonical md5), poly-minhash near-dup losers at est
    // Jaccard >= 0.9, then the qualityScore blend term-for-term (all
    // components already proven green in q46/q46b/q48-style oracles)
    "q71_clean_pipeline" -> cleanSql(0.9),
    "q57_clean_corpus" -> cleanSql(0.8),

    // the pairs -> connected-components chain: the shared poly pair CTEs
    // at threshold 0.9, then transitive closure by recursive CTE; cluster
    // id = min reachable id — mirrors the engine's min-label propagation
    // fixpoint. (LEAST(src, MIN(dst)) is belt-and-braces only: edges are
    // bidirectional, so every node reaches itself via a 2-cycle and
    // MIN(dst) already includes src.)
    "q73_dup_clusters" ->
      s"""WITH RECURSIVE ${polyShingleSigCte("documents WHERE doc_id < 1000")}, ${polyPairsCte(0.9)}, edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs0
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs0
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         |FROM reach GROUP BY src
         |ORDER BY doc_id""".stripMargin,

    "q65_poly_simhash" -> polySimhashSql("documents WHERE doc_id < 1000"),
    "q43_simhash" -> polySimhashSql("documents"),

    "q44_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5)
        |SELECT query_id, vec_id,
        |  round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) + 0.0 AS cosine_r
        |FROM e, q WHERE vec_id <> query_id
        |ORDER BY query_id, vec_id""".stripMargin,

    "q50_blocked_nn" ->
      """WITH sub AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200
        |), pairs AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nn_id, a.label,
        |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
        |  FROM sub a JOIN sub b ON a.label = b.label AND a.vec_id <> b.vec_id
        |), rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY round(cosine, 6) DESC, nn_id) AS rn
        |  FROM pairs
        |)
        |SELECT id, nn_id, label, round(cosine, 6) + 0.0 AS cosine_r
        |FROM rk WHERE rn = 1 ORDER BY id""".stripMargin,

    // nearest-neighbor resample mirrored as pure integer arithmetic:
    // output pixel (x, y, c) copies source flat index ((y*2)*w + x*2)*3+c,
    // source pixel byte = (doc_id*31 + flat) % 256; dims/checksum re-derive
    // exactly (w in 4..8, h in 3..6 -> constant ranges + bound filters)
    "q108_image_resize" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    4 + doc_id % 5 AS w,
        |    CAST((4 + doc_id % 5) // 2 AS INT) AS out_w,
        |    CAST((3 + doc_id % 4) // 2 AS INT) AS out_h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, out_w, out_h,
        |    SUM((doc_id * 31 + ((y.i * 2) * w + x.i * 2) * 3 + c.i) % 256) AS ps
        |  FROM dims, range(4) x(i), range(3) y(i), range(3) c(i)
        |  WHERE x.i < out_w AND y.i < out_h
        |  GROUP BY doc_id, out_w, out_h
        |)
        |SELECT doc_id, out_w, out_h, CAST(ps AS BIGINT) AS pixel_sum
        |FROM px ORDER BY doc_id""".stripMargin,

    "q52_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_digest,
        |  ascii(substring(text, 1, 1)) AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q55_scalable_rank" ->
      """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS score,
        |  RANK() OVER (ORDER BY CAST(o_totalprice AS DOUBLE) DESC) AS ranking
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q60_sequence_packing" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
        |         ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens
        |  FROM documents
        |), o AS (
        |  -- exclusive prefix sum; CAST: DuckDB windowed SUM yields HUGEINT
        |  SELECT doc_id, source, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS "offset"
        |  FROM d
        |)
        |SELECT doc_id, source, n_tokens, "offset",
        |  "offset" // 512 AS chunk_first,
        |  ("offset" + GREATEST(n_tokens, 1) - 1) // 512 AS chunk_last,
        |  ("offset" + GREATEST(n_tokens, 1) - 1) // 512 - "offset" // 512 + 1 AS n_chunks
        |FROM o ORDER BY doc_id""".stripMargin,

    // the payload is the utf-8 text bytes (pure ASCII in the testdata, so
    // byte i == char i) and no image magic matches -> the stub decoder's
    // pseudo-features: f0 = float32 sum over bytes at positions ≡ 0 mod 8
    // of byte/255.0f. Float accumulation is emulated exactly: two floats
    // sum exactly in double, so CAST(a + b AS REAL) per step == Java float
    // addition; the final round-then-narrow mirrors round(float, 4)+0.0.
    "q53_multimodal_decode" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |), f AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n = 0 THEN CAST(0.0 AS REAL)
        |    ELSE list_reduce(
        |      list_transform(range(0, (n + 7) // 8),
        |        k -> CAST(ascii(substr(text, CAST(1 + 8 * k AS INT), 1)) AS REAL) / CAST(255.0 AS REAL)),
        |      (a, b) -> CAST(a + b AS REAL)) END AS f0f
        |  FROM t
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        |  CAST(CAST(round(CAST(f0f AS DOUBLE), 4) AS REAL) AS DOUBLE) + 0.0 AS f0
        |FROM f ORDER BY doc_id""".stripMargin,

    // the WAV payload is PCM16 mono @16k built from the utf-8 text bytes,
    // so every metadata field derives from octet_length arithmetic
    "q59_wav_meta" ->
      """SELECT doc_id,
        |  16000 AS sample_rate, 1 AS channels, 16 AS bits,
        |  CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n_frames,
        |  CAST((octet_length(encode(text)) // 2) * 1000000 // 16000 AS BIGINT) AS duration_us
        |FROM documents ORDER BY doc_id""".stripMargin,

    // SCD2 history: lag-flag -> running-sum version -> run-grain
    // aggregate -> lead() valid_to; IS DISTINCT FROM mirrors the
    // engine's null-safe <=> change test
    "q210_scd2_history" ->
      """WITH obs AS (
        |  SELECT o_custkey AS k, o_orderpriority AS v,
        |    epoch_us(o_orderdate) AS ts, o_orderkey AS tie
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |), flagged AS (
        |  SELECT k, v, ts, tie,
        |    CASE WHEN lag(tie) OVER (PARTITION BY k ORDER BY ts, tie) IS NULL
        |           OR v IS DISTINCT FROM lag(v) OVER (PARTITION BY k ORDER BY ts, tie)
        |         THEN 1 ELSE 0 END AS f
        |  FROM obs
        |), vers AS (
        |  SELECT k, v, ts,
        |    sum(f) OVER (PARTITION BY k ORDER BY ts, tie
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM flagged
        |), runs AS (
        |  SELECT k, v, version, min(ts) AS valid_from, max(ts) AS last_obs,
        |    count(*) AS n_obs
        |  FROM vers GROUP BY k, v, version
        |)
        |SELECT k AS o_custkey, v AS o_orderpriority,
        |  CAST(version AS BIGINT) AS version, valid_from, last_obs,
        |  CAST(n_obs AS BIGINT) AS n_obs,
        |  lead(valid_from) OVER (PARTITION BY k ORDER BY version) AS valid_to,
        |  lead(valid_from) OVER (PARTITION BY k ORDER BY version) IS NULL AS is_current
        |FROM runs
        |ORDER BY o_custkey, version""".stripMargin,

    // incremental SCD2: the engine merges pre-1997 history with the
    // 1997+ tail via scd2Apply; the oracle is the FULL REBUILD over all
    // observations — the differential contract that makes the
    // increment trustworthy
    "q211_scd2_incremental" ->
      """WITH obs AS (
        |  SELECT o_custkey AS k, o_orderpriority AS v,
        |    epoch_us(o_orderdate) AS ts, o_orderkey AS tie
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |), flagged AS (
        |  SELECT k, v, ts, tie,
        |    CASE WHEN lag(tie) OVER (PARTITION BY k ORDER BY ts, tie) IS NULL
        |           OR v IS DISTINCT FROM lag(v) OVER (PARTITION BY k ORDER BY ts, tie)
        |         THEN 1 ELSE 0 END AS f
        |  FROM obs
        |), vers AS (
        |  SELECT k, v, ts,
        |    sum(f) OVER (PARTITION BY k ORDER BY ts, tie
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM flagged
        |), runs AS (
        |  SELECT k, v, version, min(ts) AS valid_from, max(ts) AS last_obs,
        |    count(*) AS n_obs
        |  FROM vers GROUP BY k, v, version
        |)
        |SELECT k AS o_custkey, v AS o_orderpriority,
        |  CAST(version AS BIGINT) AS version, valid_from, last_obs,
        |  CAST(n_obs AS BIGINT) AS n_obs,
        |  lead(valid_from) OVER (PARTITION BY k ORDER BY version) AS valid_to,
        |  lead(valid_from) OVER (PARTITION BY k ORDER BY version) IS NULL AS is_current
        |FROM runs
        |ORDER BY o_custkey, version""".stripMargin,

    // k-anonymity audit: class occupancy -> one-row verdict
    "q212_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS bal_band,
        |    count(*) AS class_n
        |  FROM customer GROUP BY 1, 2, 3
        |)
        |SELECT CAST(sum(class_n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(class_n) AS BIGINT) AS k_actual,
        |  CAST(sum(CASE WHEN class_n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below_k,
        |  CAST(coalesce(sum(CASE WHEN class_n < 5 THEN class_n END), 0) AS BIGINT) AS n_rows_at_risk,
        |  CAST(sum(CASE WHEN class_n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
        |  round(CAST(coalesce(sum(CASE WHEN class_n < 5 THEN class_n END), 0) AS DOUBLE)
        |    / sum(class_n), 6) + 0.0 AS at_risk_frac_r
        |FROM cls""".stripMargin,

    // k-anonymity suppression: HAVING >= k class keys, joined back
    "q213_k_suppression" ->
      """WITH keep AS (
        |  SELECT c_nationkey, c_mktsegment
        |  FROM customer GROUP BY 1, 2 HAVING count(*) >= 8
        |)
        |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment
        |FROM customer c JOIN keep USING (c_nationkey, c_mktsegment)
        |ORDER BY c_custkey""".stripMargin,

    // record linkage: the oracle regenerates the clone registry and
    // replays candidates as the in-block lev<=1 cross check (the
    // engine's deletion index finds the same pairs), then the exact
    // weighted scoring chain
    "q214_record_linkage" ->
      """WITH r AS (
        |  SELECT c_nationkey, c_custkey + 1000000 AS rid,
        |    CASE WHEN c_custkey % 3 = 0
        |         THEN substring(c_name, 1, length(c_name) - 1) || 'X'
        |         ELSE c_name END AS r_name,
        |    c_acctbal + (c_custkey % 7) * CAST(0.01 AS DOUBLE) AS r_acctbal,
        |    c_mktsegment AS r_segment
        |  FROM customer
        |), cand AS (
        |  SELECT l.c_nationkey, l.c_custkey AS id_a, r.rid AS id_b,
        |    levenshtein(l.c_name, r.r_name) AS anchor_dist,
        |    l.c_name AS name_a, r.r_name AS name_b,
        |    l.c_acctbal AS bal_a, r.r_acctbal AS bal_b,
        |    l.c_mktsegment AS seg_a, r.r_segment AS seg_b
        |  FROM customer l JOIN r ON l.c_nationkey = r.c_nationkey
        |  WHERE abs(length(l.c_name) - length(r.r_name)) <= 1
        |    AND levenshtein(l.c_name, r.r_name) <= 1
        |), scored AS (
        |  SELECT c_nationkey, id_a, id_b, anchor_dist,
        |    CASE WHEN greatest(length(name_a), length(name_b)) = 0
        |         THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) - CAST(anchor_dist AS DOUBLE)
        |           / CAST(greatest(length(name_a), length(name_b)) AS DOUBLE)
        |    END AS sim_name,
        |    greatest(CAST(0.0 AS DOUBLE),
        |      CAST(1.0 AS DOUBLE) - abs(bal_a - bal_b) / CAST(100.0 AS DOUBLE)) AS sim_bal,
        |    CASE WHEN seg_a = seg_b THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(0.0 AS DOUBLE) END AS sim_seg
        |  FROM cand
        |), final AS (
        |  SELECT c_nationkey, id_a, id_b, anchor_dist,
        |    round(sim_name, 6) + 0.0 AS sim_name_r,
        |    round(sim_bal, 6) + 0.0 AS sim_bal_r,
        |    round(sim_seg, 6) + 0.0 AS sim_seg_r,
        |    round((CAST(0.5 AS DOUBLE) * sim_name + CAST(0.3 AS DOUBLE) * sim_bal
        |      + CAST(0.2 AS DOUBLE) * sim_seg) / CAST(1.0 AS DOUBLE), 6) + 0.0
        |      AS match_score_r
        |  FROM scored
        |)
        |SELECT * FROM final WHERE match_score_r >= CAST(0.9 AS DOUBLE)
        |ORDER BY id_a, id_b""".stripMargin,

    // triangle density: brute canonical-edge triple join (u<v<w, each
    // triangle once) over the same integer-thresholded trade graph
    "q215_triangle_density" ->
      """WITH tr AS (
        |  SELECT c.c_nationkey AS n1, s.s_nationkey AS n2, count(*) AS cnt
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2
        |), tot AS (SELECT sum(cnt) AS t FROM tr),
        |ed0 AS (SELECT n1, n2 FROM tr, tot WHERE cnt * 12500 > t * 21),
        |simple AS (
        |  SELECT DISTINCT least(n1, n2) AS a, greatest(n1, n2) AS b
        |  FROM ed0 WHERE n1 IS NOT NULL AND n2 IS NOT NULL AND n1 <> n2
        |), deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM simple UNION ALL SELECT b FROM simple)
        |  GROUP BY 1
        |), tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM simple e1
        |  JOIN simple e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN simple e3 ON e3.a = e1.b AND e3.b = e2.b
        |), pernode AS (
        |  SELECT node, count(*) AS n_triangles FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri)
        |  GROUP BY 1
        |)
        |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  round(CASE WHEN d.deg >= 2 THEN
        |    CAST(2.0 AS DOUBLE) * coalesce(p.n_triangles, 0) / (d.deg * (d.deg - 1))
        |  END, 6) + 0.0 AS clustering_r
        |FROM deg d LEFT JOIN pernode p USING (node)
        |ORDER BY node""".stripMargin,

    // join pre-flight: Σ nl·nr over common keys == exact inner-join size
    "q216_join_size_estimate" ->
      """WITH l AS (
        |  SELECT c_custkey AS k, count(*) AS nl FROM customer
        |  WHERE c_custkey IS NOT NULL GROUP BY 1
        |), r AS (
        |  SELECT o_custkey AS k, count(*) AS nr FROM orders
        |  WHERE o_custkey IS NOT NULL GROUP BY 1
        |), j AS (SELECT nl * nr AS prod FROM l JOIN r USING (k))
        |SELECT CAST(coalesce(sum(prod), 0) AS BIGINT) AS est_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_keys_left,
        |  (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_keys_right,
        |  CAST(count(*) AS BIGINT) AS n_keys_common,
        |  CAST(coalesce(max(prod), 0) AS BIGINT) AS max_key_rows,
        |  round(CASE WHEN coalesce(sum(prod), 0) > 0 THEN
        |    CAST(coalesce(max(prod), 0) AS DOUBLE) / CAST(sum(prod) AS DOUBLE)
        |  END, 6) + 0.0 AS top_frac_r
        |FROM j""".stripMargin,

    // quantile normalization: within-lang (rank-1)/(n-1) into the pooled
    // 101-point quantile_cont grid, linear interpolation — the exact
    // engine chain
    "q217_quantile_normalize" -> {
      // CAST each grid fraction to DOUBLE: a bare decimal literal types
      // as DECIMAL and quantile_cont would interpolate at the exact
      // rational position instead of the engine's double position
      val ps = (0 to 100).map(i => s"CAST(${i.toDouble / 100} AS DOUBLE)").mkString(", ")
      s"""WITH vals AS (
         |  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS v, n_chars
         |  FROM documents
         |), g AS (
         |  SELECT quantile_cont(v, [$ps]) AS grid FROM vals WHERE v IS NOT NULL
         |), rk AS (
         |  SELECT doc_id, lang, n_chars, v,
         |    CASE WHEN count(v) OVER (PARTITION BY lang) = 1 THEN CAST(0.0 AS DOUBLE)
         |         ELSE CAST(rank() OVER (PARTITION BY lang ORDER BY v) - 1 AS DOUBLE)
         |           / CAST(count(v) OVER (PARTITION BY lang) - 1 AS DOUBLE)
         |    END AS r
         |  FROM vals WHERE v IS NOT NULL
         |), interp AS (
         |  SELECT doc_id, lang, n_chars,
         |    grid[CAST(floor(r * CAST(100.0 AS DOUBLE)) AS INT) + 1]
         |      + (r * CAST(100.0 AS DOUBLE) - floor(r * CAST(100.0 AS DOUBLE)))
         |      * (grid[least(CAST(floor(r * CAST(100.0 AS DOUBLE)) AS INT) + 2, 101)]
         |         - grid[CAST(floor(r * CAST(100.0 AS DOUBLE)) AS INT) + 1]) AS q
         |  FROM rk, g
         |)
         |SELECT doc_id, lang, n_chars, round(q, 6) + 0.0 AS qnorm_r
         |FROM interp
         |UNION ALL
         |SELECT doc_id, lang, n_chars, NULL AS qnorm_r
         |FROM vals WHERE v IS NULL
         |ORDER BY doc_id""".stripMargin
    },

    // RRF: per-system best rank, system-ordered reciprocal fold, fused
    // rank by score desc / doc asc — the GroupTopK tie rule
    "q218_rrf_fusion" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars, text FROM documents WHERE text IS NOT NULL
        |), a AS (
        |  SELECT lang, doc_id, 'len' AS system, rank FROM (
        |    SELECT lang, doc_id,
        |      row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rank
        |    FROM d) WHERE rank <= 20
        |), b AS (
        |  SELECT lang, doc_id, 'md5' AS system, rank FROM (
        |    SELECT lang, doc_id,
        |      row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rank
        |    FROM d) WHERE rank <= 20
        |), u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
        |best AS (
        |  SELECT lang, doc_id, system,
        |    CAST(min(rank) AS DOUBLE) AS r
        |  FROM u GROUP BY 1, 2, 3
        |), scored AS (
        |  SELECT lang, doc_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r) ORDER BY system)),
        |      (x, y) -> x + y) AS rrf
        |  FROM best GROUP BY 1, 2
        |), ranked AS (
        |  SELECT lang, doc_id, rrf,
        |    row_number() OVER (PARTITION BY lang ORDER BY rrf DESC, doc_id) AS fused_rank
        |  FROM scored
        |)
        |SELECT lang, doc_id, round(rrf, 6) + 0.0 AS rrf_score_r,
        |  CAST(fused_rank AS BIGINT) AS fused_rank
        |FROM ranked WHERE fused_rank <= 10
        |ORDER BY lang, fused_rank""".stripMargin,

    // SymSpell query correction: delete-key join against the ascii
    // top-200 df vocabulary, exact Levenshtein verify, rank by
    // (distance, freq desc, term)
    "q305_spell_correct" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks) GROUP BY 1, 2
         |), v AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |top AS (
         |  SELECT term, df FROM (
         |    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rn
         |    FROM v) WHERE rn <= 200
         |), av AS (
         |  SELECT term, df FROM top WHERE regexp_matches(term, '^[a-z]+$$')
         |), qs AS (
         |  SELECT term AS qid, substr(term, 1, 1) || substr(term, 3) AS qt
         |  FROM (
         |    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn
         |    FROM av WHERE len(term) >= 4) WHERE rn <= 50
         |), qk AS (
         |  SELECT qid, qt,
         |    unnest(list_append(list_transform(range(1, len(qt) + 1),
         |      i -> substr(qt, 1, i - 1) || substr(qt, i + 1)), qt)) AS k
         |  FROM qs
         |), vk AS (
         |  SELECT term AS vt, df,
         |    unnest(list_append(list_transform(range(1, len(term) + 1),
         |      i -> substr(term, 1, i - 1) || substr(term, i + 1)), term)) AS k
         |  FROM av
         |), cand AS (
         |  SELECT DISTINCT qid, qt, vt, df FROM qk JOIN vk USING (k)
         |), sc AS (
         |  SELECT qid, qt, vt, df, levenshtein(qt, vt) AS d
         |  FROM cand WHERE levenshtein(qt, vt) <= 1
         |), rk AS (
         |  SELECT qid, qt AS term, vt AS suggestion, d AS distance,
         |    CAST(df AS BIGINT) AS freq,
         |    row_number() OVER (PARTITION BY qid, qt
         |      ORDER BY d, df DESC, vt) AS sugg_rank
         |  FROM sc
         |)
         |SELECT qid, term, suggestion, distance, freq, sugg_rank
         |FROM rk WHERE sugg_rank <= 3 ORDER BY qid, sugg_rank""".stripMargin,

    // phrase search: prefilter to docs holding every phrase term, then
    // position-enumerated adjacency over the token lists
    "q306_phrase_search" -> phraseSearchOracleSql,

    // serving-path parity: the positional-index replay answers the SAME
    // phrase queries from the persisted postings' position arrays, so
    // it shares the ad-hoc oracle verbatim (the q248/q274 discipline)
    "q309_phrase_served" -> phraseSearchOracleSql,

    // proximity retrieval: all-terms prefilter, then qualifying 10-token
    // window starts counted per (query, doc)
    "q307_proximity_search" -> proximitySearchOracleSql,

    // serving-path parity: the positional-index replay answers the SAME
    // proximity queries from stored position arrays + doclens — shares
    // the ad-hoc oracle verbatim
    "q310_proximity_served" -> proximitySearchOracleSql,

    // snippets: the q84/q248 top-5 page's best 10-token span by distinct
    // query terms covered (ties earliest), re-joined with spaces
    "q308_snippets" -> (bm25RunCtes("") +
      s""", hits AS (
         |  SELECT qid, doc_id FROM rk WHERE rank <= 5
         |), qq AS (
         |  SELECT qid, list_distinct(string_split(qtext, ' ')) AS qt
         |  FROM (VALUES (1, 'query hash join'), (2, 'window agg fast'),
         |               (3, 'customer order value part')) v(qid, qtext)
         |), snsc AS (
         |  SELECT h.qid, h.doc_id, t.i, d.ts,
         |    CAST(list_sum(list_transform(qq.qt, x ->
         |      CASE WHEN list_contains(list_slice(d.ts, t.i, t.i + 9), x)
         |        THEN 1 ELSE 0 END)) AS BIGINT) AS m
         |  FROM hits h
         |  JOIN dl d ON d.doc_id = h.doc_id
         |  JOIN qq ON qq.qid = h.qid,
         |  UNNEST(range(1, greatest(d.dl - 10 + 1, 1) + 1)) t(i)
         |), best AS (
         |  SELECT qid, doc_id, i, ts, m,
         |    row_number() OVER (PARTITION BY qid, doc_id
         |      ORDER BY m DESC, i) AS rn
         |  FROM snsc
         |)
         |SELECT qid, doc_id,
         |  array_to_string(list_slice(ts, i, i + 9), ' ') AS snippet,
         |  m AS n_matched, CAST(i AS BIGINT) AS snippet_pos
         |FROM best WHERE rn = 1 ORDER BY qid, doc_id""".stripMargin),

    // distance-2 SymSpell: keys widen to deletions-of-deletions, the 50
    // heaviest >=4-char ascii words each with chars 2 and 3 SWAPPED (a
    // transposition, distance 2) play the queries
    "q311_spell_correct2" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks) GROUP BY 1, 2
         |), v AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |top AS (
         |  SELECT term, df FROM (
         |    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rn
         |    FROM v) WHERE rn <= 200
         |), av AS (
         |  SELECT term, df FROM top WHERE regexp_matches(term, '^[a-z]+$$')
         |), qs AS (
         |  SELECT term AS qid,
         |    substr(term, 1, 1) || substr(term, 3, 1) || substr(term, 2, 1)
         |      || substr(term, 4) AS qt
         |  FROM (
         |    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn
         |    FROM av WHERE len(term) >= 4) WHERE rn <= 50
         |), qk AS (
         |  SELECT qid, qt, unnest(list_distinct(flatten([[qt], d1,
         |    flatten(list_transform(d1, s -> list_transform(range(1, len(s) + 1),
         |      j -> substr(s, 1, j - 1) || substr(s, j + 1))))]))) AS k
         |  FROM (
         |    SELECT qid, qt,
         |      list_transform(range(1, len(qt) + 1),
         |        i -> substr(qt, 1, i - 1) || substr(qt, i + 1)) AS d1
         |    FROM qs)
         |), vk AS (
         |  SELECT vt, df, unnest(list_distinct(flatten([[vt], d1,
         |    flatten(list_transform(d1, s -> list_transform(range(1, len(s) + 1),
         |      j -> substr(s, 1, j - 1) || substr(s, j + 1))))]))) AS k
         |  FROM (
         |    SELECT term AS vt, df,
         |      list_transform(range(1, len(term) + 1),
         |        i -> substr(term, 1, i - 1) || substr(term, i + 1)) AS d1
         |    FROM av)
         |), cand AS (
         |  SELECT DISTINCT qid, qt, vt, df FROM qk JOIN vk USING (k)
         |), sc AS (
         |  SELECT qid, qt, vt, df, levenshtein(qt, vt) AS d
         |  FROM cand WHERE levenshtein(qt, vt) <= 2
         |), rk AS (
         |  SELECT qid, qt AS term, vt AS suggestion, d AS distance,
         |    CAST(df AS BIGINT) AS freq,
         |    row_number() OVER (PARTITION BY qid, qt
         |      ORDER BY d, df DESC, vt) AS sugg_rank
         |  FROM sc
         |)
         |SELECT qid, term, suggestion, distance, freq, sugg_rank
         |FROM rk WHERE sugg_rank <= 3 ORDER BY qid, sugg_rank""".stripMargin,

    // BM25 index health report: the exact-integer corpus facts replayed
    // from the source corpus with the q84 tokenizer (the bucket-layout
    // columns are spec-pinned, not oracled — xxhash64)
    "q303_bm25_describe" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0 THEN []
         |         ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS ts
         |  FROM documents
         |), dl AS (SELECT doc_id, len(ts) AS dl FROM toks),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks) GROUP BY 1, 2
         |), v AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         |SELECT
         |  (SELECT count(*) FROM dl) AS n_docs,
         |  (SELECT count(dl) FROM dl) AS n_dl,
         |  (SELECT CAST(coalesce(sum(dl), 0) AS BIGINT) FROM dl) AS sum_dl,
         |  (SELECT round(CAST(sum(dl) AS DOUBLE) / count(dl), 6) + 0.0 FROM dl) AS avgdl_r,
         |  (SELECT count(*) FROM dl WHERE dl = 0) AS n_tokenless,
         |  (SELECT CAST(min(dl) AS BIGINT) FROM dl) AS min_dl,
         |  (SELECT CAST(max(dl) AS BIGINT) FROM dl) AS max_dl,
         |  (SELECT count(*) FROM v) AS vocab_size,
         |  (SELECT CAST(max(df) AS BIGINT) FROM v) AS max_df,
         |  (SELECT count(*) FROM tf) AS postings_rows""".stripMargin,

    // TREC pooling over the q218 run pair: union of top-10 per lang,
    // provenance (n_runs, best rank, comma-joined system names) and the
    // judged flag vs the doc_id % 3 == 0 synthetic qrels
    "q300_judging_pool" -> (interleaveRunCtes +
      """, su AS (
        |  SELECT DISTINCT lang, doc_id, system FROM u WHERE rank <= 10
        |), sys AS (
        |  SELECT lang, doc_id, string_agg(system, ',' ORDER BY system) AS systems
        |  FROM su GROUP BY 1, 2
        |), pool AS (
        |  SELECT lang, doc_id, count(DISTINCT system) AS n_runs,
        |    CAST(min(rank) AS BIGINT) AS best_rank
        |  FROM u WHERE rank <= 10 GROUP BY 1, 2
        |)
        |SELECT p.lang, p.doc_id, p.n_runs, p.best_rank, s.systems,
        |  (p.doc_id % 3 = 0) AS judged
        |FROM pool p JOIN sys s USING (lang, doc_id)
        |ORDER BY p.lang, p.doc_id""".stripMargin),

    // team-draft interleaving of the q218 run pair: the recursive CTE
    // replays the draft — counts decide the team, ties flip the md5
    // coin over (lang, step), an exhausted list cedes the pick
    "q301_interleave" -> (interleaveDraftCtes +
      """
        |SELECT lang, i AS pos, ids[i] AS doc_id, teams[i] AS team
        |FROM msel, UNNEST(range(1, len(ids) + 1)) t(i)
        |WHERE step = (SELECT max(step) FROM msel m2 WHERE m2.lang = msel.lang)
        |ORDER BY lang, pos""".stripMargin),

    // three-system multileave: the recursive draft with per-team counts,
    // the coin indexing into the tied teams in name order
    "q312_multileave" -> (multileaveDraftCtes +
      """
        |SELECT lang, i AS pos, ids[i] AS doc_id, teams[i] AS team
        |FROM msel, UNNEST(range(1, len(ids) + 1)) t(i)
        |WHERE step = (SELECT max(step) FROM msel m2 WHERE m2.lang = msel.lang)
        |ORDER BY lang, pos""".stripMargin),

    // long-format credit over the q312 page: per (lang, team) click
    // counts, strict-max winner flag
    "q313_multileave_credit" -> (multileaveDraftCtes +
      """, fin AS (
        |  SELECT lang, i AS pos, ids[i] AS doc_id, teams[i] AS team
        |  FROM msel, UNNEST(range(1, len(ids) + 1)) t(i)
        |  WHERE step = (SELECT max(step) FROM msel m2 WHERE m2.lang = msel.lang)
        |), ck AS (
        |  SELECT DISTINCT lang, pos FROM fin WHERE doc_id % 4 = 1
        |), pt AS (
        |  SELECT f.lang, f.team,
        |    CAST(coalesce(sum(CASE WHEN c.pos IS NOT NULL THEN 1 END), 0)
        |      AS BIGINT) AS clicks
        |  FROM fin f LEFT JOIN ck c ON c.lang = f.lang AND c.pos = f.pos
        |  GROUP BY 1, 2
        |), mx AS (
        |  SELECT lang, max(clicks) AS m,
        |    count(*) FILTER (WHERE clicks = max_c) AS x
        |  FROM (SELECT lang, clicks, max(clicks) OVER (PARTITION BY lang) AS max_c
        |        FROM pt) GROUP BY lang
        |)
        |SELECT pt.lang, pt.team, pt.clicks,
        |  (pt.clicks = mx.m AND mx.x = 1) AS is_winner
        |FROM pt JOIN mx USING (lang)
        |ORDER BY pt.lang, pt.team""".stripMargin),

    // pairwise preference matrix over the q313 credit: per unordered
    // system pair, strict click wins per query (absent teams at zero)
    "q314_multileave_pref" -> (multileaveDraftCtes +
      """, fin AS (
        |  SELECT lang, i AS pos, ids[i] AS doc_id, teams[i] AS team
        |  FROM msel, UNNEST(range(1, len(ids) + 1)) t(i)
        |  WHERE step = (SELECT max(step) FROM msel m2 WHERE m2.lang = msel.lang)
        |), ck AS (
        |  SELECT DISTINCT lang, pos FROM fin WHERE doc_id % 4 = 1
        |), pt AS (
        |  SELECT f.lang, f.team,
        |    CAST(coalesce(sum(CASE WHEN c.pos IS NOT NULL THEN 1 END), 0)
        |      AS BIGINT) AS clicks
        |  FROM fin f LEFT JOIN ck c ON c.lang = f.lang AND c.pos = f.pos
        |  GROUP BY 1, 2
        |), lgs AS (SELECT DISTINCT lang FROM pt),
        |tm(team) AS (VALUES ('len'), ('md5'), ('rev')),
        |dn AS (
        |  SELECT l.lang, t.team, coalesce(pt.clicks, 0) AS clicks
        |  FROM lgs l CROSS JOIN tm t
        |  LEFT JOIN pt ON pt.lang = l.lang AND pt.team = t.team
        |)
        |SELECT a.team AS team_a, b.team AS team_b,
        |  CAST(coalesce(sum(CASE WHEN a.clicks > b.clicks THEN 1 END), 0)
        |    AS BIGINT) AS wins_a,
        |  CAST(coalesce(sum(CASE WHEN b.clicks > a.clicks THEN 1 END), 0)
        |    AS BIGINT) AS wins_b,
        |  CAST(coalesce(sum(CASE WHEN a.clicks = b.clicks THEN 1 END), 0)
        |    AS BIGINT) AS ties
        |FROM dn a JOIN dn b ON a.lang = b.lang AND a.team < b.team
        |GROUP BY 1, 2 ORDER BY team_a, team_b""".stripMargin),

    // click credit over the q301 page: clicks land on positions showing
    // doc_id % 4 == 1; the owning teams' counts decide the winner
    "q302_interleave_credit" -> (interleaveDraftCtes +
      """, fin AS (
        |  SELECT lang, i AS pos, ids[i] AS doc_id, teams[i] AS team
        |  FROM msel, UNNEST(range(1, len(ids) + 1)) t(i)
        |  WHERE step = (SELECT max(step) FROM msel m2 WHERE m2.lang = msel.lang)
        |), ck AS (
        |  SELECT DISTINCT lang, pos FROM fin WHERE doc_id % 4 = 1
        |), cc AS (
        |  SELECT f.lang,
        |    CAST(coalesce(sum(CASE WHEN f.team = 'len' AND c.pos IS NOT NULL
        |      THEN 1 END), 0) AS BIGINT) AS clicks_a,
        |    CAST(coalesce(sum(CASE WHEN f.team = 'md5' AND c.pos IS NOT NULL
        |      THEN 1 END), 0) AS BIGINT) AS clicks_b
        |  FROM fin f LEFT JOIN ck c ON c.lang = f.lang AND c.pos = f.pos
        |  GROUP BY 1
        |)
        |SELECT lang, clicks_a, clicks_b,
        |  CASE WHEN clicks_a > clicks_b THEN 'len'
        |       WHEN clicks_b > clicks_a THEN 'md5' END AS winner
        |FROM cc ORDER BY lang""".stripMargin),

    // CUSUM via the prefix identity: running sum of deviations minus its
    // running min, exact integer moments for mean/sigma
    "q219_cusum_changepoints" ->
      """WITH pb AS (
        |  SELECT event_type AS series, epoch_us(ts) // 3600000000 AS bucket,
        |    count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), st AS (
        |  SELECT series, sum(n) AS s1, sum(n * n) AS s2, count(*) AS m
        |  FROM pb GROUP BY 1
        |), j AS (
        |  SELECT pb.series, pb.bucket, pb.n,
        |    CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE) AS mean,
        |    CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) AS var
        |  FROM pb JOIN st USING (series)
        |), p AS (
        |  SELECT series, bucket, n, var,
        |    sum(CAST(n AS DOUBLE) - mean - CAST(0.5 AS DOUBLE) * sqrt(var))
        |      OVER w AS pu,
        |    sum(mean - CAST(0.5 AS DOUBLE) * sqrt(var) - CAST(n AS DOUBLE))
        |      OVER w AS pd,
        |    sqrt(var) AS sigma
        |  FROM j
        |  WINDOW w AS (PARTITION BY series ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), m2 AS (
        |  SELECT series, bucket, n, var, sigma, pu, pd,
        |    min(pu) OVER w AS mu, min(pd) OVER w AS md
        |  FROM p
        |  WINDOW w AS (PARTITION BY series ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT series, bucket, CAST(n AS BIGINT) AS n,
        |  CASE WHEN var > 0 THEN round(pu - least(CAST(0.0 AS DOUBLE), mu), 6) + 0.0 END
        |    AS s_pos_r,
        |  CASE WHEN var > 0 THEN round(pd - least(CAST(0.0 AS DOUBLE), md), 6) + 0.0 END
        |    AS s_neg_r,
        |  (var > 0 AND pu - least(CAST(0.0 AS DOUBLE), mu)
        |    > CAST(4.0 AS DOUBLE) * sigma) AS alarm_up,
        |  (var > 0 AND pd - least(CAST(0.0 AS DOUBLE), md)
        |    > CAST(4.0 AS DOUBLE) * sigma) AS alarm_down
        |FROM m2
        |ORDER BY series, bucket""".stripMargin,

    // HT estimator: sample regenerated from the md5 unit hash, then the
    // two-level id-sorted fold (md5 sub-bucket -> bucket order) replayed
    "q220_ht_estimate" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |    (CAST(1.0 AS DOUBLE) + CAST(doc_id % 5 AS DOUBLE)) / CAST(10.0 AS DOUBLE) AS p,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ht'), 1, 8)) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS uh
        |  FROM documents WHERE doc_id IS NOT NULL
        |), sm AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS b,
        |    CAST(1.0 AS DOUBLE) / p AS tn,
        |    coalesce(CAST(n_chars AS DOUBLE), CAST(0.0 AS DOUBLE)) / p AS ts,
        |    (CAST(1.0 AS DOUBLE) - p) / (p * p)
        |      * coalesce(CAST(n_chars AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * coalesce(CAST(n_chars AS DOUBLE), CAST(0.0 AS DOUBLE)) AS tv
        |  FROM d WHERE uh < p
        |), l1 AS (
        |  SELECT source, b, count(*) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(tn ORDER BY doc_id)),
        |      (x, y) -> x + y) AS pn,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(ts ORDER BY doc_id)),
        |      (x, y) -> x + y) AS ps,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(tv ORDER BY doc_id)),
        |      (x, y) -> x + y) AS pv
        |  FROM sm GROUP BY 1, 2
        |)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_sample,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(pn ORDER BY b)),
        |    (x, y) -> x + y), 6) + 0.0 AS est_rows_r,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(ps ORDER BY b)),
        |    (x, y) -> x + y), 6) + 0.0 AS est_sum_r,
        |  round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(pv ORDER BY b)),
        |    (x, y) -> x + y)), 6) + 0.0 AS se_sum_r
        |FROM l1 GROUP BY source ORDER BY source""".stripMargin,

    // Benford audit: exact integer-cents leading digit, interpolated
    // log10(1+1/d) expectations
    "q221_benford_audit" -> {
      val ps = (1 to 9).map(d =>
        s"    ($d, CAST(${math.log10(1.0 + 1.0 / d)} AS DOUBLE))").mkString(",\n")
      s"""WITH c AS (
         |  SELECT CAST(round(o_totalprice * CAST(100.0 AS DOUBLE), 0) AS BIGINT) AS cents
         |  FROM orders WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
         |), d AS (
         |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         |    count(*) AS n
         |  FROM c WHERE cents >= 1 GROUP BY 1
         |), tot AS (SELECT sum(n) AS t FROM d),
         |e AS (SELECT * FROM (VALUES
         |$ps
         |) v(digit, p))
         |SELECT e.digit, CAST(coalesce(d.n, 0) AS BIGINT) AS n,
         |  round(CAST(coalesce(d.n, 0) AS DOUBLE) / t, 6) + 0.0 AS obs_frac_r,
         |  round(p, 6) + 0.0 AS benford_p_r,
         |  round(CAST(coalesce(d.n, 0) AS DOUBLE) / t - p, 6) + 0.0 AS dev_r
         |FROM e LEFT JOIN d USING (digit), tot
         |ORDER BY digit""".stripMargin
    },

    // reciprocity over the directed thresholded trade graph
    "q222_reciprocity" ->
      """WITH tr AS (
        |  SELECT c.c_nationkey AS n1, s.s_nationkey AS n2, count(*) AS cnt
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2
        |), tot AS (SELECT sum(cnt) AS t FROM tr),
        |ed0 AS (SELECT n1, n2 FROM tr, tot WHERE cnt * 12500 > t * 21),
        |simple AS (
        |  SELECT DISTINCT n1 AS u, n2 AS v
        |  FROM ed0 WHERE n1 IS NOT NULL AND n2 IS NOT NULL AND n1 <> n2
        |), resp AS (
        |  SELECT s.u, count(*) AS n_recip
        |  FROM simple s JOIN simple r ON r.u = s.v AND r.v = s.u
        |  GROUP BY 1
        |), outd AS (SELECT u, count(*) AS out_deg FROM simple GROUP BY 1)
        |SELECT outd.u AS node, CAST(out_deg AS BIGINT) AS out_deg,
        |  CAST(coalesce(n_recip, 0) AS BIGINT) AS n_recip,
        |  round(CAST(coalesce(n_recip, 0) AS DOUBLE) / out_deg, 6) + 0.0
        |    AS reciprocity_r
        |FROM outd LEFT JOIN resp ON resp.u = outd.u
        |ORDER BY node""".stripMargin,

    // linear multi-touch attribution: per-user interval join, per-(conv,
    // type) counts over per-conv totals, conv-id-ordered share fold
    "q223_attribution" ->
      """WITH base AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), c AS (
        |  SELECT user_id, us AS cus, event_id AS cid
        |  FROM base WHERE event_type = 'purchase'
        |), tch AS (
        |  SELECT user_id, us AS tus, event_id AS tid, event_type AS touch_type
        |  FROM base WHERE event_type IN ('view', 'click')
        |), p AS (
        |  SELECT cid, touch_type FROM c JOIN tch USING (user_id)
        |  WHERE tus <= cus AND tus > cus - 86400000000
        |), pc AS (
        |  SELECT cid, touch_type, count(*) AS nt FROM p GROUP BY 1, 2
        |), tot AS (SELECT cid, sum(nt) AS n FROM pc GROUP BY 1)
        |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_conversions,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(CAST(nt AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY cid)),
        |    (x, y) -> x + y), 6) + 0.0 AS credit_r
        |FROM pc JOIN tot USING (cid)
        |GROUP BY touch_type ORDER BY touch_type""".stripMargin,

    // horizon dedup: greedy anchors as a FIXED 8-round chained-CTE
    // replay (a_{i+1} = each key's earliest row at or past a_i + H);
    // the 720h event span divided by the 120h horizon bounds true
    // anchors at 7, so 8 rounds are provably sufficient — if the data
    // ever outgrew them the union would lack rows and the hash compare
    // would catch it
    "q224_horizon_dedup" -> {
      val h = 432000000000L
      val rounds = (2 to 8).map { i =>
        s"""a$i AS MATERIALIZED (
           |  SELECT b.u, b.t, b.us, b.id FROM base b
           |  JOIN a${i - 1} p ON b.u = p.u AND b.t = p.t AND b.us >= p.us + $h
           |  QUALIFY row_number() OVER (PARTITION BY b.u, b.t ORDER BY b.us, b.id) = 1
           |)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 8).map(i => s"SELECT * FROM a$i").mkString("\n  UNION ALL ")
      s"""WITH base AS (
         |  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us, event_id AS id
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |), a1 AS MATERIALIZED (
         |  SELECT u, t, us, id FROM base
         |  QUALIFY row_number() OVER (PARTITION BY u, t ORDER BY us, id) = 1
         |),
         |$rounds,
         |sel AS (
         |  $unions
         |)
         |SELECT u AS user_id, t AS event_type, us, id AS event_id
         |FROM sel ORDER BY user_id, event_type, us""".stripMargin
    },

    // k-core: fixed 26-round peel replay (25 nodes bound the peel depth)
    "q225_k_core" -> {
      val k = 13
      val rounds = (1 to 26).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT node FROM (
           |    SELECT node, count(*) AS deg FROM (
           |      SELECT a AS node FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
           |    GROUP BY 1) WHERE deg >= $k
           |),
           |e$i AS MATERIALIZED (
           |  SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN d$i x ON e.a = x.node
           |  JOIN d$i y ON e.b = y.node
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH tr AS (
         |  SELECT c.c_nationkey AS n1, s.s_nationkey AS n2, count(*) AS cnt
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2
         |), tot AS (SELECT sum(cnt) AS t FROM tr),
         |ed0 AS (SELECT n1, n2 FROM tr, tot WHERE cnt * 12500 > t * 21),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(n1, n2) AS a, greatest(n1, n2) AS b
         |  FROM ed0 WHERE n1 IS NOT NULL AND n2 IS NOT NULL AND n1 <> n2
         |),
         |$rounds
         |SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM (
         |  SELECT a AS node FROM e26 UNION ALL SELECT b FROM e26)
         |GROUP BY node ORDER BY node""".stripMargin
    },

    // connected components over the q203 fuzzy-match pair graph: fixed
    // 40-round min-label flood replay (label_i(v) = min(label_{i-1}(v),
    // min over neighbors) — the engine's relax step without the jump);
    // the shared ccFloodCtes chain, also the q235 base
    "q226_connected_components" ->
      s"""WITH ${ccFloodCtes(40)}
         |SELECT node, label AS component FROM l40 ORDER BY node""".stripMargin,

    // incremental CC: the Spark side splits the pair graph 2/3 + 1/3 and
    // merges the increment through ccApply; increment ≡ full rebuild, so
    // the oracle is the same full-graph flood as q226
    "q247_cc_incremental" ->
      s"""WITH ${ccFloodCtes(40)}
         |SELECT node, label AS component FROM l40 ORDER BY node""".stripMargin,

    // entity canonicalization: components (the q226 chain) + per-entity
    // argmax(acctbal, ties to smaller id) + singleton pass-through
    "q235_entity_keepers" -> entityKeepersOracleSql,

    // the incremental loop (ccApply + entityKeepersFromComponents) must
    // land on the SAME total assignment as the from-scratch derivation
    "q252_entity_keepers_incremental" -> entityKeepersOracleSql,

    // robust (median/MAD) z: exact quantile_cont == Spark percentile
    // (q93), z from the RAW med/mad, 6-decimal display rounding after
    "q233_robust_outliers" ->
      """WITH med AS (
        |  SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
        |  FROM documents GROUP BY lang
        |), dev AS (
        |  SELECT d.doc_id, d.lang, d.n_chars, m.med
        |  FROM documents d JOIN med m USING (lang)
        |), mad AS (
        |  SELECT lang,
        |    quantile_cont(abs(CAST(n_chars AS DOUBLE) - med), 0.5) AS mad
        |  FROM dev GROUP BY lang
        |)
        |SELECT dev.doc_id, dev.lang, dev.n_chars,
        |  CASE WHEN dev.n_chars IS NOT NULL AND mad.mad > 0.0
        |    THEN round(0.6744897501960817 * (CAST(dev.n_chars AS DOUBLE) - dev.med) / mad.mad, 6) + 0.0
        |    END AS robust_z_r,
        |  round(dev.med, 6) + 0.0 AS median_r,
        |  round(mad.mad, 6) + 0.0 AS mad_r
        |FROM dev JOIN mad USING (lang) ORDER BY dev.doc_id""".stripMargin,

    // top-25 3-step event motifs: two leads over the per-user sort,
    // path count, (n DESC, path binary ASC) rank — the heap contract
    "q234_event_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE user_id IS NOT NULL
        |), s AS (
        |  SELECT event_type AS s0,
        |    lead(event_type, 1) OVER w AS s1,
        |    lead(event_type, 2) OVER w AS s2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), p AS (
        |  SELECT s0 || ' > ' || s1 || ' > ' || s2 AS path, COUNT(*) AS n
        |  FROM s WHERE s1 IS NOT NULL AND s2 IS NOT NULL GROUP BY 1
        |), rk AS (
        |  SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rank
        |  FROM p
        |)
        |SELECT path, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 25 ORDER BY rank""".stripMargin,

    // exact all-pairs shingle Jaccard: the oracle brute-forces the full
    // inverted index (no prefix filter needed — the filter is lossless,
    // so outputs must match exactly); 3-gram build per the engine-wide
    // WordGrams convention (a short doc yields its one short gram)
    "q227_prefix_jaccard" ->
      """WITH t0 AS (
        |  SELECT doc_id,
        |    string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS toks
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND len(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, GREATEST(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(toks[i + 1 : i + 3], ' '))) AS tok
        |  FROM t0 WHERE len(toks) > 0
        |), d AS (
        |  SELECT DISTINCT doc_id, tok FROM g
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM d GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM d a JOIN d b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |    CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jac
        |  FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |)
        |SELECT id_a, id_b, n_common, round(jac, 6) + 0.0 AS jaccard_r
        |FROM j WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // personalized (seeded-teleport) PageRank: the q117 replay with
    // teleport and initial mass restricted to seeds {0, 5, 10}
    "q228_personalized_pagerank" -> {
      def iterCte(cur: String, prev: String): String =
        s"""$cur AS (
           |  SELECT nodes.node,
           |    (CASE WHEN nodes.node IN (0, 5, 10)
           |      THEN (1.0 - 0.85) / 3.0 ELSE 0.0 END)
           |      + 0.85 * COALESCE(s.acc, 0.0) AS rank
           |  FROM nodes
           |  LEFT JOIN (
           |    SELECT dst AS node,
           |      list_reduce(list_prepend(0.0, list(p ORDER BY b)), (a, x) -> a + x) AS acc
           |    FROM (
           |      SELECT e.dst, e.b,
           |        list_reduce(list_prepend(0.0, list(r.rank * e.w / e.outw ORDER BY e.src)), (a, x) -> a + x) AS p
           |      FROM e JOIN $prev r ON e.src = r.node
           |      GROUP BY e.dst, e.b) s1
           |    GROUP BY dst) s ON s.node = nodes.node
           |)""".stripMargin
      val iters = (1 to 5).map(i => iterCte(s"r$i", s"r${i - 1}")).mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2
         |), od AS (SELECT src, SUM(w) AS outw FROM e0 GROUP BY src),
         |e AS (SELECT e0.src, e0.dst, e0.w, od.outw,
         |  CAST(('0x' || substr(md5(CAST(e0.src AS VARCHAR)), 1, 4)) AS BIGINT) % 1024 AS b
         |  FROM e0 JOIN od USING (src)),
         |nodes AS (SELECT DISTINCT src AS node FROM e0 UNION SELECT DISTINCT dst FROM e0),
         |r0 AS (SELECT node,
         |  CASE WHEN node IN (0, 5, 10) THEN 1.0 / 3.0 ELSE 0.0 END AS rank
         |  FROM nodes),
         |$iters
         |SELECT node, round(rank, 9) + 0.0 AS rank_r FROM r5 ORDER BY node""".stripMargin
    },

    // per-doc TF-IDF top-3: tf x ln(N/df), ties toward the binary-
    // smaller token (the engine heap's contract == ORDER BY score
    // DESC, token)
    "q229_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')) AS token
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND len(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0
        |), tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |), dfq AS (
        |  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
        |), nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
        |s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    CAST(tf.tf AS DOUBLE) * ln(CAST(nn.n AS DOUBLE) / CAST(dfq.df AS DOUBLE)) AS score
        |  FROM tf JOIN dfq USING (token), nn
        |), rk AS (
        |  SELECT doc_id, token, tf, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
        |  FROM s
        |)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, CAST(tf AS BIGINT) AS tf,
        |  round(score, 6) + 0.0 AS tfidf_r
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // seasonal anomalies: leave-one-out phase-profile z-scores, exact
    // integer moments, the q85/q207 IEEE op-sequence contract
    "q230_seasonal_anomalies" ->
      """WITH e AS (
        |  SELECT event_type AS series, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL
        |), cells AS (
        |  SELECT series, us // 3600000000 AS bucket, COUNT(*) AS n
        |  FROM e GROUP BY 1, 2
        |), c2 AS (
        |  SELECT series, bucket, bucket % 24 AS phase, n FROM cells
        |), prof AS (
        |  SELECT series, phase, COUNT(*) AS m, SUM(n) AS s1, SUM(n * n) AS s2
        |  FROM c2 GROUP BY 1, 2
        |), z AS (
        |  SELECT series, bucket, phase, n, m,
        |    CAST(s1 - n AS DOUBLE) / CAST(m - 1 AS DOUBLE) AS mean,
        |    CAST(s2 - n * n AS DOUBLE) / CAST(m - 1 AS DOUBLE)
        |      - (CAST(s1 - n AS DOUBLE) / CAST(m - 1 AS DOUBLE))
        |        * (CAST(s1 - n AS DOUBLE) / CAST(m - 1 AS DOUBLE)) AS var
        |  FROM c2 JOIN prof USING (series, phase)
        |)
        |SELECT series, bucket, phase, CAST(n AS BIGINT) AS n,
        |  CAST(m - 1 AS BIGINT) AS base_n,
        |  CASE WHEN m - 1 >= 3 THEN round(mean, 6) + 0.0 END AS mean_r,
        |  CASE WHEN m - 1 >= 3 AND var > 0
        |    THEN round((CAST(n AS DOUBLE) - mean) / sqrt(var), 6) + 0.0 END AS z_r,
        |  (m - 1 >= 3 AND
        |    ((var > 0 AND abs(CAST(n AS DOUBLE) - mean) > 3.0 * sqrt(var)) OR
        |     (var = 0.0 AND CAST(n AS DOUBLE) <> mean))) AS is_anomaly
        |FROM z ORDER BY series, bucket""".stripMargin,

    // column-profile drift between the q197 snapshot pair (cur also
    // nulls every 5th lang): exact counts per column, both sides
    "q231_profile_diff" -> {
      val prevSql = "SELECT * FROM documents WHERE doc_id < 800"
      val curSql =
        """SELECT doc_id,
          |  CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
          |  CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS lang,
          |  source, n_chars
          |FROM documents WHERE doc_id >= 200 AND doc_id < 1000""".stripMargin
      def side(name: String, src: String): String =
        Seq("text", "lang", "source", "n_chars").map { c =>
          s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
             |  COUNT(*) FILTER (WHERE $c IS NULL) AS n_null,
             |  COUNT(DISTINCT $c) AS n_distinct
             |FROM $name""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH prev AS ($prevSql), cur AS ($curSql),
         |pp AS (
         |${side("prev", prevSql)}
         |), cc AS (
         |${side("cur", curSql)}
         |)
         |SELECT pp."column",
         |  CAST(pp.n_rows AS BIGINT) AS rows_prev, CAST(cc.n_rows AS BIGINT) AS rows_cur,
         |  CAST(cc.n_rows - pp.n_rows AS BIGINT) AS d_rows,
         |  CAST(pp.n_distinct AS BIGINT) AS dist_prev, CAST(cc.n_distinct AS BIGINT) AS dist_cur,
         |  CAST(cc.n_distinct - pp.n_distinct AS BIGINT) AS d_distinct,
         |  round(CAST(pp.n_null AS DOUBLE) / pp.n_rows, 6) + 0.0 AS null_rate_prev_r,
         |  round(CAST(cc.n_null AS DOUBLE) / cc.n_rows, 6) + 0.0 AS null_rate_cur_r,
         |  round((round(CAST(cc.n_null AS DOUBLE) / cc.n_rows, 6) + 0.0)
         |    - (round(CAST(pp.n_null AS DOUBLE) / pp.n_rows, 6) + 0.0), 6) + 0.0 AS d_null_rate_r
         |FROM pp JOIN cc USING ("column") ORDER BY pp."column"""".stripMargin
    },

    // A-ES weighted draw: ln(unitHash)/w keys, top-5 per lang by key
    // desc with smaller-id ties (the GroupTopK heap contract)
    "q232_weighted_sample_norep" ->
      """WITH u AS (
        |  SELECT lang, doc_id,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'es'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uh,
        |    CAST(n_chars + 1 AS DOUBLE) AS w
        |  FROM documents WHERE doc_id IS NOT NULL
        |), keyed AS (
        |  SELECT lang, doc_id, ln(uh) / w AS k FROM u
        |), rk AS (
        |  SELECT lang, doc_id, k,
        |    row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rank
        |  FROM keyed
        |)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id,
        |  round(k, 6) + 0.0 AS es_key_r
        |FROM rk WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    // Theil–Sen: median pairwise slope + median intercept, exact
    // quantile_cont == Spark percentile, same IEEE op order
    "q236_theil_sen" ->
      """WITH e AS (
        |  SELECT event_type AS series, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL
        |), cells AS (
        |  SELECT series, us // 3600000000 AS bucket, COUNT(*) AS n
        |  FROM e GROUP BY 1, 2
        |), p AS (
        |  SELECT a.series,
        |    CAST(b.n - a.n AS DOUBLE) / CAST(b.bucket - a.bucket AS DOUBLE) AS s
        |  FROM cells a JOIN cells b
        |    ON a.series = b.series AND b.bucket > a.bucket
        |), m AS (
        |  SELECT series, COUNT(*) AS n_pairs, quantile_cont(s, 0.5) AS m
        |  FROM p GROUP BY series
        |), nb AS (
        |  SELECT series, COUNT(*) AS n_buckets FROM cells GROUP BY series
        |)
        |SELECT m.series, CAST(nb.n_buckets AS BIGINT) AS n_buckets,
        |  CAST(m.n_pairs AS BIGINT) AS n_pairs,
        |  round(m.m, 6) + 0.0 AS slope_r,
        |  round(quantile_cont(
        |    CAST(c.n AS DOUBLE) - m.m * CAST(c.bucket AS DOUBLE), 0.5), 6) + 0.0
        |    AS intercept_r
        |FROM cells c JOIN m ON m.series = c.series JOIN nb ON nb.series = c.series
        |GROUP BY m.series, nb.n_buckets, m.n_pairs, m.m
        |ORDER BY m.series""".stripMargin,

    // PMI collocations: positional adjacent pairs with repetition,
    // ln-decomposed score, (pmi DESC, bigram binary ASC) rank
    "q237_collocations" ->
      """WITH d AS (
        |  SELECT CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS ts
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
        |), dd AS (
        |  SELECT ts FROM d WHERE len(ts) > 0
        |), uni AS (
        |  SELECT unnest(ts) AS tok FROM dd
        |), uc AS (
        |  SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok
        |), nn AS (SELECT COUNT(*) AS n FROM uni),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(ts)),
        |    i -> {'x': ts[i], 'y': ts[i + 1]})) AS p
        |  FROM dd WHERE len(ts) >= 2
        |), bc AS (
        |  SELECT p.x AS x, p.y AS y, COUNT(*) AS n_pair
        |  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |), s AS (
        |  SELECT x || ' ' || y AS bigram, n_pair,
        |    ln(CAST(n_pair AS DOUBLE)) + ln(CAST(nn.n AS DOUBLE))
        |      - ln(CAST(ux.c AS DOUBLE)) - ln(CAST(uy.c AS DOUBLE)) AS pmi
        |  FROM bc JOIN uc ux ON ux.tok = bc.x JOIN uc uy ON uy.tok = bc.y, nn
        |), rk AS (
        |  SELECT bigram, n_pair, pmi,
        |    row_number() OVER (ORDER BY pmi DESC, bigram) AS rank
        |  FROM s
        |)
        |SELECT bigram, CAST(n_pair AS BIGINT) AS n_pair,
        |  round(pmi, 6) + 0.0 AS pmi_r, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 25 ORDER BY rank""".stripMargin,

    // interval union per supplier: gaps-and-islands via the running max
    // of earlier ends (ROWS .. 1 PRECEDING) over the DISTINCT (s, e)
    // grain — dedup makes the per-key sort TOTAL, so the flag CTE and
    // the running-sum CTE agree on row identity (with duplicates, a
    // tied (1,0) flag pair can swap between the two window sorts and
    // bridge a real gap); n_intervals counts the raw grain
    "q238_interval_coverage" ->
      """WITH raw AS (
        |  SELECT l_suppkey, epoch_us(l_shipdate) AS s,
        |    epoch_us(l_shipdate) + 604800000000 AS e
        |  FROM lineitem WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL
        |), rc AS (
        |  SELECT l_suppkey, COUNT(*) AS n_intervals FROM raw GROUP BY 1
        |), iv AS (
        |  SELECT DISTINCT l_suppkey, s, e FROM raw
        |), f AS (
        |  SELECT l_suppkey, s, e,
        |    CASE WHEN max(e) OVER wp IS NULL OR s > max(e) OVER wp
        |      THEN 1 ELSE 0 END AS nw
        |  FROM iv
        |  WINDOW wp AS (PARTITION BY l_suppkey ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), g AS (
        |  SELECT l_suppkey, s, e,
        |    SUM(nw) OVER (PARTITION BY l_suppkey ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM f
        |), isla AS (
        |  SELECT l_suppkey, isl, min(s) AS i_s, max(e) AS i_e
        |  FROM g GROUP BY 1, 2
        |), wg AS (
        |  SELECT l_suppkey, isl, i_s, i_e,
        |    i_s - lag(i_e) OVER (PARTITION BY l_suppkey ORDER BY isl) AS gap
        |  FROM isla
        |)
        |SELECT wg.l_suppkey,
        |  CAST(MIN(rc.n_intervals) AS BIGINT) AS n_intervals,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(i_e - i_s) AS BIGINT) AS covered_us,
        |  CAST(MAX(i_e) - MIN(i_s) AS BIGINT) AS span_us,
        |  round(CASE WHEN MAX(i_e) > MIN(i_s)
        |    THEN CAST(SUM(i_e - i_s) AS DOUBLE) / CAST(MAX(i_e) - MIN(i_s) AS DOUBLE)
        |    END, 6) + 0.0 AS coverage_r,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap_us
        |FROM wg JOIN rc ON rc.l_suppkey = wg.l_suppkey
        |GROUP BY wg.l_suppkey ORDER BY wg.l_suppkey""".stripMargin,

    // dyadic decay: exact integer 2^(29-k) day weights, horizon 30
    "q239_decay_activity" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), t AS (SELECT max(us) AS T FROM e),
        |k AS (
        |  SELECT user_id, (T - us) // 86400000000 AS k FROM e, t
        |), w AS (
        |  SELECT user_id, k, COUNT(*) AS nk FROM k WHERE k < 30 GROUP BY 1, 2
        |)
        |SELECT user_id,
        |  CAST(SUM(nk) AS BIGINT) AS n_events_window,
        |  CAST(SUM(nk * (CAST(1 AS BIGINT) << CAST(29 - k AS INTEGER))) AS BIGINT)
        |    AS decay_score,
        |  round(CAST(SUM(nk * (CAST(1 AS BIGINT) << CAST(29 - k AS INTEGER))) AS DOUBLE)
        |    / 536870912.0, 6) + 0.0 AS score_r
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    // two-proportion A/B: md5 unit-hash assignment, bool_or conversion,
    // pooled z mirrored term-for-term
    "q240_ab_test" ->
      """WITH u AS (
        |  SELECT user_id, bool_or(event_type = 'purchase') AS conv,
        |    CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < 0.5
        |      THEN 'A' ELSE 'B' END AS v
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |), arm AS (
        |  SELECT v, COUNT(*) AS n, COUNT(*) FILTER (WHERE conv) AS k
        |  FROM u GROUP BY v
        |), a AS (SELECT * FROM arm WHERE v = 'A'),
        |b AS (SELECT * FROM arm WHERE v = 'B'),
        |c AS (
        |  SELECT a.n AS na, a.k AS ka, b.n AS nb, b.k AS kb,
        |    CAST(a.k AS DOUBLE) / CAST(a.n AS DOUBLE) AS cra,
        |    CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE) AS crb,
        |    (CAST(a.k AS DOUBLE) + CAST(b.k AS DOUBLE))
        |      / (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE)) AS p
        |  FROM a, b
        |)
        |SELECT 'A' AS variant_a, 'B' AS variant_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(ka AS BIGINT) AS conv_a,
        |  CAST(nb AS BIGINT) AS n_b, CAST(kb AS BIGINT) AS conv_b,
        |  round(cra, 6) + 0.0 AS cr_a_r,
        |  round(crb, 6) + 0.0 AS cr_b_r,
        |  round(crb - cra, 6) + 0.0 AS abs_lift_r,
        |  CASE WHEN cra > 0 THEN round((crb - cra) / cra, 6) + 0.0 END AS rel_lift_r,
        |  CASE WHEN p * (1.0 - p) * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)) > 0
        |    THEN round((crb - cra) /
        |      sqrt(p * (1.0 - p) * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))), 6) + 0.0
        |    END AS z_r
        |FROM c""".stripMargin,

    // funnel step timing: the q202 conditional-min chain, per-pair
    // deltas, exact quantile_cont percentiles
    "q241_funnel_latency" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), s0 AS (
        |  SELECT u, min(us) AS ti FROM e WHERE t = 'signup' GROUP BY u
        |), s1 AS (
        |  SELECT e.u, min(e.us) AS ti FROM e JOIN s0 ON e.u = s0.u AND e.us >= s0.ti
        |  WHERE e.t = 'view' GROUP BY e.u
        |), s2 AS (
        |  SELECT e.u, min(e.us) AS ti FROM e JOIN s1 ON e.u = s1.u AND e.us >= s1.ti
        |  WHERE e.t = 'click' GROUP BY e.u
        |), s3 AS (
        |  SELECT e.u, min(e.us) AS ti FROM e JOIN s2 ON e.u = s2.u AND e.us >= s2.ti
        |  WHERE e.t = 'purchase' GROUP BY e.u
        |), d1 AS (SELECT s1.ti - s0.ti AS d FROM s1 JOIN s0 USING (u)),
        |d2 AS (SELECT s2.ti - s1.ti AS d FROM s2 JOIN s1 USING (u)),
        |d3 AS (SELECT s3.ti - s2.ti AS d FROM s3 JOIN s2 USING (u))
        |SELECT CAST(1 AS BIGINT) AS step_idx, 'signup' AS from_type, 'view' AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(MIN(d) AS BIGINT) AS min_us, CAST(MAX(d) AS BIGINT) AS max_us,
        |  round(quantile_cont(d, 0.5), 6) + 0.0 AS p50_us_r,
        |  round(quantile_cont(d, 0.9), 6) + 0.0 AS p90_us_r
        |FROM d1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'view', 'click', CAST(COUNT(*) AS BIGINT),
        |  CAST(MIN(d) AS BIGINT), CAST(MAX(d) AS BIGINT),
        |  round(quantile_cont(d, 0.5), 6) + 0.0,
        |  round(quantile_cont(d, 0.9), 6) + 0.0
        |FROM d2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'click', 'purchase', CAST(COUNT(*) AS BIGINT),
        |  CAST(MIN(d) AS BIGINT), CAST(MAX(d) AS BIGINT),
        |  round(quantile_cont(d, 0.5), 6) + 0.0,
        |  round(quantile_cont(d, 0.9), 6) + 0.0
        |FROM d3
        |ORDER BY step_idx""".stripMargin,

    // Gini concentration: descending (count, id) position j, exact
    // integer numerator sum((n + 1 - 2j) * c)
    "q242_activity_gini" ->
      """WITH c AS (
        |  SELECT user_id, COUNT(*) AS c FROM events
        |  WHERE user_id IS NOT NULL GROUP BY user_id
        |), r AS (
        |  SELECT user_id, c,
        |    row_number() OVER (ORDER BY c DESC, user_id DESC) AS j
        |  FROM c
        |), t AS (SELECT COUNT(*) AS n, SUM(c) AS sc, MAX(c) AS mx FROM c)
        |SELECT CAST(t.n AS BIGINT) AS n_users, CAST(t.sc AS BIGINT) AS n_events,
        |  round(CAST(SUM((t.n + 1 - 2 * j) * c) AS DOUBLE)
        |    / (CAST(t.n AS DOUBLE) * CAST(t.sc AS DOUBLE)), 6) + 0.0 AS gini_r,
        |  round(CAST(t.mx AS DOUBLE) / CAST(t.sc AS DOUBLE), 6) + 0.0
        |    AS top_user_frac_r
        |FROM r, t GROUP BY t.n, t.sc, t.mx""".stripMargin,

    // Neyman allocation: exact stratum moments, source-sorted Σ N·σ fold
    "q243_neyman_allocation" ->
      """WITH s AS (
        |  SELECT source, COUNT(n_chars) AS n_rows,
        |    SUM(CAST(n_chars AS HUGEINT)) AS s1,
        |    SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS s2
        |  FROM documents GROUP BY source
        |), m AS (
        |  SELECT source, n_rows,
        |    CAST(s1 AS DOUBLE) / CAST(n_rows AS DOUBLE) AS mean,
        |    CAST(s2 AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n_rows AS DOUBLE)) AS var
        |  FROM s
        |), wgt AS (
        |  SELECT source, n_rows, mean,
        |    CASE WHEN var > 0 THEN sqrt(var) ELSE 0.0 END AS sigma,
        |    CAST(n_rows AS DOUBLE) * (CASE WHEN var > 0 THEN sqrt(var) ELSE 0.0 END) AS w
        |  FROM m
        |), t AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(w ORDER BY source)), (a, x) -> a + x) AS tw
        |  FROM wgt
        |)
        |SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
        |  round(mean, 6) + 0.0 AS mean_r,
        |  round(sigma, 6) + 0.0 AS sigma_r,
        |  round(CASE WHEN tw > 0 THEN w / tw ELSE 0.0 END, 6) + 0.0 AS share_r,
        |  round(CASE WHEN tw > 0 THEN 1000.0 * (w / tw) ELSE 0.0 END, 6) + 0.0
        |    AS alloc_r
        |FROM wgt, t ORDER BY source""".stripMargin,

    // weighted lower quantile: RANGE-frame cumulative weights, exact
    // integer boundary compare
    "q244_weighted_median" ->
      """WITH b AS (
        |  SELECT lang, n_chars AS v, n_chars AS w
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |), c AS (
        |  SELECT lang, v,
        |    SUM(w) OVER (PARTITION BY lang ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY lang) AS tot
        |  FROM b
        |)
        |SELECT lang, CAST(MIN(tot) AS BIGINT) AS w_total, MIN(v) AS wq_value
        |FROM c WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(tot AS DOUBLE)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Markov held-out top-1: midpoint split, argmax with (n DESC, to
    // ASC) ties, unseen from-types count as misses
    "q245_next_event_accuracy" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), sp AS (SELECT (min(us) + max(us)) // 2 AS s FROM e),
        |p AS (
        |  SELECT event_type AS f,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t,
        |    us
        |  FROM e
        |), pp AS (SELECT f, t, us FROM p WHERE t IS NOT NULL),
        |tr AS (
        |  SELECT f, t, COUNT(*) AS n FROM pp, sp WHERE us < s GROUP BY f, t
        |), md AS (
        |  SELECT f, t AS pred FROM tr
        |  QUALIFY row_number() OVER (PARTITION BY f ORDER BY n DESC, t) = 1
        |), ev AS (SELECT pp.f, pp.t FROM pp, sp WHERE us >= s),
        |j AS (SELECT ev.f, ev.t, md.pred FROM ev LEFT JOIN md USING (f)),
        |tc AS (SELECT COUNT(*) AS n_train FROM pp, sp WHERE us < s)
        |SELECT CAST(tc.n_train AS BIGINT) AS n_train,
        |  CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(COUNT(pred) AS BIGINT) AS n_covered,
        |  round(CAST(COUNT(*) FILTER (WHERE pred = t) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS accuracy_r,
        |  round(CAST(COUNT(*) FILTER (WHERE pred = t) AS DOUBLE)
        |    / CAST(COUNT(pred) AS DOUBLE), 6) + 0.0 AS accuracy_covered_r
        |FROM j, tc GROUP BY tc.n_train""".stripMargin,

    // maximal repeated spans: q123's removal windows merged per doc
    // (equal-length intervals over unique pos: one lag is the running
    // max end), span_end clamped to the doc's token count for the
    // sub-span whole-doc windows
    "q246_repeated_span_islands" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN len(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0 THEN []
        |         ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, pw.pos AS pos, pw.win AS win FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(0, GREATEST(len(toks) - 13, 0) + 1),
        |      i -> {'pos': i, 'win': array_to_string(toks[i + 1 : i + 13], ' ')})) AS pw
        |    FROM base WHERE len(toks) > 0)
        |), rep AS (
        |  SELECT win FROM w GROUP BY win HAVING count(*) > 1
        |), ranked AS (
        |  SELECT doc_id, pos, row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
        |  FROM w WHERE win IN (SELECT win FROM rep)
        |), red AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos FROM ranked WHERE rn > 1
        |), m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos <= lag(pos + 13) OVER (PARTITION BY doc_id ORDER BY pos)
        |         THEN 0 ELSE 1 END AS brk
        |  FROM red
        |), g AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM m
        |), sp AS (
        |  SELECT doc_id, grp, CAST(min(pos) AS BIGINT) AS span_start,
        |    CAST(max(pos) + 13 AS BIGINT) AS rawend,
        |    CAST(count(*) AS BIGINT) AS n_windows
        |  FROM g GROUP BY doc_id, grp
        |), nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntk FROM base)
        |SELECT sp.doc_id, span_start, LEAST(rawend, ntk) AS span_end, n_windows
        |FROM sp JOIN nt USING (doc_id)
        |ORDER BY doc_id, span_start""".stripMargin,

    "q51_event_windows" ->
      """SELECT event_type,
        |  CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hour_bucket,
        |  COUNT(*) AS n_events, round(SUM(value), 2) + 0.0 AS sum_value_r
        |FROM events GROUP BY event_type, hour_bucket
        |ORDER BY event_type, hour_bucket""".stripMargin
  )
}
