package graft.operators

import graft.SparkEntry.Q
import graft.sources.{JsonDecode, ParquetSink, SchemaInfer}
import graft.streaming.Streaming

/** Additional declared queries beyond the relational core — extension packs
  * (temporal joins, scalar functions, schema/JSON parity, sinks; dedup,
  * similarity, text and multimodal packs register here as they land).
  *
  * Every SQL-expressible entry carries a DuckDB oracle with identical output
  * column names and a total ORDER BY (SURVEY.md §2.4). Type notes: DuckDB
  * `len`/`year`/`length` return BIGINT where Spark returns INT (cast in the
  * oracle); Spark `ceil`/`floor` return BIGINT where DuckDB returns DOUBLE
  * (cast in the oracle); DuckDB `regexp_replace` needs the 'g' flag to match
  * Spark's replace-all semantics.
  */
object Registry {
  def extra: Seq[Q] =
    temporal ++ scalars ++ schemaJson ++ textPack ++ textPack2 ++ hygienePack ++ vocabPack ++ lmPack ++ graphPack ++ trainingPack ++ dedupPack ++ simPack ++
      multimodalPack ++ streamingPack ++ advancedPack ++ pipelinePack ++ shardingPack ++
      timeseriesPack ++ chunkingPack ++ corpusPack ++ versioningPack ++ skewPack ++ curationPack

  /** The q35/q144 shared oracle: gap-based sessionization + relational
    * interval-overlap against calendar days. Two declared queries run two
    * different physical plans (broadcast BNLJ vs binned shuffle-hash
    * equi-join) against this one semantics. */
  private val sessionDayOverlapSql: String = """
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS ts_us FROM events
    ), g AS (
      SELECT user_id, ts_us,
             CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
                    OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM t
    ), s AS (
      SELECT user_id, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM g
    ), ses AS (
      SELECT user_id, MIN(ts_us) AS session_start_us,
             MAX(ts_us) + 1800000000 AS session_end_us
      FROM s GROUP BY user_id, sess
    ), days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS d0
      FROM events
    )
    SELECT day, COUNT(*) AS n_sessions, COUNT(DISTINCT user_id) AS n_users
    FROM ses JOIN days
      ON session_start_us < d0 + 86400000000 AND session_end_us > d0
    GROUP BY day ORDER BY day
  """

  /** The q139/q146 shared BM25 scoring CTEs, ending in the ranked
    * relation `r(query_id, doc_id, score6, rk)`. */
  private val bm25OracleCtes: String = """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    q(query_id, token) AS (VALUES (0,'spark'),(0,'join'),(1,'customer'),(1,'order'),(1,'query'),(2,'window'),(2,'stream'),(2,'vector')),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n,
                     CAST((SELECT COUNT(*) FROM tok) AS DOUBLE) / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    s AS (
      SELECT q.query_id, tf.doc_id,
             CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6) AS BIGINT) AS contrib6
      FROM tf JOIN q USING (token) JOIN df USING (token) JOIN dl USING (doc_id), stats
    ),
    agg AS (SELECT query_id, doc_id, SUM(contrib6) AS score6 FROM s GROUP BY query_id, doc_id),
    r AS (SELECT query_id, doc_id, score6,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score6 DESC, doc_id) AS INT) AS rk
          FROM agg)"""

  /** DuckDB replay of the greedy MMR selection: the BM25 CTEs feed the
    * bounded candidate set; each greedy step unrolls into an (s_r, u_r)
    * CTE pair — argmax of 7·score6 − 3·max-jaccard6-to-selected, then the
    * running selected set — the same unrolled-iteration trick as the BPE
    * learner's oracle. */
  private def mmrOracle: String = {
    val steps = (2 to Curation.MmrSteps).map { r =>
      val prev = "u" + (r - 1)
      s"""s$r AS (
         |  SELECT c.doc_id, CAST($r AS INT) AS mmr_rank, c.score6 * 7 - m.msim6 * 3 AS mmr6
         |  FROM c JOIN (
         |    SELECT p.a_id, MAX(p.j6) AS msim6 FROM p JOIN $prev u ON p.b_id = u.doc_id
         |    WHERE p.a_id NOT IN (SELECT doc_id FROM $prev) GROUP BY p.a_id
         |  ) m ON c.doc_id = m.a_id
         |  ORDER BY mmr6 DESC, c.doc_id LIMIT 1
         |),
         |u$r AS (SELECT doc_id FROM $prev UNION ALL SELECT doc_id FROM s$r)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to Curation.MmrSteps)
      .map(r => s"SELECT mmr_rank, doc_id, mmr6 FROM s$r")
      .mkString("\nUNION ALL\n")
    s"""$bm25OracleCtes,
       |c AS (SELECT doc_id, score6 FROM r WHERE query_id = 1 AND rk <= 10),
       |ct AS (
       |  SELECT c.doc_id, list_distinct(string_split(d.text, ' ')) AS toks, c.score6
       |  FROM c JOIN documents d ON c.doc_id = d.doc_id
       |),
       |p AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         (1000000 * len(list_intersect(a.toks, b.toks)))
       |           // (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS j6
       |  FROM ct a JOIN ct b ON a.doc_id <> b.doc_id
       |),
       |s1 AS (
       |  SELECT doc_id, CAST(1 AS INT) AS mmr_rank, score6 * 7 AS mmr6
       |  FROM c ORDER BY score6 DESC, doc_id LIMIT 1
       |),
       |u1 AS (SELECT doc_id FROM s1),
       |$steps
       |SELECT mmr_rank, doc_id, round(CAST(mmr6 AS DOUBLE) / 1e6, 6) AS mmr
       |FROM ($unionAll)
       |ORDER BY mmr_rank""".stripMargin
  }

  /** DuckDB replay of the ITERATIVE BPE learner: the merge rounds unroll
    * into chained CTEs (p_r = weighted pair counts, b_r = the argmax pair,
    * s_r = sequences after applying it). Generated from the same constants
    * as [[Curation.bpeMerges]] so the round count / cap can never desync.
    * The apply step is the identical doubled-space literal replace() both
    * engines execute byte-for-byte (non-overlapping, left-to-right). When
    * pair mass exhausts before round k (b_r empty — small or low-entropy
    * corpora), s_r LEFT JOINs the empty argmax and COALESCEs back to
    * s_{r-1}, matching the learner's early-stop end state. */
  private def bpeOracle: String = {
    val sel = (1 to Curation.BpeMerges)
      .map(r =>
        s"SELECT CAST($r AS INT) AS merge_rank, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM b$r"
      )
      .mkString("\nUNION ALL\n")
    s"""$bpeOracleCtes
       |$sel
       |ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB replay of the BPE ENCODER: the learner's final sequences CTE
    * (s_k) IS the word→subword mapping, so encoding is a join of the token
    * stream against it — mirroring [[Curation.bpeEncode]]'s broadcast join
    * against the learner's end state. */
  private def bpeEncodeOracle: String = {
    val k = Curation.BpeMerges
    s"""$bpeOracleCtes,
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |enc AS (
       |  SELECT doc_id, len(string_split(s.seq, ' ')) AS n_bpe, length(t.token) + 1 AS n_chars1
       |  FROM tok t JOIN s$k s ON t.token = s.token
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
       |       round(CAST(SUM(n_chars1) AS DOUBLE) / CAST(SUM(n_bpe) AS BIGINT), 6) AS compression
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private def bpeOracleCtes: String = {
    val rounds = (1 to Curation.BpeMerges).map { r =>
      val prev = "s" + (r - 1)
      s"""p$r AS (
         |  SELECT pair, SUM(freq) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(string_split(seq, ' '))),
         |             i -> string_split(seq, ' ')[i] || chr(9) || string_split(seq, ' ')[i+1])) AS pair,
         |           freq
         |    FROM $prev) GROUP BY pair
         |),
         |b$r AS (
         |  SELECT string_split(pair, chr(9))[1] AS lhs, string_split(pair, chr(9))[2] AS rhs, CAST(cnt AS BIGINT) AS cnt
         |  FROM p$r ORDER BY cnt DESC, pair LIMIT 1
         |),
         |s$r AS (
         |  SELECT token, freq,
         |         COALESCE(trim(regexp_replace(
         |           replace(' ' || replace(seq, ' ', '  ') || ' ',
         |                   ' ' || b.lhs || '  ' || b.rhs || ' ',
         |                   ' ' || b.lhs || b.rhs || ' '),
         |           ' +', ' ', 'g')), seq) AS seq
         |  FROM $prev LEFT JOIN b$r b ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (
       |  SELECT token, COUNT(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |  WHERE regexp_matches(token, '^[a-z]+$$')
       |  GROUP BY token ORDER BY freq DESC, token LIMIT ${Curation.BpeVocabCap}
       |),
       |s0 AS (
       |  SELECT token, freq,
       |         array_to_string(list_append(list_transform(range(1, length(token)+1), i -> substr(token, i, 1)), '${Curation.BpeEow}'), ' ') AS seq
       |  FROM w0
       |),
       |$rounds""".stripMargin
  }

  /** Shared oracle CTE chain: the q148/q152 curation funnel — Gopher
    * quality flags (gq), DSIR log-importance (si, both unigram models
    * capped at the q143 vocabulary bound), and the joined per-doc `staged`
    * relation carrying (doc_id, source, text, keep_q, keep_i).
    * Parameterized on the raw-corpus relation name so the q176 capstone can
    * bind its stitch-augmented `rawdocs` CTE instead of `documents`. */
  private def funnelCtesOver(rel: String): String = s"""t AS (
          SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM $rel
        ), m AS (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_words,
                 CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS mean_word_len,
                 CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks) AS frac_alpha,
                 len(list_filter(toks, x -> x IN ('the','be','to','of','and','that','have','with'))) AS n_stop_hits
          FROM t
        ), gq AS (
          SELECT doc_id,
                 ((n_words >= 50 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                   AND (frac_alpha >= 0.8) AND (n_stop_hits >= 2)) AS pass_gopher
          FROM m
        ), tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM $rel
        ), ttok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM $rel
          WHERE source IN ('src0', 'src1')
        ), fc AS (
          SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
        ), totc AS (
          SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM fc
        ), lpc AS (
          SELECT token, CAST(round(ln(freq / total) * 1e6) AS BIGINT) AS lpc6
          FROM fc, totc ORDER BY freq DESC, token LIMIT 24
        ), oovc AS (
          SELECT CAST(round(ln(1.0 / total) * 1e6) AS BIGINT) AS oovc6 FROM totc
        ), ft AS (
          SELECT token, COUNT(*) AS freq FROM ttok GROUP BY token
        ), tott AS (
          SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM ft
        ), lpt AS (
          SELECT token, CAST(round(ln(freq / total) * 1e6) AS BIGINT) AS lpt6
          FROM ft, tott ORDER BY freq DESC, token LIMIT 24
        ), oovt AS (
          SELECT CAST(round(ln(1.0 / total) * 1e6) AS BIGINT) AS oovt6 FROM tott
        ), si AS MATERIALIZED (
          SELECT doc_id, SUM(COALESCE(lpt6, oovt6) - COALESCE(lpc6, oovc6)) AS imp6
          FROM tok LEFT JOIN lpt USING (token) LEFT JOIN lpc USING (token), oovt, oovc
          GROUP BY doc_id
        ), staged AS MATERIALIZED (
          SELECT d.doc_id, d.source, d.text, g.pass_gopher AS keep_q,
                 (g.pass_gopher AND si.imp6 > 0) AS keep_i
          FROM $rel d JOIN gq g USING (doc_id) JOIN si USING (doc_id)
        )"""

  private val funnelCtes: String = funnelCtesOver("documents")

  /** The q157 oracle: the batch-perceptron rounds unrolled into chained
    * CTEs, generated from the SAME constants the engine reads
    * ([[Curation.QcBuckets]]/[[Curation.QcRounds]]/word sets) — the BPE
    * oracle-generation pattern. All-integer arithmetic, so every round is
    * bit-exact. */
  private def qcOracle: String = {
    val b   = Curation.QcBuckets
    val pos = Curation.QcPosWords.map(w => s"'$w'").mkString(", ")
    val neg = Curation.QcNegWords.map(w => s"'$w'").mkString(", ")
    val head = s"""
        WITH lab AS (
          SELECT doc_id, source,
                 CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN ($pos))) >
                           len(list_filter(string_split(text, ' '), x -> x IN ($neg)))
                      THEN 1 ELSE -1 END AS y,
                 string_split(text, ' ') AS tk
          FROM documents
        ), tokx AS (
          SELECT doc_id, y, unnest(tk) AS tok FROM lab
        ), tf AS (
          SELECT doc_id, y, CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % $b AS INT) AS f,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM tokx GROUP BY doc_id, y, f
        ), feats AS MATERIALIZED (
          SELECT * FROM tf
          UNION ALL
          SELECT doc_id, y, $b AS f, CAST(1 AS BIGINT) AS x FROM lab
        ), w1 AS MATERIALIZED (
          SELECT f, CAST(SUM(y * x) AS BIGINT) AS w FROM feats GROUP BY f
        )"""
    val R = Curation.QcRounds
    // m{r} = margins of w{r-1}; generated through m{R+1} so every round's
    // weights (w1..wR) have a scored margin table for the pocket pick
    val rounds = (2 to R).map { r =>
      s""", m$r AS MATERIALIZED (
          SELECT fe.doc_id, fe.y, CAST(SUM(wp.w * fe.x) AS BIGINT) AS margin
          FROM feats fe JOIN w${r - 1} wp ON fe.f = wp.f GROUP BY fe.doc_id, fe.y
        ), mis$r AS (
          SELECT doc_id FROM m$r WHERE y * margin <= 0
        ), w$r AS MATERIALIZED (
          SELECT wp.f, CAST(wp.w + COALESCE(u.dw, 0) AS BIGINT) AS w
          FROM w${r - 1} wp LEFT JOIN (
            SELECT f, CAST(SUM(y * x) AS BIGINT) AS dw
            FROM feats JOIN mis$r USING (doc_id) GROUP BY f
          ) u ON wp.f = u.f
        )"""
    }.mkString
    val lastM = s""", m${R + 1} AS (
          SELECT fe.doc_id, fe.y, CAST(SUM(wf.w * fe.x) AS BIGINT) AS margin
          FROM feats fe JOIN w$R wf ON fe.f = wf.f GROUP BY fe.doc_id, fe.y
        )"""
    // pocket: m{r+1} carries the margins of round r's weights
    val allm = (1 to R)
      .map(r => s"SELECT $r AS r, doc_id, y, margin FROM m${r + 1}")
      .mkString("\n          UNION ALL ")
    head + rounds + lastM + s""", allm AS (
          $allm
        ), acc AS (
          SELECT r, SUM(CASE WHEN (CASE WHEN margin > 0 THEN 1 ELSE -1 END) = y THEN 1 ELSE 0 END) AS n_ok
          FROM allm GROUP BY r
        ), best AS (
          SELECT r FROM acc ORDER BY n_ok DESC, r ASC LIMIT 1
        ), prd AS (
          SELECT doc_id, y, margin, CASE WHEN margin > 0 THEN 1 ELSE -1 END AS pred
          FROM allm JOIN best USING (r)
        )
        SELECT l.source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN p.pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
               CAST(SUM(CASE WHEN p.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_label_pos,
               CAST(SUM(CASE WHEN p.pred = p.y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST(SUM(p.margin) AS BIGINT) AS sum_margin
        FROM prd p JOIN lab l USING (doc_id)
        GROUP BY l.source ORDER BY l.source"""
  }

  private def curationPack: Seq[Q] = Seq(
    Q("q138_bpe_merges", Curation.bpeMerges, Some(bpeOracle)),
    Q("q142_bpe_encode", Curation.bpeEncode, Some(bpeEncodeOracle)),
    Q("q157_quality_classifier", Curation.qualityClassifier, Some(qcOracle)),
    Q(
      "q143_importance_weights",
      Curation.importanceWeights,
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), ttok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
          WHERE source IN ('src0', 'src1')
        ), fc AS (
          SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
        ), totc AS (
          SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM fc
        ), lpc AS (
          SELECT token, CAST(round(ln(freq / total) * 1e6) AS BIGINT) AS lpc6
          FROM fc, totc ORDER BY freq DESC, token LIMIT 24
        ), oovc AS (
          SELECT CAST(round(ln(1.0 / total) * 1e6) AS BIGINT) AS oovc6 FROM totc
        ), ft AS (
          SELECT token, COUNT(*) AS freq FROM ttok GROUP BY token
        ), tott AS (
          SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM ft
        ), lpt AS (
          SELECT token, CAST(round(ln(freq / total) * 1e6) AS BIGINT) AS lpt6
          FROM ft, tott ORDER BY freq DESC, token LIMIT 24
        ), oovt AS (
          SELECT CAST(round(ln(1.0 / total) * 1e6) AS BIGINT) AS oovt6 FROM tott
        ), scored AS (
          SELECT doc_id, COALESCE(lpt6, oovt6) - COALESCE(lpc6, oovc6) AS d6
          FROM tok LEFT JOIN lpt USING (token) LEFT JOIN lpc USING (token), oovt, oovc
        )
        SELECT doc_id, COUNT(*) AS n_toks,
               round(CAST(SUM(d6) AS DOUBLE) / 1e6, 6) AS log_importance,
               (SUM(d6) > 0) AS is_selected
        FROM scored
        GROUP BY doc_id ORDER BY doc_id
      """)
    ),
    Q(
      "q139_bm25_topk",
      Curation.bm25TopK,
      Some(s"""
        $bm25OracleCtes
        SELECT CAST(query_id AS INT) AS query_id, rk, doc_id, round(CAST(score6 AS DOUBLE) / 1e6, 6) AS bm25
        FROM r WHERE rk <= 10 ORDER BY query_id, rk
      """)
    ),
    Q("q146_mmr_rerank", Curation.mmrRerank, Some(mmrOracle)),
    Q(
      "q148_curation_pipeline",
      Curation.curationPipeline,
      Some(s"""
        WITH $funnelCtes, surv AS (
          SELECT MIN(doc_id) AS doc_id FROM staged WHERE keep_i GROUP BY md5(text)
        )
        SELECT source,
               COUNT(*) AS n_raw,
               CAST(SUM(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
               CAST(SUM(CASE WHEN keep_i THEN 1 ELSE 0 END) AS BIGINT) AS n_import,
               CAST(SUM(CASE WHEN sv.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup
        FROM staged LEFT JOIN surv sv USING (doc_id)
        GROUP BY source ORDER BY source
      """)
    ),
    // The capstone release audit: the q148 funnel extended through the
    // near-dup gate (band smaller-partner rule over the exact survivors —
    // bandCtes with `corpus` bound to that set), chunk/token inventory,
    // h60 split, and the partitioned write round-trip (the engine computes
    // the final columns from the RE-READ release parquet; the oracle
    // recomputes them from `documents`, so a lossy write breaks the hash).
    Q(
      "q152_corpus_release",
      Curation.corpusRelease,
      Some(s"""
        WITH $funnelCtes,
        ex AS (SELECT MIN(doc_id) AS doc_id FROM staged WHERE keep_i GROUP BY md5(text)),
        corpus AS (SELECT d.doc_id, d.text FROM documents d JOIN ex USING (doc_id)),
        $bandCtes,
        fl AS (
          SELECT DISTINCT b.doc_id
          FROM bands b JOIN bands a ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        rel AS (
          SELECT d.doc_id, d.source, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
                 ('0x' || substr(md5('split:' || CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT % 100 AS h
          FROM documents d JOIN ex USING (doc_id)
          WHERE d.doc_id NOT IN (SELECT doc_id FROM fl)
        ),
        rel2 AS (
          SELECT source, n_toks,
                 CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
                 (GREATEST(n_toks - 31, 1) - 1) // 16 + 1 AS n_chunks
          FROM rel
        ),
        ra AS (
          SELECT source, COUNT(*) AS n_final, CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
                 CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
                 CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                 CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
                 CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
          FROM rel2 GROUP BY source
        ),
        ea AS (SELECT d.source, COUNT(*) AS n_exact FROM documents d JOIN ex USING (doc_id) GROUP BY d.source),
        sa AS (
          SELECT source, COUNT(*) AS n_raw,
                 CAST(SUM(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                 CAST(SUM(CASE WHEN keep_i THEN 1 ELSE 0 END) AS BIGINT) AS n_import
          FROM staged GROUP BY source
        )
        SELECT sa.source, sa.n_raw, sa.n_quality, sa.n_import,
               CAST(COALESCE(ea.n_exact, 0) AS BIGINT) AS n_exact,
               CAST(COALESCE(ra.n_final, 0) AS BIGINT) AS n_final,
               CAST(COALESCE(ra.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(COALESCE(ra.sum_toks, 0) AS BIGINT) AS sum_toks,
               CAST(COALESCE(ra.n_train, 0) AS BIGINT) AS n_train,
               CAST(COALESCE(ra.n_val, 0) AS BIGINT) AS n_val,
               CAST(COALESCE(ra.n_test, 0) AS BIGINT) AS n_test
        FROM sa LEFT JOIN ea USING (source) LEFT JOIN ra USING (source)
        ORDER BY sa.source
      """)
    ),
    // Capstone V2: the q152 release chain with the substring family
    // composed in — span removal (q173 CTE body over the near-dup
    // survivors) before the write, decontamination verdicts (q175 CTE
    // body probing the CLEANED text) after it. One statement replays the
    // whole published pipeline; the engine's release write round-trips
    // through parquet, so a lossy write or a mis-cut span breaks the hash.
    Q(
      "q176_corpus_release_v2",
      Curation.corpusReleaseV2,
      Some(s"""
        WITH rawdocs AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT a.doc_id + 3000000, a.source, a.text || ' ' || b.text
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 17 = 5
        ),
        ${funnelCtesOver("rawdocs")},
        ex AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id FROM staged WHERE keep_i GROUP BY md5(text)),
        corpus AS (SELECT d.doc_id, d.text FROM rawdocs d JOIN ex USING (doc_id)),
        $bandCtes,
        fl AS (
          SELECT DISTINCT b.doc_id
          FROM bands b JOIN bands a ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        kept AS MATERIALIZED (
          SELECT d.doc_id, d.source, d.text
          FROM rawdocs d JOIN ex USING (doc_id)
          WHERE d.doc_id NOT IN (SELECT doc_id FROM fl)
        ),
        ktk AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS toks FROM kept),
        kwins AS MATERIALIZED (
          SELECT doc_id, i.i AS pos,
                 array_to_string(list_slice(toks, i.i, i.i + 14), ' ') AS wtext
          FROM ktk, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ),
        kdup AS (SELECT wtext FROM kwins GROUP BY wtext HAVING count(*) >= 2),
        kv AS (SELECT w.doc_id, w.pos, w.wtext FROM kwins w JOIN kdup USING (wtext)),
        krmv AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY wtext ORDER BY doc_id, pos) AS rn
            FROM kv
          ) WHERE rn > 1
        ),
        km AS (
          SELECT doc_id, pos,
                 max(pos + 14) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM krmv
        ),
        kisl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM km
        ),
        kiv AS MATERIALIZED (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 14 AS e FROM kisl GROUP BY doc_id, island),
        kstats AS (
          SELECT doc_id, COUNT(*) AS n_cut_spans, SUM(e - s + 1) AS toks_removed
          FROM kiv GROUP BY doc_id
        ),
        kposx AS (
          SELECT ktk.doc_id, i.i AS pos, ktk.toks[i.i] AS tok
          FROM ktk, (SELECT unnest(range(1, len(toks) + 1)) AS i) i
          WHERE ktk.doc_id IN (SELECT doc_id FROM kiv)
        ),
        kkeptx AS (
          SELECT p.doc_id, p.pos, p.tok FROM kposx p
          WHERE NOT EXISTS (SELECT 1 FROM kiv
                            WHERE kiv.doc_id = p.doc_id AND p.pos BETWEEN kiv.s AND kiv.e)
        ),
        kagg AS (
          SELECT doc_id, COUNT(*) AS toks_kept,
                 array_to_string(list(tok ORDER BY pos), ' ') AS ktext
          FROM kkeptx GROUP BY doc_id
        ),
        reltext AS MATERIALIZED (
          SELECT k.doc_id, k.source,
                 CASE WHEN s.doc_id IS NULL THEN k.text ELSE COALESCE(a.ktext, '') END AS text,
                 COALESCE(s.n_cut_spans, 0) AS n_cut_spans,
                 CAST(COALESCE(s.toks_removed, 0) AS BIGINT) AS toks_removed,
                 CAST(CASE WHEN s.doc_id IS NULL THEN len(string_split(k.text, ' '))
                           ELSE COALESCE(a.toks_kept, 0) END AS BIGINT) AS n_toks,
                 ('0x' || substr(md5('split:' || CAST(k.doc_id AS VARCHAR)),1,15))::BIGINT % 100 AS h
          FROM kept k
          LEFT JOIN kstats s ON k.doc_id = s.doc_id
          LEFT JOIN kagg a ON k.doc_id = a.doc_id
        ),
        rel2v AS (
          SELECT source, n_toks, n_cut_spans, toks_removed,
                 CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
                 (GREATEST(n_toks - 31, 1) - 1) // 16 + 1 AS n_chunks
          FROM reltext
        ),
        rav AS (
          SELECT source, COUNT(*) AS n_final,
                 CAST(SUM(CASE WHEN n_cut_spans > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_span_docs,
                 CAST(SUM(toks_removed) AS BIGINT) AS toks_removed,
                 CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
                 CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
                 CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                 CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
                 CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
          FROM rel2v GROUP BY source
        ),
        bench AS (
          SELECT doc_id AS bench_id, source,
                 array_to_string(list_slice(string_split(text, ' '),
                   len(string_split(text, ' ')) // 3 + 1,
                   len(string_split(text, ' ')) // 3
                     + greatest((len(string_split(text, ' ')) + 1) // 3, 1)), ' ') AS text
          FROM rawdocs WHERE doc_id % 97 = 3
        ),
        btk2 AS MATERIALIZED (SELECT bench_id, source, string_split(text, ' ') AS toks FROM bench),
        bw2 AS (
          SELECT bench_id, i.i AS bpos,
                 array_to_string(list_slice(toks, i.i, i.i + 14), ' ') AS bwtext
          FROM btk2, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ),
        rtk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM reltext),
        tw2 AS (
          SELECT array_to_string(list_slice(toks, i.i, i.i + 14), ' ') AS twtext
          FROM rtk, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ),
        hits2 AS (SELECT DISTINCT b.bench_id FROM bw2 b JOIN tw2 t ON t.twtext = b.bwtext),
        bstat AS (
          SELECT source, COUNT(*) AS n_bench,
                 CAST(SUM(CASE WHEN bench_id IN (SELECT bench_id FROM hits2)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
          FROM btk2 GROUP BY source
        ),
        ea AS (SELECT d.source, COUNT(*) AS n_exact FROM rawdocs d JOIN ex USING (doc_id) GROUP BY d.source),
        sa AS (
          SELECT source, COUNT(*) AS n_raw,
                 CAST(SUM(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                 CAST(SUM(CASE WHEN keep_i THEN 1 ELSE 0 END) AS BIGINT) AS n_import
          FROM staged GROUP BY source
        )
        SELECT sa.source, sa.n_raw, sa.n_quality, sa.n_import,
               CAST(COALESCE(ea.n_exact, 0) AS BIGINT) AS n_exact,
               CAST(COALESCE(rav.n_final, 0) AS BIGINT) AS n_final,
               CAST(COALESCE(rav.n_span_docs, 0) AS BIGINT) AS n_span_docs,
               CAST(COALESCE(rav.toks_removed, 0) AS BIGINT) AS toks_removed,
               CAST(COALESCE(rav.sum_toks, 0) AS BIGINT) AS sum_toks,
               CAST(COALESCE(rav.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(COALESCE(rav.n_train, 0) AS BIGINT) AS n_train,
               CAST(COALESCE(rav.n_val, 0) AS BIGINT) AS n_val,
               CAST(COALESCE(rav.n_test, 0) AS BIGINT) AS n_test,
               CAST(COALESCE(bs.n_bench, 0) AS BIGINT) AS n_bench,
               CAST(COALESCE(bs.n_contam, 0) AS BIGINT) AS n_contam
        FROM sa
        LEFT JOIN ea USING (source)
        LEFT JOIN rav USING (source)
        LEFT JOIN bstat bs USING (source)
        ORDER BY sa.source
      """)
    ),
    Q(
      "q149_winsorize",
      Advanced.winsorize,
      Some("""
        WITH e AS (
          SELECT event_type, event_id, value FROM events
        ), r AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM e
        ), b AS (
          SELECT event_type,
                 MAX(CASE WHEN rk = CAST(ceil(0.05 * n) AS BIGINT) THEN value END) AS clip_lo,
                 MAX(CASE WHEN rk = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS clip_hi
          FROM r GROUP BY event_type
        ), c AS (
          SELECT e.event_type, e.value, b.clip_lo, b.clip_hi,
                 least(greatest(e.value, b.clip_lo), b.clip_hi) AS cv
          FROM e JOIN b USING (event_type)
        )
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN value < clip_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
               CAST(SUM(CASE WHEN value > clip_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
               round(MAX(clip_lo), 6) AS clip_lo,
               round(MAX(clip_hi), 6) AS clip_hi,
               round(CAST(SUM(CAST(round(cv * 1e4) AS BIGINT)) AS DOUBLE) / 1e4 / COUNT(*), 6) AS mean_winsorized
        FROM c GROUP BY event_type ORDER BY event_type
      """)
    ),
    // q149's documented 100 TB swap (approx_percentile bounds, no per-group
    // sort), declared as a within-guarantee AUDIT: the engine checks each
    // sketch bound's exact tie-rank interval against the target rank within
    // the sketch's published tolerance and emits the booleans; the oracle
    // replays the deterministic contract — every group in tolerance — so a
    // sketch regression breaks the hash compare.
    Q(
      "q151_winsorize_approx_audit",
      Advanced.winsorizeApproxAudit,
      // rank_tol interpolates the SAME constant the engine reads, so the
      // tolerance can never silently desync between engine and oracle
      Some(s"""
        SELECT event_type, COUNT(*) AS n,
               2 * CAST(floor(COUNT(*) / ${Advanced.WinsorizeApproxAcc}.0) AS BIGINT) + 2 AS rank_tol,
               true AS lo_within_tol, true AS hi_within_tol
        FROM events GROUP BY event_type ORDER BY event_type
      """)
    ),
    Q(
      "q145_table_profile",
      Advanced.tableProfile,
      Some("""
        WITH a AS (
          SELECT COUNT(*) AS n,
                 SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS qty_nulls,
                 COUNT(DISTINCT l_quantity) AS qty_distinct,
                 CAST(MIN(l_quantity) AS DOUBLE) AS qty_min,
                 CAST(MAX(l_quantity) AS DOUBLE) AS qty_max,
                 SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS ep_nulls,
                 COUNT(DISTINCT l_extendedprice) AS ep_distinct,
                 CAST(MIN(l_extendedprice) AS DOUBLE) AS ep_min,
                 CAST(MAX(l_extendedprice) AS DOUBLE) AS ep_max,
                 SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS sd_nulls,
                 COUNT(DISTINCT l_shipdate) AS sd_distinct,
                 CAST(MIN(epoch_us(l_shipdate)) AS DOUBLE) AS sd_min,
                 CAST(MAX(epoch_us(l_shipdate)) AS DOUBLE) AS sd_max,
                 SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS rf_nulls,
                 COUNT(DISTINCT l_returnflag) AS rf_distinct,
                 MIN(l_returnflag) AS rf_min,
                 MAX(l_returnflag) AS rf_max
          FROM lineitem
        )
        SELECT 'l_quantity' AS col_name, n AS n_rows, CAST(qty_nulls AS BIGINT) AS n_null,
               qty_distinct AS n_distinct, qty_min AS min_num, qty_max AS max_num,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a
        UNION ALL
        SELECT 'l_extendedprice', n, CAST(ep_nulls AS BIGINT), ep_distinct, ep_min, ep_max,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a
        UNION ALL
        SELECT 'l_shipdate', n, CAST(sd_nulls AS BIGINT), sd_distinct, sd_min, sd_max,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a
        UNION ALL
        SELECT 'l_returnflag', n, CAST(rf_nulls AS BIGINT), rf_distinct,
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), rf_min, rf_max FROM a
        ORDER BY col_name
      """)
    ),
    Q(
      "q140_gopher_quality",
      Curation.gopherQuality,
      Some("""
        WITH t AS (
          SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        ), m AS (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_words,
                 CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS mean_word_len,
                 CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks) AS frac_alpha,
                 CAST(len(list_filter(toks, x -> x IN ('the','be','to','of','and','that','have','with'))) AS INT) AS n_stop_hits
          FROM t
        )
        SELECT doc_id, n_words,
               round(mean_word_len, 6) AS mean_word_len,
               round(frac_alpha, 6) AS frac_alpha,
               n_stop_hits,
               (n_words >= 50 AND n_words <= 100000) AS flag_word_count,
               (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS flag_mean_len,
               (frac_alpha >= 0.8) AS flag_alpha,
               (n_stop_hits >= 2) AS flag_stop,
               ((n_words >= 50 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                 AND (frac_alpha >= 0.8) AND (n_stop_hits >= 2)) AS pass_gopher
        FROM m ORDER BY doc_id
      """)
    ),
    Q(
      "q141_semantic_dedup",
      Curation.semanticDedup,
      Some("""
        WITH eall AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0
        ), e AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
          FROM eall
        ), cpos AS (
          SELECT label, i.i AS pos,
                 CAST(CAST(SUM(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS FLOAT) AS m
          FROM embeddings, (SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i) i
          GROUP BY label, i.i
        ), cents AS (
          SELECT label AS cent_id, list(m ORDER BY pos) AS cvec FROM cpos GROUP BY label
        ), c2 AS (
          SELECT cent_id, cvec,
                 sqrt(list_sum(list_transform(cvec, x -> CAST(x AS DOUBLE) * x))) AS cnrm
          FROM cents
        ), assign AS (
          SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
                 (list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])) / (e.nrm * c.cnrm)) AS ccos,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   (list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])) / (e.nrm * c.cnrm)) DESC,
                   c.cent_id) AS crk
          FROM e, c2 c
        ), assigned AS (
          SELECT vec_id, embedding, nrm, cent_id, ccos FROM assign WHERE crk = 1
        ), pr AS (
          SELECT a.vec_id AS va, a.ccos AS ca, b.vec_id AS vb, b.ccos AS cb,
                 round(list_sum(list_transform(range(1, 65),
                   i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])) / (a.nrm * b.nrm), 6) AS cos
          FROM assigned a JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        ), drp AS (
          SELECT DISTINCT va AS vec_id FROM pr
          WHERE cos >= 0.9 AND (cb < ca OR (cb = ca AND vb < va))
        )
        SELECT a.vec_id, a.cent_id, round(a.ccos, 6) AS ccos,
               (d.vec_id IS NOT NULL) AS is_dropped
        FROM assigned a LEFT JOIN drp d USING (vec_id)
        ORDER BY a.vec_id
      """)
    )
  )

  private def advancedPack: Seq[Q] = Seq(
    Q(
      "q17_correlated_subquery",
      Advanced.correlatedSubquery,
      Some("""
        SELECT l_partkey,
               COUNT(*) AS n_small,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_small_qty
        FROM lineitem l
        WHERE l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = l.l_partkey)
        GROUP BY l_partkey
        ORDER BY l_partkey
      """)
    ),
    Q(
      "q28_grouping_sets",
      Advanced.groupingSets,
      Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_priority, status, priority
      """)
    ),
    Q(
      "q116_lateral_topk",
      Advanced.lateralTopPerGroup,
      Some("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (
          SELECT c_name, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name
          LIMIT 3
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
      """)
    ),
    Q(
      "q29_stats_agg",
      Advanced.statsAgg,
      Some("""
        WITH s AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(l_quantity * l_quantity AS BIGINT)) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(round(l_extendedprice * l_extendedprice * 10000) AS HUGEINT)) AS DOUBLE) AS syy,
                 CAST(SUM(CAST(round(l_extendedprice * l_quantity * 100) AS BIGINT)) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) AS sdc,
                 CAST(SUM(CAST(round(l_discount * l_quantity * 100) AS BIGINT)) AS DOUBLE) AS sxd,
                 quantile_cont(l_quantity, 0.5) AS median_qty,
                 MIN(l_quantity) AS min_qty,
                 MAX(l_quantity) AS max_qty
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS sd_qty,
               round((sxx - sx * sx / n) / (n - 1), 6) AS var_qty,
               round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
               round((sxd - sx * sdc / n) / 100.0 / (n - 1), 6) AS cov_qty_disc,
               median_qty, min_qty, max_qty
        FROM s ORDER BY l_returnflag
      """)
    ),
    Q(
      "q32_pivot",
      Advanced.pivotEventCounts,
      Some("""
        SELECT CAST(ts AS DATE) AS day,
               COUNT(*) FILTER (event_type = 'click') AS click,
               COUNT(*) FILTER (event_type = 'error') AS error,
               COUNT(*) FILTER (event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (event_type = 'signup') AS signup,
               COUNT(*) FILTER (event_type = 'view') AS view
        FROM events GROUP BY day ORDER BY day
      """)
    ),
    // Exact quartiles from the bounded value histogram — no
    // ImperativeAggregate anywhere in the plan (the 100 TB-safe exact-
    // quantile form; q36 below is the sketch+interpreted-exact audit pair).
    Q(
      "q162_grouped_quantiles",
      Advanced.groupedQuantiles,
      Some("""
        SELECT l_returnflag,
               COUNT(l_quantity) AS n,
               quantile_cont(l_quantity, 0.25) AS q25,
               quantile_cont(l_quantity, 0.50) AS q50,
               quantile_cont(l_quantity, 0.75) AS q75
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    ),
    // Sketch quantiles: declared output = exact quartiles + Spark-side
    // tolerance boolean; the oracle replays the exact part.
    Q(
      "q36_approx_percentile",
      Advanced.approxPercentiles,
      Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_exact,
               round(quantile_cont(l_extendedprice, 0.50), 6) AS p50_exact,
               round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_exact,
               true AS within_tolerance
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    ),
    Q(
      "q34_unpivot",
      Advanced.unpivotMeasures,
      Some("""
        SELECT l_orderkey, l_linenumber, measure, value FROM (
          SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
          FROM lineitem WHERE l_orderkey <= 100
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
          FROM lineitem WHERE l_orderkey <= 100
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
          FROM lineitem WHERE l_orderkey <= 100
        )
        ORDER BY l_orderkey, l_linenumber, measure
      """)
    ),
    Q(
      "q33_geomean_udaf",
      Advanced.geoMeanUdaf,
      Some("""
        SELECT l_returnflag,
               round(EXP(CAST(SUM(CAST(round(LN(l_extendedprice) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*)), 6) AS geomean_price,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    )
  )

  /** Shared oracle CTE: the deterministic duplicate-injected corpus. */
  private val dupCorpus =
    """corpus AS (
       SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
     )"""

  /** Shared oracle CTE chain (follows `dupCorpus`): 3-gram shingles →
    * 16-perm minhash signature → 4 LSH band keys over `corpus` — the exact
    * band pipeline [[graft.streaming.Streaming.nearDupBandsBatch]] signs
    * with, replayed by both the q136 registry-final audit and the q150
    * at-arrival gate. */
  private val bandCtes =
    """tk AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS dsh FROM tk
        ), hsh AS (
          SELECT doc_id, list_transform(dsh,
            x -> ('0x' || substr(md5(x),1,15))::BIGINT % 2147483647) AS hs
          FROM sh
        ), sg AS (
          SELECT doc_id, list_transform(range(0, 16), s ->
            CAST(list_min(list_transform(hs,
              h -> ((s*2+1) * h + s*12289) % 2147483647)) AS BIGINT)) AS sig
          FROM hsh
        ), bands AS (
          SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS key
          FROM sg, (SELECT unnest([0,1,2,3]) AS b)
        )"""

  /** The q160/q168 shared oracle: asymmetric containment pairs at
    * threshold 0.9 over the excerpt-augmented corpus (first ⌈n/2⌉ tokens
    * under +2M ids for docs %7); the divisor is the CONTAINED side's
    * distinct-shingle count only. Two declared queries run two physical
    * plans (full inverted index vs contained-side prefix index) against
    * this one semantics — the asymmetric prefix lemma guarantees identical
    * results. */
  private val containmentSql: String = """
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 2000000,
                 array_to_string((string_split(text, ' '))[1:(len(string_split(text, ' ')) + 1) // 2], ' ')
          FROM documents WHERE doc_id % 7 = 0
        ), tk AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS dsh FROM tk
        ), ex AS (
          SELECT doc_id, unnest(dsh) AS shingle FROM sh
        ), p AS (
          SELECT a.doc_id AS contained_id, b.doc_id AS container_id, COUNT(*) AS n_inter
          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        )
        SELECT p.contained_id, p.container_id,
               round(CAST(p.n_inter AS DOUBLE) / len(s.dsh), 6) AS containment
        FROM p JOIN sh s ON p.contained_id = s.doc_id
        WHERE round(CAST(p.n_inter AS DOUBLE) / len(s.dsh), 6) >= 0.9
        ORDER BY contained_id, container_id
      """

  /** The q67/q147/q170 shared oracle: distinct 3-gram shingle Jaccard
    * pairs at threshold 0.6 over the dup-injected corpus. Three declared
    * queries run against this one semantics — full inverted index,
    * prefix-filtered index (the prefix lemma guarantees identical
    * results), and the skew-adaptive dispatcher over the two. */
  private val ngramJaccardSql: String = s"""
    WITH $dupCorpus, tk AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS dsh FROM tk
    ), ex AS (
      SELECT doc_id, CAST(len(dsh) AS INT) AS n_sh, unnest(dsh) AS shingle FROM sh
    ), j AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, a.n_sh AS n1, b.n_sh AS n2, COUNT(*) AS n_inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id1, id2, round(CAST(n_inter AS DOUBLE) / (n1 + n2 - n_inter), 6) AS jaccard
    FROM j WHERE round(CAST(n_inter AS DOUBLE) / (n1 + n2 - n_inter), 6) >= 0.6
    ORDER BY id1, id2
  """

  /** Round-3 corpus-engineering pack: substring-level dedup, domain
    * mixing, TF-IDF, frequency sketches, weighted sampling, embedding
    * quantization. */
  private def corpusPack: Seq[Q] = Seq(
    Q(
      "q97_span_dedup",
      Dedup.spanDedup,
      Some(s"""
        WITH $dupCorpus, t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        ), s AS (
          SELECT doc_id, unnest(range(1, len(toks) - 14)) AS i, toks
          FROM t WHERE len(toks) >= 16
        ), h AS (
          SELECT doc_id, md5(array_to_string(toks[i : i + 15], ' ')) AS span_md5 FROM s
        )
        SELECT span_md5, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ,
               MIN(doc_id) AS first_doc
        FROM h GROUP BY span_md5 HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY span_md5
      """)
    ),
    Q(
      "q98_domain_mixture",
      Sharding.domainMixture,
      Some("""
        WITH d AS (
          SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                 md5(CAST(doc_id AS VARCHAR)) AS hk
          FROM documents
        ), m AS (
          SELECT MIN(cnt) AS cap FROM (SELECT COUNT(*) AS cnt FROM d GROUP BY source)
        ), r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk FROM d
        )
        SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_toks) AS BIGINT) AS toks_kept
        FROM r, m WHERE rk <= cap GROUP BY source ORDER BY source
      """)
    ),
    // Temperature mixture (α = 0.5): per-source release quota ∝ floor(√n·1e6),
    // grid-integer so both engines agree exactly; quota-zero sources still
    // report their audit row (LEFT JOIN both sides).
    Q(
      "q155_temperature_mixture",
      Sharding.temperatureMixture,
      Some("""
        WITH d AS (
          SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                 md5(CAST(doc_id AS VARCHAR)) AS hk
          FROM documents
        ), c AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(floor(sqrt(COUNT(*)) * 1e6) AS BIGINT) AS s6
          FROM d GROUP BY source
        ), t AS (
          SELECT CAST(SUM(s6) AS BIGINT) AS sum_s6,
                 CAST(SUM(n_docs) AS BIGINT) // 2 AS target_total
          FROM c
        ), q AS (
          SELECT source, n_docs, s6,
                 (t.target_total * s6) // t.sum_s6 AS target,
                 LEAST((t.target_total * s6) // t.sum_s6, n_docs) AS n_kept
          FROM c, t
        ), r AS (
          SELECT d.source, d.n_toks,
                 ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.hk, d.doc_id) AS rk
          FROM d
        ), kept AS (
          SELECT r.source, CAST(SUM(r.n_toks) AS BIGINT) AS toks_kept
          FROM r JOIN q ON r.source = q.source AND r.rk <= q.n_kept
          GROUP BY r.source
        )
        SELECT q.source, q.n_docs, round(q.s6 / 1e6, 6) AS weight, q.target, q.n_kept,
               COALESCE(kept.toks_kept, 0) AS toks_kept
        FROM q LEFT JOIN kept USING (source)
        ORDER BY q.source
      """)
    ),
    Q(
      "q99_tfidf_topk",
      Vocab.tfidfTopTerms,
      Some("""
        WITH tok0 AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), v AS (
          SELECT token FROM (SELECT token, COUNT(*) AS freq FROM tok0 GROUP BY token)
          ORDER BY freq DESC, token LIMIT 24
        ), tok AS (
          SELECT doc_id, token FROM tok0 JOIN v USING (token)
        ), idf AS (
          SELECT token,
                 CAST(round(ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df) * 1e6) AS BIGINT) AS idf6
          FROM (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token)
        ), tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
        ), s AS (
          SELECT doc_id, token, tf * idf6 AS score6 FROM tf JOIN idf USING (token)
        ), r AS (
          SELECT doc_id, token, score6,
                 CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score6 DESC, token) AS INT) AS rk
          FROM s
        )
        SELECT doc_id, rk, token, round(score6 / 1e6, 6) AS tfidf
        FROM r WHERE rk <= 3 ORDER BY doc_id, rk
      """)
    ),
    Q(
      "q100_cms_heavy_hitters",
      Sketch.cmsHeavyHitters,
      Some("""
        WITH tok AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ), jb AS (
          SELECT j, ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 64 AS b
          FROM tok, range(0, 4) r(j)
        ), sk AS (
          SELECT j, b, COUNT(*) AS c FROM jb GROUP BY j, b
        ), top AS (
          SELECT token, COUNT(*) AS exact FROM tok GROUP BY token
          ORDER BY exact DESC, token LIMIT 10
        ), cand AS (
          SELECT token, exact, j,
                 ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 64 AS b
          FROM top, range(0, 4) r(j)
        )
        SELECT token, exact, MIN(c) AS cms_est, MIN(c) - exact AS overcount
        FROM cand JOIN sk USING (j, b)
        GROUP BY token, exact
        ORDER BY exact DESC, token
      """)
    ),
    Q(
      "q101_weighted_sample",
      Sharding.weightedSample,
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM documents
        ), kd AS (
          SELECT doc_id, n_toks,
                 CAST(round(ln((h + 1) / 1152921504606846976.0) / n_toks * 1e6) AS BIGINT) AS key6
          FROM d
        ), r AS (
          SELECT doc_id, n_toks, key6,
                 CAST(ROW_NUMBER() OVER (ORDER BY key6 DESC, doc_id) AS INT) AS rk
          FROM kd
        )
        SELECT rk, doc_id, n_toks, round(key6 / 1e6, 6) AS log_key
        FROM r WHERE rk <= 20 ORDER BY rk
      """)
    ),
    Q(
      "q103_bigram_logprob",
      Vocab.bigramLogprob,
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ), b AS (
          SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
          FROM t WHERE len(tk) >= 2
        ), c1 AS (
          SELECT w1, COUNT(*) AS c1 FROM (SELECT unnest(tk) AS w1 FROM t) GROUP BY w1
        ), u AS (
          SELECT w1, c1 FROM c1 ORDER BY c1 DESC, w1 LIMIT 24
        ), c12 AS (
          SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY w1, w2
        ), v AS (
          SELECT COUNT(*) AS v FROM c1
        ), lp AS (
          SELECT doc_id, CAST(round(ln((c12 + 1.0) / (COALESCE(c1, 0) + v)) * 1e6) AS BIGINT) AS lp6
          FROM b JOIN c12 USING (w1, w2) LEFT JOIN u USING (w1), v
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(-((2 * (-SUM(lp6)) + COUNT(*)) // (2 * COUNT(*))) AS BIGINT) / 1e6 AS mean_logprob
        FROM lp GROUP BY doc_id ORDER BY doc_id
      """)
    ),
    Q(
      "q104_zorder_curve",
      Layout.zorderLayout,
      Some("""
        WITH e AS (
          SELECT event_id, CAST(user_id AS BIGINT) AS xb,
                 CAST(floor(value) AS BIGINT) % 1024 AS yb
          FROM events
        ), z AS (
          SELECT xb,
                 CAST(list_sum(list_transform(range(0, 10),
                   i -> ((xb >> i) & 1) * (1::BIGINT << (2 * i)) +
                        ((yb >> i) & 1) * (1::BIGINT << (2 * i + 1))
                 )) AS BIGINT) AS zval
          FROM e
        )
        SELECT zval >> 12 AS z_segment,
               COUNT(*) AS n_rows,
               MIN(xb) AS min_user, MAX(xb) AS max_user,
               MIN(zval) AS min_z, MAX(zval) AS max_z
        FROM z GROUP BY z_segment ORDER BY z_segment
      """)
    ),
    Q(
      "q105_orc_roundtrip",
      ParquetSink.orcRoundTrip,
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(0 AS BIGINT) AS orc_mismatches
        FROM events WHERE event_type = 'signup'
      """)
    ),
    Q(
      "q106_incremental_dedup",
      Dedup.incrementalDedup,
      Some("""
        WITH nb AS (
          SELECT doc_id + 2000000 AS new_id, text FROM documents WHERE doc_id % 7 = 3
          UNION ALL
          SELECT doc_id + 3000000 AS new_id,
                 array_to_string(tk[1 : greatest(len(tk) - 2, 1)], ' ') AS text
          FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
          WHERE doc_id % 13 = 5
        ), ex AS (
          SELECT DISTINCT new_id FROM nb JOIN documents d ON md5(nb.text) = md5(d.text)
        ), csh AS (
          SELECT doc_id AS corpus_id, unnest(sh) AS sh FROM (
            SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
              i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
            FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
          )
        ), nsh AS (
          SELECT new_id, CAST(len(sh) AS BIGINT) AS n_sh, unnest(sh) AS sh FROM (
            SELECT new_id, list_distinct(list_transform(range(1, len(tk) - 1),
              i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
            FROM (SELECT new_id, string_split(text, ' ') AS tk FROM nb)
          )
        ), nr AS (
          SELECT DISTINCT new_id FROM (
            SELECT n.new_id, c.corpus_id, n.n_sh, COUNT(*) AS inter
            FROM csh c JOIN nsh n USING (sh)
            GROUP BY 1, 2, 3
          ) WHERE inter * 10 >= n_sh * 9
        )
        SELECT nb.new_id AS new_id,
               CASE WHEN ex.new_id IS NOT NULL THEN 'exact_dup'
                    WHEN nr.new_id IS NOT NULL THEN 'near_dup'
                    ELSE 'kept' END AS verdict
        FROM nb LEFT JOIN ex ON nb.new_id = ex.new_id
                LEFT JOIN nr ON nb.new_id = nr.new_id
        ORDER BY new_id
      """)
    ),
    Q(
      "q102_quantize_embeddings",
      Similarity.quantizeEmbeddings,
      Some("""
        SELECT vec_id,
               round(mx, 6) AS max_abs,
               md5(array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',')) AS q_md5,
               CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1_q
        FROM (
          SELECT vec_id, mx,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS INT)) AS q
          FROM (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings
          )
        )
        ORDER BY vec_id
      """)
    )
  )

  private def textPack: Seq[Q] = Seq(
    Q(
      "q60_token_counts",
      Text.tokenCounts,
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_re_tokens,
               CAST(length(text) AS INT) AS len_chars
        FROM documents ORDER BY doc_id
      """)
    ),
    Q(
      "q61_quality_score",
      Text.qualityScore,
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nsp
          FROM documents
        ), m AS (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_tokens,
                 nsp / len(toks) AS mean_tok_len,
                 CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
                 CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(toks) AS stop_ratio
          FROM t
        )
        SELECT doc_id, n_tokens,
               round(mean_tok_len, 6) AS mean_tok_len,
               round(distinct_ratio, 6) AS distinct_ratio,
               round(stop_ratio, 6) AS stop_ratio,
               round(1.0 / (1.0 + exp(-(0.1*mean_tok_len + 2.0*distinct_ratio - 3.0*stop_ratio))), 6) AS quality
        FROM m ORDER BY doc_id
      """)
    ),
    Q(
      "q62_lang_id",
      Text.langId,
      Some("""
        WITH t AS (
          SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        ), c AS (
          SELECT doc_id, lang,
                 CAST(len(list_filter(toks, t -> t IN ('the','and','of','is'))) AS INT) AS c_en,
                 CAST(len(list_filter(toks, t -> t IN ('der','die','das','und'))) AS INT) AS c_de,
                 CAST(len(list_filter(toks, t -> t IN ('le','la','les','et'))) AS INT) AS c_fr
          FROM t
        )
        SELECT doc_id, lang,
               CASE WHEN c_en >= c_de AND c_en >= c_fr THEN 'en'
                    WHEN c_de >= c_fr THEN 'de' ELSE 'fr' END AS pred_lang,
               c_en, c_de, c_fr,
               (lang = CASE WHEN c_en >= c_de AND c_en >= c_fr THEN 'en'
                            WHEN c_de >= c_fr THEN 'de' ELSE 'fr' END) AS is_match
        FROM c ORDER BY doc_id
      """)
    ),
    Q(
      "q63_fingerprint",
      Text.fingerprint,
      Some("""
        WITH t AS (
          SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        ), s AS (
          SELECT doc_id, text,
                 list_transform(range(1, len(toks) - 1),
                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh
          FROM t
        )
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
               CAST(list_min(list_transform(sh, x -> ('0x' || substr(md5(x),1,15))::BIGINT)) AS BIGINT) AS min_shingle_h,
               CAST(len(sh) AS INT) AS n_shingles
        FROM s ORDER BY doc_id
      """)
    )
  )

  private def textPack2: Seq[Q] = Seq(
    Q(
      "q85_repetition_score",
      Text.repetitionScore,
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
          SELECT doc_id, list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh
          FROM t
        ), m AS (
          SELECT doc_id, CAST(len(sh) AS INT) AS n_shingles,
                 CAST(len(list_distinct(sh)) AS INT) AS n_distinct
          FROM s
        )
        SELECT doc_id, n_shingles, n_distinct,
               CASE WHEN n_shingles > 0
                    THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_shingles, 6) END AS repetition_ratio,
               CASE WHEN n_shingles > 0
                    THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_shingles, 6) >= 0.2 END AS is_repetitive
        FROM m ORDER BY doc_id
      """)
    ),
    Q(
      "q86_decontaminate",
      Dedup.decontaminate,
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
          FROM t
        ), ev AS (
          SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM s WHERE doc_id % 50 = 0
        ), tr AS (
          SELECT doc_id AS train_id, CAST(len(sh) AS INT) AS n_sh, unnest(sh) AS shingle FROM s
        )
        SELECT train_id, n_sh,
               COUNT(DISTINCT tr.shingle) AS n_overlap,
               COUNT(DISTINCT eval_id) AS n_eval_docs,
               COUNT(DISTINCT tr.shingle) >= 5 AS contaminated
        FROM tr JOIN ev ON tr.shingle = ev.shingle
        GROUP BY train_id, n_sh
        ORDER BY train_id
      """)
    ),
    Q(
      "q135_bloom_decontaminate",
      Dedup.bloomDecontaminate,
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
          FROM t
        ), ev AS (
          SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM s WHERE doc_id % 50 = 0
        ), tr AS (
          SELECT doc_id AS train_id, unnest(sh) AS shingle FROM s
        )
        SELECT eval_id,
               COUNT(DISTINCT train_id) AS n_hit_docs,
               COUNT(DISTINCT tr.shingle) AS n_hit_shingles
        FROM tr JOIN ev ON tr.shingle = ev.shingle AND tr.train_id <> ev.eval_id
        GROUP BY eval_id
        ORDER BY eval_id
      """)
    )
  )

  private def hygienePack: Seq[Q] = Seq(
    Q(
      "q90_pii_scrub",
      Text.piiScrub,
      Some("""
        WITH inj AS (
          SELECT doc_id,
                 text ||
                 CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
                 CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
                 CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id // 7) % 256 AS VARCHAR) ELSE '' END AS text2
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._]+@[A-Za-z0-9.]+')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(text2, '555-[0-9]{4}')) AS INT) AS n_phones,
               CAST(len(regexp_extract_all(text2, '10\.0\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS n_ips,
               md5(regexp_replace(regexp_replace(regexp_replace(text2,
                 '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                 '555-[0-9]{4}', '<PHONE>', 'g'),
                 '10\.0\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS scrubbed_md5
        FROM inj ORDER BY doc_id
      """)
    ),
    Q(
      "q91_stratified_sample",
      Sharding.stratifiedSample,
      Some("""
        WITH r AS (
          SELECT lang, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS pos
          FROM documents
        )
        SELECT lang, pos, doc_id FROM r WHERE pos <= 20 ORDER BY lang, pos
      """)
    )
  )

  private def vocabPack: Seq[Q] = Seq(
    Q(
      "q117_domain_kl_divergence",
      Vocab.domainKlDivergence,
      Some("""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
        ), by_src AS (
          SELECT source, tok, COUNT(*) AS cnt_s FROM tok GROUP BY source, tok
        ), tot_src AS (
          SELECT source, CAST(SUM(cnt_s) AS BIGINT) AS tot_s FROM by_src GROUP BY source
        ), allc AS (
          SELECT tok, CAST(SUM(cnt_s) AS BIGINT) AS cnt_all FROM by_src GROUP BY tok
        ), tot_all AS (
          SELECT CAST(SUM(cnt_all) AS BIGINT) AS tot_all FROM allc
        ), term AS (
          SELECT source, cnt_s, tot_s,
                 CAST(round(ln((CAST(cnt_s AS DOUBLE) * CAST(tot_all AS DOUBLE)) /
                   (CAST(cnt_all AS DOUBLE) * CAST(tot_s AS DOUBLE))) * 1e6) AS BIGINT) AS term6
          FROM by_src JOIN allc USING (tok) JOIN tot_src USING (source), tot_all
        )
        SELECT source, tot_s AS n_tokens,
               round(CAST(SUM(cnt_s * term6) AS BIGINT) / tot_s / 1e6, 6) AS kl_vs_corpus
        FROM term GROUP BY source, tot_s ORDER BY source
      """)
    ),
    Q(
      "q92_vocab_build",
      Vocab.vocabBuild,
      Some("""
        WITH tf AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ), f AS (
          SELECT token, COUNT(*) AS freq FROM tf GROUP BY token
          ORDER BY freq DESC, token LIMIT 20
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1 AS INT) AS token_id,
               token, freq
        FROM f ORDER BY token_id
      """)
    ),
    Q(
      "q93_encode_docs",
      Vocab.encodeDocs,
      Some("""
        WITH tf AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ), f AS (
          SELECT token, COUNT(*) AS freq FROM tf GROUP BY token
          ORDER BY freq DESC, token LIMIT 20
        ), fid AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1 AS INT) AS token_id, token
          FROM f
        ), t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), tp AS (
          SELECT doc_id, CAST(r.i AS INT) AS pos, toks[r.i] AS token
          FROM t, unnest(range(1, len(toks) + 1)) AS r(i)
        ), enc AS (
          SELECT tp.doc_id, tp.pos, COALESCE(fid.token_id, -1) AS id
          FROM tp LEFT JOIN fid ON tp.token = fid.token
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
               md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
        FROM enc GROUP BY doc_id ORDER BY doc_id
      """)
    )
  )

  private def trainingPack: Seq[Q] = Seq(
    Q(
      "q95_training_pipeline",
      Training.trainingPipeline,
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nsp
          FROM documents
        ), m AS (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_tokens,
                 nsp / len(toks) AS mean_tok_len,
                 CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
                 CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(toks) AS stop_ratio
          FROM t
        ), q AS (
          SELECT doc_id, n_tokens,
                 round(1.0 / (1.0 + exp(-(0.1*mean_tok_len + 2.0*distinct_ratio - 3.0*stop_ratio))), 6) AS quality
          FROM m
        ), sdoc AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
          FROM t
        ), ev AS (
          SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM sdoc WHERE doc_id % 50 = 0
        ), tr AS (
          SELECT doc_id AS train_id, unnest(sh) AS shingle FROM sdoc
        ), cont AS (
          SELECT train_id FROM tr JOIN ev ON tr.shingle = ev.shingle
          GROUP BY train_id HAVING COUNT(DISTINCT tr.shingle) >= 5
        ), base AS (
          SELECT doc_id, n_tokens FROM q
          WHERE quality >= 0.5 AND doc_id NOT IN (SELECT train_id FROM cont)
        ), s AS (
          SELECT doc_id, n_tokens,
                 ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard
          FROM base
        )
        SELECT shard, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               MIN(doc_id) AS min_doc
        FROM s GROUP BY shard ORDER BY shard
      """)
    )
  )

  private def graphPack: Seq[Q] = Seq(
    Q(
      "q94_connected_components",
      Graph.connectedComponents,
      Some("""
        WITH RECURSIVE e0 AS (
          SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 7 < 2
          UNION ALL
          SELECT doc_id, doc_id + 10 FROM documents WHERE doc_id % 13 = 0
        ), e1 AS (
          SELECT src, dst FROM e0 WHERE dst IN (SELECT doc_id FROM documents)
        ), sym AS (
          SELECT src, dst FROM e1 UNION SELECT dst, src FROM e1
        ), reach(node, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.node
        ), comp AS (
          SELECT node, MIN(r) AS comp FROM reach GROUP BY node
        ), sizes AS (
          SELECT comp, COUNT(*) AS comp_size FROM comp GROUP BY comp
        )
        SELECT c.node, c.comp, s.comp_size
        FROM comp c JOIN sizes s USING (comp)
        ORDER BY node
      """)
    ),
    // High-diameter CC through the O(log^2 n)-round two-phase algorithm;
    // the oracle replays the chain-segment arithmetic directly.
    Q(
      "q122_chain_components",
      Graph.chainComponents,
      Some("""
        WITH c AS (
          SELECT doc_id AS node, (doc_id // 97) * 97 AS comp FROM documents
        ), s AS (
          SELECT comp, COUNT(*) AS comp_size FROM c GROUP BY comp
        )
        SELECT c.node, c.comp, s.comp_size
        FROM c JOIN s USING (comp)
        ORDER BY node
      """)
    ),
    // Fixed-iteration k-means on the Det grid: scaled-long centroid means +
    // sequential IEEE dots (the q76 discipline) make both Lloyd iterations
    // bit-replayable, so the oracle re-runs the whole seed→assign→update→
    // reassign cycle and hash-compares the final cluster audit.
    Q(
      "q107_kmeans_clusters",
      Clustering.kmeansClusters,
      Some("""
        WITH e AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
          FROM embeddings
        ), m0 AS (
          SELECT CAST(vec_id % 8 AS INT) AS cluster, i.i AS pos,
                 CAST(CAST(SUM(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS FLOAT) AS m
          FROM embeddings, (SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i) i
          GROUP BY cluster, i.i
        ), c0 AS (
          SELECT cluster AS cent_id, cvec,
                 sqrt(list_sum(list_transform(cvec, x -> CAST(x AS DOUBLE) * x))) AS cnrm
          FROM (SELECT cluster, list(m ORDER BY pos) AS cvec FROM m0 GROUP BY cluster)
        ), s1 AS (
          SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])) / (e.nrm * c.cnrm) AS ccos
          FROM e, c0 c
        ), a1 AS (
          SELECT vec_id, embedding, cent_id AS cluster FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
            FROM s1
          ) WHERE crk = 1
        ), m1 AS (
          SELECT cluster, i.i AS pos,
                 CAST(CAST(SUM(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS FLOAT) AS m
          FROM a1, (SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i) i
          GROUP BY cluster, i.i
        ), c1 AS (
          SELECT cluster AS cent_id, cvec,
                 sqrt(list_sum(list_transform(cvec, x -> CAST(x AS DOUBLE) * x))) AS cnrm
          FROM (SELECT cluster, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY cluster)
        ), s2 AS (
          SELECT e.vec_id, c.cent_id,
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])) / (e.nrm * c.cnrm) AS ccos
          FROM e, c1 c
        ), a2 AS (
          SELECT vec_id, cent_id AS cluster, ccos FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
            FROM s2
          ) WHERE crk = 1
        )
        SELECT cluster, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec,
               round(CAST(SUM(CAST(round(ccos * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*), 6) AS mean_cos
        FROM a2 GROUP BY cluster ORDER BY cluster
      """)
    ),
    // PageRank on a pure integer grid (floor-division rank flow) — every
    // iteration replays exactly; the oracle unrolls the three rounds.
    Q(
      "q108_pagerank",
      Clustering.pagerankDocs,
      Some("""
        WITH n AS (
          SELECT doc_id AS node FROM documents
        ), consts AS (
          SELECT CAST(floor(0.15 * 1e6 / COUNT(*) + 0.5) AS BIGINT) AS base6,
                 CAST(floor(1e6 / COUNT(*) + 0.5) AS BIGINT) AS init6
          FROM n
        ), e0 AS (
          SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 7 < 2
          UNION ALL
          SELECT doc_id, doc_id + 10 FROM documents WHERE doc_id % 13 = 0
        ), e AS (
          SELECT src, dst FROM e0 WHERE dst IN (SELECT node FROM n)
        ), deg AS (
          SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
        ), r0 AS (
          SELECT node, init6 AS rank6 FROM n, consts
        ), c1 AS (
          SELECT dst, CAST(SUM((85 * (rank6 // outdeg)) // 100) AS BIGINT) AS in6
          FROM e JOIN r0 ON e.src = r0.node JOIN deg USING (src) GROUP BY dst
        ), r1 AS (
          SELECT node, base6 + COALESCE(in6, 0) AS rank6
          FROM n CROSS JOIN consts LEFT JOIN c1 ON n.node = c1.dst
        ), c2 AS (
          SELECT dst, CAST(SUM((85 * (rank6 // outdeg)) // 100) AS BIGINT) AS in6
          FROM e JOIN r1 ON e.src = r1.node JOIN deg USING (src) GROUP BY dst
        ), r2 AS (
          SELECT node, base6 + COALESCE(in6, 0) AS rank6
          FROM n CROSS JOIN consts LEFT JOIN c2 ON n.node = c2.dst
        ), c3 AS (
          SELECT dst, CAST(SUM((85 * (rank6 // outdeg)) // 100) AS BIGINT) AS in6
          FROM e JOIN r2 ON e.src = r2.node JOIN deg USING (src) GROUP BY dst
        ), r3 AS (
          SELECT node, base6 + COALESCE(in6, 0) AS rank6
          FROM n CROSS JOIN consts LEFT JOIN c3 ON n.node = c3.dst
        )
        SELECT node, round(rank6 / 1e6, 6) AS pagerank FROM r3 ORDER BY node
      """)
    ),
    // Spark 4 recursive CTE (UnionLoop) — hop-bounded BFS; DuckDB replays
    // the identical WITH RECURSIVE text.
    Q(
      "q111_recursive_reachability",
      Graph.recursiveReachability,
      Some("""
        WITH RECURSIVE e0 AS (
          SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 7 < 2
          UNION ALL
          SELECT doc_id, doc_id + 10 FROM documents WHERE doc_id % 13 = 0
        ), e AS (
          SELECT src, dst FROM e0 WHERE dst IN (SELECT doc_id FROM documents)
        ), reach(node, hop) AS (
          SELECT DISTINCT src AS node, 0 AS hop FROM e WHERE src % 91 = 0
          UNION ALL
          SELECT e.dst, r.hop + 1 FROM reach r JOIN e ON e.src = r.node WHERE r.hop < 10
        )
        SELECT node, CAST(MIN(hop) AS INT) AS min_hop, COUNT(*) AS n_paths
        FROM reach GROUP BY node ORDER BY node
      """)
    )
  )

  private def skewPack: Seq[Q] = Seq(
    // Salt never reaches the output, so the oracle replays the UNSALTED
    // join — identical result, hot-key-free plan on the Spark side.
    Q(
      "q112_salted_skew_join",
      Skew.saltedSkewJoin,
      Some("""
        WITH fact AS (
          SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0 ELSE l_orderkey % 997 END AS k,
                 l_extendedprice
          FROM lineitem
        ), dim AS (
          SELECT p_partkey - 1 AS k, p_partkey % 7 AS category
          FROM part WHERE p_partkey <= 997
        )
        SELECT category, COUNT(*) AS n_items,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        FROM fact JOIN dim USING (k)
        GROUP BY category ORDER BY category
      """)
    )
  )

  private def versioningPack: Seq[Q] = Seq(
    Q(
      "q109_snapshot_diff",
      Versioning.snapshotDiff,
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_totalprice FROM orders
        ), next_v AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100.0
                      ELSE o_totalprice END AS o_totalprice
          FROM base WHERE o_orderkey % 97 <> 0
          UNION ALL
          SELECT o_orderkey + 10000000000000, o_totalprice FROM base WHERE o_orderkey % 50 = 7
        ), d AS (
          SELECT COALESCE(b.o_orderkey, n.o_orderkey) AS o_orderkey,
                 b.o_totalprice AS old_price, n.o_totalprice AS new_price
          FROM base b FULL OUTER JOIN next_v n ON b.o_orderkey = n.o_orderkey
        ), v AS (
          SELECT o_orderkey,
                 CASE WHEN old_price IS NULL THEN 'added'
                      WHEN new_price IS NULL THEN 'removed'
                      WHEN old_price <> new_price THEN 'changed'
                      ELSE 'unchanged' END AS verdict,
                 old_price, new_price
          FROM d
        )
        SELECT o_orderkey, verdict, old_price, new_price
        FROM v WHERE verdict <> 'unchanged' ORDER BY o_orderkey
      """)
    ),
    Q(
      "q110_scd2_history",
      Versioning.scd2History,
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderdate, o_totalprice FROM orders WHERE o_orderkey <= 2000
        ), feed AS (
          SELECT o_orderkey, o_orderdate AS change_ts, o_totalprice AS price FROM base
          UNION ALL
          SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY, o_totalprice + 10.0
          FROM base WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT o_orderkey, o_orderdate + INTERVAL 60 DAY, o_totalprice + 25.0
          FROM base WHERE o_orderkey % 9 = 0
        ), v AS (
          SELECT o_orderkey,
                 CAST(ROW_NUMBER() OVER w AS INT) AS version,
                 price,
                 change_ts AS valid_from,
                 LEAD(change_ts, 1) OVER w AS valid_to
          FROM feed
          WINDOW w AS (PARTITION BY o_orderkey ORDER BY change_ts)
        )
        SELECT o_orderkey, version, price, valid_from, valid_to,
               (valid_to IS NULL) AS is_current
        FROM v ORDER BY o_orderkey, version
      """)
    ),
    // The oracle replays the same derived feed, latest-wins reduce, and
    // full-join apply; idempotence (re-apply == apply) is VersioningSpec's
    // contract on the shared applyCdc.
    Q(
      "q158_cdc_upsert",
      Versioning.cdcUpsert,
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        ), ch AS (
          SELECT o_orderkey AS k, CAST(NULL AS BIGINT) AS cust, CAST(NULL AS VARCHAR) AS st,
                 CAST(NULL AS DOUBLE) AS price, 'D' AS op, CAST(1 AS BIGINT) AS seq
          FROM base WHERE o_orderkey % 11 = 0
          UNION ALL
          SELECT o_orderkey, o_custkey, 'U', o_totalprice + 50.0, 'U', 1
          FROM base WHERE o_orderkey % 11 <> 0 AND o_orderkey % 7 = 0
          UNION ALL
          SELECT o_orderkey + 10000000000000, o_custkey, 'N', o_totalprice, 'U', 1
          FROM base WHERE o_orderkey % 13 = 0
          UNION ALL
          SELECT o_orderkey, o_custkey, 'R', o_totalprice + 25.0, 'U', 2
          FROM base WHERE o_orderkey % 22 = 0
          UNION ALL
          SELECT o_orderkey, o_custkey, 'V', o_totalprice + 100.0, 'U', 2
          FROM base WHERE o_orderkey % 22 <> 0 AND o_orderkey % 21 = 0
          UNION ALL
          SELECT o_orderkey + 10000000000000, NULL, NULL, NULL, 'D', 2
          FROM base WHERE o_orderkey % 26 = 0
        ), latest AS (
          SELECT k, cust, st, price, op, seq FROM (
            SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM ch
          ) WHERE rn = 1
        )
        SELECT COALESCE(l.k, b.o_orderkey) AS o_orderkey,
               CASE WHEN l.op = 'U' THEN l.cust ELSE b.o_custkey END AS o_custkey,
               CASE WHEN l.op = 'U' THEN l.st ELSE b.o_orderstatus END AS o_orderstatus,
               CASE WHEN l.op = 'U' THEN l.price ELSE b.o_totalprice END AS o_totalprice,
               CASE WHEN l.op = 'U' THEN l.seq ELSE CAST(0 AS BIGINT) END AS version
        FROM base b FULL OUTER JOIN latest l ON b.o_orderkey = l.k
        WHERE l.op IS NULL OR l.op = 'U'
        ORDER BY o_orderkey
      """)
    ),
    // The oracle recomputes the aggregate from scratch; the engine's
    // base+delta merge must reproduce it exactly (integer-cents grid).
    Q(
      "q113_mv_incremental_merge",
      Versioning.mvIncrementalMerge,
      Some("""
        SELECT CAST(ts AS DATE) AS day, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
        FROM events GROUP BY day, event_type ORDER BY day, event_type
      """)
    ),
    Q(
      "q115_integrity_manifest",
      Versioning.integrityManifest,
      Some("""
        WITH rows_h AS (
          SELECT 'orders' AS table_name,
                 ('0x' || substr(md5(concat_ws('|', o_orderkey, o_orderstatus)), 1, 15))::BIGINT AS h
          FROM orders
          UNION ALL
          SELECT 'lineitem',
                 ('0x' || substr(md5(concat_ws('|', l_orderkey, l_linenumber)), 1, 15))::BIGINT
          FROM lineitem
          UNION ALL
          SELECT 'customer',
                 ('0x' || substr(md5(concat_ws('|', c_custkey, c_name)), 1, 15))::BIGINT
          FROM customer
          UNION ALL
          SELECT 'documents',
                 ('0x' || substr(md5(concat_ws('|', doc_id, md5(text))), 1, 15))::BIGINT
          FROM documents
        )
        SELECT table_name, COUNT(*) AS n_rows, bit_xor(h) AS content_xor,
               MIN(h) AS min_h, MAX(h) AS max_h
        FROM rows_h GROUP BY table_name ORDER BY table_name
      """)
    )
  )

  private def lmPack: Seq[Q] = Seq(
    Q(
      "q96_unigram_logprob",
      Vocab.unigramLogprob,
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), f AS (
          SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
        ), tot AS (
          SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM f
        ), lp AS (
          SELECT token, CAST(round(ln(freq / total) * 1e6) AS BIGINT) AS lp6
          FROM f, tot ORDER BY freq DESC, token LIMIT 24
        ), oov AS (
          SELECT CAST(round(ln(1.0 / total) * 1e6) AS BIGINT) AS oov6 FROM tot
        ), scored AS (
          SELECT doc_id, COALESCE(lp6, oov6) AS lp6
          FROM tok LEFT JOIN lp USING (token), oov
        )
        SELECT doc_id, COUNT(*) AS n_toks,
               CAST(-((2 * (-SUM(lp6)) + COUNT(*)) // (2 * COUNT(*))) AS BIGINT) / 1e6 AS mean_logprob
        FROM scored
        GROUP BY doc_id ORDER BY doc_id
      """)
    )
  )

  private def dedupPack: Seq[Q] = Seq(
    Q(
      "q64_exact_dedup",
      Dedup.exactDedup,
      Some(s"""
        WITH $dupCorpus
        SELECT md5(text) AS content_h, MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        FROM corpus GROUP BY content_h ORDER BY survivor_id
      """)
    ),
    Q(
      "q65_minhash_lsh_pairs",
      Dedup.minhashLshPairs,
      Some(s"""
        WITH $dupCorpus, tk AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS dsh FROM tk
        ), hsh AS (
          SELECT doc_id, list_transform(dsh,
            x -> ('0x' || substr(md5(x),1,15))::BIGINT % 2147483647) AS hs
          FROM sh
        ), sg AS (
          SELECT doc_id, list_transform(range(0, 16), s ->
            CAST(list_min(list_transform(hs,
              h -> ((s*2+1) * h + s*12289) % 2147483647)) AS BIGINT)) AS sig
          FROM hsh
        ), bands AS (
          SELECT doc_id, sig, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS key
          FROM sg, (SELECT unnest([0,1,2,3]) AS b)
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT p.id1, p.id2,
               CAST(list_sum(list_transform(range(1, 17),
                 i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_jaccard
        FROM pairs p JOIN sg s1 ON p.id1 = s1.doc_id JOIN sg s2 ON p.id2 = s2.doc_id
        ORDER BY id1, id2
      """)
    ),
    Q(
      "q66_simhash_pairs",
      Dedup.simhashPairs,
      Some(s"""
        WITH $dupCorpus, tok AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        ), tk AS (
          SELECT doc_id, list_transform(
            list_transform(range(1, len(toks) - 1),
              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])),
            x -> ('0x' || substr(md5(x),1,12))::BIGINT) AS tokh
          FROM tok
        ), sm AS (
          SELECT doc_id, CAST(list_sum(list_transform(range(0, 48), i ->
            CASE WHEN CAST(list_sum(list_transform(tokh, x ->
              CASE WHEN (x // CAST(POWER(2.0, i) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
            THEN CAST(POWER(2.0, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
          FROM tk
        ), bands AS (
          SELECT doc_id, simhash, b, (simhash // CAST(POWER(2.0, 12*b) AS BIGINT)) % 4096 AS key
          FROM sm, (SELECT unnest([0,1,2,3]) AS b)
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id1, a.simhash AS sh1, b.doc_id AS id2, b.simhash AS sh2
          FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT id1, id2, CAST(bit_count(xor(sh1, sh2)) AS INT) AS hamming
        FROM pairs WHERE bit_count(xor(sh1, sh2)) <= 6
        ORDER BY id1, id2
      """)
    ),
    Q("q67_ngram_jaccard_pairs", Dedup.ngramJaccardPairs, Some(ngramJaccardSql)),
    // Asymmetric containment: the oracle derives the same excerpt-augmented
    // corpus (first ⌈n/2⌉ tokens under +2M ids for docs %7), joins string
    // shingles where the engine joins their 60-bit hashes, and divides by
    // the CONTAINED side's distinct-shingle count only.
    Q(
      "q160_containment_pairs",
      Dedup.containmentPairs,
      Some(containmentSql)
    ),
    // q160's scale-safe plan pair: index only the ⌈n_a·0.1⌉+1 rarest
    // shingles of the CONTAINED side (the asymmetric prefix lemma —
    // container side stays full), exact-verify the candidates. SHARED
    // oracle with q160: hash equality proves the prefix filter lossless.
    Q(
      "q168_containment_prefix_pairs",
      Dedup.containmentPrefixPairs,
      Some(containmentSql)
    ),
    // Skew-adaptive dispatch over the q160/q168 containment plan pair —
    // the containment twin of q170 (same sampled statistic, same cutoff);
    // both branches share q160's oracle, so the choice is
    // correctness-invisible and the hash proves it.
    Q(
      "q171_adaptive_containment_pairs",
      Dedup.adaptiveContainmentPairs,
      Some(containmentSql)
    ),
    // Exact duplicated-substring spans (Lee et al. 2021's suffix-array
    // dedup, relational form): maximal ≥15-token regions whose text
    // repeats anywhere in the q160 excerpt corpus — md5-anchored L-window
    // candidates, exact-TEXT verify, per-doc interval merge. The oracle
    // verifies straight off the window text (no hash anchor): if the
    // engine's anchor stage dropped or fabricated a candidate, the span
    // geometry would diverge.
    Q(
      "q172_substring_spans",
      Dedup.substringSpans,
      Some("""
        WITH base AS (SELECT doc_id, text FROM documents),
        corpus AS (
          SELECT doc_id, text FROM base
          UNION ALL
          SELECT doc_id + 2000000,
                 array_to_string(list_slice(string_split(text, ' '), 1,
                   (len(string_split(text, ' ')) + 1) // 2), ' ')
          FROM base WHERE doc_id % 7 = 0
        ), tk AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        ), wins AS (
          SELECT doc_id, i.i AS pos,
                 array_to_string(list_slice(toks, i.i, i.i + 14), ' ') AS wtext
          FROM tk, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ), dup AS (
          SELECT wtext FROM wins GROUP BY wtext HAVING count(*) >= 2
        ), v AS (
          SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (wtext)
        ), m AS (
          SELECT doc_id, pos,
                 max(pos + 14) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM v
        ), isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM m
        )
        SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 14 AS span_end,
               MAX(pos) + 15 - MIN(pos) AS n_toks
        FROM isl GROUP BY doc_id, island
        ORDER BY doc_id, span_start
      """)
    ),
    // Span REMOVAL (Lee et al. 2021's published deliverable): the cleaned
    // corpus after cutting all-but-one occurrence of every duplicated
    // ≥15-token region — q172's verified windows + the q120 lowest-id
    // survivor election + per-doc interval surgery. The oracle rebuilds
    // the whole thing from raw window text and re-derives the cleaned
    // text RELATIONALLY (token positions anti-joined against removal
    // intervals), so the kept_md5 column is a content-exact check of the
    // engine's per-row token filter, not just of the counts.
    Q(
      "q173_span_removal",
      Dedup.substringSpanRemoval,
      Some("""
        WITH base AS (SELECT doc_id, text FROM documents),
        corpus AS (
          SELECT doc_id, text FROM base
          UNION ALL
          SELECT doc_id + 2000000,
                 array_to_string(list_slice(string_split(text, ' '), 1,
                   (len(string_split(text, ' ')) + 1) // 2), ' ')
          FROM base WHERE doc_id % 7 = 0
        ), tk AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        ), wins AS (
          SELECT doc_id, i.i AS pos,
                 array_to_string(list_slice(toks, i.i, i.i + 14), ' ') AS wtext
          FROM tk, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ), dup AS (
          SELECT wtext FROM wins GROUP BY wtext HAVING count(*) >= 2
        ), v AS (
          SELECT w.doc_id, w.pos, w.wtext FROM wins w JOIN dup USING (wtext)
        ), rmv AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY wtext ORDER BY doc_id, pos) AS rn
            FROM v
          ) WHERE rn > 1
        ), m AS (
          SELECT doc_id, pos,
                 max(pos + 14) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM rmv
        ), isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM m
        ), iv AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + 14 AS e
          FROM isl GROUP BY doc_id, island
        ), stats AS (
          SELECT doc_id, COUNT(*) AS n_cut_spans, SUM(e - s + 1) AS toks_removed
          FROM iv GROUP BY doc_id
        ), posx AS (
          SELECT tk.doc_id, i.i AS pos, tk.toks[i.i] AS tok
          FROM tk, (SELECT unnest(range(1, len(toks) + 1)) AS i) i
          WHERE tk.doc_id IN (SELECT doc_id FROM iv)
        ), keptx AS (
          SELECT p.doc_id, p.pos, p.tok FROM posx p
          WHERE NOT EXISTS (SELECT 1 FROM iv
                            WHERE iv.doc_id = p.doc_id AND p.pos BETWEEN iv.s AND iv.e)
        ), keptagg AS (
          SELECT doc_id, COUNT(*) AS toks_kept,
                 array_to_string(list(tok ORDER BY pos), ' ') AS kept
          FROM keptx GROUP BY doc_id
        )
        SELECT tk.doc_id,
               COALESCE(s.n_cut_spans, 0) AS n_cut_spans,
               CAST(COALESCE(s.toks_removed, 0) AS BIGINT) AS toks_removed,
               CAST(CASE WHEN s.doc_id IS NULL THEN len(tk.toks)
                         ELSE COALESCE(k.toks_kept, 0) END AS BIGINT) AS toks_kept,
               md5(CASE WHEN s.doc_id IS NULL THEN array_to_string(tk.toks, ' ')
                        ELSE COALESCE(k.kept, '') END) AS kept_md5
        FROM tk
        LEFT JOIN stats s ON tk.doc_id = s.doc_id
        LEFT JOIN keptagg k ON tk.doc_id = k.doc_id
        ORDER BY tk.doc_id
      """)
    ),
    // Substring BENCHMARK decontamination (GPT-3 appendix C / Lee et al.
    // §6.2): per-benchmark-example contamination verdict at exact
    // 15-token-window granularity. The oracle joins window TEXTS directly
    // (no hash anchor), so a dropped anchor candidate or an md5 collision
    // in the engine's probe stage diverges the verdict.
    Q(
      "q174_substring_decontamination",
      Dedup.substringDecontamination,
      Some("""
        WITH train AS (SELECT doc_id, text FROM documents),
        benchc AS (
          SELECT doc_id * 2 AS bench_id,
                 array_to_string(list_slice(string_split(text, ' '),
                   len(string_split(text, ' ')) // 3 + 1,
                   len(string_split(text, ' ')) // 3
                     + greatest((len(string_split(text, ' ')) + 1) // 3, 1)), ' ') AS text
          FROM train WHERE doc_id % 11 = 4
        ), benchr AS (
          SELECT doc_id * 2 + 1 AS bench_id,
                 array_to_string(list_transform(
                   range(len(string_split(text, ' ')), 0, -1),
                   i -> string_split(text, ' ')[i]), ' ') AS text
          FROM train WHERE doc_id % 13 = 6
        ), btk AS (
          SELECT bench_id, string_split(text, ' ') AS toks
          FROM (SELECT * FROM benchc UNION ALL SELECT * FROM benchr)
        ), ttk AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM train
        ), tw AS (
          SELECT array_to_string(list_slice(toks, i.i, i.i + 14), ' ') AS twtext
          FROM ttk, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ), bw AS (
          SELECT bench_id, i.i AS bpos,
                 array_to_string(list_slice(toks, i.i, i.i + 14), ' ') AS bwtext
          FROM btk, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ), hits AS (
          SELECT DISTINCT b.bench_id, b.bpos FROM bw b JOIN tw t ON t.twtext = b.bwtext
        ), stats AS (
          SELECT bench_id, COUNT(*) AS n_contam_windows FROM hits GROUP BY bench_id
        )
        SELECT btk.bench_id,
               CAST(greatest(len(btk.toks) - 14, 0) AS BIGINT) AS n_windows,
               COALESCE(s.n_contam_windows, 0) AS n_contam_windows,
               CASE WHEN COALESCE(s.n_contam_windows, 0) > 0
                    THEN 'contaminated' ELSE 'clean' END AS verdict
        FROM btk LEFT JOIN stats s ON btk.bench_id = s.bench_id
        ORDER BY btk.bench_id
      """)
    ),
    // Decontamination against a BOUNDED benchmark (the production shape):
    // ~1% of docs' middle-third excerpts under bench_id = doc_id — the
    // dispatcher's measured terms both admit the broadcast probe, so this
    // query grades decontamVerdicts' BROADCAST branch end-to-end (corpus
    // side plans no exchange). Same window-texts oracle discipline as q174.
    Q(
      "q175_decontam_bounded_bench",
      Dedup.decontamBoundedBench,
      Some("""
        WITH train AS (SELECT doc_id, text FROM documents),
        bench AS (
          SELECT doc_id AS bench_id,
                 array_to_string(list_slice(string_split(text, ' '),
                   len(string_split(text, ' ')) // 3 + 1,
                   len(string_split(text, ' ')) // 3
                     + greatest((len(string_split(text, ' ')) + 1) // 3, 1)), ' ') AS text
          FROM train WHERE doc_id % 97 = 3
        ), btk AS (
          SELECT bench_id, string_split(text, ' ') AS toks FROM bench
        ), ttk AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM train
        ), tw AS (
          SELECT array_to_string(list_slice(toks, i.i, i.i + 14), ' ') AS twtext
          FROM ttk, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ), bw AS (
          SELECT bench_id, i.i AS bpos,
                 array_to_string(list_slice(toks, i.i, i.i + 14), ' ') AS bwtext
          FROM btk, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ), hits AS (
          SELECT DISTINCT b.bench_id, b.bpos FROM bw b JOIN tw t ON t.twtext = b.bwtext
        ), stats AS (
          SELECT bench_id, COUNT(*) AS n_contam_windows FROM hits GROUP BY bench_id
        )
        SELECT btk.bench_id,
               CAST(greatest(len(btk.toks) - 14, 0) AS BIGINT) AS n_windows,
               COALESCE(s.n_contam_windows, 0) AS n_contam_windows,
               CASE WHEN COALESCE(s.n_contam_windows, 0) > 0
                    THEN 'contaminated' ELSE 'clean' END AS verdict
        FROM btk LEFT JOIN stats s ON btk.bench_id = s.bench_id
        ORDER BY btk.bench_id
      """)
    ),
    // Skew-adaptive dispatch over the q67/q147 plan pair (the crossover
    // probe measured the choice as skew-dependent); both branches are
    // hash-identical, so the shared q67 oracle also covers the dispatcher.
    Q("q170_adaptive_jaccard_pairs", Dedup.adaptiveJaccardPairs, Some(ngramJaccardSql)),
    // Same SEMANTICS and oracle as q67 — the declared point is the other
    // PHYSICAL PLAN: a prefix-filtered (AllPairs/PPJoin) candidate
    // generator indexing only each doc's rarest-shingle prefix, losslessly
    // at the threshold, hash-checked to produce identical pairs.
    Q("q147_prefix_jaccard_pairs", Dedup.prefixJaccardPairs, Some(ngramJaccardSql)),
    Q(
      "q89_capped_jaccard_pairs",
      Dedup.cappedJaccardPairs,
      Some(s"""
        WITH $dupCorpus, tk AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS dsh FROM tk
        ), ex AS (
          SELECT doc_id, unnest(dsh) AS shingle FROM sh
        ), rare AS (
          SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 50
        ), exf AS (
          SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM exf a JOIN exf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ), v AS (
          SELECT c.id1, c.id2,
                 CAST(len(list_intersect(s1.dsh, s2.dsh)) AS INT) AS n_inter,
                 CAST(len(s1.dsh) AS INT) AS n1, CAST(len(s2.dsh) AS INT) AS n2
          FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id
        )
        SELECT id1, id2,
               round(CAST(n_inter AS DOUBLE) / (n1 + n2 - n_inter), 6) AS jaccard
        FROM v
        WHERE round(CAST(n_inter AS DOUBLE) / (n1 + n2 - n_inter), 6) >= 0.6
        ORDER BY id1, id2
      """)
    ),
    Q(
      "q68_embedding_near_dup",
      Dedup.embeddingNearDup,
      Some("""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
        ), e AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
          FROM corpus
        ), p AS (
          SELECT a.vec_id AS id1, b.vec_id AS id2,
                 round(list_sum(list_transform(range(1, 65),
                   i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])) / (a.nrm * b.nrm), 6) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT id1, id2, cos FROM p WHERE cos >= 0.9 ORDER BY id1, id2
      """)
    ),
    // The dedup ENDGAME: the q65 pair pipeline replayed verbatim, then
    // recursive min-label propagation (the q94 discipline) and survivor
    // election. The propagation CTE is transitive closure over the pair
    // graph — exact because the fixture components have small diameter.
    Q(
      "q120_dedup_endgame",
      Dedup.dedupEndgame,
      Some(s"""
        WITH RECURSIVE $dupCorpus, tk AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS dsh FROM tk
        ), hsh AS (
          SELECT doc_id, list_transform(dsh,
            x -> ('0x' || substr(md5(x),1,15))::BIGINT % 2147483647) AS hs
          FROM sh
        ), sg AS (
          SELECT doc_id, list_transform(range(0, 16), s ->
            CAST(list_min(list_transform(hs,
              h -> ((s*2+1) * h + s*12289) % 2147483647)) AS BIGINT)) AS sig
          FROM hsh
        ), bands AS (
          SELECT doc_id, sig, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS key
          FROM sg, (SELECT unnest([0,1,2,3]) AS b)
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
        ), sym AS (
          SELECT id1 AS src, id2 AS dst FROM pairs
          UNION
          SELECT id2, id1 FROM pairs
        ), reach(node, r) AS (
          SELECT doc_id, doc_id FROM corpus
          UNION
          SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.node
        ), comp AS (
          SELECT node, MIN(r) AS comp FROM reach GROUP BY node
        ), clusters AS (
          SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp
        )
        SELECT c.doc_id AS survivor_id, cl.cluster_size,
               CAST(length(c.text) AS INT) AS text_len
        FROM corpus c JOIN clusters cl ON c.doc_id = cl.comp
        ORDER BY survivor_id
      """)
    )
  )

  /** The q69/q153 shared oracle: exact brute-force cosine top-10 per query.
    * Two declared queries run two physical plans against this one
    * semantics — the broadcast-query full scan (q69) and the IVF index at
    * FULL probe width (q153): every vector lives in exactly one inverted
    * list, so probing all lists reconstructs the brute-force candidate set
    * and the results are hash-identical. */
  private val bruteCosineSql: String = """
        WITH e AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
          FROM embeddings
        ), q AS (
          SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 10
        ), s AS (
          SELECT q.query_id, e.vec_id AS cand_id,
                 round(list_sum(list_transform(range(1, 65),
                   i -> CAST(qe[i] AS DOUBLE) * embedding[i])) / (qn * nrm), 6) AS cos
          FROM e, q WHERE e.vec_id <> q.query_id
        ), r AS (
          SELECT query_id, cand_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rk
          FROM s
        )
        SELECT query_id, rk, cand_id, cos FROM r WHERE rk <= 10 ORDER BY query_id, rk
      """

  private def simPack: Seq[Q] = Seq(
    Q("q69_cosine_topk", Similarity.cosineTopK, Some(bruteCosineSql)),
    // Same SEMANTICS and oracle as q69 — the declared point is the other
    // PHYSICAL PLAN: the IVF index probed at full width is lossless, so the
    // recall loss scalerecall measures at narrow nprobe is entirely the
    // probe cut, never the index construction.
    Q("q153_ivf_full_probe", Similarity.ivfFullProbeTopK, Some(bruteCosineSql)),
    // Approximate by DESIGN but deterministic by CONSTRUCTION: the md5-seeded
    // hyperplanes let DuckDB replay the whole LSH pipeline (bucket signs →
    // candidate join → exact rescoring → ranks) for a full hash compare.
    Q(
      "q70_lsh_cosine_topk",
      Similarity.lshCosineTopK,
      Some("""
        WITH planes AS (
          SELECT t.t AS t, p.p AS p,
                 list_transform(range(0, 64), d ->
                   (('0x' || substr(md5(CAST(t.t*4 + p.p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000) / 1000.0) AS w
          FROM (SELECT unnest(range(0, 4)) AS t) t, (SELECT unnest(range(0, 4)) AS p) p
        ), e AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
          FROM embeddings
        ), proj AS (
          SELECT e.vec_id, pl.t, pl.p,
                 list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])) AS dp
          FROM e, planes pl
        ), bkt AS (
          SELECT vec_id, t,
                 CAST(SUM(CASE WHEN dp > 0 THEN CAST(POWER(2.0, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS b
          FROM proj GROUP BY vec_id, t
        ), cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
          FROM bkt q JOIN bkt c ON q.t = c.t AND q.b = c.b
          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        ), scored AS (
          SELECT cand.query_id, cand.cand_id,
                 round(list_sum(list_transform(range(1, 65),
                   i -> CAST(qe.embedding[i] AS DOUBLE) * ce.embedding[i])) / (qe.nrm * ce.nrm), 6) AS cos
          FROM cand
          JOIN e qe ON cand.query_id = qe.vec_id
          JOIN e ce ON cand.cand_id = ce.vec_id
        ), ranked AS (
          SELECT query_id, cand_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rk
          FROM scored
        )
        SELECT query_id, rk, cand_id, cos FROM ranked WHERE rk <= 10 ORDER BY query_id, rk
      """)
    ),
    // Same discipline for IVF: scaled-long centroid means + sequential IEEE
    // dots make the inverted-list probe fully replayable in DuckDB.
    Q(
      "q76_ivf_cosine_topk",
      Similarity.ivfCosineTopK,
      Some(s"""
        WITH $embNrmCte, $labelCentsCteSql, $ivfQueryTailSql
      """)
    ),
    // IVF over the TRAINED quantizer: the q107 two-iteration grid-exact
    // Lloyd CTEs produce the centroid table (c2), then the identical q76
    // query tail runs against it — training, indexing, probing, rescoring
    // all replayed bit-exactly. Declares the "production points this at
    // the k-means loop" composition as a checked query.
    Q(
      "q154_ivf_trained_topk",
      Similarity.ivfTrainedTopK,
      Some(s"""
        WITH $embNrmCte, $trainedCentsCteSql, $ivfQueryTailSql
      """)
    ),
    // IVF-PQ: the coarse probe prefix (q76's label-mean quantizer) bounds
    // the candidate set; the PQ CTEs replay codebook training (seed =
    // vec_id mod codes, one Lloyd step of truncated-integer means — DuckDB
    // `//` and Spark `div` both truncate toward zero, so the codebooks are
    // bit-equal with no floating point), nibble encoding, integer
    // asymmetric-distance scoring, the ADC shortlist cut, and the exact
    // cosine rescore of the shortlist alone.
    Q(
      "q156_ivf_pq_topk",
      Similarity.ivfPqTopK,
      Some(s"""
        WITH $embNrmCte, $labelCentsCteSql, $ivfProbeSql, $pqCodebookCteSql, $pqQueryTailSql
      """)
    ),
    // IVF-PQ over the TRAINED coarse quantizer — the full production ANN
    // composition in one declared query: q154's grid-exact two-iteration
    // Lloyd centroids bound the candidate lists, q156's trained PQ
    // codebooks score them by integer asymmetric distance, the shortlist
    // rescores exactly. Every stage — coarse training, PQ training,
    // encoding, probing, ADC, rescore — replays bit-exactly (the oracle
    // is literally q154's centroid CTEs composed with q156's PQ CTEs).
    Q(
      "q161_ivf_pq_trained_topk",
      Similarity.ivfPqTrainedTopK,
      Some(s"""
        WITH $embNrmCte, $trainedCentsCteSql, $ivfProbeSql, $pqCodebookCteSql, $pqQueryTailSql
      """)
    ),
    // The reference program as one declared query: events served by an
    // in-JVM stub ES cluster, scrolled back over HTTP through the REAL
    // wire-protocol connector (sliced scroll, pushed exact term,
    // _source-pruned columns, cleared contexts), then the daily purchase
    // rollup. The oracle computes the rollup straight from the parquet —
    // the hash compare proves the HTTP/JSON round trip is lossless.
    Q(
      "q163_es_scroll_export",
      graft.sources.es.EsQueries.dailyPurchases,
      Some("""
        SELECT CAST(ts AS DATE) AS day,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY day
        ORDER BY day
      """)
    ),
    // The reference's discovery aggregation over the wire connector: the
    // terms/count request pushed down as a paged composite aggregation —
    // only bucket rows cross the HTTP boundary, never documents.
    Q(
      "q164_es_discovery_agg",
      graft.sources.es.EsQueries.topEventTypes,
      Some("""
        SELECT event_type, COUNT(*) AS count
        FROM events
        GROUP BY event_type
        ORDER BY event_type
      """)
    ),
    // The reference's daily-index window pruning over the wire: pattern
    // discovery via _cat/indices, 20 of 30 day indices pruned at partition
    // planning from the pushed ts bound, multi-index scroll of the rest.
    Q(
      "q165_es_window_pruned_export",
      graft.sources.es.EsQueries.windowedDailyRollup,
      Some("""
        SELECT CAST(ts AS DATE) AS day,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-21 00:00:00'
        GROUP BY day, event_type
        ORDER BY day, event_type
      """)
    ),
    // q163's plan pair on the modern pagination: the same export driven by
    // PIT + search_after (the documented scroll replacement) — the shared
    // oracle proves both wire protocols deliver the identical multiset.
    Q(
      "q166_es_pit_export",
      graft.sources.es.EsQueries.dailyPurchasesPit,
      Some("""
        SELECT CAST(ts AS DATE) AS day,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY day
        ORDER BY day
      """)
    ),
    // The streaming tail of the stub cluster: the whole fixture drains
    // through cursor-ranged micro-batch epochs (PIT+search_after per
    // slice per epoch); the rollup over the drained rows must equal the
    // parquet's — exactly-once across epochs under the hash.
    Q(
      "q167_es_stream_tail",
      graft.sources.es.EsQueries.tailRollup,
      Some("""
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
      """)
    )
  )

  /** The shared q156/q161 PQ query tail: candidate set from the coarse
    * probe, query grid blocks, integer ADC, shortlist cut, exact rescore,
    * final top-10. Expects `assigned`/`probes` (from [[ivfProbeSql]]),
    * `blocks`/`cb1`/`codes` (from [[pqCodebookCteSql]]), and `e`. */
  private def pqQueryTailSql: String = s"""cand AS (
          SELECT p.query_id, a.vec_id AS cand_id
          FROM assigned a JOIN probes p ON a.cent_id = p.probe_cent AND a.vec_id <> p.query_id
        ), qb AS (
          SELECT vec_id AS query_id, b, gvec AS qvec FROM blocks WHERE vec_id < 10
        ), adc AS (
          SELECT cand.query_id, cand.cand_id,
                 CAST(SUM(list_sum(list_transform(range(1, ${Similarity.PqBlockDim} + 1),
                   i -> (qb.qvec[i] - cb.cvec[i]) * (qb.qvec[i] - cb.cvec[i])))) AS BIGINT) AS adc
          FROM cand
          JOIN codes co ON co.vec_id = cand.cand_id
          JOIN cb1 cb ON cb.b = co.b AND cb.c = co.code
          JOIN qb ON qb.query_id = cand.query_id AND qb.b = co.b
          GROUP BY cand.query_id, cand.cand_id
        ), short AS (
          SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, cand_id) AS srk
            FROM adc
          ) WHERE srk <= ${Similarity.PqShortlist}
        ), scored AS (
          SELECT s.query_id, s.cand_id,
                 round(list_sum(list_transform(range(1, 65),
                   i -> CAST(qe.embedding[i] AS DOUBLE) * ce.embedding[i])) / (qe.nrm * ce.nrm), 6) AS cos
          FROM short s
          JOIN e qe ON s.query_id = qe.vec_id
          JOIN e ce ON s.cand_id = ce.vec_id
        ), ranked AS (
          SELECT query_id, cand_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rk
          FROM scored
        )
        SELECT query_id, rk, cand_id, cos FROM ranked WHERE rk <= 10 ORDER BY query_id, rk"""

  /** The shared q154/q161 trained-coarse-quantizer CTEs (the grid-exact
    * two-iteration Lloyd replay of Clustering.trainedCentroids), yielding
    * `c2` (cent_id, cvec, cnrm). Expects `e` upstream. */
  private def trainedCentsCteSql: String = """m0 AS (
          SELECT CAST(vec_id % 8 AS INT) AS cluster, i.i AS pos,
                 CAST(CAST(SUM(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS FLOAT) AS m
          FROM embeddings, (SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i) i
          GROUP BY cluster, i.i
        ), c0 AS (
          SELECT cluster AS cent_id, cvec,
                 sqrt(list_sum(list_transform(cvec, x -> CAST(x AS DOUBLE) * x))) AS cnrm
          FROM (SELECT cluster, list(m ORDER BY pos) AS cvec FROM m0 GROUP BY cluster)
        ), s1 AS (
          SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])) / (e.nrm * c.cnrm) AS ccos
          FROM e, c0 c
        ), a1 AS (
          SELECT vec_id, embedding, cent_id AS cluster FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
            FROM s1
          ) WHERE crk = 1
        ), m1 AS (
          SELECT cluster, i.i AS pos,
                 CAST(CAST(SUM(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS FLOAT) AS m
          FROM a1, (SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i) i
          GROUP BY cluster, i.i
        ), c2 AS (
          SELECT cluster AS cent_id, cvec,
                 sqrt(list_sum(list_transform(cvec, x -> CAST(x AS DOUBLE) * x))) AS cnrm
          FROM (SELECT cluster, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY cluster)
        )"""

  /** The q156 PQ oracle CTEs: 1e6-grid sub-vector blocks, seeded codebook,
    * one Lloyd step (integer means, integer d2), final encode. Yields
    * `blocks` (vec_id, b, gvec), `cb1` (b, c, cvec), `codes`
    * (vec_id, b, code). Geometry/constants interpolate the SAME
    * [[Similarity]] vals the engine reads. */
  private def pqCodebookCteSql: String = {
    val bd = Similarity.PqBlockDim
    s"""gr AS (
          SELECT vec_id,
                 list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS g
          FROM embeddings
        ), blocks AS (
          SELECT vec_id, bb.b AS b,
                 list_transform(range(1, $bd + 1), j -> g[bb.b * $bd + j]) AS gvec
          FROM gr, (SELECT unnest(range(0, ${Similarity.PqBlocks})) AS b) bb
        ), cb0j AS (
          SELECT b, CAST(vec_id % ${Similarity.PqCodes} AS INT) AS c, j.j AS j,
                 CAST(SUM(gvec[j.j]) // COUNT(*) AS BIGINT) AS cg
          FROM blocks, (SELECT unnest(range(1, $bd + 1)) AS j) j
          GROUP BY b, c, j.j
        ), cb0 AS (
          SELECT b, c, list(cg ORDER BY j) AS cvec FROM cb0j GROUP BY b, c
        ), pa1 AS (
          SELECT vec_id, b, gvec, c FROM (
            SELECT s.vec_id, s.b, s.gvec, cb.c,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.b ORDER BY
                     list_sum(list_transform(range(1, $bd + 1),
                       i -> (s.gvec[i] - cb.cvec[i]) * (s.gvec[i] - cb.cvec[i]))) ASC, cb.c) AS crk
            FROM blocks s JOIN cb0 cb ON s.b = cb.b
          ) WHERE crk = 1
        ), cb1j AS (
          SELECT b, c, j.j AS j, CAST(SUM(gvec[j.j]) // COUNT(*) AS BIGINT) AS cg
          FROM pa1, (SELECT unnest(range(1, $bd + 1)) AS j) j
          GROUP BY b, c, j.j
        ), cb1 AS (
          SELECT b, c, list(cg ORDER BY j) AS cvec FROM cb1j GROUP BY b, c
        ), codes AS (
          SELECT vec_id, b, c AS code FROM (
            SELECT s.vec_id, s.b, cb.c,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.b ORDER BY
                     list_sum(list_transform(range(1, $bd + 1),
                       i -> (s.gvec[i] - cb.cvec[i]) * (s.gvec[i] - cb.cvec[i]))) ASC, cb.c) AS crk
            FROM blocks s JOIN cb1 cb ON s.b = cb.b
          ) WHERE crk = 1
        )"""
  }

  /** Shared oracle CTE: embeddings with their L2 norm. */
  private val embNrmCte: String = """e AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
          FROM embeddings
        )"""

  /** Shared oracle CTEs (q76/q156): the label-mean coarse quantizer on the
    * scaled-long grid, yielding `c2` (cent_id, cvec, cnrm) — the SQL
    * mirror of [[Similarity.labelCents]]. */
  private val labelCentsCteSql: String = """cpos AS (
          SELECT label, i.i AS pos,
                 CAST(CAST(SUM(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS FLOAT) AS m
          FROM embeddings, (SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i) i
          GROUP BY label, i.i
        ), cents AS (
          SELECT label AS cent_id, list(m ORDER BY pos) AS cvec
          FROM cpos GROUP BY label
        ), c2 AS (
          SELECT cent_id, cvec,
                 sqrt(list_sum(list_transform(cvec, x -> CAST(x AS DOUBLE) * x))) AS cnrm
          FROM cents
        )"""

  /** The q76/q154 shared IVF-query oracle tail: nearest-centroid index
    * assignment, query probing at [[Similarity.IvfNprobe]], candidate
    * scoring restricted to probed lists, top-10 rank. Expects upstream
    * CTEs `e` (vec_id, embedding, nrm) and `c2` (cent_id, cvec, cnrm) —
    * q76 binds c2 to the per-label means, q154 to the trained Lloyd
    * centroids. */
  /** The coarse assign + probe prefix shared by the IVF tails (q76/q154's
    * scoring tail and q156's PQ tail): nearest-centroid index assignment
    * and query probing at [[Similarity.IvfNprobe]]. Expects CTEs `e` and
    * `c2`; yields `assigned` (vec_id, embedding, nrm, cent_id) and
    * `probes` (query_id, qe, qn, probe_cent). */
  private def ivfProbeSql: String = s"""assign AS (
          SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   (list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])) / (e.nrm * c.cnrm)) DESC,
                   c.cent_id) AS crk
          FROM e, c2 c
        ), assigned AS (
          SELECT vec_id, embedding, nrm, cent_id FROM assign WHERE crk = 1
        ), probe AS (
          SELECT q.vec_id AS query_id, q.embedding AS qe, q.nrm AS qn, c.cent_id AS probe_cent,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   (list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * c.cvec[i])) / (q.nrm * c.cnrm)) DESC,
                   c.cent_id) AS crk
          FROM e q, c2 c WHERE q.vec_id < 10
        ), probes AS (
          SELECT query_id, qe, qn, probe_cent FROM probe WHERE crk <= ${Similarity.IvfNprobe}
        )"""

  private def ivfQueryTailSql: String = s"""$ivfProbeSql, scored AS (
          SELECT p.query_id, a.vec_id AS cand_id,
                 round(list_sum(list_transform(range(1, 65),
                   i -> CAST(p.qe[i] AS DOUBLE) * a.embedding[i])) / (p.qn * a.nrm), 6) AS cos
          FROM assigned a JOIN probes p ON a.cent_id = p.probe_cent AND a.vec_id <> p.query_id
        ), ranked AS (
          SELECT query_id, cand_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rk
          FROM scored
        )
        SELECT query_id, rk, cand_id, cos FROM ranked WHERE rk <= 10 ORDER BY query_id, rk"""

  private def chunkingPack: Seq[Q] = Seq(
    Q(
      "q118_cdc_chunks",
      Chunking.cdcChunks,
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ), x AS (
          SELECT doc_id,
                 unnest(range(1, len(tk) + 1)) AS pos,
                 unnest(tk) AS tok
          FROM t
        ), h AS (
          SELECT doc_id, pos, tok,
                 CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT % 16 = 0
                      THEN 1 ELSE 0 END AS b
          FROM x
        ), c AS (
          SELECT doc_id, pos, tok,
                 CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chunk_id
          FROM h
        )
        SELECT doc_id, chunk_id, COUNT(*) AS n_toks,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
        FROM c GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id
      """)
    ),
    Q(
      "q119_length_bucketed_batches",
      Chunking.lengthBucketedBatches,
      Some("""
        WITH d AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          FROM documents
        ), r AS (
          SELECT doc_id, n_toks, n_toks // 32 AS bucket,
                 CAST((ROW_NUMBER() OVER (PARTITION BY (n_toks // 32) ORDER BY doc_id) - 1) // 8 AS BIGINT) AS batch_no
          FROM d
        )
        SELECT bucket, batch_no, COUNT(*) AS n_docs, MAX(n_toks) AS max_toks,
               MIN(doc_id) AS first_doc,
               CAST(MAX(n_toks) * COUNT(*) - SUM(n_toks) AS BIGINT) AS padding_waste
        FROM r GROUP BY bucket, batch_no ORDER BY bucket, batch_no
      """)
    ),
    Q(
      "q83_chunk_documents",
      Chunking.chunkDocuments,
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), st AS (
          SELECT doc_id, toks,
                 unnest(range(1, greatest(len(toks) - 32 + 1, 1) + 1, 16)) AS chunk_start
          FROM t
        ), c AS (
          SELECT doc_id, chunk_start, toks[chunk_start : chunk_start + 31] AS chunk
          FROM st
        )
        SELECT doc_id, CAST(chunk_start AS INT) AS chunk_start,
               CAST(len(chunk) AS INT) AS n_chunk_toks,
               md5(array_to_string(chunk, ' ')) AS chunk_md5
        FROM c ORDER BY doc_id, chunk_start
      """)
    ),
    Q(
      "q84_pack_sequences",
      Chunking.packSequences,
      Some("""
        WITH t AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          FROM documents
        ), o AS (
          SELECT doc_id, n_toks,
                 CAST(SUM(n_toks) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_offset
          FROM t
        )
        SELECT doc_id, n_toks, end_offset - n_toks AS start_offset,
               (end_offset - n_toks) // 4096 AS bin
        FROM o ORDER BY start_offset
      """)
    ),
    Q(
      "q87_token_budget_sample",
      Chunking.tokenBudgetSample,
      Some("""
        WITH t AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          FROM documents
        ), o AS (
          SELECT doc_id, n_toks,
                 CAST(SUM(n_toks) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_offset
          FROM t
        )
        SELECT doc_id, n_toks, end_offset FROM o WHERE end_offset <= 10000 ORDER BY end_offset
      """)
    )
  )

  private def timeseriesPack: Seq[Q] = Seq(
    Q(
      "q81_resample_ffill",
      TimeSeries.resampleDailyFfill,
      Some("""
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 round(CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*), 6) AS v
          FROM events GROUP BY user_id, day
        ), spans AS (
          SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
        ), cal AS (
          SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
          FROM spans
        ), j AS (
          SELECT c.user_id, c.day, d.v
          FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
        )
        SELECT user_id, day,
               last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
               v IS NULL AS was_gap
        FROM j ORDER BY user_id, day
      """)
    ),
    // Merged-sketch estimate is engine-specific; declared output = exact
    // distinct + day count + Spark-side tolerance boolean.
    Q(
      "q82_hll_sketch_union",
      TimeSeries.hllSketchUnion,
      Some("""
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users_exact,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days_merged,
               true AS within_tolerance
        FROM events
      """)
    )
  )

  private def shardingPack: Seq[Q] = Seq(
    Q(
      "q77_shard_assignment",
      Sharding.shardAssignment,
      Some("""
        WITH s AS (
          SELECT doc_id, n_chars,
                 ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 16 AS shard
          FROM documents
        )
        SELECT shard, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM s GROUP BY shard ORDER BY shard
      """)
    ),
    Q(
      "q79_train_val_test_split",
      Sharding.trainValTestSplit,
      Some("""
        WITH s AS (
          SELECT doc_id, n_chars,
                 ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 AS h
          FROM documents
        ), t AS (
          SELECT doc_id, n_chars,
                 CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split
          FROM s
        )
        SELECT split, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_doc
        FROM t GROUP BY split ORDER BY split
      """)
    ),
    Q(
      "q78_deterministic_shuffle",
      Sharding.deterministicShuffle,
      Some("""
        WITH o AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS pos
          FROM documents
        )
        SELECT pos, doc_id FROM o WHERE pos <= 100 ORDER BY pos
      """)
    )
  )

  private def multimodalPack: Seq[Q] = Seq(
    // q71/q58/q72/q159 oracles replay the CLOSED FORM the engine's media
    // generators rasterize; the engine side round-trips through a real
    // PNG/WAV codec (lossless), so decoded == generated and an ImageIO/
    // AudioSystem encode or decode bug breaks the hash compare.
    Q(
      "q71_image_features",
      Multimodal.imageFeatures,
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(doc_id % 16 + 4 AS INT) AS width,
                 CAST(doc_id % 12 + 4 AS INT) AS height
          FROM documents
        ), v AS (
          SELECT doc_id, width, height,
                 list_transform(range(0, width*height*3),
                   k -> (doc_id*31 + k*7) % 256) AS vals
          FROM d
        )
        SELECT doc_id, width, height,
               CAST(width*height*3 AS BIGINT) AS n_vals,
               CAST(list_sum(vals) AS BIGINT) AS pix_sum,
               CAST(list_min(vals) AS INT) AS pix_min,
               CAST(list_max(vals) AS INT) AS pix_max,
               CAST(list_sum(list_transform(vals, x -> CASE WHEN x > 128 THEN 1 ELSE 0 END)) AS BIGINT) AS n_gt128,
               CAST(list_sum(vals) * 1000 AS BIGINT) // CAST(width*height*3 AS BIGINT) AS mean_milli
        FROM v ORDER BY doc_id
      """)
    ),
    Q(
      "q58_audio_features",
      Multimodal.audioFeatures,
      Some("""
        WITH w AS (
          SELECT doc_id, ww.w AS window_idx
          FROM documents, (SELECT unnest([0, 1, 2]) AS w) ww
        ), s AS (
          SELECT doc_id, CAST(window_idx AS INT) AS window_idx,
                 list_transform(range(0, 160),
                   i -> (doc_id*7919 + (window_idx*160 + i)*104729) % 4096 - 2048) AS sm
          FROM w
        )
        SELECT doc_id, window_idx,
               16000 AS sample_rate,
               CAST(list_sum(list_transform(sm, x -> x*x)) AS BIGINT) AS energy,
               CAST(list_max(list_transform(sm, x -> abs(x))) AS INT) AS peak,
               CAST(list_sum(list_transform(range(1, 160),
                 i -> CASE WHEN sm[i]*sm[i+1] < 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_zero_cross
        FROM s ORDER BY doc_id, window_idx
      """)
    ),
    Q(
      "q72_frame_sample",
      Multimodal.frameSample,
      Some("""
        WITH fr AS (
          SELECT doc_id, unnest([0, 2]) AS frame_idx,
                 CAST(doc_id % 8 + 4 AS INT) AS w, CAST(doc_id % 6 + 4 AS INT) AS h
          FROM documents
        ), v AS (
          SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
                 list_transform(range(0, w*h*3),
                   k -> (doc_id*31 + frame_idx*1009 + k*7) % 256) AS vals
          FROM fr
        )
        SELECT doc_id, frame_idx,
               CAST(list_sum(vals) AS BIGINT) AS pix_sum,
               CAST(list_max(vals) AS INT) AS pix_max
        FROM v ORDER BY doc_id, frame_idx
      """)
    ),
    Q(
      "q159_png_file_pipeline",
      Multimodal.pngFilePipeline,
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(doc_id % 16 + 4 AS INT) AS width,
                 CAST(doc_id % 12 + 4 AS INT) AS height
          FROM (SELECT doc_id FROM documents WHERE doc_id % 53 = 0 ORDER BY doc_id LIMIT 97)
        ), v AS (
          SELECT doc_id, width, height,
                 list_transform(range(0, width*height*3),
                   k -> (doc_id*31 + k*7) % 256) AS vals
          FROM d
        )
        SELECT doc_id, width, height,
               CAST(width*height*3 AS BIGINT) AS n_vals,
               CAST(list_sum(vals) AS BIGINT) AS pix_sum,
               CAST(list_min(vals) AS INT) AS pix_min,
               CAST(list_max(vals) AS INT) AS pix_max,
               CAST(list_sum(list_transform(vals, x -> CASE WHEN x > 128 THEN 1 ELSE 0 END)) AS BIGINT) AS n_gt128,
               CAST(list_sum(vals) * 1000 AS BIGINT) // CAST(width*height*3 AS BIGINT) AS mean_milli
        FROM v ORDER BY doc_id
      """)
    ),
    // q178 (r17 verdict stretch 7): perceptual-hash image near-dup — the
    // dedup discipline composed across the image boundary. The oracle
    // replays the ENTIRE pipeline in closed form: the same 8×8
    // nearest-neighbor sample of the q71 raster (integer division), the
    // same r+g+b gray, the same cross-multiplied average threshold, the
    // same 16-bit band keys, the same band-equality candidates and the
    // same XOR-popcount distances — the engine side differs only in that
    // its pixels come from a REAL ImageIO decode of a real PNG encode
    // (lossless, so decoded == generated; a codec regression breaks this
    // hash compare exactly like q71's).
    Q(
      "q178_image_phash_pairs",
      Multimodal.imagePhashPairs,
      Some("""
        WITH corpus AS (
          SELECT doc_id, doc_id AS base, 0 AS salt FROM documents
          UNION ALL
          SELECT doc_id + 5000000, doc_id, 1 FROM documents WHERE doc_id % 9 = 0
        ), dims AS (
          SELECT doc_id, base, salt, base % 16 + 4 AS w, base % 12 + 4 AS h FROM corpus
        ), cells AS (
          SELECT doc_id, g.g AS idx, base, salt, w,
                 ((g.g % 8) * w) // 8 AS x, ((g.g // 8) * h) // 8 AS y
          FROM dims, (SELECT unnest(range(0, 64)) AS g) g
        ), grays AS (
          SELECT doc_id, idx,
                 ((base*31 + salt + ((y*w + x)*3    )*7) % 256
                + (base*31 + salt + ((y*w + x)*3 + 1)*7) % 256
                + (base*31 + salt + ((y*w + x)*3 + 2)*7) % 256) AS gray
          FROM cells
        ), bits AS (
          SELECT doc_id, idx,
                 CASE WHEN 64*gray > SUM(gray) OVER (PARTITION BY doc_id) THEN 1 ELSE 0 END AS bit
          FROM grays
        ), bands AS (
          SELECT doc_id, idx // 16 AS band,
                 CAST(SUM(bit * (1 << (idx % 16))) AS BIGINT) AS key
          FROM bits GROUP BY doc_id, idx // 16
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
          FROM bands a JOIN bands c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
        ), ham AS (
          SELECT cand.id1, cand.id2,
                 CAST(SUM(bit_count(xor(ba.key, bc.key))) AS BIGINT) AS hamming
          FROM cand
          JOIN bands ba ON ba.doc_id = cand.id1
          JOIN bands bc ON bc.doc_id = cand.id2 AND bc.band = ba.band
          GROUP BY cand.id1, cand.id2
        )
        SELECT id1, id2, hamming FROM ham WHERE hamming <= 6 ORDER BY id1, id2
      """)
    ),
    // q179: the image dedup ENDGAME — q178's dense-corner answer as a
    // declared, linear-output pipeline: exact-hash collapse (q64
    // discipline on the 64-bit pHash) → Hamming-banded near-dup pairs
    // among DISTINCT-hash representatives only → connected components
    // (q120 discipline) → per-image survivor inheritance. The oracle
    // replays every stage: closed-form hashes, pivoted group keys, banded
    // rep pairs with XOR-popcount distances, recursive-CTE reachability,
    // min-label components, per-image verdict join.
    Q(
      "q179_image_dedup_endgame",
      Multimodal.imageDedupEndgame,
      Some("""
        WITH RECURSIVE corpus AS (
          SELECT doc_id, doc_id AS base, 0 AS salt FROM documents
          UNION ALL
          SELECT doc_id + 5000000, doc_id, 1 FROM documents WHERE doc_id % 9 = 0
        ), dims AS (
          SELECT doc_id, base, salt, base % 16 + 4 AS w, base % 12 + 4 AS h FROM corpus
        ), cells AS (
          SELECT doc_id, g.g AS idx, base, salt, w,
                 ((g.g % 8) * w) // 8 AS x, ((g.g // 8) * h) // 8 AS y
          FROM dims, (SELECT unnest(range(0, 64)) AS g) g
        ), grays AS (
          SELECT doc_id, idx,
                 ((base*31 + salt + ((y*w + x)*3    )*7) % 256
                + (base*31 + salt + ((y*w + x)*3 + 1)*7) % 256
                + (base*31 + salt + ((y*w + x)*3 + 2)*7) % 256) AS gray
          FROM cells
        ), bits AS (
          SELECT doc_id, idx,
                 CASE WHEN 64*gray > SUM(gray) OVER (PARTITION BY doc_id) THEN 1 ELSE 0 END AS bit
          FROM grays
        ), bands AS (
          SELECT doc_id, idx // 16 AS band,
                 CAST(SUM(bit * (1 << (idx % 16))) AS BIGINT) AS key
          FROM bits GROUP BY doc_id, idx // 16
        ), hv AS (
          SELECT doc_id,
                 MAX(CASE WHEN band = 0 THEN key END) AS k0,
                 MAX(CASE WHEN band = 1 THEN key END) AS k1,
                 MAX(CASE WHEN band = 2 THEN key END) AS k2,
                 MAX(CASE WHEN band = 3 THEN key END) AS k3
          FROM bands GROUP BY doc_id
        ), grp AS (
          SELECT k0, k1, k2, k3, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
          FROM hv GROUP BY k0, k1, k2, k3
        ), rb AS (
          SELECT rep_id, b.b AS band,
                 CASE b.b WHEN 0 THEN k0 WHEN 1 THEN k1 WHEN 2 THEN k2 ELSE k3 END AS key,
                 k0, k1, k2, k3
          FROM grp, (SELECT unnest([0, 1, 2, 3]) AS b) b
        ), edges AS (
          SELECT DISTINCT a.rep_id AS id1, c.rep_id AS id2
          FROM rb a JOIN rb c ON a.band = c.band AND a.key = c.key AND a.rep_id < c.rep_id
          WHERE bit_count(xor(a.k0, c.k0)) + bit_count(xor(a.k1, c.k1))
              + bit_count(xor(a.k2, c.k2)) + bit_count(xor(a.k3, c.k3)) <= 6
        ), sym AS (
          SELECT id1 AS src, id2 AS dst FROM edges
          UNION
          SELECT id2, id1 FROM edges
        ), reach(node, r) AS (
          SELECT rep_id, rep_id FROM grp
          UNION
          SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.node
        ), comp AS (
          SELECT node, MIN(r) AS comp FROM reach GROUP BY node
        ), rc AS (
          SELECT g.k0, g.k1, g.k2, g.k3, g.rep_id, g.n_copies, c.comp AS cluster_id
          FROM grp g JOIN comp c ON g.rep_id = c.node
        ), cm AS (
          SELECT cluster_id, CAST(SUM(n_copies) AS BIGINT) AS cluster_images
          FROM rc GROUP BY cluster_id
        )
        SELECT h.doc_id, rc.rep_id, rc.cluster_id, cm.cluster_images,
               h.doc_id = rc.cluster_id AS is_kept
        FROM hv h
        JOIN rc ON h.k0 = rc.k0 AND h.k1 = rc.k1 AND h.k2 = rc.k2 AND h.k3 = rc.k3
        JOIN cm USING (cluster_id)
        ORDER BY h.doc_id
      """)
    ),
    // q182: container-invariant audio dedup — q64's exact-dedup
    // discipline keyed on DECODED PCM content; the planted variants are
    // re-containerized WAVs (extra LIST/INFO chunk: +26 bytes, same
    // signal). n_bytes pins that the engine saw different containers;
    // the groups pin that the decode collapsed them anyway. Exact-dup
    // classes also arise naturally: sample(d,t) depends on d mod 4096
    // (7919 coprime to 4096), so docs 4096 apart share all samples.
    Q(
      "q182_audio_dedup",
      Multimodal.audioDedup,
      Some("""
        WITH corpus AS (
          SELECT doc_id, doc_id AS base, 0 AS variant FROM documents
          UNION ALL
          SELECT doc_id + 7000000, doc_id, 1 FROM documents WHERE doc_id % 11 = 0
        ), smp AS (
          SELECT doc_id, base, variant,
                 CAST(44 + 960 + CASE WHEN variant = 1 THEN 26 ELSE 0 END AS BIGINT) AS n_bytes,
                 md5(array_to_string(
                   list_transform(range(0, 480), t -> (base*7919 + t*104729) % 4096 - 2048),
                   ',')) AS pcm_md5
          FROM corpus
        ), grp AS (
          SELECT pcm_md5, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
          FROM smp GROUP BY pcm_md5
        )
        SELECT s.doc_id, s.n_bytes, s.pcm_md5, g.rep_id, g.n_copies,
               s.doc_id = g.rep_id AS is_kept
        FROM smp s JOIN grp g USING (pcm_md5)
        ORDER BY s.doc_id
      """)
    ),
    // q181: the image family's STREAMING story — the at-arrival pHash
    // gate under the q150 pinned-epoch replay (epoch = (doc_id%7)%4, ts
    // pinned to the epoch minute so arrival order is (epoch, doc_id)).
    // The oracle replays the q178 closed-form hash/band CTEs plus the
    // arrival-ordered band self-join: an image is flagged iff some band
    // bucket was already claimed by a SMALLER id that arrived strictly
    // earlier; first_match is the smallest such claimant.
    Q(
      "q181_image_stream_gate",
      Streaming.imageGateAudit,
      Some("""
        WITH corpus AS (
          SELECT doc_id, doc_id AS base, 0 AS salt FROM documents
          UNION ALL
          SELECT doc_id + 5000000, doc_id, 1 FROM documents WHERE doc_id % 9 = 0
        ), dims AS (
          SELECT doc_id, base, salt, base % 16 + 4 AS w, base % 12 + 4 AS h FROM corpus
        ), cells AS (
          SELECT doc_id, g.g AS idx, base, salt, w,
                 ((g.g % 8) * w) // 8 AS x, ((g.g // 8) * h) // 8 AS y
          FROM dims, (SELECT unnest(range(0, 64)) AS g) g
        ), grays AS (
          SELECT doc_id, idx,
                 ((base*31 + salt + ((y*w + x)*3    )*7) % 256
                + (base*31 + salt + ((y*w + x)*3 + 1)*7) % 256
                + (base*31 + salt + ((y*w + x)*3 + 2)*7) % 256) AS gray
          FROM cells
        ), bits AS (
          SELECT doc_id, idx,
                 CASE WHEN 64*gray > SUM(gray) OVER (PARTITION BY doc_id) THEN 1 ELSE 0 END AS bit
          FROM grays
        ), bands AS (
          SELECT doc_id, idx // 16 AS band,
                 CAST(SUM(bit * (1 << (idx % 16))) AS BIGINT) AS key
          FROM bits GROUP BY doc_id, idx // 16
        ), wb AS (
          SELECT doc_id, (doc_id % 7) % 4 AS ep, band, key FROM bands
        ), fm AS (
          SELECT b.doc_id, MIN(a.doc_id) AS first_match
          FROM wb b JOIN wb a ON a.band = b.band AND a.key = b.key
            AND a.doc_id < b.doc_id
            AND (a.ep < b.ep OR (a.ep = b.ep AND a.doc_id < b.doc_id))
          GROUP BY b.doc_id
        )
        SELECT c.doc_id, fm.first_match, fm.first_match IS NOT NULL AS is_dup_at_arrival
        FROM corpus c LEFT JOIN fm USING (doc_id)
        ORDER BY c.doc_id
      """)
    ),
    // q180 (r18 verdict task 3): the q179 endgame over the binaryFile
    // FRONT DOOR — real PNG files on disk, ingested distributed, hashed
    // with the identical kernel, deduped with the identical stages. The
    // oracle is q179's closed-form replay restricted to the same bounded
    // doc-id slice the fixture writes; the engine's ids come from file
    // PATHS and its pixels from decoded file BYTES, so the hash compare
    // pins the whole file-boundary composition.
    Q(
      "q180_image_file_dedup",
      Multimodal.imageFileDedup,
      Some("""
        WITH RECURSIVE sel AS (
          SELECT doc_id FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id LIMIT 1200
        ), corpus AS (
          SELECT doc_id, doc_id AS base, 0 AS salt FROM sel
          UNION ALL
          SELECT doc_id + 5000000, doc_id, 1 FROM sel WHERE doc_id % 9 = 0
        ), dims AS (
          SELECT doc_id, base, salt, base % 16 + 4 AS w, base % 12 + 4 AS h FROM corpus
        ), cells AS (
          SELECT doc_id, g.g AS idx, base, salt, w,
                 ((g.g % 8) * w) // 8 AS x, ((g.g // 8) * h) // 8 AS y
          FROM dims, (SELECT unnest(range(0, 64)) AS g) g
        ), grays AS (
          SELECT doc_id, idx,
                 ((base*31 + salt + ((y*w + x)*3    )*7) % 256
                + (base*31 + salt + ((y*w + x)*3 + 1)*7) % 256
                + (base*31 + salt + ((y*w + x)*3 + 2)*7) % 256) AS gray
          FROM cells
        ), bits AS (
          SELECT doc_id, idx,
                 CASE WHEN 64*gray > SUM(gray) OVER (PARTITION BY doc_id) THEN 1 ELSE 0 END AS bit
          FROM grays
        ), bands AS (
          SELECT doc_id, idx // 16 AS band,
                 CAST(SUM(bit * (1 << (idx % 16))) AS BIGINT) AS key
          FROM bits GROUP BY doc_id, idx // 16
        ), hv AS (
          SELECT doc_id,
                 MAX(CASE WHEN band = 0 THEN key END) AS k0,
                 MAX(CASE WHEN band = 1 THEN key END) AS k1,
                 MAX(CASE WHEN band = 2 THEN key END) AS k2,
                 MAX(CASE WHEN band = 3 THEN key END) AS k3
          FROM bands GROUP BY doc_id
        ), grp AS (
          SELECT k0, k1, k2, k3, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
          FROM hv GROUP BY k0, k1, k2, k3
        ), rb AS (
          SELECT rep_id, b.b AS band,
                 CASE b.b WHEN 0 THEN k0 WHEN 1 THEN k1 WHEN 2 THEN k2 ELSE k3 END AS key,
                 k0, k1, k2, k3
          FROM grp, (SELECT unnest([0, 1, 2, 3]) AS b) b
        ), edges AS (
          SELECT DISTINCT a.rep_id AS id1, c.rep_id AS id2
          FROM rb a JOIN rb c ON a.band = c.band AND a.key = c.key AND a.rep_id < c.rep_id
          WHERE bit_count(xor(a.k0, c.k0)) + bit_count(xor(a.k1, c.k1))
              + bit_count(xor(a.k2, c.k2)) + bit_count(xor(a.k3, c.k3)) <= 6
        ), sym AS (
          SELECT id1 AS src, id2 AS dst FROM edges
          UNION
          SELECT id2, id1 FROM edges
        ), reach(node, r) AS (
          SELECT rep_id, rep_id FROM grp
          UNION
          SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.node
        ), comp AS (
          SELECT node, MIN(r) AS comp FROM reach GROUP BY node
        ), rc AS (
          SELECT g.k0, g.k1, g.k2, g.k3, g.rep_id, g.n_copies, c.comp AS cluster_id
          FROM grp g JOIN comp c ON g.rep_id = c.node
        ), cm AS (
          SELECT cluster_id, CAST(SUM(n_copies) AS BIGINT) AS cluster_images
          FROM rc GROUP BY cluster_id
        )
        SELECT h.doc_id, rc.rep_id, rc.cluster_id, cm.cluster_images,
               h.doc_id = rc.cluster_id AS is_kept
        FROM hv h
        JOIN rc ON h.k0 = rc.k0 AND h.k1 = rc.k1 AND h.k2 = rc.k2 AND h.k3 = rc.k3
        JOIN cm USING (cluster_id)
        ORDER BY h.doc_id
      """)
    )
  )

  private def pipelinePack: Seq[Q] = Seq(
    Q(
      "q80_export_pipeline",
      graft.Pipeline.exportPipeline,
      Some("""
        WITH w AS (
          SELECT *, CAST(ts AS DATE) AS day
          FROM events
          WHERE event_type = 'purchase'
            AND ts >= (SELECT MAX(ts) FROM events) - INTERVAL 30 DAY
        )
        SELECT day,
               CAST(SUM(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN json_valid(props) THEN 0 ELSE 1 END) AS BIGINT) AS n_dead
        FROM w GROUP BY day ORDER BY day
      """)
    )
  )

  private def streamingPack: Seq[Q] = Seq(
    // Stream-static enrichment: the dim is derivable from user_id, so the
    // oracle replays the join arithmetically. Batch form declared; the
    // MemoryStream form is StreamingSpec's stream-static test.
    Q(
      "q131_stream_static_enrich",
      Streaming.tierEnrichBatch,
      Some("""
        SELECT 'tier_' || CAST(user_id % 5 AS VARCHAR) AS tier,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_value
        FROM events GROUP BY tier ORDER BY tier
      """)
    ),
    // Streaming dead-letter split (q52/q128 parity through foreachBatch):
    // classification is event_id % 11 and the epoch counts are the fixed
    // 4-file fixture layout, so the oracle replays the whole audit
    // relationally. A lost epoch, duplicated replay, or silently dropped
    // malformed record changes a count or the k-sum and hash-mismatches.
    Q(
      "q133_stream_dead_letter",
      Streaming.deadLetterStreamAudit,
      Some("""
        SELECT CAST(SUM(CASE WHEN event_id % 11 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
               CAST(SUM(CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
               CAST(SUM(CASE WHEN event_id % 11 <> 0 THEN user_id ELSE 0 END) AS BIGINT) AS k_sum,
               CAST(4 AS BIGINT) AS n_epochs_good,
               CAST(4 AS BIGINT) AS n_epochs_dead
        FROM events
      """)
    ),
    // Streaming LSH near-dup: the keyed-state band registry is
    // batching-invariant once reduced to per-bucket minima, so the oracle
    // replays the q65 band pipeline plus a first-match self-join — a full
    // hash oracle over a genuinely stateful streaming run.
    Q(
      "q136_stream_near_dup",
      Streaming.nearDupStreamAudit,
      Some(s"""
        WITH $dupCorpus, $bandCtes, fm AS (
          SELECT b.doc_id, MIN(a.doc_id) AS first_match
          FROM bands b JOIN bands a ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
          GROUP BY b.doc_id
        )
        SELECT c.doc_id, fm.first_match, fm.first_match IS NOT NULL AS is_dup
        FROM (SELECT doc_id FROM corpus) c LEFT JOIN fm USING (doc_id)
        ORDER BY doc_id
      """)
    ),
    // The AT-ARRIVAL gate under a PINNED batching (epoch = (doc_id % 7) % 4,
    // one file per micro-batch, within-batch order doc_id): a document is
    // flagged iff some band bucket was claimed by a SMALLER id that arrived
    // strictly earlier — smaller epoch, or same epoch and smaller id. A copy
    // landing in an EARLIER epoch than its original is never flagged in
    // either direction (fresh bucket at its own arrival; only a larger id in
    // the registry at the original's) — the at-arrival/batch-dedup
    // divergence the engine's contract documents, here hash-pinned.
    Q(
      "q150_at_arrival_gate",
      Streaming.atArrivalGateAudit,
      Some(s"""
        WITH $dupCorpus, $bandCtes, be AS (
          SELECT doc_id, b, key, (doc_id % 7) % 4 AS ep FROM bands
        ), fm AS (
          SELECT x.doc_id, MIN(a.doc_id) AS first_match
          FROM be x JOIN be a ON a.b = x.b AND a.key = x.key
            AND a.doc_id < x.doc_id
            AND (a.ep < x.ep OR (a.ep = x.ep AND a.doc_id < x.doc_id))
          GROUP BY x.doc_id
        )
        SELECT c.doc_id, fm.first_match, fm.first_match IS NOT NULL AS is_dup_at_arrival
        FROM (SELECT doc_id FROM corpus) c LEFT JOIN fm USING (doc_id)
        ORDER BY doc_id
      """)
    ),
    // The q172 family's STREAMING story (r16 verdict stretch 7): exact
    // substring windows gated at arrival against the md5-window registry,
    // under the q150 pinned-epoch replay (epoch = (doc_id%7)%4, excerpts
    // arrive two epochs after their source docs). The oracle recomputes
    // the verdicts relationally with the identical arrival order: flagged
    // iff an occurrence of the same window md5 arrived strictly earlier
    // WITH a smaller doc_id (the no-retroactive-flag contract — an
    // early-arriving copy is fresh and its later original passes).
    Q(
      "q177_streaming_substring_gate",
      Streaming.substringGateAudit,
      Some("""
        WITH base AS (SELECT doc_id, text FROM documents),
        corpus AS (
          SELECT doc_id, text FROM base
          UNION ALL
          SELECT doc_id + 2000000,
                 array_to_string(list_slice(string_split(text, ' '), 1,
                   (len(string_split(text, ' ')) + 1) // 2), ' ')
          FROM base WHERE doc_id % 7 = 0
        ), tk AS (
          SELECT doc_id, (doc_id % 7) % 4 AS ep, string_split(text, ' ') AS toks FROM corpus
        ), wins AS (
          SELECT doc_id, ep, i.i AS pos,
                 md5(array_to_string(list_slice(toks, i.i, i.i + 14), ' ')) AS h
          FROM tk, (SELECT unnest(range(1, len(toks) - 13)) AS i) i
          WHERE len(toks) >= 15
        ), fm AS (
          SELECT x.doc_id, x.pos, MIN(a.doc_id) AS prior
          FROM wins x JOIN wins a ON a.h = x.h
            AND a.doc_id < x.doc_id
            AND (a.ep < x.ep OR (a.ep = x.ep AND a.doc_id < x.doc_id))
          GROUP BY x.doc_id, x.pos
        ), agg AS (
          SELECT doc_id, COUNT(*) AS n_dup_windows, MIN(prior) AS first_match
          FROM fm GROUP BY doc_id
        )
        SELECT c.doc_id,
               CAST(greatest(len(string_split(c.text, ' ')) - 14, 0) AS BIGINT) AS n_windows,
               COALESCE(g.n_dup_windows, 0) AS n_dup_windows,
               g.first_match,
               COALESCE(g.n_dup_windows, 0) > 0 AS is_dup_at_arrival
        FROM corpus c LEFT JOIN agg g USING (doc_id)
        ORDER BY c.doc_id
      """)
    ),
    // The composed flagship: q167's wire tail feeding q150's at-arrival
    // gate. Cursor-ranged epochs make the global arrival order exactly
    // ascending doc_id (epoch = id div 131072; within-batch order is
    // (ts, doc_id) with ts pinned to the epoch minute), so the at-arrival
    // verdicts are deterministic AND coincide with the registry-final
    // semantics — the q136 oracle body, with the at-arrival column name.
    Q(
      "q169_es_tail_dedup_gate",
      graft.sources.es.EsQueries.tailDedupGate,
      Some(s"""
        WITH $dupCorpus, $bandCtes, fm AS (
          SELECT b.doc_id, MIN(a.doc_id) AS first_match
          FROM bands b JOIN bands a ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
          GROUP BY b.doc_id
        )
        SELECT c.doc_id, fm.first_match, fm.first_match IS NOT NULL AS is_dup_at_arrival
        FROM (SELECT doc_id FROM corpus) c LEFT JOIN fm USING (doc_id)
        ORDER BY doc_id
      """)
    ),
    Q(
      "q73_session_window",
      Streaming.sessionizeBatch,
      Some("""
        WITH t AS (
          SELECT user_id, epoch_us(ts) AS ts_us FROM events
        ), g AS (
          SELECT user_id, ts_us,
                 CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
                        OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) >= 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM t
        ), s AS (
          SELECT user_id, ts_us,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
          FROM g
        )
        SELECT user_id, MIN(ts_us) AS session_start_us,
               MAX(ts_us) + 1800000000 AS session_end_us,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id, sess ORDER BY user_id, session_start_us
      """)
    ),
    Q(
      "q88_stream_join_attribution",
      Streaming.attributionBatch,
      Some("""
        WITH v AS (
          SELECT user_id, ts FROM events WHERE event_type = 'view'
        ), p AS (
          SELECT user_id, ts, event_id AS purchase_id FROM events WHERE event_type = 'purchase'
        )
        SELECT p.purchase_id, COUNT(*) AS n_views_attributed,
               MAX(epoch_us(v.ts)) AS last_view_us
        FROM p JOIN v ON p.user_id = v.user_id
                     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
        GROUP BY p.purchase_id
        ORDER BY purchase_id
      """)
    ),
    Q(
      "q74_tumbling_window",
      Streaming.tumblingBatch,
      Some("""
        SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
               COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY win_start_us ORDER BY win_start_us
      """)
    ),
    Q(
      "q75_sliding_window",
      Streaming.slidingBatch,
      Some("""
        WITH w AS (
          SELECT epoch_us(time_bucket(INTERVAL '30 minutes', ts)) AS b FROM events
        ), x AS (
          SELECT unnest([b, b - 1800000000]) AS win_start_us FROM w
        )
        SELECT win_start_us, COUNT(*) AS n FROM x GROUP BY win_start_us ORDER BY win_start_us
      """)
    )
  )

  private def temporal: Seq[Q] = Seq(
    Q(
      "q30_asof_join",
      AsOf.lastViewBeforePurchase,
      Some("""
        WITH t AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS tag
          FROM events WHERE event_type IN ('view', 'purchase')
        ), w AS (
          SELECT event_id, user_id, tag, epoch_us(ts) AS ts_us,
                 last_value(CASE WHEN tag = 0 THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, tag
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts_us
          FROM t
        )
        SELECT event_id, user_id, ts_us, last_view_ts_us
        FROM w WHERE tag = 1 ORDER BY event_id
      """)
    ),
    Q(
      "q35_interval_join",
      AsOf.sessionDayOverlap,
      Some(sessionDayOverlapSql)
    ),
    // Same SEMANTICS and oracle as q35 — the declared point is the other
    // PHYSICAL PLAN: a big-big interval join via day-bin explode +
    // shuffle-hash equi-join (neither side broadcast), hash-checked to
    // produce identical results.
    Q(
      "q144_binned_interval_join",
      AsOf.sessionDayOverlapBinned,
      Some(sessionDayOverlapSql)
    ),
    Q(
      "q31_range_window_join",
      AsOf.viewsInPrecedingHour,
      Some("""
        WITH t AS (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
          FROM events WHERE event_type IN ('view', 'purchase')
        ), w AS (
          SELECT event_id, user_id, event_type,
                 CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END)
                   OVER (PARTITION BY user_id ORDER BY ts_us
                         RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS n_views_prior_hour
          FROM t
        )
        SELECT event_id, user_id, n_views_prior_hour
        FROM w WHERE event_type = 'purchase' ORDER BY event_id
      """)
    )
  )

  private def scalars: Seq[Q] = Seq(
    Q(
      "q40_string_funcs",
      Scalars.stringFuncs,
      Some("""
        SELECT p_partkey,
               regexp_replace(p_name, '-', '_', 'g') AS name_sanitized,
               upper(p_brand) AS brand_upper,
               CAST(len(string_split(p_type, ' ')) AS INT) AS type_words,
               array_to_string(string_split(p_type, ' '), '_') AS type_joined,
               CAST(length(p_name) AS INT) AS name_len,
               substr(p_name, 1, 5) AS name_prefix,
               concat_ws('|', p_brand, p_type) AS brand_type
        FROM part ORDER BY p_partkey
      """)
    ),
    Q(
      "q41_date_funcs",
      Scalars.dateFuncs,
      Some("""
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               CAST(quarter(o_orderdate) AS INT) AS qtr,
               CAST(month(o_orderdate) AS INT) AS mo,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
               MAX(CAST(date_trunc('month', o_orderdate) AS DATE)) AS month_start,
               CAST(MAX(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY) AS DATE) AS max_plus_30d
        FROM orders GROUP BY yr, qtr, mo ORDER BY yr, qtr, mo
      """)
    ),
    Q(
      "q42_math_funcs",
      Scalars.mathFuncs,
      Some("""
        SELECT l_orderkey, l_linenumber,
               abs(l_quantity - 25.0) AS qty_dev,
               CAST(CEIL(l_extendedprice / 1000.0) AS BIGINT) AS price_k_ceil,
               CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS price_k_floor,
               sqrt(l_quantity) AS qty_sqrt,
               POWER(l_discount, 2.0) AS disc_sq,
               LN(l_extendedprice) AS price_ln
        FROM lineitem WHERE l_orderkey <= 200 ORDER BY l_orderkey, l_linenumber
      """)
    ),
    Q(
      "q43_explode_tokens",
      Scalars.explodeTokens,
      Some("""
        SELECT token, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token ORDER BY n DESC, token LIMIT 50
      """)
    ),
    Q(
      "q44_array_funcs",
      Scalars.arrayFuncs,
      Some("""
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
               toks[1] AS first_tok,
               toks[-1] AS last_tok,
               list_contains(toks, 'spark') AS has_spark,
               CAST(len(list_filter(toks, t -> length(t) > 4)) AS INT) AS n_long_tokens,
               array_to_string(list_transform(toks, t -> upper(t))[1:3], ' ') AS first3_upper
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ORDER BY doc_id
      """)
    ),
    Q(
      "q45_map_json_funcs",
      Scalars.mapJsonFuncs,
      Some("""
        SELECT event_id,
               array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
               json_extract(props, '$.k')::BIGINT AS k_value,
               json_extract(props, '$.k')::BIGINT AS k_via_path
        FROM events ORDER BY event_id
      """)
    ),
    // VARIANT typed-path extraction; DuckDB replays via json_extract with
    // TRY_CAST standing in for try_variant_get's tolerant null.
    Q(
      "q114_variant_decode",
      Scalars.variantDecode,
      Some("""
        WITH j AS (
          SELECT event_id,
                 '{"meta":{"type":"' || event_type || '","user":' || user_id ||
                 '},"payload":' || props || '}' AS js
          FROM events
        )
        SELECT event_id,
               json_extract_string(js, '$.meta.type') AS meta_type,
               json_extract(js, '$.meta.user')::BIGINT AS meta_user,
               json_extract(js, '$.payload.k')::BIGINT AS payload_k,
               TRY_CAST(json_extract_string(js, '$.meta.type') AS BIGINT) AS type_as_int,
               TRY_CAST(json_extract(js, '$.payload.missing') AS BIGINT) AS absent_path
        FROM j ORDER BY event_id
      """)
    )
  )

  private def schemaJson: Seq[Q] = Seq(
    Q(
      "q50_schema_inference",
      SchemaInfer.inferPropsSchema,
      // The inference RESULT is checkable even though the inference engine
      // is Spark-specific: events.props is {"k": <int>} on every fixture,
      // so the pipeline must produce exactly one nullable bigint field.
      Some("""
        SELECT 'k' AS field_name, 'bigint' AS field_type, true AS nullable
      """)
    ),
    Q(
      "q51_strict_decode",
      JsonDecode.strictDecode,
      Some("""
        WITH ev AS (
          SELECT event_id,
                 CASE WHEN event_id % 7 = 0
                      THEN regexp_replace(props, '\}$', ',"extra":1}')
                      ELSE props END AS props2
          FROM events
        )
        SELECT event_id, json_extract(props2, '$.k')::BIGINT AS k
        FROM ev
        WHERE len(list_filter(json_keys(props2), x -> x <> 'k')) = 0
        ORDER BY event_id
      """)
    ),
    Q(
      "q55_nested_decode",
      JsonDecode.nestedDecode,
      // independent recomputation of every leaf from the base columns —
      // the slice arithmetic mirrors the synthesized documents
      Some("""
        WITH base AS (
          SELECT event_id, event_type, user_id,
                 json_extract(props, '$.k')::BIGINT AS k
          FROM events
        )
        SELECT event_id,
               CASE WHEN event_id % 13 = 0 THEN 'dead' ELSE 'ok' END AS status,
               CASE WHEN event_id % 13 = 0 THEN NULL ELSE k END AS k,
               CASE WHEN event_id % 13 = 0 OR event_id % 17 = 0 THEN NULL
                    ELSE 'ev_' || event_type END AS meta_src,
               CASE WHEN event_id % 13 = 0 OR event_id % 17 = 0 THEN NULL
                    ELSE event_id % 5 END AS meta_depth,
               CAST(CASE WHEN event_id % 13 = 0 THEN NULL ELSE 2 END AS INT) AS n_tags,
               CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_id % 7 END AS attr_a,
               CASE WHEN event_id % 13 = 0 THEN NULL
                    ELSE CAST(event_id % 9 AS VARCHAR) END AS nstr
        FROM base ORDER BY event_id
      """)
    ),
    // General union decode: the oracle recomputes branch + value + verdict
    // independently from the base columns (the q55 discipline) — the slice
    // arithmetic mirrors the synthesized union encodings.
    Q(
      "q121_union_decode",
      JsonDecode.unionDecode,
      Some("""
        SELECT event_id,
               CASE event_id % 5 WHEN 0 THEN 'long' WHEN 1 THEN 'string'
                                 WHEN 2 THEN 'null' ELSE NULL END AS u_branch,
               CASE WHEN user_id % 2 = 0 THEN 'long' ELSE 'null' END AS v_branch,
               CASE WHEN event_id % 5 = 0 THEN event_id % 100 ELSE NULL END AS u_long,
               CASE WHEN event_id % 5 = 1 THEN 's' || CAST(user_id % 10 AS VARCHAR)
                    ELSE NULL END AS u_str,
               CASE WHEN user_id % 2 = 0 THEN user_id % 50 ELSE NULL END AS v_long,
               CASE WHEN event_id % 5 IN (3, 4) THEN 'dead' ELSE 'ok' END AS status
        FROM events ORDER BY event_id
      """)
    ),
    Q(
      "q52_dead_letter_audit",
      JsonDecode.deadLetterAudit,
      Some("""
        WITH ev AS (
          SELECT CASE WHEN event_id % 11 = 0 THEN '{not valid json'
                      ELSE props END AS props2
          FROM events
        )
        SELECT CAST(SUM(CASE WHEN json_valid(props2) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
               CAST(SUM(CASE WHEN json_valid(props2) THEN 0 ELSE 1 END) AS BIGINT) AS n_dead_letter
        FROM ev
      """)
    ),
    Q(
      "q54_json_csv_roundtrip",
      ParquetSink.jsonCsvRoundTrip,
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(0 AS BIGINT) AS json_mismatches,
               CAST(0 AS BIGINT) AS csv_mismatches
        FROM events WHERE event_type = 'signup'
      """)
    ),
    // The DSv2 connector under the oracle: generation is a pure function of
    // the row id, so DuckDB replays it from range(). q56 exercises the
    // pushed filter + pruned columns; q57 the pushed COUNT(*) GROUP BY.
    Q(
      "q56_dsv2_source",
      (spark, _) =>
        spark.read
          .format("graft.sources.dsv2.SyntheticEventsSource")
          .option("rows", 10000)
          .option("partitions", 8)
          .load()
          .filter(org.apache.spark.sql.functions.col("event_type") === "click")
          .select("event_id", "ts_us", "user_id")
          .orderBy("event_id"),
      Some("""
        SELECT i AS event_id,
               1704067200000000 + i * 1000000 AS ts_us,
               i % 97 AS user_id
        FROM range(0, 10000) t(i)
        WHERE i % 5 = 0
        ORDER BY event_id
      """)
    ),
    Q(
      "q57_dsv2_pushdown_agg",
      (spark, _) =>
        spark.read
          .format("graft.sources.dsv2.SyntheticEventsSource")
          .option("rows", 100000)
          .option("partitions", 8)
          .load()
          .groupBy("event_type")
          .count()
          .orderBy("event_type"),
      Some("""
        SELECT CASE i % 5 WHEN 0 THEN 'click' WHEN 1 THEN 'view' WHEN 2 THEN 'purchase'
                          WHEN 3 THEN 'signup' ELSE 'error' END AS event_type,
               COUNT(*) AS count
        FROM range(0, 100000) t(i)
        GROUP BY event_type
        ORDER BY event_type
      """)
    ),
    Q(
      "q53_sink_audit",
      ParquetSink.sinkAudit,
      Some("""
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events WHERE event_type = 'purchase'
        GROUP BY day ORDER BY day
      """)
    ),
    // DSv2 writer commit protocol: the committed audit must equal the
    // relational recompute — a double-counted or dropped task would
    // hash-mismatch.
    Q(
      "q123_dsv2_sink_audit",
      graft.sources.dsv2.AuditSink.sinkAuditQuery,
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS sum_ids
        FROM events WHERE event_type = 'purchase'
      """)
    ),
    // Streaming source -> streaming sink round trip: generation, epoch
    // pagination, and the committed audit are all pure functions of the
    // row cursor, so DuckDB replays the drained stream from range().
    Q(
      "q124_dsv2_stream_cursor",
      graft.sources.dsv2.AuditSink.streamCursorQuery,
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(i) AS BIGINT) AS sum_ids,
               CAST(CEIL(COUNT(*) / 2500.0) AS BIGINT) AS n_epochs
        FROM range(0, 12000) t(i)
      """)
    ),
    // binaryFile blob-store ingest: blob content is recomputable text, so
    // the oracle replays length/md5 from the relational source — a wrong
    // file written, dropped by the listing, or mis-split hash-mismatches.
    // octet_length(encode(...)) counts UTF-8 BYTES, matching the file size
    // (length() counts characters and diverges on non-ASCII). NOTE: oracle
    // SQL gets whitespace-flattened by the harness, so `--` comments are
    // forbidden inside the query strings.
    Q(
      "q125_binary_ingest",
      Multimodal.binaryIngest,
      Some("""
        SELECT event_id,
               CAST(octet_length(encode(event_type || '|' || CAST(event_id AS VARCHAR))) AS BIGINT) AS n_bytes,
               md5(event_type || '|' || CAST(event_id AS VARCHAR)) AS content_md5
        FROM (
          SELECT event_id, event_type FROM events
          WHERE event_id % 613 = 0
          ORDER BY event_id
          LIMIT 97
        )
        ORDER BY event_id
      """)
    ),
    // Avro object-container round trip on avro-core (no spark-avro module
    // in this environment): one container file per partition out through
    // DataFileWriter, distributed read back through binaryFile +
    // DataFileReader, per-value audit vs the source. The container schema
    // is the reference's .asvc artifact itself (AvroData scaladoc).
    Q(
      "q126_avro_roundtrip",
      graft.sources.AvroData.avroRoundTrip,
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(0 AS BIGINT) AS avro_mismatches
        FROM events WHERE event_type = 'signup'
      """)
    ),
    // Bucketed co-located fact-fact join: both sides bucketBy(8, orderkey),
    // joined + aggregated with ZERO shuffle exchanges (PlanShapeSpec
    // asserts the plan). Groups are per-order (<= 7 integer-valued
    // quantities), so plain double SUM/MAX are exact in both engines.
    Q(
      "q127_bucketed_join",
      Layout.bucketedJoin,
      Some("""
        SELECT l_orderkey,
               SUM(l_quantity) AS sum_qty,
               MAX(o_totalprice) AS max_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey
        ORDER BY l_orderkey
      """)
    ),
    // Data-skipping audit on real files: the engine writes events as one
    // parquet file per occupied Morton tile (memoized; 3-34 of the 64-tile
    // grid at fixture SFs) and counts how many a footer-stats reader scans
    // for a fixed rectangle under z-order vs round-robin layout. Tile
    // membership is a pure function of the row, so the oracle replays file
    // counts from the raw table: z-order scans 1 file, round-robin all 64.
    Q(
      "q134_skipping_audit",
      Layout.skippingAudit,
      Some("""
        WITH e AS (
          SELECT event_id,
                 CAST(user_id AS BIGINT) % 1024 AS xb,
                 CAST(floor(value) AS BIGINT) % 1024 AS yb
          FROM events
        ), z AS (
          SELECT event_id, xb, yb,
                 CAST(list_sum(list_transform(range(0, 10),
                   i -> ((xb >> i) & 1) * (1::BIGINT << (2 * i)) +
                        ((yb >> i) & 1) * (1::BIGINT << (2 * i + 1))
                 )) AS BIGINT) >> 14 AS z_bucket,
                 event_id % 64 AS nat_bucket
          FROM e
        ), zs AS (
          SELECT z_bucket, min(xb) AS mi_x, max(xb) AS ma_x,
                 min(yb) AS mi_y, max(yb) AS ma_y
          FROM z GROUP BY z_bucket
        ), ns AS (
          SELECT nat_bucket, min(xb) AS mi_x, max(xb) AS ma_x,
                 min(yb) AS mi_y, max(yb) AS ma_y
          FROM z GROUP BY nat_bucket
        )
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM z) AS total_rows,
          (SELECT CAST(count(*) AS BIGINT) FROM z
            WHERE xb BETWEEN 4 AND 11 AND yb BETWEEN 32 AND 95) AS rows_selected,
          (SELECT CAST(count(*) AS BIGINT) FROM zs) AS zorder_files,
          (SELECT CAST(count(*) AS BIGINT) FROM zs
            WHERE ma_x >= 4 AND mi_x <= 11 AND ma_y >= 32 AND mi_y <= 95) AS zorder_files_scanned,
          (SELECT CAST(count(*) AS BIGINT) FROM ns) AS natural_files,
          (SELECT CAST(count(*) AS BIGINT) FROM ns
            WHERE ma_x >= 4 AND mi_x <= 11 AND ma_y >= 32 AND mi_y <= 95) AS natural_files_scanned
      """)
    ),
    // Composed pruning audit: partition dirs (event_type) x bucket dirs
    // (user_id % 16), one real file per pair; a point lookup needs 1 of
    // ~80 files and vanilla partition pruning proves it at plan time
    // (ScaleTechniquesSpec asserts numFiles = 1). Membership is a pure
    // row function, so the oracle replays every count from the raw table.
    Q(
      "q137_composed_pruning",
      Layout.composedPruningAudit,
      Some("""
        WITH f AS (
          SELECT event_type, user_id % 16 AS ub, user_id FROM events
        ), fl AS (
          SELECT event_type, ub, count(*) AS n FROM f GROUP BY event_type, ub
        )
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM f) AS total_rows,
          (SELECT CAST(count(*) AS BIGINT) FROM f
            WHERE event_type = 'view' AND user_id = 7) AS rows_selected,
          (SELECT CAST(count(*) AS BIGINT) FROM fl) AS total_files,
          (SELECT CAST(count(*) AS BIGINT) FROM fl
            WHERE event_type = 'view') AS files_scanned_partition,
          (SELECT CAST(count(*) AS BIGINT) FROM fl
            WHERE event_type = 'view' AND ub = 7) AS files_scanned_composed
      """)
    ),
    // Gaps-and-islands streak detection: day - row_number() is constant
    // across a consecutive run — per-user windows only, no global window.
    Q(
      "q129_user_streaks",
      TimeSeries.userStreaks,
      Some("""
        WITH d AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), g AS (
          SELECT user_id, day,
                 day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp
          FROM d
        ), s AS (
          SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY user_id, grp
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(MAX(len) AS BIGINT) AS max_streak,
               CAST(SUM(len) AS BIGINT) AS active_days
        FROM s GROUP BY user_id ORDER BY user_id
      """)
    ),
    // Schema-evolution read: batch 2 adds a column; mergeSchema=true must
    // surface pre-evolution rows with NULL for the new column.
    Q(
      "q130_schema_evolution",
      ParquetSink.schemaEvolutionRead,
      Some("""
        SELECT CAST(1 AS INT) AS batch,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_null_value,
               CAST(NULL AS DOUBLE) AS min_value,
               CAST(NULL AS DOUBLE) AS max_value
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT CAST(2 AS INT),
               CAST(COUNT(*) AS BIGINT),
               CAST(0 AS BIGINT),
               MIN(value),
               MAX(value)
        FROM events WHERE event_id % 2 = 1
        ORDER BY batch
      """)
    ),
    // Compaction: engine reports MEASURED file counts; the oracle pins the
    // expected 64 -> 4 plus row conservation.
    Q(
      "q132_compaction",
      ParquetSink.compactionAudit,
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_in,
               CAST(COUNT(*) AS BIGINT) AS n_rows_out,
               CAST(64 AS BIGINT) AS files_before,
               CAST(4 AS BIGINT) AS files_after
        FROM events
      """)
    ),
    // CSV dead-letter parity with q52: PERMISSIVE file read +
    // columnNameOfCorruptRecord, corrupt slice = event_id % 13 = 0.
    Q(
      "q128_csv_dead_letter",
      JsonDecode.csvDeadLetterAudit,
      Some("""
        SELECT CAST(SUM(CASE WHEN event_id % 13 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_valid,
               CAST(SUM(CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_letter,
               CAST(SUM(CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END) AS BIGINT) AS sum_user_valid
        FROM events
      """)
    )
  )
}
