package graft.catalog

import graft.norm.Norm
import graft.catalog.Artifacts.DsirTargetSources

/** DuckDB fragments shared by the oracles of more than one query family:
  * CTE chains and scalar expressions that replay an operator in DuckDB
  * dialect, declared once so every oracle that quotes them stays in step. */
object Duck {

  private[catalog] val DuckTokenChunks =
    """t AS (SELECT doc_id, source, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks FROM documents),
      |w AS (SELECT doc_id, source, toks, len(toks) AS n, unnest(generate_series(0, (len(toks) - 1) // 32)) AS chunk_index
      |      FROM t WHERE len(toks) > 0),
      |tc AS (SELECT doc_id, source, toks, n, CAST(chunk_index AS INT) AS chunk_index,
      |         CAST(least(40, n - chunk_index * 32) AS BIGINT) AS n_tokens FROM w)""".stripMargin

  /** The minhash-LSH candidate-pair CTE chain (mirrors
    * [[graft.ops.Dedup.minhashCandidates]] with k=3, 16 hashes, bands of
    * 2) — shared by dedup_minhash and dedup_clusters so the signature
    * arithmetic lives once per engine. Ends in a `mh_pairs` relation. */
  /** The shingle→signature prefix (CTEs t, sh, hashed, seeds, sig) shared
    * by every minhash replay; [[duckMinhashPairs]] appends the fixed
    * r = 2 banding, the banding-curve oracle appends per-r bandings. */
  private[catalog] def duckMinhashSig(rel: String): String =
    s"""t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks FROM $rel),
      |sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
      |         THEN list_transform(generate_series(0, len(toks) - 3), i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
      |         ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t),
      |hashed AS (SELECT doc_id,
      |             CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS m1,
      |             CAST('0x' || substring(md5(shingle), 17, 14) AS BIGINT) AS m2 FROM sh),
      |seeds AS (SELECT doc_id, m1, m2, unnest(generate_series(0, 15)) AS seed FROM hashed),
      |sig AS (SELECT doc_id, seed, MIN(m1 + seed * m2) AS mh FROM seeds GROUP BY 1, 2)""".stripMargin

  private[catalog] def duckMinhashPairs(rel: String): String =
    s"""${duckMinhashSig(rel)},
      |bands AS (SELECT doc_id, seed // 2 AS band_idx,
      |            MAX(CASE WHEN seed % 2 = 0 THEN mh END) || '|' || MAX(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
      |          FROM sig GROUP BY 1, 2),
      |mh_pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)""".stripMargin

  private[catalog] val DuckMinhashPairs = duckMinhashPairs("documents")

  /** [[graft.ops.Dedup.coherentSample]]'s membership replayed as a DuckDB
    * subquery over `rel`: h0 = MIN 3-shingle 60-bit md5 hash, kept at
    * h0 % M == 0 with M = greatest(1, |rel| // budget), the budget
    * interpolated from the SAME shared constant the Scala drivers pass —
    * shared by every *_tuned oracle so the two engines cannot silently
    * diverge on the sample. */
  private[catalog] def duckCoherentSample(rel: String): String =
    s"""(SELECT d.doc_id, d.text FROM $rel d JOIN (
      |     SELECT doc_id, MIN(CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT)) AS h0
      |     FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
      |              THEN list_transform(generate_series(0, len(toks) - 3), i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
      |              ELSE [array_to_string(toks, ' ')] END) AS shingle
      |           FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks FROM $rel))
      |     GROUP BY doc_id) h USING (doc_id)
      |   WHERE h.h0 % GREATEST(1, (SELECT COUNT(*) FROM $rel) // ${graft.ops.Dedup.DefaultSampleBudgetDocs}) = 0)""".stripMargin

  /** The synthesized link graph shared by graph_pagerank and
    * graph_triangles (mirrors the queries' explode synthesis): raw links,
    * self-loop-free distinct directed edges, out-degrees. */
  private[catalog] val DuckGraphEdges =
    """g_raw AS (SELECT doc_id AS src, unnest([doc_id // 2, doc_id // 4, doc_id % 97]) AS dst FROM documents),
      |g_e AS (SELECT DISTINCT src, dst FROM g_raw WHERE src <> dst),
      |g_odeg AS (SELECT src, count(*) AS odeg FROM g_e GROUP BY src)""".stripMargin

  /** One exact-integer PageRank iteration (replays
    * [[graft.ops.Graph.pageRank]]'s floor-div nano arithmetic verbatim):
    * g_r{i-1} → contributions, dangling mass, g_r{i}. graph_pagerank
    * unrolls four. */
  private[catalog] def duckPrIter(i: Int): String = {
    val p = s"g_r${i - 1}"
    s"""g_c$i AS (SELECT e.dst, SUM(r.pr // o.odeg) AS cin
      |  FROM g_e e JOIN g_odeg o USING (src) JOIN $p r ON r.node = e.src GROUP BY e.dst),
      |g_d$i AS (SELECT coalesce(SUM(pr), 0) AS dmass FROM $p WHERE node NOT IN (SELECT src FROM g_odeg)),
      |g_r$i AS (SELECT nd.node,
      |    CAST((15 * CAST(1000000000 AS BIGINT) // 100) // nn.n
      |      + (85 * (coalesce(c.cin, 0) + d.dmass // nn.n)) // 100 AS BIGINT) AS pr
      |  FROM g_nodes nd CROSS JOIN g_nn nn CROSS JOIN g_d$i d LEFT JOIN g_c$i c ON c.dst = nd.node)""".stripMargin
  }

  /** Shared replay of [[graft.ops.TextAnalysis.quality]]'s integer score
    * over `documents` (the curation arithmetic, verbatim): CTE chain
    * ending in qsc(doc_id, nt, score). Lives ONCE so the consuming
    * oracles (curation_pipeline, curation_budget, dedup_keep_best) can't
    * drift apart. */
  private[catalog] def duckQualityScore(rel: String): String =
    s"""qq AS (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t,
      |        string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks FROM $rel),
      |qm AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS nc, CAST(len(toks) AS BIGINT) AS nt,
      |        CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that'], x))) AS BIGINT) AS stop
      |      FROM qq),
      |qsc AS (SELECT doc_id, nt,
      |        least(40, nt // 4)
      |          + (CASE WHEN (10000 * stop) // nt BETWEEN 200 AND 6000 THEN 30 ELSE 0 END)
      |          + (CASE WHEN (1000 * (nc - (nt - 1))) // nt BETWEEN 2500 AND 9000 THEN 30 ELSE 0 END) AS score
      |       FROM qm)""".stripMargin

  private[catalog] val DuckQualityScore = duckQualityScore("documents")

  /** Winnowing replay fragment ([[graft.ops.Winnow.fingerprints]] with
    * k=5, w=4, verbatim arithmetic): 60-bit md5 gram hashes, rightmost-min
    * pick per w-window, distinct selected positions. Ends with
    * wfp(doc_id, pos, fp) — the exploded fingerprint relation both the
    * text_winnowing and dedup_winnow oracles consume. */
  private[catalog] def duckWinnowCtes(rel: String, p: String = ""): String =
    s"""${p}wt AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks FROM $rel),
      |${p}wg AS (SELECT doc_id, CASE WHEN len(toks) >= 5
      |        THEN list_transform(range(0, len(toks) - 4), i -> CAST('0x' || substring(md5(array_to_string(toks[i+1:i+5], ' ')), 1, 15) AS BIGINT))
      |        ELSE [CAST('0x' || substring(md5(array_to_string(toks, ' ')), 1, 15) AS BIGINT)] END AS grams FROM ${p}wt),
      |${p}wsel AS (SELECT doc_id, grams, list_distinct(list_transform(range(0, len(grams) - least(4, len(grams)) + 1),
      |        j -> j + list_max(list_filter(list_transform(range(0, least(4, len(grams))),
      |          t -> CASE WHEN grams[j+t+1] = list_min(grams[j+1:j+least(4, len(grams))]) THEN t ELSE -1 END), x -> x >= 0)))) AS sel FROM ${p}wg),
      |${p}wfp AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, grams[CAST(pos + 1 AS INT)] AS fp
      |        FROM (SELECT doc_id, grams, unnest(sel) AS pos FROM ${p}wsel))""".stripMargin

  private[catalog] def duckLmCtes(rel: String): String =
    s"""lt AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks FROM $rel),
      |lbg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
      |              i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
      |       FROM lt WHERE len(toks) >= 2),
      |lbg2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM lbg),
      |lc2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM lbg2 GROUP BY 1, 2),
      |lc1 AS (SELECT w1, COUNT(*) AS n1 FROM lbg2 GROUP BY 1),
      |lv AS (SELECT COUNT(DISTINCT w2) AS vsz FROM lbg2),
      |lp AS (SELECT w1, w2, (10000 * (n2 + 1)) // (n1 + vsz) AS cond_bp FROM lc2 JOIN lc1 USING (w1), lv),
      |lms AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(cond_bp) // COUNT(*) AS BIGINT) AS lm_bp
      |        FROM lbg2 JOIN lp USING (w1, w2) GROUP BY 1)""".stripMargin

  /** Gopher-battery metrics fragment over `rel`; ends with gm(doc_id,
    * n_words, n_lines, word_len_milli, symbol_bp, bullet_bp, ellipsis_bp,
    * alpha_bp, stop_hits) — consumers apply their own thresholds. */
  private[catalog] def duckGopherMetrics(rel: String): String =
    s"""gq AS (SELECT doc_id, text, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM $rel),
      |gw AS (SELECT doc_id, t,
      |        list_filter(string_split(lower(t), ' '), x -> x <> '') AS toks,
      |        list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines
      |      FROM gq),
      |gm AS (SELECT doc_id,
      |        CAST(len(toks) AS BIGINT) AS n_words,
      |        CAST(len(lines) AS BIGINT) AS n_lines,
      |        CASE WHEN len(toks) > 0 THEN (1000 * (length(t) - (len(toks) - 1))) // len(toks) ELSE 0 END AS word_len_milli,
      |        CASE WHEN len(toks) > 0 THEN (10000 * (len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\\.\\.\\.')))) // len(toks) ELSE 0 END AS symbol_bp,
      |        CASE WHEN len(lines) > 0 THEN (10000 * len(list_filter(lines, l -> regexp_matches(l, '^(\\* |- |•)')))) // len(lines) ELSE 0 END AS bullet_bp,
      |        CASE WHEN len(lines) > 0 THEN (10000 * len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$$')))) // len(lines) ELSE 0 END AS ellipsis_bp,
      |        CASE WHEN len(toks) > 0 THEN (10000 * len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))) // len(toks) ELSE 0 END AS alpha_bp,
      |        CAST(len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(toks, s))) AS BIGINT) AS stop_hits
      |      FROM gw)""".stripMargin

  /** The same training replay with a pluggable source relation, so the
    * incremental row can train on a corpus SLICE verbatim, and a CTE-name
    * prefix `p` so two independent model replays (e.g. the drift row's
    * original + retrained codebooks) can coexist in one WITH chain. */
  private[catalog] def duckIvfTrainCtes(source: String = "embeddings", p: String = "",
                               limitSql: String = "8"): String =
    s"""${p}e AS (SELECT vec_id, embedding,
      |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
      |  FROM $source),
      |${p}dims AS (SELECT unnest(range(1, 65)) AS i),
      |${p}seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vq AS s, 1::BIGINT AS n
      |         FROM (SELECT * FROM ${p}e ORDER BY vec_id LIMIT $limitSql)),
      |${p}sim1 AS (SELECT e.vec_id, c.cid,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (e.vq[i])::DOUBLE)) AS dt,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
      |    list_sum(list_transform(range(1, 65), i -> (e.vq[i])::DOUBLE * (e.vq[i])::DOUBLE)) AS nb
      |  FROM ${p}e e CROSS JOIN ${p}seed c),
      |${p}asn1 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
      |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
      |    FROM ${p}sim1) WHERE rn = 1),
      |${p}u1 AS (SELECT a.cid, d.i, SUM(e.vq[d.i]) AS si, COUNT(*) AS cnt
      |       FROM ${p}asn1 a JOIN ${p}e e ON e.vec_id = a.vec_id CROSS JOIN ${p}dims d GROUP BY 1, 2),
      |${p}c1n AS (SELECT cid, list(si ORDER BY i) AS s, CAST(MAX(cnt) AS BIGINT) AS n FROM ${p}u1 GROUP BY cid),
      |${p}c1 AS (SELECT sd.cid, coalesce(cn.s, sd.s) AS s, coalesce(cn.n, sd.n) AS n
      |       FROM ${p}seed sd LEFT JOIN ${p}c1n cn ON sd.cid = cn.cid),
      |${p}sim2 AS (SELECT e.vec_id, c.cid,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (e.vq[i])::DOUBLE)) AS dt,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
      |    list_sum(list_transform(range(1, 65), i -> (e.vq[i])::DOUBLE * (e.vq[i])::DOUBLE)) AS nb
      |  FROM ${p}e e CROSS JOIN ${p}c1 c),
      |${p}asn2 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
      |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
      |    FROM ${p}sim2) WHERE rn = 1),
      |${p}u2 AS (SELECT a.cid, d.i, SUM(e.vq[d.i]) AS si, COUNT(*) AS cnt
      |       FROM ${p}asn2 a JOIN ${p}e e ON e.vec_id = a.vec_id CROSS JOIN ${p}dims d GROUP BY 1, 2),
      |${p}c2n AS (SELECT cid, list(si ORDER BY i) AS s, CAST(MAX(cnt) AS BIGINT) AS n FROM ${p}u2 GROUP BY cid),
      |${p}c2 AS (SELECT c1.cid, coalesce(cn.s, c1.s) AS s, coalesce(cn.n, c1.n) AS n
      |       FROM ${p}c1 c1 LEFT JOIN ${p}c2n cn ON c1.cid = cn.cid),
      |${p}sim3 AS (SELECT e.vec_id, c.cid,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (e.vq[i])::DOUBLE)) AS dt,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
      |    list_sum(list_transform(range(1, 65), i -> (e.vq[i])::DOUBLE * (e.vq[i])::DOUBLE)) AS nb
      |  FROM ${p}e e CROSS JOIN ${p}c2 c),
      |${p}asn3 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
      |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
      |    FROM ${p}sim3) WHERE rn = 1),
      |${p}probes AS (SELECT vec_id AS query_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
      |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
      |    FROM ${p}sim3 WHERE vec_id < 5) WHERE rn <= 3)""".stripMargin

  /** The dedup_semantic_scale oracle: full replay of the two-level
    * codebook ([[graft.ops.Ivf.trainHierarchical]] with childIters=1) —
    * super train via the shared fragment (dynamic k2 from the corpus),
    * per-super child seeds (lowest vec_id order, ceil(n_s/100) of them),
    * one child Lloyd round with stale-keep, final child assignment,
    * composite cells — then the shared semantic tail over pairs sharing a
    * (super, child) cell. */
  /** The two-level codebook CTE chain shared by dedup_semantic_scale and
    * mine_bitext_scale: super train via the shared fragment (dynamic k2),
    * per-super child seeds (lowest vec_id order, ceil(n_s/100) of them),
    * one child Lloyd round with stale-keep, final child assignment —
    * ending in `hcell(vec_id, cluster)` composite cells. */
  private[catalog] def duckHierCellCtes(k2Sql: String, trainSrc: String = "embeddings",
                               assignSrc: String = null): String = {
    def childSim(cents: String, rel: String = "sv") =
      s"""SELECT v.vec_id, v.sc, c.child,
         |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (v.vq[i])::DOUBLE)) AS dt,
         |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
         |    list_sum(list_transform(range(1, 65), i -> (v.vq[i])::DOUBLE * (v.vq[i])::DOUBLE)) AS nb
         |  FROM $rel v JOIN $cents c ON c.sc = v.sc""".stripMargin
    def childArgmax(sim: String) =
      s"""SELECT vec_id, sc, child FROM (
         |    SELECT vec_id, sc, child, row_number() OVER (PARTITION BY vec_id ORDER BY
         |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, child) AS rn
         |    FROM $sim) WHERE rn = 1""".stripMargin
    val trained =
      s"""${duckIvfTrainCtes(trainSrc, limitSql = k2Sql)},
      |sv AS (SELECT a.vec_id, a.cid AS sc, e.vq FROM asn3 a JOIN e USING (vec_id)),
      |scnt AS (SELECT sc, COUNT(*) AS ns FROM sv GROUP BY 1),
      |cseed AS (SELECT t.sc, CAST(t.rn - 1 AS INT) AS child, t.vq AS s, 1::BIGINT AS n
      |          FROM (SELECT sc, vec_id, vq, row_number() OVER (PARTITION BY sc ORDER BY vec_id) AS rn FROM sv) t
      |          JOIN scnt ON scnt.sc = t.sc
      |          WHERE t.rn <= CAST(ceil(scnt.ns / 100.0) AS BIGINT)),
      |hsim1 AS (${childSim("cseed")}),
      |hasn1 AS (${childArgmax("hsim1")}),
      |hu1 AS (SELECT a.sc, a.child, d.i, SUM(v.vq[d.i]) AS si, COUNT(*) AS cnt
      |        FROM hasn1 a JOIN sv v ON v.vec_id = a.vec_id CROSS JOIN dims d GROUP BY 1, 2, 3),
      |hc1n AS (SELECT sc, child, list(si ORDER BY i) AS s, CAST(MAX(cnt) AS BIGINT) AS n FROM hu1 GROUP BY 1, 2),
      |hc1 AS (SELECT cs.sc, cs.child, coalesce(cn.s, cs.s) AS s, coalesce(cn.n, cs.n) AS n
      |        FROM cseed cs LEFT JOIN hc1n cn ON cs.sc = cn.sc AND cs.child = cn.child)""".stripMargin
    if (assignSrc == null)
      // train and assign over the same relation — the original chain
      s"""$trained,
        |hsim2 AS (${childSim("hc1")}),
        |hasn2 AS (${childArgmax("hsim2")}),
        |hcell AS (SELECT vec_id, sc * 100000 + child AS cluster FROM hasn2)""".stripMargin
    else
      // split chain (the persisted-codebook increment replay): centroids
      // come from `trainSrc` only; `assignSrc` rows take one super argmax
      // against the FINAL super centroids (c2 — exactly what
      // readModel2∘writeModel2 hands assignHierarchical) and one child
      // argmax against the trained children (hc1). A super cell with no
      // trained children falls back to child 0, mirroring
      // Ivf.assignHierarchical's addressable-cell contract.
      s"""$trained,
        |fe AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
        |  FROM $assignSrc),
        |fsim AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (e.vq[i])::DOUBLE)) AS dt,
        |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
        |    list_sum(list_transform(range(1, 65), i -> (e.vq[i])::DOUBLE * (e.vq[i])::DOUBLE)) AS nb
        |  FROM fe e CROSS JOIN c2 c),
        |fasn AS (SELECT vec_id, cid AS sc FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
        |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
        |    FROM fsim) WHERE rn = 1),
        |fsv AS (SELECT a.vec_id, a.sc, e.vq FROM fasn a JOIN fe e USING (vec_id)),
        |fhsim AS (${childSim("hc1", "fsv")}),
        |fhasn AS (${childArgmax("fhsim")}),
        |hcell AS (SELECT f.vec_id, f.sc * 100000 + coalesce(h.child, 0) AS cluster
        |          FROM fasn f LEFT JOIN fhasn h ON h.vec_id = f.vec_id)""".stripMargin
  }

  /** Cosine similarity in DuckDB with the same left-to-right double fold
    * Spark's `aggregate(zip_with(...))` performs. */
  private[catalog] def duckCosine(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE))
       | / (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))
       |    * sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))))""".stripMargin

  /** Full DSIR replay over pluggable corpus/score slices (both predicates
    * range over `doc_id`): weights from the `corpusPred` rows, scores for
    * the `scorePred` rows, top-`k` by score. One derivation serves the
    * one-shot row (both predicates TRUE) and the persisted-weights
    * increment row — like the IVF train CTEs, the oracle re-derives the
    * persisted model from the same slice rather than reading the table. */
  private[catalog] def duckDsirSql(corpusPred: String, scorePred: String, k: Int,
                          src: String = "documents"): String = {
    val tgtList = DsirTargetSources.map(s => s"'$s'").mkString(", ")
    def I(x: String) = graft.ops.Dsir.ilog2qSql(x, duck = true)
    s"""WITH toks AS (SELECT doc_id, source,
      |    list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), t -> t <> '') AS tk
      |  FROM $src),
      |bg AS (SELECT doc_id, source, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g FROM toks),
      |b AS (SELECT doc_id, source, source IN ($tgtList) AS tgt,
      |        CAST('0x' || substring(md5('${graft.ops.Dsir.Seed}:' || g), 1, 15) AS BIGINT) % ${graft.ops.Dsir.Buckets} AS bk FROM bg),
      |cnt AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS raw_b, CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tgt_b FROM b WHERE $corpusPred GROUP BY 1),
      |tot AS (SELECT CAST(SUM(raw_b) AS BIGINT) AS raw_tot, CAST(SUM(tgt_b) AS BIGINT) AS tgt_tot FROM cnt),
      |w AS (SELECT bk, ${I("tgt_b + 1")}
      |        - ${I(s"tgt_tot + ${graft.ops.Dsir.Buckets}")}
      |        - ${I("raw_b + 1")}
      |        + ${I(s"raw_tot + ${graft.ops.Dsir.Buckets}")} AS lrq
      |      FROM cnt CROSS JOIN tot),
      |ds AS (SELECT b.doc_id, b.source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(coalesce(w.lrq, 0)) AS BIGINT) AS score_q
      |       FROM b LEFT JOIN w USING (bk) WHERE $scorePred GROUP BY 1, 2),
      |fl AS (SELECT d.doc_id, d.source, CAST(coalesce(ds.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |         CAST(coalesce(ds.score_q, 0) AS BIGINT) AS score_q
      |       FROM (SELECT * FROM $src WHERE $scorePred) d LEFT JOIN ds ON d.doc_id = ds.doc_id),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INT) AS sel_rank FROM fl)
      |SELECT doc_id, source, n_bigrams, score_q, sel_rank FROM r WHERE sel_rank <= $k ORDER BY sel_rank""".stripMargin
  }

  /** DuckDB spelling of Norm.PythonWhitespace (chr() is codepoint-based there). */
  private[catalog] val DuckWs = Norm.duckWsSet

  /** DuckDB twin of Norm.normalizeDoi over an arbitrary column/expression. */
  private[catalog] def duckDoiNorm(c: String): String =
    s"nullif(lower(trim(replace(regexp_replace(trim($c, ' ' || $DuckWs), '(?i)^https?://(dx\\.)?doi\\.org/', ''), '​', ''), ' ' || $DuckWs)), '')"

  /** Replay of the incremental dedup path: same signatures/bands as the
    * full minhash fragment, but candidates come ONLY from new(%5==0) ⋈
    * corpus(%5<>0) band equality; same exact-Jaccard confirm. Shared by
    * dedup_incremental (direct) and dedup_incremental_indexed (persisted
    * bucketed index) — the two plans must answer identically. */
  private[catalog] val DuckIncrementalCtes: String =
    s"""$DuckMinhashPairs,
      |cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
      |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
      |sets AS (SELECT doc_id, list(DISTINCT m1) AS s, COUNT(DISTINCT m1) AS nsh FROM hashed GROUP BY 1),
      |v AS (SELECT c.new_id, c.corpus_id,
      |        CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
      |        CAST(sa.nsh + sb.nsh - len(list_intersect(sa.s, sb.s)) AS BIGINT) AS uni
      |      FROM cand c JOIN sets sa ON sa.doc_id = c.new_id JOIN sets sb ON sb.doc_id = c.corpus_id)""".stripMargin
}
