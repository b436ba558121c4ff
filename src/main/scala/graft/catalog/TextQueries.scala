package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.{Chat, Dedup, TextAnalysis}
import graft.catalog.Artifacts._
import graft.catalog.Duck._
import org.apache.spark.sql.graft.Pin

/** Text analysis: language id, quality, winnowing, PII, chat and
  * preference data, LM scoring, classifiers and DSIR. */
object TextQueries {

  /** Synthesized conversations shared by chat_qa and chat_render: each
    * document's sentences become alternating user/assistant turns. Plants:
    * %7 docs open with the assistant (parity offset), %11 docs carry TWO
    * user turns up front (strict alternation must flag them). Split is on
    * the literal '. ' so the DuckDB replay can use its non-regex
    * string_split. */
  private def chatConvs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(
      """transform(filter(split(text, '\\. '), x -> x <> ''),
        |  (x, i) -> named_struct(
        |    'role', CASE WHEN doc_id % 11 = 0 AND i < 2 THEN 'user'
        |      WHEN (i + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) % 2 = 0 THEN 'user'
        |      ELSE 'assistant' END,
        |    'content', x))""".stripMargin).as("turns"))

  /** The chat synthesis replayed in DuckDB: sentence list + 1-indexed role
    * list (generate_series stands in for the lambda index). Shared by both
    * chat oracles; ends in ch(doc_id, sents, roles). */
  private val DuckChatConvs =
    """ch_s AS (SELECT doc_id, list_filter(string_split(text, '. '), x -> x <> '') AS sents FROM documents),
      |ch AS (SELECT doc_id, sents,
      |    list_transform(generate_series(1, len(sents)), i ->
      |      CASE WHEN doc_id % 11 = 0 AND i <= 2 THEN 'user'
      |           WHEN ((i - 1) + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) % 2 = 0 THEN 'user'
      |           ELSE 'assistant' END) AS roles
      |  FROM ch_s)""".stripMargin

  /** The preference-pair synthesis + per-pair metric CTE chain (mirrors
    * [[graft.ops.Chat.prefQa]] over the pref_qa query's overlapping-window
    * pairs) — shared by pref_qa and pref_bias_card; ends in
    * m(doc_id, chosen_tokens, rejected_tokens, identical, inter, uni). */
  private val DuckPrefPairs =
    """p AS (SELECT doc_id,
      |    substring(text, 1, CAST((3 * length(text)) // 5 AS INT)) AS chosen,
      |    CASE WHEN doc_id % 13 = 0 THEN substring(text, 1, CAST((3 * length(text)) // 5 AS INT))
      |         WHEN doc_id % 17 = 0 THEN ''
      |         ELSE substring(text, CAST((2 * length(text)) // 5 AS INT) + 1, CAST(length(text) AS INT)) END AS rejected
      |  FROM documents),
      |w AS (SELECT doc_id, chosen, rejected,
      |    list_filter(string_split_regex(lower(chosen), '\s+'), x -> x <> '') AS cw,
      |    list_filter(string_split_regex(lower(rejected), '\s+'), x -> x <> '') AS rw
      |  FROM p),
      |d AS (SELECT doc_id, chosen, rejected, cw, rw,
      |    list_distinct(cw) AS cd, list_distinct(rw) AS rd FROM w),
      |m AS (SELECT doc_id,
      |    CAST(len(cw) AS BIGINT) AS chosen_tokens,
      |    CAST(len(rw) AS BIGINT) AS rejected_tokens,
      |    CAST(CASE WHEN chosen = rejected THEN 1 ELSE 0 END AS BIGINT) AS identical,
      |    CAST(len(list_filter(cd, x -> list_contains(rd, x))) AS BIGINT) AS inter,
      |    CAST(len(list_distinct(list_concat(cd, rd))) AS BIGINT) AS uni
      |  FROM d)""".stripMargin

  /** Bigram-LM replay fragment (Laplace-smoothed, integer bp) over `rel`;
    * ends with lms(doc_id, n_bigrams, lm_bp). The LM is SELF-TRAINED on
    * `rel`, so a composed pipeline that gates before scoring must pass its
    * gated CTE here — the counts, vocabulary, and scores all shift with
    * the corpus, exactly like the Spark operator. */
  /** The NB scoring replay (tokenize → hashed bigram buckets → md5
    * held-out split → ilog2q model/prior/normalizer → per-(doc, class)
    * score), ending with `sc(doc_id, source, cls, score_q)` — shared by
    * the classify_nb argmax row and the classify_nb_pr threshold sweep
    * so the scoring chain lives ONCE. */
  private def DuckNbScoreCtes: String =
    s"""toks AS (SELECT doc_id, source,
      |    list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), t -> t <> '') AS tk
      |  FROM documents),
      |bg AS (SELECT doc_id, source, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g FROM toks),
      |b AS (SELECT doc_id, source,
      |        CAST('0x' || substring(md5('${graft.ops.Dsir.Seed}:' || g), 1, 15) AS BIGINT) % ${graft.ops.Dsir.Buckets} AS bk FROM bg),
      |hv AS (SELECT doc_id, CAST('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000 < 2000 AS held FROM documents),
      |m AS (SELECT source AS cls, bk, CAST(COUNT(*) AS BIGINT) AS n_cb FROM b JOIN hv USING (doc_id) WHERE NOT hv.held GROUP BY 1, 2),
      |pri AS (SELECT source AS cls, CAST(COUNT(*) AS BIGINT) + 1 AS np FROM documents JOIN hv USING (doc_id)
      |        WHERE NOT hv.held GROUP BY 1),
      |tot AS (SELECT m.cls, CAST(SUM(n_cb) AS BIGINT) + ${graft.ops.Dsir.Buckets} AS nt FROM m GROUP BY 1),
      |norm AS (SELECT t.cls, ${graft.ops.Dsir.ilog2qSql("nt", duck = true)} AS norm_q,
      |           ${graft.ops.Dsir.ilog2qSql("np", duck = true)} AS prior_q
      |         FROM tot t JOIN pri ON t.cls = pri.cls),
      |wts AS (SELECT cls, bk, ${graft.ops.Dsir.ilog2qSql("n_cb + 1", duck = true)} AS w_q FROM m),
      |held AS (SELECT doc_id, source FROM documents JOIN hv USING (doc_id) WHERE hv.held),
      |nb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg FROM b JOIN hv USING (doc_id) WHERE hv.held GROUP BY 1),
      |nb2 AS (SELECT h.doc_id, h.source, CAST(coalesce(nb.n_bg, 0) AS BIGINT) AS n_bg
      |        FROM held h LEFT JOIN nb ON h.doc_id = nb.doc_id),
      |hits AS (SELECT b.doc_id, w.cls, CAST(SUM(w.w_q) AS BIGINT) AS hit_q
      |         FROM b JOIN hv USING (doc_id) JOIN wts w ON w.bk = b.bk WHERE hv.held GROUP BY 1, 2),
      |sc AS (SELECT n2.doc_id, n2.source, nm.cls,
      |         nm.prior_q + CAST(coalesce(h.hit_q, 0) AS BIGINT) - n2.n_bg * nm.norm_q AS score_q
      |       FROM nb2 n2 CROSS JOIN norm nm
      |       LEFT JOIN hits h ON h.doc_id = n2.doc_id AND h.cls = nm.cls)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("text_langid", 1.508, (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text").orderBy(col("doc_id")),
      """SELECT doc_id, lang AS labeled_lang,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that'], t))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los','en','un'], t))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','den','ein'], t))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une'], t))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(toks, t -> list_contains(['的','是','了','在','和','有','我','不'], t))) AS BIGINT) AS s_zh,
        |  CASE WHEN greatest(
        |         len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that'], t))),
        |         len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los','en','un'], t))),
        |         len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','den','ein'], t))),
        |         len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une'], t))),
        |         len(list_filter(toks, t -> list_contains(['的','是','了','在','和','有','我','不'], t)))) = 0 THEN 'und'
        |       WHEN len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that'], t))) = greatest(
        |         len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that'], t))),
        |         len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los','en','un'], t))),
        |         len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','den','ein'], t))),
        |         len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une'], t))),
        |         len(list_filter(toks, t -> list_contains(['的','是','了','在','和','有','我','不'], t)))) THEN 'en'
        |       WHEN len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los','en','un'], t))) = greatest(
        |         len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that'], t))),
        |         len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los','en','un'], t))),
        |         len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','den','ein'], t))),
        |         len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une'], t))),
        |         len(list_filter(toks, t -> list_contains(['的','是','了','在','和','有','我','不'], t)))) THEN 'es'
        |       WHEN len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','den','ein'], t))) = greatest(
        |         len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that'], t))),
        |         len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los','en','un'], t))),
        |         len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','den','ein'], t))),
        |         len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une'], t))),
        |         len(list_filter(toks, t -> list_contains(['的','是','了','在','和','有','我','不'], t)))) THEN 'de'
        |       WHEN len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une'], t))) = greatest(
        |         len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that'], t))),
        |         len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los','en','un'], t))),
        |         len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','den','ein'], t))),
        |         len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une'], t))),
        |         len(list_filter(toks, t -> list_contains(['的','是','了','在','和','有','我','不'], t)))) THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang
        |FROM (SELECT doc_id, lang, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin),
    Query("text_quality", 1.067, (s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text").orderBy(col("doc_id")),
      """WITH q AS (SELECT doc_id,
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS t,
        |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(length(t) AS BIGINT) AS n_chars_c,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(t, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct_count,
        |  CAST(length(regexp_replace(t, '[^A-Z]', '', 'g')) AS BIGINT) AS upper_count,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that'], x))) AS BIGINT) AS stop_count
        |  FROM q)
        |SELECT doc_id, n_chars_c, n_tokens,
        |  (1000 * (n_chars_c - (n_tokens - 1))) // n_tokens AS tok_len_milli,
        |  punct_count, upper_count,
        |  (10000 * stop_count) // n_tokens AS stop_bp,
        |  least(40, n_tokens // 4)
        |    + (CASE WHEN (10000 * stop_count) // n_tokens BETWEEN 200 AND 6000 THEN 30 ELSE 0 END)
        |    + (CASE WHEN (1000 * (n_chars_c - (n_tokens - 1))) // n_tokens BETWEEN 2500 AND 9000 THEN 30 ELSE 0 END) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("text_tokens", 0.992, (s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text").orderBy(col("doc_id")),
      """WITH q AS (SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents)
        |SELECT doc_id,
        |  CAST(len(string_split(t, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(t, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM q ORDER BY doc_id""".stripMargin),
    Query("text_fingerprint", 2.007, (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text").orderBy(col("doc_id")),
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(toks) >= 5
        |    THEN list_min(list_transform(generate_series(0, len(toks) - 5), i -> md5(array_to_string(list_slice(toks, i + 1, i + 5), ' '))))
        |    ELSE md5(array_to_string(toks, ' ')) END AS fingerprint
        |FROM t ORDER BY doc_id""".stripMargin),
    Query("text_winnowing", 0.74, (s, dir) =>
      // winnowed fingerprint sets (Schleimer et al. 2003): every w-window
      // of k-gram hashes contributes its rightmost min, so any shared
      // >= k+w-1-token substring is guaranteed a shared fingerprint —
      // the position-aware fingerprint tier next to the global
      // text_fingerprint min-hash
      graft.ops.Winnow.fingerprints(Tables.documents(s, dir), "doc_id", "text",
        k = 5, w = 4).orderBy(col("doc_id"), col("pos")),
      // full replay of the rightmost-min window pick over 60-bit gram
      // hashes; the selected-position set is order-insensitive
      // (list_distinct), compared exploded and sorted
      s"""WITH ${duckWinnowCtes("documents")}
        |SELECT doc_id, pos, fp FROM wfp ORDER BY doc_id, pos""".stripMargin),
    Query("dedup_winnow", 1.86, (s, dir) => {
      // partial-overlap candidate pairs from the winnow inverted index:
      // posting-capped fingerprint join (boilerplate-hot grams dropped, the
      // LSH-cap idiom), pairs confirmed by >= 2 shared fingerprints —
      // catches quotation/template reuse that whole-doc signatures miss
      val fps = graft.ops.Winnow.fingerprints(
        Tables.documents(s, dir), "doc_id", "text", k = 5, w = 4)
      graft.ops.Winnow.candidatePairs(fps, "doc_id", maxPosting = 50, minShared = 2)
        .orderBy(col("id_a"), col("id_b"))
    },
      // inverted-index pair replay: distinct (doc, fp) postings, the
      // 2..50 posting band (singletons can't pair; >50 = boilerplate
      // drop), pair count = shared distinct fingerprints
      s"""WITH ${duckWinnowCtes("documents")},
        |wpost AS (SELECT DISTINCT doc_id, fp FROM wfp),
        |wkeep AS (SELECT fp FROM wpost GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 50),
        |wpair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |          FROM wpost a JOIN wpost b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |          JOIN wkeep k ON k.fp = a.fp)
        |SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM wpair GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY id_a, id_b""".stripMargin),
    Query("dedup_winnow_incremental", 1.14, (s, dir) => {
      // the crawl-increment partial-overlap probe: the %5 batch
      // fingerprints itself and joins the PERSISTED posting index (two
      // bucketed scans, zero corpus re-fingerprinting) — dedup_incremental
      // _indexed's amortization with winnow's local-match semantics; the
      // index build reports under bench `prep`
      val t = ensureWinnowIndex(s, dir)
      graft.ops.Winnow.probeIndex(
        Tables.documents(s, dir).filter(col("doc_id") % MinhashIndexCorpusMod === 0),
        "doc_id", "text", t, maxPosting = 50, minShared = 1)
        .orderBy(col("new_id"), col("corpus_id"))
    },
      // both sides' winnow replay (prefixed fragments), per-side 50-cap,
      // cross join on fp, no lower posting bound (1 corpus + 1 new doc IS
      // a pair)
      s"""WITH ${duckWinnowCtes(s"(SELECT * FROM documents WHERE doc_id % $MinhashIndexCorpusMod = 0)", "nw")},
        |${duckWinnowCtes(s"(SELECT * FROM documents WHERE doc_id % $MinhashIndexCorpusMod <> 0)", "cw")},
        |np AS (SELECT DISTINCT doc_id AS new_id, fp FROM nwwfp),
        |cp AS (SELECT DISTINCT doc_id AS corpus_id, fp FROM cwwfp),
        |nk AS (SELECT fp FROM np GROUP BY fp HAVING COUNT(*) <= 50),
        |ck AS (SELECT fp FROM cp GROUP BY fp HAVING COUNT(*) <= 50)
        |SELECT new_id, corpus_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM np JOIN cp USING (fp) JOIN nk USING (fp) JOIN ck USING (fp)
        |WHERE new_id <> corpus_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 1 ORDER BY new_id, corpus_id""".stripMargin,
      // the winnow-overlap probe amortizes the persisted posting index
      prep = Some(ensureWinnowIndex(_, _))),
    Query("dedup_winnow_tuned", 1.606, (s, dir) => {
      // the winnow family's production TUNING posture (r15 verdict task
      // 4, the dedup_lsh_curve_tuned move): the posting-cap operating
      // point is chosen from a posting-df curve over the signature-
      // COHERENT sample — near-dup docs co-sample at rate ~J/M, so the
      // sampled pair yield stays constant at any corpus size, where a
      // uniform sample's pairs vanish at p². Bill: one corpus
      // sample-membership scan, then everything (fingerprints, df curve,
      // confirmed pairs) is ~256-doc-sized — the full dedup_winnow row
      // (posting-volume floor, 99.5 s at sf30) stays the exact audit
      // shape and never has to be paid to TUNE.
      val docs = Tables.documents(s, dir)
      val sample = graft.ops.Dedup.coherentSample(docs, "doc_id", "text", k = 3,
        budgetDocs = graft.ops.Dedup.DefaultSampleBudgetDocs)
      graft.ops.Winnow.postingCurve(
        graft.ops.Winnow.fingerprints(sample, "doc_id", "text", k = 5, w = 4),
        "doc_id", maxPostings = Seq(10, 50, 200), minShared = 2)
        .orderBy(col("max_posting"))
    },
      // winnow replay over the shared coherent-sample fragment; per-tier
      // df band, counts-formulation volume, pair confirmation over the
      // widest cap re-filtered per tier; tier domain anchored so empty
      // caps report zero rows honestly
      s"""WITH ${duckWinnowCtes(duckCoherentSample("documents"))},
        |wpost AS (SELECT DISTINCT doc_id, fp FROM wfp),
        |wdf AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS df FROM wpost GROUP BY fp HAVING COUNT(*) >= 2),
        |tiers AS (SELECT CAST(unnest([10, 50, 200]) AS BIGINT) AS max_posting),
        |vol AS (SELECT t.max_posting, CAST(COUNT(*) AS BIGINT) AS n_fp_kept,
        |    CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS candidate_volume
        |  FROM tiers t JOIN wdf ON df <= t.max_posting GROUP BY 1),
        |kept AS (SELECT p.doc_id, p.fp, d.df FROM wpost p JOIN wdf d USING (fp) WHERE d.df <= 200),
        |shared AS (SELECT t.max_posting, a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  JOIN tiers t ON a.df <= t.max_posting
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
        |pr AS (SELECT max_posting, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(n_shared) AS BIGINT) AS shared_total FROM shared GROUP BY 1)
        |SELECT t.max_posting, coalesce(v.n_fp_kept, 0) AS n_fp_kept,
        |  coalesce(v.candidate_volume, 0) AS candidate_volume,
        |  coalesce(pr.n_pairs, 0) AS n_pairs, coalesce(pr.shared_total, 0) AS shared_total
        |FROM tiers t LEFT JOIN vol v USING (max_posting) LEFT JOIN pr USING (max_posting)
        |ORDER BY t.max_posting""".stripMargin),
    Query("text_mojibake", 1.008, (s, dir) => {
      // encoding-corruption gate: the synthetic corpus is clean ASCII, so
      // a deterministic slice (%7) gets a planted double-encoding suffix
      // (the multimodal synthesize-then-operate idiom) and the detector
      // must flag exactly that slice with exactly the planted hit count
      val docs = Tables.documents(s, dir)
      val injected = docs.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" cafÃ© â€” naÃ¯ve Â§ Â x"))).otherwise(col("text")))
      TextAnalysis.mojibake(injected, "doc_id", "text").orderBy(col("doc_id"))
    },
      // same planted suffix, same literal-alternation artifact count; the
      // pattern is literal-only so Java regex and RE2 count identically
      s"""WITH m AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || ' cafÃ© â€” naÃ¯ve Â§ Â x' ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '${TextAnalysis.MojibakePattern}')) AS BIGINT) AS mojibake_hits,
        |  CAST(CASE WHEN len(regexp_extract_all(t, '${TextAnalysis.MojibakePattern}')) > 0 THEN 1 ELSE 0 END AS BIGINT) AS corrupt
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("text_scripts", 1.372, (s, dir) => {
      // script-mix gate over a deterministically multilingual-ized corpus
      // (the mojibake plant discipline — the raw synthetic corpus is pure
      // ASCII): %7 gains Han, %11 Cyrillic, %13 Greek, and %19 becomes a
      // Han+Cyrillic doc with NO Latin majority (exercises dominance)
      val docs = Tables.documents(s, dir).withColumn("text", expr(
        """CASE WHEN doc_id % 7 = 0 THEN concat(text, ' 模型数据清洗管道')
          |     WHEN doc_id % 11 = 0 THEN concat(text, ' очистка данных')
          |     WHEN doc_id % 13 = 0 THEN concat(text, ' καθαρισμός δεδομένων')
          |     WHEN doc_id % 19 = 0 THEN ' 语料库 данные 语料 ' ELSE text END""".stripMargin))
      TextAnalysis.scriptMix(docs, "doc_id", "text").orderBy(col("doc_id"))
    },
      {
      // same plants, same shared \x{...} ranges (Java regex and RE2 both
      // accept them in a char class), same fixed-order dominance CASE
      val pat = TextAnalysis.ScriptPatterns.toMap
      s"""WITH synth AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' 模型数据清洗管道'
        |         WHEN doc_id % 11 = 0 THEN text || ' очистка данных'
        |         WHEN doc_id % 13 = 0 THEN text || ' καθαρισμός δεδομένων'
        |         WHEN doc_id % 19 = 0 THEN ' 语料库 данные 语料 ' ELSE text END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '${pat("latin")}')) AS BIGINT) AS c_latin,
        |    CAST(len(regexp_extract_all(text, '${pat("han")}')) AS BIGINT) AS c_han,
        |    CAST(len(regexp_extract_all(text, '${pat("cyrillic")}')) AS BIGINT) AS c_cyrillic,
        |    CAST(len(regexp_extract_all(text, '${pat("greek")}')) AS BIGINT) AS c_greek
        |  FROM synth)
        |SELECT doc_id, n_chars,
        |  CASE WHEN n_chars = 0 THEN 0 ELSE (10000 * c_latin) // n_chars END AS latin_bp,
        |  CASE WHEN n_chars = 0 THEN 0 ELSE (10000 * c_han) // n_chars END AS han_bp,
        |  CASE WHEN n_chars = 0 THEN 0 ELSE (10000 * c_cyrillic) // n_chars END AS cyrillic_bp,
        |  CASE WHEN n_chars = 0 THEN 0 ELSE (10000 * c_greek) // n_chars END AS greek_bp,
        |  CASE WHEN c_latin >= c_han AND c_latin >= c_cyrillic AND c_latin >= c_greek THEN 'latin'
        |       WHEN c_han >= c_cyrillic AND c_han >= c_greek THEN 'han'
        |       WHEN c_cyrillic >= c_greek THEN 'cyrillic' ELSE 'greek' END AS dominant,
        |  CAST(CASE WHEN (CASE WHEN c_latin > 0 THEN 1 ELSE 0 END + CASE WHEN c_han > 0 THEN 1 ELSE 0 END
        |    + CASE WHEN c_cyrillic > 0 THEN 1 ELSE 0 END + CASE WHEN c_greek > 0 THEN 1 ELSE 0 END) >= 2
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_mixed
        |FROM c ORDER BY doc_id""".stripMargin
    }),
    Query("pii_luhn", 0.441, (s, dir) => {
      // checksum-tier card detection over planted numbers: %53 gains the
      // Luhn-valid 4111111111111111 plus a 10-digit decoy run, %59 a
      // 16-digit run that FAILS the checksum — the detector must count
      // candidates and valids apart
      val docs = Tables.documents(s, dir).withColumn("text", expr(
        """CASE WHEN doc_id % 53 = 0 THEN concat(text, ' 4111111111111111 and 0123456789')
          |     WHEN doc_id % 59 = 0 THEN concat(text, ' 4111111111111112')
          |     ELSE text END""".stripMargin))
      TextAnalysis.luhnScan(docs, "doc_id", "text").orderBy(col("doc_id"))
    },
      // same plants, same digit-run pattern, same 1-based odd-position
      // doubling fold — the checksum replays digit for digit
      """WITH synth AS (SELECT doc_id,
        |    CASE WHEN doc_id % 53 = 0 THEN text || ' 4111111111111111 and 0123456789'
        |         WHEN doc_id % 59 = 0 THEN text || ' 4111111111111112'
        |         ELSE text END AS t
        |  FROM documents),
        |m AS (SELECT doc_id, regexp_extract_all(t, '[0-9]+') AS runs FROM synth),
        |c AS (SELECT doc_id, runs, list_filter(runs, s -> length(s) = 16) AS cands FROM m)
        |SELECT doc_id,
        |  CAST(len(runs) AS BIGINT) AS n_digit_runs,
        |  CAST(len(cands) AS BIGINT) AS n_card_candidates,
        |  CAST(coalesce(list_sum(list_transform(cands, s ->
        |    CASE WHEN list_sum(list_transform(range(1, 17), i ->
        |      CASE WHEN i % 2 = 1
        |        THEN 2 * CAST(substring(s, CAST(i AS INT), 1) AS BIGINT)
        |          - CASE WHEN 2 * CAST(substring(s, CAST(i AS INT), 1) AS BIGINT) > 9 THEN 9 ELSE 0 END
        |        ELSE CAST(substring(s, CAST(i AS INT), 1) AS BIGINT) END)) % 10 = 0
        |    THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_luhn_valid,
        |  CAST(CASE WHEN coalesce(list_sum(list_transform(cands, s ->
        |    CASE WHEN list_sum(list_transform(range(1, 17), i ->
        |      CASE WHEN i % 2 = 1
        |        THEN 2 * CAST(substring(s, CAST(i AS INT), 1) AS BIGINT)
        |          - CASE WHEN 2 * CAST(substring(s, CAST(i AS INT), 1) AS BIGINT) > 9 THEN 9 ELSE 0 END
        |        ELSE CAST(substring(s, CAST(i AS INT), 1) AS BIGINT) END)) % 10 = 0
        |    THEN 1 ELSE 0 END)), 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_card
        |FROM c ORDER BY doc_id""".stripMargin),
    Query("text_readability", 0.942, (s, dir) =>
      // integer Flesch over the raw corpus: vowel-group syllables,
      // terminator-run sentences (floored at 1), milli-domain divisions
      TextAnalysis.readability(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      // same collapsed-whitespace token count as the quality family,
      // vowel-group and terminator-run counts via regexp_extract_all,
      // identical floor divisions in the milli domain
      """WITH c AS (SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(t), ' '), x -> x <> '')) AS BIGINT) AS n_words,
        |    greatest(CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(t), '[aeiouy]+')) AS BIGINT) AS n_syllables
        |  FROM c)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST((1000 * n_words) // n_sentences AS BIGINT) AS words_per_sentence_milli,
        |  CAST(CASE WHEN n_words = 0 THEN 0 ELSE (1000 * n_syllables) // n_words END AS BIGINT) AS syllables_per_word_milli,
        |  CAST(CASE WHEN n_words = 0 THEN 0
        |    ELSE 206835 - (1015 * n_words) // n_sentences - (84600 * n_syllables) // n_words END AS BIGINT) AS flesch_milli
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("chat_qa", 0.711, (s, dir) =>
      // instruction-data admission gates over synthesized conversations
      // (sentences become alternating user/assistant turns; %7 docs open
      // with the assistant, %11 docs double the opening user turn —
      // breaking strict alternation): structural flags + role token shares
      Chat.chatQa(chatConvs(Tables.documents(s, dir)), "doc_id", "turns")
        .orderBy(col("doc_id")),
      // shared conversation synthesis; structural flags by list index,
      // role token sums via the same \s+ tokenizer, share in bp
      s"""WITH $DuckChatConvs,
        |m AS (SELECT doc_id, roles,
        |    CAST(len(sents) AS BIGINT) AS n_turns,
        |    CAST(len(list_filter(roles, r -> r = 'user')) AS BIGINT) AS n_user,
        |    CAST(len(list_filter(roles, r -> r = 'assistant')) AS BIGINT) AS n_assistant,
        |    CAST(coalesce(list_sum(list_transform(generate_series(1, len(sents)), i ->
        |      CASE WHEN roles[i] = 'user' THEN len(list_filter(string_split_regex(sents[i], '\\s+'), x -> x <> '')) ELSE 0 END)), 0) AS BIGINT) AS user_tokens,
        |    CAST(coalesce(list_sum(list_transform(generate_series(1, len(sents)), i ->
        |      CASE WHEN roles[i] = 'assistant' THEN len(list_filter(string_split_regex(sents[i], '\\s+'), x -> x <> '')) ELSE 0 END)), 0) AS BIGINT) AS assistant_tokens
        |  FROM ch)
        |SELECT doc_id, n_turns, n_user, n_assistant,
        |  CAST(CASE WHEN n_turns > 0 AND roles[1] = 'user' THEN 1 ELSE 0 END AS BIGINT) AS starts_user,
        |  CAST(CASE WHEN n_turns > 0 AND roles[CAST(n_turns AS INT)] = 'assistant' THEN 1 ELSE 0 END AS BIGINT) AS ends_assistant,
        |  CAST(CASE WHEN n_turns <= 1 THEN 1
        |    WHEN len(list_filter(generate_series(2, CAST(n_turns AS INT)), i -> roles[i] = roles[i - 1])) = 0 THEN 1
        |    ELSE 0 END AS BIGINT) AS alternates,
        |  user_tokens, assistant_tokens,
        |  CAST(CASE WHEN user_tokens + assistant_tokens = 0 THEN 0
        |    ELSE (10000 * assistant_tokens) // (user_tokens + assistant_tokens) END AS BIGINT) AS assistant_share_bp
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("chat_render", 0.728, (s, dir) =>
      // the same conversations rendered to the ChatML-framed training
      // string the tokenizer sees — hash-pinned bytes plus tag-free
      // token counts for packing budgets
      Chat.renderChat(chatConvs(Tables.documents(s, dir)), "doc_id", "turns")
        .orderBy(col("doc_id")),
      // same synthesis; the ChatML frame folded in list order, char count,
      // tag-free token count
      s"""WITH $DuckChatConvs,
        |r AS (SELECT doc_id,
        |    coalesce(list_aggregate(list_transform(generate_series(1, len(sents)), i ->
        |      '<|' || roles[i] || '|>' || chr(10) || sents[i] || '<|end|>' || chr(10)), 'string_agg', ''), '') AS rendered,
        |    CAST(coalesce(list_sum(list_transform(sents, x ->
        |      len(list_filter(string_split_regex(x, '\\s+'), t -> t <> '')))), 0) AS BIGINT) AS content_tokens
        |  FROM ch)
        |SELECT doc_id, rendered, CAST(length(rendered) AS BIGINT) AS rendered_chars, content_tokens
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("chat_pipeline", 4.924, (s, dir) => {
      // the SFT path composed as ONE job (r15 verdict task 7, the
      // instruction-tuning counterpart of curation_full's pretraining
      // funnel): structural QA gate (strict alternation, user-opening,
      // assistant-closing) → ChatML render → tag-free token counts →
      // pack admitted examples into 1024-token training sequences per
      // source. Turns here are 7-token windows (the sentence-split
      // synthesis yields single-turn conversations on this corpus — a
      // gate over those is vacuous); roles carry the same %7/%11 plants,
      // so the gate provably rejects real structural defects. Pin-budget
      // posture from the start: only the ADMITTED ids pin (a one-column
      // relation); the conversation
      // synthesis is a map-only projection that re-derives for the
      // render pass instead of pinning turns arrays corpus-wide — no
      // stage past the pin re-scans the unfiltered corpus.
      val docs = Tables.documents(s, dir)
      // token array let-bound as a lambda variable (the Winnow idiom):
      // downstream QA/render expressions reference `turns` many times and
      // projection collapse inlines this whole synthesis into each — the
      // binding keeps every inline linear instead of re-splitting text
      // once per turn element
      val convs = docs.select(col("doc_id"), expr(
        """element_at(transform(array(split(text, ' ')), ts ->
          |  transform(sequence(0, CAST((size(ts) - 1) div 7 AS INT)),
          |    i -> named_struct(
          |      'role', CASE WHEN doc_id % 11 = 0 AND i < 2 THEN 'user'
          |        WHEN (i + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) % 2 = 0 THEN 'user'
          |        ELSE 'assistant' END,
          |      'content', array_join(slice(ts, i * 7 + 1, 7), ' ')))), 1)""".stripMargin)
        .as("turns"))
      val keptIds = Pin(Chat.chatQa(convs, "doc_id", "turns")
        .filter(col("alternates") === 1 && col("starts_user") === 1 &&
          col("ends_assistant") === 1)
        .select(col("doc_id")))
      // broadcast the pinned id set into BOTH probe joins: the gate and
      // the source lookup stay map-side, so the synthesized turns arrays
      // never ride a shuffle
      val ex = Chat.renderChat(convs.join(broadcast(keptIds), "doc_id"), "doc_id", "turns")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"), col("rendered_chars"), col("content_tokens"))
      graft.ops.Packing.packOffsets(ex, "source", Seq("doc_id"),
        "content_tokens", budget = 1024L)
        .select(col("source"), col("doc_id"), col("rendered_chars"),
          col("content_tokens"), col("seq_id"), col("seq_offset"))
        .orderBy(col("source"), col("doc_id"))
    },
      // 7-token-window turn synthesis (same %7/%11 role plants as
      // DuckChatConvs) → the chat_qa structural gate as a WHERE → the
      // chat_render fold over survivors → the pack_sequences
      // cumsum-window offsets at budget 1024
      """WITH cp_t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |cp_c AS (SELECT doc_id, CAST(((len(toks) - 1) // 7) + 1 AS INT) AS nt,
        |    list_transform(generate_series(1, CAST(((len(toks) - 1) // 7) + 1 AS INT)), i ->
        |      CASE WHEN doc_id % 11 = 0 AND i <= 2 THEN 'user'
        |           WHEN ((i - 1) + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) % 2 = 0 THEN 'user'
        |           ELSE 'assistant' END) AS roles,
        |    list_transform(generate_series(1, CAST(((len(toks) - 1) // 7) + 1 AS INT)), i ->
        |      array_to_string(toks[(i - 1) * 7 + 1 : (i - 1) * 7 + 7], ' ')) AS contents
        |  FROM cp_t),
        |kept AS (SELECT doc_id, nt, roles, contents FROM cp_c
        |  WHERE nt > 0 AND roles[1] = 'user' AND roles[nt] = 'assistant'
        |    AND (nt <= 1 OR len(list_filter(generate_series(2, nt),
        |      i -> roles[i] = roles[i - 1])) = 0)),
        |r AS (SELECT k.doc_id, d.source,
        |    coalesce(list_aggregate(list_transform(generate_series(1, k.nt), i ->
        |      '<|' || k.roles[i] || '|>' || chr(10) || k.contents[i] || '<|end|>' || chr(10)), 'string_agg', ''), '') AS rendered,
        |    CAST(coalesce(list_sum(list_transform(k.contents, x ->
        |      len(list_filter(string_split_regex(x, '\s+'), t -> t <> '')))), 0) AS BIGINT) AS content_tokens
        |  FROM kept k JOIN documents d USING (doc_id)),
        |o AS (SELECT doc_id, source, CAST(length(rendered) AS BIGINT) AS rendered_chars, content_tokens,
        |    CAST(coalesce(SUM(content_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM r)
        |SELECT source, doc_id, rendered_chars, content_tokens,
        |  cum // 1024 AS seq_id, cum % 1024 AS seq_offset
        |FROM o ORDER BY source, doc_id""".stripMargin),
    Query("pref_qa", 1.071, (s, dir) => {
      // DPO-pair QA over synthesized preference pairs: chosen = first 60%
      // of chars, rejected = last 60% (overlapping windows share words, so
      // the Jaccard column carries signal); %13 pairs are identical
      // (zero-signal plant), %17 have an empty rejected side
      val pairs = Tables.documents(s, dir).select(col("doc_id"),
        expr("substring(text, 1, CAST((3 * length(text)) div 5 AS INT))").as("chosen"),
        expr("""CASE WHEN doc_id % 13 = 0 THEN substring(text, 1, CAST((3 * length(text)) div 5 AS INT))
               |     WHEN doc_id % 17 = 0 THEN ''
               |     ELSE substring(text, CAST((2 * length(text)) div 5 AS INT) + 1, CAST(length(text) AS INT)) END""".stripMargin).as("rejected"))
      Chat.prefQa(pairs, "doc_id", "chosen", "rejected").orderBy(col("doc_id"))
    },
      // same pair synthesis; distinct-word Jaccard via list_distinct +
      // membership filter, the same \s+ tokenizer
      s"""WITH $DuckPrefPairs
        |SELECT doc_id, chosen_tokens, rejected_tokens,
        |  chosen_tokens - rejected_tokens AS len_delta,
        |  CAST(CASE WHEN chosen_tokens - rejected_tokens > 0 THEN 1 ELSE 0 END AS BIGINT) AS chosen_longer,
        |  identical,
        |  CAST(CASE WHEN uni = 0 THEN 0 ELSE (10000 * inter) // uni END AS BIGINT) AS overlap_bp
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("pref_best_of_n", 1.29, (s, dir) => {
      // rejection sampling (best-of-n) pair building: four deterministic
      // candidate "completions" per prompt (10/40/70/100% prefix slices —
      // the planted quality gradient), each scored by the SAME integer
      // quality gate the curation family pins; chosen = best, rejected =
      // worst (index tie-breaks), kept at margin >= 10. One explode +
      // ONE struct-max aggregate — no window, no join
      val cands = Tables.documents(s, dir).select(col("doc_id"), explode(expr(
        "transform(sequence(0, 3), j -> struct(CAST(j AS BIGINT) AS cand, " +
          "substring(text, 1, CAST(greatest(1L, (length(text) * (1 + 3 * j)) div 10) AS INT)) AS ctext))"))
        .as("c"))
        .select((col("doc_id") * 4 + col("c.cand")).as("_ck"), col("c.ctext").as("ctext"))
      val scored = graft.ops.TextAnalysis.quality(cands, "_ck", "ctext")
        .select(expr("_ck div 4").as("doc_id"), expr("_ck % 4").as("cand"),
          col("quality_score"))
      graft.ops.Chat.bestOfN(scored, "doc_id", "cand", "quality_score", minMargin = 10L)
        .orderBy(col("doc_id"))
    },
      // same prefix-slice candidates, the curation quality score verbatim
      // (the DuckQualityScore arithmetic over candidates), best/worst by
      // the two deterministic orderings, margin gate at 10
      """WITH c0 AS (SELECT doc_id, unnest(range(0, 4)) AS cand, text FROM documents),
        |c AS (SELECT doc_id, cand,
        |    substring(text, 1, CAST(greatest(1, (length(text) * (1 + 3 * cand)) // 10) AS INT)) AS ct
        |  FROM c0),
        |n AS (SELECT doc_id, cand, trim(regexp_replace(ct, '\s+', ' ', 'g')) AS t FROM c),
        |m AS (SELECT doc_id, cand, CAST(length(t) AS BIGINT) AS nc,
        |    string_split(lower(t), ' ') AS toks FROM n),
        |q AS (SELECT doc_id, cand, nc, CAST(len(toks) AS BIGINT) AS nt,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that'], x))) AS BIGINT) AS stop
        |  FROM m),
        |sc AS (SELECT doc_id, cand,
        |    least(40, nt // 4)
        |      + (CASE WHEN (10000 * stop) // nt BETWEEN 200 AND 6000 THEN 30 ELSE 0 END)
        |      + (CASE WHEN (1000 * (nc - (nt - 1))) // nt BETWEEN 2500 AND 9000 THEN 30 ELSE 0 END) AS score
        |  FROM q),
        |r AS (SELECT doc_id, cand, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rb,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score ASC, cand DESC) AS rw,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS ncand
        |  FROM sc),
        |b AS (SELECT doc_id, CAST(ncand AS BIGINT) AS n_cands,
        |    CAST(cand AS BIGINT) AS chosen_cand, CAST(score AS BIGINT) AS chosen_score
        |  FROM r WHERE rb = 1),
        |w AS (SELECT doc_id, CAST(cand AS BIGINT) AS rejected_cand,
        |    CAST(score AS BIGINT) AS rejected_score FROM r WHERE rw = 1)
        |SELECT b.doc_id, n_cands, chosen_cand, chosen_score, rejected_cand, rejected_score,
        |  chosen_score - rejected_score AS margin,
        |  CAST(CASE WHEN chosen_score - rejected_score >= 10 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM b JOIN w USING (doc_id) ORDER BY b.doc_id""".stripMargin),
    Query("pref_bias_card", 0.789, (s, dir) => {
      // the one-row DPO governance card over the same synthesized pairs:
      // identical/chosen-longer/near-identical shares in bp plus the
      // signed token-delta sum
      val pairs = Tables.documents(s, dir).select(col("doc_id"),
        expr("substring(text, 1, CAST((3 * length(text)) div 5 AS INT))").as("chosen"),
        expr("""CASE WHEN doc_id % 13 = 0 THEN substring(text, 1, CAST((3 * length(text)) div 5 AS INT))
               |     WHEN doc_id % 17 = 0 THEN ''
               |     ELSE substring(text, CAST((2 * length(text)) div 5 AS INT) + 1, CAST(length(text) AS INT)) END""".stripMargin).as("rejected"))
      Chat.prefBiasCard(pairs, "doc_id", "chosen", "rejected")
    },
      // shared pair CTEs; the same per-pair columns folded to one row
      s"""WITH $DuckPrefPairs,
        |q AS (SELECT doc_id, chosen_tokens, rejected_tokens, identical,
        |    chosen_tokens - rejected_tokens AS len_delta,
        |    CASE WHEN chosen_tokens - rejected_tokens > 0 THEN 1 ELSE 0 END AS chosen_longer,
        |    CASE WHEN uni = 0 THEN 0 ELSE (10000 * inter) // uni END AS overlap_bp
        |  FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST((10000 * sum(identical)) // count(*) AS BIGINT) AS identical_bp,
        |  CAST((10000 * sum(chosen_longer)) // count(*) AS BIGINT) AS chosen_longer_bp,
        |  CAST(sum(len_delta) AS BIGINT) AS len_delta_sum,
        |  CAST((10000 * sum(CASE WHEN overlap_bp >= 8000 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS high_overlap_bp
        |FROM q""".stripMargin),
    Query("code_fim", 0.378, (s, dir) =>
      // fill-in-middle at FIM-rate 1/2 over the corpus: PSM reframing at
      // the third offsets, md5-pinned output text
      TextAnalysis.fimTransform(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      // same third-offset integer arithmetic and PSM frame; md5 over the
      // reframed text
      """WITH m AS (SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) AS BIGINT) // 3 AS p1,
        |    (2 * CAST(length(text) AS BIGINT)) // 3 AS p2,
        |    CASE WHEN doc_id % 2 = 0 AND length(text) >= 3 THEN 1 ELSE 0 END AS transformed
        |  FROM documents),
        |f AS (SELECT doc_id, transformed, n_chars,
        |    CASE WHEN transformed = 1
        |      THEN '<|fim_pre|>' || substring(text, 1, CAST(p1 AS INT))
        |        || '<|fim_suf|>' || substring(text, CAST(p2 AS INT) + 1, CAST(n_chars - p2 AS INT))
        |        || '<|fim_mid|>' || substring(text, CAST(p1 AS INT) + 1, CAST(p2 - p1 AS INT))
        |      ELSE text END AS fim_text
        |  FROM m)
        |SELECT doc_id, CAST(transformed AS BIGINT) AS transformed, n_chars,
        |  CAST(length(fim_text) AS BIGINT) AS fim_chars, md5(fim_text) AS fim_md5
        |FROM f ORDER BY doc_id""".stripMargin),
    Query("text_novelty", 1.568, (s, dir) => {
      // per-doc novelty of the %3 batch against the rest of the corpus as
      // reference: distinct 8-gram fingerprints, one corpus-wide reference
      // distinct, fingerprint-keyed left join — planted dups score low,
      // fresh text scores 10000
      val docs = Tables.documents(s, dir)
      Dedup.ngramNovelty(
        docs.filter(col("doc_id") % 3 === 0), docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    },
      // same shingle + md5-prefix fingerprint replay as source_overlap,
      // split %3 batch vs rest, LEFT JOIN for the seen flag
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
        |         THEN list_transform(range(0, len(toks) - 7), i -> array_to_string(toks[i+1:i+8], ' '))
        |         ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t),
        |gh AS (SELECT DISTINCT doc_id, CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS hv FROM sh),
        |bg AS (SELECT doc_id, hv FROM gh WHERE doc_id % 3 = 0),
        |rg AS (SELECT DISTINCT hv FROM gh WHERE doc_id % 3 <> 0),
        |j AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |        CAST(SUM(CASE WHEN rg.hv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        |      FROM bg LEFT JOIN rg ON bg.hv = rg.hv GROUP BY 1)
        |SELECT doc_id, n_grams, n_seen,
        |  CAST((10000 * (n_grams - n_seen)) // n_grams AS BIGINT) AS novel_bp
        |FROM j ORDER BY doc_id""".stripMargin),
    Query("text_code_filters", 1.818, (s, dir) => {
      // StarCoder-family code gates over a deterministically code-ified
      // corpus (the plant discipline): %23 gains a 1200-char line (max
      // line gate), %29 an 80-char base64 blob run, %31 an auto-generated
      // header (case-folded marker scan), %3 is newline-chunked into
      // code-shaped short lines so the pass gate fires on real rows
      val docs = Tables.documents(s, dir).withColumn("text", expr(
        """CASE WHEN doc_id % 23 = 0 THEN concat(text, chr(10), repeat('x', 1200))
          |     WHEN doc_id % 29 = 0 THEN concat(text, chr(10), repeat('QUJDRA==', 10))
          |     WHEN doc_id % 31 = 0 THEN concat('// AUTO-GENERATED. DO NOT EDIT.', chr(10), text)
          |     WHEN doc_id % 3 = 0 THEN replace(text, ' ', chr(10))
          |     ELSE text END""".stripMargin))
      TextAnalysis.codeFilters(docs, "doc_id", "text").orderBy(col("doc_id"))
    },
      // same plants, same alphabet classes, same floor divisions; counts
      // via len(regexp_extract_all(...)) — the engines' shared idiom
      """WITH synth AS (SELECT doc_id,
        |    CASE WHEN doc_id % 23 = 0 THEN text || chr(10) || repeat('x', 1200)
        |         WHEN doc_id % 29 = 0 THEN text || chr(10) || repeat('QUJDRA==', 10)
        |         WHEN doc_id % 31 = 0 THEN '// AUTO-GENERATED. DO NOT EDIT.' || chr(10) || text
        |         WHEN doc_id % 3 = 0 THEN replace(text, ' ', chr(10))
        |         ELSE text END AS t
        |  FROM documents),
        |c AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines,
        |             CAST(length(t) AS BIGINT) AS n_chars FROM synth),
        |m AS (SELECT doc_id, n_chars,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(coalesce(list_max(list_transform(lines, l -> length(l))), 0) AS BIGINT) AS max_line_len,
        |    CAST(list_sum(list_transform(lines, l -> length(l))) // len(lines) AS BIGINT) AS avg_line_len,
        |    CAST(CASE WHEN length(t) = 0 THEN 0
        |      ELSE (10000 * len(regexp_extract_all(t, '[A-Za-z0-9]'))) // length(t) END AS BIGINT) AS alnum_bp,
        |    CAST(len(regexp_extract_all(t, '[A-Za-z0-9+/=]{64,}')) AS BIGINT) AS n_blobs,
        |    CAST(CASE WHEN contains(lower(t), 'auto-generated')
        |      OR contains(lower(t), 'do not edit') THEN 1 ELSE 0 END AS BIGINT) AS autogen
        |  FROM c)
        |SELECT doc_id, n_lines, n_chars, max_line_len, avg_line_len, alnum_bp, n_blobs, autogen,
        |  CAST(CASE WHEN max_line_len <= 1000 AND avg_line_len <= 100 AND alnum_bp >= 2500
        |    AND n_blobs = 0 AND autogen = 0 THEN 1 ELSE 0 END AS BIGINT) AS code_pass
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("text_collocations", 1.53, (s, dir) =>
      // phrase-mining table: top-20 adjacent pairs by discounted integer
      // PMI score — ranks replay exactly because the score is a single
      // floor division in the shared (count · N · 10^4) domain
      TextAnalysis.collocations(Tables.documents(s, dir), "text"),
      // same tokenizer fragment as ngram_topk, same δ=1 discount and
      // minCount=5 gate, same floor-division score domain
      """WITH t AS (SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |u AS (SELECT unnest(toks) AS w FROM t),
        |uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tokens FROM uc),
        |bi AS (SELECT unnest(generate_series(1, len(toks) - 1)) AS i, toks FROM t WHERE len(toks) >= 2),
        |b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM bi),
        |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM b GROUP BY 1, 2),
        |s AS (SELECT w1, w2, n_pair, u1.n AS n_w1, u2.n AS n_w2,
        |        CAST(((n_pair - 1) * n_tokens * 10000) // (u1.n * u2.n) AS BIGINT) AS score_q
        |      FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w, tot
        |      WHERE n_pair >= 5)
        |SELECT w1, w2, n_pair, n_w1, n_w2, score_q FROM s
        |ORDER BY score_q DESC, w1, w2 LIMIT 20""".stripMargin),
    Query("text_lm_score", 2.148, (s, dir) =>
      // CCNet-tier fluency scoring: self-trained bigram LM, integer
      // conditional-probability mean (log-free for cross-engine replay)
      TextAnalysis.lmScore(Tables.documents(s, dir), "doc_id", "text").orderBy(col("doc_id")),
      // self-trained bigram LM replay: same tokenizer, same integer
      // Laplace-smoothed arithmetic (10000·(c2+1) // (c1+V), integer mean)
      s"""WITH ${duckLmCtes("documents")}
        |SELECT doc_id, n_bigrams, lm_bp FROM lms ORDER BY 1""".stripMargin),
    Query("text_lm_kn", 3.014, (s, dir) =>
      // the KenLM-family smoothing beside the Laplace tier: interpolated
      // Kneser–Ney with the canonical d = 3/4 carried as an exact
      // rational — continuation probability is the signal Laplace can't
      // express; same pinned one-scan bigram stream, integer bp replay
      TextAnalysis.lmScoreKneserNey(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      // interpolated Kneser–Ney replay: ×4 clears the 3/4 discount, the
      // backoff composes two bp-bounded integer factors (overflow-safe at
      // any corpus size), lc2 doubles as the bigram-count relation
      s"""WITH ${duckLmCtes("documents")},
        |knc1 AS (SELECT w1, COUNT(*) AS n1, COUNT(DISTINCT w2) AS nl FROM lbg2 GROUP BY 1),
        |knnr AS (SELECT w2, COUNT(DISTINCT w1) AS nr FROM lbg2 GROUP BY 1),
        |knb AS (SELECT COUNT(*) AS nb FROM (SELECT DISTINCT w1, w2 FROM lbg2)),
        |knp AS (SELECT w1, w2,
        |    (10000 * greatest(4 * n2 - 3, 0)) // (4 * n1)
        |    + ((10000 * 3 * nl) // (4 * n1)) * ((10000 * nr) // nb) // 10000 AS kn_bp
        |  FROM lc2 JOIN knc1 USING (w1) JOIN knnr USING (w2), knb),
        |kms AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(kn_bp) // COUNT(*) AS BIGINT) AS kn_bp
        |  FROM lbg2 JOIN knp USING (w1, w2) GROUP BY 1)
        |SELECT doc_id, n_bigrams, kn_bp FROM kms ORDER BY 1""".stripMargin),
    Query("text_gopher_rules", 1.558, (s, dir) => {
      // Gopher rule battery (rule booleans as 0/1 for hash-stable parity)
      val rules = Seq("r_word_count", "r_word_len", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop", "gopher_pass")
      rules.foldLeft(
        TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text")) {
          (d, c) => d.withColumn(c, col(c).cast("long"))
        }.orderBy(col("doc_id"))
    },
      // rule-by-rule integer replay of the Gopher battery; line rules
      // split the RAW text on newlines, word rules the collapsed form
      s"""WITH ${duckGopherMetrics("documents")}
        |SELECT doc_id, n_words, word_len_milli, symbol_bp, bullet_bp, ellipsis_bp, alpha_bp, stop_hits,
        |  CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS r_word_count,
        |  CAST(word_len_milli BETWEEN 3000 AND 10000 AS BIGINT) AS r_word_len,
        |  CAST(symbol_bp <= 1000 AS BIGINT) AS r_symbol,
        |  CAST(bullet_bp <= 9000 AS BIGINT) AS r_bullet,
        |  CAST(ellipsis_bp <= 3000 AS BIGINT) AS r_ellipsis,
        |  CAST(alpha_bp >= 8000 AS BIGINT) AS r_alpha,
        |  CAST(stop_hits >= 2 AS BIGINT) AS r_stop,
        |  CAST(n_words BETWEEN 50 AND 100000 AND word_len_milli BETWEEN 3000 AND 10000
        |    AND symbol_bp <= 1000 AND bullet_bp <= 9000 AND ellipsis_bp <= 3000
        |    AND alpha_bp >= 8000 AND stop_hits >= 2 AS BIGINT) AS gopher_pass
        |FROM gm ORDER BY doc_id""".stripMargin),
    Query("mix_ccnet", 2.703, (s, dir) => {
      // CCNet's head/middle/tail mixture (Wenzek et al. 2019 §4.3): per
      // source, tertile buckets of the LM fluency score — head = the most
      // fluent third of THAT source's distribution (per-source nearest-
      // rank thresholds, not one global bar). Downstream mixing samples
      // the buckets at different rates; this row pins the assignment.
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"), col("source"))
        .join(TextAnalysis.lmScore(docs, "doc_id", "text")
          .select(col("doc_id"), col("lm_bp")), "doc_id")
      val th = graft.ops.Stats.quantilesDisc(scored, Seq("source"),
        col("lm_bp"), Seq(3333, 6667))
        .groupBy(col("source")).agg(
          max(when(col("q_bp") === 3333, col("value"))).as("t33"),
          max(when(col("q_bp") === 6667, col("value"))).as("t66"))
      scored.join(th, "source")
        .withColumn("bucket",
          when(col("lm_bp") > col("t66"), lit("head"))
            .when(col("lm_bp") > col("t33"), lit("middle"))
            .otherwise(lit("tail")))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("lm_bp")).as("min_bp"), max(col("lm_bp")).as("max_bp"))
        .orderBy(col("source"), col("bucket"))
    },
      // LM fragment + the stats_quantiles nearest-rank pattern at 3333/
      // 6667 bp, tertile assignment replayed with the same > tie rule
      s"""WITH ${duckLmCtes("documents")},
        |j AS (SELECT d.source, d.doc_id, lms.lm_bp FROM documents d JOIN lms USING (doc_id)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY lm_bp) AS rn, COUNT(*) OVER (PARTITION BY source) AS n FROM j),
        |th AS (SELECT source,
        |        MAX(CASE WHEN rn = (n * 3333 + 9999) // 10000 THEN lm_bp END) AS t33,
        |        MAX(CASE WHEN rn = (n * 6667 + 9999) // 10000 THEN lm_bp END) AS t66
        |       FROM r GROUP BY source),
        |b AS (SELECT j.source, CASE WHEN j.lm_bp > th.t66 THEN 'head' WHEN j.lm_bp > th.t33 THEN 'middle' ELSE 'tail' END AS bucket, j.lm_bp
        |      FROM j JOIN th USING (source))
        |SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n, MIN(lm_bp) AS min_bp, MAX(lm_bp) AS max_bp
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("curation_dsir", 1.219, (s, dir) => {
      // DSIR importance resampling (Xie et al. 2023): hashed-bigram
      // target-vs-raw likelihood ratios in the exact fixed-point log2
      // domain; top-100 raw documents most target-like. Two corpus
      // passes, both aggregating into constant-size key spaces (8192
      // buckets, then doc ids); the weight table broadcast-joins.
      val docs = Tables.documents(s, dir)
      val scored = graft.ops.Dsir.importanceScores(docs, "doc_id", "text",
        col("source").isin(DsirTargetSources: _*))
      graft.ops.Dsir.selectTop(scored, "doc_id", 100).orderBy(col("sel_rank"))
    },
      // full DSIR replay (one generator serves this and the incremental
      // row): same tokenizer, same seeded md5 buckets, and the SAME
      // generated fixed-point-log2 fragment (ilog2qSql) for the Laplace
      // ratio weights — only the shift spelling differs by dialect, so
      // every score is an integer both engines agree on
      duckDsirSql(corpusPred = "TRUE", scorePred = "TRUE", k = 100)),
    Query("classify_nb", 2.444, (s, dir) => {
      // the classifier tier of the curation stack: multinomial Naive
      // Bayes (log-prior + likelihood, all exact-integer log2) over
      // hashed bigrams — bounded state (classes × 8192 counts + one doc
      // count per class). The held-out slice is the md5-bucket 20% — the
      // %5 slice the other incremental rows use is CONFOUNDED with the
      // class here (testdata's source ≡ doc_id mod 20), which would put
      // every held-out class entirely outside training.
      val docs = Tables.documents(s, dir)
      val held = graft.ops.Sampling.hashBucketBp(col("doc_id")) < 2000
      val trainSlice = docs.filter(!held)
      val model = graft.ops.NaiveBayes.train(trainSlice, "source", "text")
      val priors = graft.ops.NaiveBayes.trainPriors(trainSlice, "source")
      graft.ops.NaiveBayes.confusion(model, priors,
        docs.filter(held), "doc_id", "source", "text")
        .orderBy(col("source"), col("predicted"))
    },
      // full NB replay: same tokenizer/buckets as the DSIR family, same
      // ilog2q prior/weights (hit-only sum + per-bigram normalizer), same
      // (score desc, class) argmax tie rule, same md5 20%% held-out rule
      s"""WITH $DuckNbScoreCtes,
        |pred AS (SELECT doc_id, source, cls AS predicted FROM (
        |    SELECT sc.*, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, cls) AS rn FROM sc) WHERE rn = 1)
        |SELECT source, predicted, COUNT(*) AS n FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("classify_nb_pr", 2.444, (s, dir) => {
      // classifier CALIBRATION: the one-vs-rest margin threshold sweep
      // for class src7 over the same held-out slice — per score band the
      // cumulative tp/fp and precision/recall in bp, i.e. the table a
      // production filter's threshold is actually chosen from
      val docs = Tables.documents(s, dir)
      val held = graft.ops.Sampling.hashBucketBp(col("doc_id")) < 2000
      val trainSlice = docs.filter(!held)
      val model = graft.ops.NaiveBayes.train(trainSlice, "source", "text")
      val priors = graft.ops.NaiveBayes.trainPriors(trainSlice, "source")
      graft.ops.NaiveBayes.prCurve(model, priors, docs.filter(held),
        "doc_id", "source", "text", targetClass = "src7", bandWidth = 4096L)
        .orderBy(col("band"))
    },
      // same scoring chain, then the one-vs-rest margin sweep: explicit
      // floor banding (non-negative div operands only — Spark div
      // truncates, DuckDB // floors), cumulative tp/fp from the top band
      s"""WITH $DuckNbScoreCtes,
        |marg AS (SELECT doc_id,
        |    MAX(CASE WHEN cls = 'src7' THEN score_q END) AS sc_t,
        |    MAX(CASE WHEN cls <> 'src7' THEN score_q END) AS sc_o,
        |    MAX(CASE WHEN source = 'src7' THEN 1 ELSE 0 END) AS pos
        |  FROM sc GROUP BY 1),
        |mb AS (SELECT doc_id, pos, sc_t - sc_o AS m FROM marg WHERE sc_t IS NOT NULL AND sc_o IS NOT NULL),
        |bnd AS (SELECT CASE WHEN m >= 0 THEN m // 4096 ELSE -(((-m) + 4095) // 4096) END AS band,
        |          CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(1 - pos) AS BIGINT) AS n_neg
        |        FROM mb GROUP BY 1),
        |prt AS (SELECT CAST(SUM(pos) AS BIGINT) AS np FROM mb),
        |cum AS (SELECT band, CAST(SUM(n_pos) OVER (ORDER BY band DESC) AS BIGINT) AS tp,
        |          CAST(SUM(n_neg) OVER (ORDER BY band DESC) AS BIGINT) AS fp FROM bnd)
        |SELECT band, band * 4096 AS threshold_q, tp, fp,
        |  CAST(10000 * tp // (tp + fp) AS BIGINT) AS precision_bp,
        |  CAST(10000 * tp // greatest(np, 1) AS BIGINT) AS recall_bp
        |FROM cum, prt ORDER BY band""".stripMargin),
    Query("dsir_incremental", 0.695, (s, dir) => {
      // the crawl-increment form of curation_dsir: weights built ONCE
      // over the persisted corpus slice (bench prep amortizes it, same
      // as the minhash/IVF artifacts), each new batch scored against the
      // broadcast ≤8192-row model — zero corpus-side work per increment
      val t = ensureDsirWeights(s, dir)
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      val scored = graft.ops.Dsir.scoreWith(
        graft.ops.Dsir.readWeights(s, t), batch, "doc_id", "text")
      graft.ops.Dsir.selectTop(scored, "doc_id", 100).orderBy(col("sel_rank"))
    },
      // weights from the corpus slice only, scores over the batch slice —
      // batch buckets unseen at weight time contribute the 0 prior (LEFT
      // JOIN + coalesce, matching scoreWith)
      duckDsirSql(corpusPred = "doc_id % 5 <> 0", scorePred = "doc_id % 5 = 0", k = 100),
      // the increment-scoring probe amortizes the persisted weight table
      prep = Some(ensureDsirWeights(_, _))),
    Query("text_c4_lines", 2.063, (s, dir) => {
      // C4 page/line heuristics (map-only array-expression pass). The
      // synthetic corpus is single-line prose with no sentence
      // punctuation, so the rules would be degenerate on it; like the
      // multimodal rows, the query derives a deterministic lined
      // rendition in BOTH engines — 8-word sentences, a lorem-ipsum
      // header on doc_id%17, a javascript/brace line on doc_id%13 — so
      // every rule's effect lands in the oracle hash.
      val lined0 = array_join(transform(
        sequence(lit(0L), expr("(size(split(text, ' ')) + 7) div 8 - 1")),
        g => concat(array_join(
          slice(split(col("text"), " "), g * 8 + 1, lit(8)), " "), lit("."))), "\n")
      val lined1 = when(col("doc_id") % 17 === 0,
        concat(lit("lorem ipsum dolor sit amet.\n"), lined0)).otherwise(lined0)
      val lined2 = when(col("doc_id") % 13 === 0,
        concat(lined1, lit("\nif (x) { console.log(x); }"))).otherwise(lined1)
      TextAnalysis.c4Lines(
        Tables.documents(s, dir).select(col("doc_id"), lined2.as("text")),
        "doc_id", "text")
        .withColumn("c4_kept", col("c4_kept").cast("long"))
        .orderBy(col("doc_id"))
    },
      // same deterministic lined synthesis (8-word sentences + keyed
      // injections), then the C4 line/page rules as list expressions
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |lined AS (SELECT doc_id,
        |   array_to_string(list_transform(generate_series(0, (len(toks)+7)//8 - 1),
        |     g -> array_to_string(list_slice(toks, g*8+1, g*8+8), ' ') || '.'), chr(10)) AS l0
        |  FROM base),
        |synth AS (SELECT doc_id,
        |   CASE WHEN doc_id % 13 = 0 THEN l1 || chr(10) || 'if (x) { console.log(x); }' ELSE l1 END AS text
        |  FROM (SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN 'lorem ipsum dolor sit amet.' || chr(10) || l0 ELSE l0 END AS l1 FROM lined)),
        |c4 AS (SELECT doc_id,
        |        list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines,
        |        contains(text, '{') AS has_brace,
        |        contains(lower(text), 'lorem ipsum') AS has_lorem
        |      FROM synth),
        |k AS (SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
        |        list_filter(lines, l -> regexp_matches(l, '[.!?"]$') AND len(regexp_extract_all(l, '\S+')) >= 5
        |          AND NOT contains(lower(l), 'javascript')) AS kept_lines,
        |        has_brace, has_lorem FROM c4)
        |SELECT doc_id, n_lines, CAST(len(kept_lines) AS BIGINT) AS n_kept_lines,
        |  array_to_string(kept_lines, chr(10)) AS clean_text,
        |  CAST(len(kept_lines) >= 3 AND NOT has_brace AND NOT has_lorem AS BIGINT) AS c4_kept
        |FROM k ORDER BY doc_id""".stripMargin),
    Query("curation_rules", 4.359, (s, dir) => {
      // rule-first curation as ONE job: Gopher battery (corpus-tuned
      // subset — the 8-word stop-list rule is off for this synthetic
      // corpus, minWords relaxed to 20) → self-trained LM fluency floor
      // (>= the observed corpus median ≈335 bp; the LM trains on the
      // GATED corpus, so the gate shifts the scores — the oracle replays
      // the same ordering) → exact-dup removal keep-first → per-source
      // cap of 25. The gated set is pinned once and feeds the LM's
      // bigram pass, the dedup hash, and the final projection.
      val docs = Tables.documents(s, dir)
      val gate = TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 20L)
        .filter(col("r_word_count") && col("r_word_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha"))
        .select(col("doc_id"))
      val gated = Pin(docs.join(gate, "doc_id"))
      val scored = TextAnalysis.lmScore(gated, "doc_id", "text")
        .filter(col("lm_bp") >= 335L).select(col("doc_id"), col("lm_bp"))
      val kept = gated.join(scored, "doc_id")
      val keepers = graft.ops.Dedup.exact(kept, "doc_id", "text")
        .filter(col("is_dup") === 0).select(col("doc_id"))
      graft.ops.Sampling.capPerKey(
        kept.join(keepers, "doc_id").select(col("doc_id"), col("source"), col("lm_bp")),
        "source", "doc_id", maxPerKey = 25)
        .orderBy(col("doc_id"))
    },
      // the composed rule-first replay: Gopher metrics gate (stop rule
      // off, minWords 20) → LM fragment RE-TARGETED at the gated CTE
      // (self-trained scores shift with the gate, both engines) → exact-
      // dup keep-first → the quota_per_source basis-point cap replay
      s"""WITH ${duckGopherMetrics("documents")},
        |gok AS (SELECT doc_id FROM gm WHERE n_words BETWEEN 20 AND 100000 AND word_len_milli BETWEEN 3000 AND 10000
        |        AND symbol_bp <= 1000 AND bullet_bp <= 9000 AND ellipsis_bp <= 3000 AND alpha_bp >= 8000),
        |gated AS (SELECT d.* FROM documents d JOIN gok USING (doc_id)),
        |${duckLmCtes("gated")},
        |scored AS (SELECT doc_id, lm_bp FROM lms WHERE lm_bp >= 335),
        |kept AS (SELECT g.doc_id, g.source, g.text, s.lm_bp FROM gated g JOIN scored s USING (doc_id)),
        |dd AS (SELECT doc_id FROM (SELECT doc_id, CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS is_dup FROM kept) WHERE is_dup = 0),
        |r AS (SELECT k.doc_id, k.source, k.lm_bp,
        |        row_number() OVER (PARTITION BY k.source ORDER BY CAST('0x' || substring(md5(coalesce(CAST(k.doc_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000, k.doc_id) AS rn
        |      FROM kept k JOIN dd USING (doc_id))
        |SELECT doc_id, source, lm_bp FROM r WHERE rn <= 25 ORDER BY doc_id""".stripMargin)
  )
}
