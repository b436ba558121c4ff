package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.{Dedup, TextAnalysis}
import graft.vector.VectorOps
import graft.catalog.Artifacts._
import graft.catalog.Duck._
import org.apache.spark.sql.graft.Pin

/** Dedup family: exact, minhash, simhash, semantic and incremental
  * near-dedup and contamination, plus the lexical search and eval rows that
  * share its indexes. */
object DedupQueries {

  /** The dedup_semantic oracle, threshold-parameterized (2500 = the recall
    * spot-check row, 8500 = the production posture): the IVF
    * coarse-training replay (shared fragment: same seeds, two Lloyd
    * rounds, same tie rule) supplies asn3; pairs within a shared cell
    * verify by the same fixed-order cosine fold; components over the
    * confirmed pairs replay as a recursive CTE (the dedup_clusters
    * pattern); the shared quality replay picks the representative. */
  private def duckSemanticSql(thresholdBp: Long, limitSql: String = "8"): String =
    s"""WITH RECURSIVE ${duckIvfTrainCtes(limitSql = limitSql)},
      |sem_pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM asn3 a JOIN asn3 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      |${duckSemanticTail(thresholdBp)}""".stripMargin

  /** Shared verify → components → keep-best tail of the semantic-dedup
    * oracles: consumes a `sem_pairs(id_a, id_b)` CTE, ends with the final
    * SELECT. Lives once so the flat and hierarchical replays cannot
    * drift. */
  private def duckSemanticTail(thresholdBp: Long): String =
    s"""sem_dup AS (SELECT p.id_a, p.id_b
      |  FROM sem_pairs p JOIN embeddings ea ON ea.vec_id = p.id_a
      |                   JOIN embeddings eb ON eb.vec_id = p.id_b
      |  WHERE CAST(floor(${duckCosine("ea.embedding", "eb.embedding")} * 10000) AS BIGINT) >= $thresholdBp),
      |sedges AS (SELECT id_a AS src, id_b AS dst FROM sem_dup
      |           UNION SELECT id_b, id_a FROM sem_dup),
      |sreach(node, lbl) AS (
      |  SELECT src, src FROM sedges
      |  UNION
      |  SELECT e.src, r.lbl FROM sedges e JOIN sreach r ON e.dst = r.node),
      |scc AS (SELECT node, MIN(lbl) AS cluster_id FROM sreach GROUP BY node),
      |slab AS (SELECT em.vec_id, coalesce(c.cluster_id, em.vec_id) AS cluster_id
      |         FROM embeddings em LEFT JOIN scc c ON em.vec_id = c.node),
      |ssz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM slab GROUP BY 1),
      |$DuckQualityScore,
      |srep AS (SELECT l.cluster_id, l.vec_id, s.cluster_size, q.score,
      |           row_number() OVER (PARTITION BY l.cluster_id ORDER BY q.score DESC, l.vec_id) AS rn
      |         FROM slab l JOIN ssz s ON l.cluster_id = s.cluster_id
      |                     JOIN qsc q ON q.doc_id = l.vec_id)
      |SELECT cluster_id, vec_id AS rep_id, cluster_size, score AS quality_score
      |FROM srep WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** The dedup_semantic_scale oracle: the shared two-level chain, then
    * the shared semantic tail over pairs sharing a (super, child) cell. */
  private def duckSemanticScaleSql(thresholdBp: Long, k2Sql: String): String =
    s"""WITH RECURSIVE ${duckHierCellCtes(k2Sql)},
      |sem_pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM hcell a JOIN hcell b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
      |${duckSemanticTail(thresholdBp)}""".stripMargin

  /** The embed_neardup oracle family: full replay of the LSH blocking +
    * exact-cosine verify — same ±1 md5-derived planes as ann_lsh (4
    * tables), bucket self-join for candidates, same floor(cosine·10000)
    * scoring, `thresholdBp` the verify band (2500 = recall spot-check,
    * 8500 = production). `autoBits` replays
    * [[graft.ops.Similarity.numBitsFor]] — width from COUNT(*) via
    * `least(48, greatest(4, ceil(log2(max(n/1000, 1)))))` — pinning the
    * auto-sizing path by hash equality; false pins the explicit 8-bit
    * shape. */
  private def duckEmbedNeardupSql(thresholdBp: Long, autoBits: Boolean): String = {
    val bits =
      if (autoBits)
        """(SELECT unnest(range(0, (SELECT CAST(least(48, greatest(4,
          |    CAST(ceil(log2(greatest(CAST(COUNT(*) AS DOUBLE) / 1000.0, 1.0))) AS INT))) AS INT)
          |  FROM embeddings))) AS b)""".stripMargin
      else "(SELECT unnest(range(0, 8)) AS b)"
    s"""WITH planes AS (
       |  SELECT t, b, list_transform(range(0, 64), i ->
       |    CASE WHEN CAST('0x' || substring(md5('42|' || t || '|' || b || '|' || i), 1, 1) AS INT) >= 8
       |         THEN 1.0 ELSE -1.0 END) AS w
       |  FROM (SELECT unnest(range(0, 4)) AS t), $bits),
       |proj AS (
       |  SELECT e.vec_id, p.t, p.b,
       |    list_sum(list_transform(range(0, 64), i -> p.w[i + 1] * (e.embedding[i + 1])::DOUBLE)) AS pr
       |  FROM embeddings e CROSS JOIN planes p),
       |sig AS (SELECT vec_id, t, CAST(SUM(CASE WHEN pr >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
       |        FROM proj GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |v AS (SELECT c.id_a, c.id_b,
       |        CAST(floor(${duckCosine("ea.embedding", "eb.embedding")} * 10000) AS BIGINT) AS sim_bp
       |      FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a JOIN embeddings eb ON eb.vec_id = c.id_b)
       |SELECT id_a, id_b, sim_bp FROM v WHERE sim_bp >= $thresholdBp
       |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(10000 AS BIGINT)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The eval_retrieval query battery: (query_id, phrase). Phrases are
    * picked to discriminate at sf0.01 (5 / 3 / 1 exact-phrase matches);
    * the card still emits one row per query when a phrase has zero
    * matches at a smaller SF (the zero-guard path). */
  private val RetrievalEvalQueries: Seq[(String, Seq[String])] = Seq(
    "q_fast_table_scan" -> Seq("fast", "table", "scan"),
    "q_small_query_line" -> Seq("small", "query", "line"),
    "q_spark_join_window" -> Seq("spark", "join", "window"))

  /** The dedup_semantic pipeline body, shared by the recall spot-check
    * threshold (0.25) and the production posture (0.85): IVF cells →
    * within-cell cosine verify at `thresholdBp` → connected components →
    * keep the best-quality representative per cluster. */
  private def semanticKeepBest(s: SparkSession, dir: String,
                               thresholdBp: Long, numClusters: Int = 8): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val pairs = Dedup.semanticNearDuplicates(emb, "vec_id", "embedding",
      numClusters = numClusters, iters = 2, thresholdBp = thresholdBp)
    semanticKeepBestFromPairs(s, dir, pairs)
  }

  /** The shared components → quality → keep-best downstream of every
    * semantic-dedup row (mirrors [[duckSemanticTail]]). */
  private def semanticKeepBestFromPairs(s: SparkSession, dir: String,
                                        pairs: DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val clustered = graft.ops.Components.clusterDocuments(
      emb, "vec_id", pairs, "id_a", "id_b")
    val scored = clustered.join(
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id").as("vec_id"), col("quality_score")), "vec_id")
    Dedup.keepBest(scored, "cluster_id", "vec_id", "quality_score")
      .select(col("cluster_id"), col("vec_id").as("rep_id"),
        col("cluster_size"), col("quality_score"))
      .orderBy(col("cluster_id"))
  }

  /** SimHash fingerprint CTE chain replaying Dedup.simhash bit-for-bit:
    * same md5-hex→(60-bit, 4-bit) token words, same ±1 per-bit fold, same
    * sign-bit assembly. `sim` is the full per-document relation (token-less
    * docs fingerprint 0, like the Spark side's left join). */
  private val DuckSimhashSim: String = {
    val sums = (0 until 64).map { b =>
      val bit = if (b < 60) s"(m1 >> $b) & 1" else s"(m2 >> ${b - 60}) & 1"
      s"SUM(CASE WHEN ($bit) = 1 THEN 1 ELSE -1 END) AS a$b"
    }.mkString(", ")
    val fpSql = (0 until 63).map(b => s"(CASE WHEN a$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ") + " + (CASE WHEN a63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END)"
    def bandSql(hi: Int): String =
      (0 until 16).map(j => s"(CASE WHEN a${hi + j} > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok FROM documents),
       |nz AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
       |h AS (SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS m1,
       |             CAST('0x' || substring(md5(tok), 17, 14) AS BIGINT) AS m2 FROM nz),
       |acc AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fpSql AS simhash,
       |         ${bandSql(48)} AS band0, ${bandSql(32)} AS band1,
       |         ${bandSql(16)} AS band2, ${bandSql(0)} AS band3 FROM acc),
       |sim AS (SELECT d.doc_id, CAST(coalesce(f.simhash, 0) AS BIGINT) AS simhash,
       |          CAST(coalesce(f.band0, 0) AS INT) AS band0, CAST(coalesce(f.band1, 0) AS INT) AS band1,
       |          CAST(coalesce(f.band2, 0) AS INT) AS band2, CAST(coalesce(f.band3, 0) AS INT) AS band3
       |        FROM documents d LEFT JOIN fp f ON d.doc_id = f.doc_id)""".stripMargin
  }

  private val DuckIncrementalSql: String =
    s"""WITH $DuckIncrementalCtes
      |SELECT new_id, corpus_id, (10000 * inter) // uni AS jaccard_bp FROM v WHERE (10000 * inter) // uni >= 100
      |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(10000 AS BIGINT)
      |ORDER BY new_id, corpus_id""".stripMargin

  val all: Seq[Query] = Seq(
    // the LSH oracle rows pin the UNCAPPED pair set (the DuckDB SQL models
    // no hot-band cap), so they pass maxBucket = Int.MaxValue explicitly;
    // library callers get the scale-safe Dedup.DefaultMaxBucket default
    Query("dedup_minhash", 1.649, (s, dir) =>
      Dedup.minhashCandidates(Tables.documents(s, dir), "doc_id", "text", k = 3, numHashes = 16,
        maxBucket = Int.MaxValue)
        .orderBy(col("doc_a"), col("doc_b")),
      s"""WITH $DuckMinhashPairs
        |SELECT doc_a, doc_b FROM mh_pairs ORDER BY 1, 2""".stripMargin),
    Query("dedup_neardup", 1.622, (s, dir) =>
      // LSH recall + exact-Jaccard confirm; low threshold so the synthetic
      // corpus (no true near-dups) still demonstrates verified scores, and
      // a sentinel row keeps the rows-only path alive if pairs are empty
      Dedup.nearDuplicates(Tables.documents(s, dir), "doc_id", "text", minJaccardBp = 100L,
        maxBucket = Int.MaxValue)
        .unionByName(s.range(1).select(lit(-1L).as("doc_a"), lit(-1L).as("doc_b"), lit(10000L).as("jaccard_bp")))
        .orderBy(col("doc_a"), col("doc_b")),
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
        |         THEN list_transform(generate_series(0, len(toks) - 3), i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
        |         ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t),
        |hashed AS (SELECT doc_id,
        |             CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS m1,
        |             CAST('0x' || substring(md5(shingle), 17, 14) AS BIGINT) AS m2 FROM sh),
        |seeds AS (SELECT doc_id, m1, m2, unnest(generate_series(0, 15)) AS seed FROM hashed),
        |sig AS (SELECT doc_id, seed, MIN(m1 + seed * m2) AS mh FROM seeds GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed // 2 AS band_idx,
        |            MAX(CASE WHEN seed % 2 = 0 THEN mh END) || '|' || MAX(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
        |          FROM sig GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list(DISTINCT m1) AS s, COUNT(DISTINCT m1) AS nsh FROM hashed GROUP BY 1),
        |v AS (SELECT c.doc_a, c.doc_b,
        |        CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
        |        CAST(sa.nsh + sb.nsh - len(list_intersect(sa.s, sb.s)) AS BIGINT) AS uni
        |      FROM cand c JOIN sets sa ON sa.doc_id = c.doc_a JOIN sets sb ON sb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, (10000 * inter) // uni AS jaccard_bp FROM v WHERE (10000 * inter) // uni >= 100
        |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(10000 AS BIGINT)
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("dedup_containment", 1.7, (s, dir) =>
      // containment-scored dedup (doc-inside-doc): same banded-minhash
      // candidates as dedup_neardup, but the verify emits BOTH Broder
      // containment (inter / min side) and Jaccard — asymmetric inclusion
      // that Jaccard dilutes scores full-strength here. Uncapped = the
      // oracle shape (the capped production default is pinned
      // result-invisible by dedup_neardup_capped for the shared stages)
      Dedup.ngramContainment(Tables.documents(s, dir), "doc_id", "text",
        minContainmentBp = 5000L, maxBucket = Int.MaxValue)
        .orderBy(col("doc_a"), col("doc_b")),
      s"""WITH $DuckMinhashPairs,
        |csets AS (SELECT doc_id, list_sort(list(DISTINCT m1)) AS s, COUNT(DISTINCT m1) AS n FROM hashed GROUP BY 1),
        |cv AS (SELECT p.doc_a, p.doc_b, len(list_intersect(sa.s, sb.s)) AS inter, sa.n AS na, sb.n AS nb
        |       FROM mh_pairs p JOIN csets sa ON sa.doc_id = p.doc_a JOIN csets sb ON sb.doc_id = p.doc_b)
        |SELECT doc_a, doc_b, CAST((10000 * inter) // least(na, nb) AS BIGINT) AS containment_bp,
        |       CAST((10000 * inter) // (na + nb - inter) AS BIGINT) AS jaccard_bp
        |FROM cv WHERE (10000 * inter) // least(na, nb) >= 5000
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("dedup_neardup_capped", 2.246, (s, dir) =>
      // the DEFAULT (capped) LSH path under the correctness gate: at these
      // SFs no band bucket approaches DefaultMaxBucket, so the capped
      // pipeline must produce EXACTLY the uncapped oracle's pairs — pinning
      // that the cap machinery (window count + filter) is result-invisible
      // when no bucket is hot, the everyday production case
      Dedup.nearDuplicates(Tables.documents(s, dir), "doc_id", "text", minJaccardBp = 100L)
        .unionByName(s.range(1).select(lit(-1L).as("doc_a"), lit(-1L).as("doc_b"), lit(10000L).as("jaccard_bp")))
        .orderBy(col("doc_a"), col("doc_b")),
        // the capped-DEFAULT pipeline must hash-match the uncapped oracle
        // verbatim when no bucket is hot — same SQL on purpose
      Catalog("dedup_neardup").oracle),
    Query("dedup_simhash", 0.677, (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text").orderBy(col("doc_id")),
      s"""$DuckSimhashSim
         |SELECT doc_id, simhash, band0, band1, band2, band3 FROM sim ORDER BY doc_id""".stripMargin),
    Query("dedup_simhash_pairs", 1.932, (s, dir) =>
      // union with a sentinel row so the rows-only check sees output even
      // when the corpus has no 16-bit-band collisions at this SF
      Dedup.simhashCandidates(Tables.documents(s, dir), "doc_id", "text", maxBucket = Int.MaxValue)
        .unionByName(s.range(1).select(lit(-1L).as("doc_a"), lit(-1L).as("doc_b")))
        .orderBy(col("doc_a"), col("doc_b")),
      s"""$DuckSimhashSim,
         |bands AS (SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM sim
         |          UNION ALL SELECT doc_id, 1, band1 FROM sim
         |          UNION ALL SELECT doc_id, 2, band2 FROM sim
         |          UNION ALL SELECT doc_id, 3, band3 FROM sim)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
         |ORDER BY doc_a, doc_b""".stripMargin),
    Query("dedup_jaccard", 4.533, (s, dir) => {
      // exact n-gram Jaccard VERIFICATION of simhash-LSH candidates — the
      // recall/precision split shaped for corpus scale: band equi-join
      // generates pairs, the candidate-pair overload scores exactly; no
      // all-pairs anywhere (the sampled crossJoin form survives only as
      // the spot-check tier in Dedup). Sentinel keeps rows>0 at tiny SFs
      // with no 16-bit band collisions.
      val docs = Tables.documents(s, dir)
      val cands = Dedup.simhashCandidates(docs, "doc_id", "text", maxBucket = Int.MaxValue)
      Dedup.ngramJaccard(cands, docs, "doc_id", "text", k = 3)
        .unionByName(s.range(1).select(lit(-1L).as("doc_a"), lit(-1L).as("doc_b"),
          lit(10000L).as("jaccard_bp")))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // simhash band candidates (same fragment as dedup_simhash_pairs)
      // verified by exact shingle-hash-set Jaccard — the candidate-pair
      // overload's replay; CTE names t2/sh2/hv2/sets2 avoid the fragment's
      // own toks/h
      s"""$DuckSimhashSim,
        |bands AS (SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM sim
        |          UNION ALL SELECT doc_id, 1, band1 FROM sim
        |          UNION ALL SELECT doc_id, 2, band2 FROM sim
        |          UNION ALL SELECT doc_id, 3, band3 FROM sim),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
        |t2 AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks2 FROM documents),
        |sh2 AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks2) >= 3
        |         THEN list_transform(generate_series(0, len(toks2) - 3), i -> array_to_string(list_slice(toks2, i + 1, i + 3), ' '))
        |         ELSE [array_to_string(toks2, ' ')] END) AS shingle FROM t2),
        |hv2 AS (SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h FROM sh2),
        |sets2 AS (SELECT doc_id, list(DISTINCT h) AS s, COUNT(DISTINCT h) AS nsh FROM hv2 GROUP BY doc_id)
        |SELECT c.doc_a, c.doc_b,
        |       (10000 * len(list_intersect(sa.s, sb.s))) // (sa.nsh + sb.nsh - len(list_intersect(sa.s, sb.s))) AS jaccard_bp
        |FROM cand c JOIN sets2 sa ON sa.doc_id = c.doc_a JOIN sets2 sb ON sb.doc_id = c.doc_b
        |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(10000 AS BIGINT)
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("contamination", 1.769, (s, dir) => {
      // decontamination sweep: corpus docs sharing 3-gram shingles with a
      // synthetic "benchmark" slice (every 97th doc)
      val docs = Tables.documents(s, dir)
      // bench side here is a corpus SLICE (grows with the corpus), so the
      // broadcast hint is off — shuffled hash join is the safe shape
      Dedup.ngramContamination(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = 3, minShared = 1L, broadcastBench = false)
        .orderBy(col("corpus_id"), col("bench_id"))
    },
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
        |         THEN list_transform(generate_series(0, len(toks) - 3), i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
        |         ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t),
        |h AS (SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS hv FROM sh),
        |c AS (SELECT DISTINCT doc_id AS corpus_id, hv FROM h WHERE doc_id % 97 <> 0),
        |b AS (SELECT DISTINCT doc_id AS bench_id, hv FROM h WHERE doc_id % 97 = 0)
        |SELECT c.corpus_id, b.bench_id, COUNT(*) AS n_shared
        |FROM c JOIN b ON c.hv = b.hv
        |GROUP BY 1, 2 HAVING COUNT(*) >= 1
        |ORDER BY 1, 2""".stripMargin),
    Query("contamination_semantic", 1.181, (s, dir) => {
      // paraphrase-level decontamination: the embedding-space analogue of
      // `contamination` — an eval item rephrased past any 3-gram overlap
      // still sits near its source in embedding space. Bench = every 23rd
      // vector (a corpus slice, so the broadcast hint is off, exactly the
      // `contamination` posture); 6-bit × 4-table sign-LSH blocks (a wider
      // net than near-dup's 8 bits — a missed contaminated doc costs more
      // than extra verify pairs), exact cosine >= 0.25 confirms. The
      // production gate runs BOTH this and the verbatim `contamination`
      // row; the union of flags governs.
      val emb = Tables.embeddings(s, dir)
      Dedup.semanticContamination(
        emb.filter(col("vec_id") % 23 =!= 0), emb.filter(col("vec_id") % 23 === 0),
        "vec_id", "embedding", dim = 64, thresholdBp = 2500L,
        numTables = 4, numBits = 6, broadcastBench = false)
        .orderBy(col("corpus_id"), col("bench_id"))
    },
      // full replay of the cross-side LSH blocking: same ±1 planes as the
      // embed_neardup family but 6 bits wide, candidate = bucket collision
      // between the %23 bench slice and the rest, exact-cosine verify
      s"""WITH planes AS (
        |  SELECT t, b, list_transform(range(0, 64), i ->
        |    CASE WHEN CAST('0x' || substring(md5('42|' || t || '|' || b || '|' || i), 1, 1) AS INT) >= 8
        |         THEN 1.0 ELSE -1.0 END) AS w
        |  FROM (SELECT unnest(range(0, 4)) AS t), (SELECT unnest(range(0, 6)) AS b)),
        |proj AS (
        |  SELECT e.vec_id, p.t, p.b,
        |    list_sum(list_transform(range(0, 64), i -> p.w[i + 1] * (e.embedding[i + 1])::DOUBLE)) AS pr
        |  FROM embeddings e CROSS JOIN planes p),
        |sig AS (SELECT vec_id, t, CAST(SUM(CASE WHEN pr >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
        |        FROM proj GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT c.vec_id AS corpus_id, bn.vec_id AS bench_id
        |         FROM sig c JOIN sig bn ON c.t = bn.t AND c.bucket = bn.bucket
        |         WHERE c.vec_id % 23 <> 0 AND bn.vec_id % 23 = 0),
        |v AS (SELECT corpus_id, bench_id,
        |        CAST(floor(${duckCosine("ea.embedding", "eb.embedding")} * 10000) AS BIGINT) AS sim_bp
        |      FROM cand c JOIN embeddings ea ON ea.vec_id = c.corpus_id JOIN embeddings eb ON eb.vec_id = c.bench_id)
        |SELECT corpus_id, bench_id, sim_bp FROM v WHERE sim_bp >= 2500
        |ORDER BY corpus_id, bench_id""".stripMargin),
    Query("contamination_semantic_auto", 1.052, (s, dir) => {
      // the production entry point after the scale sweep caught the fixed
      // 6-bit row super-linear (1.6-1.7/decade): width derived from the
      // corpus count (numBitsFor) keeps cross-side collision volume
      // ~linear as both sides grow; the DuckDB side computes the same
      // width from COUNT(*), so the auto-sizing is pinned by hash
      // equality, not documentation (the embed_neardup_auto precedent)
      val emb = Tables.embeddings(s, dir)
      Dedup.semanticContaminationAuto(
        emb.filter(col("vec_id") % 23 =!= 0), emb.filter(col("vec_id") % 23 === 0),
        "vec_id", "embedding", dim = 64, thresholdBp = 2500L,
        numTables = 4, targetBucketSize = 1000L, broadcastBench = false)
        .orderBy(col("corpus_id"), col("bench_id"))
    },
      // same replay with the width DERIVED in-oracle from the corpus-side
      // count (numBitsFor: least(48, greatest(4, ceil(log2(n/1000)))))
      s"""WITH planes AS (
        |  SELECT t, b, list_transform(range(0, 64), i ->
        |    CASE WHEN CAST('0x' || substring(md5('42|' || t || '|' || b || '|' || i), 1, 1) AS INT) >= 8
        |         THEN 1.0 ELSE -1.0 END) AS w
        |  FROM (SELECT unnest(range(0, 4)) AS t),
        |       (SELECT unnest(range(0, (SELECT CAST(least(48, greatest(4,
        |          CAST(ceil(log2(greatest(CAST(COUNT(*) AS DOUBLE) / 1000.0, 1.0))) AS INT))) AS INT)
        |        FROM embeddings WHERE vec_id % 23 <> 0))) AS b)),
        |proj AS (
        |  SELECT e.vec_id, p.t, p.b,
        |    list_sum(list_transform(range(0, 64), i -> p.w[i + 1] * (e.embedding[i + 1])::DOUBLE)) AS pr
        |  FROM embeddings e CROSS JOIN planes p),
        |sig AS (SELECT vec_id, t, CAST(SUM(CASE WHEN pr >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
        |        FROM proj GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT c.vec_id AS corpus_id, bn.vec_id AS bench_id
        |         FROM sig c JOIN sig bn ON c.t = bn.t AND c.bucket = bn.bucket
        |         WHERE c.vec_id % 23 <> 0 AND bn.vec_id % 23 = 0),
        |v AS (SELECT corpus_id, bench_id,
        |        CAST(floor(${duckCosine("ea.embedding", "eb.embedding")} * 10000) AS BIGINT) AS sim_bp
        |      FROM cand c JOIN embeddings ea ON ea.vec_id = c.corpus_id JOIN embeddings eb ON eb.vec_id = c.bench_id)
        |SELECT corpus_id, bench_id, sim_bp FROM v WHERE sim_bp >= 2500
        |ORDER BY corpus_id, bench_id""".stripMargin),
    Query("embed_neardup", 1.254, (s, dir) => {
      // embedding near-dup at corpus shape: sign-projection LSH buckets
      // (8 bits × 4 tables — a wide net for the moderate-sim band) block
      // the corpus into candidate pairs, exact cosine verifies — replacing
      // the id<200 sampled crossJoin with equi-joins end to end
      val emb = Tables.embeddings(s, dir)
      val cands = graft.ops.Similarity.bucketCandidatePairs(
        emb, "vec_id", "embedding", dim = 64, numTables = 4, numBits = 8,
        maxBucket = Int.MaxValue)
      Dedup.embeddingNearDup(cands, emb, "vec_id", "embedding", thresholdBp = 2500L)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(10000L).as("sim_bp")))
        .orderBy(col("id_a"), col("id_b"))
    },
      duckEmbedNeardupSql(2500L, autoBits = false)),
    Query("embed_neardup_prod", 1.027, (s, dir) => {
      // embed_neardup at the PRODUCTION threshold (>= 0.85 cosine): the
      // blocking stage is threshold-blind (identical candidate volume),
      // so this row pins the claim that the OUTPUT relation at a true
      // near-dup threshold is ~linear in the corpus — the moderate 0.25
      // band of embed_neardup is the recall spot-check posture. The -1
      // sentinel keeps the row alive on corpora without planted 0.85+
      // pairs (the synthetic tables have none).
      val emb = Tables.embeddings(s, dir)
      val cands = graft.ops.Similarity.bucketCandidatePairs(
        emb, "vec_id", "embedding", dim = 64, numTables = 4, numBits = 8,
        maxBucket = Int.MaxValue)
      Dedup.embeddingNearDup(cands, emb, "vec_id", "embedding", thresholdBp = 8500L)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(10000L).as("sim_bp")))
        .orderBy(col("id_a"), col("id_b"))
    },
      duckEmbedNeardupSql(8500L, autoBits = false)),
    Query("embed_neardup_auto", 1.529, (s, dir) => {
      // the default production ENTRY POINT end to end: signature width
      // derived from the corpus count (Similarity.numBitsFor — ~+10 bits
      // per 1000× growth, keeping candidate volume ~linear), production
      // threshold, uncapped buckets so the oracle replays the exact shape
      // (the DuckDB side computes the same width from COUNT(*)). This is
      // the bucketCandidatePairsAuto green row: the auto-sizing is pinned
      // by hash equality, not documentation.
      val emb = Tables.embeddings(s, dir)
      Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding", dim = 64,
        thresholdBp = 8500L, numTables = 4, targetBucketSize = 1000L,
        maxBucket = Int.MaxValue)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(10000L).as("sim_bp")))
        .orderBy(col("id_a"), col("id_b"))
    },
      duckEmbedNeardupSql(8500L, autoBits = true)),
    Query("dedup_incremental", 1.755, (s, dir) => {
      // continuous-ingestion dedup: the doc_id%5==0 slice plays the NEW
      // crawl increment, checked against the kept corpus via band-index
      // equi-join + exact-Jaccard confirm (never corpus×corpus); sentinel
      // keeps the rows-only path alive when no cross-slice dup clears the
      // threshold
      val docs = Tables.documents(s, dir)
      Dedup.incrementalNearDuplicates(
        docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", k = 3, numHashes = 16, minJaccardBp = 100L,
        maxBucket = Int.MaxValue)
        .unionByName(s.range(1).select(lit(-1L).as("new_id"), lit(-1L).as("corpus_id"),
          lit(10000L).as("jaccard_bp")))
        .orderBy(col("new_id"), col("corpus_id"))
    },
      DuckIncrementalSql),
    Query("dedup_incremental_indexed", 1.375, (s, dir) => {
      // the same incremental dedup routed through the PERSISTED bucketed
      // index: the corpus side is two bucketed catalog scans — zero
      // exchange, zero re-shingling — and the result is hash-pinned equal
      // to dedup_incremental's direct two-DataFrame path (same oracle).
      // The index is built ONCE per (application, corpus dir) and reused
      // by later invocations — the production amortization (a corpus index
      // outlives many crawl increments); rebuild by dropping the tables.
      // Bench pre-builds it via the row's prep so the timed number is the
      // PROBE, with the build cost reported separately.
      val docs = Tables.documents(s, dir)
      val (bandsT, setsT) = ensureMinhashIndex(s, dir)
      Dedup.incrementalNearDuplicatesIndexed(
        docs.filter(col("doc_id") % MinhashIndexCorpusMod === 0),
        "doc_id", "text", bandsT, setsT, k = MinhashIndexK,
        numHashes = MinhashIndexHashes, minJaccardBp = 100L,
        maxBucket = Int.MaxValue)
        .unionByName(s.range(1).select(lit(-1L).as("new_id"), lit(-1L).as("corpus_id"),
          lit(10000L).as("jaccard_bp")))
        .orderBy(col("new_id"), col("corpus_id"))
    },
      // the indexed path is SEMANTICALLY IDENTICAL to the direct one (same
      // bands, same verify; only the physical layout differs), so it pins
      // against the same replay — the equality of the two plans' answers is
      // exactly what this row certifies
      DuckIncrementalSql,
      prep = Some(ensureMinhashIndex(_, _))),
    Query("dedup_recall", 3.277, (s, dir) => {
      // the DefaultMaxBucket recall claim as a RELATION: per cap tier
      // (aggressive 2 and 5, plus the production default), how many of the
      // uncapped-confirmed near-dup pairs the capped pipelines retain —
      // on both the full-corpus LSH path and the persisted-index
      // incremental path. DedupSpec ties each found_pairs count to the
      // real capped operator, so cap-induced recall loss is a hash
      // failure here, not a spec footnote.
      val docs = Tables.documents(s, dir)
      val (bandsT, setsT) = ensureMinhashIndex(s, dir)
      val caps = Seq(2, 5, graft.ops.Dedup.DefaultMaxBucket)
      graft.ops.Dedup.capRecallStudy(docs, "doc_id", "text", caps,
        k = MinhashIndexK, numHashes = MinhashIndexHashes, minJaccardBp = 100L)
        .unionByName(graft.ops.Dedup.indexedCapRecallStudy(
          docs.filter(col("doc_id") % MinhashIndexCorpusMod === 0),
          "doc_id", "text", bandsT, setsT, caps,
          k = MinhashIndexK, numHashes = MinhashIndexHashes, minJaccardBp = 100L))
        .orderBy(col("tier"), col("cap"))
    },
      // cap-recall replay: a pair survives cap c iff its MINIMUM
      // generating-bucket size (LSH tier) / min-over-bands of
      // max(per-side counts) (indexed incremental tier) is ≤ c — the same
      // per-pair statistic the Spark study aggregates. Bands/sets come
      // from the shared minhash fragment; the caps relation mirrors the
      // query's (2, 5, DefaultMaxBucket).
      s"""WITH $DuckMinhashPairs,
        |bkt AS (SELECT band_idx, band_val, COUNT(*) AS n FROM bands GROUP BY 1, 2),
        |pexp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, MIN(k.n) AS min_n
        |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        |         JOIN bkt k ON k.band_idx = a.band_idx AND k.band_val = a.band_val
        |         GROUP BY 1, 2),
        |sets AS (SELECT doc_id, list(DISTINCT m1) AS s, COUNT(DISTINCT m1) AS nsh FROM hashed GROUP BY 1),
        |ver AS (SELECT p.doc_a, p.doc_b, p.min_n
        |        FROM pexp p JOIN sets sa ON sa.doc_id = p.doc_a JOIN sets sb ON sb.doc_id = p.doc_b
        |        WHERE (10000 * len(list_intersect(sa.s, sb.s))) // (sa.nsh + sb.nsh - len(list_intersect(sa.s, sb.s))) >= 100),
        |nb AS (SELECT doc_id AS new_id, band_idx, band_val FROM bands WHERE doc_id % 5 = 0),
        |cb AS (SELECT doc_id AS corpus_id, band_idx, band_val FROM bands WHERE doc_id % 5 <> 0),
        |ncnt AS (SELECT band_idx, band_val, COUNT(*) AS n_new FROM nb GROUP BY 1, 2),
        |ccnt AS (SELECT band_idx, band_val, COUNT(*) AS n_corp FROM cb GROUP BY 1, 2),
        |ipexp AS (SELECT n.new_id, c.corpus_id, MIN(greatest(nc.n_new, cc.n_corp)) AS min_n
        |          FROM nb n JOIN cb c ON n.band_idx = c.band_idx AND n.band_val = c.band_val
        |          JOIN ncnt nc ON nc.band_idx = n.band_idx AND nc.band_val = n.band_val
        |          JOIN ccnt cc ON cc.band_idx = n.band_idx AND cc.band_val = n.band_val
        |          WHERE n.new_id <> c.corpus_id
        |          GROUP BY 1, 2),
        |iver AS (SELECT p.new_id, p.min_n
        |         FROM ipexp p JOIN sets sa ON sa.doc_id = p.new_id JOIN sets sb ON sb.doc_id = p.corpus_id
        |         WHERE (10000 * len(list_intersect(sa.s, sb.s))) // (sa.nsh + sb.nsh - len(list_intersect(sa.s, sb.s))) >= 100),
        |caps AS (SELECT CAST(unnest([2, 5, ${graft.ops.Dedup.DefaultMaxBucket}]) AS BIGINT) AS cap),
        |tiers AS (
        |  SELECT 'lsh' AS tier, c.cap, COUNT(v.min_n) AS truth_pairs,
        |         coalesce(SUM(CASE WHEN v.min_n <= c.cap THEN 1 ELSE 0 END), 0) AS found_pairs
        |  FROM caps c LEFT JOIN ver v ON TRUE GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'inc_indexed', c.cap, COUNT(v.min_n),
        |         coalesce(SUM(CASE WHEN v.min_n <= c.cap THEN 1 ELSE 0 END), 0)
        |  FROM caps c LEFT JOIN iver v ON TRUE GROUP BY 1, 2)
        |SELECT tier, cap, CAST(truth_pairs AS BIGINT) AS truth_pairs,
        |       CAST(found_pairs AS BIGINT) AS found_pairs,
        |       CAST(CASE WHEN truth_pairs = 0 THEN 10000
        |            ELSE (10000 * found_pairs) // truth_pairs END AS BIGINT) AS recall_bp
        |FROM tiers ORDER BY tier, cap""".stripMargin,
      // the cap-recall study's inc_indexed tier probes the same index
      prep = Some(ensureMinhashIndex(_, _))),
    Query("dedup_semantic", 1.919, (s, dir) => {
      // SemDeDup-style semantic tier composed end to end: IVF-cluster the
      // embedding space (data-following cells, vs the data-blind
      // hyperplane buckets of embed_neardup), verify cosine near-dups
      // WITHIN clusters only, connected-components the confirmed pairs,
      // and keep the best-QUALITY copy per component (vec_id indexes the
      // documents table, so the representative is the cleanest document,
      // not the lowest id). 0.25 is the recall spot-check threshold; the
      // production posture is dedup_semantic_prod.
      semanticKeepBest(s, dir, thresholdBp = 2500L)
    },
      duckSemanticSql(2500L)),
    Query("dedup_semantic_prod", 1.692, (s, dir) => {
      // dedup_semantic at the PRODUCTION threshold (>= 0.85 cosine, the
      // SemDeDup operating band): same IVF cells, same verify — but only
      // true near-identical pairs confirm, so on a corpus without planted
      // 0.85+ pairs every document is its own cluster and the output
      // relation is exactly corpus-linear. This row turns the "output is
      // linear at true near-dup thresholds" claim from documentation into
      // a green oracle row with sf1→sf3 slope cells (BASELINE.md).
      semanticKeepBest(s, dir, thresholdBp = 8500L)
    },
      duckSemanticSql(8500L)),
    Query("dedup_semantic_auto", 1.802, (s, dir) => {
      // the PRODUCTION semantic-dedup posture the r12 sf3 audit forced:
      // fixed k=8 cells grow linearly with the corpus, so the within-cell
      // verify measured 3.9/decade at the sf3 asymptote. autoK bounds the
      // expected cell at ~100 vectors (the numBitsFor idiom), making the
      // verify pair volume n·50 — linear with a chosen constant — at the
      // price of an n·k assignment term (n²/100, two-level-quantizer
      // territory far beyond sf3) and finer (more, smaller) clusters.
      val emb = Tables.embeddings(s, dir)
      semanticKeepBest(s, dir, thresholdBp = 8500L,
        numClusters = graft.ops.Ivf.autoK(emb.count()))
    },
      // same replay with the codebook size computed FROM THE CORPUS the
      // way Ivf.autoK does (max(8, ceil(n/100)) — 8 at sf0.01, 20 at
      // sf0.1), so the dynamic-k arithmetic itself is under the hash gate
      duckSemanticSql(8500L,
        limitSql = "(SELECT CAST(greatest(8, CAST(ceil(COUNT(*) / 100.0) AS BIGINT)) AS BIGINT) FROM embeddings)")),
    Query("dedup_semantic_scale", 2.237, (s, dir) => {
      // the 100 TB posture: two-level codebook (k2 ≈ √(n/100) super-cells,
      // per-super children sized to ~100-vector cells) holds BOTH scale
      // terms to linear-with-constant — child cells bound the verify, the
      // hierarchical assign bounds the codebook pass at n·√k (flat autoK
      // measured 1.39/decade at sf3 on exactly that term)
      val emb = Tables.embeddings(s, dir)
      val k2 = math.max(4, math.ceil(math.sqrt(emb.count() / 100.0)).toInt)
      val pairs = Dedup.semanticNearDuplicatesHierarchical(
        emb, "vec_id", "embedding", k2 = k2, targetCell = 100, thresholdBp = 8500L)
      semanticKeepBestFromPairs(s, dir, pairs)
    },
      // two-level replay: dynamic k2 = max(4, ceil(sqrt(n/100))) super
      // train, child seeds/round/final assign, composite cells, shared tail
      duckSemanticScaleSql(8500L,
        k2Sql = "(SELECT CAST(greatest(4, CAST(ceil(sqrt(COUNT(*) / 100.0)) AS BIGINT)) AS BIGINT) FROM embeddings)")),
    Query("url_dedup_curation", 1.116, (s, dir) => {
      // urlParts as a CURATION KEY, not just an extraction: canonicalize
      // synthesized URLs (host case, trailing slash), exact-dedup BY
      // canonical_url keeping the best-QUALITY copy, then cap kept pages
      // per registered domain — the crawl-frontier budget. The URL moduli
      // make ~|docs|/60 documents share each canonical form, so the dedup
      // actually collapses, and 12 canonical pages per domain meet a cap
      // of 10, so the quota actually cuts.
      val docs = Tables.documents(s, dir)
      val withUrl = docs.withColumn("url",
        expr("'HTTPS://Sub' || CAST(doc_id % 3 AS STRING) || '.Example' || CAST(doc_id % 5 AS STRING) || " +
          "'.com/p/' || CAST(doc_id % 20 AS STRING) || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)"))
      val parts = TextAnalysis.urlParts(withUrl, "doc_id", "url")
        .select(col("doc_id"), col("domain"), col("canonical_url"))
      val scored = parts.join(
        TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score")), "doc_id")
      val reps = Dedup.keepBest(scored, "canonical_url", "doc_id", "quality_score")
      graft.ops.Sampling.capPerKey(reps, "domain", "doc_id", 10)
        .select(col("domain"), col("canonical_url"), col("doc_id"), col("quality_score"))
        .orderBy(col("domain"), col("canonical_url"))
    },
      // same synthesized URLs; urlParts regex replay (the url_canonical
      // fragment) feeds keep-best-per-canonical-url then the hash-ordered
      // per-domain cap (the quota_per_source replay)
      s"""WITH $DuckQualityScore,
        |d AS (SELECT doc_id,
        |  'HTTPS://Sub' || CAST(doc_id % 3 AS VARCHAR) || '.Example' || CAST(doc_id % 5 AS VARCHAR) ||
        |  '.com/p/' || CAST(doc_id % 20 AS VARCHAR) || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) AS url
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/?#:]+)', 1)) AS host,
        |  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path FROM d),
        |c AS (SELECT doc_id,
        |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
        |  scheme || '://' || host || regexp_replace(path, '/+$$', '') AS canonical_url FROM p),
        |j AS (SELECT c.doc_id, c.domain, c.canonical_url, qsc.score AS quality_score
        |      FROM c JOIN qsc ON c.doc_id = qsc.doc_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY canonical_url
        |        ORDER BY quality_score DESC, doc_id) AS rn FROM j),
        |reps AS (SELECT doc_id, domain, canonical_url, quality_score FROM r WHERE rn = 1),
        |capped AS (SELECT *, row_number() OVER (PARTITION BY domain
        |    ORDER BY CAST('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000, doc_id) AS qrn
        |  FROM reps)
        |SELECT domain, canonical_url, doc_id, quality_score FROM capped WHERE qrn <= 10
        |ORDER BY domain, canonical_url""".stripMargin),
    Query("bloom_contamination", 1.811, (s, dir) => {
      // Bloom pre-filter decontamination: a 32K-bit filter over the bench
      // slice's shingles, broadcast against the corpus — each corpus doc
      // reports how many of its shingles the filter claims (deterministic
      // false positives included; the exact confirm is `contamination`)
      val docs = Tables.documents(s, dir)
      val bench = Dedup.shingles(docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 3)
      val bloom = graft.ops.Bloom.build(bench, col("shingle"), numBits = 1 << 15, numHashes = 4)
      // r18 (guide §2.4): the probe side is document-local — distinct
      // shingles, 4 hash probes and the per-doc counts all live inside
      // one row — so the old shingle explode + DISTINCT exchange +
      // per-doc aggregate collapses into the fused BloomShingleHits
      // kernel: a map-only pass over the corpus (BloomKernelSpec pins
      // old ≡ new; the oracle still replays the relational form)
      docs.filter(col("doc_id") % 97 =!= 0).crossJoin(broadcast(bloom))
        .select(col("doc_id"), org.apache.spark.sql.graft.BloomShingleHits(
          col("text"), col("bloom_words"), 3, 1 << 15, 4).as("_bh"))
        .select(col("doc_id"), col("_bh.n_shingles").as("n_shingles"),
          col("_bh.n_hits").as("n_bloom_hits"))
        .filter(col("n_bloom_hits") >= 1)
        .orderBy(col("doc_id"))
    },
      // bit-exact Bloom replay: same one-digest md5 32-bit-word bit
      // positions, same 512-word bit_or grid, same all-bits-set membership
      // test — false positives and all
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
        |         THEN list_transform(generate_series(0, len(toks) - 3), i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
        |         ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t),
        |sd AS (SELECT unnest([0, 1, 2, 3]) AS s),
        |bb AS (SELECT DISTINCT CAST('0x' || substring(md5(sh.shingle), 1 + 8 * sd.s, 8) AS BIGINT) % 32768 AS bit
        |       FROM sh CROSS JOIN sd WHERE sh.doc_id % 97 = 0),
        |words AS (SELECT bit // 64 AS w,
        |            bit_or(CASE WHEN bit % 64 = 63 THEN (-9223372036854775807 - 1)
        |                   ELSE 1::BIGINT << CAST(bit % 64 AS INT) END) AS word
        |          FROM bb GROUP BY 1),
        |pb AS (SELECT sh.doc_id, sh.shingle,
        |         CAST('0x' || substring(md5(sh.shingle), 1 + 8 * sd.s, 8) AS BIGINT) % 32768 AS bit
        |       FROM sh CROSS JOIN sd WHERE sh.doc_id % 97 <> 0),
        |ph AS (SELECT doc_id, shingle,
        |         BOOL_AND((coalesce(w.word, 0) & (CASE WHEN pb.bit % 64 = 63 THEN (-9223372036854775807 - 1)
        |           ELSE 1::BIGINT << CAST(pb.bit % 64 AS INT) END)) <> 0) AS hit
        |       FROM pb LEFT JOIN words w ON pb.bit // 64 = w.w GROUP BY 1, 2)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
        |FROM ph GROUP BY doc_id
        |HAVING CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) >= 1
        |ORDER BY doc_id""".stripMargin),
    Query("cms_heavy_hitters", 1.696, (s, dir) => {
      // Count-Min heavy hitters: 4×256 grid over the token stream; the
      // exact top-10 terms re-probed through the sketch (est ≥ exact, off
      // by the grid's collision mass — both engines replay it exactly)
      // toks feeds the sketch AND the exact counts; top feeds the probe
      // side AND the join — pinned so the explode pipeline runs once
      val toks = Pin(Tables.documents(s, dir)
        .select(explode(Dedup.tokensCol(col("text"))).as("term"))
        .filter(col("term") =!= ""))
      val counters = graft.ops.Cms.sketch(toks, col("term"), depth = 4, width = 256)
      val top = Pin(toks.groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("term")).limit(10))
      top.join(graft.ops.Cms.estimate(counters, top, "term", depth = 4, width = 256), "term")
        .select(col("term"), col("n_exact"), col("cms_est"))
        .orderBy(col("term"))
    },
      """WITH t AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |tok AS (SELECT term FROM t WHERE term <> ''),
        |sd AS (SELECT unnest([0, 1, 2, 3]) AS s),
        |cms AS (SELECT sd.s,
        |          CAST('0x' || substring(md5(CAST(sd.s AS VARCHAR) || ':' || tok.term), 1, 15) AS BIGINT) % 256 AS bucket,
        |          COUNT(*) AS cnt
        |        FROM tok CROSS JOIN sd GROUP BY 1, 2),
        |top AS (SELECT term, COUNT(*) AS n_exact FROM tok GROUP BY 1 ORDER BY n_exact DESC, term LIMIT 10),
        |est AS (SELECT top.term, MIN(c.cnt) AS cms_est
        |        FROM top CROSS JOIN sd
        |        JOIN cms c ON c.s = sd.s
        |          AND c.bucket = CAST('0x' || substring(md5(CAST(sd.s AS VARCHAR) || ':' || top.term), 1, 15) AS BIGINT) % 256
        |        GROUP BY 1)
        |SELECT top.term, top.n_exact, est.cms_est
        |FROM top JOIN est ON top.term = est.term ORDER BY top.term""".stripMargin),
    Query("bm25_search", 1.443, (s, dir) =>
      // BM25 slice query over the corpus: top-20 docs for a 3-term bag,
      // integer-quantized per-term scores (log-free odds idf) summed
      // merge-order-free
      graft.ops.Bm25.search(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "join", "window"), k = 20)
        .orderBy(col("rank")),
      // BM25 replay: identical fixed-order arithmetic (no ln anywhere —
      // odds-form idf keeps every op IEEE-exact), identical 2^-20
      // quantization, BIGINT score sums
      """WITH t AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |consts AS (SELECT COUNT(DISTINCT doc_id) AS n_docs, CAST(SUM(tf) AS BIGINT) AS sum_dl FROM tf),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT unnest(['spark', 'join', 'window']) AS term),
        |sc AS (SELECT tf.doc_id,
        |         CAST(floor(1048576.0 * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) AS sq
        |       FROM tf JOIN q USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN consts),
        |byd AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS score_q FROM sc GROUP BY 1)
        |SELECT doc_id, score_q, CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INT) AS rank
        |FROM byd ORDER BY score_q DESC, doc_id LIMIT 20""".stripMargin),
    Query("search_phrase", 1.038, (s, dir) =>
      // exact token-adjacent phrase lookup via the anchor trick: slot-i
      // occurrences vote for (doc, pos − i); an anchor holding all 3
      // distinct slots is a match — one scan filtered map-side by the
      // broadcast slot relation, votes-only shuffle, no positional index
      graft.ops.Bm25.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
        Seq("small", "query", "line"))
        .orderBy(col("doc_id")),
      // anchor replay: slot-i term occurrences vote for pos − i; anchors
      // with all 3 distinct slots are matches
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |tp0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
        |tp AS (SELECT doc_id, i - 1 AS pos, toks[i] AS term FROM tp0 WHERE toks[i] <> ''),
        |slots(slot, term) AS (VALUES (0, 'small'), (1, 'query'), (2, 'line')),
        |v AS (SELECT doc_id, pos - slot AS anchor, slot FROM tp JOIN slots USING (term)),
        |m AS (SELECT doc_id, anchor FROM v GROUP BY doc_id, anchor HAVING COUNT(DISTINCT slot) = 3)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches, CAST(MIN(anchor) AS BIGINT) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("search_rocchio", 3.433, (s, dir) =>
      // Rocchio pseudo-relevance feedback on the bm25_search query: top-5
      // seeds, 5 expansion terms at weight 750 vs 1000, re-scored top-20 —
      // the vocabulary-mismatch recall pass
      graft.ops.Bm25.rocchioSearch(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "join", "window"), k0 = 5, expandTerms = 5, k = 20),
      // the bm25_search chain, then: top-5 seeds, candidate vocab minus
      // the query, expansion weight Σ floor(2^20·odds·tf/dl) (ties by
      // term), re-score with 1000/750 milli weights, top-20
      """WITH t AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |consts AS (SELECT COUNT(DISTINCT doc_id) AS n_docs, CAST(SUM(tf) AS BIGINT) AS sum_dl FROM tf),
        |q AS (SELECT unnest(['spark', 'join', 'window']) AS term),
        |df0 AS (SELECT term, COUNT(*) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
        |sc0 AS (SELECT tf.doc_id,
        |         CAST(floor(1048576.0 * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) AS sq
        |       FROM tf JOIN q USING (term) JOIN df0 USING (term) JOIN dl USING (doc_id) CROSS JOIN consts),
        |byd0 AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS s FROM sc0 GROUP BY 1),
        |seed AS (SELECT doc_id FROM byd0 ORDER BY s DESC, doc_id LIMIT 5),
        |stf AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl FROM tf JOIN seed USING (doc_id) JOIN dl USING (doc_id)),
        |cand AS (SELECT DISTINCT term FROM stf WHERE term NOT IN (SELECT term FROM q)),
        |cdf AS (SELECT term, COUNT(*) AS df FROM tf WHERE term IN (SELECT term FROM cand) GROUP BY 1),
        |wexp AS (SELECT stf.term,
        |         CAST(SUM(CAST(floor(1048576.0 * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)) AS BIGINT)) AS BIGINT) AS w_exp
        |       FROM stf JOIN cdf USING (term) CROSS JOIN consts GROUP BY stf.term
        |       ORDER BY w_exp DESC, term LIMIT 5),
        |allt AS (SELECT term, CAST(1000 AS BIGINT) AS w FROM q
        |         UNION ALL SELECT term, CAST(750 AS BIGINT) AS w FROM wexp),
        |adf AS (SELECT term, COUNT(*) AS df FROM tf WHERE term IN (SELECT term FROM allt) GROUP BY 1),
        |sc2 AS (SELECT tf.doc_id, allt.w,
        |         CAST(floor(1048576.0 * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) AS sq
        |       FROM tf JOIN allt USING (term) JOIN adf USING (term) JOIN dl USING (doc_id) CROSS JOIN consts),
        |byd2 AS (SELECT doc_id, CAST(SUM(w * sq) AS BIGINT) AS score_w FROM sc2 GROUP BY 1)
        |SELECT doc_id, score_w, CAST(row_number() OVER (ORDER BY score_w DESC, doc_id) AS INT) AS rank
        |FROM byd2 ORDER BY score_w DESC, doc_id LIMIT 20""".stripMargin),
    Query("pii_gazetteer", 1.799, (s, dir) =>
      // whole-blocklist entity matching in ONE corpus pass — the
      // broadcast (entity, slot, term) relation filters the token scan
      // map-side; nested entities ("small query" ⊂ "small query line")
      // match independently, pinning the per-entity anchor independence
      graft.ops.Bm25.gazetteerMatch(Tables.documents(s, dir), "doc_id", "text",
        Seq("e_small_query" -> Seq("small", "query"),
            "e_customer_line" -> Seq("customer", "line"),
            "e_small_query_line" -> Seq("small", "query", "line"),
            "e_big_hash_query" -> Seq("big", "hash", "query")))
        .orderBy(col("doc_id"), col("entity_id")),
      // the search_phrase anchor chain with entity-tagged slots: votes
      // group by (doc, entity, anchor) and compare against the entity's
      // own slot count
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |tp0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
        |tp AS (SELECT doc_id, i - 1 AS pos, toks[i] AS term FROM tp0 WHERE toks[i] <> ''),
        |slots(entity_id, slot, term, n_slots) AS (VALUES
        |  ('e_small_query', 0, 'small', 2), ('e_small_query', 1, 'query', 2),
        |  ('e_customer_line', 0, 'customer', 2), ('e_customer_line', 1, 'line', 2),
        |  ('e_small_query_line', 0, 'small', 3), ('e_small_query_line', 1, 'query', 3),
        |  ('e_small_query_line', 2, 'line', 3),
        |  ('e_big_hash_query', 0, 'big', 3), ('e_big_hash_query', 1, 'hash', 3),
        |  ('e_big_hash_query', 2, 'query', 3)),
        |v AS (SELECT doc_id, entity_id, pos - slot AS anchor, slot, n_slots
        |      FROM tp JOIN slots USING (term)),
        |m AS (SELECT doc_id, entity_id, anchor FROM v
        |      GROUP BY doc_id, entity_id, anchor, n_slots
        |      HAVING COUNT(DISTINCT slot) = n_slots)
        |SELECT doc_id, entity_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(MIN(anchor) AS BIGINT) AS first_pos
        |FROM m GROUP BY doc_id, entity_id ORDER BY doc_id, entity_id""".stripMargin),
    Query("index_incremental", 1.229, (s, dir) => {
      // retrieval's incremental leg: the %5≠0 corpus postings live in a
      // persisted term-bucketed index; the %5 increment pays one
      // tokenize pass over ITSELF; the merged relation is exactly the
      // full corpus's tf (doc-disjoint postings are a mergeable monoid),
      // so the search hash-matches a from-scratch full-corpus BM25 —
      // which is what the oracle computes
      val t = ensureTfIndex(s, dir)
      graft.ops.Bm25.searchIncremental(s, t,
        Tables.documents(s, dir).filter(col("doc_id") % MinhashIndexCorpusMod === 0),
        "doc_id", "text", Seq("stream", "batch", "merge"), k = 20)
    },
      // from-scratch BM25 over the WHOLE corpus — the mergeable-monoid
      // pin: persisted-index ∪ delta must equal this exactly
      """WITH t AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |consts AS (SELECT COUNT(DISTINCT doc_id) AS n_docs, CAST(SUM(tf) AS BIGINT) AS sum_dl FROM tf),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |qterms AS (SELECT unnest(['stream', 'batch', 'merge']) AS term),
        |sc AS (SELECT tf.doc_id,
        |         CAST(floor(1048576.0 * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) AS sq
        |       FROM tf JOIN qterms USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN consts),
        |byd AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS score_q FROM sc GROUP BY 1)
        |SELECT doc_id, score_q, CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INT) AS rank
        |FROM byd ORDER BY score_q DESC, doc_id LIMIT 20""".stripMargin,
      // the merged-postings probe amortizes the persisted lexical index
      prep = Some(ensureTfIndex(_, _))),
    Query("eval_qa_f1", 2.263, (s, dir) => {
      // answer-scoring eval: token-level F1 (SQuAD-style, MULTISET
      // overlap) of three planted prediction behaviors — %3=0 exact
      // (10000 bp), %3=1 an 80% truncation (recall drops), %3=2 a
      // dropped-head + appended-noise answer (both drop); one full-outer
      // (id, tok) join, nothing pairwise across documents
      val docs = Tables.documents(s, dir)
      val pairs = docs
        .withColumn("_tk", graft.ops.Dedup.tokensCol(col("text")))
        .withColumn("pred", expr(
          """CASE WHEN doc_id % 3 = 0 THEN text
            |     WHEN doc_id % 3 = 1 THEN array_join(slice(_tk, 1, greatest(1, (size(_tk) * 8) div 10)), ' ')
            |     ELSE concat(array_join(slice(_tk, 2, 2147483647), ' '), ' noise extra words appended here') END""".stripMargin))
        .select(col("doc_id"), col("text").as("gold"), col("pred"))
      graft.ops.Eval.tokenF1(pairs, "doc_id", "gold", "pred")
        .orderBy(col("doc_id"))
    },
      // same tokenizer, same planted predictions (list_slice is
      // INCLUSIVE-stop in DuckDB — bounds mapped accordingly), multiset
      // overlap via least() on the (id, tok) full join
      """WITH base AS (SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |wp AS (SELECT doc_id, tk,
        |    CASE WHEN doc_id % 3 = 0 THEN array_to_string(tk, ' ')
        |         WHEN doc_id % 3 = 1 THEN array_to_string(list_slice(tk, 1, greatest(1, (len(tk) * 8) // 10)), ' ')
        |         ELSE array_to_string(list_slice(tk, 2, len(tk)), ' ') || ' noise extra words appended here' END AS pred
        |  FROM base),
        |g AS (SELECT doc_id, unnest(tk) AS tok FROM wp),
        |gc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cg FROM g GROUP BY 1, 2),
        |p AS (SELECT doc_id, unnest(list_filter(string_split(trim(regexp_replace(lower(pred), '\s+', ' ', 'g')), ' '), x -> x <> '')) AS tok FROM wp),
        |pc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cp FROM p GROUP BY 1, 2),
        |j AS (SELECT coalesce(gc.doc_id, pc.doc_id) AS doc_id,
        |        coalesce(cg, 0) AS cg, coalesce(cp, 0) AS cp
        |      FROM gc FULL JOIN pc ON gc.doc_id = pc.doc_id AND gc.tok = pc.tok),
        |sc AS (SELECT doc_id, CAST(SUM(cg) AS BIGINT) AS n_gold, CAST(SUM(cp) AS BIGINT) AS n_pred,
        |        CAST(SUM(least(cg, cp)) AS BIGINT) AS n_overlap
        |      FROM j GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(n_gold, 0) AS n_gold, coalesce(n_pred, 0) AS n_pred,
        |  coalesce(n_overlap, 0) AS n_overlap,
        |  CAST(CASE WHEN coalesce(n_pred, 0) = 0 THEN CASE WHEN coalesce(n_gold, 0) = 0 THEN 10000 ELSE 0 END
        |       ELSE n_overlap * 10000 // n_pred END AS BIGINT) AS precision_bp,
        |  CAST(CASE WHEN coalesce(n_gold, 0) = 0 THEN CASE WHEN coalesce(n_pred, 0) = 0 THEN 10000 ELSE 0 END
        |       ELSE n_overlap * 10000 // n_gold END AS BIGINT) AS recall_bp,
        |  CAST(CASE WHEN coalesce(n_gold, 0) + coalesce(n_pred, 0) = 0 THEN 10000
        |       ELSE 2 * n_overlap * 10000 // (n_gold + n_pred) END AS BIGINT) AS f1_bp
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    Query("eval_em", 0.721, (s, dir) => {
      // the EM half of the SQuAD pair: per planted behavior class, the
      // share of predictions that match the gold EXACTLY after
      // normalization (lowercase, whitespace collapse) — class 0 must
      // read 10000 bp, the truncation/noise classes ~0 (a 1-2 token doc
      // can survive the 80% truncation intact, so the oracle, not an
      // assumption, owns the exact number)
      val docs = Tables.documents(s, dir)
      val pairs = docs
        .withColumn("_tk", graft.ops.Dedup.tokensCol(col("text")))
        .withColumn("pred", expr(
          """CASE WHEN doc_id % 3 = 0 THEN text
            |     WHEN doc_id % 3 = 1 THEN array_join(slice(_tk, 1, greatest(1, (size(_tk) * 8) div 10)), ' ')
            |     ELSE concat(array_join(slice(_tk, 2, 2147483647), ' '), ' noise extra words appended here') END""".stripMargin))
      pairs
        .withColumn("cls", col("doc_id") % 3)
        .withColumn("_g", array_join(col("_tk"), " "))
        .withColumn("_p", array_join(graft.ops.Dedup.tokensCol(col("pred")), " "))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("_g") === col("_p"), 1L).otherwise(0L)).as("n_exact"))
        .withColumn("em_bp", expr("n_exact * 10000 div n_pairs"))
        .orderBy(col("cls"))
    },
      """WITH base AS (SELECT doc_id, doc_id % 3 AS cls,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |wp AS (SELECT cls, array_to_string(tk, ' ') AS g,
        |    CASE WHEN cls = 0 THEN array_to_string(tk, ' ')
        |         WHEN cls = 1 THEN array_to_string(list_slice(tk, 1, greatest(1, (len(tk) * 8) // 10)), ' ')
        |         ELSE trim(array_to_string(list_slice(tk, 2, len(tk)), ' ') || ' noise extra words appended here') END AS p
        |  FROM base)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN g = p THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(SUM(CASE WHEN g = p THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS em_bp
        |FROM wp GROUP BY cls ORDER BY cls""".stripMargin),
    Query("eval_rouge2", 9.792, (s, dir) => {
      // ROUGE-2 over the same planted predictions: bigram-encode both
      // sides into collision-free pseudo-tokens, then the SAME multiset
      // F1 machinery — word order now matters (the dropped-head answer's
      // surviving unigrams stop crediting at the bigram tier)
      val docs = Tables.documents(s, dir)
      val pairs = docs
        .withColumn("_tk", graft.ops.Dedup.tokensCol(col("text")))
        .withColumn("pred", expr(
          """CASE WHEN doc_id % 3 = 0 THEN text
            |     WHEN doc_id % 3 = 1 THEN array_join(slice(_tk, 1, greatest(1, (size(_tk) * 8) div 10)), ' ')
            |     ELSE concat(array_join(slice(_tk, 2, 2147483647), ' '), ' noise extra words appended here') END""".stripMargin))
        .select(col("doc_id"),
          graft.ops.Eval.bigramEncode(col("text")).as("gold"),
          graft.ops.Eval.bigramEncode(col("pred")).as("pred"))
      graft.ops.Eval.tokenF1(pairs, "doc_id", "gold", "pred")
        .orderBy(col("doc_id"))
    },
      // bigram pseudo-tokens straight from the token lists; same F1 chain
      """WITH base AS (SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |wp AS (SELECT doc_id, tk,
        |    CASE WHEN doc_id % 3 = 0 THEN tk
        |         WHEN doc_id % 3 = 1 THEN list_slice(tk, 1, greatest(1, (len(tk) * 8) // 10))
        |         ELSE list_concat(list_slice(tk, 2, len(tk)), ['noise', 'extra', 'words', 'appended', 'here']) END AS pt
        |  FROM base),
        |bg AS (SELECT doc_id,
        |    CASE WHEN len(tk) < 2 THEN [] ELSE list_transform(generate_series(1, len(tk) - 1), i -> CAST(len(tk[i]) AS VARCHAR) || '§' || tk[i] || '§' || tk[i + 1]) END AS gb,
        |    CASE WHEN len(pt) < 2 THEN [] ELSE list_transform(generate_series(1, len(pt) - 1), i -> CAST(len(pt[i]) AS VARCHAR) || '§' || pt[i] || '§' || pt[i + 1]) END AS pb
        |  FROM wp),
        |g AS (SELECT doc_id, unnest(gb) AS tok FROM bg),
        |gc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cg FROM g GROUP BY 1, 2),
        |p AS (SELECT doc_id, unnest(pb) AS tok FROM bg),
        |pc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cp FROM p GROUP BY 1, 2),
        |j AS (SELECT coalesce(gc.doc_id, pc.doc_id) AS doc_id,
        |        coalesce(cg, 0) AS cg, coalesce(cp, 0) AS cp
        |      FROM gc FULL JOIN pc ON gc.doc_id = pc.doc_id AND gc.tok = pc.tok),
        |sc AS (SELECT doc_id, CAST(SUM(cg) AS BIGINT) AS n_gold, CAST(SUM(cp) AS BIGINT) AS n_pred,
        |        CAST(SUM(least(cg, cp)) AS BIGINT) AS n_overlap
        |      FROM j GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(n_gold, 0) AS n_gold, coalesce(n_pred, 0) AS n_pred,
        |  coalesce(n_overlap, 0) AS n_overlap,
        |  CAST(CASE WHEN coalesce(n_pred, 0) = 0 THEN CASE WHEN coalesce(n_gold, 0) = 0 THEN 10000 ELSE 0 END
        |       ELSE n_overlap * 10000 // n_pred END AS BIGINT) AS precision_bp,
        |  CAST(CASE WHEN coalesce(n_gold, 0) = 0 THEN CASE WHEN coalesce(n_pred, 0) = 0 THEN 10000 ELSE 0 END
        |       ELSE n_overlap * 10000 // n_gold END AS BIGINT) AS recall_bp,
        |  CAST(CASE WHEN coalesce(n_gold, 0) + coalesce(n_pred, 0) = 0 THEN 10000
        |       ELSE 2 * n_overlap * 10000 // (n_gold + n_pred) END AS BIGINT) AS f1_bp
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    Query("eval_retrieval", 3.648, (s, dir) =>
      // retrieval-eval card: BM25 bag-of-words top-20 graded against
      // exact-phrase ground truth per query — recall@k / precision@k /
      // MRR as exact basis-point integers; the harness the search
      // family's quality claims are measured with. Runs the BATCHED
      // production tier (one gazetteer truth pass + one battery-broadcast
      // ranking for the whole battery — constant corpus passes however
      // large the battery); the per-query evalCard stays the declared
      // exact spot-check tier, equality pinned in SketchRetrievalSpec
      graft.ops.Bm25.evalCardBatched(Tables.documents(s, dir), "doc_id", "text",
        RetrievalEvalQueries, k = 20),
      {
      // per query: the bm25_search CTE chain (top-20 ranks) + the
      // search_phrase anchor chain (ground truth), graded to bp metrics;
      // the shared tokenization/positional CTEs live once
      val per = RetrievalEvalQueries.map { case (qid, ph) =>
        val qlist = ph.map(t => s"'$t'").mkString(", ")
        val slots = ph.zipWithIndex.map { case (t, i) => s"($i, '$t')" }.mkString(", ")
        s"""q_$qid(term) AS (SELECT unnest([$qlist])),
          |sc_$qid AS (SELECT tf.doc_id,
          |    CAST(floor(1048576.0 * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) AS sq
          |  FROM tf JOIN q_$qid USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN consts),
          |byd_$qid AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS s FROM sc_$qid GROUP BY 1),
          |top_$qid AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank
          |  FROM byd_$qid ORDER BY s DESC, doc_id LIMIT 20),
          |slots_$qid(slot, term) AS (VALUES $slots),
          |v_$qid AS (SELECT doc_id, pos - slot AS anchor, slot FROM tp JOIN slots_$qid USING (term)),
          |rel_$qid AS (SELECT DISTINCT doc_id FROM (
          |    SELECT doc_id, anchor FROM v_$qid GROUP BY doc_id, anchor HAVING COUNT(DISTINCT slot) = ${ph.length})),
          |met_$qid AS (SELECT '$qid' AS query_id,
          |    (SELECT COUNT(*) FROM rel_$qid) AS n_rel,
          |    (SELECT COUNT(*) FROM rel_$qid r JOIN top_$qid t USING (doc_id)) AS hits,
          |    (SELECT MIN(rank) FROM rel_$qid r JOIN top_$qid t USING (doc_id)) AS first_rank)""".stripMargin
      }
      val unions = RetrievalEvalQueries.map { case (qid, _) =>
        s"""SELECT query_id, CAST(n_rel AS BIGINT) AS n_rel, CAST(hits AS BIGINT) AS hits,
          |  CAST(CASE WHEN n_rel > 0 THEN hits * 10000 // n_rel ELSE 0 END AS BIGINT) AS recall_bp,
          |  CAST(hits * 10000 // 20 AS BIGINT) AS precision_bp,
          |  CAST(CASE WHEN first_rank IS NOT NULL THEN 10000 // first_rank ELSE 0 END AS BIGINT) AS mrr_bp
          |FROM met_$qid""".stripMargin
      }
      s"""WITH t AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |consts AS (SELECT COUNT(DISTINCT doc_id) AS n_docs, CAST(SUM(tf) AS BIGINT) AS sum_dl FROM tf),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |tl AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |tp0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tl),
        |tp AS (SELECT doc_id, i - 1 AS pos, toks[i] AS term FROM tp0 WHERE toks[i] <> ''),
        |${per.mkString(",\n")}
        |${unions.mkString("\nUNION ALL\n")}
        |ORDER BY query_id""".stripMargin
    }),
    Query("hybrid_search", 1.941, (s, dir) => {
      // hybrid retrieval, the standard RAG shape: BM25 top-20 (lexical)
      // fused with cosine kNN top-20 (vector, query = vec 0's embedding)
      // by reciprocal-rank fusion — ranks only, no score calibration
      // across the incomparable score spaces; both lists bounded top-k
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val lex = graft.ops.Bm25.search(docs, "doc_id", "text",
        Seq("spark", "join", "window"), k = 20)
        .select(col("doc_id"), col("rank"))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val vec = VectorOps.knnCosine(emb, "vec_id", "embedding", q, "qid", "qvec", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.ops.Fusion.reciprocalRankFusion(lex, vec, "doc_id")
        .orderBy(col("rank"))
    },
      // bm25_search's CTE chain (ranks only) + knn_cosine's replay for the
      // vec-0 query, fused by integer RRF: floor(1e6/(60+rank)) per list,
      // absent list contributes 0 via the full outer join
      s"""WITH t AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |consts AS (SELECT COUNT(DISTINCT doc_id) AS n_docs, CAST(SUM(tf) AS BIGINT) AS sum_dl FROM tf),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |qterms AS (SELECT unnest(['spark', 'join', 'window']) AS term),
        |sc AS (SELECT tf.doc_id,
        |         CAST(floor(1048576.0 * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) AS sq
        |       FROM tf JOIN qterms USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN consts),
        |byd AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS score_q FROM sc GROUP BY 1),
        |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INT) AS rank
        |        FROM byd ORDER BY score_q DESC, doc_id LIMIT 20),
        |qv AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id = 0),
        |sims AS (SELECT e.vec_id, ${duckCosine("e.embedding", "qv.qvec")} AS sim
        |         FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.qid),
        |vec AS (SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank
        |        FROM sims ORDER BY sim DESC, vec_id LIMIT 20),
        |f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
        |        CAST(coalesce(1000000 // (60 + l.rank), 0) + coalesce(1000000 // (60 + v.rank), 0) AS BIGINT) AS rrf_score
        |      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
        |SELECT doc_id, rrf_score, CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
        |FROM f ORDER BY rank""".stripMargin)
  )
}
