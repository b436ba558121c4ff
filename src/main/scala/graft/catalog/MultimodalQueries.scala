package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.chunk.Chunkers
import graft.embed.Embedders
import graft.io.{Readers, Tables}
import graft.norm.Norm
import graft.ops.{Dedup, Multimodal, TextAnalysis}
import graft.vector.VectorOps
import graft.catalog.Artifacts._
import graft.catalog.Duck._
import graft.catalog.ChunkingQueries.tokenChunks
import org.apache.spark.sql.graft.Pin

/** Multimodal plumbing (media headers, phash, audio, video) and the
  * curation operators declared after it: tokenization, filters, joins,
  * packing and mixing, graphs, privacy, statistics and the curation funnels. */
object MultimodalQueries {

  /** Generalization ladder for the privacy family: account balance banded
    * 100 → 1000 → 5000 → dropped, nation/segment kept. Used by
    * `privacy_generalize` and PrivacySpec's lattice-walk pin. */
  private[graft] def privacyLadder: Seq[graft.ops.Privacy.GeneralizationLevel] = {
    val base = Seq("c_nationkey" -> col("c_nationkey"),
      "c_mktsegment" -> col("c_mktsegment"))
    Seq(
      graft.ops.Privacy.GeneralizationLevel("band100",
        base :+ ("bal_band" -> graft.ops.Privacy.band(col("c_acctbal"), 100.0))),
      graft.ops.Privacy.GeneralizationLevel("band1000",
        base :+ ("bal_band" -> graft.ops.Privacy.band(col("c_acctbal"), 1000.0))),
      graft.ops.Privacy.GeneralizationLevel("band5000",
        base :+ ("bal_band" -> graft.ops.Privacy.band(col("c_acctbal"), 5000.0))),
      graft.ops.Privacy.GeneralizationLevel("drop_bal", base))
  }

  /** Synthetic media dimensions from payload bytes — the resize-geometry
    * fixture (multimodal_resize), mirrored by [[DuckSynthDims]].
    * multimodal_meta no longer uses this: it decodes REAL container
    * headers instead (see the query). */
  private def synthDims(spark: SparkSession, dir: String): DataFrame =
    Multimodal.withPayload(Tables.documents(spark, dir), "doc_id", "text")
      .withColumn("n_bytes", expr("octet_length(payload)").cast("long"))
      .withColumn("width", (lit(32L) + col("n_bytes") % 512).cast("int"))
      .withColumn("height", (lit(32L) + (col("n_bytes") * 7) % 512).cast("int"))

  /** Shared boilerplate-corpus synthesis (Spark expr + DuckDB CTE pair):
    * the fixture text carries no newlines or cross-doc chrome, so the
    * boilerplate rows synthesize a per-source banner/footer every doc of
    * the source shares (df = docs-per-source, dropped at maxDocFreq 10),
    * a promo line shared by the doc_id%7 cohort (df crosses the threshold
    * only at larger SFs — the mid-band), and the sentence-split body.
    * Lives once so text_boilerplate and curation_full can't drift. */
  private val BoilerSynthExpr =
    "'subscribe to the ' || source || ' newsletter' || '\n' || " +
      "'promo code SAVE' || CAST(doc_id % 7 AS STRING) || '\n' || " +
      "replace(text, '. ', '\n') || '\n' || " +
      "'copyright ' || source || ' all rights reserved'"

  /** DuckDB replay of [[BoilerSynthExpr]]: ends in d0(doc_id, source, t). */
  private val DuckBoilerSynth =
    """d0 AS (SELECT doc_id, source,
      |   'subscribe to the ' || source || ' newsletter' || chr(10) ||
      |   'promo code SAVE' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
      |   replace(text, '. ', chr(10)) || chr(10) ||
      |   'copyright ' || source || ' all rights reserved' AS t
      | FROM documents)""".stripMargin

  private val DuckSynthDims =
    """SELECT doc_id AS media_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(32 + octet_length(encode(text)) % 512 AS INT) AS width,
      |  CAST(32 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height
      |FROM documents""".stripMargin

  /** One personalized-PageRank iteration (seed-only teleport and
    * dangling re-teleport — mirrors
    * [[graft.ops.Graph.personalizedPageRank]]): g_pr{i-1} → g_pr{i}.
    * graph_ppr unrolls four. */
  private def duckPprIter(i: Int): String = {
    val p = s"g_pr${i - 1}"
    s"""g_pc$i AS (SELECT e.dst, SUM(r.pr // o.odeg) AS cin
      |  FROM g_e e JOIN g_odeg o USING (src) JOIN $p r ON r.node = e.src GROUP BY e.dst),
      |g_pd$i AS (SELECT coalesce(SUM(pr), 0) AS dmass FROM $p WHERE node NOT IN (SELECT src FROM g_odeg)),
      |g_pr$i AS (SELECT nd.node, nd.is_seed,
      |    CAST(CASE WHEN nd.is_seed = 1 THEN (15 * CAST(1000000000 AS BIGINT) // 100) // ns.ns ELSE 0 END
      |      + (85 * (coalesce(c.cin, 0)
      |        + CASE WHEN nd.is_seed = 1 THEN d.dmass // ns.ns ELSE 0 END)) // 100 AS BIGINT) AS pr
      |  FROM g_snodes nd CROSS JOIN g_ns ns CROSS JOIN g_pd$i d LEFT JOIN g_pc$i c ON c.dst = nd.node)""".stripMargin
  }

  /** The Gopher rule battery as (name, DuckDB predicate over the
    * duckGopherMetrics `gm` columns) — the single source for
    * text_gopher_rules' per-doc replay and filter_attribution's
    * ablation table. */
  private val GopherRulePreds: Seq[(String, String)] = Seq(
    "r_word_count" -> "n_words BETWEEN 50 AND 100000",
    "r_word_len" -> "word_len_milli BETWEEN 3000 AND 10000",
    "r_symbol" -> "symbol_bp <= 1000",
    "r_bullet" -> "bullet_bp <= 9000",
    "r_ellipsis" -> "ellipsis_bp <= 3000",
    "r_alpha" -> "alpha_bp >= 8000",
    "r_stop" -> "stop_hits >= 2")

  private val GopherRuleNames: Seq[String] = GopherRulePreds.map(_._1)

  /** Shared replay of the connected-components labeling over `mh_pairs`
    * (requires [[DuckMinhashPairs]] earlier in the same WITH RECURSIVE):
    * ends with lab(doc_id, cluster_id) and sz(cluster_id, cluster_size).
    * Shared by dedup_clusters and dedup_keep_best. */
  private def duckComponentsLab(rel: String): String =
    s"""edges AS (SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
      |          UNION SELECT doc_b, doc_a FROM mh_pairs),
      |reach(node, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
      |cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
      |lab AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      |        FROM $rel d LEFT JOIN cc c ON d.doc_id = c.node),
      |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)""".stripMargin

  private val DuckComponentsLab = duckComponentsLab("documents")

  /** HLL register-state replay shared by sketch_hll and sketch_hll_merge
    * (merge-by-max must equal the single-pass state). */
  private val DuckHllSketch: String =
    """WITH toks AS (SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok FROM documents),
        |nz AS (SELECT source, tok FROM toks WHERE tok <> ''),
        |h AS (SELECT source, CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS hh FROM nz),
        |r AS (SELECT source, CAST(hh & 63 AS INT) AS j,
        |        CASE WHEN (hh >> 11) = 0 THEN 50 ELSE 50 - length(bin(hh >> 11)) END AS rho
        |      FROM h),
        |regs AS (SELECT source, j, MAX(rho) AS m FROM r GROUP BY 1, 2)
        |SELECT source,
        |  CAST(64 - COUNT(*) AS INT) AS hll_zeros,
        |  CAST(SUM(1::BIGINT << (50 - m)) + (64 - COUNT(*)) * (1::BIGINT << 50) AS BIGINT) AS hll_denom_scaled
        |FROM regs GROUP BY source ORDER BY source""".stripMargin

  /** The perceptual-hash replay: the payload BODY is exactly the
    * document's UTF-8 text bytes (the builders append them after each
    * format's fixed header), so the oracle hashes `hex(encode(text))`
    * with the same generated integer fragment
    * ([[graft.ops.Multimodal.dHashSampleCols]] /
    * [[graft.ops.Multimodal.dHashFromSamplesSql]]) the Spark side runs
    * over the stripped payload. Ends with the `ph(media_id, phash)` CTE
    * open for the caller to extend. */
  /** BPE merge-training replay: the word-frequency CTE (w0/s0), then per
    * round r: pair counts p_r over s_{r-1}, winner t_r by (cnt DESC, x, y),
    * merged sequences s_r via the same two-pass space-delimited replace the
    * Spark side runs ([[graft.ops.Bpe.applyMerge]]). Callers append the
    * final SELECT over t_1..t_R (merge table) or s_R (vocab). */
  private def duckBpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word FROM documents) t
      |  WHERE word <> '' GROUP BY word),
      |s0 AS (SELECT word, n,
      |         concat(trim(regexp_replace(word, '(.)', '\1 ', 'g')), ' </w>') AS seq
      |       FROM w0)""".stripMargin
    for (r <- 1 to rounds) {
      val prev = s"s${r - 1}"
      sb ++= s""",
        |p$r AS (SELECT l[i] AS x, l[i + 1] AS y, CAST(SUM(n) AS BIGINT) AS cnt FROM (
        |    SELECT n, l, unnest(generate_series(1, len(l) - 1)) AS i
        |    FROM (SELECT n, string_split(seq, ' ') AS l FROM $prev) a
        |    WHERE len(l) >= 2) b
        |  GROUP BY 1, 2),
        |t$r AS (SELECT x, y, cnt FROM p$r ORDER BY cnt DESC, x, y LIMIT 1),
        |s$r AS (SELECT word, n,
        |    trim(replace(replace(' ' || seq || ' ',
        |                         ' ' || t.x || ' ' || t.y || ' ', ' ' || t.x || t.y || ' '),
        |                 ' ' || t.x || ' ' || t.y || ' ', ' ' || t.x || t.y || ' ')) AS seq
        |  FROM $prev, t$r t)""".stripMargin
    }
    sb.toString
  }

  private def duckPhashSql(
      source: String = "SELECT doc_id AS media_id, text FROM documents"): String = {
    val samples = graft.ops.Multimodal
      .dHashSampleCols("hx", "blen", duck = true).mkString(",\n    ")
    s"""WITH p AS (SELECT media_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS blen FROM ($source)),
      |v AS (SELECT media_id,
      |    $samples
      |  FROM p),
      |ph AS (SELECT media_id, ${graft.ops.Multimodal.dHashFromSamplesSql} AS phash FROM v)""".stripMargin
  }

  /** BPE merge-training rounds for the tokenize_bpe rows — small enough
    * that the oracle's chained round CTEs stay readable, large enough
    * that merged symbols feed later rounds (multi-char x by round ~3). */
  private val BpeRounds = 6

  /** Deterministic HTML page synthesized around each document (ONE
    * dialect-shared expression — `||`, `replace`, and the literals parse
    * identically in Spark and DuckDB): head chrome with a style block and
    * a script containing markup-hostile characters, sentence breaks
    * promoted to paragraph boundaries, an entity-bearing nav list. The
    * text_html_extract row runs [[graft.ops.TextAnalysis.htmlExtract]]
    * over it and must recover clean block text in both engines. */
  private val HtmlSynthExpr =
    """'<html><head><style>p{margin:0}</style>' ||
      |'<script>var x = 1 < 2 && "q";</script></head><body><h1>' || source ||
      |'</h1><p>' || replace(text, '. ', '.</p><p>') ||
      |'</p><ul><li>nav</li><li>links &amp; more</li></ul></body></html>'"""
      .stripMargin.replace("\n", " ")

  /** The multimodal fixture payloads shared by the media rows: genuine
    * PNG/JPEG/WAV headers (round-robin by doc_id, dims/rate derived from
    * doc_id) built by the public-spec builders, with the document's text
    * bytes as the stand-in encoded stream. The oracles replay the same
    * doc_id arithmetic plus each format's fixed header size. */
  private def multimodalPayloads(s: SparkSession, dir: String): DataFrame =
    multimodalPayloadsOf(s, Tables.documents(s, dir))

  private def multimodalPayloadsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { iter =>
        iter.map { case (id, text) =>
          val body = text.getBytes("UTF-8")
          val w = 32 + ((id * 7) % 2048).toInt
          val h = 32 + ((id * 13) % 2048).toInt
          val payload = (id % 3) match {
            case 0 => Multimodal.buildPng(w, h, body)
            case 1 => Multimodal.buildJpeg(w, h, body)
            case _ => Multimodal.buildWav(8000 + (id % 6).toInt * 8000, 1 + (id % 2).toInt, body)
          }
          (id, payload)
        }
      }.toDF("media_id", "payload")
  }

  val all: Seq[Query] = Seq(
    Query("multimodal_meta", 0.371, (s, dir) => {
      // REAL header decode: fixture payloads carry genuine PNG/JPEG/WAV
      // headers (round-robin by doc_id, dims/rate derived from doc_id),
      // built by the public-spec builders and parsed back by
      // Multimodal.decodeHeader at the spec offsets (PNG IHDR big-endian
      // dims, JPEG SOFn walk, WAV fmt-chunk scan). The oracle replays
      // the same doc_id arithmetic plus each format's fixed header size
      // — a mismatch in either builder or parser breaks the hash.
      Multimodal.decodeMeta(multimodalPayloads(s, dir)).orderBy(col("media_id"))
    },
      // replays the payload construction arithmetic: header sizes are the
      // fixed builder sizes (PNG 33 = 8 sig + 25 IHDR chunk; JPEG 39 =
      // SOI + APP0 + DQT stub + SOF0; WAV 44 = RIFF + fmt + data header)
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |  CAST(octet_length(encode(text)) + CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 39 ELSE 44 END AS BIGINT) AS n_bytes,
        |  CASE WHEN doc_id % 3 < 2 THEN CAST(32 + (doc_id * 7) % 2048 AS INT) END AS width,
        |  CASE WHEN doc_id % 3 < 2 THEN CAST(32 + (doc_id * 13) % 2048 AS INT) END AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(8000 + (doc_id % 6) * 8000 AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(1 + doc_id % 2 AS INT) END AS n_channels
        |FROM documents ORDER BY media_id""".stripMargin),
    Query("multimodal_phash", 1.468, (s, dir) => {
      // content-derived image fingerprint: the 63-bit gradient hash
      // (dHash) over each payload's BODY byte grid — same fixture
      // payloads as multimodal_meta (real PNG/JPEG/WAV headers, text
      // bytes as the stand-in pixel stream), hash computed by the shared
      // integer fragment the oracle replays from hex(encode(text))
      Multimodal.phash(multimodalPayloads(s, dir))
        .orderBy(col("media_id"))
    },
      (duckPhashSql() +
      "\nSELECT media_id, phash FROM ph ORDER BY media_id")),
    Query("multimodal_neardup", 1.88, (s, dir) => {
      // hamming-banded image near-dedup — the multimodal analogue of
      // dedup_simhash: 3×21-bit bands block the corpus (pigeonhole: any
      // pair within the Hamming budget shares an intact band), exact
      // bit_count(xor) verifies. The %50 slice is re-ingested with a
      // same-length one-char edit (media_id + 10^7) — the "re-encoded
      // copy" a crawler sees — whose body grid differs at ≤1 sample, so
      // true near-dup pairs exist at every SF; the sentinel still guards
      // the empty case.
      val docs = Tables.documents(s, dir)
      val replica = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(lit("X"), expr("substring(text, 2)")).as("text"))
      val payloads = multimodalPayloadsOf(s,
        docs.select(col("doc_id"), col("text")).unionByName(replica))
      val hashes = Multimodal.phash(payloads)
      Multimodal.phashNearDup(hashes, "media_id", "phash", maxHamming = 6)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(0L).as("hamming")))
        .orderBy(col("id_a"), col("id_b"))
    },
      (duckPhashSql(
      """SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000000, 'X' || substring(text, 2)
        |  FROM documents WHERE doc_id % 50 = 0""".stripMargin) +
      s"""
        |, bands AS (SELECT media_id, phash, b,
        |    (phash >> (b * ${graft.ops.Multimodal.PhashBandBits})) & ${(1L << graft.ops.Multimodal.PhashBandBits) - 1L} AS band_val
        |  FROM ph, (SELECT unnest(range(0, ${graft.ops.Multimodal.PhashBands})) AS b)),
        |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.band_val = b.band_val
        |    AND a.media_id < b.media_id)
        |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 6
        |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT)
        |ORDER BY id_a, id_b""".stripMargin)),
    Query("multimodal_audio", 1.966, (s, dir) => {
      // audio frame statistics over the WAV slice of the fixture payloads
      // (media_id % 3 == 2 ⇒ buildWav, fixed 44-byte RIFF header): sampled
      // PCM16 energy/zero-cross/reversal/peak per frame + silence flag —
      // map-only integer SQL the oracle replays from hex(encode(text))
      val wav = multimodalPayloads(s, dir).filter(col("media_id") % 3 === 2)
      Multimodal.audioFrameStats(wav).orderBy(col("media_id"), col("frame_idx"))
    },
      {
      val m = graft.ops.Multimodal
      val samples = m.audioSampleCols("hx", "blen", duck = true).mkString(",\n    ")
      val stats = (0 until m.AudioFrames).flatMap(f => Seq(
        s"${m.audioFrameStatSql(f, "energy")} AS _e$f",
        s"${m.audioFrameStatSql(f, "zcross")} AS _z$f",
        s"${m.audioFrameStatSql(f, "reversals")} AS _r$f",
        s"${m.audioFrameStatSql(f, "peak")} AS _p$f")).mkString(",\n    ")
      def pick(p: String) = (0 until m.AudioFrames)
        .map(f => s"WHEN $f THEN $p$f").mkString("CASE frame_idx ", " ", " END")
      s"""WITH p AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS blen
        |  FROM documents WHERE doc_id % 3 = 2),
        |v AS (SELECT media_id,
        |    $samples
        |  FROM p),
        |fr AS (SELECT media_id,
        |    $stats
        |  FROM v),
        |x AS (SELECT *, CAST(unnest(generate_series(0, ${m.AudioFrames - 1})) AS INT) AS frame_idx FROM fr),
        |y AS (SELECT media_id, frame_idx,
        |    ${pick("_e")} AS energy, ${pick("_z")} AS zcross,
        |    ${pick("_r")} AS reversals, ${pick("_p")} AS peak FROM x)
        |SELECT media_id, frame_idx, energy, zcross, reversals, peak,
        |  CASE WHEN energy < ${m.AudioSilenceFloor} THEN 1 ELSE 0 END AS is_silence
        |FROM y ORDER BY media_id, frame_idx""".stripMargin
    }),
    Query("multimodal_audio_neardup", 1.694, (s, dir) => {
      // hamming-banded audio near-dedup — closes the multimodal dedup
      // triangle (image multimodal_neardup, text dedup_simhash, audio
      // here): 48-bit Haitsma-Kalker energy-delta fingerprints, 3×16-bit
      // bands block, bit_count(xor) verifies. The WAV slice's %50 rows
      // are re-ingested with a same-length one-char edit at +3·10^7 —
      // the offset is ≡ 0 mod 3 so the replica stays WAV (44-byte
      // header) and its body grid differs at one sample, flipping at
      // most the bits that read it; sentinel guards the empty case
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 3 === 2)
      val replica = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(30000000L)).as("doc_id"),
          concat(lit("X"), expr("substring(text, 2)")).as("text"))
      val payloads = multimodalPayloadsOf(s,
        docs.select(col("doc_id"), col("text")).unionByName(replica))
      val fps = Multimodal.audioFingerprint(payloads)
      Multimodal.audioNearDup(fps, "media_id", "afp", maxHamming = 4)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(0L).as("hamming")))
        .orderBy(col("id_a"), col("id_b"))
    },
      {
      // same sampled grid, same 48-bit energy-delta fingerprint fold,
      // same 3x16-bit banding + xor verify, replayed entirely in SQL
      val m = graft.ops.Multimodal
      val samples = m.audioSampleCols("hx", "blen", duck = true).mkString(",\n    ")
      s"""WITH p AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS blen
        |  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
        |        UNION ALL SELECT doc_id + 30000000, 'X' || substring(text, 2)
        |        FROM documents WHERE doc_id % 3 = 2 AND doc_id % 50 = 0)),
        |v AS (SELECT media_id,
        |    $samples
        |  FROM p),
        |fp AS (SELECT media_id, ${m.audioFingerprintFromSamplesSql} AS afp FROM v),
        |bands AS (SELECT media_id, afp, b,
        |    (afp >> (b * ${m.AudioFpBandBits})) & ${(1L << m.AudioFpBandBits) - 1L} AS band_val
        |  FROM fp, (SELECT unnest(range(0, ${m.AudioFpBands})) AS b)),
        |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.band_val = b.band_val
        |    AND a.media_id < b.media_id)
        |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 4
        |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT)
        |ORDER BY id_a, id_b""".stripMargin
    }),
    Query("tokenize_bpe", 1.241, (s, dir) => {
      // distributed BPE merge training (Sennrich et al. 2016): ONE corpus
      // pass builds the vocab-sized word-frequency table, then each round
      // is a pair-count shuffle over that table + a map-only literal
      // merge — the corpus is never re-scanned. The oracle replays all
      // rounds as chained CTEs (top pair by (cnt DESC, x, y), two-pass
      // space-delimited replace — the identical procedure in both engines).
      val words = graft.ops.Bpe.wordFrequencies(Tables.documents(s, dir))
      val (merges, _) = graft.ops.Bpe.learnMerges(words, rounds = BpeRounds)
      graft.ops.Bpe.mergesDf(s, merges).orderBy(col("merge_round"))
    },
      (duckBpeCtes(BpeRounds) + "\n" +
      (1 to BpeRounds).map(r =>
        s"SELECT $r AS merge_round, x, y, x || y AS merged, cnt FROM t$r")
        .mkString("", "\nUNION ALL ", "\nORDER BY merge_round"))),
    Query("tokenize_bpe_vocab", 1.284, (s, dir) => {
      // the encode side of the learned merges: weighted symbol totals of
      // the merged word table — top-20, ties broken by symbol
      val words = graft.ops.Bpe.wordFrequencies(Tables.documents(s, dir))
      val (_, encoded) = graft.ops.Bpe.learnMerges(words, rounds = BpeRounds)
      graft.ops.Bpe.vocabCounts(encoded)
        .orderBy(desc("total"), asc("symbol")).limit(20)
    },
      (duckBpeCtes(BpeRounds) + s""",
      |enc AS (SELECT n, unnest(string_split(seq, ' ')) AS symbol FROM s$BpeRounds)
      |SELECT symbol, CAST(SUM(n) AS BIGINT) AS total FROM enc GROUP BY symbol
      |ORDER BY total DESC, symbol LIMIT 20""".stripMargin)),
    Query("text_html_extract", 0.908, (s, dir) => {
      // crawl-ingest HTML→text: script/style drop, block-tag line breaks,
      // tag strip, single-pass entity unescape, line cleanup — map-only
      // regexp expressions over the synthesized page (HtmlSynthExpr)
      val html = Tables.documents(s, dir)
        .select(col("doc_id"), expr(HtmlSynthExpr).as("html"))
      TextAnalysis.htmlExtract(html, "doc_id", "html").orderBy(col("doc_id"))
    },
      {
      val t = graft.ops.TextAnalysis
      val ent = t.HtmlEntities.foldLeft("c") { case (acc, (e, r)) =>
        val rl = r.replace("'", "''")
        s"replace($acc, '$e', '$rl')"
      }
      s"""WITH hsyn AS (SELECT doc_id, $HtmlSynthExpr AS html FROM documents),
        |hclean AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(html,
        |      '${t.HtmlScriptPat}', ' ', 'g'),
        |      '${t.HtmlBlockPat}', chr(10), 'g'),
        |      '${t.HtmlTagPat}', ' ', 'g') AS c FROM hsyn),
        |hent AS (SELECT doc_id, $ent AS c2 FROM hclean),
        |hl AS (SELECT doc_id,
        |    list_filter(list_transform(string_split(c2, chr(10)),
        |      l -> trim(regexp_replace(l, '\\s+', ' ', 'g'))), l -> l <> '') AS ls
        |  FROM hent)
        |SELECT doc_id, array_to_string(ls, chr(10)) AS text_clean,
        |  CAST(len(ls) AS BIGINT) AS n_blocks
        |FROM hl ORDER BY doc_id""".stripMargin
    }),
    Query("dedup_soft", 1.457, (s, dir) => {
      // soft deduplication (the reweight-don't-drop posture of SoftDeDup,
      // He et al. 2024): every doc survives, but its sampling weight is
      // 1/cluster_size in integer bp — duplicates share one doc's worth
      // of probability mass instead of being removed. Same LSH pairs →
      // components machinery as dedup_clusters; the weight is one more
      // integer projection, so the scale shape is unchanged.
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", k = 3,
        numHashes = 16, maxBucket = Int.MaxValue)
      graft.ops.Components.clusterDocuments(docs, "doc_id", pairs, "doc_a", "doc_b")
        .withColumn("weight_bp", expr("10000 div cluster_size"))
        .select("doc_id", "cluster_size", "weight_bp")
        .orderBy(col("doc_id"))
    },
      // shared LSH-pair + components fragments, then the 1/size weight
      s"""WITH RECURSIVE $DuckMinhashPairs,
        |$DuckComponentsLab
        |SELECT l.doc_id, s.cluster_size, 10000 // s.cluster_size AS weight_bp
        |FROM lab l JOIN sz s ON l.cluster_id = s.cluster_id
        |ORDER BY l.doc_id""".stripMargin),
    Query("mix_doremi", 2.397, (s, dir) => {
      // DoReMi-style one-step domain reweighting (Xie et al. 2023,
      // "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
      // Pretraining") in an exact integer domain: per-domain excess loss
      // — the fluency gap to the best-fit domain under the self-trained
      // bigram LM (standing in for the proxy/reference pair) — feeds a
      // quantized multiplicative-weights update: multiplier 2^q with
      // q = min(7, gap div 200), applied to the document-count prior and
      // renormalized to bp. Log-free/exp-free so both engines agree
      // bit-for-bit; domains the LM fits worst are upweighted, the
      // DoReMi direction.
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.lmScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      // pin the ≤n_sources-row aggregate: best/tot/q all derive from it,
      // and without the pin each crossJoin replicates the whole LM-scoring
      // corpus subtree (~8 corpus scans in the unpinned plan)
      val per = Pin(scored.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        expr("sum(lm_bp) div count(1)").as("avg_lm_bp")))
      val best = per.agg(max("avg_lm_bp").as("_best"))
      val q = per.crossJoin(broadcast(best))
        .withColumn("excess_q", least(lit(7L), expr("(_best - avg_lm_bp) div 200")))
        .withColumn("_raw", expr("n_docs * (CAST(1 AS BIGINT) << excess_q)"))
      val tot = q.agg(sum("_raw").as("_tot"))
      q.crossJoin(broadcast(tot))
        .withColumn("weight_bp", expr("(10000 * _raw) div _tot"))
        .select("source", "n_docs", "avg_lm_bp", "excess_q", "weight_bp")
        .orderBy(col("source"))
    },
      // shared bigram-LM replay; the integer excess-loss reweighting on top
      s"""WITH ${duckLmCtes("documents")},
        |dsrc AS (SELECT doc_id, source FROM documents),
        |dper AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |           CAST(SUM(lm_bp) // COUNT(*) AS BIGINT) AS avg_lm_bp
        |         FROM lms JOIN dsrc USING (doc_id) GROUP BY source),
        |dbest AS (SELECT MAX(avg_lm_bp) AS b FROM dper),
        |dq AS (SELECT source, n_docs, avg_lm_bp,
        |         CAST(least(7, (b - avg_lm_bp) // 200) AS BIGINT) AS excess_q,
        |         n_docs * (CAST(1 AS BIGINT) << least(7, (b - avg_lm_bp) // 200)) AS raw
        |       FROM dper, dbest),
        |dtot AS (SELECT CAST(SUM(raw) AS BIGINT) AS t FROM dq)
        |SELECT source, n_docs, avg_lm_bp, excess_q,
        |  CAST((10000 * raw) // t AS BIGINT) AS weight_bp
        |FROM dq, dtot ORDER BY source""".stripMargin),
    Query("tokenize_bpe_encode", 2.39, (s, dir) => {
      // the train→tokenize step end to end: learn the merges, then encode
      // the corpus by broadcasting the vocab-sized merged word table into
      // one explode+join pass; only the per-doc agg shuffles
      val words = graft.ops.Bpe.wordFrequencies(Tables.documents(s, dir))
      val (_, encoded) = graft.ops.Bpe.learnMerges(words, rounds = BpeRounds)
      graft.ops.Bpe.encodeTokenCounts(Tables.documents(s, dir), encoded)
        .orderBy(col("doc_id"))
    },
      (duckBpeCtes(BpeRounds) + s""",
      |dw AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      |       FROM documents),
      |dwf AS (SELECT doc_id, word FROM dw WHERE word <> ''),
      |wl AS (SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym FROM s$BpeRounds)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(n_sym) AS BIGINT) AS bpe_tokens
      |FROM dwf JOIN wl USING (word) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Query("tokenize_fertility", 1.805, (s, dir) => {
      // tokenizer FERTILITY per source (tokens per word, the standard
      // tokenizer-quality metric a multilingual pipeline tracks per
      // language/domain — a high-fertility source is under-served by the
      // vocab and inflates its training cost): the BPE trainer + encode
      // pass, collapsed to per-source integer totals and bp fertility
      val docs = Tables.documents(s, dir)
      val words = graft.ops.Bpe.wordFrequencies(docs)
      val (_, encoded) = graft.ops.Bpe.learnMerges(words, rounds = BpeRounds)
      graft.ops.Bpe.encodeTokenCounts(docs, encoded)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("bpe_tokens")).as("bpe_tokens"))
        .select(col("source"), col("n_words"), col("bpe_tokens"),
          expr("(bpe_tokens * 10000) div n_words").as("fertility_bp"))
        .orderBy(col("source"))
    },
      (duckBpeCtes(BpeRounds) + s""",
      |dw AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      |       FROM documents),
      |dwf AS (SELECT doc_id, word FROM dw WHERE word <> ''),
      |wl AS (SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym FROM s$BpeRounds),
      |j AS (SELECT d2.source, wl.n_sym
      |      FROM dwf JOIN wl USING (word) JOIN documents d2 ON d2.doc_id = dwf.doc_id)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(n_sym) AS BIGINT) AS bpe_tokens,
      |  CAST((SUM(n_sym) * 10000) // COUNT(*) AS BIGINT) AS fertility_bp
      |FROM j GROUP BY source ORDER BY source""".stripMargin)),
    Query("multimodal_frames", 0.397, (s, dir) =>
      // sampled_frames is serialized to CSV here (not in frameSamplePlan,
      // whose API keeps the array): the driver's comparator sorts rows with
      // pandas, which cannot hash/sort numpy array cells
      Multimodal.frameSamplePlan(
        Multimodal.withPayload(Tables.documents(s, dir), "doc_id", "text")
          .withColumn("n_frames", (lit(1L) + col("media_id") % 240).cast("int")),
        stride = 10, maxFrames = 8)
        .withColumn("sampled_frames", array_join(col("sampled_frames"), ","))
        .orderBy(col("media_id")),
      """SELECT doc_id AS media_id, CAST(1 + doc_id % 240 AS INT) AS n_frames,
        |  array_to_string(generate_series(0, least(CAST(1 + doc_id % 240 AS INT) - 1, 70), 10), ',') AS sampled_frames,
        |  CAST(len(generate_series(0, least(CAST(1 + doc_id % 240 AS INT) - 1, 70), 10)) AS INT) AS n_sampled
        |FROM documents ORDER BY media_id""".stripMargin),
    Query("multimodal_shots", 1.159, (s, dir) =>
      // video temporal segmentation over the PNG-container slice: 16
      // uniformly-sampled frames → mean byte luma each → cut where the
      // frame-to-frame delta exceeds 16 — one map-only expression per
      // clip, no explode, no shuffle
      Multimodal.shotBoundaries(
        multimodalPayloads(s, dir).filter(col("media_id") % 3 === 0))
        .orderBy(col("media_id")),
      {
      // same generated luma/delta fragments with duck = true; the PNG
      // header never reaches the oracle (body = the raw text bytes)
      val m = graft.ops.Multimodal
      val lumas = m.videoLumaCols("hx", "blen", duck = true).mkString(",\n    ")
      s"""WITH p AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS blen
        |  FROM documents WHERE doc_id % 3 = 0),
        |v AS (SELECT media_id,
        |    $lumas
        |  FROM p)
        |SELECT media_id,
        |  ${m.shotStatSql("n_boundaries", 16L)} + 1 AS n_shots,
        |  ${m.shotStatSql("n_boundaries", 16L)} AS n_boundaries,
        |  ${m.shotStatSql("first_boundary", 16L)} AS first_boundary,
        |  ${m.shotStatSql("max_delta", 16L)} AS max_delta
        |FROM v ORDER BY media_id""".stripMargin
    }),
    Query("multimodal_keyframes", 2.1, (s, dir) =>
      // representative-frame extraction per shot (the thumbnail/embedding
      // frame a downstream image stage consumes): map-only inline flag +
      // cumulative shot-index sums over the luma grid; the only explode
      // is the ≤16-struct array per clip
      Multimodal.keyframes(
        multimodalPayloads(s, dir).filter(col("media_id") % 3 === 0))
        .orderBy(col("media_id"), col("shot_idx")),
      {
      // same luma fragments; one SELECT per frame position gated on its
      // start flag, unioned — the explode-free dialect of the struct array
      val m = graft.ops.Multimodal
      val lumas = m.videoLumaCols("hx", "blen", duck = true).mkString(",\n    ")
      val rows = (0 until m.VideoFrames).map { f =>
        s"""SELECT media_id, CAST(${m.keyframeShotIdxSql(f, 16L)} AS BIGINT) AS shot_idx,
          |  CAST($f AS BIGINT) AS start_frame, CAST(_l$f AS BIGINT) AS luma
          |FROM v WHERE ${m.keyframeFlagSql(f, 16L)} = 1""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH p AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS blen
        |  FROM documents WHERE doc_id % 3 = 0),
        |v AS (SELECT media_id,
        |    $lumas
        |  FROM p)
        |$rows
        |ORDER BY media_id, shot_idx""".stripMargin
    }),
    Query("multimodal_video_neardup", 1.662, (s, dir) => {
      // hamming-banded video near-dedup — completes the per-modality
      // dedup square (text dedup_simhash, image multimodal_neardup,
      // audio multimodal_audio_neardup, video here): 45-bit
      // spatio-temporal luma double-difference fingerprints over the
      // same sampled grid as multimodal_shots, 3×15-bit bands block,
      // bit_count(xor) verifies. The PNG slice's %50 rows re-ingest
      // with a same-length one-char edit at +3·10^7 (≡ 0 mod 3 keeps
      // the replica in-slice): the edit moves ONE grid sample, flipping
      // at most the bits that read it; sentinel guards the empty case
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
      val replica = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(30000000L)).as("doc_id"),
          concat(lit("X"), expr("substring(text, 2)")).as("text"))
      val payloads = multimodalPayloadsOf(s,
        docs.select(col("doc_id"), col("text")).unionByName(replica))
      val fps = Multimodal.videoFingerprint(payloads)
      Multimodal.videoNearDup(fps, "media_id", "vfp", maxHamming = 4)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(0L).as("hamming")))
        .orderBy(col("id_a"), col("id_b"))
    },
      {
      // same raw sampled grid, same 45-bit luma double-difference fold,
      // same 3x15-bit banding + xor verify, replayed entirely in SQL;
      // the PNG header never reaches the oracle (body = raw text bytes)
      val m = graft.ops.Multimodal
      val samples = m.videoSampleCols("hx", "blen", duck = true).mkString(",\n    ")
      s"""WITH p AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS blen
        |  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |        UNION ALL SELECT doc_id + 30000000, 'X' || substring(text, 2)
        |        FROM documents WHERE doc_id % 3 = 0 AND doc_id % 50 = 0)),
        |v AS (SELECT media_id,
        |    $samples
        |  FROM p),
        |fp AS (SELECT media_id, ${m.videoFingerprintFromSamplesSql} AS vfp FROM v),
        |bands AS (SELECT media_id, vfp, b,
        |    (vfp >> (b * ${m.VideoFpBandBits})) & ${(1L << m.VideoFpBandBits) - 1L} AS band_val
        |  FROM fp, (SELECT unnest(range(0, ${m.VideoFpBands})) AS b)),
        |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    CAST(bit_count(xor(a.vfp, b.vfp)) AS BIGINT) AS hamming
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.band_val = b.band_val
        |    AND a.media_id < b.media_id)
        |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 4
        |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT)
        |ORDER BY id_a, id_b""".stripMargin
    }),
    Query("curation_pipeline", 1.03, (s, dir) => {
      // the operators composed as one curation DAG: quality gate →
      // length gate → exact dedup (keep canonical) → deterministic split
      val docs = Tables.documents(s, dir)
      val gated = docs
        .join(TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score")), "doc_id")
        .filter(col("quality_score") >= 60 && Norm.minFulltextChars(col("text"), 200))
      // canonical flag via one window over gated — not a second gated
      // subtree joined back (quality scoring would run twice)
      val kept = gated
        .withColumn("_canon", min(col("doc_id")).over(
          Window.partitionBy(md5(col("text")))))
        .filter(col("doc_id") === col("_canon")).drop("_canon")
      graft.ops.Sampling.hashSplit(kept, "doc_id")
        .groupBy(col("source"), col("split")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("split"))
    },
      s"""WITH $DuckQualityScore,
        |gated AS (SELECT d.doc_id, d.source, d.text FROM documents d JOIN qsc ON d.doc_id = qsc.doc_id
        |          WHERE qsc.score >= 60 AND length(d.text) >= 200),
        |canon AS (SELECT doc_id FROM (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS cid FROM gated) WHERE doc_id = cid),
        |sp AS (SELECT source, CASE WHEN bp < 9000 THEN 'train' WHEN bp < 9500 THEN 'val' ELSE 'test' END AS split
        |       FROM (SELECT g.source, CAST('0x' || substring(md5(CAST(g.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bp
        |             FROM gated g JOIN canon c ON g.doc_id = c.doc_id))
        |SELECT source, split, COUNT(*) AS n FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("pipeline_e2e", 2.009, (s, dir) => {
      // the A5+dedup composition as ONE job — ingest (length gate) →
      // fixed-window chunk → embed (mapPartitions, not prunable) → exact
      // chunk dedup (canonical = min chunk_id per text digest) → keyed
      // upsert (the doc_id%3==0 slice re-ingested as version 2, winning
      // over the initial version-1 rows) → per-source summary. Catches
      // stage-COMPOSITION regressions (schema drift between stages, dedup
      // dropping the upsert key, upsert clobbering chunk lineage) that the
      // per-stage rows can't see.
      val docs = Tables.documents(s, dir).filter(length(col("text")) >= 200)
      // `source` rides the chunk explode (carryCols) so the summary never
      // re-joins documents — the whole composition stays one pass
      val embedded = Embedders.embedColumn(
        Chunkers.fixedWindowsExpr(docs, "doc_id", "text", 120, 12,
          carryCols = Seq("source")), "chunk_text")
      // canonical chunk per distinct text; pinned so the chunk+embed DAG
      // runs once for both upsert sides (the nearDuplicates rationale)
      val canon = Pin(embedded
        .withColumn("_cid", min(col("chunk_id")).over(Window.partitionBy(md5(col("chunk_text")))))
        .filter(col("chunk_id") === col("_cid")).drop("_cid"))
      val upserted = VectorOps.upsert(
        canon.withColumn("version", lit(1)),
        canon.filter(col("doc_id") % 3 === 0).withColumn("version", lit(2)),
        "chunk_id")
      upserted
        .groupBy(col("source"), col("version"))
        .agg(count(lit(1)).as("n_chunks"), countDistinct(col("doc_id")).as("n_docs"),
          max(col("embedding_dim")).as("dim"))
        .orderBy(col("source"), col("version"))
    },
      // chunk CTE = the chunk_fixed replay over length-gated docs; dedup =
      // min chunk_id per md5(chunk_text); upsert = version-2 slice wins
      """WITH t AS (SELECT doc_id, source, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t
        |           FROM documents WHERE length(text) >= 200),
        |w AS (SELECT doc_id, source, t,
        |        unnest(generate_series(0, CAST(1 + greatest(0, ceil((length(t) - 120) / 108.0)) AS INT) - 1)) AS chunk_index
        |      FROM t WHERE length(t) > 0),
        |ch AS (SELECT doc_id || '::c' || chunk_index AS chunk_id, doc_id, source,
        |         trim(substring(t, chunk_index * 108 + 1, 120)) AS chunk_text
        |       FROM w WHERE trim(substring(t, chunk_index * 108 + 1, 120)) <> ''),
        |canon AS (SELECT chunk_id, doc_id, source FROM (
        |            SELECT *, MIN(chunk_id) OVER (PARTITION BY md5(chunk_text)) AS cid FROM ch)
        |          WHERE chunk_id = cid),
        |up AS (SELECT chunk_id, doc_id, source, 1 AS version FROM canon WHERE doc_id % 3 <> 0
        |       UNION ALL
        |       SELECT chunk_id, doc_id, source, 2 AS version FROM canon WHERE doc_id % 3 = 0)
        |SELECT source, version, COUNT(*) AS n_chunks, COUNT(DISTINCT doc_id) AS n_docs,
        |       CAST(64 AS INT) AS dim
        |FROM up GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("text_redact", 1.231, (s, dir) =>
      // PII scrub over text with synthesized email/URL/phone (the fixture
      // corpus carries none); redacted content compared via md5
      TextAnalysis.redactPii(
        Tables.documents(s, dir).withColumn("text",
          expr("text || ' contact user' || doc_id || '@example.com or https://example.org/doc/' || doc_id || ' tel +1 (555) 010-' || doc_id")),
        "doc_id", "text")
        .select(col("doc_id"), col("n_emails"), col("n_urls"), col("n_phones"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy(col("doc_id")),
      """WITH d AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or https://example.org/doc/' || doc_id || ' tel +1 (555) 010-' || doc_id AS t
        |  FROM documents),
        |r AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '(\+[0-9][0-9()\-. ]{7,}[0-9]|\([0-9]{2,4}\)[-. ]?[0-9][0-9\-. ]{5,}[0-9])', '<PHONE>', 'g') AS red
        |  FROM d)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(red, '<EMAIL>')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(red, '<URL>')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(red, '<PHONE>')) AS BIGINT) AS n_phones,
        |  md5(red) AS redacted_md5
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("text_repetition", 2.285, (s, dir) =>
      // Gopher-style repetition filters over sentence-split lines
      TextAnalysis.repetition(
        Tables.documents(s, dir).withColumn("text", expr("replace(text, '. ', '\n')")),
        "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH d AS (SELECT doc_id, replace(text, '. ', chr(10)) AS t FROM documents),
        |l AS (SELECT doc_id, list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)), x -> x <> '') AS lines FROM d),
        |lm AS (SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
        |         CAST(CASE WHEN len(lines) > 0 THEN 10000 * (len(lines) - len(list_distinct(lines))) // len(lines) ELSE 0 END AS BIGINT) AS dup_line_bp
        |       FROM l),
        |tk AS (SELECT doc_id, string_split(trim(regexp_replace(lower(t), '\s+', ' ', 'g')), ' ') AS toks FROM d),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) AS b
        |       FROM tk WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |bm AS (SELECT doc_id, CAST(10000 * MAX(c) // SUM(c) AS BIGINT) AS top_bigram_bp FROM bc GROUP BY 1)
        |SELECT lm.doc_id, lm.n_lines, lm.dup_line_bp, coalesce(bm.top_bigram_bp, 0) AS top_bigram_bp
        |FROM lm LEFT JOIN bm ON lm.doc_id = bm.doc_id ORDER BY lm.doc_id""".stripMargin),
    Query("optout_filter", 0.734, (s, dir) => {
      // publisher opt-out / takedown gate over synthesized crawl URLs
      // (the url_canonical corpus): SUFFIX semantics — example3.com
      // blocks every subdomain; nested entries resolve to the DEEPEST
      // match (sub2.example5.com beats example5.com where both apply);
      // example999.com matches nothing. Output = the suppressed audit
      // slice (doc, host, which entry fired).
      import s.implicits._
      val docs = Tables.documents(s, dir).withColumn("url",
        expr("'HTTPS://Sub' || CAST(doc_id % 7 AS STRING) || '.Example' || CAST(doc_id % 13 AS STRING) || " +
          "'.com/path/' || CAST(doc_id AS STRING)"))
      val optout = Seq("example3.com", "example5.com", "sub2.example5.com", "example999.com").toDF("domain")
      TextAnalysis.suppressByDomain(docs, "doc_id", "url", optout)
        .filter(col("suppressed"))
        .select(col("doc_id"), col("host"), col("matched_domain"))
        .orderBy(col("doc_id"))
    },
      // suffix explode replayed literally: label chain i..n per host, join
      // the VALUES list, deepest (most-labels) entry wins per doc
      """WITH d AS (SELECT doc_id,
        |        lower('sub' || CAST(doc_id % 7 AS VARCHAR) || '.example' || CAST(doc_id % 13 AS VARCHAR) || '.com') AS host
        |      FROM documents),
        |opt AS (SELECT * FROM (VALUES ('example3.com'), ('example5.com'), ('sub2.example5.com'), ('example999.com')) t(domain)),
        |lab AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM d),
        |sfx AS (SELECT doc_id, host, len(ls) - i + 1 AS n_labels,
        |          array_to_string(list_slice(ls, i, len(ls)), '.') AS sfx
        |        FROM (SELECT doc_id, host, ls, unnest(generate_series(1, len(ls))) AS i FROM lab) b),
        |m AS (SELECT s.doc_id, s.host, s.sfx, s.n_labels,
        |        row_number() OVER (PARTITION BY s.doc_id ORDER BY s.n_labels DESC) AS rn
        |      FROM sfx s JOIN opt o ON s.sfx = o.domain)
        |SELECT doc_id, host, sfx AS matched_domain FROM m WHERE rn = 1
        |ORDER BY doc_id""".stripMargin),
    Query("crawl_robots", 0.595, (s, dir) =>
      // robots-exclusion path gate over synthesized crawl paths: the
      // rule battery exercises longest-match override (/s0/public/
      // allows inside disallowed /s0/), the same-length allow-wins tie
      // (/s2/p/ twice), and the unmatched default-allow (/s3/, and
      // /s2/public/ which misses the /s2/p/ prefix)
      TextAnalysis.robotsGate(
        Tables.documents(s, dir).withColumn("path",
          expr("'/s' || CAST(doc_id % 4 AS STRING) || " +
            "(CASE WHEN doc_id % 3 = 0 THEN '/public' ELSE '' END) || " +
            "'/p/' || CAST(doc_id AS STRING)")),
        "doc_id", "path",
        Seq("/s0/" -> false, "/s0/public/" -> true, "/s1/" -> false,
            "/s2/p/" -> true, "/s2/p/" -> false))
        .orderBy(col("doc_id")),
      // longest matching prefix governs; allow wins the same-length tie
      // (the ORDER BY of the per-doc pick encodes both), unmatched path
      // defaults to allowed with the -1 sentinel length
      """WITH u AS (SELECT doc_id,
        |    '/s' || CAST(doc_id % 4 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/public' ELSE '' END) ||
        |    '/p/' || CAST(doc_id AS VARCHAR) AS path
        |  FROM documents),
        |rules(rule_path, rule_allow) AS (VALUES
        |  ('/s0/', 0), ('/s0/public/', 1), ('/s1/', 0), ('/s2/p/', 1), ('/s2/p/', 0)),
        |m AS (SELECT doc_id, rule_path, CAST(rule_allow AS BIGINT) AS rule_allow,
        |    CAST(len(rule_path) AS BIGINT) AS rule_len,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY len(rule_path) DESC, rule_allow DESC, rule_path) AS rn
        |  FROM u JOIN rules ON starts_with(path, rule_path)),
        |w AS (SELECT doc_id, rule_allow, rule_path, rule_len FROM m WHERE rn = 1)
        |SELECT u.doc_id, u.path,
        |  CAST(coalesce(w.rule_allow, 1) AS BIGINT) AS allowed,
        |  coalesce(w.rule_path, '') AS rule_path,
        |  CAST(coalesce(w.rule_len, -1) AS BIGINT) AS rule_len
        |FROM u LEFT JOIN w USING (doc_id) ORDER BY u.doc_id""".stripMargin),
    Query("url_canonical", 0.466, (s, dir) =>
      // crawl-curation URL normalization over synthesized URLs (the
      // fixture corpus carries none, like text_redact): mixed-case
      // scheme/host, a %3-of-docs trailing slash, and utm/fbclid tracking
      // params that must scrub out of the canonical form
      TextAnalysis.urlParts(
        Tables.documents(s, dir).withColumn("url",
          expr("'HTTPS://Sub' || CAST(doc_id % 7 AS STRING) || '.Example' || CAST(doc_id % 13 AS STRING) || " +
            "'.com/path/' || CAST(doc_id AS STRING) || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) || " +
            "'?utm_source=feed&id=' || CAST(doc_id AS STRING) || '&fbclid=x' || CAST(doc_id AS STRING) || '&q=term'")),
        "doc_id", "url")
        .orderBy(col("doc_id")),
      // same synthesized URLs; RE2's \1 group ref in the scrub replacement
      // where Spark's Java regex uses $1 — same semantics, own dialects.
      // Host regex mirrors urlParts: non-captured userinfo skip, port strip.
      """WITH d AS (SELECT doc_id,
        |  'HTTPS://Sub' || CAST(doc_id % 7 AS VARCHAR) || '.Example' || CAST(doc_id % 13 AS VARCHAR) ||
        |  '.com/path/' || CAST(doc_id AS VARCHAR) || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |  '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&fbclid=x' || CAST(doc_id AS VARCHAR) || '&q=term' AS url
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/?#:]+)', 1)) AS host,
        |  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query FROM d),
        |s AS (SELECT doc_id, scheme, host,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |  regexp_replace(path, '/+$', '') AS clean_path,
        |  trim(regexp_replace(regexp_replace(query, '(^|&)(utm_[^=&]*|gclid|fbclid)=[^&]*', '\1', 'g'), '&+', '&', 'g'), '&') AS clean_query
        |  FROM p)
        |SELECT doc_id, scheme, host, domain, clean_path,
        |  scheme || '://' || host || clean_path ||
        |  (CASE WHEN clean_query <> '' THEN '?' || clean_query ELSE '' END) AS canonical_url
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("text_dup_spans", 2.347, (s, dir) =>
      // exact-substring duplication diagnostic (Lee et al.): per doc, the
      // fraction of 5-token span occurrences shared verbatim with any
      // other document — catches quoted/copied passages that
      // document-level Jaccard dilutes away
      Dedup.duplicatedSpanStats(Tables.documents(s, dir), "doc_id", "text", k = 5)
        .orderBy(col("doc_id")),
      // same shingle arithmetic as the minhash fragment (k=5, occurrences
      // NOT distinct); span df over DISTINCT (doc, hash); HUGEINT-guarded
      // casts on every aggregate
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
        |         THEN list_transform(generate_series(0, len(toks) - 5), i -> array_to_string(list_slice(toks, i + 1, i + 5), ' '))
        |         ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t),
        |h AS (SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS hv FROM sh),
        |dfx AS (SELECT hv, CAST(COUNT(*) AS BIGINT) AS span_df
        |        FROM (SELECT DISTINCT doc_id, hv FROM h) GROUP BY hv)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |  (10000 * CAST(SUM(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS dup_span_bp
        |FROM h JOIN dfx USING (hv)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("dedup_cdc_chunks", 1.817, (s, dir) =>
      // storage-tier dedup: content-defined chunk boundaries (local
      // bigram hash clears the 63-mask → ~64-token chunks) are
      // insertion-resistant, so shared bulk between edited revisions
      // stays alignable where fixed windows fragment it; per-doc stats
      // of chunks whose exact digest recurs across documents
      graft.ops.Dedup.cdcChunkStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      // same tokenization, boundary = 60-bit bigram hash % 64 == 0,
      // running-sum segment ids, chunk digests via ORDER BY string_agg
      // (== Spark's array_sort reassembly), digest spread by distinct
      // doc count
      """WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS tk FROM documents),
        |x AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM t),
        |y AS (SELECT doc_id, i, tk[i] AS tok,
        |    CASE WHEN i > 1 THEN tk[i - 1] ELSE NULL END AS prev FROM x),
        |b AS (SELECT doc_id, i, tok,
        |    CASE WHEN prev IS NOT NULL AND
        |      (CAST('0x' || substring(md5(prev || ' ' || tok), 1, 15) AS BIGINT) % 64) = 0
        |    THEN 1 ELSE 0 END AS nb FROM y),
        |s AS (SELECT doc_id, i, tok,
        |    SUM(nb) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS seg FROM b),
        |c AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS ctok,
        |    md5(string_agg(tok, ' ' ORDER BY i)) AS digest FROM s GROUP BY 1, 2),
        |sp AS (SELECT digest, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs FROM c GROUP BY 1),
        |o AS (SELECT c.doc_id, CAST(SUM(ctok) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
        |    CAST(SUM(CASE WHEN ndocs >= 2 THEN ctok ELSE 0 END) AS BIGINT) AS dup_tokens
        |  FROM c JOIN sp USING (digest) GROUP BY 1)
        |SELECT doc_id, n_tokens, n_chunks, dup_chunks, dup_tokens,
        |  CAST(dup_tokens * 10000 // n_tokens AS BIGINT) AS dup_bp
        |FROM o ORDER BY doc_id""".stripMargin),
    Query("dedup_span_removal", 1.973, (s, dir) =>
      // the action half of text_dup_spans: tokens covered by any
      // cross-document verbatim 5-gram are REMOVED and the survivors
      // reassembled in order — sub-document dedup where whole-doc dedup
      // would keep the copied passage or discard the document
      Dedup.removeDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 5)
        .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id")),
      // positioned spans ({'p', 's'} structs), df over DISTINCT (doc,
      // hash), duplicated-token positions via bounded per-span unnest
      // (short-doc clamp least(p+4, n-1)), reassembly = string_agg ORDER
      // BY position == Spark's array_sort on (t, tok) structs
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |tt AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |sp AS (SELECT doc_id, n, unnest(CASE WHEN n >= 5
        |        THEN list_transform(generate_series(0, n - 5), i -> {'p': i, 's': array_to_string(list_slice(toks, i + 1, i + 5), ' ')})
        |        ELSE [{'p': 0, 's': array_to_string(toks, ' ')}] END) AS u FROM tt),
        |sph AS (SELECT doc_id, n, u.p AS p, CAST('0x' || substring(md5(u.s), 1, 15) AS BIGINT) AS hv FROM sp),
        |dfx AS (SELECT hv, CAST(COUNT(*) AS BIGINT) AS span_df
        |        FROM (SELECT DISTINCT doc_id, hv FROM sph) GROUP BY hv),
        |dup AS (SELECT DISTINCT doc_id, tpos FROM (
        |          SELECT doc_id, unnest(generate_series(p, least(p + 4, n - 1))) AS tpos
        |          FROM sph JOIN dfx USING (hv) WHERE span_df >= 2)),
        |tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM tt),
        |tk AS (SELECT doc_id, i - 1 AS tpos, toks[i] AS tok FROM tok),
        |m AS (SELECT tk.doc_id, tk.tpos, tk.tok, (dup.tpos IS NOT NULL) AS isdup
        |      FROM tk LEFT JOIN dup ON tk.doc_id = dup.doc_id AND tk.tpos = dup.tpos)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_tokens,
        |  md5(coalesce(string_agg(CASE WHEN NOT isdup THEN tok END, ' ' ORDER BY tpos), '')) AS clean_md5
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("orc_roundtrip", 0.817, (s, dir) => {
      // the ORC source/sink pair oracle-gated: projected documents written
      // ORC partitioned by lang, read back, aggregated — round-trip
      // identity the oracle replays straight from the parquet table
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_orc_${s.sparkContext.applicationId}").getAbsolutePath
      val proj = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        col("lang"), length(col("text")).cast("long").as("n_chars"))
      graft.io.Writers.orcSink(proj, base, partitionBy = Seq("lang"))
      Readers.loadOrc(s, base)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("source"))
    },
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin),
    Query("compact_roundtrip", 1.625, (s, dir) => {
      // small-file compaction oracle-gated: 40 tiny files committed as a
      // generation-marker table, compacted as the NEXT generation
      // (GenTable — the one crash-safe maintenance protocol), content
      // must survive byte-for-byte (the oracle aggregates the original
      // table; GenTableSpec owns the file-count and crash assertions)
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_compact_${s.sparkContext.applicationId}").getAbsolutePath
      val frag = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars"))
        .repartition(40)
      graft.io.GenTable.replace(s, base, frag)
      graft.io.GenTable.compact(s, base, targetBytes = 4L << 20)
      graft.io.GenTable.read(s, base).get
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars")).as("sum_chars"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin),
    Query("join_salted", 0.592, (s, dir) => {
      // skew-salted join oracle-gated: salting must be RESULT-INVISIBLE
      // (the oracle is the plain join) while the plan replicates the dim
      // side by the salt factor — ScaleSpec owns the plan assertions
      val docs = Tables.documents(s, dir)
      val dims = docs.groupBy(col("source"))
        .agg(countDistinct(col("lang")).as("n_langs"))
      graft.ops.Skew.saltedJoin(docs.select(col("doc_id"), col("source")), dims, "source")
        .groupBy(col("source"), col("n_langs"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    },
      """WITH dims AS (SELECT source, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |              FROM documents GROUP BY 1)
        |SELECT d.source, m.n_langs, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents d JOIN dims m USING (source)
        |GROUP BY 1, 2 ORDER BY d.source""".stripMargin),
    Query("join_bucketed", 1.562, (s, dir) => {
      // bucketed co-located join oracle-gated: both sides written
      // bucketBy(16, doc_id) sorted, joined zero-exchange (K9 / the
      // co-location claim — WritersSpec asserts the exchange-free plan);
      // the oracle is the plain join over the source table
      val tag = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val docs = Tables.documents(s, dir)
      val tA = s"graft_bkt_meta_$tag"; val tB = s"graft_bkt_lens_$tag"
      graft.io.Writers.bucketedTableSink(docs.select(col("doc_id"), col("source")), tA, "doc_id", 16)
      graft.io.Writers.bucketedTableSink(docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars")), tB, "doc_id", 16)
      s.table(tA).join(s.table(tB), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    },
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin),
    Query("join_runtime_filter", 1.666, (s, dir) => {
      // the 100 TB fact-join posture: NEITHER side broadcastable, so opt
      // in to Catalyst's runtime bloom-filter semi-join reduction
      // (InjectRuntimeFilter): the selective order-priority filter builds
      // a bloom over o_orderkey that prunes lineitem rows BEFORE the join
      // shuffle. Conf lives in a child session (newSession shares the
      // catalog/state, isolates conf); the result is conf-invariant — the
      // oracle is the plain join — while PlanShapeSpec pins the
      // bloom_filter_might_contain injection itself.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.lineitem(s2, dir)
        .withColumn("price_c", expr("cast(round(l_extendedprice * 100) as bigint)"))
        .withColumn("disc_c", expr("cast(round(l_discount * 100) as bigint)"))
      val o = Tables.orders(s2, dir).filter(col("o_orderpriority") === "1-URGENT")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("price_c") * (lit(100L) - col("disc_c"))).as("revenue_c4"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      // plain-join replay: the bloom semi-join reduction must be
      // result-invariant, so the oracle carries no trace of it
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)*(100-CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("dedup_paragraphs", 0.801, (s, dir) =>
      // the middle granularity tier (MassiveText's exact-paragraph dedup):
      // every paragraph keeps exactly its FIRST occurrence in global
      // (doc, position) order — later verbatim copies drop, unique content
      // never lost (unlike the boilerplate df-threshold tier, which drops
      // ALL copies, and the 5-gram span tier, which drops every
      // occurrence). Paragraphs = the sentence-split convention.
      Dedup.dedupParagraphsKeepFirst(
        Tables.documents(s, dir).withColumn("text", expr("replace(text, '. ', '\n')")),
        "doc_id", "text")
        .select(col("doc_id"), col("n_paras"), col("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id")),
      // keep-first = rn 1 over (doc, position) order within each 60-bit
      // paragraph hash; reassembly is the usual string_agg ORDER BY
      // position == Spark's array_sort on (idx, para) structs
      """WITH d AS (SELECT doc_id, string_split(replace(text, '. ', chr(10)), chr(10)) AS ls FROM documents),
        |p0 AS (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM d),
        |p AS (SELECT doc_id, i - 1 AS para_idx, trim(ls[i]) AS para FROM p0 WHERE trim(ls[i]) <> ''),
        |h AS (SELECT *, CAST('0x' || substring(md5(para), 1, 15) AS BIGINT) AS ph FROM p),
        |r AS (SELECT *, row_number() OVER (PARTITION BY ph ORDER BY doc_id, para_idx) AS rn FROM h)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY para_idx), '')) AS clean_md5
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("profile_columns", 0.794, (s, dir) =>
      // dataset profiling (the data-card surface): per column — rows,
      // nulls, EXACT distinct count, min/max rendered as strings; all
      // columns in ONE scan (single agg, one Expand for the distincts)
      graft.ops.Stats.profileColumns(Tables.documents(s, dir),
        Seq("doc_id", "source", "lang"))
        .orderBy(col("col_name")),
      """SELECT 'doc_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |  CAST(MIN(doc_id) AS VARCHAR) AS min_str, CAST(MAX(doc_id) AS VARCHAR) AS max_str
        |FROM documents
        |UNION ALL
        |SELECT 'lang', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(lang) AS BIGINT),
        |  CAST(COUNT(DISTINCT lang) AS BIGINT), CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'source', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(source) AS BIGINT),
        |  CAST(COUNT(DISTINCT source) AS BIGINT), CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
        |FROM documents
        |ORDER BY col_name""".stripMargin),
    Query("text_boilerplate", 1.161, (s, dir) => {
      // CCNet-style cross-document line dedup: lines shared by more than
      // 10 docs of the same source are boilerplate (banners, footers) and
      // are removed with original line order preserved. The fixture text
      // carries no newlines or shared chrome, so both are synthesized
      // (the text_repetition convention): a per-source banner/footer
      // every doc shares (df = docs-per-source, dropped), a promo line
      // shared by the doc_id%7 cohort (df crosses the threshold only at
      // larger SFs — the mid-band), and the sentence-split body.
      val docs = Tables.documents(s, dir).withColumn("text", expr(BoilerSynthExpr))
      TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", "source",
        maxDocFreq = 10L)
        .select(col("doc_id"), col("n_lines"), col("n_boiler_lines"),
          length(col("clean_text")).cast("long").as("n_chars_clean"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },
      // same synthesized banner/promo/body/footer; df counted over
      // DISTINCT docs per (source, 60-bit line hash); reassembly order is
      // string_agg ORDER BY line_idx == Spark's array_sort on
      // (line_idx, line) structs; all-boiler docs rebuild to '' via the
      // same coalesce
      s"""WITH $DuckBoilerSynth,
        |t AS (SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM d0),
        |l0 AS (SELECT doc_id, source, ls, unnest(generate_series(1, len(ls))) AS i FROM t),
        |l AS (SELECT doc_id, source, i AS line_idx, trim(ls[i]) AS line FROM l0 WHERE trim(ls[i]) <> ''),
        |h AS (SELECT doc_id, source, line_idx, line, CAST('0x' || substring(md5(line), 1, 15) AS BIGINT) AS lh FROM l),
        |dfx AS (SELECT source, lh, COUNT(DISTINCT doc_id) AS line_df FROM h GROUP BY 1, 2),
        |k AS (SELECT h.doc_id, h.line_idx, h.line, (x.line_df > 10) AS boiler
        |      FROM h JOIN dfx x ON h.source = x.source AND h.lh = x.lh),
        |r AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |        CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_lines,
        |        coalesce(string_agg(CASE WHEN NOT boiler THEN line END, chr(10) ORDER BY line_idx), '') AS clean
        |      FROM k GROUP BY doc_id)
        |SELECT doc_id, n_lines, n_boiler_lines,
        |  CAST(length(clean) AS BIGINT) AS n_chars_clean, md5(clean) AS clean_md5
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("curation_adaptive", 0.892, (s, dir) => {
      // adaptive per-source quality gate: each source keeps its own top
      // 75% by ITS quality distribution (threshold = exact per-source
      // 25th-percentile score, nearest-rank) — the per-domain adaptive
      // filter a heterogeneous crawl needs, where one global bar
      // over-prunes clean sources and under-prunes noisy ones
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"), col("source"))
        .join(TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score")), "doc_id")
      val thresholds = graft.ops.Stats.quantilesDisc(scored, Seq("source"),
        col("quality_score"), Seq(2500))
        .select(col("source"), col("value").as("q25_score"))
      scored.join(thresholds, "source")
        .groupBy(col("source"), col("q25_score"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("quality_score") >= col("q25_score"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
      // shared quality replay + the stats_quantiles nearest-rank pattern
      // (⌈q·n⌉ pure-integer rank), gate replayed as a conditional sum
      s"""WITH $DuckQualityScore,
        |j AS (SELECT d.source, d.doc_id, qsc.score FROM documents d JOIN qsc USING (doc_id)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY score) AS rn,
        |        COUNT(*) OVER (PARTITION BY source) AS n FROM j),
        |th AS (SELECT source, score AS q25_score FROM r WHERE rn = (n * 2500 + 9999) // 10000)
        |SELECT j.source, th.q25_score, CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN j.score >= th.q25_score THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM j JOIN th USING (source)
        |GROUP BY 1, 2 ORDER BY j.source""".stripMargin),
    Query("quota_per_source", 0.41, (s, dir) =>
      // data-mixing quota: at most 30 docs per source, chosen by hash
      // order (reproducible, not input-order-dependent)
      graft.ops.Sampling.capPerKey(Tables.documents(s, dir), "source", "doc_id", 30)
        .select(col("doc_id"), col("source"))
        .orderBy(col("source"), col("doc_id")),
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY CAST('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 30 ORDER BY source, doc_id""".stripMargin),
    Query("curation_budget", 0.872, (s, dir) => {
      // token-budget mix assembly: per source, admit docs best-quality-
      // first until 1000 whitespace tokens — the "N tokens per source"
      // step of a training-mix builder (quotas in tokens, not documents)
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"), col("source"))
        .join(TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"), col("quality_score")), "doc_id")
      graft.ops.Sampling.tokenBudgetPerKey(scored, "source", "doc_id",
        "n_tokens", "quality_score", budget = 1000L)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("quality_score"), col("cum_tokens"))
        .orderBy(col("source"), col("cum_tokens"))
    },
      // quality replay (shared fragment) + per-source window cumsum in
      // score order; keep rows whose inclusive total <= 1000
      s"""WITH $DuckQualityScore,
        |j AS (SELECT d.source, d.doc_id, qsc.nt AS n_tokens, qsc.score AS quality_score
        |      FROM documents d JOIN qsc ON d.doc_id = qsc.doc_id),
        |w AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
        |        ORDER BY quality_score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM j)
        |SELECT source, doc_id, n_tokens, quality_score, cum_tokens
        |FROM w WHERE cum_tokens <= 1000 ORDER BY source, cum_tokens""".stripMargin),
    Query("curation_modern", 3.666, (s, dir) => {
      // the 2023-25-era curation recipe as ONE funnel: quality gate →
      // exact dedup keep-first → DSIR target-domain selection (top-200) →
      // leakage-safe cluster-level split, reported as per-stage counts.
      // Composes this round's new ops with the established gates; every
      // stage's semantics is pinned elsewhere (text_quality, dedup_exact,
      // curation_dsir, split_leakage_safe) — this row pins the
      // COMPOSITION. (The Gopher battery is the wrong gate for this
      // corpus: its 50-word floor rejects every synthetic doc.)
      val docs = Tables.documents(s, dir)
      val s1 = TextAnalysis.quality(docs, "doc_id", "text")
        .filter(col("quality_score") >= 70).select(col("doc_id"))
        .join(docs, "doc_id")
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      // pin the deduped set: five downstream consumers (two DSIR passes, the s3 join, two
      // counts) must not each re-run the quality pass + dedup window.
      // Scale note (r16): this is a TEXT-sized memory-pool pin — the
      // footprint class that went superlinear on curation_full at sf30.
      // A DISK_ONLY variant was measured and REJECTED for this row
      // (3.99 → 5.54 s at sf0.1: five consumers each pay the columnar
      // decompress); if this row ever joins the sf30 frontier, re-run
      // that A/B there, where the pool pressure flips the trade.
      val s2 = Pin(s1.withColumn("_rn", row_number().over(wd))
        .filter(col("_rn") === 1).drop("_rn"))
      val s3ids = graft.ops.Dsir.selectTop(
        graft.ops.Dsir.importanceScores(s2, "doc_id", "text",
          col("source").isin(DsirTargetSources: _*)), "doc_id", 200)
        .select(col("doc_id"))
      val s3 = Pin(s3ids.join(s2, "doc_id"))
      val pairs = Dedup.minhashCandidates(s3, "doc_id", "text", k = 3,
        numHashes = 16, maxBucket = Int.MaxValue)
      val split = graft.ops.Sampling.hashSplit(
        graft.ops.Components.clusterDocuments(s3, "doc_id", pairs, "doc_a", "doc_b")
          .select(col("doc_id"), col("cluster_id")), "cluster_id")
      def cnt(stage: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(stage).as("stage"), col("n"))
      cnt("s0_input", docs)
        .unionByName(cnt("s1_quality", s1))
        .unionByName(cnt("s2_exact", s2))
        .unionByName(cnt("s3_dsir", s3))
        .unionByName(split.groupBy(concat(lit("s4_split_"), col("split")).as("stage"))
          .agg(count(lit(1)).as("n")))
        .orderBy(col("stage"))
    },
      // composed from the shared fragments: quality score, keep-first
      // exact dedup, the DSIR generator retargeted at the gated set, and
      // the components + cluster-split chain
      s"""WITH RECURSIVE ${duckQualityScore("documents")},
        |g1 AS (SELECT d.* FROM documents d JOIN qsc ON d.doc_id = qsc.doc_id
        |       WHERE qsc.score >= 70),
        |g2 AS (SELECT doc_id, text, lang, source, n_chars FROM (
        |    SELECT g1.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM g1) WHERE rn = 1),
        |s3ids AS (SELECT doc_id FROM (
        |${duckDsirSql("TRUE", "TRUE", 200, src = "g2")}
        |)),
        |s3 AS (SELECT g2.* FROM g2 JOIN s3ids USING (doc_id)),
        |${duckMinhashPairs("s3")},
        |${duckComponentsLab("s3")},
        |bkt AS (SELECT doc_id, CAST('0x' || substring(md5(coalesce(CAST(cluster_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000 AS bp FROM lab),
        |spl AS (SELECT CASE WHEN bp < 9000 THEN 'train' WHEN bp < 9500 THEN 'val' ELSE 'test' END AS split FROM bkt)
        |SELECT 's0_input' AS stage, COUNT(*) AS n FROM documents
        |UNION ALL SELECT 's1_quality', COUNT(*) FROM g1
        |UNION ALL SELECT 's2_exact', COUNT(*) FROM g2
        |UNION ALL SELECT 's3_dsir', COUNT(*) FROM s3
        |UNION ALL SELECT 's4_split_' || split, COUNT(*) FROM spl GROUP BY split
        |ORDER BY stage""".stripMargin),
    Query("curation_full", 5.387, (s, dir) => {
      // the full production curation DAG as ONE job — cross-doc
      // boilerplate-line removal → duplicated-span removal → quality gate
      // → near-dedup (minhash-LSH → connected components) → keep-best
      // representative → per-source token-budget mix. The r7 sub-document
      // text transforms run UPSTREAM of scoring/dedup/mixing, the order a
      // production curation run applies them; each text reassembly is one
      // aggregate, and the gated METADATA is pinned so
      // the multi-consumer stages downstream never re-run the quality
      // pass — see the pin-budget note below for why text is NOT pinned.
      val docs = Tables.documents(s, dir).withColumn("text", expr(BoilerSynthExpr))
      val noBoiler = TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text",
          "source", maxDocFreq = 10L)
        .select(col("doc_id"), col("clean_text"))
      // Pin-budget posture (r15 sf30 audit → r16 fix), two halves:
      // (1) the HOT pin holds ONLY (doc_id, source, n_tokens,
      // quality_score) — what every downstream consumer except shingling
      // reads — so the memory-pool pin no longer grows with document
      // LENGTH, only COUNT (~30x fewer hot bytes than the old full-text
      // DOUBLE pin that blew past local[32]'s 4.6 GB storage pool and
      // went superlinear at sf30); (2) the cleaned TEXT materializes
      // ONCE at DISK_ONLY — it must not recompute (the boilerplate pass
      // carries its own corpus-wide line shuffle, and re-deriving it
      // inside the minhash job measured a task heap OOM at sf30 when the
      // two pipelines fused), but it also must not compete for the
      // memory pool (the r15 eviction thrash). On a real cluster the
      // disk tier is per-executor local space — the cheap resource.
      val cleanedText = Dedup.removeDuplicatedSpans(noBoiler, "doc_id", "clean_text", k = 5)
        .select(col("doc_id"), col("clean_text").as("text"))
        // not a Pin: DISK_ONLY keeps this text off the heap (half (2) above)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val gatedMeta = Pin(TextAnalysis.quality(cleanedText, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .filter(col("quality_score") >= 45)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id"))
      // broadcast the pinned id set into the text probe: the disk-tier
      // text relation is read map-side, never shuffled (at sf30 an SMJ
      // here would shuffle ~4.5 GB of cleaned text to join 12 MB of ids)
      val gatedText = cleanedText.join(broadcast(gatedMeta.select(col("doc_id"))), "doc_id")
      val pairs = Dedup.minhashCandidates(gatedText, "doc_id", "text", k = 3, numHashes = 16,
        maxBucket = Int.MaxValue)
      val reps = Dedup.keepBest(
        graft.ops.Components.clusterDocuments(gatedMeta, "doc_id", pairs, "doc_a", "doc_b")
          .join(gatedMeta.select(col("doc_id"), col("source"), col("n_tokens"),
            col("quality_score")), "doc_id"),
        "cluster_id", "doc_id", "quality_score")
      graft.ops.Sampling.tokenBudgetPerKey(reps, "source", "doc_id",
        "n_tokens", "quality_score", budget = 1000L)
        .select(col("source"), col("doc_id"), col("cluster_size").cast("long").as("cluster_size"),
          col("n_tokens"), col("quality_score"), col("cum_tokens"))
        .orderBy(col("source"), col("cum_tokens"))
    },
      // the six curation stages replayed end-to-end: shared boiler-synth
      // d0 → the text_boilerplate chain (b-prefixed CTEs) → the
      // dedup_span_removal chain (s-prefixed, over the boiler-cleaned
      // text) → shared quality replay over `cleaned` → gate → shared
      // minhash-pair + components fragments re-targeted at `gated` →
      // keep-best argmax → the curation_budget window
      s"""WITH RECURSIVE $DuckBoilerSynth,
        |bt AS (SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM d0),
        |bl0 AS (SELECT doc_id, source, ls, unnest(generate_series(1, len(ls))) AS i FROM bt),
        |bl AS (SELECT doc_id, source, i AS line_idx, trim(ls[i]) AS line FROM bl0 WHERE trim(ls[i]) <> ''),
        |bh AS (SELECT doc_id, source, line_idx, line, CAST('0x' || substring(md5(line), 1, 15) AS BIGINT) AS lh FROM bl),
        |bdf AS (SELECT source, lh, COUNT(DISTINCT doc_id) AS line_df FROM bh GROUP BY 1, 2),
        |bk AS (SELECT h.doc_id, h.line_idx, h.line, (x.line_df > 10) AS boiler
        |       FROM bh h JOIN bdf x ON h.source = x.source AND h.lh = x.lh),
        |br AS (SELECT doc_id, coalesce(string_agg(CASE WHEN NOT boiler THEN line END, chr(10) ORDER BY line_idx), '') AS clean
        |       FROM bk GROUP BY doc_id),
        |st0 AS (SELECT doc_id, string_split(trim(regexp_replace(lower(clean), '\\s+', ' ', 'g')), ' ') AS toks FROM br),
        |stt AS (SELECT doc_id, toks, len(toks) AS n FROM st0 WHERE len(toks) > 0),
        |ssp AS (SELECT doc_id, n, unnest(CASE WHEN n >= 5
        |        THEN list_transform(generate_series(0, n - 5), i -> {'p': i, 's': array_to_string(list_slice(toks, i + 1, i + 5), ' ')})
        |        ELSE [{'p': 0, 's': array_to_string(toks, ' ')}] END) AS u FROM stt),
        |ssph AS (SELECT doc_id, n, u.p AS p, CAST('0x' || substring(md5(u.s), 1, 15) AS BIGINT) AS hv FROM ssp),
        |sdfx AS (SELECT hv, CAST(COUNT(*) AS BIGINT) AS span_df
        |        FROM (SELECT DISTINCT doc_id, hv FROM ssph) GROUP BY hv),
        |sdup AS (SELECT DISTINCT doc_id, tpos FROM (
        |          SELECT doc_id, unnest(generate_series(p, least(p + 4, n - 1))) AS tpos
        |          FROM ssph JOIN sdfx USING (hv) WHERE span_df >= 2)),
        |stok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM stt),
        |stk AS (SELECT doc_id, i - 1 AS tpos, toks[i] AS tok FROM stok),
        |sm AS (SELECT stk.doc_id, stk.tpos, stk.tok, (sdup.tpos IS NOT NULL) AS isdup
        |      FROM stk LEFT JOIN sdup ON stk.doc_id = sdup.doc_id AND stk.tpos = sdup.tpos),
        |scl AS (SELECT doc_id, coalesce(string_agg(CASE WHEN NOT isdup THEN tok END, ' ' ORDER BY tpos), '') AS ctext
        |        FROM sm GROUP BY doc_id),
        |cleaned AS (SELECT c.doc_id, d.source, c.ctext AS text FROM scl c JOIN documents d USING (doc_id)),
        |${duckQualityScore("cleaned")},
        |gated AS (SELECT c.doc_id, c.source, c.text, qsc.nt AS n_tokens, qsc.score AS quality_score
        |          FROM cleaned c JOIN qsc USING (doc_id) WHERE qsc.score >= 45),
        |${duckMinhashPairs("gated")},
        |${duckComponentsLab("gated")},
        |rep AS (SELECT l.cluster_id, l.doc_id, z.cluster_size, g.source, g.n_tokens, g.quality_score,
        |          row_number() OVER (PARTITION BY l.cluster_id ORDER BY g.quality_score DESC, l.doc_id) AS rn
        |        FROM lab l JOIN sz z ON l.cluster_id = z.cluster_id JOIN gated g ON g.doc_id = l.doc_id),
        |w AS (SELECT source, doc_id, cluster_size, n_tokens, quality_score,
        |        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM rep WHERE rn = 1)
        |SELECT source, doc_id, CAST(cluster_size AS BIGINT) AS cluster_size, n_tokens, quality_score, cum_tokens
        |FROM w WHERE cum_tokens <= 1000 ORDER BY source, cum_tokens""".stripMargin),
    Query("curation_cdc", 2.387, (s, dir) => {
      // the OTHER composed tile of VERDICT r14 task 3 (chunk_tiling wires
      // TextTiling into the chunker; this wires cdcChunkStats into a
      // curation gate): per-doc content-defined-chunk duplicate coverage
      // becomes a cut signal — storage-tier near-copies (dup_bp >= 2500)
      // fall before the quality gate, survivors roll up per source. Plan
      // shape: the CDC stats and the map-only quality pass each shuffle
      // once on doc_id, then the rollup is one map-side-combined
      // aggregate on the 4-value source key — nothing corpus-quadratic.
      val docs = Tables.documents(s, dir)
      val cdc = graft.ops.Dedup.cdcChunkStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("dup_bp"))
      val q = TextAnalysis.quality(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      docs.select(col("doc_id"), col("source"))
        .join(cdc, "doc_id").join(q, "doc_id")
        .withColumn("kept", col("dup_bp") < 2500 && col("quality_score") >= 45)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"),
          sum(col("dup_bp")).as("_sdup"))
        .withColumn("mean_dup_bp", expr("_sdup div n_docs"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("kept_tokens"), col("mean_dup_bp"))
        .orderBy(col("source"))
    },
      // the dedup_cdc_chunks chain (t..o) composed with the quality replay
      // (qq..qsc): per-doc CDC dup coverage gates beside the quality
      // score, survivors roll up per source
      s"""WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS tk FROM documents),
        |x AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM t),
        |y AS (SELECT doc_id, i, tk[i] AS tok,
        |    CASE WHEN i > 1 THEN tk[i - 1] ELSE NULL END AS prev FROM x),
        |b AS (SELECT doc_id, i, tok,
        |    CASE WHEN prev IS NOT NULL AND
        |      (CAST('0x' || substring(md5(prev || ' ' || tok), 1, 15) AS BIGINT) % 64) = 0
        |    THEN 1 ELSE 0 END AS nb FROM y),
        |s AS (SELECT doc_id, i, tok,
        |    SUM(nb) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS seg FROM b),
        |c AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS ctok,
        |    md5(string_agg(tok, ' ' ORDER BY i)) AS digest FROM s GROUP BY 1, 2),
        |sp AS (SELECT digest, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs FROM c GROUP BY 1),
        |o AS (SELECT c.doc_id, CAST(SUM(ctok) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN ndocs >= 2 THEN ctok ELSE 0 END) AS BIGINT) AS dup_tokens
        |  FROM c JOIN sp USING (digest) GROUP BY 1),
        |cd AS (SELECT doc_id, CAST(dup_tokens * 10000 // n_tokens AS BIGINT) AS dup_bp FROM o),
        |$DuckQualityScore,
        |k AS (SELECT d.source, cd.dup_bp, qsc.nt, qsc.score,
        |    (cd.dup_bp < 2500 AND qsc.score >= 45) AS kept
        |  FROM documents d JOIN cd USING (doc_id) JOIN qsc ON qsc.doc_id = d.doc_id)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  CAST(SUM(dup_bp) // COUNT(*) AS BIGINT) AS mean_dup_bp
        |FROM k GROUP BY source ORDER BY source""".stripMargin),
    Query("pack_sequences", 0.762, (s, dir) => {
      // sequence packing over the shared token chunks: per source, chunks
      // ordered by (doc_id, chunk_index) land in 2048-token sequences
      val chunks = tokenChunks(s, dir)
        .select(col("doc_id"), col("source"), col("chunk_index"), col("n_tokens"))
      graft.ops.Packing.packOffsets(chunks, "source", Seq("doc_id", "chunk_index"),
        "n_tokens", budget = 2048L)
        .select(col("doc_id"), col("chunk_index"), col("source"),
          col("n_tokens"), col("seq_id"), col("seq_offset"))
        .orderBy(col("source"), col("doc_id"), col("chunk_index"))
    },
      s"""WITH $DuckTokenChunks,
         |p AS (SELECT *, coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id, chunk_index
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM tc)
         |SELECT doc_id, chunk_index, source, n_tokens,
         |  CAST(cum_before // 2048 AS BIGINT) AS seq_id,
         |  CAST(cum_before % 2048 AS BIGINT) AS seq_offset
         |FROM p ORDER BY source, doc_id, chunk_index""".stripMargin),
    Query("pack_concat", 0.635, (s, dir) => {
      // the GPT-style pretraining layout: concatenate each source's token
      // stream (doc order) and slice into 512-token examples — every
      // (example, doc) span materialized, boundary-straddling docs split
      // across examples, zero padding. Same tokenizer as the DSIR rows.
      val docs = Tables.documents(s, dir)
      val withTok = docs.select(col("source"), col("doc_id"),
        size(filter(Dedup.tokensCol(col("text")), t => t =!= lit("")))
          .cast("long").as("n_tokens"))
      graft.ops.Packing.concatSpans(withTok, "source", "doc_id", "n_tokens", ctx = 512L)
        .orderBy(col("source"), col("example_idx"), col("doc_id"))
    },
      // same tokenizer, same per-source cumsum offsets, same ctx-window
      // span arithmetic (all integer)
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')) AS BIGINT) AS n
        |  FROM documents),
        |o AS (SELECT source, doc_id, n,
        |    CAST(coalesce(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t),
        |e AS (SELECT source, doc_id, n, off,
        |    unnest(generate_series(off // 512, (off + n - 1) // 512)) AS ex
        |  FROM o WHERE n > 0)
        |SELECT source, CAST(ex AS BIGINT) AS example_idx, doc_id,
        |  CAST(greatest(0, ex * 512 - off) AS BIGINT) AS tok_start,
        |  CAST(least(n, (ex + 1) * 512 - off) - greatest(0, ex * 512 - off) AS BIGINT) AS span_len
        |FROM e ORDER BY source, example_idx, doc_id""".stripMargin),
    Query("mix_epochs", 0.358, (s, dir) => {
      // fractional epoch repetition: src0 repeats 2.3×, src1 1.5×, the
      // mid sources exactly once, the tail 0.4× — each doc's copy count a
      // pure function of (id, seed)
      val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"))
        .withColumn("factor_bp",
          when(col("source") === "src0", 23000L)
            .when(col("source") === "src1", 15000L)
            .when(col("source").isin("src2", "src3", "src4"), 10000L)
            .otherwise(4000L))
      graft.ops.Sampling.epochRepeat(docs, "doc_id", "factor_bp", seed = 23)
        .select(col("source"), col("doc_id"), col("copy_idx"))
        .orderBy(col("source"), col("doc_id"), col("copy_idx"))
    },
      // same factor table, same seeded md5 bucket rule for the fractional
      // copy, same inclusive series per copy count
      """WITH f AS (SELECT doc_id, source,
        |    CASE WHEN source = 'src0' THEN 23000 WHEN source = 'src1' THEN 15000
        |         WHEN source IN ('src2','src3','src4') THEN 10000 ELSE 4000 END AS fbp,
        |    CAST('0x' || substring(md5('23:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bp
        |  FROM documents),
        |c AS (SELECT doc_id, source, fbp // 10000 + CASE WHEN bp < fbp % 10000 THEN 1 ELSE 0 END AS n FROM f)
        |SELECT source, doc_id, CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS copy_idx
        |FROM c WHERE n > 0 ORDER BY source, doc_id, copy_idx""".stripMargin),
    Query("mix_unimax", 0.721, (s, dir) => {
      // UniMax language sampling: budget = one corpus-pass of documents,
      // cap = 1.2 epochs — on this corpus's 42%-en skew the waterfill
      // caps every minority language at 1.2 epochs and hands en the
      // remainder (both branches of min() exercised); the materialized
      // copy stream reuses epochRepeat under each language's derived
      // factor
      val docs = Tables.documents(s, dir)
      graft.ops.Sampling.mixUnimax(docs, "doc_id", "lang",
        budget = docs.count(), maxEpochsBp = 12000L, seed = 29)
        .orderBy(col("lang"), col("doc_id"), col("copy_idx"))
    },
      // the waterfill as a recursive CTE in ascending (n, lang) visit
      // order — same integer floor division, same min() branches — then
      // the epochRepeat replay under each language's derived factor
      """WITH RECURSIVE lc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(row_number() OVER (ORDER BY COUNT(*), lang) AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM documents),
        |wf(rk, lang, n, alloc, rem) AS (
        |  SELECT c.rk, c.lang, c.n,
        |    least((c.n * 12000) // 10000, t.t // c.m),
        |    t.t - least((c.n * 12000) // 10000, t.t // c.m)
        |  FROM lc c, tot t WHERE c.rk = 1
        |  UNION ALL
        |  SELECT c.rk, c.lang, c.n,
        |    least((c.n * 12000) // 10000, w.rem // (c.m - c.rk + 1)),
        |    w.rem - least((c.n * 12000) // 10000, w.rem // (c.m - c.rk + 1))
        |  FROM lc c JOIN wf w ON c.rk = w.rk + 1),
        |fb AS (SELECT lang, n AS n_key, alloc,
        |         CASE WHEN n = 0 THEN 0 ELSE (alloc * 10000) // n END AS factor_bp FROM wf),
        |f AS (SELECT d.doc_id, d.lang, fb.n_key, fb.alloc, fb.factor_bp,
        |    CAST('0x' || substring(md5('29:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bp
        |  FROM documents d JOIN fb ON fb.lang = d.lang),
        |c AS (SELECT *, factor_bp // 10000 + CASE WHEN bp < factor_bp % 10000 THEN 1 ELSE 0 END AS nc FROM f)
        |SELECT lang, n_key, alloc, factor_bp, doc_id,
        |  CAST(unnest(generate_series(0, nc - 1)) AS BIGINT) AS copy_idx
        |FROM c WHERE nc > 0 ORDER BY lang, doc_id, copy_idx""".stripMargin),
    Query("pack_greedy", 0.493, (s, dir) =>
      // NO-SPLIT greedy bin packing (items stay whole, a non-associative
      // sequential fold): flatMapSortedGroups — sequential within a
      // source, all sources in parallel, sort pushed into the shuffle;
      // the oracle replays the fold as a recursive CTE
      graft.ops.Packing.packGreedyNoSplit(
        Tables.documents(s, dir).select(col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", "n_chars", budget = 4000L)
        .orderBy(col("source"), col("doc_id")),
      // the sequential fill state replayed as a recursive CTE: row rn+1's
      // bin/fill derive from row rn's within each source partition
      """WITH RECURSIVE d AS (
        |  SELECT source, doc_id, n_chars AS cost,
        |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, cost, rn, CAST(0 AS BIGINT) AS bin_idx, cost AS bin_fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.cost, d.rn,
        |         CASE WHEN p.bin_fill + d.cost > 4000 THEN p.bin_idx + 1 ELSE p.bin_idx END,
        |         CASE WHEN p.bin_fill + d.cost > 4000 THEN d.cost ELSE p.bin_fill + d.cost END
        |  FROM d JOIN p ON d.source = p.source AND d.rn = p.rn + 1)
        |SELECT source, doc_id, bin_idx, bin_fill FROM p
        |ORDER BY source, doc_id""".stripMargin),
    Query("train_batches", 0.558, (s, dir) =>
      // dynamic-batching audit: length-band buckets, longest-first fill
      // of 8-doc batches, per-bucket pad-waste in bp — the table a
      // fine-tuning loader's bucketing config is chosen from
      graft.ops.Packing.batchPlan(
        Tables.documents(s, dir)
          .withColumn("n_toks", size(split(col("text"), "\\s+")).cast("long")),
        "doc_id", "n_toks", batchSize = 8, bucketWidth = 16)
        .orderBy(col("bucket")),
      // same bucket/sort/fill windows; padded = Σ n·max per batch
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS w
        |  FROM documents),
        |b AS (SELECT doc_id, w, w // 16 AS bucket FROM d),
        |r AS (SELECT bucket, w,
        |    (row_number() OVER (PARTITION BY bucket ORDER BY w DESC, doc_id) - 1) // 8 AS batch
        |  FROM b),
        |pb AS (SELECT bucket, batch, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(MAX(w) AS BIGINT) AS mx, CAST(SUM(w) AS BIGINT) AS s
        |  FROM r GROUP BY 1, 2),
        |a AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_batches,
        |    CAST(SUM(s) AS BIGINT) AS real_tokens,
        |    CAST(SUM(n * mx) AS BIGINT) AS padded_tokens
        |  FROM pb GROUP BY 1)
        |SELECT bucket, n_docs, n_batches, real_tokens, padded_tokens,
        |  CAST(CASE WHEN padded_tokens = 0 THEN 0
        |       ELSE (10000 * (padded_tokens - real_tokens)) // padded_tokens END AS BIGINT) AS waste_bp
        |FROM a ORDER BY bucket""".stripMargin),
    Query("train_shards", 1.068, (s, dir) =>
      // token-budgeted shard manifest: global concat-then-chunk
      // assignment at file granularity via the scale-honest cumulative
      // sum (range partitions + per-partition running sum + offset
      // fold — never an unpartitioned window)
      graft.ops.Packing.shardPlan(
        Tables.documents(s, dir)
          .withColumn("n_toks", size(split(col("text"), "\\s+")).cast("long")),
        "doc_id", "n_toks", targetTokens = 2000L)
        .orderBy(col("shard_id")),
      // the global window cumsum IS the oracle's one-liner; shard = the
      // budget bucket the doc's starting offset falls in
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w,
        |    SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d),
        |a AS (SELECT doc_id, w, CAST((cum - w) // 2000 AS BIGINT) AS shard_id FROM c)
        |SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS total_tokens,
        |  CAST((10000 * SUM(w)) // 2000 AS BIGINT) AS fill_bp,
        |  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("split_hash", 0.431, (s, dir) =>
      // deterministic 90/5/5 curation split: content-hash buckets, so
      // assignments are stable under reruns, retries, and corpus growth
      graft.ops.Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("split")),
      """WITH b AS (SELECT source,
        |  CAST('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000 AS bp
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN bp < 9000 THEN 'train' WHEN bp < 9500 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("mv_incremental", 0.605, (s, dir) => {
      // incremental materialized-aggregate maintenance: the per-source
      // stats table built once over the corpus slice (bench prep), an
      // increment (doc_id%5==0) merged in with ONE pass over the delta —
      // the oracle is the full recompute, which the mergeable-monoid
      // algebra must equal exactly
      val t = ensureMvState(s, dir)
      val delta = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      graft.ops.Mv.merge(
        graft.ops.Mv.readState(s, t),
        graft.ops.Mv.aggState(delta, "source", "n_chars"), "source")
        .orderBy(col("source"))
    },
      // the full recompute — exactly what the maintained-state merge must
      // reproduce (commutative-monoid columns)
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      // the increment-merge probe amortizes the maintained aggregate
      prep = Some(ensureMvState(_, _))),
    Query("train_order", 0.401, (s, dir) =>
      // reproducible epoch shuffle: seeded 60-bit permutation key →
      // shard + in-shard position, so a trainer's data order is a pure
      // function of (corpus, seed). The only shuffle is the per-shard
      // window — position is never a global row_number.
      graft.ops.Sampling.shardOrder(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id", seed = 17, nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos")),
      // same seeded md5 permutation word (no mod — the raw 60-bit key),
      // same shard mod, same per-shard rank
      """WITH k AS (SELECT doc_id,
        |  CAST('0x' || substring(md5('17:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS pk
        |  FROM documents)
        |SELECT doc_id, pk % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY pk % 8 ORDER BY pk, doc_id) AS BIGINT) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin),
    Query("train_curriculum", 0.803, (s, dir) => {
      // easy-first curriculum schedule: quality-score VALUE bands pick the
      // phase (map-only — never an ntile's global sort), then the
      // train_order per-(phase, shard) seeded window positions rows; the
      // whole schedule is a pure function of (corpus, cuts, seed)
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.quality(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      graft.ops.Sampling.curriculum(scored, "doc_id", "quality_score",
        cuts = Seq(70L, 40L), seed = 23, nShards = 8)
        .select(col("doc_id"), col("quality_score"), col("phase"), col("shard"), col("pos"))
        .orderBy(col("phase"), col("shard"), col("pos"))
    },
      // quality replay picks the phase by the same value bands; the
      // train_order seeded-md5 word (seed 23) shards and positions
      s"""WITH $DuckQualityScore,
        |ck AS (SELECT doc_id, score,
        |    CASE WHEN score >= 70 THEN 1 WHEN score >= 40 THEN 2 ELSE 3 END AS phase,
        |    CAST('0x' || substring(md5('23:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS pk
        |  FROM qsc)
        |SELECT doc_id, CAST(score AS BIGINT) AS quality_score, CAST(phase AS BIGINT) AS phase,
        |  pk % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY phase, pk % 8 ORDER BY pk, doc_id) AS BIGINT) AS pos
        |FROM ck ORDER BY phase, shard, pos""".stripMargin),
    Query("sketch_hll", 1.138, (s, dir) => {
      // distinct-token HLL sketch per source: integer register state is the
      // (hash-exact) comparison surface; the float estimate derives locally
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(Dedup.tokensCol(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      graft.ops.Hll.sketch(toks, Seq("source"), col("tok"))
        .orderBy(col("source"))
    },
      // exact replay of the HLL register state: same md5 hash split, same
      // integer rank via bin()-length, same MAX registers and scaled
      // integer denominator — the float estimate never crosses engines
      DuckHllSketch),
    Query("sketch_hll_merge", 1.002, (s, dir) => {
      // incremental sketching: registers built separately over the even/odd
      // doc slices, merged (per-register max), then collapsed — the result
      // must hash-equal the single-pass sketch, which is exactly what the
      // (shared) oracle asserts
      val docs = Tables.documents(s, dir)
      def toks(half: Int) = docs.filter(col("doc_id") % 2 === half)
        .select(col("source"), explode(Dedup.tokensCol(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      val a = graft.ops.Hll.registers(toks(0), Seq("source"), col("tok"))
      val b = graft.ops.Hll.registers(toks(1), Seq("source"), col("tok"))
      graft.ops.Hll.collapse(graft.ops.Hll.merge(Seq("source"), a, b), Seq("source"))
        .orderBy(col("source"))
    },
      // SAME oracle as sketch_hll on purpose: max-merge of per-slice
      // registers must land on the single-pass state exactly — the
      // hash-equality IS the mergeability proof
      DuckHllSketch),
    Query("dedup_clusters", 1.706, (s, dir) => {
      // LSH pairs → connected components → canonical representative: the
      // step that turns candidate PAIRS into dedup CLUSTERS (A~B, B~C ⇒
      // {A,B,C}, keep min id). Iterative min-label propagation with
      // per-round lineage truncation; oracle replays it as a recursive CTE.
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", k = 3, numHashes = 16,
        maxBucket = Int.MaxValue)
      graft.ops.Components.clusterDocuments(docs, "doc_id", pairs, "doc_a", "doc_b")
        .orderBy(col("doc_id"))
    },
      s"""WITH RECURSIVE $DuckMinhashPairs,
        |$DuckComponentsLab
        |SELECT l.doc_id, l.cluster_id, s.cluster_size,
        |  CAST(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END AS INT) AS is_canonical
        |FROM lab l JOIN sz s ON l.cluster_id = s.cluster_id
        |ORDER BY l.doc_id""".stripMargin),
    Query("dedup_cluster_sizes", 2.1, (s, dir) => {
      // the governance histogram over the same LSH→components clustering
      // as dedup_clusters: clusters per size, docs per size, corpus share
      // in bp — the mega-cluster / template-spam early-warning view
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", k = 3, numHashes = 16,
        maxBucket = Int.MaxValue)
      val clustered = graft.ops.Components.clusterDocuments(docs, "doc_id", pairs, "doc_a", "doc_b")
      graft.ops.Components.clusterSizeHistogram(clustered).orderBy(col("cluster_size"))
    },
      // shared pairs + components labeling; histogram over the sz
      // relation, corpus total from documents
      s"""WITH RECURSIVE $DuckMinhashPairs,
        |$DuckComponentsLab,
        |cs_hist AS (SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters FROM sz GROUP BY 1),
        |cs_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters,
        |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
        |  CAST((10000 * cluster_size * n_clusters) // n_total AS BIGINT) AS docs_bp
        |FROM cs_hist, cs_tot ORDER BY cluster_size""".stripMargin),
    Query("dedup_snm", 0.817, (s, dir) => {
      // sorted-neighborhood blocking: corpus ordered by a 12-char
      // normalized-prefix key, every record paired with its 3 successors —
      // the sort-based candidate generator beside the LSH families; rank
      // built from range partitions + offset fold, never a global window
      val docs = Tables.documents(s, dir).withColumn("snm_key",
        expr("lower(substring(trim(regexp_replace(text, '\\\\s+', ' ')), 1, 12))"))
      Dedup.sortedNeighborhoodPairs(docs, "doc_id", "snm_key", window = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // same prefix key; the window pairing replays as a rank self-join
      // on gap ∈ [1, 3] — ties in the key break by doc_id in both engines
      """WITH k AS (SELECT doc_id,
        |    lower(substring(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 12)) AS key
        |  FROM documents),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rn FROM k)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(b.rn - a.rn AS BIGINT) AS gap
        |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("attribute_spans", 1.553, (s, dir) => {
      // quote attribution: the %101 "answers" are 300-char extracts of
      // real corpus docs (offset 30) re-ingested at +10^7 — provenance
      // must point back at the extracted-from doc with a high share;
      // the Schleimer guarantee makes a long quote unmissable
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val answers = docs.filter(col("doc_id") % 101 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          expr("substring(text, 30, 300)").as("text"))
      graft.ops.Winnow.attributeSpans(answers, docs, "doc_id", "text")
        .orderBy(col("answer_id"))
    },
      // both sides' winnow replay (answers prefixed "aw"), corpus
      // postings capped at 50, fp-keyed join, top-1 by (shared, source)
      s"""WITH ${duckWinnowCtes("documents")},
        |${duckWinnowCtes("(SELECT doc_id + 10000000 AS doc_id, substring(text, 30, 300) AS text FROM documents WHERE doc_id % 101 = 0)", "aw")},
        |cpost AS (SELECT DISTINCT doc_id AS source_id, fp FROM wfp),
        |ckeep AS (SELECT fp FROM cpost GROUP BY fp HAVING COUNT(*) <= 50),
        |apost AS (SELECT DISTINCT doc_id AS answer_id, fp FROM awwfp),
        |tot AS (SELECT answer_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM apost GROUP BY 1),
        |sh AS (SELECT answer_id, source_id, CAST(COUNT(*) AS BIGINT) AS shared
        |       FROM apost JOIN cpost USING (fp) JOIN ckeep USING (fp) GROUP BY 1, 2),
        |topa AS (SELECT answer_id, source_id, shared FROM (
        |    SELECT answer_id, source_id, shared,
        |      row_number() OVER (PARTITION BY answer_id ORDER BY shared DESC, source_id) AS rn
        |    FROM sh) WHERE rn = 1)
        |SELECT t.answer_id, t.source_id, t.shared, tot.n_fp,
        |  CAST((10000 * t.shared) // tot.n_fp AS BIGINT) AS share_bp
        |FROM topa t JOIN tot USING (answer_id) ORDER BY t.answer_id""".stripMargin),
    Query("dedup_norm_ladder", 1.158, (s, dir) => {
      // normalization ablation card over planted variant mirrors: %40
      // trailing-space copies (whitespace tier catches), %30 uppercase
      // mirrors (lowercase tier), %70 punctuation-suffixed copies
      // (alnum tier) — each tier's dup jump is its measured unlock
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val pA = docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(col("text"), lit("  ")).as("text"))
      val pB = docs.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + lit(20000000L)).as("doc_id"),
          upper(col("text")).as("text"))
      val pC = docs.filter(col("doc_id") % 70 === 0)
        .select((col("doc_id") + lit(30000000L)).as("doc_id"),
          concat(col("text"), lit("!!")).as("text"))
      Dedup.normalizationLadder(
        docs.unionByName(pA).unionByName(pB).unionByName(pC), "text")
        .orderBy(col("tier"))
    },
      // same plants, same four canonical forms, one aggregate unpivoted
      """WITH src AS (SELECT text FROM documents
        |  UNION ALL SELECT text || '  ' FROM documents WHERE doc_id % 40 = 0
        |  UNION ALL SELECT upper(text) FROM documents WHERE doc_id % 30 = 0
        |  UNION ALL SELECT text || '!!' FROM documents WHERE doc_id % 70 = 0),
        |b AS (SELECT CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h1,
        |    CAST('0x' || substring(md5(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 15) AS BIGINT) AS h2,
        |    CAST('0x' || substring(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 15) AS BIGINT) AS h3,
        |    CAST('0x' || substring(md5(regexp_replace(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '[^a-z0-9 ]', '', 'g')), 1, 15) AS BIGINT) AS h4
        |  FROM src),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT h1) AS BIGINT) AS d1, CAST(COUNT(DISTINCT h2) AS BIGINT) AS d2,
        |    CAST(COUNT(DISTINCT h3) AS BIGINT) AS d3, CAST(COUNT(DISTINCT h4) AS BIGINT) AS d4
        |  FROM b)
        |SELECT 'a_raw' AS tier, n AS n_docs, d1 AS n_distinct, n - d1 AS dup_rows FROM a
        |UNION ALL SELECT 'b_whitespace', n, d2, n - d2 FROM a
        |UNION ALL SELECT 'c_lowercase', n, d3, n - d3 FROM a
        |UNION ALL SELECT 'd_alnum', n, d4, n - d4 FROM a
        |ORDER BY tier""".stripMargin),
    Query("code_clones", 2.68, (s, dir) => {
      // type-2 clone detection: the %50 slice re-ingests at +10^7 with a
      // BIJECTIVE identifier rename (spark/join/table → tokens absent
      // from the corpus) — invisible to byte hashing, exactly what
      // first-occurrence alpha-renaming canonicalization catches
      val docs = Tables.documents(s, dir)
      val renamed = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          expr("regexp_replace(regexp_replace(regexp_replace(text, " +
            "'\\\\bspark\\\\b', 'zephyr'), '\\\\bjoin\\\\b', 'quill'), " +
            "'\\\\btable\\\\b', 'plinth')").as("text"))
      Dedup.clonesType2(
        docs.select(col("doc_id"), col("text")).unionByName(renamed),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // same bijective-rename plant, same relational alpha-renaming:
      // first-occurrence rank per (doc, term), canonical sequence
      // rebuilt in pos order, md5-grouped
      """WITH src AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000000,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '\bspark\b', 'zephyr', 'g'), '\bjoin\b', 'quill', 'g'),
        |      '\btable\b', 'plinth', 'g')
        |  FROM documents WHERE doc_id % 50 = 0),
        |t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM src),
        |tp0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
        |tp AS (SELECT doc_id, i - 1 AS pos, toks[i] AS term FROM tp0 WHERE toks[i] <> ''),
        |fs AS (SELECT doc_id, term, MIN(pos) AS fp FROM tp GROUP BY 1, 2),
        |fsr AS (SELECT doc_id, term,
        |    CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY fp) AS BIGINT) AS cid FROM fs),
        |cn AS (SELECT tp.doc_id,
        |    md5(string_agg(CAST(cid AS VARCHAR), ' ' ORDER BY tp.pos)) AS ch
        |  FROM tp JOIN fsr ON tp.doc_id = fsr.doc_id AND tp.term = fsr.term
        |  GROUP BY tp.doc_id),
        |g AS (SELECT ch, CAST(COUNT(*) AS BIGINT) AS group_size, MIN(doc_id) AS clone_rep
        |      FROM cn GROUP BY 1 HAVING COUNT(*) > 1)
        |SELECT cn.doc_id, clone_rep, group_size
        |FROM cn JOIN g USING (ch) ORDER BY cn.doc_id""".stripMargin),
    Query("dedup_edit", 3.288, (s, dir) => {
      // record-linkage fuzzy tier: SNM window-3 candidates verified by
      // Levenshtein over the 64-char normalized prefix — the
      // character-level matcher token-set measures can't express;
      // sim >= 5000 bp keeps the near-identical-prefix pairs
      val docs = Tables.documents(s, dir).withColumn("snm_key",
        expr("lower(substring(trim(regexp_replace(text, '\\\\s+', ' ')), 1, 12))"))
      val pairs = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "snm_key", window = 3)
      Dedup.editDistancePairs(pairs, docs, "doc_id", "text",
        prefixChars = 64, minSimBp = 5000L)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // the dedup_snm rank self-join, then levenshtein over the shared
      // 64-char normalized prefix; sim in bp with the empty-field guard
      """WITH k AS (SELECT doc_id,
        |    lower(substring(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 12)) AS key,
        |    substring(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 64) AS n64
        |  FROM documents),
        |r AS (SELECT doc_id, key, n64, row_number() OVER (ORDER BY key, doc_id) AS rn FROM k),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(levenshtein(a.n64, b.n64) AS BIGINT) AS dist,
        |    CAST(greatest(len(a.n64), len(b.n64)) AS BIGINT) AS ml
        |  FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3),
        |s AS (SELECT doc_a, doc_b, dist,
        |    CASE WHEN ml = 0 THEN CAST(10000 AS BIGINT)
        |         ELSE CAST((10000 * (ml - dist)) // ml AS BIGINT) END AS sim_bp FROM p)
        |SELECT doc_a, doc_b, dist, sim_bp FROM s WHERE sim_bp >= 5000
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("graph_pagerank", 2.473, (s, dir) => {
      // link-graph centrality over the synthesized citation graph
      // (i → i÷2 and i → i÷4 form a binary-ancestor lattice, i → i%97 the
      // 97 hub sinks whose in-degree grows with the corpus): exact-integer
      // 4-iteration PageRank in the nano domain. Node 0 is the graph's one
      // dangling sink (all three links self-loop), exercising the
      // uniform-redistribution path.
      val docs = Tables.documents(s, dir)
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(expr("doc_id div 2"), expr("doc_id div 4"), expr("doc_id % 97"))).as("dst"))
      graft.ops.Graph.pageRank(docs.select(col("doc_id").as("node")), edges, iters = 4)
        .orderBy(col("node"))
    },
      // shared edge synthesis, then four unrolled exact-integer
      // iterations — the Spark loop and this chain share the floor-div
      // arithmetic digit for digit
      s"""WITH $DuckGraphEdges,
        |g_nodes AS (SELECT doc_id AS node FROM documents),
        |g_nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g_nodes),
        |g_r0 AS (SELECT node, CAST(CAST(1000000000 AS BIGINT) // n AS BIGINT) AS pr FROM g_nodes CROSS JOIN g_nn),
        |${duckPrIter(1)},
        |${duckPrIter(2)},
        |${duckPrIter(3)},
        |${duckPrIter(4)}
        |SELECT r.node, CAST(coalesce(o.odeg, 0) AS BIGINT) AS out_degree, r.pr AS pr_nano
        |FROM g_r4 r LEFT JOIN g_odeg o ON o.src = r.node ORDER BY r.node""".stripMargin),
    Query("graph_lpa", 2.857, (s, dir) => {
      // dense-community detection over the same citation lattice:
      // 4 synchronous deterministic LPA rounds (min-label ties) — the
      // DENSITY companion to components' reachability
      val docs = Tables.documents(s, dir)
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(expr("doc_id div 2"), expr("doc_id div 4"), expr("doc_id % 97"))).as("dst"))
      graft.ops.Graph.labelPropagation(docs.select(col("doc_id").as("node")), edges, iters = 4)
        .orderBy(col("node"))
    },
      {
        // 4 unrolled synchronous rounds; per-node argmax replayed as a
        // (cnt DESC, lbl ASC) rank window — same total order as the
        // engine's max-of-struct(cnt, -lbl)
        val rounds = (1 to 4).map { i =>
          s"""c$i AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
            |  FROM ue e JOIN l${i - 1} l ON l.node = e.src GROUP BY 1, 2),
            |p$i AS (SELECT node, lbl FROM (
            |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
            |    FROM c$i) WHERE rn = 1),
            |l$i AS (SELECT l.node, coalesce(p.lbl, l.lbl) AS lbl
            |  FROM l${i - 1} l LEFT JOIN p$i p ON p.node = l.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH nd AS (SELECT doc_id AS node FROM documents),
          |de AS (SELECT doc_id AS src, unnest([doc_id // 2, doc_id // 4, doc_id % 97]) AS dst FROM documents),
          |ue AS (SELECT DISTINCT src, dst FROM (
          |  SELECT src, dst FROM de WHERE src <> dst
          |  UNION ALL SELECT dst, src FROM de WHERE src <> dst)),
          |l0 AS (SELECT node, node AS lbl FROM nd),
          |$rounds
          |SELECT l4.node, l4.lbl AS label, s.community_size
          |FROM l4 JOIN (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size FROM l4 GROUP BY 1) s
          |  ON s.lbl = l4.lbl
          |ORDER BY node""".stripMargin
      }),
    Query("graph_ppr", 2.447, (s, dir) => {
      // personalized PageRank from the %10 seed slice over the same
      // graph: teleport AND dangling mass land only on seeds, so nodes
      // outside the seeds' neighborhood rank exactly 0
      val docs = Tables.documents(s, dir)
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(expr("doc_id div 2"), expr("doc_id div 4"), expr("doc_id % 97"))).as("dst"))
      graft.ops.Graph.personalizedPageRank(
        docs.select(col("doc_id").as("node")), edges,
        docs.filter(col("doc_id") % 10 === 0).select(col("doc_id").as("node")),
        iters = 4).orderBy(col("node"))
    },
      // seed flags in the node relation, seed count as the broadcast
      // 1-row aggregate, four unrolled seed-teleport iterations
      s"""WITH $DuckGraphEdges,
        |g_snodes AS (SELECT doc_id AS node,
        |    CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS is_seed FROM documents),
        |g_ns AS (SELECT CAST(sum(is_seed) AS BIGINT) AS ns FROM g_snodes),
        |g_pr0 AS (SELECT node, is_seed,
        |    CAST(CASE WHEN is_seed = 1 THEN CAST(1000000000 AS BIGINT) // ns ELSE 0 END AS BIGINT) AS pr
        |  FROM g_snodes CROSS JOIN g_ns),
        |${duckPprIter(1)},
        |${duckPprIter(2)},
        |${duckPprIter(3)},
        |${duckPprIter(4)}
        |SELECT node, CAST(is_seed AS BIGINT) AS is_seed, pr AS pr_nano
        |FROM g_pr4 ORDER BY node""".stripMargin),
    Query("graph_degrees", 0.737, (s, dir) => {
      // the power-law audit card over the same graph: log2-bucketed
      // degree histogram via bit arithmetic, shuffle state = buckets
      val docs = Tables.documents(s, dir)
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(expr("doc_id div 2"), expr("doc_id div 4"), expr("doc_id % 97"))).as("dst"))
      graft.ops.Graph.degreeHistogram(edges).orderBy(col("bucket"))
    },
      // same edges; undirected degree, log2 bucket via bin-length bit
      // arithmetic, share against the node total
      s"""WITH $DuckGraphEdges,
        |g_und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM g_e),
        |d AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT unnest([a, b]) AS node FROM g_und) GROUP BY node),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d),
        |h AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
        |  FROM d GROUP BY 1)
        |SELECT bucket, n_nodes, min_deg, max_deg,
        |  CAST((10000 * n_nodes) // n_total AS BIGINT) AS share_bp
        |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin),
    Query("graph_degrees_incremental", 1.183, (s, dir) => {
      // the incremental leg of the graph family (VERDICT r16 task 7, the
      // mv_incremental pattern): the maintained (undirected edges, degree
      // state) pair was built once over the base slice (bench prep); a
      // frontier batch (links of the %5 doc slice) applies as
      // canonicalize → anti-join the persisted edges → ADD the new edges'
      // degree counts into the node-sized state. The histogram derives
      // from the merged state; the oracle is the full recompute, which
      // the additive-monoid algebra must equal exactly. Per-batch cost:
      // delta-sized work + the persisted-edge probe — the corpus-sized
      // distinct/degree shuffles never re-run.
      val Seq(_, _, undR, degR, _) = ensureGraphState(s, dir)
      val und = graft.io.GenTable.read(s, undR).get
      val deg = graft.io.GenTable.read(s, degR).get
      val delta = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("src"),
          explode(array(expr("doc_id div 2"), expr("doc_id div 4"),
            expr("doc_id % 97"))).as("dst"))
      val fresh = graft.ops.Graph.newUndirectedEdges(und, delta)
      graft.ops.Graph.histogramOfDegrees(
        graft.ops.Graph.mergeDegrees(deg, graft.ops.Graph.degreesOf(fresh)))
        .orderBy(col("bucket"))
    },
      // full-recompute oracle, identical to graph_degrees: the maintained
      // degree state after the delta merge must equal recomputing degrees
      // over the whole graph
      s"""WITH $DuckGraphEdges,
        |g_und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM g_e),
        |d AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT unnest([a, b]) AS node FROM g_und) GROUP BY node),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d),
        |h AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
        |  FROM d GROUP BY 1)
        |SELECT bucket, n_nodes, min_deg, max_deg,
        |  CAST((10000 * n_nodes) // n_total AS BIGINT) AS share_bp
        |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin,
      prep = Some(ensureGraphState(_, _))),
    Query("graph_pagerank_incremental", 2.789, (s, dir) => {
      // PageRank's incremental leg: the maintained (directed edges,
      // out-degree state) absorbs the delta batch with delta-sized work
      // (anti-join + additive out-degree merge), then the fixed-iteration
      // exact-integer rank runs over the MAINTAINED tables — the
      // corpus-sized edge distinct and degree shuffles a from-scratch run
      // pays per batch never re-run. Rank contributions are additive over
      // the node-sized state, so the result hash-equals the from-scratch
      // replay (same oracle as graph_pagerank).
      val Seq(eR, odegR, _, _, _) = ensureGraphState(s, dir)
      val e = graft.io.GenTable.read(s, eR).get
      val odeg = graft.io.GenTable.read(s, odegR).get
      val docs = Tables.documents(s, dir)
      val delta = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("src"),
          explode(array(expr("doc_id div 2"), expr("doc_id div 4"),
            expr("doc_id % 97"))).as("dst"))
      val fresh = Pin(graft.ops.Graph.newDirectedEdges(e, delta))
      // pinned: the merged edge table is probed every rank iteration
      val eAll = Pin(e.unionByName(fresh))
      val odegAll = graft.ops.Graph.mergeOutDegrees(
        odeg, graft.ops.Graph.outDegreesOf(fresh))
      graft.ops.Graph.pageRankOnState(
        docs.select(col("doc_id").as("node")), eAll, odegAll, iters = 4)
        .orderBy(col("node"))
    },
      // the incremental leg's oracle IS the full recompute — identical
      // SQL to graph_pagerank: maintained-state + delta-edge application
      // must be indistinguishable from scratch, digit for digit
      s"""WITH $DuckGraphEdges,
        |g_nodes AS (SELECT doc_id AS node FROM documents),
        |g_nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g_nodes),
        |g_r0 AS (SELECT node, CAST(CAST(1000000000 AS BIGINT) // n AS BIGINT) AS pr FROM g_nodes CROSS JOIN g_nn),
        |${duckPrIter(1)},
        |${duckPrIter(2)},
        |${duckPrIter(3)},
        |${duckPrIter(4)}
        |SELECT r.node, CAST(coalesce(o.odeg, 0) AS BIGINT) AS out_degree, r.pr AS pr_nano
        |FROM g_r4 r LEFT JOIN g_odeg o ON o.src = r.node ORDER BY r.node""".stripMargin,
      // the delta-edge probes amortize the maintained link-graph state
      prep = Some(ensureGraphState(_, _))),
    Query("graph_triangles", 1.381, (s, dir) => {
      // local cohesion over the same graph: (i, i÷2, i÷4) closes a
      // triangle for every i ≥ 4 (since (i÷2)÷2 = i÷4), so counts are
      // dense, while the %97 hubs carry corpus-sized degree but — degree
      // oriented — generate zero wedges
      val docs = Tables.documents(s, dir)
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(expr("doc_id div 2"), expr("doc_id div 4"), expr("doc_id % 97"))).as("dst"))
      graft.ops.Graph.triangleCounts(edges).orderBy(col("node"))
    },
      // same edges; canonical undirected dedup, degree orientation, the
      // ≺-ordered wedge self-join and the closing-edge probe
      s"""WITH $DuckGraphEdges,
        |g_und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM g_e),
        |g_deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT unnest([a, b]) AS node FROM g_und) GROUP BY node),
        |g_o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b) THEN u.a ELSE u.b END AS u,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b) THEN u.b ELSE u.a END AS v
        |  FROM g_und u JOIN g_deg da ON da.node = u.a JOIN g_deg db ON db.node = u.b),
        |g_ov AS (SELECT o.u, o.v, d.deg AS dv FROM g_o o JOIN g_deg d ON d.node = o.v),
        |g_tri AS (SELECT w.x, w.y, w.z FROM (
        |    SELECT o1.u AS x, o1.v AS y, o2.v AS z FROM g_ov o1 JOIN g_ov o2
        |      ON o1.u = o2.u AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))) w
        |  JOIN g_o c ON c.u = w.y AND c.v = w.z),
        |g_pt AS (SELECT node, CAST(count(*) AS BIGINT) AS tri
        |  FROM (SELECT unnest([x, y, z]) AS node FROM g_tri) GROUP BY node)
        |SELECT d.node, d.deg AS degree, CAST(coalesce(p.tri, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN d.deg >= 2 THEN (2 * coalesce(p.tri, 0) * 10000) // (d.deg * (d.deg - 1)) ELSE 0 END AS BIGINT) AS clustering_bp
        |FROM g_deg d LEFT JOIN g_pt p USING (node) ORDER BY d.node""".stripMargin),
    Query("graph_triangles_incremental", 1.976, (s, dir) => {
      // the third incremental graph leg: per-node triangle counts
      // maintained as node-sized state; a delta batch counts ONLY the
      // triangles it creates (each fresh edge probes the merged
      // adjacency from its lower-degree endpoint, the closing edge
      // confirmed by one keyed probe; the lexicographically smallest
      // fresh edge is each new triangle's designated counter, so
      // multi-fresh-edge triangles count exactly once) and ADDS them
      // into the state. Nothing re-enumerates the base graph's wedges.
      // Same oracle as graph_triangles — the full recompute.
      val Seq(_, _, undR, degR, triR) = ensureGraphState(s, dir)
      val und = Pin(graft.io.GenTable.read(s, undR).get)
      val deg = graft.io.GenTable.read(s, degR).get
      val tri = graft.io.GenTable.read(s, triR).get
      val delta = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("src"),
          explode(array(expr("doc_id div 2"), expr("doc_id div 4"),
            expr("doc_id % 97"))).as("dst"))
      val fresh = Pin(graft.ops.Graph.newUndirectedEdges(und, delta))
      val degAll = Pin(graft.ops.Graph.mergeDegrees(deg, graft.ops.Graph.degreesOf(fresh))) // orientation AND the output card
      graft.ops.Graph.triangleOutput(degAll,
        graft.ops.Graph.mergeTriangles(tri,
          graft.ops.Graph.newTriangleCounts(und, fresh, degAll)))
        .orderBy(col("node"))
    },
      // full-recompute oracle, identical to graph_triangles: the
      // maintained per-node counts after the delta's wedge-closure
      // increment must equal re-counting every triangle from scratch
      s"""WITH $DuckGraphEdges,
        |g_und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM g_e),
        |g_deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT unnest([a, b]) AS node FROM g_und) GROUP BY node),
        |g_o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b) THEN u.a ELSE u.b END AS u,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b) THEN u.b ELSE u.a END AS v
        |  FROM g_und u JOIN g_deg da ON da.node = u.a JOIN g_deg db ON db.node = u.b),
        |g_ov AS (SELECT o.u, o.v, d.deg AS dv FROM g_o o JOIN g_deg d ON d.node = o.v),
        |g_tri AS (SELECT w.x, w.y, w.z FROM (
        |    SELECT o1.u AS x, o1.v AS y, o2.v AS z FROM g_ov o1 JOIN g_ov o2
        |      ON o1.u = o2.u AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))) w
        |  JOIN g_o c ON c.u = w.y AND c.v = w.z),
        |g_pt AS (SELECT node, CAST(count(*) AS BIGINT) AS tri
        |  FROM (SELECT unnest([x, y, z]) AS node FROM g_tri) GROUP BY node)
        |SELECT d.node, d.deg AS degree, CAST(coalesce(p.tri, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN d.deg >= 2 THEN (2 * coalesce(p.tri, 0) * 10000) // (d.deg * (d.deg - 1)) ELSE 0 END AS BIGINT) AS clustering_bp
        |FROM g_deg d LEFT JOIN g_pt p USING (node) ORDER BY d.node""".stripMargin,
      prep = Some(ensureGraphState(_, _))),
    Query("split_leakage_safe", 1.659, (s, dir) => {
      // leakage-safe curation split: assign train/val/test at near-dup
      // CLUSTER granularity — the whole component hash-splits on its
      // cluster id, so a near-duplicate pair can never straddle the
      // train/test boundary (the contamination leak row-level splits
      // can't rule out). Composition of the tested pairs → components →
      // hashSplit ops; singletons hash on themselves (cluster_id = own id).
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", k = 3, numHashes = 16,
        maxBucket = Int.MaxValue)
      val clustered = graft.ops.Components.clusterDocuments(docs, "doc_id", pairs, "doc_a", "doc_b")
      graft.ops.Sampling.hashSplit(
        clustered.select(col("doc_id"), col("cluster_id")), "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy(col("doc_id"))
    },
      // shared components labeling, then the split_hash bucket rule keyed
      // on the CLUSTER id instead of the row id
      s"""WITH RECURSIVE $DuckMinhashPairs,
        |$DuckComponentsLab,
        |bkt AS (SELECT doc_id, cluster_id,
        |    CAST('0x' || substring(md5(coalesce(CAST(cluster_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000 AS bp
        |  FROM lab)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN bp < 9000 THEN 'train' WHEN bp < 9500 THEN 'val' ELSE 'test' END AS split
        |FROM bkt ORDER BY doc_id""".stripMargin),
    Query("dedup_keep_best", 1.86, (s, dir) => {
      // cluster near-dups (LSH pairs → components) and keep the BEST copy
      // per cluster by quality score — the production alternative to
      // keep-min-id: near-dup copies differ (noise, truncation), so the
      // representative should be the cleanest one, not the lowest id
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", k = 3, numHashes = 16,
        maxBucket = Int.MaxValue)
      val clustered = graft.ops.Components.clusterDocuments(docs, "doc_id", pairs, "doc_a", "doc_b")
      val scored = clustered.join(
        TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score")), "doc_id")
      Dedup.keepBest(scored, "cluster_id", "doc_id", "quality_score")
        .select(col("cluster_id"), col("doc_id").as("rep_id"),
          col("cluster_size"), col("quality_score"))
        .orderBy(col("cluster_id"))
    },
      // shared components labeling + shared quality replay, fused:
      // argmax(score, tie min id) per cluster
      s"""WITH RECURSIVE $DuckMinhashPairs,
        |$DuckComponentsLab,
        |$DuckQualityScore,
        |rep AS (SELECT l.cluster_id, l.doc_id, s.cluster_size, qsc.score,
        |          row_number() OVER (PARTITION BY l.cluster_id ORDER BY qsc.score DESC, l.doc_id) AS rn
        |        FROM lab l JOIN sz s ON l.cluster_id = s.cluster_id
        |                   JOIN qsc ON qsc.doc_id = l.doc_id)
        |SELECT cluster_id, doc_id AS rep_id, cluster_size, score AS quality_score
        |FROM rep WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
    Query("scd2_history", 0.699, (s, dir) => {
      // SCD2 fold of four synthetic metadata snapshots: v2 changes lang for
      // doc_id%3, v3 repeats it (no-op — must compress away), v4 reverts
      // for doc_id%5 (change-back reopens an interval)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      val snaps = docs.withColumn("version", lit(1))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .withColumn("lang", upper(col("lang"))).withColumn("version", lit(2)))
        .unionByName(docs.filter(col("doc_id") % 6 === 0)
          .withColumn("lang", upper(col("lang"))).withColumn("version", lit(3)))
        .unionByName(docs.filter(col("doc_id") % 5 === 0).withColumn("version", lit(4)))
      graft.ops.Scd.history(snaps, Seq("doc_id"), "version", Seq("lang"))
        .orderBy(col("doc_id"), col("version_from"))
    },
      """WITH snaps AS (
        |  SELECT doc_id, lang, 1 AS version FROM documents
        |  UNION ALL SELECT doc_id, upper(lang), 2 FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, upper(lang), 3 FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL SELECT doc_id, lang, 4 FROM documents WHERE doc_id % 5 = 0),
        |chg AS (SELECT *, lag(lang) OVER (PARTITION BY doc_id ORDER BY version) AS prev,
        |               row_number() OVER (PARTITION BY doc_id ORDER BY version) AS rn
        |        FROM snaps),
        |kept AS (SELECT doc_id, lang, version FROM chg
        |         WHERE rn = 1 OR prev IS DISTINCT FROM lang)
        |SELECT doc_id, lang, CAST(version AS INT) AS version_from,
        |  CAST(lead(version) OVER (PARTITION BY doc_id ORDER BY version) AS INT) AS version_to,
        |  CASE WHEN lead(version) OVER (PARTITION BY doc_id ORDER BY version) IS NULL
        |       THEN 1 ELSE 0 END AS is_current
        |FROM kept ORDER BY doc_id, version_from""".stripMargin),
    Query("tfidf_terms", 1.341, (s, dir) =>
      // per-doc top-3 keywords by integer (tf DESC, df ASC, term) rank —
      // the tf·idf order without a float in the comparison surface
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), "doc_id", "text", k = 3)
        .withColumnRenamed("rank", "term_rank")
        .orderBy(col("doc_id"), col("term_rank")),
      """WITH t AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS term_rank
        |      FROM tf JOIN dfq USING (term))
        |SELECT doc_id, term, tf, df, CAST(term_rank AS INT) AS term_rank
        |FROM r WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin),
    Query("mix_temperature", 0.825, (s, dir) =>
      // τ=0.5 temperature-flattened source mixing at a 50% corpus budget:
      // small sources keep a larger fraction (∝ sqrt weight), integer-
      // exact end to end
      graft.ops.Sampling.temperatureMix(Tables.documents(s, dir),
        "source", "doc_id", totalKeepBp = 5000)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source")),
      // exact replay: quantized sqrt weights (floor(sqrt(n)·2^20) BIGINT),
      // integer bp formula, same md5 row-hash keep rule
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS wq FROM c),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(wq) AS BIGINT) AS sumw FROM w),
        |bp AS (SELECT source, least(10000, (CAST(5000 AS HUGEINT) * t.nn * w.wq) // (CAST(t.sumw AS HUGEINT) * w.n)) AS keep_bp
        |       FROM w CROSS JOIN t),
        |kept AS (SELECT d.source FROM documents d JOIN bp ON d.source = bp.source
        |         WHERE CAST('0x' || substring(md5(coalesce(CAST(d.doc_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000 < bp.keep_bp)
        |SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source ORDER BY source""".stripMargin),
    Query("mix_gini", 1.021, (s, dir) => {
      // the mixture's Gini before and after τ=0.5 at a 50% budget, as
      // two exact-bp rows; both statistics run on source-sized count
      // relations. On this driver's UNIFORM synthetic mixture raw is
      // exactly 0 and the sampled row shows keep-rule noise — the
      // skewed-mixture drop the card exists for is pinned in
      // ScdStatsSpec's hand-computed cases
      val docs = Tables.documents(s, dir)
      val raw = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val flat = graft.ops.Sampling.temperatureMix(docs, "source", "doc_id",
          totalKeepBp = 5000)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      graft.ops.Stats.giniBp(raw, "n").withColumn("mixture", lit("raw"))
        .unionByName(graft.ops.Stats.giniBp(flat, "n")
          .withColumn("mixture", lit("temperature")))
        .select(col("mixture"), col("n_groups"), col("total"), col("gini_bp"))
        .orderBy(col("mixture"))
    },
      // the temperature chain replayed, then one Gini window per mixture
      // over the source-sized count relations
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |w AS (SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS wq FROM c),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(wq) AS BIGINT) AS sumw FROM w),
        |bp AS (SELECT source, least(10000, (CAST(5000 AS HUGEINT) * t.nn * w.wq) // (CAST(t.sumw AS HUGEINT) * w.n)) AS keep_bp
        |       FROM w CROSS JOIN t),
        |kept AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n FROM documents d JOIN bp ON d.source = bp.source
        |         WHERE CAST('0x' || substring(md5(coalesce(CAST(d.doc_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000 < bp.keep_bp
        |         GROUP BY d.source),
        |gr AS (SELECT n AS x, row_number() OVER (ORDER BY n) AS i FROM c),
        |grc AS (SELECT CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(x) AS BIGINT) AS tot, CAST(SUM((2 * i - 1) * x) AS BIGINT) AS s FROM gr),
        |gk AS (SELECT n AS x, row_number() OVER (ORDER BY n) AS i FROM kept),
        |gkc AS (SELECT CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(x) AS BIGINT) AS tot, CAST(SUM((2 * i - 1) * x) AS BIGINT) AS s FROM gk)
        |SELECT 'raw' AS mixture, ng AS n_groups, tot AS total,
        |  CAST(((s - ng * tot) * 10000) // (ng * tot) AS BIGINT) AS gini_bp FROM grc
        |UNION ALL
        |SELECT 'temperature' AS mixture, ng AS n_groups, tot AS total,
        |  CAST(((s - ng * tot) * 10000) // (ng * tot) AS BIGINT) AS gini_bp FROM gkc
        |ORDER BY mixture""".stripMargin),
    Query("sample_stratified", 0.319, (s, dir) =>
      // per-source training mix: 100%/50%/25% named strata, 10% default —
      // row-hash keep decision, so strata stay uniform and nested
      graft.ops.Sampling.hashSampleStratified(Tables.documents(s, dir),
        "source", "doc_id", Map("src0" -> 10000, "src1" -> 5000, "src2" -> 2500),
        defaultBp = 1000)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source")),
      """WITH b AS (SELECT source,
        |  CAST('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000 AS bp
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_kept FROM b
        |WHERE bp < (CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
        |            WHEN 'src2' THEN 2500 ELSE 1000 END)
        |GROUP BY source ORDER BY source""".stripMargin),
    Query("privacy_kanon", 0.532, (s, dir) =>
      // k-anonymity suppression (Sweeney 2002) over the banded QI
      // (nation, segment, 5000-wide balance band): rows whose tuple
      // isolates fewer than k=3 customers are dropped. One QI aggregate
      // (map-side combined to |distinct tuples|) + a LEFT SEMI join
      // against the safe key set — AQE broadcasts the n/k-bounded list
      graft.ops.Privacy.kAnonymize(
        Tables.customer(s, dir).withColumn("bal_band",
          graft.ops.Privacy.band(col("c_acctbal"), 5000.0)),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 3)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          // multiples of 5000 — exactly representable, so the BIGINT cast
          // is lossless; scalar-output contract (OutputShape) forbids
          // riding the raw double out
          col("bal_band").cast("long").as("bal_band"))
        .orderBy(col("c_custkey")),
      """WITH b AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        |             floor(c_acctbal/5000.0)*5000.0 AS bal_band FROM customer)
        |SELECT b.c_custkey, b.c_nationkey, b.c_mktsegment,
        |  CAST(b.bal_band AS BIGINT) AS bal_band
        |FROM b
        |JOIN (SELECT c_nationkey, c_mktsegment, bal_band FROM b
        |      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3) s
        |  ON b.c_nationkey = s.c_nationkey AND b.c_mktsegment = s.c_mktsegment
        | AND b.bal_band = s.bal_band
        |ORDER BY c_custkey""".stripMargin),
    Query("privacy_ldiv", 0.909, (s, dir) =>
      // distinct l-diversity report (Machanavajjhala 2007) per
      // (event_type, day): group size + sensitive-attribute (user_id)
      // cardinality; a big group whose members share one user still fails
      graft.ops.Privacy.lDiversityGroups(
        Tables.events(s, dir).withColumn("day_s",
          expr("(ts_us div 86400000000L) * 86400")),
        Seq("event_type", "day_s"), "user_id", l = 53)
        .orderBy(col("event_type"), col("day_s")),
      """SELECT event_type, (epoch_us(ts) // 86400000000) * 86400 AS day_s,
        |  COUNT(*) AS grp_rows,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS sens_card,
        |  CAST(CASE WHEN COUNT(DISTINCT user_id) >= 53 THEN 1 ELSE 0 END AS INT) AS diverse
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("privacy_risk", 0.557, (s, dir) =>
      // prosecutor re-identification risk histogram over the banded QI:
      // rows at risk_bp = floor(10000/group size) — "N rows re-identifiable
      // at >= X%" as one two-collapse aggregate, corpus never joined
      graft.ops.Privacy.riskHistogram(
        Tables.customer(s, dir).withColumn("bal_band",
          graft.ops.Privacy.band(col("c_acctbal"), 5000.0)),
        Seq("c_nationkey", "c_mktsegment", "bal_band"))
        .orderBy(col("risk_bp")),
      """WITH g AS (SELECT COUNT(*) AS n FROM customer
        |           GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal/5000.0)*5000.0)
        |SELECT 10000 // n AS risk_bp, CAST(SUM(n) AS BIGINT) AS n_rows,
        |  COUNT(*) AS n_groups
        |FROM g GROUP BY 1 ORDER BY risk_bp""".stripMargin),
    Query("privacy_tclose", 1.185, (s, dir) =>
      // t-closeness (Li et al. 2007), the third release gate: per
      // (nation, segment) group, exact integer EMD between the group's
      // 1000-wide balance-band distribution and the corpus's, in basis
      // points; close = emd_bp <= 1500. All state is lattice-sized —
      // (QI), (QI, band) and (band) collapses plus a dense grid window
      graft.ops.Privacy.tClosenessGroups(
        Tables.customer(s, dir).withColumn("bal_band",
          graft.ops.Privacy.band(col("c_acctbal"), 1000.0)),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", tBp = 1500)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      // exact integer-EMD replay: same dense (group × band) grid, same
      // cumulative-difference window, same basis-point floor division
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |            floor(c_acctbal/1000.0)*1000.0 AS v FROM customer),
        |gs AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS ng FROM b GROUP BY 1, 2),
        |gd AS (SELECT v, COUNT(*) AS gc FROM b GROUP BY 1),
        |tt AS (SELECT COUNT(*) AS nn, COUNT(DISTINCT v) AS mm FROM b),
        |cells AS (SELECT c_nationkey, c_mktsegment, v, COUNT(*) AS c
        |          FROM b GROUP BY 1, 2, 3),
        |grid AS (SELECT gs.c_nationkey, gs.c_mktsegment, gs.ng, gd.v, gd.gc,
        |           tt.nn, tt.mm, COALESCE(cells.c, 0) AS c
        |         FROM gs CROSS JOIN gd CROSS JOIN tt
        |         LEFT JOIN cells ON cells.c_nationkey = gs.c_nationkey
        |           AND cells.c_mktsegment = gs.c_mktsegment AND cells.v = gd.v),
        |cum AS (SELECT c_nationkey, c_mktsegment, ng, nn, mm,
        |          SUM(c*nn - gc*ng) OVER (PARTITION BY c_nationkey, c_mktsegment
        |            ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d
        |        FROM grid),
        |r AS (SELECT c_nationkey, c_mktsegment, CAST(MAX(ng) AS BIGINT) AS grp_rows,
        |        CAST(CASE WHEN MAX(mm) <= 1 THEN 0
        |          ELSE (SUM(ABS(d)) * 10000) // (MAX(ng) * MAX(nn) * (MAX(mm) - 1))
        |          END AS BIGINT) AS emd_bp
        |      FROM cum GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment, grp_rows, emd_bp,
        |  CAST(CASE WHEN emd_bp <= 1500 THEN 1 ELSE 0 END AS INT) AS close
        |FROM r ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    Query("privacy_generalize", 0.748, (s, dir) =>
      // generalization-lattice suppression audit at k=10: balance bands
      // 100 → 1000 → 5000 → dropped. generalizeToK walks these stats to
      // the first level under a suppression budget (pinned in PrivacySpec);
      // each level is one distinct-QI aggregate, never a corpus join
      graft.ops.Privacy.ladderStats(Tables.customer(s, dir),
        privacyLadder, k = 10)
        .orderBy(col("level")),
      """WITH g0 AS (SELECT COUNT(*) AS n FROM customer
        |            GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal/100.0)*100.0),
        |g1 AS (SELECT COUNT(*) AS n FROM customer
        |       GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal/1000.0)*1000.0),
        |g2 AS (SELECT COUNT(*) AS n FROM customer
        |       GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal/5000.0)*5000.0),
        |g3 AS (SELECT COUNT(*) AS n FROM customer GROUP BY c_nationkey, c_mktsegment),
        |s AS (
        |  SELECT 0 AS level, 'band100' AS level_name, COUNT(*) AS n_groups,
        |    CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) AS BIGINT) AS suppressed_rows,
        |    CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) * 10000 // SUM(n) AS BIGINT) AS suppress_bp
        |  FROM g0
        |  UNION ALL
        |  SELECT 1, 'band1000', COUNT(*),
        |    CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) * 10000 // SUM(n) AS BIGINT)
        |  FROM g1
        |  UNION ALL
        |  SELECT 2, 'band5000', COUNT(*),
        |    CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) * 10000 // SUM(n) AS BIGINT)
        |  FROM g2
        |  UNION ALL
        |  SELECT 3, 'drop_bal', COUNT(*),
        |    CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) * 10000 // SUM(n) AS BIGINT)
        |  FROM g3)
        |SELECT * FROM s ORDER BY level""".stripMargin),
    Query("data_card", 0.935, (s, dir) =>
      // per-source dataset datasheet (Gebru et al. 2021): volume, per-doc
      // means, exact-dup rows (distinct content hash), mojibake and
      // under-length counts — ONE corpus scan + a |sources|-sized collapse
      // (plus the (source, hash) collapse for the distinct term)
      graft.ops.Stats.dataCard(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source")),
      // same scan shape: per-source integer aggregates + distinct-hash
      s"""WITH b AS (SELECT source, CAST(len(text) AS BIGINT) AS chars,
        |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS toks,
        |    md5(text) AS h,
        |    CASE WHEN len(regexp_extract_all(text, '${graft.ops.TextAnalysis.MojibakePattern}')) > 0
        |      THEN 1 ELSE 0 END AS corrupt
        |  FROM documents),
        |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |        CAST(SUM(chars) AS BIGINT) AS total_chars,
        |        CAST(SUM(toks) AS BIGINT) AS total_tokens,
        |        CAST(SUM(corrupt) AS BIGINT) AS corrupt_docs,
        |        CAST(SUM(CASE WHEN chars < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
        |      FROM b GROUP BY 1),
        |d AS (SELECT source, CAST(COUNT(DISTINCT h) AS BIGINT) AS nh FROM b GROUP BY 1)
        |SELECT a.source, n_docs, total_chars, total_tokens,
        |  CAST(total_chars // n_docs AS BIGINT) AS chars_per_doc,
        |  CAST(total_tokens // n_docs AS BIGINT) AS tokens_per_doc,
        |  CAST(n_docs - nh AS BIGINT) AS exact_dup_rows,
        |  corrupt_docs, short_docs
        |FROM a JOIN d USING (source) ORDER BY source""".stripMargin),
    Query("source_overlap", 2.684, (s, dir) =>
      // pairwise cross-source 8-gram fingerprint overlap matrix: shared
      // distinct grams + bp share of each side — the double-count audit
      // run before mixing weights are set; per-gram source sets are
      // |sources|-bounded and the corpus never self-joins
      graft.ops.Stats.sourceOverlap(Tables.documents(s, dir), "source", "text", k = 8)
        .orderBy(col("src_a"), col("src_b")),
      // same shingle + md5-prefix fingerprint replay as the minhash
      // family; the pair matrix via self-join on the fingerprint equals
      // Spark's per-gram source-set expansion exactly
      """WITH t AS (SELECT source, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |sh AS (SELECT source, unnest(CASE WHEN len(toks) >= 8
        |         THEN list_transform(range(0, len(toks) - 7), i -> array_to_string(toks[i+1:i+8], ' '))
        |         ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t),
        |gh AS (SELECT DISTINCT source, CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS g FROM sh),
        |tot AS (SELECT source, COUNT(*) AS n FROM gh GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b FROM gh a JOIN gh b ON a.g = b.g AND a.source < b.source),
        |sg AS (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS shared_grams FROM p GROUP BY 1, 2)
        |SELECT sg.src_a, sg.src_b, sg.shared_grams,
        |  CAST(sg.shared_grams * 10000 // ta.n AS BIGINT) AS overlap_a_bp,
        |  CAST(sg.shared_grams * 10000 // tb.n AS BIGINT) AS overlap_b_bp
        |FROM sg JOIN tot ta ON ta.source = sg.src_a JOIN tot tb ON tb.source = sg.src_b
        |ORDER BY src_a, src_b""".stripMargin),
    Query("label_vote", 1.208, (s, dir) => {
      // Snorkel-style LF agreement card over the Gopher battery as 7
      // noisy keep/reject labeling functions (same plants as
      // filter_attribution so several LFs discriminate), quorum 4 of 7
      val docs = Tables.documents(s, dir).withColumn("text", expr(
        """CASE WHEN doc_id % 41 = 0 THEN concat(text, ' ### ### ### ### ### ### ###')
          |     WHEN doc_id % 43 = 0 THEN concat(repeat(concat('* a', chr(10)), 10), text)
          |     WHEN doc_id % 47 = 0 THEN concat(text, ' the be to of and that have with')
          |     ELSE text END""".stripMargin))
      TextAnalysis.labelVoteCard(
        TextAnalysis.gopherRules(docs, "doc_id", "text"), GopherRuleNames, quorum = 4)
        .orderBy(col("lf"))
    },
      {
      // same synth + gopher fragments; majority at quorum 4, per-LF
      // keep/agree counters from ONE aggregate, unioned to rows
      val ruleSelect = GopherRulePreds.map { case (n, p) => s"CAST($p AS BIGINT) AS $n" }.mkString(", ")
      val voteSum = GopherRuleNames.mkString(" + ")
      val aggs = GopherRuleNames.map { n =>
        s"CAST(SUM($n) AS BIGINT) AS k_$n, CAST(SUM(CASE WHEN $n = maj THEN 1 ELSE 0 END) AS BIGINT) AS a_$n"
      }.mkString(", ")
      val unions = GopherRuleNames.map { n =>
        s"SELECT '$n' AS lf, n_docs, n_majority_keep, k_$n AS n_keep, a_$n AS n_agree, CAST((10000 * a_$n) // n_docs AS BIGINT) AS agree_bp FROM a"
      }.mkString(" UNION ALL ")
      s"""WITH synth AS (SELECT doc_id,
        |    CASE WHEN doc_id % 41 = 0 THEN text || ' ### ### ### ### ### ### ###'
        |         WHEN doc_id % 43 = 0 THEN repeat('* a' || chr(10), 10) || text
        |         WHEN doc_id % 47 = 0 THEN text || ' the be to of and that have with'
        |         ELSE text END AS text FROM documents),
        |${duckGopherMetrics("synth")},
        |rules AS (SELECT doc_id, $ruleSelect FROM gm),
        |voted AS (SELECT *, CAST(CASE WHEN $voteSum >= 4 THEN 1 ELSE 0 END AS BIGINT) AS maj FROM rules),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(maj) AS BIGINT) AS n_majority_keep, $aggs FROM voted)
        |$unions
        |ORDER BY lf""".stripMargin
    }),
    Query("filter_attribution", 1.067, (s, dir) => {
      // the ablation table behind the Gopher gate, over a corpus planted
      // so more than two rules discriminate: %41 gains seven '###' tokens
      // (symbol gate: 10000·7/n just over the 1000 bp line), %43 ten
      // bullet lines (bullet_bp 9090 > 9000), %47 the stopword inventory
      // (flips r_stop to PASS for variety — the raw corpus fails it
      // everywhere)
      val docs = Tables.documents(s, dir).withColumn("text", expr(
        """CASE WHEN doc_id % 41 = 0 THEN concat(text, ' ### ### ### ### ### ### ###')
          |     WHEN doc_id % 43 = 0 THEN concat(repeat(concat('* a', chr(10)), 10), text)
          |     WHEN doc_id % 47 = 0 THEN concat(text, ' the be to of and that have with')
          |     ELSE text END""".stripMargin))
      graft.ops.Stats.filterAttribution(
        TextAnalysis.gopherRules(docs, "doc_id", "text"), GopherRuleNames)
        .orderBy(col("rule"))
    },
      {
      // same plants, same duckGopherMetrics fragment, rule predicates
      // from the ONE GopherRulePreds source shared with text_gopher_rules
      val ruleSelect = GopherRulePreds.map { case (n, p) => s"CAST($p AS BIGINT) AS $n" }.mkString(", ")
      val nfailSum = GopherRuleNames.mkString(" + ")
      val aggs = GopherRuleNames.map { n =>
        s"CAST(SUM(1 - $n) AS BIGINT) AS f_$n, CAST(SUM(CASE WHEN $n = 0 AND nfail = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u_$n"
      }.mkString(", ")
      val unions = GopherRuleNames.map { n =>
        s"SELECT '$n' AS rule, n_docs, f_$n AS n_fail, u_$n AS n_unique_fail FROM a"
      }.mkString(" UNION ALL ")
      s"""WITH synth AS (SELECT doc_id,
        |    CASE WHEN doc_id % 41 = 0 THEN text || ' ### ### ### ### ### ### ###'
        |         WHEN doc_id % 43 = 0 THEN repeat('* a' || chr(10), 10) || text
        |         WHEN doc_id % 47 = 0 THEN text || ' the be to of and that have with'
        |         ELSE text END AS text FROM documents),
        |${duckGopherMetrics("synth")},
        |r AS (SELECT $ruleSelect FROM gm),
        |f AS (SELECT *, ${GopherRulePreds.size} - ($nfailSum) AS nfail FROM r),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, $aggs FROM f),
        |u AS ($unions)
        |SELECT rule, n_docs, n_fail, n_unique_fail,
        |  CAST((10000 * n_fail) // n_docs AS BIGINT) AS fail_bp,
        |  CAST((10000 * n_unique_fail) // n_docs AS BIGINT) AS unique_fail_bp
        |FROM u ORDER BY rule""".stripMargin
    }),
    Query("stats_drift", 1.466, (s, dir) => {
      // batch-over-batch drift gate: the %5 slice is the NEW batch and
      // its %35 docs (⊂ %5) gain the mojibake artifact, so the corruption
      // delta registers against a clean old side
      val docs = Tables.documents(s, dir)
      val oldB = docs.filter(col("doc_id") % 5 =!= 0)
      val newB = docs.filter(col("doc_id") % 5 === 0).withColumn("text",
        when(col("doc_id") % 35 === 0, concat(col("text"), lit(" cafÃ© naÃ¯ve")))
          .otherwise(col("text")))
      graft.ops.Stats.driftCard(oldB, newB, "source", "text").orderBy(col("source"))
    },
      // same %5 split, same plant, same dataCard token/corruption
      // formulas; full outer join replayed with USING-coalesced source
      s"""WITH synth AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 35 = 0 THEN text || ' cafÃ© naÃ¯ve' ELSE text END AS text
        |  FROM documents),
        |ob AS (SELECT source, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS toks,
        |    CASE WHEN len(regexp_extract_all(text, '${graft.ops.TextAnalysis.MojibakePattern}')) > 0 THEN 1 ELSE 0 END AS corrupt
        |  FROM synth WHERE doc_id % 5 <> 0),
        |oa AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS old_docs, CAST(SUM(toks) AS BIGINT) AS old_toks,
        |        CAST(SUM(corrupt) AS BIGINT) AS old_corrupt FROM ob GROUP BY 1),
        |nb AS (SELECT source, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS toks,
        |    CASE WHEN len(regexp_extract_all(text, '${graft.ops.TextAnalysis.MojibakePattern}')) > 0 THEN 1 ELSE 0 END AS corrupt
        |  FROM synth WHERE doc_id % 5 = 0),
        |na AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS new_docs, CAST(SUM(toks) AS BIGINT) AS new_toks,
        |        CAST(SUM(corrupt) AS BIGINT) AS new_corrupt FROM nb GROUP BY 1),
        |ot AS (SELECT CAST(coalesce(SUM(old_docs), 0) AS BIGINT) AS old_total FROM oa),
        |nt AS (SELECT CAST(coalesce(SUM(new_docs), 0) AS BIGINT) AS new_total FROM na),
        |j AS (SELECT source,
        |    coalesce(old_docs, 0) AS old_docs, coalesce(old_toks, 0) AS old_toks,
        |    coalesce(old_corrupt, 0) AS old_corrupt,
        |    CASE WHEN coalesce(old_docs, 0) = 0 THEN 0 ELSE old_toks // old_docs END AS old_tokens_per_doc,
        |    coalesce(new_docs, 0) AS new_docs, coalesce(new_toks, 0) AS new_toks,
        |    coalesce(new_corrupt, 0) AS new_corrupt,
        |    CASE WHEN coalesce(new_docs, 0) = 0 THEN 0 ELSE new_toks // new_docs END AS new_tokens_per_doc
        |  FROM oa FULL OUTER JOIN na USING (source)),
        |f AS (SELECT j.*, old_total, new_total,
        |    CASE WHEN old_total = 0 THEN 0 ELSE (10000 * old_docs) // old_total END AS old_share_bp,
        |    CASE WHEN new_total = 0 THEN 0 ELSE (10000 * new_docs) // new_total END AS new_share_bp,
        |    CASE WHEN old_docs = 0 THEN 0 ELSE (10000 * old_corrupt) // old_docs END AS old_corrupt_bp,
        |    CASE WHEN new_docs = 0 THEN 0 ELSE (10000 * new_corrupt) // new_docs END AS new_corrupt_bp
        |  FROM j, ot, nt)
        |SELECT source, old_docs, new_docs,
        |  CAST(old_share_bp AS BIGINT) AS old_share_bp, CAST(new_share_bp AS BIGINT) AS new_share_bp,
        |  CAST(new_share_bp - old_share_bp AS BIGINT) AS share_delta_bp,
        |  CAST(old_tokens_per_doc AS BIGINT) AS old_tokens_per_doc,
        |  CAST(new_tokens_per_doc AS BIGINT) AS new_tokens_per_doc,
        |  CAST(new_tokens_per_doc - old_tokens_per_doc AS BIGINT) AS tokens_per_doc_delta,
        |  CAST(old_corrupt_bp AS BIGINT) AS old_corrupt_bp, CAST(new_corrupt_bp AS BIGINT) AS new_corrupt_bp,
        |  CAST(new_corrupt_bp - old_corrupt_bp AS BIGINT) AS corrupt_delta_bp
        |FROM f ORDER BY source""".stripMargin),
    Query("snapshot_diff", 0.67, (s, dir) => {
      // content-addressed snapshot audit: old = %5≠0 slice of the
      // original table, new = %11≠0 slice with the %7 docs edited — all
      // four statuses populate (added %5=0∧%11≠0, removed %11=0∧%5≠0,
      // changed %7=0 minus those, unchanged the rest)
      val docs = Tables.documents(s, dir)
      val oldB = docs.filter(col("doc_id") % 5 =!= 0)
      val newB = docs.filter(col("doc_id") % 11 =!= 0).withColumn("text",
        when(col("doc_id") % 7 === 0, concat(lit("edited "), col("text")))
          .otherwise(col("text")))
      graft.ops.Stats.snapshotDiff(oldB, newB, "doc_id", "text")
        .orderBy(col("status"))
    },
      // same hash-compare full outer join, status decided identically;
      // shares over the id union with floor division
      """WITH o AS (SELECT doc_id, md5(text) AS ho FROM documents WHERE doc_id % 5 <> 0),
        |n AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN 'edited ' || text ELSE text END) AS hn
        |  FROM documents WHERE doc_id % 11 <> 0),
        |j AS (SELECT CASE WHEN ho IS NULL THEN 'added' WHEN hn IS NULL THEN 'removed'
        |    WHEN ho = hn THEN 'unchanged' ELSE 'changed' END AS status
        |  FROM o FULL OUTER JOIN n USING (doc_id)),
        |a AS (SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs FROM j GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM a)
        |SELECT status, n_docs, CAST((10000 * n_docs) // tot AS BIGINT) AS share_bp
        |FROM a CROSS JOIN t ORDER BY status""".stripMargin),
    Query("stats_mad", 0.657, (s, dir) => {
      // robust spread per source: exact nearest-rank median, then the
      // median of absolute deviations from it — the outlier-immune
      // spread a length-anomaly gate thresholds on (stddev is dragged
      // by exactly the outliers it should flag); two quantilesDisc
      // passes composed, all integer
      val docs = Tables.documents(s, dir)
      val med = graft.ops.Stats.quantilesDisc(docs, Seq("source"),
          col("n_chars"), Seq(5000))
        .select(col("source"), col("value").as("median"))
      val dev = docs.join(broadcast(med), "source")
        .select(col("source"), abs(col("n_chars") - col("median")).as("adev"))
      graft.ops.Stats.quantilesDisc(dev, Seq("source"), col("adev"), Seq(5000))
        .select(col("source"), col("value").as("mad"))
        .join(broadcast(med), "source")
        .select(col("source"), col("median"), col("mad"))
        .orderBy(col("source"))
    },
      // same ⌈q·n⌉ nearest-rank arithmetic, composed twice
      """WITH r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |med AS (SELECT source, CAST(n_chars AS BIGINT) AS median FROM r
        |        WHERE rn = (n * 5000 + 9999) // 10000),
        |d AS (SELECT d.source, abs(d.n_chars - m.median) AS adev
        |      FROM documents d JOIN med m USING (source)),
        |r2 AS (SELECT source, adev,
        |    row_number() OVER (PARTITION BY source ORDER BY adev) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM d),
        |mad AS (SELECT source, CAST(adev AS BIGINT) AS mad FROM r2
        |        WHERE rn = (n * 5000 + 9999) // 10000)
        |SELECT med.source, median, mad FROM med JOIN mad USING (source)
        |ORDER BY med.source""".stripMargin),
    Query("stats_outliers", 0.912, (s, dir) => {
      // the Hampel identifier the MAD exists FOR: per source, flag docs
      // with |len − median| > 3·MAD (integer threshold — the 1.4826
      // normal-consistency float is a calibration constant, not a
      // comparison we need) and report the flagged share; a stddev gate
      // would move its own threshold toward the outliers it should catch
      val docs = Tables.documents(s, dir)
      val med = graft.ops.Stats.quantilesDisc(docs, Seq("source"),
          col("n_chars"), Seq(5000))
        .select(col("source"), col("value").as("median"))
      val dev = docs.join(broadcast(med), "source")
        .select(col("source"), col("median"),
          abs(col("n_chars") - col("median")).as("adev"))
      val mad = graft.ops.Stats.quantilesDisc(dev, Seq("source"), col("adev"), Seq(5000))
        .select(col("source"), col("value").as("mad"))
      dev.join(broadcast(mad), "source")
        .groupBy(col("source"), col("median"), col("mad"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("adev") > lit(3L) * col("mad"), 1L).otherwise(0L)).as("n_flagged"))
        .withColumn("flagged_bp", expr("n_flagged * 10000 div n_docs"))
        .orderBy(col("source"))
    },
      // the same composed nearest-rank chain, then the 3·MAD Hampel gate
      // as a per-source count aggregate
      """WITH r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |med AS (SELECT source, CAST(n_chars AS BIGINT) AS median FROM r
        |        WHERE rn = (n * 5000 + 9999) // 10000),
        |d AS (SELECT d.source, m.median, abs(d.n_chars - m.median) AS adev
        |      FROM documents d JOIN med m USING (source)),
        |r2 AS (SELECT source, adev,
        |    row_number() OVER (PARTITION BY source ORDER BY adev) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM d),
        |mad AS (SELECT source, CAST(adev AS BIGINT) AS mad FROM r2
        |        WHERE rn = (n * 5000 + 9999) // 10000)
        |SELECT d.source, d.median, mad.mad,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS flagged_bp
        |FROM d JOIN mad USING (source)
        |GROUP BY 1, 2, 3 ORDER BY d.source""".stripMargin),
    Query("stats_quantiles", 0.432, (s, dir) =>
      // exact discrete length quantiles per source (nearest-rank, pure
      // integer rank arithmetic — no approx sketch, no interpolation)
      graft.ops.Stats.quantilesDisc(Tables.documents(s, dir), Seq("source"),
        col("n_chars"), Seq(2500, 5000, 9000, 9900))
        .orderBy(col("source"), col("q_bp")),
      """WITH r AS (SELECT source, n_chars AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |q AS (SELECT r.*, q_bp FROM r CROSS JOIN (SELECT unnest([2500, 5000, 9000, 9900]) AS q_bp) qs)
        |SELECT source, CAST(q_bp AS INT) AS q_bp, v AS value FROM q
        |WHERE rn = (n * q_bp + 9999) // 10000
        |ORDER BY source, q_bp""".stripMargin),
    Query("quantile_sketch", 0.553, (s, dir) =>
      // mergeable histogram-sketch quantiles (the t-digest-shaped scale
      // path: bounded integer state, merge-order-free) — binWidth=100
      // over doc lengths
      graft.ops.Stats.quantilesHistogram(Tables.documents(s, dir), Seq("source"),
        col("n_chars"), binWidth = 100L, Seq(5000, 9000, 9900))
        .orderBy(col("source"), col("q_bp")),
      """WITH b AS (SELECT source, n_chars // 100 AS bin, COUNT(*) AS cnt
        |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT *, SUM(cnt) OVER (PARTITION BY source ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
        |        SUM(cnt) OVER (PARTITION BY source) AS n FROM b),
        |q AS (SELECT c.*, q_bp FROM c CROSS JOIN (SELECT unnest([5000, 9000, 9900]) AS q_bp) qs)
        |SELECT source, CAST(q_bp AS INT) AS q_bp, CAST(bin * 100 AS BIGINT) AS est_lo
        |FROM q
        |WHERE cum >= (n * q_bp + 9999) // 10000 AND cum - cnt < (n * q_bp + 9999) // 10000
        |ORDER BY source, q_bp""".stripMargin),
    Query("zorder_key", 0.363, (s, dir) =>
      // Morton-interleaved layout key over (length, id-bucket): the sort
      // key that makes min/max file stats prune BOTH dimensions
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.ops.ZOrder.zKey("n_chars", "doc_id % 1024", 16).as("zkey"))
        .orderBy(col("doc_id")),
      // the SAME generated bit-interleave expression text runs in both
      // dialects — one derivation, zero drift
      s"SELECT doc_id, ${graft.ops.ZOrder.zKeySql("n_chars", "doc_id % 1024", 16)} AS zkey FROM documents ORDER BY doc_id"),
    Query("layout_skipping", 0.676, (s, dir) => {
      // the zorder claim as a NUMBER: bucket the corpus two ways —
      // z-prefix cells (a Morton prefix IS a quadtree cell, so bucketing
      // is map-only, no sort) vs insertion-order id ranges — and count
      // the buckets whose [min,max] n_chars stats prune a 50-wide length
      // predicate. Insertion buckets each span the whole length range
      // (prune ~nothing); z-cells cluster both dimensions
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id"), col("n_chars"),
        graft.ops.ZOrder.zKey("n_chars", "doc_id % 1024", 16).as("zkey"))
      val maxId = docs.agg(max(col("doc_id")).as("max_id"))
      val zb = base.groupBy(expr("zkey div 16384").as("bucket"))
        .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
      val ib = base.crossJoin(broadcast(maxId))
        .groupBy(expr("doc_id div ((max_id div 64) + 1)").as("bucket"))
        .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
      def card(b: org.apache.spark.sql.DataFrame, label: String) =
        b.agg(count(lit(1)).as("n_buckets"),
            sum(when(col("mx") < 280L || col("mn") > 329L, 1L).otherwise(0L)).as("n_pruned"))
          .select(lit(label).as("layout"), col("n_buckets"), col("n_pruned"),
            expr("n_pruned * 10000 div n_buckets").as("pruned_bp"))
      card(zb, "zorder").unionByName(card(ib, "insertion")).orderBy(col("layout"))
    },
      // shared interleave text; // replaces div, same prefix cells and
      // the same 50-wide predicate band
      s"""WITH base AS (SELECT doc_id, n_chars,
        |    ${graft.ops.ZOrder.zKeySql("n_chars", "doc_id % 1024", 16)} AS zkey FROM documents),
        |mi AS (SELECT MAX(doc_id) AS max_id FROM documents),
        |zb AS (SELECT zkey // 16384 AS bucket, MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM base GROUP BY 1),
        |ib AS (SELECT doc_id // ((mi.max_id // 64) + 1) AS bucket, MIN(n_chars) AS mn, MAX(n_chars) AS mx
        |       FROM base CROSS JOIN mi GROUP BY 1),
        |zc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |         CAST(SUM(CASE WHEN mx < 280 OR mn > 329 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned FROM zb),
        |ic AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |         CAST(SUM(CASE WHEN mx < 280 OR mn > 329 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned FROM ib)
        |SELECT 'zorder' AS layout, n_buckets, n_pruned,
        |  CAST(n_pruned * 10000 // n_buckets AS BIGINT) AS pruned_bp FROM zc
        |UNION ALL
        |SELECT 'insertion' AS layout, n_buckets, n_pruned,
        |  CAST(n_pruned * 10000 // n_buckets AS BIGINT) AS pruned_bp FROM ic
        |ORDER BY layout""".stripMargin),
    Query("inverted_index", 1.734, (s, dir) => {
      // posting-list construction: distinct (term, doc) → df + the first 8
      // postings per frequent term (df ≥ 25), numerically ordered
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), explode(Dedup.tokensCol(col("text"))).as("term"))
        .filter(col("term") =!= "").distinct()
      val ranked = t.withColumn("rn",
        row_number().over(Window.partitionBy(col("term")).orderBy(col("doc_id"))))
      ranked.groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          array_join(transform(sort_array(collect_list(when(col("rn") <= 8, col("doc_id")))),
            x => x.cast("string")), ",").as("postings"))
        .filter(col("df") >= 25)
        .orderBy(col("term"))
    },
      """WITH t0 AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |t AS (SELECT DISTINCT doc_id, term FROM t0),
        |tt AS (SELECT doc_id, term, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |       FROM t WHERE term <> ''),
        |agg AS (SELECT term, COUNT(*) AS df,
        |          string_agg(CASE WHEN rn <= 8 THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY doc_id) AS postings
        |        FROM tt GROUP BY term)
        |SELECT term, df, postings FROM agg WHERE df >= 25 ORDER BY term""".stripMargin),
    Query("multimodal_resize", 0.333, (s, dir) =>
      // aspect-fit resize geometry into a 224×224 box over the shared
      // synthetic media dims
      Multimodal.resizePlan(
        synthDims(s, dir).select("media_id", "width", "height"),
        targetW = 224, targetH = 224)
        .select(col("media_id"), col("width"), col("height"),
          col("out_w"), col("out_h"), col("pad_x"), col("pad_y"))
        .orderBy(col("media_id")),
      s"""WITH m AS ($DuckSynthDims)
        |SELECT media_id, width, height,
        |  CAST(greatest(1, CASE WHEN width * 224 >= height * 224 THEN 224 ELSE (width * 224) // height END) AS INT) AS out_w,
        |  CAST(greatest(1, CASE WHEN width * 224 >= height * 224 THEN (height * 224) // width ELSE 224 END) AS INT) AS out_h,
        |  CAST((224 - greatest(1, CASE WHEN width * 224 >= height * 224 THEN 224 ELSE (width * 224) // height END)) // 2 AS INT) AS pad_x,
        |  CAST((224 - greatest(1, CASE WHEN width * 224 >= height * 224 THEN (height * 224) // width ELSE 224 END)) // 2 AS INT) AS pad_y
        |FROM m ORDER BY media_id""".stripMargin),
    Query("curation_percentile", 0.918, (s, dir) => {
      // cross-source score calibration: quality_score → per-source
      // percentile in bp, so one global "bottom 20%" gate means the
      // same thing under every source's score distribution
      val docs = Tables.documents(s, dir)
      val q = TextAnalysis.quality(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      graft.ops.Stats.percentileByGroup(q, "source", "quality_score")
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("rnk"), col("pct_below_bp"))
        .orderBy(col("doc_id"))
    },
      // the text_quality score chain + the per-source rank window;
      // rank ties share a percentile, single-row groups read 0
      """WITH q AS (SELECT doc_id, source,
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS t,
        |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, source,
        |  CAST(length(t) AS BIGINT) AS n_chars_c,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that'], x))) AS BIGINT) AS stop_count
        |  FROM q),
        |sc AS (SELECT doc_id, source,
        |  least(40, n_tokens // 4)
        |    + (CASE WHEN (10000 * stop_count) // n_tokens BETWEEN 200 AND 6000 THEN 30 ELSE 0 END)
        |    + (CASE WHEN (1000 * (n_chars_c - (n_tokens - 1))) // n_tokens BETWEEN 2500 AND 9000 THEN 30 ELSE 0 END) AS quality_score
        |  FROM m),
        |r AS (SELECT doc_id, source, CAST(quality_score AS BIGINT) AS quality_score,
        |  CAST(rank() OVER (PARTITION BY source ORDER BY quality_score) AS BIGINT) AS rnk,
        |  CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM sc)
        |SELECT doc_id, source, quality_score, rnk,
        |  CAST((10000 * (rnk - 1)) // n AS BIGINT) AS pct_below_bp
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("text_watermark", 2.24, (s, dir) =>
      // green-list watermark screen: per doc, the green-bigram rate
      // (parity of the canonical 60-bit md5 word over each bigram) in
      // bp vs the ~5000 natural baseline; one map-only fold per doc
      TextAnalysis.watermarkScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      // same tokenizer, same md5-parity green bit over 1-indexed list
      // positions; list_sum of the empty list coalesces to 0
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(greatest(len(ts) - 1, 0) AS BIGINT) AS n_bigrams,
        |    CAST(coalesce(list_sum(list_transform(range(1, len(ts)),
        |      i -> CASE WHEN CAST('0x' || substring(md5(ts[i] || ':' || ts[i + 1]), 1, 15) AS BIGINT) % 2 = 1
        |                THEN 1 ELSE 0 END)), 0) AS BIGINT) AS greens
        |  FROM t)
        |SELECT doc_id, n_bigrams, greens,
        |  CAST(CASE WHEN n_bigrams = 0 THEN 0 ELSE (10000 * greens) // n_bigrams END AS BIGINT) AS green_bp,
        |  CAST(CASE WHEN n_bigrams > 0 AND (10000 * greens) // n_bigrams >= 5800 THEN 1 ELSE 0 END AS BIGINT) AS suspected
        |FROM b ORDER BY doc_id""".stripMargin),
    Query("text_ttr", 0.686, (s, dir) =>
      // lexical-diversity card: per-source type-token ratio + hapax
      // share in bp — the vocabulary-collapse detector for synthetic/
      // templated corpora; the shuffle carries the vocab, never the
      // token stream
      TextAnalysis.lexicalDiversity(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source")),
      // same tokenizer fragment; (source, term) counts → per-source
      // vocab collapse with floor-division bp
      """WITH t AS (SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |tc AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM t WHERE term <> '' GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST((10000 * COUNT(*)) // SUM(c) AS BIGINT) AS ttr_bp,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST((10000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS hapax_bp
        |FROM tc GROUP BY source ORDER BY source""".stripMargin),
    Query("text_stats_by_source", 0.436, (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("_t", trim(regexp_replace(col("text"), "\\s+", " ")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("_t")).cast("long")).as("sum_chars"),
          sum(size(split(col("_t"), " ")).cast("long")).as("sum_tokens"),
          expr("sum(cast(length(_t) as bigint)) div count(1)").as("avg_chars"))
        .orderBy(col("source")),
      """WITH t AS (SELECT source, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(length(t)) AS BIGINT) AS sum_chars,
        |  CAST(SUM(len(string_split(t, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(length(t)) // COUNT(*) AS BIGINT) AS avg_chars
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
