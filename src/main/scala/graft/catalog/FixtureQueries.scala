package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.chunk.Chunkers
import graft.enrich.FixtureTransport
import graft.io.{Readers, Tables}
import graft.norm.Norm
import graft.ops.TextAnalysis
import graft.pipelines.Pipelines
import graft.catalog.Duck._

/** Fixture-backed reference operators (parsers and lifecycles over the
  * repository fixtures), followed by the sketch, sampling, CDC, LSH-curve
  * and text-statistics rows declared after them.
  *
  * bibtex/JATS-XML/nested-JSON parsing has no DuckDB-SQL formulation, so
  * those rows' oracles read golden CSVs under fixtures/expected/. The pins
  * were generated from reviewed Verify output (rows cross-checked against
  * the fixture sources; parser semantics unit-tested in JatsSpec/
  * ChunkersSpec/PipelinesSpec against reference file:line behavior) — so
  * they guard against DRIFT; the parser specs carry the from-scratch
  * correctness argument. Regenerate deliberately via
  * tools/regen_expected.py and review the diff like any golden file. */
object FixtureQueries {

  private def fixturesDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES", "/root/repo/fixtures")

  /** The dedup_lsh_curve oracle replay, relation-parameterized so the
    * full-corpus row and the fixed-sample tuning row share one generator:
    * one signature prefix; per-r banding (ordered in-band mh concat),
    * production-capped bucket pairing, list_intersect verify at
    * >= 5000 bp, union truth across tiers. */
  private def duckLshCurve(rel: String): String = {
    val cap = graft.ops.Dedup.DefaultMaxBucket
    val tiers = Seq(1, 2, 4)
    val tierCtes = tiers.map { r =>
      s"""bands_$r AS (SELECT doc_id, seed // $r AS band_idx,
        |    array_to_string(list(mh ORDER BY seed), '|') AS band_val
        |  FROM sig GROUP BY 1, 2),
        |bc_$r AS (SELECT band_idx, band_val, COUNT(*) AS n FROM bands_$r GROUP BY 1, 2),
        |pairs_$r AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands_$r a JOIN bands_$r b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        |  JOIN bc_$r c ON c.band_idx = a.band_idx AND c.band_val = a.band_val
        |  WHERE c.n <= $cap),
        |conf_$r AS (SELECT p.doc_a, p.doc_b FROM pairs_$r p
        |  JOIN csets sa ON sa.doc_id = p.doc_a JOIN csets sb ON sb.doc_id = p.doc_b
        |  WHERE (10000 * len(list_intersect(sa.s, sb.s))) // (sa.nsh + sb.nsh - len(list_intersect(sa.s, sb.s))) >= 5000)""".stripMargin
    }.mkString(",\n")
    val union = tiers.map(r => s"SELECT doc_a, doc_b FROM conf_$r").mkString(" UNION ")
    val rows = tiers.map { r =>
      s"""SELECT CAST($r AS BIGINT) AS rows_per_band, CAST(${16 / r} AS BIGINT) AS n_bands,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs_$r) AS n_candidates,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM conf_$r) AS n_confirmed,
        |  CASE WHEN (SELECT COUNT(*) FROM pairs_$r) = 0 THEN 0
        |       ELSE CAST((SELECT COUNT(*) FROM conf_$r) * 10000 // (SELECT COUNT(*) FROM pairs_$r) AS BIGINT) END AS precision_bp,
        |  CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 10000
        |       ELSE CAST((SELECT COUNT(*) FROM conf_$r) * 10000 // (SELECT COUNT(*) FROM truth) AS BIGINT) END AS recall_bp""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${duckMinhashSig(rel)},
      |csets AS (SELECT doc_id, list(DISTINCT m1) AS s, COUNT(DISTINCT m1) AS nsh FROM hashed GROUP BY 1),
      |$tierCtes,
      |truth AS ($union)
      |$rows
      |ORDER BY rows_per_band""".stripMargin
  }

  val all: Seq[Query] = rows(fixturesDir)

  /** `s` as the body of a DuckDB string literal. */
  private def duckQuoted(s: String): String = s.replace("'", "''")

  /** The rows over the fixture files in `fixturesDir`: each fixture-backed
    * build and its oracle read the same files. */
  private[graft] def rows(fixturesDir: String): Seq[Query] = Seq(
    Query("springer_jats", 0.436, (s, _) => {
      // S10+J7+X7 in one pass: each fixture response replays one Springer
      // OA lookup through the BatchTransport seam — prefixed JATS (X7),
      // the escaped-<xml>-wrapper and regex extraction fallbacks, the
      // DOI-match record preference (J7: pick2 selects the SECOND record,
      // nomatch falls back to the first), an abstract-only article, and
      // the no-<record> error string. Requested DOI derives from the
      // file stem; golden CSV oracle.
      import s.implicits._
      val files = s.sparkContext.wholeTextFiles(s"$fixturesDir/springer").collect()
      val reqs = files.map { case (f, xml) =>
        (s"10.5555/${new java.io.File(f).getName.stripSuffix(".xml")}", xml)
      }
      val transport = new FixtureTransport(reqs.toMap)
      graft.enrich.Springer.enrich(reqs.map(_._1).toSeq.toDF("doi"), "doi", transport)
        .withColumn("doi_matched", col("doi_matched").cast("long"))
        .orderBy(col("doi"))
    },
      s"""SELECT doi, status, picked_doi, doi_matched, title, n_sections, body_len, abstract_len, via
        |FROM read_csv('${duckQuoted(fixturesDir)}/expected/springer_jats.csv', header=true, nullstr='\\N')
        |ORDER BY doi""".stripMargin),
    Query("bib_scan", 0.28, (s, _) =>
      Readers.loadBib(s, s"$fixturesDir/sample_refs.bib")
        .select(col("cite_key"), col("entry_type"), col("doi"), col("title"), col("journal"))
        .orderBy(col("cite_key")),
      s"""SELECT cite_key, entry_type, doi, title, journal
        |FROM read_csv('${duckQuoted(fixturesDir)}/expected/bib_scan.csv', header=true, nullstr='\\N')
        |ORDER BY cite_key""".stripMargin),
    Query("csv_scan", 0.449, (s, _) =>
      Readers.loadCsv(s, s"$fixturesDir/input_dois.csv")
        .withColumn("doi_norm", Norm.normalizeDoi(col("doi")))
        .na.drop(Seq("doi_norm"))
        .groupBy(col("doi_norm")).agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("doi_norm")),
      s"""WITH c AS (SELECT nullif(lower(trim(replace(regexp_replace(trim(doi, ' ' || $DuckWs), '(?i)^https?://(dx\\.)?doi\\.org/', ''), chr(8203), ''), ' ' || $DuckWs)), '') AS doi_norm
        |           FROM read_csv('${duckQuoted(fixturesDir)}/input_dois.csv', header=true))
        |SELECT doi_norm, COUNT(*) AS n_occurrences FROM c WHERE doi_norm IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("csv_scan_keepfirst", 0.486, (s, _) => {
      val df = Readers.loadCsv(s, s"$fixturesDir/input_dois.csv")
        .withColumn("_ord", monotonically_increasing_id())
        .withColumn("doi_norm", Norm.normalizeDoi(col("doi")))
        .na.drop(Seq("doi_norm"))
      df.withColumn("_rn", row_number().over(Window.partitionBy(col("doi_norm")).orderBy(col("_ord"))))
        .filter(col("_rn") === 1)
        .select(col("doi_norm"), col("journal"))
        .orderBy(col("doi_norm"))
    },
      s"""WITH c AS (SELECT doi, journal, row_number() OVER () AS ord
         |           FROM read_csv('${duckQuoted(fixturesDir)}/input_dois.csv', header=true)),
         |n AS (SELECT journal, ord, nullif(lower(trim(replace(regexp_replace(trim(doi, ' ' || $DuckWs), '(?i)^https?://(dx\\.)?doi\\.org/', ''), chr(8203), ''), ' ' || $DuckWs)), '') AS doi_norm FROM c),
         |k AS (SELECT doi_norm, journal, row_number() OVER (PARTITION BY doi_norm ORDER BY ord) AS rn
         |      FROM n WHERE doi_norm IS NOT NULL)
         |SELECT doi_norm, journal FROM k WHERE rn = 1 ORDER BY doi_norm""".stripMargin),
    Query("jsonl_coalesce", 0.254, (s, _) =>
      Norm.coalesceArticle(Readers.loadJsonl(s, s"$fixturesDir/articles.jsonl"))
        .select(col("id"), col("title"), col("doi"),
          length(col("full_text")).cast("long").as("body_len"))
        .orderBy(col("doi")),
      s"""SELECT coalesce(id, pmcid, pmid) AS id, title, doi,
        |       CAST(length(coalesce(full_text, text, body)) AS BIGINT) AS body_len
        |FROM read_json('${duckQuoted(fixturesDir)}/articles.jsonl', format='newline_delimited')
        |ORDER BY doi""".stripMargin),
    Query("format_dispatch", 0.983, (s, _) => {
      // S5: one mixed-extension funnel through the dispatch reader
      // (normalize.py:8-34 semantics): each path routes to its format's
      // scan — csv/jsonl/json/bib — and every record lands in the same
      // canonical (src, doi_norm) relation. Null DOIs keep the '(none)'
      // sentinel so the group row sorts identically in both engines.
      val files = Seq("input_dois.csv", "articles.jsonl",
        "fulltext_articles.json", "sample_refs.bib")
      files.map { f =>
        Readers.loadRecords(s, s"$fixturesDir/$f")
          .select(lit(f).as("src"),
            coalesce(Norm.normalizeDoi(col("doi")), lit("(none)")).as("doi_norm"))
      }.reduce(_ unionByName _)
        .groupBy(col("src"), col("doi_norm")).agg(count(lit(1)).as("n"))
        .orderBy(col("src"), col("doi_norm"))
    },
      // bib side reads the reviewed bib_scan golden (the bib PARSE is pinned
      // there; this oracle replays only the dispatch-union-normalize algebra)
      s"""WITH u AS (
         |  SELECT 'input_dois.csv' AS src, ${duckDoiNorm("doi")} AS doi_norm
         |  FROM read_csv('${duckQuoted(fixturesDir)}/input_dois.csv', header=true)
         |  UNION ALL
         |  SELECT 'articles.jsonl', ${duckDoiNorm("doi")}
         |  FROM read_json('${duckQuoted(fixturesDir)}/articles.jsonl', format='newline_delimited')
         |  UNION ALL
         |  SELECT 'fulltext_articles.json', ${duckDoiNorm("doi")}
         |  FROM read_json('${duckQuoted(fixturesDir)}/fulltext_articles.json')
         |  UNION ALL
         |  SELECT 'sample_refs.bib', ${duckDoiNorm("doi")}
         |  FROM read_csv('${duckQuoted(fixturesDir)}/expected/bib_scan.csv', header=true, nullstr='\\N'))
         |SELECT src, coalesce(doi_norm, '(none)') AS doi_norm, COUNT(*) AS n
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("fulltext_sections", 0.244, (s, _) => {
      import s.implicits._
      val raw = s.sparkContext.wholeTextFiles(s"$fixturesDir/fulltext_articles.json")
        .flatMap { case (_, text) => graft.io.JsonTree.parseList(text) }
        .map { rec =>
          val m = rec.asInstanceOf[Map[String, Any]]
          val doi = m.getOrElse("doi", "").toString
          val secs = Chunkers.iterSectionTexts(m.getOrElse("sections", Map.empty))
          (doi, secs.map(st => (st.section_path, st.text)))
        }
      raw.toDF("doi", "sections")
        .select(col("doi"), explode(col("sections")).as("sec"))
        .select(col("doi"), col("sec._1").as("section_path"), length(col("sec._2")).as("sec_len"))
        .orderBy(col("doi"), col("section_path"))
    },
      s"""SELECT doi, section_path, sec_len
        |FROM read_csv('${duckQuoted(fixturesDir)}/expected/fulltext_sections.csv', header=true, nullstr='\\N')
        |ORDER BY doi, section_path""".stripMargin),
    Query("jats_parse", 0.316, (s, _) =>
      Pipelines.parseJatsDir(s, s"$fixturesDir/jats")
        .select(col("pmcid"), col("article_title"), col("body_len"),
          size(col("sections")).as("n_sections"))
        .orderBy(col("pmcid")),
      s"""SELECT pmcid, article_title, body_len, n_sections
        |FROM read_csv('${duckQuoted(fixturesDir)}/expected/jats_parse.csv', header=true, nullstr='\\N')
        |ORDER BY pmcid""".stripMargin),
    Query("jats_abstract", 0.309, (s, _) =>
      // X4 surfaced directly (xml_cleaning.py:72-106): structured <abstract>
      // <sec>s join title + paragraphs, flat abstracts fall back to <p>s or
      // raw text, absent abstract (PMC8000006) pins as ''/0 — the output is
      // kept null-free because the comparator sorts rows on the
      // name-sorted column tuple and a null in the first sort column
      // breaks it. Newlines fold to " | " so the golden CSV stays
      // single-line; the pinned length is of the REAL newline-joined text.
      Pipelines.parseJatsDir(s, s"$fixturesDir/jats")
        .select(col("pmcid"),
          coalesce(regexp_replace(col("abstract"), "\n", " | "), lit("")).as("abstract_text"),
          coalesce(length(col("abstract")).cast("long"), lit(0L)).as("abstract_len"))
        .orderBy(col("pmcid")),
      s"""SELECT pmcid, abstract_text, abstract_len
        |FROM read_csv('${duckQuoted(fixturesDir)}/expected/jats_abstract.csv', header=true, nullstr='\\N')
        |ORDER BY pmcid""".stripMargin),
    Query("chunk_by_section", 0.225, (s, _) => {
      import s.implicits._
      val chunks = s.sparkContext.wholeTextFiles(s"$fixturesDir/fulltext_articles.json")
        .flatMap { case (_, text) => graft.io.JsonTree.parseList(text) }
        .flatMap { rec =>
          val m = rec.asInstanceOf[Map[String, Any]]
          val docId = m.getOrElse("doi", "").toString
          val secs = Chunkers.iterSectionTexts(m.getOrElse("sections", Map.empty))
          Chunkers.chunkBySection(docId, secs, chunkSize = 300, overlap = 30)
        }
      chunks.toDF()
        .select(Chunkers.chunkId(col("doc_id"), col("chunk_index")).as("chunk_id"),
          col("doc_id"), col("chunk_index"), col("section_path"), length(col("text")).as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_index"))
    },
      s"""SELECT chunk_id, doc_id, chunk_index, section_path, chunk_len
        |FROM read_csv('${duckQuoted(fixturesDir)}/expected/chunk_by_section.csv', header=true, nullstr='\\N')
        |ORDER BY doc_id, chunk_index""".stripMargin),
    Query("pipeline_fulltext", 1.085, (s, _) => {
      val bib = Readers.loadBib(s, s"$fixturesDir/sample_refs.bib")
        .select(col("doi"), col("journal"), col("title"))
      val csv = Readers.loadCsv(s, s"$fixturesDir/input_dois.csv")
        .select(col("doi"), col("journal"), lit(null).cast("string").as("title"))
      val input = bib.unionByName(csv)
      val idMap = s.read.option("header", "true").csv(s"$fixturesDir/idconv_map.csv")
      val failMap = s.read.option("header", "true").csv(s"$fixturesDir/efetch_fail.csv")
      val articles = Pipelines.parseJatsDir(s, s"$fixturesDir/jats")
      val seen = s.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doi_norm", org.apache.spark.sql.types.StringType))))
      val res = Pipelines.runFulltext(input, idMap, failMap, articles, seen)
      res.records.select(col("doi"), col("title"), col("journal"), col("pmcid")).orderBy(col("doi"))
    },
      s"""SELECT doi, title, journal, pmcid
        |FROM read_csv('${duckQuoted(fixturesDir)}/expected/pipeline_fulltext.csv', header=true, nullstr='\\N')
        |ORDER BY doi""".stripMargin),
    Query("pipeline_failures", 0.945, (s, _) => {
      val bib = Readers.loadBib(s, s"$fixturesDir/sample_refs.bib")
        .select(col("doi"), col("journal"), col("title"))
      val csv = Readers.loadCsv(s, s"$fixturesDir/input_dois.csv")
        .select(col("doi"), col("journal"), lit(null).cast("string").as("title"))
      val input = bib.unionByName(csv)
      val idMap = s.read.option("header", "true").csv(s"$fixturesDir/idconv_map.csv")
      val failMap = s.read.option("header", "true").csv(s"$fixturesDir/efetch_fail.csv")
      val articles = Pipelines.parseJatsDir(s, s"$fixturesDir/jats")
      val seen = s.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doi_norm", org.apache.spark.sql.types.StringType))))
      val res = Pipelines.runFulltext(input, idMap, failMap, articles, seen)
      res.failures.orderBy(col("doi"))
    },
      s"""SELECT doi, journal, reason
        |FROM read_csv('${duckQuoted(fixturesDir)}/expected/pipeline_failures.csv', header=true, nullstr='\\N')
        |ORDER BY doi""".stripMargin),
    Query("curation_frontier", 1.539, (s, dir) => {
      // the quality-gate operating table: what cutoff reaches a 25/50/75%
      // keep target and what it buys in docs and TOKENS — one corpus
      // aggregate onto the ~101-value score domain, everything after is
      // histogram-sized
      val q = TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text")
      graft.ops.Stats.scoreFrontier(
        q.select(col("quality_score"), col("n_tokens")),
        "quality_score", "n_tokens", Seq(2500, 5000, 7500))
        .orderBy(col("keep_bp"))
    },
      {
        val tiers = Seq(2500, 5000, 7500).map { bp =>
          s"""SELECT CAST($bp AS BIGINT) AS keep_bp, CAST(cc.score AS BIGINT) AS cutoff,
            |  CAST(cc.cum_n AS BIGINT) AS n_kept,
            |  CAST(cc.cum_n * 10000 // t.n_total AS BIGINT) AS docs_bp,
            |  CAST(cc.cum_w AS BIGINT) AS weight_kept,
            |  CAST(cc.cum_w * 10000 // t.w_total AS BIGINT) AS weight_bp
            |FROM c cc, t
            |WHERE cc.score = (SELECT MAX(score) FROM c, t WHERE cum_n >= (n_total * $bp) // 10000)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $DuckQualityScore,
          |h AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(nt) AS BIGINT) AS w FROM qsc GROUP BY 1),
          |c AS (SELECT score, CAST(SUM(n) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n,
          |        CAST(SUM(w) OVER (ORDER BY score DESC) AS BIGINT) AS cum_w FROM h),
          |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total, CAST(SUM(nt) AS BIGINT) AS w_total FROM qsc)
          |$tiers
          |ORDER BY keep_bp""".stripMargin
      }),
    Query("dedup_lsh_curve", 3.428, (s, dir) =>
      // the banding-geometry S-curve measured: rows-per-band 1/2/4 over
      // ONE 16-hash signature pass, production cap, shared verify —
      // the (r, cap) operating point is chosen FROM this table
      graft.ops.Dedup.bandingCurve(Tables.documents(s, dir), "doc_id", "text",
        rowsList = Seq(1, 2, 4), minJaccardBp = 5000L)
        .orderBy(col("rows_per_band")),
      duckLshCurve("documents")),
    Query("dedup_lsh_curve_tuned", 2.148, (s, dir) => {
      // the 100 TB tuning posture: banding geometry is a PER-PAIR
      // property, and a pair-level estimate needs a pair-PRESERVING
      // sample — a uniform doc sample keeps pairs at rate p² and is
      // empty at scale (measured: zero candidates at sf10). The
      // signature-coherent sample keys membership on h0 = min shingle
      // hash at rate 1/M, M ∝ corpus size, so near-dup pairs co-sample
      // at rate ≈ J/M and the expected sampled-pair yield is CONSTANT
      // however large the crawl. Cost: one fingerprint-scan + a curve on
      // the ~256-doc sample; the full-corpus dedup_lsh_curve stays the
      // exact audit shape, verify-bound linear in its own answer.
      val docs = Tables.documents(s, dir)
      graft.ops.Dedup.bandingCurve(
        graft.ops.Dedup.coherentSample(docs, "doc_id", "text", k = 3,
          budgetDocs = graft.ops.Dedup.DefaultSampleBudgetDocs),
        "doc_id", "text", rowsList = Seq(1, 2, 4), minJaccardBp = 5000L)
        .orderBy(col("rows_per_band"))
    },
        // the identical generated curve replay targeted at the
        // signature-coherent sample (the shared duckCoherentSample
        // fragment — membership arithmetic and budget constant live once)
        duckLshCurve(duckCoherentSample("documents"))),
    Query("stream_sketch", 2.006, (s, dir) => {
      // streaming sketch maintenance: the %5==0 crawl increment commits
      // per-batch MIN-sketch deltas (sketch-sized state per commit); the
      // read-side merge with the batch-side base sketch must equal the
      // single-pass sketch of the WHOLE corpus — shares
      // sketch_minvals_merge's oracle verbatim. Run-twice pins the
      // restart contract (unchanged file set → second run commits
      // nothing new; MIN-merge is idempotent even if it did).
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_stream_sketch_${s.sparkContext.applicationId}").getAbsolutePath
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val tablePath = new java.io.File(s"$dir/documents.parquet")
      def once(): Unit =
        if (tablePath.isDirectory)
          graft.streaming.StreamingIngest.runSketchOnce(s, tablePath.getAbsolutePath,
            s"$base/out", s"$base/ckpt", "source", "text", b = 256, glob = "*",
            increment = col("doc_id") % 5 === 0)
        else
          graft.streaming.StreamingIngest.runSketchOnce(s, dir,
            s"$base/out", s"$base/ckpt", "source", "text", b = 256,
            increment = col("doc_id") % 5 === 0)
      once(); once()
      val baseTerms = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
        .select(col("source"), explode(graft.ops.Dedup.tokensCol(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val baseSketch = graft.ops.Kmv.minSketch(baseTerms, Seq("source"), col("term"), b = 256)
      val deltas = s.read.parquet(s"$base/out/b*")
      graft.ops.Kmv.cardinalityCard(
        graft.ops.Kmv.merge(Seq("source"), baseSketch, deltas), Seq("source"), b = 256)
        .orderBy(col("source"))
    },
        // streaming sketch maintenance must converge to the single-pass
        // sketch — the merge row's oracle verbatim
      Catalog("sketch_minvals_merge").oracle),
    Query("shard_rendezvous", 0.785, (s, dir) => {
      // consistent-sharding movement card: assign every doc at 16 and at
      // 17 shards; rendezvous moves ~1/17 of rows where pmod moves ~all —
      // the re-sharding bill made a number, per OLD shard
      val docs = Tables.documents(s, dir)
        .withColumn("shard16", graft.ops.Sampling.rendezvousShard(col("doc_id"), 16))
        .withColumn("shard17", graft.ops.Sampling.rendezvousShard(col("doc_id"), 17))
      docs.groupBy(col("shard16"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard16") =!= col("shard17"), 1L).otherwise(0L)).as("n_moved"))
        .withColumn("moved_bp", expr("n_moved * 10000 div n_docs"))
        .orderBy(col("shard16"))
    },
        // per-doc argmax over shard hashes, replayed as a rank window;
        // ties break to the higher shard index in both engines
        """WITH sh AS (SELECT doc_id, s,
          |    CAST('0x' || substring(md5(CAST(s AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
          |  FROM documents CROSS JOIN (SELECT unnest(range(17)) AS s)),
          |r16 AS (SELECT doc_id, s AS shard16 FROM (
          |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
          |    FROM sh WHERE s < 16) WHERE rn = 1),
          |r17 AS (SELECT doc_id, s AS shard17 FROM (
          |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
          |    FROM sh) WHERE rn = 1)
          |SELECT shard16, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(CASE WHEN shard16 <> shard17 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
          |  CAST(SUM(CASE WHEN shard16 <> shard17 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS moved_bp
          |FROM r16 JOIN r17 USING (doc_id)
          |GROUP BY shard16 ORDER BY shard16""".stripMargin),
    Query("cdc_diff", 0.535, (s, dir) => {
      // record-level change capture between two corpus versions: v2
      // deletes %7, edits %11's text, inserts a shifted %13 slice — the
      // diff must classify every changed key I/U/D and stay silent on
      // unchanged rows (one co-partitioned full-outer join on pre-digested
      // rows; the change batch is change-sized, never corpus-sized)
      val v1 = Tables.documents(s, dir)
      val v2 = v1.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L)
          .withColumn("text", concat(lit("fresh: "), col("text"))))
      graft.ops.Cdc.diff(v1, v2, Seq("doc_id"),
        Seq("text", "lang", "source", "n_chars"))
        .orderBy(col("doc_id"))
    },
      // the oracle emits the change batch from the construction rules
      // directly; the engine has to REDISCOVER it through the digest diff
      """SELECT doc_id, 'D' AS op FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, 'U' AS op FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 11 = 0
        |UNION ALL
        |SELECT doc_id + 10000000 AS doc_id, 'I' AS op FROM documents WHERE doc_id % 13 = 0
        |ORDER BY doc_id""".stripMargin),
    Query("cdc_merge", 1.159, (s, dir) => {
      // the refresh loop closed: applyChanges(v1, diff(v1, v2)) must BE
      // v2 row-for-row — the oracle constructs v2 directly, the Spark
      // side has to reach it through the full derive-batch-then-merge
      // path (one anti-join on the base + a broadcast-sized batch union)
      val v1 = Tables.documents(s, dir)
      val v2 = v1.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L)
          .withColumn("text", concat(lit("fresh: "), col("text"))))
      val d = graft.ops.Cdc.diff(v1, v2, Seq("doc_id"),
        Seq("text", "lang", "source", "n_chars"))
      val batch = d.join(v2, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("op"))
      graft.ops.Cdc.applyChanges(v1, batch, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      // v2 constructed directly — merge∘diff must reproduce it exactly
      """WITH v2 AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    text || CASE WHEN doc_id % 11 = 0 THEN ' [rev2]' ELSE '' END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, lang, source, n_chars, 'fresh: ' || text
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM v2 ORDER BY doc_id""".stripMargin),
    Query("sketch_minvals", 1.085, (s, dir) => {
      // min-value sketch cardinality card (one-permutation bins, inverse
      // estimator) per source, REPORTED against the exact distinct word
      // count — the estimator's state is 256 rows/source no matter the
      // corpus size, map-side combinable, mergeable across shards
      val terms = Tables.documents(s, dir)
        .select(col("source"), explode(graft.ops.Dedup.tokensCol(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val sk = graft.ops.Kmv.minSketch(terms, Seq("source"), col("term"), b = 256)
      graft.ops.Kmv.cardinalityCard(sk, Seq("source"), b = 256)
        .join(terms.groupBy("source").agg(countDistinct(col("term")).as("exact_distinct")), "source")
        .withColumn("err_bp",
          expr("abs(est_distinct - exact_distinct) * 10000 div exact_distinct"))
        .orderBy(col("source"))
    },
      // same 60-bit hash; bucket = h % 256, rank value = h // 256 on
      // [0, 2^52); summed-minima MinCount estimator, minima coarsened by
      // // 256 so 2^60 is the single inversion numerator (R' = 2^44)
      """WITH t AS (SELECT DISTINCT source, term FROM (
        |    SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |    FROM documents) WHERE term <> ''),
        |h AS (SELECT source, CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) AS h FROM t),
        |s AS (SELECT source, h % 256 AS bucket, MIN(h // 256) AS m FROM h GROUP BY 1, 2),
        |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS buckets_hit,
        |        CAST(1152921504606846976 // (SUM(m // 256) + (256 - COUNT(*)) * 17592186044416 + COUNT(*)) - 256 AS BIGINT) AS est_distinct
        |      FROM s GROUP BY 1),
        |e AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM t GROUP BY 1)
        |SELECT c.source, buckets_hit, est_distinct, exact_distinct,
        |  CAST(abs(est_distinct - exact_distinct) * 10000 // exact_distinct AS BIGINT) AS err_bp
        |FROM c JOIN e USING (source) ORDER BY source""".stripMargin),
    Query("sketch_minvals_merge", 1.172, (s, dir) => {
      // the merge algebra pinned by oracle: three doc_id%3 slices sketched
      // INDEPENDENTLY then MIN-merged must equal the single-pass sketch —
      // the property that lets per-day/per-shard sketches combine without
      // ever rescanning the corpus (the oracle replays the single pass)
      val docs = Tables.documents(s, dir)
      def slice(r: Int) = docs.filter(col("doc_id") % 3 === r)
        .select(col("source"), explode(graft.ops.Dedup.tokensCol(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val sketches = (0 until 3).map(r =>
        graft.ops.Kmv.minSketch(slice(r), Seq("source"), col("term"), b = 256))
      graft.ops.Kmv.cardinalityCard(
        graft.ops.Kmv.merge(Seq("source"), sketches: _*), Seq("source"), b = 256)
        .orderBy(col("source"))
    },
      // SINGLE-PASS replay — hash-equality proves the Spark-side
      // slice-then-MIN-merge reaches identical sketch state
      """WITH t AS (SELECT DISTINCT source, term FROM (
        |    SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |    FROM documents) WHERE term <> ''),
        |h AS (SELECT source, CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) AS h FROM t),
        |s AS (SELECT source, h % 256 AS bucket, MIN(h // 256) AS m FROM h GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS buckets_hit,
        |  CAST(1152921504606846976 // (SUM(m // 256) + (256 - COUNT(*)) * 17592186044416 + COUNT(*)) - 256 AS BIGINT) AS est_distinct
        |FROM s GROUP BY source ORDER BY source""".stripMargin),
    Query("sketch_growth", 1.773, (s, dir) => {
      // the retention feature in a runtime story: commit yesterday's
      // sketch (the %5≠0 corpus) and today's (MIN-merged with the %5
      // increment) as two RETAINED generations of one GenTable, then
      // answer "how much vocabulary did the crawl add" by time-traveling
      // both generations — per source, est cardinality then/now and the
      // growth; the oracle replays both cards from the data directly, so
      // hash-equality proves readGeneration returns each generation
      // EXACTLY as committed
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_sketch_growth_${s.sparkContext.applicationId}").getAbsolutePath
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      def terms(f: org.apache.spark.sql.Column) = Tables.documents(s, dir).filter(f)
        .select(col("source"), explode(graft.ops.Dedup.tokensCol(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val oldSketch = graft.ops.Kmv.minSketch(
        terms(col("doc_id") % 5 =!= 0), Seq("source"), col("term"), b = 256)
      val g1 = graft.io.GenTable.replace(s, root, oldSketch, keep = 2)
      val delta = graft.ops.Kmv.minSketch(
        terms(col("doc_id") % 5 === 0), Seq("source"), col("term"), b = 256)
      val g2 = graft.io.GenTable.replace(s, root,
        graft.ops.Kmv.merge(Seq("source"),
          graft.io.GenTable.readGeneration(s, root, g1), delta), keep = 2)
      def card(g: Long, as: String) = graft.ops.Kmv.cardinalityCard(
        graft.io.GenTable.readGeneration(s, root, g), Seq("source"), b = 256)
        .select(col("source"), col("est_distinct").as(as))
      card(g1, "est_then").join(card(g2, "est_now"), "source")
        .withColumn("growth", greatest(col("est_now") - col("est_then"), lit(0L)))
        .orderBy(col("source"))
    },
      // both generations replayed from the data: then = %5≠0 single
      // pass, now = full-corpus single pass (MIN-merge of the retained
      // gen + delta ≡ single pass over the union, the pinned algebra)
      """WITH t AS (SELECT DISTINCT source, term, (CASE WHEN dmod = 0 THEN 1 ELSE 0 END) AS is_new FROM (
        |    SELECT source, doc_id % 5 AS dmod,
        |      unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |    FROM documents) WHERE term <> ''),
        |h AS (SELECT source, term, MIN(is_new) AS only_new,
        |        CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) AS h
        |      FROM t GROUP BY 1, 2, 4),
        |s_then AS (SELECT source, h % 256 AS bucket, MIN(h // 256) AS m FROM h WHERE only_new = 0 GROUP BY 1, 2),
        |s_now AS (SELECT source, h % 256 AS bucket, MIN(h // 256) AS m FROM h GROUP BY 1, 2),
        |c_then AS (SELECT source,
        |    CAST(1152921504606846976 // (SUM(m // 256) + (256 - COUNT(*)) * 17592186044416 + COUNT(*)) - 256 AS BIGINT) AS est_then
        |  FROM s_then GROUP BY 1),
        |c_now AS (SELECT source,
        |    CAST(1152921504606846976 // (SUM(m // 256) + (256 - COUNT(*)) * 17592186044416 + COUNT(*)) - 256 AS BIGINT) AS est_now
        |  FROM s_now GROUP BY 1)
        |SELECT c_then.source, est_then, est_now,
        |  CAST(greatest(est_now - est_then, 0) AS BIGINT) AS growth
        |FROM c_then JOIN c_now USING (source) ORDER BY c_then.source""".stripMargin),
    Query("sketch_acquisition", 1.645, (s, dir) => {
      // leave-one-out marginal vocabulary per source, from sketches only
      // (a mirror source's marginal reads ~0 however big it is) — every
      // relation after the sketch is |sources|x256 rows
      val terms = Tables.documents(s, dir)
        .select(col("source"), explode(graft.ops.Dedup.tokensCol(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val sk = graft.ops.Kmv.minSketch(terms, Seq("source"), col("term"), b = 256)
      graft.ops.Kmv.marginalCard(sk, "source", b = 256).orderBy(col("source"))
    },
      """WITH t AS (SELECT DISTINCT source, term FROM (
        |    SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |    FROM documents) WHERE term <> ''),
        |h AS (SELECT source, CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) AS h FROM t),
        |s AS (SELECT source, h % 256 AS bucket, MIN(h // 256) AS m FROM h GROUP BY 1, 2),
        |g AS (SELECT DISTINCT source AS excl FROM s),
        |loo AS (SELECT g.excl, s.bucket, MIN(s.m) AS m FROM s JOIN g ON s.source <> g.excl GROUP BY 1, 2),
        |woc AS (SELECT excl,
        |    CAST(1152921504606846976 // (SUM(m // 256) + (256 - COUNT(*)) * 17592186044416 + COUNT(*)) - 256 AS BIGINT) AS est_without
        |  FROM loo GROUP BY 1),
        |fullu AS (SELECT bucket, MIN(m) AS m FROM s GROUP BY 1),
        |fc AS (SELECT CAST(1152921504606846976 // (SUM(m // 256) + (256 - COUNT(*)) * 17592186044416 + COUNT(*)) - 256 AS BIGINT) AS est_union FROM fullu)
        |SELECT g.excl AS source,
        |  CAST(coalesce(woc.est_without, 0) AS BIGINT) AS est_without,
        |  fc.est_union,
        |  CAST(greatest(fc.est_union - coalesce(woc.est_without, 0), 0) AS BIGINT) AS est_marginal
        |FROM g LEFT JOIN woc USING (excl) CROSS JOIN fc ORDER BY source""".stripMargin),
    Query("source_overlap_sketch", 1.522, (s, dir) => {
      // the sketch path of source_overlap: pairwise vocabulary Jaccard
      // from 256-bin one-permutation signatures (matching mins over
      // co-occupied bins), beside the exact Jaccard from the vocab-sized
      // term-set relation — at 100 TB only the sketch path is run (the
      // join is |sources|x256 rows a side), the exact side is this demo
      // row's honesty column
      val terms = Tables.documents(s, dir)
        .select(col("source"), explode(graft.ops.Dedup.tokensCol(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val sk = graft.ops.Kmv.minSketch(terms, Seq("source"), col("term"), b = 256)
      val est = graft.ops.Kmv.jaccardMatrix(sk, "source")
      val ts = terms.distinct()
      val sizes = ts.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = ts.select(col("source").as("src_a"), col("term"))
        .join(ts.select(col("source").as("src_b"), col("term")), Seq("term"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_inter"))
      val exact = inter
        .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), Seq("src_a"))
        .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), Seq("src_b"))
        .withColumn("jaccard_exact_bp",
          expr("n_inter * 10000 div (n_a + n_b - n_inter)"))
        .select(col("src_a"), col("src_b"), col("jaccard_exact_bp"))
      est.join(exact, Seq("src_a", "src_b"))
        .select(col("src_a"), col("src_b"), col("co_buckets"),
          col("match_buckets"), col("jaccard_est_bp"), col("jaccard_exact_bp"))
        .orderBy(col("src_a"), col("src_b"))
    },
      """WITH t AS (SELECT DISTINCT source, term FROM (
        |    SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |    FROM documents) WHERE term <> ''),
        |h AS (SELECT source, term, CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) AS h FROM t),
        |s AS (SELECT source, h % 256 AS bucket, MIN(h // 256) AS m FROM h GROUP BY 1, 2),
        |est AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS co_buckets,
        |    CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS match_buckets
        |  FROM s a JOIN s b ON a.bucket = b.bucket AND a.source < b.source
        |  GROUP BY 1, 2),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM t a JOIN t b ON a.term = b.term AND a.source < b.source GROUP BY 1, 2)
        |SELECT e.src_a, e.src_b, e.co_buckets, e.match_buckets,
        |  CAST(e.match_buckets * 10000 // e.co_buckets AS BIGINT) AS jaccard_est_bp,
        |  CAST(i.n_inter * 10000 // (sa.n + sb.n - i.n_inter) AS BIGINT) AS jaccard_exact_bp
        |FROM est e JOIN inter i ON e.src_a = i.src_a AND e.src_b = i.src_b
        |JOIN sz sa ON sa.source = e.src_a JOIN sz sb ON sb.source = e.src_b
        |ORDER BY e.src_a, e.src_b""".stripMargin),
    Query("sample_priority", 0.79, (s, dir) => {
      // token-weighted fixed-size corpus subsample with unbiased
      // subset-sum weights (priority sampling): map-only integer
      // priorities, a TakeOrdered top-65 (no corpus shuffle), est_w =
      // max(w, tau) from the (k+1)-th priority
      val w = TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_ws_tokens"))
      graft.ops.Sampling.prioritySample(w, "doc_id", col("n_ws_tokens"), k = 64, seed = 7)
        .orderBy(col("rank"))
    },
      // q = (w << 40) // (top-40-bits-of-seeded-hash + 1); top-64 by
      // (q DESC, doc_id); est_w = max(w, 65th priority)
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS w
        |  FROM documents),
        |p AS (SELECT doc_id, w,
        |    (w * 1099511627776) // ((CAST('0x' || substring(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) // 1048576) + 1) AS q
        |  FROM t),
        |r AS (SELECT doc_id, w, q,
        |    CAST(row_number() OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS rank FROM p)
        |SELECT rank, doc_id, w,
        |  CAST(greatest(w, coalesce((SELECT q FROM r WHERE rank = 65), 0)) AS BIGINT) AS est_w
        |FROM r WHERE rank <= 64 ORDER BY rank""".stripMargin),
    Query("text_simpson", 0.949, (s, dir) =>
      // the 20 most repetitive documents by exact-integer Simpson
      // concentration — the whole-distribution repetition signal beside
      // the windowed dup-gram scans
      TextAnalysis.simpson(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(desc("simpson_bp"), col("doc_id")).limit(20),
      """WITH t AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term FROM documents),
        |tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c FROM t WHERE term <> '' GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        CAST(COUNT(*) AS BIGINT) AS vocab, CAST(MAX(c) AS BIGINT) AS top_term_n,
        |        CAST((SUM(c * c) * 10000) // (SUM(c) * SUM(c)) AS BIGINT) AS simpson_bp
        |      FROM tc GROUP BY 1)
        |SELECT doc_id, n_tokens, vocab, top_term_n, simpson_bp
        |FROM d ORDER BY simpson_bp DESC, doc_id LIMIT 20""".stripMargin),
    Query("text_keyphrases", 0.695, (s, dir) =>
      // RAKE top-3 keyphrases per doc: stopword-split candidate runs
      // (<=4 tokens), milli-exact deg/freq word scores, identical texts
      // collapsed — the per-doc topic tags beside the corpus-level
      // collocations row
      TextAnalysis.rakeKeyphrases(Tables.documents(s, dir), "doc_id", "text",
        maxLen = 4, k = 3)
        .orderBy(col("doc_id"), col("rank")),
      // same stopword-run segmentation idiom (running-sum ids), ORDER BY
      // string_agg phrase rebuild, doc-level word stats, milli division
      """WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS tk FROM documents),
        |x AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM t),
        |y AS (SELECT doc_id, i, tk[i] AS tok FROM x WHERE tk[i] <> ''),
        |f AS (SELECT doc_id, i, tok,
        |    CASE WHEN list_contains(['the','a','of','and','to','in','is','that'], tok) THEN 1 ELSE 0 END AS st FROM y),
        |s AS (SELECT doc_id, i, tok, st,
        |    SUM(st) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS seg FROM f),
        |n AS (SELECT doc_id, i, tok, seg FROM s WHERE st = 0),
        |p AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS plen,
        |    string_agg(tok, ' ' ORDER BY i) AS phrase, list(tok) AS words FROM n GROUP BY 1, 2),
        |pc AS (SELECT * FROM p WHERE plen <= 4),
        |wx AS (SELECT doc_id, plen, unnest(words) AS word FROM pc),
        |ws AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(plen) AS BIGINT) AS deg FROM wx GROUP BY 1, 2),
        |wm AS (SELECT doc_id, word, CAST((1000 * deg) // freq AS BIGINT) AS wscore FROM ws),
        |px AS (SELECT doc_id, seg, phrase, unnest(words) AS word FROM pc),
        |sc AS (SELECT px.doc_id, px.seg, px.phrase, CAST(SUM(wm.wscore) AS BIGINT) AS score_milli
        |    FROM px JOIN wm ON wm.doc_id = px.doc_id AND wm.word = px.word GROUP BY 1, 2, 3),
        |cc AS (SELECT doc_id, phrase, MAX(score_milli) AS score_milli FROM sc GROUP BY 1, 2),
        |r AS (SELECT doc_id, phrase, score_milli,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_milli DESC, phrase ASC) AS BIGINT) AS rank FROM cc)
        |SELECT doc_id, rank, phrase, score_milli FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin),
    Query("text_segments", 1.432, (s, dir) =>
      // exact-integer TextTiling: 40-token blocks, distinct-vocab Jaccard
      // cohesion between neighbors, boundary under 1500 bp — the
      // topic-shift chunk boundaries the fixed/section chunkers lack
      TextAnalysis.textTiling(Tables.documents(s, dir), "doc_id", "text",
        window = 40, boundaryBp = 1500)
        .orderBy(col("doc_id")),
      // 0-based positions (i-1) to match posexplode, empty tokens dropped
      // AFTER positioning, 40-token tumbling blocks, list-exact Jaccard
      """WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS tk FROM documents),
        |x AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM t),
        |y AS (SELECT doc_id, (i - 1) // 40 AS win, tk[i] AS tok FROM x WHERE tk[i] <> ''),
        |v AS (SELECT doc_id, win, CAST(COUNT(*) AS BIGINT) AS wtok,
        |    list_distinct(list(tok)) AS vocab FROM y GROUP BY 1, 2),
        |l AS (SELECT doc_id, win, wtok, vocab,
        |    lag(vocab) OVER (PARTITION BY doc_id ORDER BY win) AS pv FROM v),
        |j AS (SELECT doc_id, wtok,
        |    CASE WHEN pv IS NULL THEN -1
        |         ELSE CAST(len(list_filter(vocab, x -> list_contains(pv, x))) * 10000
        |           // len(list_distinct(list_concat(vocab, pv))) AS BIGINT) END AS jacc_bp
        |  FROM l),
        |o AS (SELECT doc_id, CAST(SUM(wtok) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_windows,
        |    CAST(SUM(CASE WHEN jacc_bp >= 0 AND jacc_bp < 1500 THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
        |    MIN(CASE WHEN jacc_bp >= 0 THEN jacc_bp END) AS minj,
        |    SUM(CASE WHEN jacc_bp >= 0 THEN jacc_bp END) AS sumj,
        |    SUM(CASE WHEN jacc_bp >= 0 THEN 1 ELSE 0 END) AS npairs
        |  FROM j GROUP BY 1)
        |SELECT doc_id, n_tokens, n_windows, n_boundaries,
        |  CAST(n_boundaries + 1 AS BIGINT) AS n_segments,
        |  CAST(coalesce(minj, -1) AS BIGINT) AS min_jacc_bp,
        |  CAST(CASE WHEN npairs = 0 THEN -1 ELSE sumj // npairs END AS BIGINT) AS mean_jacc_bp
        |FROM o ORDER BY doc_id""".stripMargin),
    Query("chunk_tiling", 1.948, (s, dir) =>
      // the COMPOSED row (r14 task 3): text_segments' boundary machinery
      // actually segmenting — every sub-1500bp cohesion drop starts a new
      // chunk, chunk text rebuilt from the windows' ordered tokens; one
      // shared code path with textTiling so card and chunker agree
      TextAnalysis.tilingChunks(Tables.documents(s, dir), "doc_id", "text",
        window = 40, boundaryBp = 1500)
        .orderBy(col("doc_id"), col("seg_index")),
      // text_segments' CTE chain extended: boundary flag per window, the
      // running-sum segment index, tokens regrouped by (doc, seg) with
      // string_agg ordered by token position
      """WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS tk FROM documents),
        |x AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM t),
        |y AS (SELECT doc_id, (i - 1) // 40 AS win, i - 1 AS pos, tk[i] AS tok FROM x WHERE tk[i] <> ''),
        |v AS (SELECT doc_id, win, list_distinct(list(tok)) AS vocab FROM y GROUP BY 1, 2),
        |l AS (SELECT doc_id, win, vocab,
        |    lag(vocab) OVER (PARTITION BY doc_id ORDER BY win) AS pv FROM v),
        |j AS (SELECT doc_id, win,
        |    CASE WHEN pv IS NULL THEN -1
        |         ELSE CAST(len(list_filter(vocab, x -> list_contains(pv, x))) * 10000
        |           // len(list_distinct(list_concat(vocab, pv))) AS BIGINT) END AS jacc_bp
        |  FROM l),
        |s AS (SELECT doc_id, win,
        |    SUM(CASE WHEN jacc_bp >= 0 AND jacc_bp < 1500 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY win) AS seg
        |  FROM j),
        |z AS (SELECT y.doc_id, y.win, s.seg, y.pos, y.tok
        |      FROM y JOIN s ON s.doc_id = y.doc_id AND s.win = y.win)
        |SELECT doc_id || '::s' || seg AS chunk_id, doc_id, CAST(seg AS BIGINT) AS seg_index,
        |  CAST(COUNT(DISTINCT win) AS BIGINT) AS n_windows,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  string_agg(tok, ' ' ORDER BY pos) AS chunk_text
        |FROM z GROUP BY doc_id, seg ORDER BY doc_id, seg""".stripMargin),
    Query("sample_uniform", 0.286, (s, dir) =>
      // seeded bottom-k uniform sample ("distributed reservoir"):
      // order-free MERGEABLE membership — retries, shard unions, and
      // corpus growth agree on the sample with no coordination, the
      // property single-pass reservoir state can't give an engine. The
      // fixed eval/holdout slice of a growing corpus. Map-only hash +
      // TakeOrdered(64); the rank window runs on 64 rows
      graft.ops.Sampling.uniformSample(Tables.documents(s, dir), "doc_id", k = 64)
        .orderBy(col("rank")),
      // bottom-64 by the seeded 60-bit md5 word (ties on doc_id) — the
      // mergeable uniform sample's membership rule replayed exactly
      """WITH h AS (SELECT doc_id,
        |    CAST('0x' || substring(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h60
        |  FROM documents),
        |r AS (SELECT doc_id, h60,
        |    CAST(row_number() OVER (ORDER BY h60, doc_id) AS BIGINT) AS rank FROM h)
        |SELECT rank, doc_id, h60 FROM r WHERE rank <= 64 ORDER BY rank""".stripMargin),
    Query("stats_corr", 0.7, (s, dir) => {
      // integer Pearson card per source: does token VOLUME predict VOCAB
      // (Heaps' law)? Exact sufficient statistics + covariance/variance
      // NUMERATORS (DECIMAL-exact products); the rooted r stays a
      // reader-side ratio so engine sqrt rounding never enters the
      // artifact. One map-side-combined aggregate, no join, no window
      val tk = graft.ops.Dedup.tokensCol(col("text"))
      graft.ops.Stats.corrCard(
        Tables.documents(s, dir).select(col("source"),
          size(tk).cast("long").as("nt"),
          size(array_distinct(tk)).cast("long").as("vocab")),
        "source", col("nt"), col("vocab"))
        .orderBy(col("source"))
    },
      // same tokenization, HUGEINT-exact numerator products cast back to
      // BIGINT after the subtract (the engine runs DECIMAL(38,0))
      """WITH t AS (SELECT source,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |d AS (SELECT source, CAST(len(toks) AS BIGINT) AS nt,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS vocab FROM t),
        |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(nt) AS BIGINT) AS sum_x, CAST(SUM(vocab) AS BIGINT) AS sum_y,
        |    CAST(SUM(nt * nt) AS BIGINT) AS sum_xx, CAST(SUM(vocab * vocab) AS BIGINT) AS sum_yy,
        |    CAST(SUM(nt * vocab) AS BIGINT) AS sum_xy
        |  FROM d GROUP BY 1)
        |SELECT source, n, sum_x, sum_y, sum_xx, sum_yy, sum_xy,
        |  CAST(CAST(n AS HUGEINT) * sum_xy - CAST(sum_x AS HUGEINT) * sum_y AS BIGINT) AS cov_num,
        |  CAST(CAST(n AS HUGEINT) * sum_xx - CAST(sum_x AS HUGEINT) * sum_x AS BIGINT) AS varx_num,
        |  CAST(CAST(n AS HUGEINT) * sum_yy - CAST(sum_y AS HUGEINT) * sum_y AS BIGINT) AS vary_num,
        |  CAST(CASE WHEN CAST(n AS HUGEINT) * sum_xy > CAST(sum_x AS HUGEINT) * sum_y THEN 1
        |       WHEN CAST(n AS HUGEINT) * sum_xy < CAST(sum_x AS HUGEINT) * sum_y THEN -1
        |       ELSE 0 END AS BIGINT) AS corr_sign
        |FROM a ORDER BY source""".stripMargin),
    Query("graph_domain_rank", 2.234, (s, dir) => {
      // web-curation domain authority end to end: synthesized anchor
      // hrefs per document (the fixture corpus carries no URLs —
      // url_canonical precedent), then the REAL machinery — regexp href
      // extraction, urlParts canonicalization, registrable-domain node
      // ids, distinct domain→domain edges, the exact-integer PageRank
      // graph_pagerank already pins. The 100 TB shape: corpus-sized
      // links collapse to the DOMAIN-sized graph (distinct on bounded
      // keys) before any iteration state exists, so the rank loop runs
      // on ~|domains| rows no matter the crawl size
      val docs = Tables.documents(s, dir)
      val withHtml = docs.select(col("doc_id"), expr(
        "concat('<p>see <a href=\"https://Sub', CAST(doc_id % 5 AS STRING)," +
          " '.example', CAST((doc_id * 3 + 1) % 61 AS STRING), '.com/a/'," +
          " CAST(doc_id AS STRING), '?utm_source=feed\">one</a> and" +
          " <a href=\"http://example', CAST((doc_id * 7 + 2) % 61 AS STRING)," +
          " '.com/b\">two</a>', CASE WHEN doc_id % 3 = 0 THEN" +
          " concat(' plus <a href=\"https://example'," +
          " CAST((doc_id * 11 + 5) % 61 AS STRING), '.com/c\">three</a>')" +
          " ELSE '' END, '</p>')").as("html"))
      val links = withHtml.select(col("doc_id"),
        explode(expr("regexp_extract_all(html, 'href=\"([^\"]+)\"', 1)")).as("url"))
      val edges = TextAnalysis.urlParts(links, "doc_id", "url")
        .select((col("doc_id") % 61).as("src"),
          expr("CAST(regexp_extract(domain, '([0-9]+)', 1) AS BIGINT)").as("dst"))
      graft.ops.Graph.pageRank(
        s.range(61).select(col("id").as("node")), edges, iters = 4)
        .orderBy(col("node"))
    },
      // INDEPENDENT derivation on purpose: the oracle computes the
      // planted domain edges ARITHMETICALLY (doc_id%61 → (3i+1)%61,
      // (7i+2)%61, and (11i+5)%61 on the %3 slice), while the engine must
      // recover exactly those edges through href regexp extraction +
      // urlParts canonicalization + domain-digit node ids — so the
      // hash-match pins the whole extraction chain, not just the rank
      // loop (which reuses graph_pagerank's exact-integer iterations)
      s"""WITH l_e0 AS (
        |    SELECT doc_id % 61 AS src, (doc_id * 3 + 1) % 61 AS dst FROM documents
        |    UNION ALL SELECT doc_id % 61, (doc_id * 7 + 2) % 61 FROM documents
        |    UNION ALL SELECT doc_id % 61, (doc_id * 11 + 5) % 61 FROM documents WHERE doc_id % 3 = 0),
        |g_e AS (SELECT DISTINCT src, dst FROM l_e0 WHERE src <> dst),
        |g_odeg AS (SELECT src, count(*) AS odeg FROM g_e GROUP BY src),
        |g_nodes AS (SELECT unnest(range(0, 61)) AS node),
        |g_nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g_nodes),
        |g_r0 AS (SELECT node, CAST(CAST(1000000000 AS BIGINT) // n AS BIGINT) AS pr FROM g_nodes CROSS JOIN g_nn),
        |${duckPrIter(1)},
        |${duckPrIter(2)},
        |${duckPrIter(3)},
        |${duckPrIter(4)}
        |SELECT r.node, CAST(coalesce(o.odeg, 0) AS BIGINT) AS out_degree, r.pr AS pr_nano
        |FROM g_r4 r LEFT JOIN g_odeg o ON o.src = r.node ORDER BY r.node""".stripMargin)
  )
}
