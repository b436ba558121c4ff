package graft.catalog

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.norm.Norm
import graft.ops.Dedup
import graft.catalog.Duck._

/** Normalization funnel (P1-P9, J1): DOI/PMCID normalization, JSON and
  * HTML round trips, exact dedup and the minimum-full-text gate. */
object NormalizationQueries {

  /** Synthetic DOI/journal derivations over `documents` — the reference's
    * bibliography columns don't exist in the fixture tables, so the funnel
    * operators run on deterministically derived ones (same expressions in
    * the oracle SQL). */
  private val DoiRawSql =
    """CASE CAST(doc_id % 4 AS INT)
      | WHEN 0 THEN 'https://doi.org/10.1234/' || source || '.' || doc_id
      | WHEN 1 THEN 'HTTP://DX.DOI.ORG/10.5678/' || upper(source) || '.' || doc_id
      | WHEN 2 THEN '10.9990/' || source || '.' || doc_id || '​'
      | ELSE 'see 10.7770/' || source || '.' || doc_id || ' appendix' END""".stripMargin

  private val JournalRawSql = "'{' || upper(source) || '}  Journal   of  ' || lang"

  private val DuckNormalizeDoi = duckDoiNorm("doi_raw")

  val all: Seq[Query] = Seq(
    Query("doi_normalize", 0.407, (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("doi_raw", expr(DoiRawSql))
        .select(col("doc_id"), Norm.normalizeDoi(col("doi_raw")).as("doi_norm"))
        .orderBy(col("doc_id")),
      s"""WITH d AS (SELECT doc_id, $DoiRawSql AS doi_raw FROM documents)
         |SELECT doc_id, $DuckNormalizeDoi AS doi_norm FROM d ORDER BY doc_id""".stripMargin),
    Query("normalize_funnel", 0.663, (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("doi_raw", expr(DoiRawSql))
        .withColumn("journal_raw", expr(JournalRawSql))
        .select(col("doc_id"),
          Norm.doiExtract(col("doi_raw")).as("doi_extracted"),
          Norm.stripBraces(col("journal_raw")).as("journal_clean"),
          Norm.stripBraces(substring(col("text"), 1, 40)).as("title_clean"))
        .orderBy(col("doc_id")),
      s"""WITH d AS (SELECT doc_id, text, $DoiRawSql AS doi_raw, $JournalRawSql AS journal_raw FROM documents)
         |SELECT doc_id,
         |  nullif(regexp_extract(doi_raw, '(?i)10[.][0-9]{4,9}/[^ ]+', 0), '') AS doi_extracted,
         |  nullif(trim(regexp_replace(regexp_replace(journal_raw, '[{}]', '', 'g'), ' +', ' ', 'g')), '') AS journal_clean,
         |  nullif(trim(regexp_replace(regexp_replace(substring(text, 1, 40), '[{}]', '', 'g'), ' +', ' ', 'g')), '') AS title_clean
         |FROM d ORDER BY doc_id""".stripMargin),
    Query("doc_id_derive", 0.476, (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("doi_raw", expr(DoiRawSql))
        .withColumn("doi_norm",
          when(col("doc_id") % 3 =!= 0, Norm.normalizeDoi(col("doi_raw"))).otherwise(lit(null)))
        .select(col("doc_id"),
          Norm.docId(col("doi_norm"), substring(col("text"), 1, 30), upper(col("source"))).as("doc_key"))
        .orderBy(col("doc_id")),
      s"""WITH d AS (SELECT doc_id, text, source, $DoiRawSql AS doi_raw FROM documents),
         |n AS (SELECT doc_id, text, source,
         |  CASE WHEN doc_id % 3 <> 0 THEN $DuckNormalizeDoi END AS doi_norm FROM d)
         |SELECT doc_id,
         |  CASE WHEN doi_norm IS NOT NULL THEN doi_norm
         |       ELSE 'hash:' || substring(sha256(substring(text, 1, 30) || '|' || upper(source)), 1, 16) END AS doc_key
         |FROM n ORDER BY doc_id""".stripMargin),
    Query("json_roundtrip", 0.47, (s, dir) => {
      // K1/K2 as a correctness gate, not just a side effect: a documents
      // slice goes OUT through the JSONL sink and comes back via a
      // schema-pinned read; the oracle replays the selection straight from
      // the table, so any sink loss (escaping, types, nulls, dropped rows)
      // breaks the hash. The tmp path is scoped by application id (no
      // cross-JVM clobbering) and overwritten per run.
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_json_roundtrip_${s.sparkContext.applicationId}").getAbsolutePath
      val slice = Tables.documents(s, dir)
        .filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      graft.io.Writers.jsonSink(slice, path)
      s.read.schema("doc_id BIGINT, source STRING, lang STRING, text STRING").json(path)
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source, lang, text FROM documents
        |WHERE doc_id % 13 = 0 ORDER BY doc_id""".stripMargin),
    Query("pmcid_canonical", 0.297, (s, dir) =>
      // P9 over a synthesized raw-id funnel covering the forms the
      // reference's idconv responses carry (sources/pmc.py:162,245-251):
      // canonical "PMC<digits>", lowercase, bare digits, padded
      Tables.documents(s, dir)
        .withColumn("pmcid_raw",
          when(col("doc_id") % 4 === 0, concat(lit("PMC"), col("doc_id")))
            .when(col("doc_id") % 4 === 1, concat(lit("pmc"), col("doc_id")))
            .when(col("doc_id") % 4 === 2, col("doc_id").cast("string"))
            .otherwise(concat(lit(" PMC"), col("doc_id"), lit(" "))))
        .select(col("doc_id"), col("pmcid_raw"),
          Norm.pmcidCanonical(col("pmcid_raw")).as("pmcid"))
        .orderBy(col("doc_id")),
      """WITH r AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'PMC' || doc_id
        |       WHEN doc_id % 4 = 1 THEN 'pmc' || doc_id
        |       WHEN doc_id % 4 = 2 THEN CAST(doc_id AS VARCHAR)
        |       ELSE ' PMC' || doc_id || ' ' END AS pmcid_raw
        |  FROM documents)
        |SELECT doc_id, pmcid_raw,
        |       'PMC' || regexp_replace(pmcid_raw, '[^0-9]', '', 'g') AS pmcid
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("html_unescape", 0.318, (s, dir) => {
      // P10 (sources/springer.py:108-116): multi-round entity unescape to
      // fixpoint over a synthesized escaped-payload funnel — named core
      // set, double-escaped nesting, decimal and hex numeric references.
      // The operator is the pure-Scala partition-function tier, so the
      // query exercises it through a typed map; the oracle replays each
      // round as a cascade-free replace chain (&-producing entities last).
      import s.implicits._
      Tables.documents(s, dir)
        .withColumn("raw",
          when(col("doc_id") % 5 === 0, lit("Fish &amp; Chips"))
            .when(col("doc_id") % 5 === 1, lit("&amp;amp; nested"))
            .when(col("doc_id") % 5 === 2, lit("&lt;p&gt;text&lt;/p&gt;"))
            .when(col("doc_id") % 5 === 3, lit("q&quot;&apos;&#38;&#x3C;"))
            .otherwise(lit("no entities here")))
        .select(col("doc_id"), col("raw"))
        .as[(Long, String)]
        .map { case (id, r) => (id, r, Norm.htmlMultiUnescape(r)) }
        .toDF("doc_id", "raw", "unescaped")
        .orderBy(col("doc_id"))
    },
      // three unescape rounds, each a replace chain ordered so no replace
      // output feeds a later replace in the SAME round (the &-producing
      // entities amp/#38/#x26 come last) — sequential replaces then equal
      // the Scala single-pass regex round, and three rounds reach the
      // fixpoint for <=triple-escaped payloads exactly like the operator
      """WITH r AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'Fish &amp; Chips'
        |       WHEN doc_id % 5 = 1 THEN '&amp;amp; nested'
        |       WHEN doc_id % 5 = 2 THEN '&lt;p&gt;text&lt;/p&gt;'
        |       WHEN doc_id % 5 = 3 THEN 'q&quot;&apos;&#38;&#x3C;'
        |       ELSE 'no entities here' END AS raw
        |  FROM documents),
        |u1 AS (SELECT doc_id, raw, replace(replace(replace(replace(replace(replace(raw,
        |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&#x3C;', '<'), '&#38;', '&') AS s1 FROM r),
        |u1b AS (SELECT doc_id, raw, replace(s1, '&amp;', '&') AS s1 FROM u1),
        |u2 AS (SELECT doc_id, raw, replace(replace(replace(replace(replace(replace(replace(s1,
        |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&#x3C;', '<'), '&#38;', '&'), '&amp;', '&') AS s2 FROM u1b),
        |u3 AS (SELECT doc_id, raw, replace(replace(replace(replace(replace(replace(replace(s2,
        |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&#x3C;', '<'), '&#38;', '&'), '&amp;', '&') AS s3 FROM u2)
        |SELECT doc_id, raw, s3 AS unescaped FROM u3 ORDER BY doc_id""".stripMargin),
    Query("dedup_exact", 0.381, (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text").orderBy(col("doc_id")),
      """SELECT doc_id, md5(text) AS text_hash,
        |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("filter_min_fulltext", 0.303, (s, dir) =>
      Tables.documents(s, dir)
        .filter(Norm.minFulltextChars(col("text"), 200))
        .select(col("doc_id"), length(col("text")).cast("long").as("body_len"))
        .orderBy(col("doc_id")),
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS body_len FROM documents
        |WHERE length(text) >= 200 ORDER BY doc_id""".stripMargin)
  )
}
