package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.norm.Norm
import graft.enrich.Enrich
import graft.chunk.{Chunk, Chunkers, SectionText}
import graft.embed.Embedders
import graft.jats.Jats
import graft.vector.VectorOps
import org.apache.spark.sql.graft.Pin

/** The reference's three entry-point lifecycles (SURVEY.md §3), composed
  * from the operator library as single declarative DAGs.
  */
object Pipelines {

  /** Result bundle of the flagship fulltext pipeline (§3.1). */
  final case class FulltextResult(
      records: DataFrame, failures: DataFrame, summary: DataFrame)

  /** §3.1 `run_fulltext`, offline formulation: HTTP enrichment becomes
    * broadcast joins against fixture id-map / parsed-article relations
    * (same algebra — left-outer + failure routing; the `mapPartitions`
    * batched-HTTP shape stays behind this interface for an online mode).
    *
    * input:    (doi, journal, title) lenient bibliography rows
    * idMap:    (doi_norm, pmcid) — idconv stand-in
    * failMap:  (doi_norm, reason) — per-DOI fetch-failure taxonomy
    * articles: (pmcid, title, sections array, body_len) — parsed JATS store
    * seen:     (doi_norm) — prior-output resume set
    */
  def runFulltext(input: DataFrame, idMap: DataFrame, failMap: DataFrame,
                  articles: DataFrame, seen: DataFrame,
                  minFulltextChars: Int = 200): FulltextResult = {
    // 1. normalize + dropna + keep-first dedup, input order pinned (J1)
    val normalized = input
      .withColumn("_ord", monotonically_increasing_id())
      .withColumn("doi_norm", Norm.normalizeDoi(col("doi")))
      .na.drop(Seq("doi_norm"))
    val deduped = Pin(normalized
      .withColumn("_rn", row_number().over(Window.partitionBy(col("doi_norm")).orderBy(col("_ord"))))
      .filter(col("_rn") === 1).drop("_rn"))

    // 2. resume anti-join (J3)
    val todo = Enrich.resumeAntiJoin(deduped, seen, "doi_norm")

    // 3-4. enrichment joins (J2, J4) + reason lookup (J5)
    val enriched = Enrich.enrichJoin(todo, idMap, "doi_norm")
      .join(broadcast(articles), Seq("pmcid"), "left")

    // 5. assemble + split (A3): per-row ok/reason in one pass
    val assembled = Pin(enriched
      .withColumn("body_ok", col("body_len").isNotNull && col("body_len") >= minFulltextChars)
      .withColumn("ok", col("pmcid").isNotNull && col("article_title").isNotNull && col("body_ok"))
      .join(broadcast(failMap.withColumnRenamed("reason", "_fail_reason")), Seq("doi_norm"), "left")
      .withColumn("reason",
        when(col("ok"), lit(null).cast("string"))
          .when(col("pmcid").isNull, coalesce(col("_fail_reason"), lit("No PMCID")))
          .when(col("article_title").isNull, coalesce(col("_fail_reason"), lit("PMC fetch failed (batched only)")))
          .otherwise(lit("abstract_only"))))

    val (okRows, failRows) = Enrich.splitFailures(assembled, "ok", "reason")
    // canonical record shape (fulltext_enricher.py:70-80)
    val records = okRows.select(
      col("doi"), col("article_title").as("title"),
      Norm.blankToNull(col("journal")).as("journal"),
      lit("pmc").as("source"), col("pmcid"), col("sections"))
    val failures = failRows.select(col("doi"), col("journal"), col("reason"))

    // summary as a LAZY one-row plan (one aggregate per pinned frame,
    // crossJoined): constructing the result bundle runs no Spark jobs, so
    // callers that only consume records or failures never pay for counts
    val counts = assembled.agg(
      coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)).as("appended"),
      coalesce(sum(when(!col("ok"), 1L).otherwise(0L)), lit(0L)).as("failures"))
    val summary = deduped.agg(count(lit(1)).as("input_unique_doi"))
      .crossJoin(counts)
      .select(col("input_unique_doi"), col("appended"),
        (col("input_unique_doi") - col("appended") - col("failures")).as("skipped_existing"),
        col("failures"))
    FulltextResult(records, failures, summary)
  }

  /** §3.2 `run_ingest_and_embed`: fulltext records → chunk → deterministic
    * ids → batched embed → idempotent vector-table upsert. One linear DAG:
    * flatMap chunking is narrow, embedding is mapPartitions, the only
    * shuffle is the upsert's keyed dedup. */
  def runIngestAndEmbed(records: DataFrame, existingVectors: Option[DataFrame],
                        chunker: String = "by_section", chunkSize: Int = 1200,
                        overlap: Int = 120, embedBackend: String = "hf",
                        embedBatch: Int = 64, experiment: String = "exp1"): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    val chunked = records
      .select(col("doc_id").cast("string"), col("sections").as("sections"))
      .as[(String, Seq[(String, String)])]
      .flatMap { case (docId, secs) =>
        Chunkers.chunk(chunker)(docId, secs.map(s => SectionText(s._1, s._2)).toList, chunkSize, overlap)
      }
      .toDF()
      .withColumn("id", Chunkers.chunkId(col("doc_id"), col("chunk_index")))
      // C8: per-chunk metadata struct mirroring the reference's 13-key dict
      // (pipelines/ingest_and_embed.py:79-93) — run config travels with
      // every row so experiments are comparable in the vector table
      .withColumn("meta", struct(
        col("doc_id"), col("section_path"), col("chunk_index"),
        lit(chunker).as("chunker"),
        lit(chunkSize).as("chunk_size"), lit(overlap).as("chunk_overlap"),
        lit(embedBackend).as("embed_backend"),
        lit("hash-projection-64").as("embed_model"),
        lit(experiment).as("experiment")))
    val embedded = Embedders.embedColumn(chunked, "text", embedBackend, batchSize = embedBatch)
    existingVectors match {
      case Some(existing) => VectorOps.upsert(existing, embedded, "id")
      case None => embedded
    }
  }

  /** §3.3 legacy `run_all` stage 2-3 equivalent over the `documents` fixture
    * table: fixed-window chunk then embed — the SparkEntry flagship. */
  def chunkAndEmbedDocuments(spark: SparkSession, dir: String,
                             chunkSize: Int = 120, overlap: Int = 12): DataFrame = {
    val docs = graft.io.Tables.documents(spark, dir)
    val chunks = Chunkers.fixedWindowsExpr(docs, "doc_id", "text", chunkSize, overlap)
    Embedders.embedColumn(chunks, "chunk_text")
  }

  /** Parse a directory of JATS XML files into the parsed-article relation
    * used by [[runFulltext]] — one task per file via wholeTextFiles, the
    * distributed form of the reference's per-batch XML parse (S8/X5). */
  def parseJatsDir(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.wholeTextFiles(path)
      .flatMap { case (file, xml) =>
        Jats.parseDocument(xml).collect {
          case Right(a) =>
            val body = a.sections.map(_.text).mkString("\n\n").trim
            (a.pmcid.getOrElse(new java.io.File(file).getName.stripSuffix(".xml")),
              a.title, a.abstractText,
              a.sections.map(s => (s.section_path, s.text)),
              body.length.toLong)
        }
      }
      .toDF("pmcid", "article_title", "abstract", "sections", "body_len")
  }
}
