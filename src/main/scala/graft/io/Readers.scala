package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.norm.Norm

/** Input funnel (SURVEY.md §2.1 S1-S5, S11): extension-dispatched readers
  * mirroring the reference's `_load_records` (preprocessing/normalize.py:8-34)
  * and `load_input_df` (preprocessing/doi_utils.py:50-64), rebuilt on native
  * Spark sources so scans stay distributed, column-pruned, and
  * pushdown-capable. BibTeX has no native source: files are read via
  * `wholeTextFiles` (one task per file) and parsed with [[BibParser]] in a
  * distributed `flatMap`.
  */
object Readers {

  /** S5: dispatch by extension — .csv/.json/.jsonl/.ndjson/.bib. */
  def loadRecords(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv")) loadCsv(spark, path)
    else if (lower.endsWith(".jsonl") || lower.endsWith(".ndjson")) loadJsonl(spark, path)
    else if (lower.endsWith(".json")) loadJson(spark, path)
    else if (lower.endsWith(".bib")) loadBib(spark, path)
    else throw new IllegalArgumentException(s"Unsupported input format: $path")
  }

  /** S1: CSV scan; requires a `doi` column, fills a null `journal` if absent
    * (doi_utils.py:54-57). */
  def loadCsv(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.option("header", "true").csv(path)
    require(df.columns.map(_.toLowerCase).contains("doi"), s"CSV must have a 'doi' column: $path")
    val withJournal =
      if (df.columns.map(_.toLowerCase).contains("journal")) df
      else df.withColumn("journal", lit(null).cast("string"))
    withJournal
  }

  /** S2: JSON scan handling both a top-level array and a lone object
    * (normalize.py:18-23) — Spark's multiLine reader accepts either. */
  def loadJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** S3: line-delimited JSON; blank lines are skipped by the native source. */
  def loadJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC scan — predicate pushdown and column pruning work the same as
    * parquet (ORC carries min/max/bloom indexes per stripe). */
  def loadOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S4: BibTeX → one row per entry with doi/title/journal extracted the way
    * `read_bib_to_df` does (doi_utils.py:30-48): DOI from the `doi` field,
    * else first DOI-shaped match in `url`/`howpublished`; title/journal
    * brace-stripped. `fields` keeps the full lower-cased field map. */
  def loadBib(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.sparkContext.wholeTextFiles(path)
    val entries = files.flatMap { case (_, text) => BibParser.parse(text) }
      .map(e => (e.entryType, e.citeKey, e.fields))
      .toDF("entry_type", "cite_key", "fields")
    // doi field is taken verbatim (doi_utils.py:38 uses it unregexed);
    // url/howpublished go through DOI extraction. Braces are stripped before
    // extraction so `\url{...}` wrappers don't leak a trailing `}` into the
    // DOI (the reference's regex keeps it — accepted divergence, cleaner).
    entries
      .withColumn("doi", coalesce(
        Norm.blankToNull(col("fields")("doi")),
        Norm.doiExtract(regexp_replace(col("fields")("url"), "[{}]", "")),
        Norm.doiExtract(regexp_replace(col("fields")("howpublished"), "[{}]", ""))))
      .withColumn("title", Norm.stripBraces(col("fields")("title")))
      .withColumn("journal", Norm.stripBraces(coalesce(
        col("fields")("journal"), col("fields")("journaltitle"), col("fields")("booktitle"))))
  }

  /** Shape sniff for the resume source: does `path` hold a pretty-printed
    * JSON ARRAY (the reference's single-file output,
    * fulltext_enricher.py:97-101) or JSONL (this engine's own
    * [[Writers.jsonSink]] output — at scale a DIRECTORY of part files)?
    * Reading a JSONL directory with `multiLine=true` doesn't error — each
    * part file parses as ONE document and the rest of its rows silently
    * vanish, so a resume run would see almost nothing as "seen" and
    * re-enrich the corpus (the r16 vacuous-glob bug family: a dir-shaped
    * source quietly reading as near-empty). Decided by the first
    * non-whitespace byte of the first data file ('[' ⇒ array), resolved
    * through the path's own Hadoop FileSystem so non-local schemes work. */
  private[graft] def sniffJsonArray(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first: Option[org.apache.hadoop.fs.Path] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).iterator
          .filter(s => s.isFile && s.getLen > 0)
          .map(_.getPath)
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
          .toSeq.sortBy(_.getName).headOption
      else Some(p)
    }
    first.exists { fp =>
      val in = fs.open(fp)
      try {
        var c = in.read()
        while (c != -1 && Character.isWhitespace(c.toChar)) c = in.read()
        c == '['.toInt
      } finally in.close()
    }
  }

  /** S11: resume source — prior canonical output + its seen-DOI set
    * (fulltext_enricher.py:82-95). The second element feeds the J3
    * left-anti resume join. Shape-adaptive (see [[sniffJsonArray]]): the
    * prior output may be the reference's one-file JSON array OR this
    * engine's own distributed JSONL directory — both must resume
    * losslessly. */
  def loadExisting(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val prior =
      if (sniffJsonArray(spark, path)) loadJson(spark, path)
      else loadJsonl(spark, path)
    (prior, prior.select(Norm.normalizeDoi(col("doi")).as("doi_norm")).na.drop().distinct())
  }
}
