package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

import graft.embed.Embedders
import graft.io.{Readers, Writers}
import graft.norm.Norm
import graft.ops.{Components, Dedup, Ivf, Sampling, TextAnalysis}
import graft.pipelines.Pipelines
import graft.vector.VectorOps

/** One benchmark workload. `setup` writes seeded inputs and truth; `run`
  * is the timed unit of work, ending in the program's real sinks (or, for
  * retrieval, rows delivered to the client); `check` verifies what the
  * last run wrote, outside the timing. */
trait Workload {
  def name: String
  /** Input size a run processes, in the workload's items. */
  def items: Long
  /** Input sizes for the result record. */
  def sizes: Map[String, Any]
  /** The planted truth the checks use, summarized for the truth manifest. */
  def manifest: Map[String, Any]
  def setup(t: Tracer): Unit
  /** Latency of each request of the run, in ms; a batch run is one request. */
  def run(t: Tracer): Seq[Double]
  /** Requests the last run attempted, how many failed, and why. */
  def check(): (Int, Int, Seq[String])
  /** Workload-specific per-layer ratios of the last traced run. */
  def ratios(): Map[String, Double]
}

object Workloads {
  val Names: Seq[String] = Seq("ingest_search", "curate")

  def apply(name: String, spark: SparkSession, dir: Path, seed: Long): Workload = name match {
    case "ingest_search" => new IngestSearch(
      new IngestDelta(spark, dir.resolve("ingest"), seed, nPrior = 1500, nNew = 120, nChanged = 24),
      new Retrieve(spark, dir.resolve("search"), seed, n = 1500, requestsPerRun = 4, queriesPerRequest = 4))
    case "curate" => new Curate(spark, dir, seed, nDocs = 700, nSources = 20)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The bibliography → full text → chunk → embed → upsert lifecycle,
  * resumed against a large prior output and called only through public
  * functions. Every run starts from the same prior records and prior
  * vector table and writes a fresh table. */
final class IngestDelta(spark: SparkSession, dir: Path, seed: Long, nPrior: Int, nNew: Int, nChanged: Int)
    extends Workload {
  val name = "ingest_delta"
  private var truth: Gen.DeltaTruth = _
  private def in(f: String): String = dir.resolve("in").resolve(f).toString
  private def out(f: String): String = dir.resolve("out").resolve(f).toString
  // of the last traced run: records, embedded delta, rows written by the upsert
  private var last: Option[(DataFrame, DataFrame, Long)] = None
  /** Unique DOIs of the bibliography: the same for every seed. */
  def items: Long = truth.fulltext.inputUniqueDoi
  def sizes: Map[String, Any] = Map("prior_documents" -> nPrior, "new_dois" -> nNew, "changed_documents" -> nChanged,
    "bibliography_rows" -> truth.bibRows, "jats_files" -> truth.jatsFiles, "prior_vectors" -> truth.priorChunks)

  def manifest: Map[String, Any] = {
    val f = truth.fulltext
    Map("input_unique_doi" -> f.inputUniqueDoi, "appended" -> f.appended, "skipped_existing" -> f.skippedExisting,
      "failures" -> f.failures, "failure_reasons" -> f.reasons, "changed_documents" -> truth.changedDois.toSeq.sorted,
      "prior_vectors" -> truth.priorChunks, "new_vectors" -> truth.newChunks)
  }

  def setup(t: Tracer): Unit = {
    import spark.implicits._
    Gen.deleteRecursively(dir.toFile)
    truth = Gen.delta(seed, nPrior, nNew, nChanged, dir.resolve("in"))
    priorRows = None
    val prior = Pipelines.runIngestAndEmbed(truth.priorSections.toDF("doc_id", "sections"), None)
    Writers.parquetSink(prior, in("prior_vectors"))
  }

  def run(t: Tracer): Seq[Double] = {
    val (_, wall) = Workloads.timed {
      val (priorVectors, seen) = t.span("io.loadExisting") {
        val (_, seen) = Readers.loadExisting(spark, in("prior_records.jsonl"))
        (t.keep(spark.read.parquet(in("prior_vectors"))), t.keep(seen))
      }
      val input = t.layer("io.loadRecords") {
        val bib = Readers.loadRecords(spark, in("refs.bib")).select(col("doi"), col("journal"), col("title"))
        val csv = Readers.loadRecords(spark, in("refs.csv"))
          .select(col("doi"), col("journal"), lit(null).cast("string").as("title"))
        bib.unionByName(csv)
      }
      val idMap = t.layer("io.loadRecords")(spark.read.option("header", "true").csv(in("idconv.csv")))
      val failMap = t.layer("io.loadRecords")(spark.read.option("header", "true").csv(in("failmap.csv")))
      val articles = t.layer("jats.parseJatsDir")(Pipelines.parseJatsDir(spark, in("jats")))
      val res = t.span("pipelines.runFulltext") {
        val r = Pipelines.runFulltext(input, idMap, failMap, articles, seen)
        Pipelines.FulltextResult(t.keep(r.records), t.keep(r.failures), t.keep(r.summary))
      }
      t.rowsOut(res.records.count() + res.failures.count())
      t.span("io.fulltextSinks") {
        Writers.jsonSink(res.records, out("records"))
        Writers.csvFailureSink(res.failures, out("failures"))
        Writers.summarySink(res.summary, out("summary"))
      }
      val docs = res.records.withColumn("doc_id", Norm.normalizeDoi(col("doi")))
      val embedded = t.layer("pipelines.runIngestAndEmbed")(Pipelines.runIngestAndEmbed(docs, None))
      // the embed share, re-timed on the materialized chunk rows
      if (t.enabled) t.layer("embed.embedColumn")(Embedders.embedColumn(embedded.drop("embedding", "embedding_dim"), "text"))
      val table = t.layer("vector.upsert")(VectorOps.upsert(priorVectors, embedded, "id"))
      if (t.enabled) last = Some((res.records, embedded, table.count()))
      t.span("io.parquetSink")(Writers.parquetSink(table, out("vectors")))
    }
    Seq(wall * 1e3)
  }

  /** Lines of a local sink directory's part files (checks read the
    * small sinks directly, without Spark jobs). */
  private def partLines(path: String): Seq[String] = {
    val files = Option(new java.io.File(path).listFiles).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    files.toSeq.flatMap(f => java.nio.file.Files.readAllLines(f.toPath).asScala).filter(_.nonEmpty)
  }

  private final case class VectorRow(id: String, docId: String, text: String, embedding: Seq[Float], dim: Int)
  // the prior table, read by the first check
  private var priorRows: Option[Map[String, VectorRow]] = None

  private def vectorRows(path: String): Array[VectorRow] =
    spark.read.parquet(path).select("id", "doc_id", "text", "embedding", "embedding_dim").collect()
      .map(r => VectorRow(r.getString(0), r.getString(1), r.getString(2), r.getSeq[Float](3), r.getInt(4)))

  /** Failure-reason histogram of the written failure sink. No reason of
    * the taxonomy contains a comma, so it is the line's last field. */
  private def writtenReasons(): Map[String, Long] =
    partLines(out("failures")).filterNot(_ == "doi,journal,reason")
      .map(l => l.substring(l.lastIndexOf(',') + 1).stripPrefix("\"").stripSuffix("\""))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  def check(): (Int, Int, Seq[String]) = {
    val tr = truth.fulltext
    // summary row, failure histogram and record count
    val keys = Seq("input_unique_doi", "appended", "skipped_existing", "failures")
    val summary = partLines(out("summary")).map(graft.io.JsonTree.parse).collect {
      case m: Map[_, _] => keys.map(k => k -> m.asInstanceOf[Map[String, Any]].get(k).map(_.toString.toLong))
    }
    val wantSummary = Seq(keys.zip(Seq(tr.inputUniqueDoi, tr.appended, tr.skippedExisting, tr.failures).map(Some(_))))
    val reasons = writtenReasons()
    val records = partLines(out("records")).size
    // vector table: row count, unique ids, 64-dim embeddings, documents; the
    // tables are a few thousand rows, so each is read with one collect
    val fresh = vectorRows(out("vectors"))
    val prior = priorRows.getOrElse {
      val r = vectorRows(in("prior_vectors")).map(v => v.id -> v).toMap
      priorRows = Some(r)
      r
    }
    val ids = fresh.map(_.id).distinct.length
    val notDim64 = fresh.count(v => v.embedding.length != 64 || v.dim != 64)
    val docs = fresh.map(_.docId).toSet
    val expectedRows = truth.priorChunks + truth.newChunks
    val expectedDocs = tr.appendedDois ++ truth.priorSections.map(_._1)
    // changed documents carry the new text; untouched prior rows are identical
    val (changedRows, untouched) = fresh.partition(v => truth.changedDois(v.docId))
    val changed = changedRows.map(v => v.id -> v.text).toMap
    val kept = untouched.flatMap(v => prior.get(v.id).map(v -> _))
    val altered = kept.count { case (f, q) => f.text != q.text || f.embedding != q.embedding }
    val expectedUntouched = truth.priorChunks - truth.changedChunkText.size
    val p = Seq(
      if (summary != wantSummary) Some(s"summary $summary, expected $wantSummary") else None,
      if (reasons != tr.reasons) Some(s"failure reasons $reasons, expected ${tr.reasons}") else None,
      if (records != tr.appended) Some(s"$records records written, expected ${tr.appended}") else None,
      if (fresh.length != expectedRows) Some(s"vector table has ${fresh.length} rows, expected $expectedRows") else None,
      if (ids != fresh.length) Some(s"vector ids not unique: $ids of ${fresh.length}") else None,
      if (notDim64 != 0) Some(s"$notDim64 vectors are not 64-dim") else None,
      if (docs != expectedDocs) Some(s"vector table covers ${docs.size} documents, expected ${expectedDocs.size}") else None,
      if (changed != truth.changedChunkText)
        Some(s"${changed.count { case (k, x) => truth.changedChunkText.get(k).contains(x) }} of " +
          s"${truth.changedChunkText.size} changed chunks carry the new text") else None,
      if (kept.length != expectedUntouched) Some(s"${kept.length} prior rows kept, expected $expectedUntouched") else None,
      if (altered != 0) Some(s"$altered untouched prior rows changed") else None
    ).flatten
    (1, if (p.isEmpty) 0 else 1, p)
  }

  def ratios(): Map[String, Double] = last match {
    case None => Map.empty
    case Some((records, embedded, written)) =>
      val tr = truth.fulltext
      // a PMCID hit either appends or fails later, at fetch or the body gate
      val failed = writtenReasons()
      val hits = partLines(out("records")).size +
        Seq(Gen.Reason.FetchFailed, Gen.Reason.AbstractOnly).map(failed.getOrElse(_, 0L)).sum
      val bodyChars = records.select(explode(col("sections")).as("s"))
        .agg(sum(length(col("s._2")))).head().getLong(0).toDouble
      val updated = embedded.count()
      val chunkChars = embedded.agg(sum(length(col("text")))).head().getLong(0).toDouble
      Map(
        "enrich.pmcid_hit_frac" -> hits.toDouble / (tr.inputUniqueDoi - tr.skippedExisting),
        "enrich.resume_skip_frac" -> tr.skippedExisting.toDouble / tr.inputUniqueDoi,
        "chunk.char_amplification" -> chunkChars / bodyChars,
        "vector.rewrite_per_update" -> written.toDouble / math.max(1L, updated))
  }
}

/** The resume lifecycle, then a closed loop of searches from one client:
  * each run resumes the ingest into a fresh vector table and then sends
  * the search index its requests one after another. The run's requests
  * are the searches; its items are the ingest's. */
final class IngestSearch(val ingest: IngestDelta, val search: Retrieve) extends Workload {
  val name = "ingest_search"
  def items: Long = ingest.items
  def sizes: Map[String, Any] = ingest.sizes ++ search.sizes
  def manifest: Map[String, Any] = Map("ingest" -> ingest.manifest, "search" -> search.manifest)

  def setup(t: Tracer): Unit = { ingest.setup(t); search.setup(t) }

  def run(t: Tracer): Seq[Double] = { ingest.run(t); search.run(t) }

  def check(): (Int, Int, Seq[String]) = {
    val (a, f, p) = ingest.check()
    val (b, g, q) = search.check()
    (a + b, f + g, p ++ q)
  }

  def ratios(): Map[String, Double] = ingest.ratios() ++ search.ratios()
}

/** `curation_full`'s funnel over a seeded corpus, stage for stage. */
final class Curate(spark: SparkSession, dir: Path, seed: Long, nDocs: Int, nSources: Int) extends Workload {
  val name = "curate"
  private var truth: Gen.CurateTruth = _
  private def in(f: String) = dir.resolve("in").resolve(f).toString
  private def out(f: String) = dir.resolve("out").resolve(f).toString
  private var last: Option[(DataFrame, DataFrame, DataFrame)] = None // cleaned, gated, pairs
  def items: Long = truth.docs
  def sizes: Map[String, Any] = Map("documents" -> truth.docs, "sources" -> nSources,
    "near_dup_clusters" -> truth.nearDupClusters.size, "paraphrase_groups" -> truth.paraphraseGroups.size,
    "low_quality" -> truth.lowQuality.size)

  def manifest: Map[String, Any] = Map(
    "documents" -> truth.docs, "near_dup_cluster_sizes" -> truth.nearDupClusters.map(_.size),
    "paraphrase_group_sizes" -> truth.paraphraseGroups.map(_.size), "low_quality" -> truth.lowQuality.size,
    "clean_tokens" -> truth.cleanTokens.values.sum)

  def setup(t: Tracer): Unit = {
    import spark.implicits._
    Gen.deleteRecursively(dir.toFile)
    val (rows, tr) = Gen.curate(seed, nDocs, nSources)
    truth = tr
    Writers.parquetSink(rows.toDF("doc_id", "source", "text"), in("corpus"))
  }

  def run(t: Tracer): Seq[Double] = {
    val (_, wall) = Workloads.timed {
      val docs = spark.read.parquet(in("corpus"))
      val noBoiler = t.layer("ops.text.removeBoilerplateLines") {
        TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", "source", maxDocFreq = 10L)
          .select(col("doc_id"), col("clean_text"))
      }
      val cleanedText = t.layer("ops.dedup.removeDuplicatedSpans") {
        Dedup.removeDuplicatedSpans(noBoiler, "doc_id", "clean_text", k = 5)
          .select(col("doc_id"), col("clean_text").as("text"))
          .persist(StorageLevel.DISK_ONLY)
      }
      val gatedMeta = t.layer("ops.text.quality") {
        TextAnalysis.quality(cleanedText, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"), col("quality_score"))
          .filter(col("quality_score") >= 45)
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .localCheckpoint(false)
      }
      val gatedText = cleanedText.join(broadcast(gatedMeta.select(col("doc_id"))), "doc_id")
      val pairs = t.layer("ops.dedup.minhashCandidates") {
        Dedup.minhashCandidates(gatedText, "doc_id", "text", k = 3, numHashes = 16, maxBucket = Int.MaxValue)
      }
      val clustered = t.layer("ops.components.clusterDocuments") {
        Components.clusterDocuments(gatedMeta, "doc_id", pairs, "doc_a", "doc_b")
      }
      val reps = t.layer("ops.dedup.keepBest") {
        Dedup.keepBest(
          clustered.join(gatedMeta.select(col("doc_id"), col("source"), col("n_tokens"), col("quality_score")), "doc_id"),
          "cluster_id", "doc_id", "quality_score")
      }
      val mix = t.layer("ops.sampling.tokenBudgetPerKey") {
        Sampling.tokenBudgetPerKey(reps, "source", "doc_id", "n_tokens", "quality_score", budget = 1000L)
          .select(col("source"), col("doc_id"), col("cluster_size").cast("long").as("cluster_size"),
            col("n_tokens"), col("quality_score"), col("cum_tokens"))
          .orderBy(col("source"), col("cum_tokens"))
      }
      t.span("io.parquetSink")(Writers.parquetSink(mix, out("mix")))
      if (t.enabled) last = Some((cleanedText, gatedMeta, pairs))
    }
    Seq(wall * 1e3)
  }

  def check(): (Int, Int, Seq[String]) = {
    val kept = spark.read.parquet(out("mix")).collect()
    val ids = kept.map(_.getAs[Long]("doc_id"))
    val perCluster = ids.flatMap(truth.clusterOf.get).groupBy(identity).filter(_._2.length > 1)
    val badTokens = kept.filter(r => !truth.cleanTokens.get(r.getAs[Long]("doc_id")).contains(r.getAs[Long]("n_tokens")))
    val p = Seq(
      if (kept.isEmpty) Some("no documents kept") else None,
      if (ids.distinct.length != ids.length) Some("a document is kept twice") else None,
      if (perCluster.nonEmpty) Some(s"${perCluster.size} near-duplicate clusters keep more than one document") else None,
      if (ids.exists(truth.lowQuality)) Some("a low-quality document passed the gate") else None,
      if (badTokens.nonEmpty) Some(s"${badTokens.length} kept documents have the wrong cleaned token count: " +
        badTokens.take(3).map(r => s"${r.getAs[Long]("doc_id")} has ${r.getAs[Long]("n_tokens")}, expected " +
          truth.cleanTokens.get(r.getAs[Long]("doc_id")).fold("none (a planted duplicate)")(_.toString)).mkString(", "))
      else None,
      if (kept.exists(r => r.getAs[Long]("quality_score") < 45 || r.getAs[Long]("cum_tokens") > 1000))
        Some("a kept document breaks the gate or the token budget") else None
    ).flatten
    (1, if (p.isEmpty) 0 else 1, p)
  }

  def ratios(): Map[String, Double] = last match {
    case None => Map.empty
    case Some((cleaned, gated, pairs)) =>
      val gatedIds = gated.select("doc_id").collect().map(_.getLong(0)).toSet
      val cands = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val same = cands.count { case (a, b) => truth.groupOf.get(a).exists(g => truth.groupOf.get(b).contains(g)) }
      val candSet = cands.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val planted = truth.paraphraseGroups.flatMap { g =>
        val in = g.filter(gatedIds)
        for (i <- in.indices; j <- i + 1 until in.size) yield (math.min(in(i), in(j)), math.max(in(i), in(j)))
      }
      Map(
        "ops.text.gate_keep_frac" -> gatedIds.size.toDouble / cleaned.count(),
        "ops.dedup.candidate_precision" -> (if (cands.isEmpty) 0.0 else same.toDouble / cands.length),
        "ops.dedup.planted_pair_recall" ->
          (if (planted.isEmpty) 0.0 else planted.count(candSet).toDouble / planted.size))
  }
}

/** A closed loop of top-10 IVF searches from one client. */
final class Retrieve(spark: SparkSession, dir: Path, seed: Long, n: Int, requestsPerRun: Int,
                     queriesPerRequest: Int) extends Workload {
  val name = "retrieve"
  val nprobe = 3
  val k = 10
  private var truth: Gen.RetrieveTruth = _
  private var emb: DataFrame = _
  private var model: Ivf.Model = _
  private var exact: Map[Long, Seq[Long]] = Map.empty
  private var nextRequest = 0
  private var lastResults = Seq.empty[(Seq[Long], Array[Row])]
  private var lastRecall = Seq.empty[Double]
  def items: Long = requestsPerRun.toLong * queriesPerRequest
  def sizes: Map[String, Any] = Map("vectors" -> n, "dim" -> 64, "centroids" -> Ivf.autoK(n), "nprobe" -> nprobe,
    "requests_per_run" -> requestsPerRun, "queries_per_request" -> queriesPerRequest)

  def manifest: Map[String, Any] = Map("vectors" -> n, "dim" -> truth.dim,
    "exact_top10" -> exact.toSeq.sortBy(_._1).map { case (q, ns) => Map("query" -> q, "neighbours" -> ns) })

  def setup(t: Tracer): Unit = {
    import spark.implicits._
    Gen.deleteRecursively(dir.toFile)
    val (rows, tr) = Gen.retrieve(seed, n, 64, poolSize = 24, nRequests = 200, perRequest = queriesPerRequest)
    truth = tr
    val path = dir.resolve("in").resolve("vectors").toString
    Writers.parquetSink(rows.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec"), path)
    emb = spark.read.parquet(path)
    model = t.span("ops.ivf.train")(Ivf.train(emb, "id", "vec", Ivf.autoK(n), iters = 2))
    val queries = emb.filter(col("id").isin(tr.queryPool: _*)).select(col("id").as("qid"), col("vec").as("qvec"))
    exact = t.layer("vector.knnCosine")(VectorOps.knnCosine(emb, "id", "vec", queries, "qid", "qvec", k))
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
  }

  def run(t: Tracer): Seq[Double] = {
    val results = Seq.newBuilder[(Seq[Long], Array[Row])]
    val lat = (0 until requestsPerRun).map { _ =>
      val ids = truth.requests(nextRequest % truth.requests.size)
      nextRequest += 1
      val (rows, s) = Workloads.timed(t.layer("ops.ivf.search")(Ivf.search(emb, "id", "vec", model, ids, k, nprobe)).collect())
      results += ids -> rows
      s * 1e3
    }
    lastResults = results.result()
    lat
  }

  def check(): (Int, Int, Seq[String]) = {
    val problems = lastResults.flatMap { case (ids, rows) =>
      val byQ = rows.groupBy(_.getLong(0))
      ids.flatMap { q =>
        val got = byQ.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(2)).map(_.getLong(1))
        if (got.length != k || got.distinct.length != k || got.contains(q) ||
            byQ.getOrElse(q, Array.empty[Row]).map(_.getInt(2)).sorted.toSeq != (1 to k))
          Some(s"query $q: ${got.length} neighbours, expected $k distinct ranked ones")
        else None
      }.headOption
    }
    lastRecall = lastResults.flatMap { case (ids, rows) =>
      val byQ = rows.groupBy(_.getLong(0))
      ids.map(q => byQ.getOrElse(q, Array.empty[Row]).map(_.getLong(1)).toSet.intersect(exact(q).toSet).size.toDouble / k)
    }
    (lastResults.size, problems.size, problems)
  }

  def recall: Double = if (lastRecall.isEmpty) 0.0 else lastRecall.sum / lastRecall.size

  def ratios(): Map[String, Double] = {
    val ids = truth.requests(0)
    val rescored = Ivf.probedRescored(emb, "id", "vec", model, ids, nprobe).count()
    Map(
      "ops.ivf.rescored_per_query" -> rescored.toDouble / ids.size / n,
      "ops.ivf.recall_at_10" -> recall)
  }
}
