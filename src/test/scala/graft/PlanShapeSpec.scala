package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Tables

/** The scale claims in the operator docs ("map-only", "ONE corpus
  * shuffle"), pinned as executable assertions on the physical plan instead
  * of prose: a refactor that silently adds an exchange to a hot path now
  * fails the suite, not just the 100 TB deployment. Counts come from the
  * executedPlan with AQE disabled for the inspection (sparkPlan would be
  * WRONG here: it predates EnsureRequirements, so distribution-driven
  * exchanges don't exist in it yet).
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // executedPlan, not sparkPlan: the distribution-driven exchanges are
  // inserted by EnsureRequirements in the preparation phase. AQE is
  // switched off for the inspection so the tree is fully expanded (AQE
  // only ever coalesces/removes exchanges at runtime, never adds any).
  private def shuffles(df: DataFrame): Int = exchanges(df).size

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeLike] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      df.queryExecution.executedPlan.collect { case s: ShuffleExchangeLike => s }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  // the sf0.001 parquet is a single partition, which satisfies ANY
  // clustered distribution — no exchange would be planned at all. Build
  // the inputs from 4-slice parallelized RDDs instead: UnknownPartitioning
  // over multiple partitions, so every claimed shuffle genuinely has to
  // appear in the plan, and the input itself contributes none.
  private lazy val docs = spark.createDataFrame(spark.sparkContext.parallelize(
    (0L until 40L).map(i => (i, s"document number $i with some words repeated $i times")), 4))
    .toDF("doc_id", "text")
  private lazy val emb = spark.createDataFrame(spark.sparkContext.parallelize(
    (0L until 40L).map(i => (i, Seq.tabulate(8)(d => (i * 8 + d).toFloat / 100f))), 4))
    .toDF("vec_id", "embedding")

  test("int8 quantization is map-only: zero exchanges") {
    assert(shuffles(graft.ops.Quantize.int8Stats(emb, "vec_id", "embedding")) == 0)
  }

  test("C4 line/page filter is map-only: zero exchanges") {
    assert(shuffles(graft.ops.TextAnalysis.c4Lines(docs, "doc_id", "text")) == 0)
  }

  test("winnowing fingerprints are map-only: zero exchanges") {
    assert(shuffles(graft.ops.Winnow.fingerprints(docs, "doc_id", "text")) == 0)
  }

  test("mojibake detection is map-only: zero exchanges") {
    assert(shuffles(graft.ops.TextAnalysis.mojibake(docs, "doc_id", "text")) == 0)
  }

  test("curriculum positions shuffle only on (phase, shard) — never a global sort") {
    val scored = docs.withColumn("score", (org.apache.spark.sql.functions.col("doc_id") * 7) % 101)
    val plan = graft.ops.Sampling.curriculum(scored, "doc_id", "score",
      cuts = Seq(70L, 40L), seed = 23, nShards = 4)
    assert(shuffles(plan) == 1, "exactly the one per-(phase,shard) window exchange")
    // and no single-partition Exchange (the ntile shape this design avoids)
    val singleton = exchanges(plan).exists(_.outputPartitioning.numPartitions == 1)
    assert(!singleton, "a SinglePartition exchange means a global sort snuck in")
  }

  test("multimodal header decode is map-only: zero exchanges") {
    val payloads = graft.ops.Multimodal.withPayload(docs, "doc_id", "text")
    assert(shuffles(graft.ops.Multimodal.decodeMeta(payloads)) == 0)
  }

  test("audio frame stats are map-only: zero exchanges") {
    val payloads = graft.ops.Multimodal.withPayload(docs, "doc_id", "text")
    assert(shuffles(graft.ops.Multimodal.audioFrameStats(payloads)) == 0)
  }

  test("BPE pair counting pays exactly ONE shuffle over the word table (map-side partials)") {
    val words = graft.ops.Bpe.wordFrequencies(docs) // its own corpus agg shuffle
    val wordShuffles = shuffles(words)
    assert(shuffles(graft.ops.Bpe.pairCounts(words)) == wordShuffles + 1,
      "pair counting must add exactly the one pair-keyed aggregation exchange")
    // the merge application is map-only on top of the word table
    assert(shuffles(graft.ops.Bpe.applyMerge(words, "a", "b")) == wordShuffles)
  }

  test("minhash signatures pay exactly ONE corpus shuffle (map-side partial agg)") {
    assert(shuffles(graft.ops.Dedup.minhashSignatures(docs, "doc_id", "text")) == 1)
  }

  test("simhash fingerprints are MAP-ONLY — zero shuffles") {
    // r17: the native per-row SimhashFp kernel replaced the relational
    // tally-aggregate + join-back (which paid two row-key exchanges);
    // fingerprinting is now a projection over the scan, the shape a
    // per-document fold should have at any scale
    assert(shuffles(graft.ops.Dedup.simhash(docs, "doc_id", "text")) == 0)
  }

  test("exact dedup pays exactly ONE shuffle, on the digest — never on the text") {
    val ex = exchanges(graft.ops.Dedup.exact(docs, "doc_id", "text"))
      .map(_.outputPartitioning.toString)
    assert(ex.size == 1, s"expected one exchange, got $ex")
    assert(ex.exists(_.contains("text_hash")), s"the shuffle keys on the digest: $ex")
    assert(!ex.exists(_.matches("(?s).*\\btext#.*")), s"no shuffle keys on the raw text: $ex")
  }

  test("runtime bloom-filter semi-join reduction injects into the fact side") {
    // the join_runtime_filter posture: child session with broadcast off
    // and the application-side size gate zeroed, so InjectRuntimeFilter
    // must plant a bloom_filter_might_contain probe on the big side of
    // the shuffle join, keyed by the join column
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    // InjectRuntimeFilter only fires on file-source scans (the creation
    // side must be a selective filter OVER A SCAN) — RDD-backed relations
    // never qualify, so both sides go through parquet
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom_").toString
    (0L until 400L).map(i => (i % 50, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$tmp/fact")
    (0L until 50L).map(i => (i, i % 5)).toDF("k", "tag")
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val fact = s2.read.parquet(s"$tmp/fact")
    val dim = s2.read.parquet(s"$tmp/dim").filter(col("tag") === 0)
    val joined = fact.join(dim, "k").groupBy(col("tag")).agg(count(lit(1)).as("n"))
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.contains("bloom_filter_agg"),
      s"no bloom build side was planted:\n$optimized")
    assert(optimized.contains("might_contain"),
      s"no bloom probe reached the fact side:\n$optimized")
  }

  // ---- round-14 operators: the scale-shape claims in their docs ----

  test("uniformSample never shuffles the corpus: at most one bounded exchange") {
    // TakeOrdered(k) runs on per-partition heaps; the only exchange the
    // plan may contain is the single-partition one under the rank window,
    // which moves k ROWS, not the corpus
    assert(shuffles(graft.ops.Sampling.uniformSample(docs, "doc_id", 5)) <= 1)
  }

  test("corrCard is ONE map-side-combined aggregate: exactly one exchange") {
    assert(shuffles(graft.ops.Stats.corrCard(
      docs.withColumn("y", length(col("text"))), "doc_id", col("y"), col("y"))) == 1)
  }

  test("bestOfN is ONE aggregate onto the prompt domain: exactly one exchange") {
    val cands = docs.select(col("doc_id"), (col("doc_id") % 4).as("cand"),
      length(col("text")).as("score"))
    assert(shuffles(graft.ops.Chat.bestOfN(cands, "doc_id", "cand", "score", 1L)) == 1)
  }

  test("textTiling is (id, win)-wide: no corpus-pairwise exchange") {
    // expected: one exchange for the (id, win) vocab aggregate, one to
    // re-cluster by id for the per-doc lag window (the final id collapse
    // reuses that partitioning)
    assert(shuffles(graft.ops.TextAnalysis.textTiling(docs, "doc_id", "text")) <= 2)
  }

  test("tilingChunks rides textTiling's shape: at most one exchange more") {
    // the composed segmenter (r15) adds only the (id, seg) token regroup
    // on top of the tiling machinery — a plan drift that re-derives the
    // window relation would show up as extra exchanges here
    val tiling = shuffles(graft.ops.TextAnalysis.textTiling(docs, "doc_id", "text"))
    val chunks = shuffles(graft.ops.TextAnalysis.tilingChunks(docs, "doc_id", "text"))
    assert(chunks <= tiling + 1, s"tilingChunks $chunks vs textTiling $tiling")
  }

  test("bandingCurve (counts form) is one lazy plan within a fixed exchange budget") {
    // the r15 rewrite's whole point: one distinct-pair relation with a
    // tier bitmask, each pair verified ONCE, curve melted from a one-row
    // aggregate — the whole three-tier curve fits a fixed exchange budget
    // (11 at pin time: the tier-tagged pair collapse, the two verify-join
    // sides + their aggregates; the signature relation itself is pinned
    // upstream (`Pin`) and contributes
    // no per-tier re-derivation). A drift back to per-tier verify or
    // pair checkpoints roughly triples the count. NOTE: comparing against
    // bandingCurvePairs' executedPlan would be apples-to-oranges — its
    // checkpointed subtrees' exchanges run at materialization time and
    // never appear in the final plan.
    val tiers = Seq(1, 2, 4)
    val n = shuffles(graft.ops.Dedup.bandingCurve(docs, "doc_id", "text", tiers))
    assert(n <= 11, s"counts-form curve plans $n exchanges (pinned budget 11)")
  }

  test("evalCardBatched plans a CONSTANT number of corpus scans in battery size") {
    // the r15 default tier's contract: the gazetteer truth pass carries
    // every phrase in one scan and the ranking probes the shared tf
    // relation once — so doubling the battery must not change the number
    // of leaf scans or exchanges (the per-query evalCard, by contrast,
    // scans per query)
    def leaves(df: DataFrame): Int = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df.queryExecution.executedPlan.collectLeaves().size
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    val battery2 = Seq("qa" -> Seq("document", "number"), "qb" -> Seq("words", "repeated"))
    val battery6 = battery2 ++ Seq(
      "qc" -> Seq("some", "words"), "qd" -> Seq("number", "words"),
      "qe" -> Seq("repeated", "times"), "qf" -> Seq("document", "times"))
    val small = graft.ops.Bm25.evalCardBatched(docs, "doc_id", "text", battery2, k = 5)
    val large = graft.ops.Bm25.evalCardBatched(docs, "doc_id", "text", battery6, k = 5)
    assert(leaves(small) == leaves(large),
      s"leaf scans grew with the battery: ${leaves(small)} -> ${leaves(large)}")
    assert(shuffles(small) == shuffles(large),
      s"exchanges grew with the battery: ${shuffles(small)} -> ${shuffles(large)}")
  }
}
