package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Derived stress-corpus generator for the scale-linearity audit.
  *
  * `/root/testdata` is read-only and tops out at sf0.1 (5k documents), so
  * the audit's "dedup slopes should approach 1.0 as data swamps overhead"
  * watch item was unmeasurable beyond that. This tool derives an ~sfN
  * documents table from sf0.1 by replicating each document `replicas`
  * times with a perturbation designed to keep dedup semantics HONEST at
  * the larger scale:
  *
  *  - replica 0 is the original corpus verbatim (the stress set is a
  *    strict superset of sf0.1's duplicate structure);
  *  - replica r > 0 rewrites every non-stopword token to `tok~r`. The
  *    rewrite is a deterministic, injective map on tokens, so each
  *    document's word-3-gram shingle set ([[graft.ops.Dedup.shingles]])
  *    maps 1:1 — within a replica, every pair's exact Jaccard (and every
  *    exact duplicate) is preserved EXACTLY, so the confirmed near-dup
  *    pair count scales exactly linearly with the replica count (measured:
  *    8,036 pairs at sf0.1 → 80,360 at 10×, 0 cross-replica). An earlier
  *    every-3rd-token variant destroyed similarity for phase-misaligned
  *    pairs and came out 0.62× light on pair density;
  *  - cross-replica near-dups don't exist (every shingle containing ≥1
  *    non-stopword differs between replicas; all-stopword shingles can
  *    collide but never survive the exact-Jaccard confirm), so the corpus
  *    doesn't degenerate into 10-wide mutual-duplicate clusters — that
  *    would be a synthetic hot-bucket pathology, not a scale test;
  *  - stopwords (the union of the quality and Gopher stoplists) are left
  *    verbatim, so the curation gates' stopword-ratio arithmetic sees the
  *    same distribution at every replica — the quality/Gopher gate pass
  *    rates, and hence curation_full's post-gate corpus fraction, scale
  *    honestly;
  *  - doc_id becomes doc_id + r·1_000_000: the %5 increment slice and
  *    %97 contamination slice keep their exact proportions (1e6 ≡ 0 mod 5),
  *    so slice-parameterized queries stress the same shape.
  *
  * Usage: runMain graft.tools.StressGen [srcDir] [destDir] [replicas]
  * Defaults: /root/testdata/sf0.1 → fixtures/stress/sf1, 10 replicas.
  * The output lands under the repo's own fixtures (gitignored — it is
  * derived, regenerable data) and is pointed at via SPARK_GRAFT_SF_DIR or
  * the ScaleAudit dir arguments.
  */
object StressGen {

  /** Boilerplate-heavy corpus for the winnow skew posture: every document
    * is ~90% one shared 360-token template plus a 40-token pair-unique
    * tail; the %5 slice is re-ingested (id + 10^6, tail first) sharing
    * its partner's tail EXACTLY. The template's fingerprints go
    * corpus-hot (posting ≈ |docs| ≫ cap) and must be capped away without
    * fanning out pairs, while every planted (i, i+10^6) overlap must
    * surface through its posting-2 tail fingerprints — measured recall
    * printed alongside the wall time, the honesty cell BASELINE.md cites.
    * Usage: runMain graft.tools.StressGen boiler [srcDir] [destDir] */
  private def runBoiler(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val destDir = if (args.length > 1) args(1) else "fixtures/stress/boiler"
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val template = (0 until 360).map(t => s"boil$t").mkString(" ")
    def tailSql(idExpr: String) =
      s"array_join(transform(sequence(0, 39), " +
        s"t -> concat('u', CAST($idExpr AS STRING), 'tok', CAST(t AS STRING))), ' ')"
    val ids = spark.read.parquet(s"$srcDir/documents.parquet").select("doc_id")
    val base = ids.select(col("doc_id"),
      concat(lit(template), lit(" "), expr(tailSql("doc_id"))).as("text"))
    val reps = ids.filter(col("doc_id") % 5 === 0).select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      concat(expr(tailSql("doc_id")), lit(" "), lit(template)).as("text"))
    base.unionByName(reps)
      .withColumn("lang", lit("en")).withColumn("source", lit("boiler"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32, col("doc_id"))
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")
    val docs = spark.read.parquet(s"$destDir/documents.parquet")
    val nDocs = docs.count()
    val planted = docs.filter(col("doc_id") >= 1000000L).count()
    val t0 = System.nanoTime()
    val pairs = Pin(graft.ops.Winnow.candidatePairs(
      graft.ops.Winnow.fingerprints(docs, "doc_id", "text", k = 5, w = 4),
      "doc_id", maxPosting = 50, minShared = 2))
    val nPairs = pairs.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val found = pairs.filter(col("id_b") === col("id_a") + lit(1000000L)).count()
    println(f"STRESSGEN boiler: docs=$nDocs planted=$planted pairs=$nPairs " +
      f"planted_found=$found recall=${found.toDouble / planted}%.4f " +
      f"incidental=${nPairs - found} wall=${secs}%.1fs -> $destDir")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "boiler") { runBoiler(args.drop(1)); return }
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val destDir = if (args.length > 1) args(1) else "fixtures/stress/sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val parts = (0 until replicas).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + lit(r.toLong * 1000000L)).as("doc_id"),
        // split on the same whitespace basis tokensCol normalizes to, so
        // the token-level rewrite maps shingle sets 1:1
        array_join(
          expr(s"transform(split(text, '\\\\s+'), w -> IF(array_contains(" +
            "array('the','a','of','and','to','in','is','that','be','have','with'), lower(w)), " +
            s"w, concat(w, '~$r')))"),
          " ").as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }
    val out = parts.reduce(_ unionByName _).repartition(32, col("doc_id"))
    out.write.mode("overwrite").parquet(s"$destDir/documents.parquet")
    val n = spark.read.parquet(s"$destDir/documents.parquet").count()
    println(s"STRESSGEN wrote $n docs ($replicas replicas of $srcDir) to $destDir")

    // Embeddings side, same contract: replica r > 0 applies a SIGNED
    // PERMUTATION (cyclic shift by r + deterministic hash-derived sign per
    // coordinate) — an orthogonal map, exact in float, so every
    // within-replica pairwise cosine is preserved EXACTLY while
    // cross-replica similarities are pseudo-random. Note the regime this
    // stresses honestly: top-k/ANN output stays linear in the corpus, but
    // MODERATE-threshold pairwise queries (cosine >= 0.25) have an
    // inherently quadratic output on any corpus whose similarity
    // distribution is stationary — real 10× crawls included — so those
    // rows are expected to steepen with output volume, not with a plan
    // pathology.
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val embParts = (0 until replicas).map { r =>
      if (r == 0) emb
      else emb.select(
        (col("vec_id") + lit(r.toLong * 1000000L)).as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), i -> " +
          s"IF(pmod(hash(i, $r), 2) = 0, CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)) * " +
          s"element_at(embedding, pmod(i + $r, $dim) + 1))").as("embedding"),
        col("label"))
    }
    val embOut = embParts.reduce(_ unionByName _).repartition(16, col("vec_id"))
    embOut.write.mode("overwrite").parquet(s"$destDir/embeddings.parquet")
    val ne = spark.read.parquet(s"$destDir/embeddings.parquet").count()
    println(s"STRESSGEN wrote $ne embeddings (dim=$dim, $replicas replicas) to $destDir")

    // Relational + events side: replicate facts and their dimension keys
    // with per-replica offsets chosen ABOVE every real key range, applied
    // CONSISTENTLY across tables so referential integrity holds (replica
    // r's lineitems join replica r's orders/parts/suppliers, and so on) —
    // a 10× corpus whose join fan-outs, group cardinalities, and
    // time-range densities scale the way a real 10× load does. nation and
    // region are copied verbatim once: dimensions stay dimensions (10×
    // the customers still live in 25 nations — that is what makes the
    // joins broadcast-able at any SF, and the stress set must preserve
    // it). Offsets are multiples of 10^6/10^7, so the small power-of-ten
    // mod slices queries use keep their exact proportions; all values
    // (dates, prices, event timestamps) are copied verbatim — 10× events
    // in the same time range models MORE USERS, not a longer history.
    // Tables are read via Tables.load (nanosAsLong), so long-nanos
    // timestamp columns round-trip as BIGINT and the schema-adaptive
    // loaders (tsToMicros/toNtz) read the derived set identically.
    val OrdKey = 10000000L
    val Key = 1000000L
    def replicate(table: String, keyOffsets: Map[String, Long]): Unit = {
      val df = graft.io.Tables.load(spark, srcDir, table)
      val reps = (0 until replicas).map { r =>
        if (r == 0) df
        else keyOffsets.foldLeft(df) { case (d, (c, off)) =>
          d.withColumn(c, col(c) + lit(r * off)) }
      }
      reps.reduce(_ unionByName _).repartition(32)
        .write.mode("overwrite").parquet(s"$destDir/$table.parquet")
      println(s"STRESSGEN wrote ${spark.read.parquet(s"$destDir/$table.parquet").count()} $table")
    }
    replicate("orders", Map("o_orderkey" -> OrdKey, "o_custkey" -> Key))
    replicate("lineitem", Map("l_orderkey" -> OrdKey, "l_partkey" -> Key, "l_suppkey" -> Key))
    replicate("customer", Map("c_custkey" -> Key))
    replicate("supplier", Map("s_suppkey" -> Key))
    replicate("part", Map("p_partkey" -> Key))
    replicate("events", Map("event_id" -> Key * 100, "user_id" -> Key))
    for (dim0 <- Seq("nation", "region")) {
      graft.io.Tables.load(spark, srcDir, dim0).coalesce(1)
        .write.mode("overwrite").parquet(s"$destDir/$dim0.parquet")
      println(s"STRESSGEN copied $dim0 verbatim (dimension)")
    }
    spark.stop()
  }
}
