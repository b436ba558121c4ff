package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
  * 2003 — the MOSS algorithm), the POSITION-AWARE fingerprint family:
  * where [[TextAnalysis.fingerprint]] reduces a document to ONE global
  * min-hash (whole-doc identity) and [[Dedup.minhashSignature]] to a
  * fixed-width signature (whole-doc similarity), winnowing selects a
  * guaranteed-coverage SUBSET of k-gram hashes — in every window of `w`
  * consecutive k-grams, the minimum hash (rightmost on ties, the "robust
  * winnowing" rule that stabilizes selection across edits) — so any
  * shared substring of at least k+w-1 tokens between two documents is
  * certain to surface at least one shared fingerprint. That local
  * guarantee is what the global families cannot give: it powers
  * partial-overlap detection (quotation, template reuse, crawl-boilerplate
  * contamination) rather than whole-document near-identity.
  *
  * Scale shape: [[fingerprints]] is map-only (per-row higher-order
  * column expressions, no shuffle, no UDF) and emits ~2/(w+1) of the
  * grams per document — a constant-factor-sublinear token stream.
  * [[candidatePairs]] is the inverted-index join: one shuffle on the
  * 60-bit fingerprint, with a per-fingerprint posting cap (boilerplate
  * grams shared by more than `maxPosting` documents are dropped, the
  * same hot-bucket bound the LSH families apply) so the pair fan-out is
  * capped at maxPosting² per fingerprint instead of quadratic in the
  * corpus.
  */
object Winnow {

  /** The winnowed fingerprint set: one row per SELECTED k-gram —
    * `(idCol, pos, fp)` where `pos` is the 0-based gram position and
    * `fp` the 60-bit md5 gram hash ([[graft.util.Hash.md5Bits60]]'s hex
    * slice, replayed by oracles as `CAST('0x' || substring(md5(g),1,15)
    * AS BIGINT)`). A document shorter than `k` tokens fingerprints its
    * whole collapsed text at pos 0; one shorter than `k+w-1` has fewer
    * grams than the window and winnows its single full-width window.
    * Selection is `array_distinct` of per-window rightmost-min picks, so
    * a gram that wins several overlapping windows appears once. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1, s"k-gram width must be >= 1, got $k")
    require(w >= 1, s"winnow window must be >= 1, got $w")
    // r17 optimization: the selection runs as ONE native per-row kernel
    // ([[org.apache.spark.sql.graft.WinnowPicks]]) — tokenize, hash each
    // gram straight from token bytes, slide the window, dedupe picks —
    // instead of the prior let-bound higher-order expression whose
    // window-min lambdas evaluated INTERPRETED per element with m·w²
    // array ops per document (and whose md5 rode the hex→conv round
    // trip). Same values bit-for-bit: the gram hash is the md5-hex [1,15]
    // slice (GramKernelSpec pins old≡new, including the rightmost-tie
    // rule, the degraded sub-w window, the <k-token whole-text gram, and
    // the null-text (null, null) pick row).
    df.select(col(idCol),
        explode(org.apache.spark.sql.graft.WinnowPicks(col(textCol), k, w)).as("_s"))
      .select(col(idCol), col("_s.pos").as("pos"), col("_s.fp").as("fp"))
  }

  /** The persistable posting relation — distinct `(fp, idCol)` — bucketed
    * consumers join against. Surfaced (like minhashIndexRelations) so the
    * index-build plan is auditable. */
  def indexRelation(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, w: Int = 4): DataFrame =
    fingerprints(df, idCol, textCol, k, w)
      .select(col("fp"), col(idCol)).distinct()

  /** Persist the winnow inverted index bucketed by fingerprint: an
    * increment probes it with zero corpus-side exchange and zero
    * re-fingerprinting — the continuous-crawl amortization
    * ([[Dedup.writeMinhashIndex]]'s contract, partial-overlap flavor). */
  def writeIndex(df: DataFrame, idCol: String, textCol: String, table: String,
                 k: Int = 5, w: Int = 4, numBuckets: Int = 8): Unit = {
    indexRelation(df, idCol, textCol, k, w)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(numBuckets, "fp").sortBy("fp")
      .format("parquet").saveAsTable(table)
    // stamp the fingerprint parameters on the table: a probe with
    // mismatched (k, w) would silently return near-empty overlap (the
    // gram hashes differ), so probeIndex refuses instead
    df.sparkSession.sql(
      s"ALTER TABLE `$table` SET TBLPROPERTIES " +
        s"('graft.winnow.k' = '$k', 'graft.winnow.w' = '$w')")
  }

  /** Probe a persisted winnow index with a new batch: `(new_id,
    * corpus_id, n_shared)` — partial-overlap candidates between increment
    * documents and the indexed corpus. The posting cap applies PER SIDE
    * (the incremental LSH idiom): a boilerplate fingerprint hot in the
    * index would otherwise fan every matching increment row into
    * |posting| candidates on every batch. Unlike [[candidatePairs]] there
    * is no lower posting bound — one corpus doc plus one new doc IS a
    * pair. The corpus-side cap window partitions on `fp`, the index's
    * bucket/sort key, so it rides the bucketed scan without an
    * exchange. */
  def probeIndex(newBatch: DataFrame, idCol: String, textCol: String,
                 table: String, k: Int = 5, w: Int = 4,
                 maxPosting: Int = 50, minShared: Int = 1): DataFrame = {
    require(maxPosting >= 1, s"maxPosting must be >= 1, got $maxPosting")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val spark = newBatch.sparkSession
    // the index is only valid for the (k, w) it was fingerprinted with —
    // verify against the parameters writeIndex stamped on the table
    val props = spark.sql(s"SHOW TBLPROPERTIES `$table`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (ik, iw) = (props.get("graft.winnow.k"), props.get("graft.winnow.w"))
    require(ik.nonEmpty && iw.nonEmpty,
      s"winnow index $table carries no graft.winnow.{k,w} properties — " +
        "rebuild it with Winnow.writeIndex")
    require(ik.contains(k.toString) && iw.contains(w.toString),
      s"winnow index $table was built with (k=${ik.get}, w=${iw.get}) " +
        s"but probeIndex was called with (k=$k, w=$w)")
    def capped(posts: DataFrame): DataFrame =
      posts.withColumn("_df", count(lit(1)).over(Window.partitionBy(col("fp"))))
        .filter(col("_df") <= maxPosting).drop("_df")
    val newPosts = capped(indexRelation(newBatch, idCol, textCol, k, w)
      .select(col("fp"), col(idCol).as("new_id")))
    val corpusPosts = capped(spark.table(table)
      .select(col("fp"), col(idCol).as("corpus_id")))
    newPosts.join(corpusPosts, "fp")
      .filter(col("new_id") =!= col("corpus_id"))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Candidate document pairs sharing at least `minShared` winnowed
    * fingerprints: `(id_a, id_b, n_shared)` with id_a < id_b. Posting
    * lists longer than `maxPosting` are dropped before the self-join —
    * those fingerprints are corpus boilerplate (their matches carry no
    * pair-specific signal, and an uncapped hot fingerprint would fan out
    * |corpus|² pairs); singletons are dropped too (they cannot form a
    * pair). The documented recall trade is the same as the LSH bucket
    * caps: a true partial overlap is missed only if EVERY fingerprint it
    * shares is boilerplate-hot. */
  def candidatePairs(fps: DataFrame, idCol: String,
                     maxPosting: Int = 50, minShared: Int = 2): DataFrame = {
    require(maxPosting >= 2, s"maxPosting must be >= 2, got $maxPosting")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // pinned: the posting relation feeds the cap aggregate AND both self-join sides — without
    // the pin the whole fingerprint pass re-runs four times (plan-audited:
    // 4 replicated Generate subtrees, 16 shuffles instead of ~5)
    val posts = Pin(fps.select(col(idCol).as("_wid"), col("fp")).distinct())
    val keep = posts.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df").between(2, maxPosting))
      .select(col("fp"))
    val kept = posts.join(keep, Seq("fp"))
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a._wid") < col("b._wid"))
      .groupBy(col("a._wid").as("id_a"), col("b._wid").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The winnow family's TUNING posture (the dedup_lsh_curve_tuned move,
    * partial-overlap flavor): one row per posting-cap tier over a —
    * usually coherent-SAMPLED — fingerprint relation, carrying the
    * numbers the (maxPosting, minShared) operating point is chosen from:
    * postings/fingerprints kept in the 2..cap band, candidate-pair
    * volume by the counts formulation Σ df·(df−1)/2 (never a
    * materialized pair), and the confirmed pairs at ≥ minShared shared
    * kept fingerprints with their shared-total. The full-corpus
    * [[candidatePairs]] row stays the exact audit shape; this estimates
    * its behavior from a bounded sample, so the production bill is one
    * sample-membership scan plus sample-sized work — the full row's
    * posting-volume floor (99.5 s at sf30) never has to be paid to TUNE.
    *
    * Equality contract (spec-pinned): when the input relation IS the
    * whole corpus, the tier at cap c reports exactly
    * `candidatePairs(fps, id, c, minShared)`'s pair count and
    * n_shared sum. */
  def postingCurve(fps: DataFrame, idCol: String, maxPostings: Seq[Int],
                   minShared: Int = 2): DataFrame = {
    require(maxPostings.nonEmpty, "maxPostings must be non-empty")
    require(maxPostings.forall(_ >= 2), s"every cap must be >= 2, got $maxPostings")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // same pin discipline as candidatePairs: the posting relation feeds
    // the df aggregate AND both self-join sides
    val posts = Pin(fps.select(col(idCol).as("_wid"), col("fp")).distinct())
    val dfs = Pin(posts.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2)) // volume aggregate + the kept-postings join
    val tiers = explode(lit(maxPostings.toArray)).as("max_posting")
    // counts formulation: candidate volume per tier without pairs
    val vol = dfs.select(col("fp"), col("_df"), tiers)
      .filter(col("_df") <= col("max_posting"))
      .groupBy(col("max_posting"))
      .agg(count(lit(1)).as("n_fp_kept"),
        sum(expr("_df * (_df - 1) div 2")).as("candidate_volume"))
    // confirmed pairs per tier: pairs materialize ONCE at the widest cap
    // (sample-sized by construction), each tier re-filters by the shared
    // fingerprint's df
    val widest = maxPostings.max
    val kept = posts.join(dfs.filter(col("_df") <= widest), Seq("fp"))
    val sharedFp = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a._wid") < col("b._wid"))
      .select(col("a._wid").as("id_a"), col("b._wid").as("id_b"), col("a._df").as("_df"))
    val pairs = sharedFp.select(col("id_a"), col("id_b"), col("_df"), tiers)
      .filter(col("_df") <= col("max_posting"))
      .groupBy(col("max_posting"), col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy(col("max_posting"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_shared")).as("shared_total"))
    // anchor on the tier domain so a cap with zero kept fingerprints
    // still reports its (honest, all-zero) row
    val tierDf = fps.sparkSession.range(1).select(tiers)
    tierDf.join(vol, Seq("max_posting"), "left")
      .join(pairs, Seq("max_posting"), "left")
      .select(col("max_posting").cast("long").as("max_posting"),
        coalesce(col("n_fp_kept"), lit(0L)).as("n_fp_kept"),
        coalesce(col("candidate_volume").cast("long"), lit(0L)).as("candidate_volume"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("shared_total"), lit(0L)).as("shared_total"))
  }

  /** Span attribution — the quote-attribution / provenance pass a RAG or
    * generation pipeline is audited with ("which corpus document did this
    * answer lift its spans from?"): each probe document's winnow
    * fingerprints vote for the corpus documents sharing them, and the
    * top-1 source by shared distinct fingerprints (ties by source id) is
    * the attribution, with the probe's fingerprint total and the matched
    * share in bp — a high share_bp is a near-verbatim lift, a low one a
    * paraphrase or coincidence. Position-aware winnowing is exactly the
    * right primitive here: any shared window of ≥ w+k−1 tokens shares a
    * fingerprint (the Schleimer guarantee), so a long-enough quote CANNOT
    * be missed, while bag-of-words similarity can't localize spans.
    *
    * Scale shape: both sides fingerprint map-only; the corpus posting
    * relation is capped per fingerprint (`maxPosting` — the boilerplate
    * guard, same trade as [[candidatePairs]]); the join is
    * fingerprint-keyed and probe-selectivity-sized, the per-(probe,
    * source) collapse rides it, and the top-1 window runs over
    * probe-keyed partitions only. Probes with zero shared fingerprints
    * yield no row — the honest outcome. */
  def attributeSpans(probe: DataFrame, corpus: DataFrame, idCol: String,
                     textCol: String, k: Int = 5, w: Int = 4,
                     maxPosting: Int = 50): DataFrame = {
    require(maxPosting >= 1, s"maxPosting must be >= 1, got $maxPosting")
    val pPosts = Pin(indexRelation(probe, idCol, textCol, k, w)
      .select(col("fp"), col(idCol).as("answer_id"))) // totals + the attribution join
    val pTotals = pPosts.groupBy(col("answer_id")).agg(count(lit(1)).as("n_fp"))
    val cPosts = Pin(indexRelation(corpus, idCol, textCol, k, w)
      .select(col("fp"), col(idCol).as("source_id"))) // cap aggregate + the attribution join
    val keep = cPosts.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxPosting).select(col("fp"))
    val shared = pPosts.join(cPosts.join(keep, Seq("fp")), Seq("fp"))
      .groupBy(col("answer_id"), col("source_id"))
      .agg(count(lit(1)).as("shared"))
    val top = org.apache.spark.sql.expressions.Window
      .partitionBy(col("answer_id")).orderBy(col("shared").desc, col("source_id"))
    shared.withColumn("_rn", row_number().over(top)).filter(col("_rn") === 1)
      .join(pTotals, "answer_id")
      .select(col("answer_id"), col("source_id"), col("shared"), col("n_fp"),
        expr("(10000 * shared) div n_fp").as("share_bp"))
  }
}
