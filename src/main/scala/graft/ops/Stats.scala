package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Exact corpus statistics operators.
  *
  * `quantilesDisc` computes EXACT discrete quantiles (type-1 / lower
  * nearest-rank: the value at position ⌈q·n⌉ of the sorted group) with one
  * shuffle on the group key — no approx_percentile sketch, no collect to
  * the driver. Discrete quantiles are engine-portable (the selected value
  * is a real data value, so there is no interpolation arithmetic to drift
  * between engines) and a window partition holds one GROUP, not the
  * corpus; for percentiles over a single giant group, pre-aggregate to
  * (value, count) first and rank the run-length-encoded stream instead.
  *
  * Tie handling: row_number over (value) is nondeterministic among equal
  * values, but the SELECTED value at any fixed rank is invariant under
  * that reordering — equal values are interchangeable — so the result is
  * deterministic even though the row numbering isn't.
  */
object Stats {

  /** Per-group discrete quantiles of `valueCol`. `qsBp` are quantiles in
    * basis points (5000 = median). Returns (groupCols..., q_bp, value),
    * one row per group × quantile; null values are ignored (SQL aggregate
    * semantics), all-null/empty groups are absent. */
  def quantilesDisc(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                    qsBp: Seq[Int] = Seq(5000, 9000, 9900)): DataFrame = {
    require(qsBp.nonEmpty && qsBp.forall(q => q > 0 && q <= 10000),
      s"quantiles must be in (0, 10000] bp, got $qsBp")
    val gcols = groupCols.map(col)
    val w = Window.partitionBy(gcols: _*).orderBy(col("_v"))
    val wn = Window.partitionBy(gcols: _*)
    val ranked = df.select(gcols :+ valueCol.as("_v"): _*)
      .filter(col("_v").isNotNull)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wn))
    // explode the quantile list AFTER the window: a projection+filter, no
    // extra shuffle; ⌈q·n⌉ in pure integer arithmetic (no float rank)
    ranked
      .withColumn("q_bp", explode(typedLit(qsBp.sorted)))
      .filter(col("_rn") === expr("(_n * q_bp + 9999) div 10000"))
      .select(gcols ++ Seq(col("q_bp"), col("_v").as("value")): _*)
  }

  /** MERGEABLE approximate quantiles via a fixed-width histogram sketch —
    * the scale path next to [[quantilesDisc]]'s exact sort: state is
    * (group, bin, count) with bin = value div binWidth, so partitions
    * partial-aggregate map-side, two sketches merge by adding counts
    * (integer, merge-order-free), and the shuffle carries at most
    * range/binWidth rows per group no matter how many rows the corpus
    * has. The estimate for quantile q is the LOWER EDGE of the first bin
    * whose cumulative count reaches ⌈q·n⌉ — error bounded by binWidth,
    * fully integer, identical in any engine (a deterministic t-digest
    * stand-in: t-digest centroids depend on merge order, this doesn't).
    *
    * Returns (groupCols..., q_bp, est_lo); null values ignored. */
  def quantilesHistogram(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                         binWidth: Long, qsBp: Seq[Int] = Seq(5000, 9000, 9900)): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    require(qsBp.nonEmpty && qsBp.forall(q => q > 0 && q <= 10000),
      s"quantiles must be in (0, 10000] bp, got $qsBp")
    val gcols = groupCols.map(col)
    val bins = df.select(gcols :+ valueCol.cast("long").as("_v"): _*)
      .filter(col("_v").isNotNull)
      .groupBy(gcols :+ expr(s"_v div ${binWidth}L").as("_bin"): _*)
      .agg(count(lit(1)).as("_cnt"))
    val w = Window.partitionBy(gcols: _*).orderBy(col("_bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wn = Window.partitionBy(gcols: _*)
    bins
      .withColumn("_cum", sum(col("_cnt")).over(w))
      .withColumn("_n", sum(col("_cnt")).over(wn))
      .withColumn("q_bp", explode(typedLit(qsBp.sorted)))
      // first bin reaching the target rank: cum >= target AND the previous
      // cumulative (cum - cnt) is still short of it
      .filter(col("_cum") >= expr("(_n * q_bp + 9999) div 10000") &&
        col("_cum") - col("_cnt") < expr("(_n * q_bp + 9999) div 10000"))
      .select(gcols ++ Seq(col("q_bp"), (col("_bin") * lit(binWidth)).as("est_lo")): _*)
  }

  /** Dataset profiling (the ANALYZE/data-card surface a curation run
    * publishes alongside its output): per column — row count, null count,
    * EXACT distinct count, min and max (computed in the column's own type,
    * then rendered as strings so one relation carries every column). ONE
    * scan: all 4·N aggregates run in a single `agg` (Spark plans the
    * multi-distinct via one Expand), then the wide row pivots to one row
    * per column with a driver-free posexplode over a built struct array.
    * Exact NDV is the point at profile time (it feeds dedup/sampling
    * decisions); for monitoring-grade cardinality at 100 TB use
    * [[graft.ops.Hll]] and trade exactness for one pass with mergeable
    * state. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    val unknown = cols.filterNot(df.columns.contains)
    require(unknown.isEmpty, s"profileColumns: no such columns: ${unknown.mkString(", ")}")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"_nn_$c"),
      countDistinct(col(c)).as(s"_nd_$c"),
      min(col(c)).cast("string").as(s"_min_$c"),
      max(col(c)).cast("string").as(s"_max_$c"))) :+ count(lit(1)).as("_n")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = wide.select(col("_n"), explode(array(cols.map(c =>
      struct(lit(c).as("col_name"), col(s"_nn_$c").as("_nn"), col(s"_nd_$c").as("_nd"),
        col(s"_min_$c").as("_min"), col(s"_max_$c").as("_max"))): _*)).as("p"))
    stacked.select(
      col("p.col_name").as("col_name"),
      col("_n").as("n_rows"),
      (col("_n") - col("p._nn")).as("n_nulls"),
      col("p._nd").as("n_distinct"),
      col("p._min").as("min_str"),
      col("p._max").as("max_str"))
  }

  /** Per-source dataset datasheet (Gebru et al. 2021, "Datasheets for
    * Datasets" — the release document a published training corpus
    * ships with), as ONE relational row per source with pure-integer
    * fields: volume (docs, chars, whitespace tokens, per-doc means),
    * hygiene (exact-duplicate rows via distinct content hash, mojibake
    * corruption count, under-length count). One corpus scan into a
    * per-source partial aggregate — map-side combine collapses the
    * shuffle to |sources| — with the distinct-hash term computed as a
    * (source, hash) collapse first, the standard two-level
    * count-distinct shape. Every field replays exactly in DuckDB
    * (md5-based hash, integer divisions). */
  def dataCard(df: DataFrame, srcCol: String, textCol: String,
               shortBelowChars: Int = 1000): DataFrame = {
    require(shortBelowChars >= 0, s"got shortBelowChars=$shortBelowChars")
    val base = df.select(col(srcCol).as("source"),
      length(col(textCol)).cast("long").as("_chars"),
      size(split(col(textCol), "\\s+")).cast("long").as("_toks"),
      md5(col(textCol)).as("_h"),
      (regexp_count(col(textCol), lit(TextAnalysis.MojibakePattern)) > 0)
        .cast("long").as("_corrupt"))
    val agg = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("_chars")).as("total_chars"),
      sum(col("_toks")).as("total_tokens"),
      sum(col("_corrupt")).as("corrupt_docs"),
      sum(when(col("_chars") < shortBelowChars, 1L).otherwise(0L)).as("short_docs"))
    val dist = base.select(col("source"), col("_h")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("_nh"))
    agg.join(dist, "source")
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("total_tokens"),
        expr("total_chars div n_docs").as("chars_per_doc"),
        expr("total_tokens div n_docs").as("tokens_per_doc"),
        (col("n_docs") - col("_nh")).as("exact_dup_rows"),
        col("corrupt_docs"), col("short_docs"))
  }

  /** Batch-over-batch drift card — [[dataCard]]'s monitoring companion,
    * the table a nightly ingest run is gated on: per source, document
    * counts and corpus shares on both sides, mean token length, and the
    * mojibake-corruption rate, each with a SIGNED delta (new − old). A
    * share swinging tens of bp flags an upstream mix change; a corruption
    * rate stepping up flags a pipeline regression — both before the
    * batch is admitted. Sources present on only one side surface with
    * zeros on the other (full outer join), covering appeared/vanished
    * sources. Formulas match dataCard (floor divisions, same mojibake
    * pattern) so a card and a drift row never disagree.
    *
    * Scale shape: each side is ONE scan into a source-sized aggregate,
    * lazily pinned (two consumers: the join and its own 1-row total);
    * the totals are broadcast; every relation after the two scans is
    * source-count-sized. */
  def driftCard(oldDf: DataFrame, newDf: DataFrame, srcCol: String,
                textCol: String): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame =
      Pin(df.select(col(srcCol).as("source"),
          size(split(col(textCol), "\\s+")).cast("long").as("_toks"),
          (regexp_count(col(textCol), lit(TextAnalysis.MojibakePattern)) > 0)
            .cast("long").as("_corrupt"))
        .groupBy(col("source")).agg(
          count(lit(1)).as(s"${tag}_docs"),
          sum(col("_toks")).as(s"${tag}_toks"),
          sum(col("_corrupt")).as(s"${tag}_corrupt"))
        .withColumn(s"${tag}_tokens_per_doc", expr(s"${tag}_toks div ${tag}_docs"))) // source-sized; join + total consumers
    val o = side(oldDf, "old")
    val n = side(newDf, "new")
    val ot = o.agg(sum(col("old_docs")).as("old_total"))
    val nt = n.agg(sum(col("new_docs")).as("new_total"))
    o.join(n, Seq("source"), "full_outer")
      .na.fill(0L, Seq("old_docs", "old_toks", "old_corrupt", "old_tokens_per_doc",
        "new_docs", "new_toks", "new_corrupt", "new_tokens_per_doc"))
      .crossJoin(broadcast(ot)).crossJoin(broadcast(nt))
      .withColumn("old_share_bp",
        expr("CASE WHEN coalesce(old_total, 0L) = 0 THEN 0L ELSE (10000 * old_docs) div old_total END"))
      .withColumn("new_share_bp",
        expr("CASE WHEN coalesce(new_total, 0L) = 0 THEN 0L ELSE (10000 * new_docs) div new_total END"))
      .withColumn("share_delta_bp", col("new_share_bp") - col("old_share_bp"))
      .withColumn("tokens_per_doc_delta",
        col("new_tokens_per_doc") - col("old_tokens_per_doc"))
      .withColumn("old_corrupt_bp",
        expr("CASE WHEN old_docs = 0 THEN 0L ELSE (10000 * old_corrupt) div old_docs END"))
      .withColumn("new_corrupt_bp",
        expr("CASE WHEN new_docs = 0 THEN 0L ELSE (10000 * new_corrupt) div new_docs END"))
      .withColumn("corrupt_delta_bp", col("new_corrupt_bp") - col("old_corrupt_bp"))
      .select(col("source"), col("old_docs"), col("new_docs"),
        col("old_share_bp"), col("new_share_bp"), col("share_delta_bp"),
        col("old_tokens_per_doc"), col("new_tokens_per_doc"), col("tokens_per_doc_delta"),
        col("old_corrupt_bp"), col("new_corrupt_bp"), col("corrupt_delta_bp"))
  }

  /** Per-group score percentile normalization — the cross-source
    * calibration step before a global quality threshold (a raw score
    * threshold means different things under different sources' score
    * distributions; "drop each source's bottom 20%" is the posture
    * curation pipelines actually run): pct_below_bp =
    * 10000·(rank − 1) div n — the fraction of the group strictly below
    * this row, exact, tie-stable (equal scores share a rank, hence a
    * percentile), with a single-row group reading 0. Gate with
    * `pct_below_bp < 2000` for a bottom-20% cut per group.
    *
    * Scale shape: one shuffle on the group key + a per-group sort (the
    * grouped window — source cardinality bounds the parallelism, and a
    * per-source sort is the operation's honest cost; a corpus that is
    * ONE giant source needs the global-rank fold
    * ([[graft.ops.Packing.shardPlan]]'s protocol) instead, which the
    * grouped form deliberately does not hide). Appends (rnk,
    * pct_below_bp) to the input row. */
  def percentileByGroup(df: DataFrame, groupCol: String, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    df.withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(wn))
      .withColumn("pct_below_bp", expr("(10000 * (rnk - 1)) div _n"))
      .drop("_n")
  }

  /** Snapshot manifest diff — [[driftCard]]'s row-level companion, the
    * content-addressed audit between two corpus snapshots (yesterday's
    * table vs today's): every doc id lands in exactly one of
    * added / removed / changed / unchanged, decided by a full outer join
    * on id comparing content hashes. A large `changed` mass between
    * "incremental" snapshots flags an upstream re-crawl or a
    * normalization change; unexpected `removed` mass flags data loss —
    * both before the snapshot is promoted. Emits (status, n_docs,
    * share_bp) with shares over the id union, exact floor division.
    *
    * Scale shape: each side is one map-only hash projection; the only
    * corpus-sized exchange is the id-keyed full outer join both sides
    * shuffle into; the status aggregate collapses it to ≤4 rows, pinned
    * (two consumers: its own total and the final projection), and the
    * 1-row total is broadcast back. No corpus re-scan, nothing
    * quadratic. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("_id"), md5(col(textCol)).as("_ho"))
    val n = newDf.select(col(idCol).as("_id"), md5(col(textCol)).as("_hn"))
    val agg = Pin(o.join(n, Seq("_id"), "full_outer")
      .withColumn("status",
        when(col("_ho").isNull, lit("added"))
          .when(col("_hn").isNull, lit("removed"))
          .when(col("_ho") === col("_hn"), lit("unchanged"))
          .otherwise(lit("changed")))
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))) // ≤4 rows; total + projection consumers
    val tot = agg.agg(sum(col("n_docs")).as("_tot"))
    agg.crossJoin(broadcast(tot))
      .select(col("status"), col("n_docs"),
        expr("(10000 * n_docs) div _tot").as("share_bp"))
  }

  /** Filter-attribution audit — the ablation table behind a conjunctive
    * quality gate (the per-rule rows a Gopher/C4-style paper reports):
    * for each 0/1 rule column, how many documents it rejects (`n_fail`),
    * how many it ALONE rejects (`n_unique_fail` — docs failing exactly
    * one rule; removing that rule would admit exactly these), and both
    * as bp of the corpus. A rule with high n_fail but zero unique
    * rejections is redundant; one with high unique rejections carries
    * the gate.
    *
    * Scale shape: ONE corpus scan into ONE 1-row aggregate (2k+1
    * counters for k rules, map-side combined), unpivoted to k rows with
    * `stack` — no explode of the corpus, no shuffle wider than the
    * counter row. Rule columns may be boolean or 0/1 integer (cast
    * internally); 1 = pass. */
  def filterAttribution(df: DataFrame, ruleCols: Seq[String]): DataFrame = {
    require(ruleCols.nonEmpty, "at least one rule column required")
    val base = df.withColumn("_nfail",
      ruleCols.map(r => when(col(r).cast("long") === 0L, 1L).otherwise(0L)).reduce(_ + _))
    val aggs = ruleCols.map(r =>
        sum(when(col(r).cast("long") === 0L, 1L).otherwise(0L)).as(s"f_$r")) ++
      ruleCols.map(r =>
        sum(when(col(r).cast("long") === 0L && col("_nfail") === 1L, 1L).otherwise(0L)).as(s"u_$r"))
    val one = base.agg(count(lit(1)).as("n_docs"), aggs: _*)
    val stackArgs = ruleCols.map(r => s"'$r', f_$r, u_$r").mkString(", ")
    one.select(col("n_docs"),
        expr(s"stack(${ruleCols.size}, $stackArgs) AS (rule, n_fail, n_unique_fail)"))
      .withColumn("fail_bp",
        expr("CASE WHEN n_docs = 0 THEN 0L ELSE (10000 * n_fail) div n_docs END"))
      .withColumn("unique_fail_bp",
        expr("CASE WHEN n_docs = 0 THEN 0L ELSE (10000 * n_unique_fail) div n_docs END"))
      .select(col("rule"), col("n_docs"), col("n_fail"), col("n_unique_fail"),
        col("fail_bp"), col("unique_fail_bp"))
  }

  /** Embedding-store datasheet — [[dataCard]]'s vector-side sibling, the
    * QA card run on every embedding batch before it enters the index:
    * per group (source/model/batch label), counts of NaN vectors, exact
    * zero vectors, low-norm vectors (a collapsing encoder's first
    * symptom), DISTINCT vectors (a collapsed encoder's second symptom:
    * many inputs → one point), and the norm² envelope. All arithmetic in
    * the exact 2^-20 integer domain (the [[Quantize]] convention):
    * nsq = Σ floor(x·2^20)², so every field replays bit-for-bit. NaN
    * vectors are COUNTED, then excluded from the norm/distinct terms
    * (NULL-out; both engines' aggregates skip NULLs identically). One
    * corpus scan into a per-group collapse + the (group, hash) distinct
    * — the dataCard shape exactly. `lowNormQ` defaults to ‖v‖ < 1/8,
    * i.e. nsq < 2^34. */
  def embedCard(df: DataFrame, groupCol: String, vecCol: String,
                lowNormQ: Long = 1L << 34): DataFrame = {
    // _vq itself is guarded behind the NaN flag: DuckDB's CAST raises on
    // NaN→BIGINT (Spark's non-ANSI cast NULLs), so the quantized array
    // must never be computed for a NaN row in either engine
    val base = df.select(col(groupCol).as("label"),
      expr(s"exists($vecCol, x -> isnan(CAST(x AS DOUBLE)))").as("_nan"),
      col(vecCol).as("_v"))
      .withColumn("_vq", expr(
        "CASE WHEN _nan THEN NULL ELSE transform(_v, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) END"))
      .withColumn("_nsq", expr("aggregate(_vq, 0L, (a, x) -> a + x * x)"))
      .withColumn("_h", expr("md5(array_join(transform(_vq, x -> CAST(x AS STRING)), ','))"))
    val agg = base.groupBy(col("label")).agg(
      count(lit(1)).as("n_vecs"),
      sum(when(col("_nan"), 1L).otherwise(0L)).as("n_nan"),
      sum(when(col("_nsq") === 0L, 1L).otherwise(0L)).as("n_zero"),
      sum(when(col("_nsq") < lowNormQ, 1L).otherwise(0L)).as("n_low_norm"),
      min(col("_nsq")).as("nsq_min"),
      max(col("_nsq")).as("nsq_max"),
      // explicit zero-denominator guard: Spark's non-ANSI div yields NULL
      // on 0 but DuckDB's // raises — the CASE keeps both engines aligned
      // on an all-NaN group
      expr("CASE WHEN count(_nsq) = 0 THEN NULL ELSE sum(_nsq) div count(_nsq) END").as("nsq_mean"))
    val dist = base.select(col("label"), col("_h")).filter(col("_h").isNotNull)
      .distinct().groupBy(col("label")).agg(count(lit(1)).as("n_distinct"))
    agg.join(dist, Seq("label"), "left")
      .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
  }

  /** Cross-source n-gram overlap matrix — the pairwise governance view
    * [[dataCard]]'s per-source rows can't show: for every unordered
    * source pair, how many distinct word-k-gram fingerprints both contain
    * and what share (bp) of each side's distinct grams that is. The
    * matrix answers "how much of source A is already in source B" before
    * mixing decisions double-count shared boilerplate, and is the
    * snapshot-vs-snapshot dedup-planning number crawl pipelines publish.
    *
    * Scale shape: one corpus scan explodes shingles, fingerprinted to 60
    * bits (md5-prefix, the repo's cross-engine hash) so the distinct
    * collapse shuffles narrow integers, never gram text; per-fingerprint
    * source sets are collect_set bounded by |sources| (a corpus has tens
    * to hundreds of sources, never corpus-many), pair expansion is
    * |sources|²-bounded per gram, and the per-source totals relation is
    * |sources| rows (broadcast back). The corpus never joins itself —
    * the whole matrix costs one distinct shuffle + one |pairs| collapse. */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
                    k: Int = 8): DataFrame = {
    // pinned: gh feeds THREE consumers (the pair matrix + both totals
    // joins) — unpinned, Catalyst replicates the shingle-explode+distinct
    // subtree into three full corpus passes (the dedup_winnow r12 lesson);
    // the pin runs it once
    // r17: gram hashes via the native per-row kernel (same md5-hex [1,15]
    // values, no k-gram string / hex / conv materialization per gram)
    val gh = Pin(df.select(col(srcCol).as("source"),
        explode(org.apache.spark.sql.graft.GramHash60(
          Dedup.tokensCol(col(textCol)), k)).as("_gh"))
      .distinct())
    val totals = gh.groupBy(col("source")).agg(count(lit(1)).as("_n"))
    val pairs = gh.groupBy(col("_gh"))
      .agg(sort_array(collect_set(col("source"))).as("_s"))
      .filter(size(col("_s")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(_s) - 2), i ->
          |  transform(slice(_s, i + 2, size(_s) - i - 1), b ->
          |    struct(element_at(_s, i + 1) AS src_a, b AS src_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    pairs
      .join(broadcast(totals.select(col("source").as("src_a"), col("_n").as("_na"))), "src_a")
      .join(broadcast(totals.select(col("source").as("src_b"), col("_n").as("_nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        expr("shared_grams * 10000L div _na").as("overlap_a_bp"),
        expr("shared_grams * 10000L div _nb").as("overlap_b_bp"))
  }

  /** Gini concentration of a count distribution in exact basis points —
    * the one-number inequality statistic for a training MIXTURE:
    * G = Σ_i (2i − n − 1)·x_i / (n·Σx) over the ascending-sorted counts
    * (0 = perfectly balanced, →10000 = one group holds everything).
    * Ties need no tie-break: within a block of equal x the rank weights
    * sum to a constant, so any order gives the same Σ — the output is
    * deterministic even though row_number's order among ties is not.
    * Groups with zero rows are absent from a count relation and so
    * outside the statistic — G is over the groups PRESENT, documented.
    *
    * Scale shape: the input is a per-group count relation (|groups|
    * rows); the single-partition rank window runs on that bounded
    * relation, never the corpus. Output: 1 row
    * (n_groups, total, gini_bp). */
  def giniBp(counts: DataFrame, valueCol: String): DataFrame = {
    val ranked = counts.select(col(valueCol).cast("long").as("x"))
      .withColumn("i", row_number().over(Window.orderBy(col("x"))).cast("long"))
    ranked.agg(count(lit(1)).as("n_groups"), sum(col("x")).as("total"),
        sum(expr("(2 * i - 1) * x")).as("_s"))
      .select(col("n_groups"), col("total"),
        expr("((_s - n_groups * total) * 10000) div (n_groups * total)").as("gini_bp"))
  }

  /** The quality-vs-quantity FRONTIER — the operating table a curation
    * gate's threshold is chosen from: for each keep-fraction tier, the
    * score cutoff that first reaches it and what that cutoff actually
    * buys (docs and weight kept, both in exact bp). Threshold semantics
    * on purpose: the cutoff is the MAX score whose top-cumulative count
    * reaches ⌊keep_bp·n/10000⌋, and everything scoring ≥ cutoff is kept —
    * ties overshoot the target rather than splitting a tie class by
    * arbitrary doc order (a production gate ships "score ≥ τ", never
    * "the first k of a tie").
    *
    * Scale shape: ONE corpus aggregate onto the BOUNDED score domain
    * (the quality score has ≤ ~101 values); the cumulative window, tier
    * picks, and joins all run on that histogram — no global sort, no
    * per-tier corpus pass. Output per tier:
    * (keep_bp, cutoff, n_kept, docs_bp, weight_kept, weight_bp). */
  def scoreFrontier(df: DataFrame, scoreCol: String, weightCol: String,
                    keepBps: Seq[Int]): DataFrame = {
    require(keepBps.nonEmpty && keepBps.forall(bp => bp >= 0 && bp <= 10000),
      s"keep fractions must be bp in [0, 10000]: ${keepBps.mkString(",")}")
    val hist = Pin(df.groupBy(col(scoreCol).as("score"))
      .agg(count(lit(1)).as("n"), sum(col(weightCol)).as("w"))) // histogram-sized; feeds the window + every tier
    val w = Window.orderBy(col("score").desc)
    val cum = Pin(hist
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_w", sum(col("w")).over(w)))
    val totals = Pin(df.agg(count(lit(1)).as("n_total"),
      sum(col(weightCol)).as("w_total")))
    keepBps.map { bp =>
      val cutoff = cum.crossJoin(broadcast(totals))
        .filter(col("cum_n") >= expr(s"(n_total * $bp) div 10000"))
        .agg(max(col("score")).as("cutoff"))
      cutoff.join(cum, col("cutoff") === col("score"))
        .crossJoin(broadcast(totals))
        .select(lit(bp.toLong).as("keep_bp"), col("cutoff"),
          col("cum_n").as("n_kept"),
          expr("cum_n * 10000 div n_total").as("docs_bp"),
          col("cum_w").as("weight_kept"),
          expr("cum_w * 10000 div w_total").as("weight_bp"))
    }.reduce(_.unionByName(_))
  }

  /** Per-group integer CORRELATION card between two quality signals — the
    * profiling step behind "is this gate redundant with that one": for
    * each group, the exact sufficient statistics (n, Σx, Σy, Σx², Σy²,
    * Σxy) plus the integer covariance and variance NUMERATORS
    * (n·Σxy − Σx·Σy and n·Σx² − (Σx)², the Pearson numerator and the two
    * factors under its root). The card stops at the numerators on
    * purpose: they are exact BIGINTs that replay in any engine, carry the
    * correlation's SIGN directly, and let a reader form r² as a ratio —
    * while the rooted r itself would ride engine-specific sqrt rounding
    * (the cross-engine divergence the whole integer posture exists to
    * avoid). corr_sign is the covariance numerator's signum.
    *
    * Scale shape: ONE map-side-combined aggregate over the corpus onto
    * the group domain; no window, no join, no second pass. Overflow: the
    * per-row products x·y reach 2^40 at 2^20-domain signals, so a
    * BIGINT sum would wrap silently around n ≈ 2^23 rows per group —
    * the SECOND-moment sums accumulate in DECIMAL(38,0) (exact, the
    * temperatureMix posture), as do the n·Σ numerator products, and
    * everything casts to BIGINT only at the output boundary (the caller
    * keeps signals in a ≤ 2^20 domain — doc-level counts and bp scores
    * are — so the OUTPUT values fit ~10^18 at up to ~2^21 rows/group for
    * the numerators, and far beyond for the raw sums). */
  def corrCard(df: DataFrame, groupCol: String, xCol: Column, yCol: Column): DataFrame = {
    // boundary cast DECIMAL(38,0) -> BIGINT guarded in-plan: in non-ANSI
    // mode an out-of-range cast yields NULL, so a group exceeding the
    // documented ~2^21-rows-at-2^20-domain envelope would silently emit
    // NULL numerators — fail loudly instead (prioritySample's
    // out-of-domain-weight precedent; raise_error keeps it one pass)
    def checkedLong(e: String, name: String) = expr(
      s"""CASE WHEN abs($e) > CAST(9223372036854775807 AS DECIMAL(38,0))
         |  THEN CAST(raise_error(concat('corrCard: $name exceeds BIGINT range: ',
         |    CAST($e AS STRING), ' — keep signals within the 2^20 domain')) AS BIGINT)
         |  ELSE CAST($e AS BIGINT) END""".stripMargin).as(name)
    df.select(col(groupCol),
        xCol.cast("long").as("_x"), yCol.cast("long").as("_y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("_x")).as("sum_x"), sum(col("_y")).as("sum_y"),
        sum(expr("CAST(_x AS DECIMAL(38,0)) * _x")).as("sum_xx"),
        sum(expr("CAST(_y AS DECIMAL(38,0)) * _y")).as("sum_yy"),
        sum(expr("CAST(_x AS DECIMAL(38,0)) * _y")).as("sum_xy"))
      .select(col(groupCol), col("n"), col("sum_x"), col("sum_y"),
        checkedLong("sum_xx", "sum_xx"),
        checkedLong("sum_yy", "sum_yy"),
        checkedLong("sum_xy", "sum_xy"),
        checkedLong("CAST(n AS DECIMAL(38,0)) * sum_xy - CAST(sum_x AS DECIMAL(38,0)) * sum_y", "cov_num"),
        checkedLong("CAST(n AS DECIMAL(38,0)) * sum_xx - CAST(sum_x AS DECIMAL(38,0)) * sum_x", "varx_num"),
        checkedLong("CAST(n AS DECIMAL(38,0)) * sum_yy - CAST(sum_y AS DECIMAL(38,0)) * sum_y", "vary_num"),
        expr("CAST(sign(CAST(n AS DECIMAL(38,0)) * sum_xy - CAST(sum_x AS DECIMAL(38,0)) * sum_y) AS BIGINT)")
          .as("corr_sign"))
  }
}
