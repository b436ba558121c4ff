package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Sequence packing for pretraining: assign token-counted chunks to
  * fixed-budget training sequences, concat-then-chunk style — the
  * cumulative token offset of each chunk (within a deterministic order)
  * decides its sequence id and offset, and a chunk straddling a boundary
  * is split downstream exactly as real packing pipelines do.
  *
  * This is the SCALABLE packing formulation: one window cumsum per group
  * (shuffle + sort on the group key), no sequential driver-side fold.
  * First-fit/best-fit bin packing trades that single pass for a
  * sequential scan with no exact distributed form; concat-then-chunk is
  * what large pretraining runs actually use (no padding waste either).
  */
object Packing {

  /** Per (group, ordered chunk): `seq_id` = which budget-sized training
    * sequence this chunk starts in; `seq_offset` = its token offset within
    * that sequence. Order must be a deterministic total order within each
    * group for the assignment to be reproducible. */
  def packOffsets(df: DataFrame, groupCol: String, orderCols: Seq[String],
                  nTokensCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    Seq("seq_id", "seq_offset", "_cum_before").foreach(c =>
      require(!df.columns.contains(c), s"input must not already contain a '$c' column"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_cum_before", coalesce(sum(col(nTokensCol)).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"_cum_before div ${budget}L"))
      .withColumn("seq_offset", expr(s"_cum_before % ${budget}L"))
      .drop("_cum_before")
  }

  /** The per-example SPANS of concat-then-chunk packing, materialized:
    * each item (ordered by `idCol` within its group) occupies the token
    * range `[off, off+n)` of the group's concatenated stream, and every
    * `ctx`-sized training example it touches gets a row
    * `(group, example_idx, id, tok_start, span_len)` — the
    * boundary-straddling split [[packOffsets]] leaves "downstream" made
    * explicit, i.e. the GPT-style pretraining layout where examples cross
    * document boundaries and no token is padded or dropped. One window
    * cumsum (the same single shuffle as packOffsets) + a map-only explode
    * over the examples each item touches. Zero-token items vanish (they
    * occupy no tokens); `tok_start` is the offset INSIDE the item. */
  def concatSpans(df: DataFrame, groupCol: String, idCol: String,
                  nTokensCol: String, ctx: Long): DataFrame = {
    require(ctx >= 1, s"ctx must be >= 1, got $ctx")
    require(!df.columns.contains("_off"), "input must not already contain an '_off' column")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_off", coalesce(sum(col(nTokensCol)).over(w), lit(0L)))
      .filter(col(nTokensCol) > 0)
      .withColumn("example_idx",
        explode(sequence(expr(s"_off div ${ctx}L"),
          expr(s"(_off + $nTokensCol - 1) div ${ctx}L"))))
      .withColumn("tok_start", expr(s"greatest(0L, example_idx * ${ctx}L - _off)"))
      .withColumn("span_len",
        expr(s"least(CAST($nTokensCol AS BIGINT), (example_idx + 1) * ${ctx}L - _off) - tok_start"))
      .select(col(groupCol), col("example_idx").cast("long"), col(idCol),
        col("tok_start"), col("span_len"))
  }

  /** NO-SPLIT greedy packing — the bin-packing tier [[packOffsets]]'s doc
    * declares out of scope for a pure window pass, made distributed the
    * Spark way: the fill state is inherently sequential (each assignment
    * depends on the running remainder, a non-associative fold), so it runs
    * as `flatMapSortedGroups` — sequential only WITHIN a group, all groups
    * in parallel, the sort pushed into the shuffle (no in-memory group
    * sort). Use when items must stay whole (documents for eval packing,
    * files for shard assembly); group by a key with enough cardinality to
    * spread (source, shard, day).
    *
    * Semantics (pinned by the pack_greedy oracle's recursive-CTE replay):
    * items in ascending `orderCol` order; an item whose cost fits the open
    * bin joins it, otherwise it OPENS a new bin with fill = cost; an item
    * larger than the budget therefore gets a bin of its own (fill >
    * budget) rather than being dropped or split. Returns (group, order,
    * bin_idx, bin_fill) with bin_fill = the running fill AFTER the item —
    * all integers, bit-portable. */
  def packGreedyNoSplit(df: DataFrame, groupCol: String, orderCol: String,
                        costCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("string").as("_1"), col(orderCol).cast("long").as("_2"),
      col(costCol).cast("long").as("_3")).as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("_2")) { (g: String, it: Iterator[(String, Long, Long)]) =>
        var bin = 0L
        var fill = 0L
        var first = true
        it.map { case (_, id, cost) =>
          if (first) { fill = cost; first = false }
          else if (fill + cost > budget) { bin += 1; fill = cost }
          else fill += cost
          (g, id, bin, fill)
        }
      }
      .toDF(groupCol, orderCol, "bin_idx", "bin_fill")
  }

  /** Length-bucketed batch assembly — the dynamic-batching step a
    * fine-tuning loader runs (padding every batch to ITS OWN max length
    * instead of the corpus max): docs bucket by length band, sort
    * longest-first within a bucket, and fill fixed-size batches — so
    * batch-mates have near-equal lengths and the pad waste collapses.
    * Emits the per-bucket audit a batching config is chosen from:
    * (bucket, n_docs, n_batches, real_tokens, padded_tokens, waste_bp),
    * padded = Σ_batches n_in_batch · max_len_in_batch, waste in bp of
    * padded. The longest-first order inside a bucket is load-bearing:
    * it puts the stragglers together in the first batches instead of
    * letting one long doc pad a batch of short ones.
    *
    * Scale shape: one shuffle on the bucket key + per-bucket sort
    * (bucket count is length-range/width — bounded); the batch collapse
    * and bucket aggregate ride the same partitioning. A corpus that is
    * one giant band degenerates like any grouped window — pick a finer
    * `bucketWidth` there. */
  def batchPlan(df: DataFrame, idCol: String, nTokensCol: String,
                batchSize: Int, bucketWidth: Int = 64): DataFrame = {
    require(batchSize >= 1 && bucketWidth >= 1,
      s"batchSize/bucketWidth must be >= 1, got $batchSize/$bucketWidth")
    val keyed = df.select(col(idCol).cast("long").as("_id"),
        col(nTokensCol).cast("long").as("_w"))
      .withColumn("bucket", expr(s"_w div $bucketWidth"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("_w").desc, col("_id"))
    keyed.withColumn("_rn", row_number().over(w))
      .withColumn("_batch", expr(s"(_rn - 1) div $batchSize"))
      .groupBy(col("bucket"), col("_batch"))
      .agg(count(lit(1)).as("_n"), max(col("_w")).as("_mx"), sum(col("_w")).as("_sum"))
      .groupBy(col("bucket"))
      .agg(sum(col("_n")).as("n_docs"), count(lit(1)).as("n_batches"),
        sum(col("_sum")).as("real_tokens"),
        sum(col("_n") * col("_mx")).as("padded_tokens"))
      .withColumn("waste_bp",
        expr("CASE WHEN padded_tokens = 0 THEN CAST(0 AS BIGINT) ELSE (10000 * (padded_tokens - real_tokens)) div padded_tokens END"))
      .select(col("bucket"), col("n_docs"), col("n_batches"),
        col("real_tokens"), col("padded_tokens"), col("waste_bp"))
  }

  /** Token-budgeted shard planning — [[packOffsets]]' GLOBAL sibling, the
    * last step before a corpus ships as training shards ("cut these docs
    * into ~equal-token files, preserving order"): each doc's shard is the
    * one its global starting token offset falls in,
    * shard_id = (cum − w) div target — the concat-then-chunk assignment
    * at file granularity. Emits the shard MANIFEST (the artifact a
    * training loader consumes): (shard_id, n_docs, total_tokens, fill_bp,
    * first_id, last_id), fill in bp of the target so balance is audited
    * in the same exact-integer domain as every other card.
    *
    * packOffsets' per-group window can't express this: there is no group,
    * and `Window.orderBy` without partitioning funnels the corpus through
    * ONE task. The global cumulative sum is built scale-honestly instead,
    * the [[Dedup.sortedNeighborhoodPairs]] protocol: range repartition on
    * id, per-partition running sum, partition offsets folded in from a
    * #partitions-sized collect (bounded model artifact). The pin before
    * the offset collect is CORRECTNESS-load-bearing — range boundaries
    * are sampled per execution, so an unpinned plan could compute offsets
    * against one boundary draw and assign against another. The pin's
    * range shuffle runs once, at the `Pin` call, and a partition
    * recomputed after a lost block reuses its partitioner. */
  def shardPlan(df: DataFrame, idCol: String, nTokensCol: String,
                targetTokens: Long, numPartitions: Int = 0): DataFrame = {
    require(targetTokens >= 1, s"targetTokens must be >= 1, got $targetTokens")
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val keyed = df.select(col(idCol).cast("long").as("_id"),
        col(nTokensCol).cast("long").as("_w"))
      .repartitionByRange(p, col("_id"))
      .withColumn("pid", spark_partition_id())
    val wloc = Window.partitionBy("pid").orderBy("_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = Pin(keyed.withColumn("lcum", sum(col("_w")).over(wloc)))
    // per-partition total = the last running sum (lcum is monotone in id)
    val totals = local.groupBy("pid").agg(max(col("lcum")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.map(_._1).zip(
      totals.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("pid", "off")
    local.join(broadcast(offDf), "pid")
      .withColumn("shard_id", expr(s"(off + lcum - _w) div $targetTokens"))
      .groupBy(col("shard_id")).agg(
        count(lit(1)).as("n_docs"), sum(col("_w")).as("total_tokens"),
        min(col("_id")).as("first_id"), max(col("_id")).as("last_id"))
      .withColumn("fill_bp", expr(s"(10000 * total_tokens) div $targetTokens"))
      .select(col("shard_id"), col("n_docs"), col("total_tokens"),
        col("fill_bp"), col("first_id"), col("last_id"))
  }
}
