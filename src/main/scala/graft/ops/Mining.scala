package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Hard-negative mining for embedding-model training data — the
  * contrastive-pair construction step of the 2023-25 retrieval-model
  * recipes (DPR's in-batch negatives hardened ANCE-style: negatives come
  * from the CURRENT index's nearest non-positives, not from random
  * sampling, because random negatives are too easy to carry gradient).
  *
  * Composition over invention: candidates are the IVF-probed,
  * exact-cosine-rescored neighbor set ([[Ivf.probedRescored]], the same
  * pass ann_ivf's search ranks), and "hard negative" is a pure relational
  * predicate over it — a different-labeled neighbor, similar enough to be
  * confusable but below the near-duplicate band (a too-similar
  * cross-label pair is a LABEL ERROR or an unflagged duplicate, and
  * training on it as a negative teaches the model to split twins — the
  * standard false-negative trap this band guards against).
  *
  * Scale shape: the query set is an explicit bounded batch (training
  * mines negatives per batch against the frozen index — |Q| is a
  * training-loop constant, not a corpus fraction), so cost is
  * |Q| × nprobe × cell-size = linear in the corpus at fixed Q, and the
  * output is ≤ |Q|·k rows. The codebook is driver-resident (k·dim longs,
  * the Ivf broadcast contract); the only corpus-wide work is the single
  * map-only pass that assigns each vector and rescores it against the
  * queries probing its cell, plus the label lookups.
  */
object Mining {

  /** `(query_id, neg_id, neg_label, rank, sim_bp)`: for each query, the
    * top-`k` different-labeled neighbors from its `nprobe` IVF cells with
    * cosine in `[hardBp, dupBp)` basis points — closest-first (the
    * hardest usable negatives), near-duplicate band excluded. `sim_bp` is
    * `floor(cos·10000)` (the dedup_semantic verify arithmetic), and the
    * ranking runs on the INTEGER bp with `neg_id` tiebreak so the order
    * replays bit-exactly in any engine. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
                    model: Ivf.Model, queryIds: Seq[Long], k: Int,
                    dupBp: Long = 9800L, hardBp: Long = 0L, nprobe: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(hardBp < dupBp, s"hard band must sit below the dup band, got [$hardBp, $dupBp)")
    val cands = Ivf.probedRescored(emb, idCol, vecCol, model, queryIds, nprobe)
      .withColumn("sim_bp", floor(col("sim") * 10000).cast("long"))
    val qLabels = broadcast(
      Ivf.withIds(emb, idCol, queryIds)
        .select(col(idCol).cast("long").as("query_id"), col(labelCol).as("_qlabel")))
    val nLabels = emb.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).as("neg_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_bp").desc, col("neighbor_id"))
    cands.join(qLabels, "query_id")
      .join(nLabels, "neighbor_id")
      .filter(col("neg_label") =!= col("_qlabel") &&
        col("sim_bp") >= hardBp && col("sim_bp") < dupBp)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id").as("neg_id"),
        col("neg_label"), col("rank"), col("sim_bp"))
  }

  /** Contrastive TRIPLET assembly — [[hardNegatives]] completed into the
    * (anchor, positive, negative) rows a sentence-transformers /
    * InfoNCE-with-margin trainer consumes: from ONE probed candidate set
    * per query, the positive is the nearest SAME-labeled neighbor below
    * the duplicate band (nearest, because an easy positive carries no
    * gradient either) and the negatives are the top-`k` different-labeled
    * neighbors in `[0, dupBp)` — the same confusable-but-not-twin band,
    * with negative-cosine neighbors excluded as too easy. `margin_bp` =
    * pos_sim − neg_sim is emitted per row: the quantity the triplet loss
    * clamps, so a mining run can be audited for margin distribution
    * before a single training step. A query with no same-labeled probed
    * neighbor yields no triplets (inner join) — the honest outcome, not a
    * padded row.
    *
    * Scale shape: identical to [[hardNegatives]] (bounded query batch ×
    * nprobe cells), with the labeled candidate relation pinned because
    * the positive and negative legs both rank it — unpinned, Catalyst
    * re-runs the probe+rescore pass per leg. */
  def triplets(emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
               model: Ivf.Model, queryIds: Seq[Long], k: Int,
               dupBp: Long = 9800L, nprobe: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cands = Ivf.probedRescored(emb, idCol, vecCol, model, queryIds, nprobe)
      .withColumn("sim_bp", floor(col("sim") * 10000).cast("long"))
    val qLabels = broadcast(
      Ivf.withIds(emb, idCol, queryIds)
        .select(col(idCol).cast("long").as("query_id"), col(labelCol).as("_qlabel")))
    val nLabels = emb.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).as("n_label"))
    val labeled = Pin(cands.join(qLabels, "query_id").join(nLabels, "neighbor_id")
      .filter(col("sim_bp") < dupBp)) // positive AND negative legs rank this
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_bp").desc, col("neighbor_id"))
    val pos = labeled.filter(col("n_label") === col("_qlabel"))
      .withColumn("_prn", row_number().over(w)).filter(col("_prn") === 1)
      .select(col("query_id"), col("neighbor_id").as("pos_id"),
        col("sim_bp").as("pos_sim_bp"))
    val neg = labeled.filter(col("n_label") =!= col("_qlabel") && col("sim_bp") >= 0L)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id").as("neg_id"),
        col("n_label").as("neg_label"), col("rank"), col("sim_bp").as("neg_sim_bp"))
    pos.join(neg, "query_id")
      .withColumn("margin_bp", col("pos_sim_bp") - col("neg_sim_bp"))
      .select(col("query_id"), col("pos_id"), col("pos_sim_bp"), col("neg_id"),
        col("neg_label"), col("rank"), col("neg_sim_bp"), col("margin_bp"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" — the
    * LASER / CCMatrix / NLLB data recipe): candidate translation pairs
    * between two sides of an embedding space are scored by the RATIO
    * margin — cos(x,y) normalized by the mean of each endpoint's k-NN
    * cosines into the other side — and kept only when x and y are each
    * other's margin-best match (mutual condition). Absolute-cosine
    * thresholds fail because neighborhood density varies per sentence
    * (the hubness problem); the margin is the density correction.
    *
    * Exactness contract: every per-pair cosine is quantized ONCE to
    * q = floor(cos·2^20) and all ranking / neighborhood sums / margins
    * are integer arithmetic over q — margin_bp =
    * (2·q·10000·ca·cb) div (sa·cb + sb·ca) with (sa, ca) the sum/count
    * of the side-A endpoint's top-k q values (counts guard short sides) —
    * so ties, top-k sets and emitted rows replay bit-for-bit in DuckDB.
    *
    * Scale shape: this is the declared EXACT tier — a partition-parallel
    * A×B cosine pass (the [[graft.vector.VectorOps.knnCosine]] posture,
    * both sides corpus-sized). At 100 TB the same margin/mutual tail
    * runs unchanged over IVF-bucketed candidates (assign both sides to
    * shared cells, pair within cells — the dedup_semantic idiom);
    * the pair relation is pinned because four consumers (two top-k
    * rankings, two neighborhood sums) would otherwise re-run the
    * cosine pass. */
  def bitextMine(emb: DataFrame, idCol: String, vecCol: String,
                 sideACol: Column, k: Int, minMarginBp: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = emb.filter(sideACol)
      .select(col(idCol).cast("long").as("id_a"), col(vecCol).as("_va"))
    val b = emb.filter(!sideACol)
      .select(col(idCol).cast("long").as("id_b"), col(vecCol).as("_vb"))
    // q > 0: a non-positive cosine is never a translation candidate, and
    // keeping every quantity strictly positive makes `div` truncation
    // and floor division identical — the cross-engine exactness hinge
    val pairs = Pin(a.crossJoin(b)
      .select(col("id_a"), col("id_b"),
        floor(graft.vector.VectorOps.cosine(col("_va"), col("_vb")) *
          lit(1048576.0)).cast("long").as("q"))
      .filter(col("q") > 0))
    marginTail(pairs, k, minMarginBp)
  }

  /** The blocked 100 TB posture of [[bitextMine]]: both sides are
    * assigned to one shared IVF codebook and candidate pairs form
    * WITHIN cells only — the A x B cosine pass becomes an equi-join on
    * the cell id (each side shuffles once on bounded cell keys, the
    * dedup_semantic blocking idiom) and the margin tail is unchanged.
    * Neighborhood sums are per-cell top-k: the probe-bound
    * approximation — a true pair split across cells is unseen, the
    * standard blocked-mining recall trade, measured against the exact
    * tier by the oracle pair. */
  def bitextMineInCell(emb: DataFrame, idCol: String, vecCol: String,
                       sideACol: Column, model: Ivf.Model, k: Int,
                       minMarginBp: Long): DataFrame =
    bitextMineBlocked(emb, idCol, vecCol, sideACol,
      Ivf.assign(emb, idCol, vecCol, model), k, minMarginBp)

  /** THE production entry point (default tier) for margin-based bitext
    * mining: trains a two-level hierarchical codebook sized from the
    * corpus (k2 = ceil(sqrt(n / targetCell)) parents, ~targetCell-vector
    * child cells) and mines within composite cells via
    * [[bitextMineBlocked]]. This is the default because it is the only
    * tier whose EVERY term is sub-quadratic at 100 TB: assignment is
    * n·2·sqrt(k) (flat autoK still pays n·k — measured 1.25/decade at
    * sf3), pair volume ~n·targetCell/4 per side. [[bitextMine]] (exact
    * A×B) and [[bitextMineInCell]] (flat cells) remain as the declared
    * truth/oracle tiers that MEASURE this tier's recall trade
    * (mine_bitext / mine_bitext_cell vs mine_bitext_scale, 0.35/decade).
    * mine_bitext_scale runs exactly this entry point, so the default path
    * is oracle-pinned per round. */
  def bitextMineAuto(emb: DataFrame, idCol: String, vecCol: String,
                     sideACol: Column, k: Int, minMarginBp: Long,
                     targetCell: Int = 100): DataFrame = {
    val k2 = math.max(4, math.ceil(math.sqrt(emb.count().toDouble / targetCell)).toInt)
    val m2 = Ivf.trainHierarchical(emb, idCol, vecCol, k2 = k2, targetCell = targetCell)
    bitextMineBlocked(emb, idCol, vecCol, sideACol,
      Ivf.assignHierarchical(emb, idCol, vecCol, m2), k, minMarginBp)
  }

  /** [[bitextMineInCell]] over ANY `(idCol, cluster)` blocking relation —
    * flat IVF cells, corpus-sized autoK cells, or the two-level
    * hierarchical codebook's composite cells
    * ([[Ivf.assignHierarchical]], the tier that also bounds the
    * ASSIGNMENT pass at n·√k when flat autoK's n·k term becomes the
    * wall — the dedup_semantic_scale ladder applied to mining). */
  def bitextMineBlocked(emb: DataFrame, idCol: String, vecCol: String,
                        sideACol: Column, cells: DataFrame, k: Int,
                        minMarginBp: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = emb.filter(sideACol)
      .select(col(idCol).cast("long").as("id_a"), col(vecCol).as("_va"))
      .join(cells.select(col(idCol).cast("long").as("id_a"), col("cluster")), "id_a")
    val b = emb.filter(!sideACol)
      .select(col(idCol).cast("long").as("id_b"), col(vecCol).as("_vb"))
      .join(cells.select(col(idCol).cast("long").as("id_b"), col("cluster")), "id_b")
    val pairs = Pin(a.join(b, "cluster")
      .select(col("id_a"), col("id_b"),
        floor(graft.vector.VectorOps.cosine(col("_va"), col("_vb")) *
          lit(1048576.0)).cast("long").as("q"))
      .filter(col("q") > 0))
    marginTail(pairs, k, minMarginBp)
  }

  /** Tag each mined pair with its (shared) composite cell — the persisted
    * form the incremental posture maintains: a pair's endpoints sit in
    * the SAME cell by construction (blocked mining pairs within cells
    * only), so the cell id is recovered with one keyed join on `id_a`
    * against the assignment relation. */
  def bitextPairsWithCells(emb: DataFrame, idCol: String, vecCol: String,
                           sideACol: Column, cells: DataFrame, k: Int,
                           minMarginBp: Long): DataFrame =
    bitextMineBlocked(emb, idCol, vecCol, sideACol, cells, k, minMarginBp)
      .join(cells.select(col(idCol).cast("long").as("id_a"), col("cluster")), "id_a")
      .select(col("cluster"), col("id_a"), col("id_b"), col("margin_bp"))

  /** The INCREMENTAL production posture (VERDICT r16 task 1 shape (b) —
    * the real 100 TB answer to the Θ(n^1.5) asymptote of re-running
    * [[bitextMineAuto]] per corpus epoch): the hierarchical codebook is
    * trained ONCE per epoch and persisted ([[Ivf.writeModel2]]); the
    * maintained state is (per-vector cell assignment, per-cell mined
    * pairs). Each arriving batch pays
    *   1. a map-only [[Ivf.assignHierarchical]] of the DELTA against the
    *      frozen codebook — |Δ|·2√k work, never a retrain;
    *   2. an in-cell re-mine of ONLY the cells the delta touched — the
    *      margin/mutual tail decomposes exactly per cell (every pair,
    *      top-k set, neighborhood sum and mutual check of an id lives
    *      inside its one cell), so untouched cells' persisted pairs are
    *      returned verbatim and touched cells recompute over (persisted
    *      members ∪ delta) — |Δ|·targetCell²-bounded work;
    *   3. one map-only anti-join scan of the persisted pair table (the
    *      named linear floor — the output itself is corpus-sized).
    * Nothing re-reads the corpus embeddings outside the touched cells,
    * so per-batch cost is delta-proportional plus the pair-table scan —
    * the ann_ivf_incremental pattern applied to mining. The result must
    * equal a from-scratch blocked run over the full corpus under the
    * same codebook, which is exactly what the oracle replays. */
  def bitextMineIncremental(emb: DataFrame, idCol: String, vecCol: String,
                            sideACol: Column, m2: Ivf.Model2,
                            baseCells: DataFrame, basePairs: DataFrame,
                            delta: DataFrame, k: Int, minMarginBp: Long): DataFrame = {
    val asnDelta = Pin(Ivf.assignHierarchical(delta, idCol, vecCol, m2)) // feeds the affected set AND the member union
    // the touched-cell set is ≤ |Δ| rows — broadcast into both probes so
    // neither the assignment table nor the pair table ever shuffles
    val affected = asnDelta.select(col("cluster")).distinct()
    val members = baseCells.select(col(idCol), col("cluster"))
      .join(broadcast(affected), "cluster")
      .unionByName(asnDelta.select(col(idCol), col("cluster")))
    val remined = bitextMineBlocked(emb, idCol, vecCol, sideACol, members, k, minMarginBp)
    val untouched = basePairs
      .join(broadcast(affected), Seq("cluster"), "left_anti")
      .select(col("id_a"), col("id_b"), col("margin_bp"))
    untouched.unionByName(remined)
  }

  /** The shared margin/mutual tail over a `(id_a, id_b, q)` candidate
    * relation (q = floor(cos * 2^20) > 0): per-side top-k ranking,
    * neighborhood sums with counts, integer ratio margin, mutual-best
    * join, threshold. */
  private def marginTail(pairs: DataFrame, k: Int, minMarginBp: Long): DataFrame = {
    // r18 optimization (guide §2.3/§2.4): the old formulation ran TWO
    // row_number windows over the FULL pair relation — two complete
    // shuffles + sorts of every candidate pair, to keep only rows with
    // rka<=k OR rkb<=k (the rank VALUES were never used beyond those
    // predicates). [[TopK.topKPerKey]]'s bounded-heap aggregate computes
    // the same tie-exact (q DESC, id ASC) top-k sets with map-side
    // partials: each exchange now carries at most k rows per key per map
    // partition instead of the whole pair relation, and nothing is fully
    // sorted. Equivalence: candidate pairs are unique per (id_a, id_b)
    // (one cell per id in every blocked tier; A×B in the exact tier), so
    // "rank <= k" ≡ "member of the top-k set"; sums/counts, margins,
    // mutual-best picks and the threshold are unchanged arithmetic over
    // the same rows. MiningSpec pins window-formulation ≡ this tail; the
    // mine_bitext* oracles replay the row_number form in DuckDB.
    val topA = TopK.topKPerKey(pairs, "id_a", "id_b", "q", k).drop("rank")
    val topB = TopK.topKPerKey(pairs, "id_b", "id_a", "q", k).drop("rank")
    val ranked = topA.withColumn("_inA", lit(1)).withColumn("_inB", lit(0))
      .unionByName(topB.withColumn("_inA", lit(0)).withColumn("_inB", lit(1)))
      .groupBy(col("id_a"), col("id_b"), col("q"))
      .agg(max(col("_inA")).as("_ia"), max(col("_inB")).as("_ib"))
    val sA = topA.groupBy(col("id_a")).agg(sum(col("q")).as("sa"), count(lit(1)).as("ca"))
    val sB = topB.groupBy(col("id_b")).agg(sum(col("q")).as("sb"), count(lit(1)).as("cb"))
    // ONE pin of the post-margin relation (≤ 2k rows per id, vs the old
    // full-width ranked checkpoint): the fwd and bwd legs both rank it
    val scored = Pin(ranked.join(sA, "id_a").join(sB, "id_b")
      .filter(col("sa") * col("cb") + col("sb") * col("ca") > 0)
      .withColumn("margin_bp",
        expr("(2 * q * 10000 * ca * cb) div (sa * cb + sb * ca)")))
    val wFm = Window.partitionBy(col("id_a")).orderBy(col("margin_bp").desc, col("id_b"))
    val wBm = Window.partitionBy(col("id_b")).orderBy(col("margin_bp").desc, col("id_a"))
    val fwd = scored.filter(col("_ia") === 1)
      .withColumn("_fb", row_number().over(wFm)).filter(col("_fb") === 1)
      .select(col("id_a"), col("id_b"), col("margin_bp"))
    val bwd = scored.filter(col("_ib") === 1)
      .withColumn("_bb", row_number().over(wBm)).filter(col("_bb") === 1)
      .select(col("id_a"), col("id_b"))
    fwd.join(bwd, Seq("id_a", "id_b"))
      .filter(col("margin_bp") >= minMarginBp)
  }
}
