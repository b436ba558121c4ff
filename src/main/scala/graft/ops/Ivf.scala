package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CosineSimilarity

/** IVF (inverted-file) approximate nearest neighbor — the codebook-based
  * scale path next to [[Similarity.annCosineLsh]]'s hash-based one.
  *
  * The coarse quantizer trains on vectors QUANTIZED to integer units of
  * 2^-20 (`floor(x * 2^20)` per component — the IVF analogue of the
  * codebook quantization real IVF-PQ systems apply). Centroids are kept as
  * exact (long-sum vector, count) pairs: integer addition is associative,
  * so training is bit-reproducible regardless of partition merge order —
  * and every float the pipeline derives (centroid = sum/n, cosine folds)
  * is a fixed-order expression an independent engine (the DuckDB oracle)
  * replays exactly. Final ranking is exact cosine on the ORIGINAL float
  * vectors; only cluster shapes see quantization.
  *
  * Train: deterministic seed centroids (k lowest-id vectors) + Lloyd
  * rounds; assignment is a narrow map against broadcast centroids; the
  * centroid update is a single-pass typed aggregate (one (sums, n) row per
  * cluster over the exchange). Search: probe the `nprobe` centroids
  * nearest to each query, then exact cosine only within probed clusters.
  * With `nprobe == k` results equal brute force (test-asserted).
  */
object Ivf {

  /** Quantization scale: 2^20 units per 1.0 (exact double product below). */
  val QuantScale: Double = 1048576.0

  /** Corpus-sized cell count: `max(minK, ceil(n / targetCell))` — the
    * numBitsFor idiom for the codebook. A FIXED k is the scale bug the
    * r12 sf3 audit measured (3.9/decade): cell population grows linearly
    * with the corpus, so any within-cell pairwise verify grows
    * quadratically. Bounding the EXPECTED cell at `targetCell` makes the
    * within-cell pair volume `n·targetCell/2` — linear with a chosen
    * constant. The costs that grow with k instead: assignment work is
    * n·k ≈ n²/targetCell (quadratic with a 1/targetCell constant — fine
    * through sf3, and the standard mitigation beyond it is a two-level
    * coarse quantizer / IMI, assigning against √k + √k centroids), and
    * the driver-resident codebook is k·dim longs (≈0.5 MB at sf3's 600
    * cells; at true 100 TB the codebook itself must become a table — a
    * named limitation, not an implemented path). */
  def autoK(n: Long, targetCell: Int = 100, minK: Int = 8): Int = {
    require(targetCell >= 1 && minK >= 1, s"got targetCell=$targetCell minK=$minK")
    math.max(minK, math.ceil(n.toDouble / targetCell).toInt)
  }

  /** Centroids as exact integer state: cid -> (component sums, count). */
  final case class Model(centroids: Map[Int, (Array[Long], Long)]) extends Serializable {
    /** The assignment form of these centroids, built once per model. */
    lazy val codebook: Codebook = Codebook(centroids)
  }

  /** A codebook in the form every assignment loop reads: cids ascending,
    * and each centroid's mean `s(i).toDouble / n` divided once per model,
    * not once per vector × centroid × dimension. The same division feeds
    * the same fold order, so every similarity and distance is the value
    * the DuckDB oracles replay from the exact-integer state.
    *
    * Strict `>` over ascending cids keeps ties on the lowest cid — the
    * tie-break the oracles replay as ORDER BY sim DESC, cid. Every
    * assignment path (IVF train/assign/search, hierarchical, PQ, Prune)
    * goes through here so the rule lives once. */
  final class Codebook private (ids: Array[Int], means: Array[Array[Double]])
    extends Serializable {

    /** Cosine of centroid `c` (by position) against a quantized vector —
      * strict left-to-right fold over the common prefix. */
    private def cosine(c: Int, v: Array[Long]): Double = {
      val m = means(c)
      val len = math.min(m.length, v.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < len) {
        val x = m(i)
        val y = v(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }

    /** Nearest centroid's cid and its similarity — the prototypicality
      * observable [[Prune]] ranks on. */
    def nearestWithSim(v: Array[Long]): (Int, Double) = {
      var best = -1; var bestSim = Double.NegativeInfinity
      var c = 0
      while (c < ids.length) {
        val sim = cosine(c, v)
        if (sim > bestSim) { bestSim = sim; best = ids(c) }
        c += 1
      }
      (best, bestSim)
    }

    def nearest(v: Array[Long]): Int = nearestWithSim(v)._1

    /** The `nprobe` most similar cids, by (sim DESC, cid). */
    def probes(v: Array[Long], nprobe: Int): Array[Int] =
      ids.indices.map(c => (ids(c), cosine(c, v)))
        .sortBy { case (cid, sim) => (-sim, cid) }
        .take(nprobe).map(_._1).toArray

    /** Squared L2 to the nearest centroid — strict left-to-right fold per
      * centroid, mirrored by the oracle SQL. */
    def minDistSq(v: Array[Long]): Double = {
      var best = Double.PositiveInfinity
      for (m <- means) {
        val len = math.min(m.length, v.length)
        var acc = 0.0
        var i = 0
        while (i < len) {
          val d = m(i) - v(i).toDouble
          acc += d * d
          i += 1
        }
        if (acc < best) best = acc
      }
      best
    }
  }

  object Codebook {
    def apply(centroids: Map[Int, (Array[Long], Long)]): Codebook = {
      val ids = centroids.keys.toArray.sorted
      new Codebook(ids, ids.map { cid =>
        val (s, n) = centroids(cid)
        s.map(_.toDouble / n)
      })
    }
  }

  /** floor(x * 2^20) per component of a vector read as `array<double>`
    * (a lossless widen from float): the same exact product, floor and
    * saturating long conversion as the in-plan
    * `transform(v, x -> cast(floor(cast(x as double) * 1048576.0D) as bigint))`,
    * so both quantize every vector to the same longs. */
  private[graft] def quantize(v: Array[Double]): Array[Long] = {
    val q = new Array[Long](v.length)
    var i = 0
    while (i < v.length) { q(i) = math.floor(v(i) * QuantScale).toLong; i += 1 }
    q
  }

  /** (id as long, vector as `array<double>`) rows: the one read every
    * corpus pass starts from; quantization happens in Scala. */
  private[graft] def vectors(emb: DataFrame, idCol: String, vecCol: String): Dataset[(Long, Array[Double])] = {
    import emb.sparkSession.implicits._
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<double>")).as[(Long, Array[Double])]
  }

  /** The rows of `df` whose `idCol` (as long) is one of `ids`: the query
    * lookup of every search entry point. The ids reach the filter as one
    * referenced set, not as literals inlined into generated code, so every
    * request reuses the same compiled lookup instead of compiling one of
    * its own. Unlike `isin`, the filter is not pushed into a parquet scan. */
  private[graft] def withIds(df: DataFrame, idCol: String, ids: Seq[Long]): DataFrame = {
    val wanted = ids.toSet
    val isWanted = udf((id: Long) => wanted.contains(id))
    df.filter(isWanted(col(idCol).cast("long")))
  }

  /** Nearest-centroid assignment of every vector: (id, cluster). Ties keep
    * the lowest cluster id (strictly-greater comparison over cid order). */
  def assign(emb: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.codebook)
    vectors(emb, idCol, vecCol)
      .mapPartitions { iter =>
        val book = bc.value
        iter.map { case (id, v) => (id, book.nearest(quantize(v))) }
      }.toDF(idCol, "cluster")
  }

  /** Persist the trained coarse quantizer's EXACT integer state — one row
    * per centroid (cid, sums, n) — so increments assign against a model
    * built ONCE per corpus epoch, the ANN-side analogue of the persisted
    * minhash band index: a crawl increment pays [[assign]]'s map-only pass
    * (k-row broadcast), never a retrain. Integer state means the
    * round-trip is bit-lossless: readModel∘writeModel reproduces the
    * in-memory model exactly, and every downstream assignment matches. */
  def writeModel(spark: org.apache.spark.sql.SparkSession, model: Model, table: String): Unit = {
    import spark.implicits._
    model.centroids.toSeq.sortBy(_._1)
      .map { case (cid, (s, n)) => (cid, s.toSeq, n) }
      .toDF("cid", "s", "n")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(table)
  }

  /** Inverse of [[writeModel]] — the collect is k rows (the codebook). */
  def readModel(spark: org.apache.spark.sql.SparkSession, table: String): Model =
    Model(spark.table(table).collect()
      .map(r => r.getInt(0) -> (r.getSeq[Long](1).toArray, r.getLong(2))).toMap)

  // ------------------------------------------------------------------
  // Codebook staleness guard
  // ------------------------------------------------------------------

  /** Re-train trigger tolerance for [[isStale]], in permille of the
    * training-time reference inertia: a batch whose mean nearest-centroid
    * distance exceeds the reference by more than this fraction is
    * declared stale. The reference is IN-SAMPLE (computed on the training
    * corpus at train time), so the tolerance must absorb the train/test
    * generalization gap — a few percent on the isotropic test embeddings,
    * the worst case for k-means fit quality. 250‰ (a 25% inertia rise)
    * clears that gap by an order of magnitude while catching real
    * distribution shifts, which multiply the mean: a 0.5 mean-offset (the
    * classic new-encoder-checkpoint drift) moves unit vectors ~sqrt(17)≈4×
    * further from every centroid. */
  val DefaultDriftTolerancePermille: Long = 250L

  /** Per-vector distance to the NEAREST centroid, floored to integer
    * 2^-20 units — the drift observable (k-means inertia, the statistic
    * every codebook monitor watches: a stale codebook shows up as rising
    * quantization error regardless of where the distribution moved, which
    * best-centroid COSINE cannot promise — a shifted batch can still
    * cosine-align with one lucky centroid). Same map-only broadcast pass
    * as [[assign]] (the guard costs nothing beyond the assignment the
    * batch already pays), and the floor-to-integer keeps the statistic
    * engine-portable: the DuckDB oracle replays every value exactly. */
  def nearestDistQ(emb: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.codebook)
    vectors(emb, idCol, vecCol)
      .mapPartitions { iter =>
        val book = bc.value
        iter.map { case (id, v) => (id, math.floor(math.sqrt(book.minDistSq(quantize(v)))).toLong) }
      }.toDF(idCol, "dist_q")
  }

  /** Mean of [[nearestDistQ]] over the batch, as one integer (values are
    * non-negative, so Spark's truncating `div` and DuckDB's flooring `//`
    * agree). */
  def driftStatQ(emb: DataFrame, idCol: String, vecCol: String, model: Model): Long =
    nearestDistQ(emb, idCol, vecCol, model)
      .agg(expr("CAST(sum(dist_q) DIV count(1) AS BIGINT)").as("mean_dist_q"))
      .collect()(0).getLong(0)

  /** The guard: true when the batch inertia rose more than `tolPermille`
    * above the training-time reference — the documented re-train trigger
    * for the persisted-model increment path. A shifting corpus
    * distribution otherwise degrades recall silently: assignments still
    * succeed, they are just increasingly far from every centroid. Pure
    * integer comparison, replayable by any engine. */
  def isStale(batchQ: Long, trainRefQ: Long,
              tolPermille: Long = DefaultDriftTolerancePermille): Boolean =
    batchQ * 1000L > trainRefQ * (1000L + tolPermille)

  /** Persist the training-time drift reference next to the model table —
    * written once at train time, read by every increment's guard check. */
  def writeTrainRef(spark: SparkSession, table: String, refQ: Long): Unit = {
    import spark.implicits._
    Seq(refQ).toDF("mean_dist_q")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(table + "_ref")
  }

  /** Inverse of [[writeTrainRef]] — a 1-row collect. */
  def readTrainRef(spark: SparkSession, table: String): Long =
    spark.table(table + "_ref").collect()(0).getLong(0)

  /** Train a k-centroid codebook: seed with the k lowest-id vectors
    * (quantized, count 1), then `iters` Lloyd rounds of assign →
    * exact-integer sum/count update. */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int = 2): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    val seeds = vectors(emb.orderBy(col(idCol)).limit(k), idCol, vecCol)
      .collect().map { case (_, v) => quantize(v) }
    var model = Model(seeds.zipWithIndex.map { case (v, i) => i -> (v, 1L) }.toMap)
    val dim = seeds.headOption.map(_.length).getOrElse(0)
    val sumAgg = new graft.vector.VectorSumLong(dim).toColumn
    for (_ <- 1 to iters) {
      // r17 optimization: one fused pass per Lloyd round — each vector is
      // assigned AND carried into the per-cluster sum in the same
      // mapPartitions, where the previous shape ran assign() and then
      // JOINED the assignments back to a second quantized scan by id
      // (an extra scan + an extra join per round, measured as most of a
      // 1.5 s train on a 2000-row corpus). Model state is identical FOR
      // UNIQUE ids (every train() caller; duplicate ids would previously
      // have inflated the sums multiplicity-squared via the join fan-out,
      // where the fused pass counts each row once — the sensible
      // semantics, noted per ADVICE r17), and the integer sums are
      // merge-order-free.
      val bc = emb.sparkSession.sparkContext.broadcast(model.codebook)
      val sums = vectors(emb, idCol, vecCol)
        .mapPartitions { iter =>
          val book = bc.value
          iter.map { case (_, v) =>
            val q = quantize(v)
            (book.nearest(q), q)
          }
        }
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(sumAgg.name("centroid"))
        .collect()
      // the round's job is complete after the collect — release the
      // centroid broadcast's executor/block copies instead of letting one
      // accumulate per round per train() for the session lifetime
      // (ADVICE r17; hierarchical training runs one train() per
      // super-cell). unpersist, non-blocking: destroy() is blocking in
      // Spark 4 and its per-round RPC barrier measured +0.6 s on the
      // *_scale rows' per-super-cell train loops; the driver-side handle
      // is GC-reclaimed when `bc` goes out of scope.
      bc.unpersist(blocking = false)
      // keep stale centroids for clusters that emptied this round — the
      // codebook must stay at k entries (standard k-means behavior)
      model = Model(model.centroids ++ sums.map { case (cid, (s, n)) => cid -> (s.toArray, n) }.toMap)
    }
    model
  }

  /** ANN search: queries (subset of the corpus by id) probe their `nprobe`
    * nearest clusters; exact cosine over the ORIGINAL float vectors
    * re-ranks within probed clusters only. */
  def search(emb: DataFrame, idCol: String, vecCol: String, model: Model,
             queryIds: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    probedRescored(emb, idCol, vecCol, model, queryIds, nprobe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Two-level (hierarchical) codebook: a k2-cell SUPER quantizer over
    * the corpus plus an independent child codebook per super-cell, each
    * sized to its cell's population (`ceil(n_s / targetCell)` children).
    * This is the IMI/IVF-HNSW-coarse idea in its simplest exact form, and
    * it exists for one reason: flat assignment against k = n/targetCell
    * centroids is n·k = n²/targetCell work — the quadratic term the r12
    * sf3 audit measured once [[autoK]] removed the within-cell one. Here
    * assignment costs n·(k2 + n/(k2·targetCell)); at k2 ≈ √(n/targetCell)
    * both terms are √k, so the corpus pass is n·√k — sf3's 36M flat
    * centroid cosines become ~3M. Training follows the same discipline as
    * [[train]]: exact integer (sum, count) state, deterministic lowest-id
    * seeds (per super-cell, in vec_id order), strict-> lowest-cid
    * tie-breaks — every round replays in SQL. */
  final case class Model2(superModel: Model, children: Map[Int, Model]) extends Serializable

  /** Composite cell id stride: `cluster = superCid * ChildStride + child`.
    * Child counts are ceil(cell/targetCell) ≪ this. */
  val ChildStride = 100000L

  /** Train the two-level codebook. `k2` super-cells (Lloyd via [[train]]),
    * then per super-cell child seeds = its `ceil(n_s/targetCell)`
    * lowest-id members, then `childIters` Lloyd rounds of
    * within-super-cell assignment → integer sum/count update. The child
    * codebook state collected to the driver is Σ ceil(n_s/targetCell) ≈
    * n/targetCell rows — the same bounded-model-artifact contract as
    * [[Model]], with the 100 TB caveat that at ~10⁹ documents the
    * codebook itself outgrows the driver and must become a broadcast
    * table with (a third level of) hierarchical assignment. */
  def trainHierarchical(emb: DataFrame, idCol: String, vecCol: String,
                        k2: Int, targetCell: Int = 100,
                        superIters: Int = 2, childIters: Int = 1): Model2 = {
    require(k2 >= 1 && targetCell >= 1, s"got k2=$k2 targetCell=$targetCell")
    val spark = emb.sparkSession
    import spark.implicits._
    val superModel = train(emb, idCol, vecCol, k2, superIters)
    // one materialized (id, super, vq) pass feeds seeding and every round;
    // each corpus row appears once, also under a duplicated id
    val bcS = spark.sparkContext.broadcast(superModel.codebook)
    val sv = vectors(emb, idCol, vecCol)
      .mapPartitions { iter =>
        val book = bcS.value
        iter.map { case (id, v) => val q = quantize(v); (id, book.nearest(q), q) }
      }
      .localCheckpoint(false)
    val wSeed = Window.partitionBy(col("_sc")).orderBy(col("_id"))
    val seedRows = sv.toDF("_id", "_sc", "_v")
      .withColumn("_rn", row_number().over(wSeed))
      .withColumn("_ns", count(lit(1)).over(Window.partitionBy(col("_sc"))))
      .filter(col("_rn") <= ceil(col("_ns") / lit(targetCell.toDouble)))
      .select(col("_sc"), (col("_rn") - 1).cast("int").as("_child"), col("_v"))
      .as[(Int, Int, Array[Long])].collect()
    var children: Map[Int, Model] = seedRows.groupBy(_._1).map { case (sc, rows) =>
      sc -> Model(rows.map { case (_, c, v) => c -> (v, 1L) }.toMap)
    }
    val dim = seedRows.headOption.map(_._3.length).getOrElse(0)
    val sumAgg = new graft.vector.VectorSumLong(dim).toColumn
    for (_ <- 1 to childIters) {
      val bc = spark.sparkContext.broadcast(children.map { case (sc, m) => sc -> m.codebook })
      val sums = sv.mapPartitions { iter =>
        val cs = bc.value
        iter.map { case (_, sc, v) => ((sc, cs(sc).nearest(v)), v) }
      }
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(sumAgg.name("centroid"))
        .collect()
      // group the collected sums by super-cell once — a per-super filter
      // over the whole array would be O(#supers × #updatedCells) on the
      // driver, needlessly quadratic as k2 grows
      val bySuper = sums.groupBy { case ((s, _), _) => s }
      children = children.map { case (sc, m) =>
        val updated = bySuper.getOrElse(sc, Array.empty)
          .map { case ((_, c), (vec, n)) => c -> (vec.toArray, n) }
        sc -> Model(m.centroids ++ updated.toMap)
      }
    }
    Model2(superModel, children)
  }

  /** Persist the two-level codebook's EXACT integer state — the
    * [[writeModel]] contract extended to [[Model2]]: the super codebook
    * under `<table>_super`, the children flattened to one
    * (sc, cid, s, n) row each under `<table>_children`. Like the flat
    * model, the round-trip is bit-lossless, so every downstream
    * [[assignHierarchical]] against the reloaded model matches the
    * in-memory one — the hinge of the persisted-codebook incremental
    * mining posture (a batch must land in the same composite cell the
    * epoch's full run would put it in, or the per-cell decomposition
    * breaks). */
  def writeModel2(spark: SparkSession, m2: Model2, table: String): Unit = {
    import spark.implicits._
    writeModel(spark, m2.superModel, table + "_super")
    m2.children.toSeq.sortBy(_._1)
      .flatMap { case (sc, m) =>
        m.centroids.toSeq.sortBy(_._1).map { case (c, (s, n)) => (sc, c, s.toSeq, n) } }
      .toDF("sc", "cid", "s", "n")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(table + "_children")
  }

  /** Inverse of [[writeModel2]]. The collect is the codebook itself —
    * Σ ceil(n_s/targetCell) ≈ n/targetCell rows, the same bounded-model-
    * artifact contract (and 100 TB caveat) documented on
    * [[trainHierarchical]]. */
  def readModel2(spark: SparkSession, table: String): Model2 = {
    val children = spark.table(table + "_children").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray, r.getLong(3)))
      .groupBy(_._1)
      .map { case (sc, rows) =>
        sc -> Model(rows.map(t => t._2 -> (t._3, t._4)).toMap) }
    Model2(readModel(spark, table + "_super"), children)
  }

  /** Assignment under the two-level codebook: nearest super (k2
    * comparisons) then nearest child within it (~targetCell-bounded
    * comparisons) — one map-only pass, composite cell id. */
  def assignHierarchical(emb: DataFrame, idCol: String, vecCol: String,
                         m2: Model2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bcS = spark.sparkContext.broadcast(m2.superModel.codebook)
    val bcC = spark.sparkContext.broadcast(m2.children.map { case (sc, m) => sc -> m.codebook })
    vectors(emb, idCol, vecCol)
      .mapPartitions { iter =>
        val sups = bcS.value; val cs = bcC.value
        iter.map { case (id, v) =>
          val q = quantize(v)
          val sc = sups.nearest(q)
          // a super-cell empty at train time has no children: out-of-corpus
          // probes landing there take child 0 (the cell is still addressable)
          (id, sc.toLong * ChildStride + cs.get(sc).fold(0L)(_.nearest(q).toLong))
        }
      }.toDF(idCol, "cluster")
  }

  /** The shared candidate pass of [[search]], [[graft.ops.Mining.hardNegatives]]
    * and [[graft.ops.Mining.triplets]]: `(query_id, neighbor_id, sim)` for
    * every member of each query's `nprobe` nearest cells, rescored by exact
    * cosine against the ORIGINAL vectors. No ranking/truncation here —
    * consumers apply their own.
    *
    * Two steps. One lookup collects each query row's id and vector; the
    * driver quantizes it and picks its probes (quantized centroid cosine
    * over the small codebook). Then one map-only pass over the corpus
    * quantizes each vector, assigns it against the broadcast codebook, and
    * rescores it against the broadcast vectors of the queries probing its
    * cell, with the fold [[graft.vector.VectorOps.cosine]] evaluates
    * ([[org.apache.spark.sql.graft.CosineSimilarity.fold]]): two jobs and
    * two corpus scans, no join and no shuffle.
    *
    * Each corpus row is scored once per query row probing its cell. With
    * duplicated ids that differs from a join back to the corpus by
    * neighbor id, which fanned out over every row sharing the id. */
  def probedRescored(emb: DataFrame, idCol: String, vecCol: String, model: Model,
                     queryIds: Seq[Long], nprobe: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val book = model.codebook
    val queries = vectors(withIds(emb, idCol, queryIds), idCol, vecCol).collect()
    val probing: Map[Int, Array[(Long, Array[Double])]] = queries
      .flatMap { case q @ (_, qv) => book.probes(quantize(qv), nprobe).map(_ -> q) }
      .groupMap(_._1)(_._2)
    val bc = spark.sparkContext.broadcast((book, probing))
    vectors(emb, idCol, vecCol)
      .mapPartitions { iter =>
        val (cb, cells) = bc.value
        iter.flatMap { case (id, v) =>
          cells.getOrElse(cb.nearest(quantize(v)), Array.empty[(Long, Array[Double])]).iterator
            .collect { case (qid, qv) if qid != id => (qid, id, CosineSimilarity.fold(v, qv)) }
        }
      }.toDF("query_id", "neighbor_id", "sim")
  }
}
