package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prototype-based semantic diversity pruning (the SSL-prototypes half of
  * Meta's D4 recipe; Sorscher et al. 2022, Tirumala et al. 2023): cluster
  * the embedding space, rank each vector by how close it sits to its
  * cluster centroid, and DROP the most prototypical fraction per cluster —
  * redundant examples the model learns nothing new from — keeping the
  * diverse tail. Complements [[Dedup.semanticNearDuplicates]] (which
  * removes near-COPIES; this thins over-dense REGIONS).
  *
  * Scale shape: reuses the [[Ivf]] coarse quantizer — train collects only
  * k centroid rows, assignment is a map-only broadcast pass — and adds ONE
  * window shuffle partitioned by cluster. A window partition is one task,
  * so size k to the corpus (thousands of cells at 100 TB, like any IVF
  * deployment), or replace the exact rank with a per-cell similarity
  * threshold from a mergeable histogram ([[Stats.quantilesHistogram]]) to
  * go fully map-side; the exact rank is the oracle-able reference tier.
  *
  * Parity contract: the rank orders on the same exact-integer-derived
  * cosine doubles the IVF oracles already replay bit-for-bit (fixed-order
  * folds over 2^-20 quantized state); only integer columns leave the
  * operator.
  */
object Prune {

  /** Per-vector cluster assignment plus the winning centroid similarity
    * (`proto_sim`) — [[Ivf.assign]] widened by the prototypicality
    * observable. Map-only over a broadcast k-row codebook. */
  def assignWithSim(emb: DataFrame, idCol: String, vecCol: String,
                    model: Ivf.Model): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.codebook)
    Ivf.vectors(emb, idCol, vecCol)
      .mapPartitions { iter =>
        val book = bc.value
        iter.map { case (id, v) =>
          val (cid, sim) = book.nearestWithSim(Ivf.quantize(v))
          (id, cid, sim)
        }
      }.toDF(idCol, "cluster", "proto_sim")
  }

  /** OOD / noise audit per cell — [[prototypes]]' complement (that row
    * thins the over-dense CENTER of each cell; this one counts the far
    * TAIL): vectors whose winning-centroid cosine sits below `oodBp` are
    * out-of-distribution for their own cell — encoder failures, garbage
    * inputs, or emerging topics no centroid covers yet — and a cell
    * whose OOD share climbs is the retrain signal ann_ivf_drift reads
    * corpus-wide, localized to the cell. Emits (cluster, n_cell, n_ood,
    * min_sim_bp, ood_bp). Map-only broadcast assignment + one cell-keyed
    * aggregate (map-side combined) — no window, no pairs. */
  def oodCard(emb: DataFrame, idCol: String, vecCol: String,
              k: Int = 8, iters: Int = 2, oodBp: Long = 7000L): DataFrame = {
    require(oodBp >= 0L && oodBp <= 10000L, s"oodBp out of [0, 10000]: $oodBp")
    val model = Ivf.train(emb, idCol, vecCol, k, iters)
    assignWithSim(emb, idCol, vecCol, model)
      .withColumn("sim_bp", floor(col("proto_sim") * 10000).cast("long"))
      .groupBy(col("cluster")).agg(
        count(lit(1)).as("n_cell"),
        sum(when(col("sim_bp") < oodBp, 1L).otherwise(0L)).as("n_ood"),
        min(col("sim_bp")).as("min_sim_bp"))
      .withColumn("ood_bp", expr("(10000 * n_ood) div n_cell"))
      .select(col("cluster"), col("n_cell"), col("n_ood"),
        col("min_sim_bp"), col("ood_bp"))
  }

  /** (cluster, id, n_cell, proto_rank, dropped): train a k-cell codebook,
    * rank every vector within its cell by centroid similarity (desc, id
    * tie-break — rank 1 is the MOST prototypical), and flag the top
    * `dropBp`/10000 of each cell as dropped (ceil quota, so any non-empty
    * cell with dropBp > 0 drops at least one). Emits every vector with
    * its verdict rather than just the survivors — the caller filters
    * `dropped = 0`, and audits/oracles see both sides of the cut. */
  def prototypes(emb: DataFrame, idCol: String, vecCol: String,
                 k: Int = 8, iters: Int = 2, dropBp: Int = 2500): DataFrame = {
    require(dropBp >= 0 && dropBp <= 10000, s"dropBp must be in [0, 10000], got $dropBp")
    val model = Ivf.train(emb, idCol, vecCol, k, iters)
    val w = Window.partitionBy(col("cluster")).orderBy(col("proto_sim").desc, col(idCol))
    assignWithSim(emb, idCol, vecCol, model)
      .withColumn("proto_rank", row_number().over(w).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy(col("cluster"))).cast("long"))
      .withColumn("dropped",
        (col("proto_rank") <= expr(s"(n_cell * $dropBp + 9999) div 10000")).cast("long"))
      .select(col("cluster"), col(idCol), col("n_cell"), col("proto_rank"), col("dropped"))
  }
}
