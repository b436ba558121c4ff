package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Ivf
import graft.vector.VectorOps

/** The IVF kernels in the form they had before the primitive codebook and
  * the single corpus pass, kept as the references the specs compare
  * against: the in-plan quantizer, the tuple-array centroid loops that
  * divide `s(i) / n` per vector × centroid × dimension, the candidate
  * pass as a join of the assignments back to the corpus, and the search
  * ranking as a `row_number` Window over the candidate pass. */
object IvfReference {

  /** floor(x * 2^20) per component, as a SQL transform. */
  def quantCol(vecCol: String): Column =
    expr(s"transform($vecCol, x -> cast(floor(cast(x as double) * 1048576.0D) as bigint))")

  def sorted(model: Ivf.Model): Array[(Int, (Array[Long], Long))] =
    model.centroids.toArray.sortBy(_._1)

  def cosineCentroid(s: Array[Long], n: Long, v: Seq[Long]): Double = {
    val len = math.min(s.length, v.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < len) {
      val x = s(i).toDouble / n
      val y = v(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** `cents` sorted ascending by cid; strict `>` keeps ties on the lowest. */
  def nearestWithSim(cents: Array[(Int, (Array[Long], Long))], v: Seq[Long]): (Int, Double) = {
    var best = -1; var bestSim = Double.NegativeInfinity
    for ((cid, (s, n)) <- cents) {
      val sim = cosineCentroid(s, n, v)
      if (sim > bestSim) { bestSim = sim; best = cid }
    }
    (best, bestSim)
  }

  def nearest(cents: Array[(Int, (Array[Long], Long))], v: Seq[Long]): Int =
    nearestWithSim(cents, v)._1

  def probes(cents: Array[(Int, (Array[Long], Long))], v: Seq[Long], nprobe: Int): Seq[Int] =
    cents.toSeq.map { case (cid, (s, n)) => (cid, cosineCentroid(s, n, v)) }
      .sortBy { case (cid, sim) => (-sim, cid) }
      .take(nprobe).map(_._1)

  def distSqCentroid(s: Array[Long], n: Long, v: Seq[Long]): Double = {
    val len = math.min(s.length, v.length)
    var acc = 0.0
    var i = 0
    while (i < len) {
      val d = s(i).toDouble / n - v(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Nearest-centroid assignment over the in-plan quantized vectors. */
  def assign(emb: DataFrame, idCol: String, vecCol: String, model: Ivf.Model): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(sorted(model))
    emb.select(col(idCol).cast("long"), quantCol(vecCol)).as[(Long, Seq[Long])]
      .mapPartitions { iter =>
        val cents = bc.value
        iter.map { case (id, v) => (id, nearest(cents, v)) }
      }.toDF(idCol, "cluster")
  }

  /** The candidate pass as joins: assign every vector, join the probed
    * cells, join back to the corpus by neighbor id for its vector, join
    * the query vectors, rescore with [[VectorOps.cosine]]. */
  def probedRescoredJoin(emb: DataFrame, idCol: String, vecCol: String, model: Ivf.Model,
                         queryIds: Seq[Long], nprobe: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).cast("long"), quantCol(vecCol)).as[(Long, Seq[Long])]
      .collect()
    val cents = sorted(model)
    val probeDf = queries.toSeq.flatMap { case (qid, qv) =>
      probes(cents, qv, nprobe).map(cid => (qid, cid))
    }.toDF("query_id", "cluster")
    val members = assign(emb, idCol, vecCol, model).join(broadcast(probeDf), Seq("cluster"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"))
    val qVecs = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    members
      .join(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("_nv")), "neighbor_id")
      .join(broadcast(qVecs), "query_id")
      .withColumn("sim", VectorOps.cosine(col("_nv"), col("_qv")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }

  /** [[Ivf.search]] ranked by a Window: each query id's candidates from
    * [[Ivf.probedRescored]] numbered by `(sim DESC, neighbor_id)`, the
    * first `k` kept. */
  def searchWindow(emb: DataFrame, idCol: String, vecCol: String, model: Ivf.Model,
                   queryIds: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    Ivf.probedRescored(emb, idCol, vecCol, model, queryIds, nprobe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }
}
