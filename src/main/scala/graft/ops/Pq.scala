package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the COMPRESSED-CODES ANN path next to
  * [[Ivf]]'s coarse partitioning and [[Similarity.annCosineLsh]]'s hash
  * buckets. The vector is split into `m` subspaces; each subspace gets its
  * own small codebook (trained with [[Ivf.train]]'s bit-reproducible
  * exact-integer k-means on the sliced vectors); a vector is then stored
  * as `m` small code ids — at 100 TB this is the representation that
  * makes a billion-vector index fit in memory (64 float dims → 4 bytes of
  * codes at m=4/k≤256, a 64× compression), and encode/search never touch
  * more than codes + a per-query lookup table.
  *
  * Search is asymmetric-distance (ADC): for each query, a LOCAL m×k table
  * of subspace dot products against the (exact-integer sums / count)
  * centroids; a candidate's score is the sum of m table lookups — no
  * per-pair float vector math. All float folds are fixed-order (ascending
  * dims inside a subspace, ascending subspace index), so the DuckDB
  * oracle replays training, encoding, and scoring bit-for-bit — the same
  * verification contract as ann_ivf.
  */
object Pq {

  /** Per-subspace codebooks as exact integer state (sums, count). */
  final case class Model(subDim: Int, books: Vector[Map[Int, (Array[Long], Long)]])
    extends Serializable {
    /** Books in the assignment form ([[Ivf.Codebook]]): computed once per
      * broadcast, never per row. */
    def codebooks: Vector[Ivf.Codebook] = books.map(Ivf.Codebook(_))
  }

  /** Train `m` subspace codebooks of `k` centroids each. Vector length
    * must divide evenly into `m` subspaces.
    *
    * All `m` books train in ONE fused pass per Lloyd round, not `m`
    * sequential [[Ivf.train]] calls: quantization is per-component so
    * slice∘quantize = quantize∘slice, the k lowest-id rows seed every
    * subspace at once (one collect), and a single mapPartitions emits all
    * `m` (subspace, code, sub-vector) assignments per row into one
    * (subspace, code) exact-integer sum/count aggregate. At scale that is
    * 1 corpus scan + 1 small shuffle per round instead of `m` of each —
    * and bit-identical to the per-subspace formulation, because subspace
    * assignments are independent and integer sums are merge-order-free. */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            m: Int = 4, k: Int = 8, iters: Int = 1): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    val seeds = Ivf.vectors(emb.orderBy(col(idCol)).limit(k), idCol, vecCol)
      .collect().map { case (_, v) => Ivf.quantize(v) }
    require(seeds.nonEmpty, "cannot train PQ on an empty corpus")
    val dim = seeds.head.length
    require(dim % m == 0, s"vector dim $dim must divide into $m subspaces")
    val subDim = dim / m
    def sliceSub(v: Array[Long], s: Int): Array[Long] =
      v.slice(s * subDim, (s + 1) * subDim)
    var books: Vector[Map[Int, (Array[Long], Long)]] = (0 until m).map { s =>
      seeds.zipWithIndex.map { case (v, i) => i -> (sliceSub(v, s), 1L) }.toMap
    }.toVector
    val sumAgg = new graft.vector.VectorSumLong(subDim).toColumn
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(books.map(Ivf.Codebook(_)))
      val assigned = Ivf.vectors(emb, idCol, vecCol)
        .mapPartitions { iter =>
          val bks = bc.value
          iter.flatMap { case (_, v) =>
            val q = Ivf.quantize(v)
            bks.indices.iterator.map { s =>
              val sub = sliceSub(q, s)
              ((s, bks(s).nearest(sub)), sub)
            }
          }
        }
      val sums = assigned.groupByKey(_._1).mapValues(_._2)
        .agg(sumAgg.name("centroid"))
        .collect()
      // clusters that emptied this round keep their stale centroid — each
      // book must stay at k entries (standard k-means behavior)
      books = sums.foldLeft(books) { case (bs, ((s, cid), (sum, n))) =>
        bs.updated(s, bs(s) + (cid -> (sum.toArray, n)))
      }
    }
    Model(subDim, books)
  }

  /** Encode every vector to its m code ids in ONE pass (a single
    * mapPartitions against the broadcast codebooks — not m assign/join
    * rounds). Nearest code by the same quantized-cosine rule as
    * [[Ivf.assign]], ties to the lowest code id. */
  def encode(emb: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // pre-sort each book ONCE into the broadcast — never inside the
    // per-row loop (a billion-row encode would otherwise materialize and
    // sort the Map once per row per subspace); ascending-cid iteration
    // with strict > keeps ties on the lowest code id
    val bc = spark.sparkContext.broadcast(
      (model.subDim, model.codebooks))
    Ivf.vectors(emb, idCol, vecCol)
      .mapPartitions { iter =>
        val (subDim, books) = bc.value
        iter.map { case (id, v) =>
          val q = Ivf.quantize(v)
          val codes = books.indices.map { s =>
            books(s).nearest(q.slice(s * subDim, (s + 1) * subDim))
          }
          (id, codes)
        }
      }.toDF(idCol, "codes")
  }

  /** IVF-PQ: the two scale layers composed the way a billion-vector index
    * actually runs (Jégou/Douze/Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011) — the COARSE quantizer ([[Ivf]]) prunes
    * the corpus to `nprobe` cluster's members per query, and only those
    * candidates pay the (already cheap) PQ table-lookup score. One corpus
    * pass computes each row's coarse cluster AND its m codes; a row scores
    * against exactly the queries probing its cluster — no join, no
    * shuffle before the final per-query top-k. */
  def searchAdcIvf(emb: DataFrame, idCol: String, vecCol: String, model: Model,
                   coarse: Ivf.Model, queryIds: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // ONE query-vector collect; the quantized form derives driver-side,
    // not via a second corpus scan
    val qVecs = Ivf.vectors(emb.filter(col(idCol).isin(queryIds: _*)), idCol, vecCol).collect()
    // per-query probe sets against the coarse book (driver-side: k×|queries|)
    val coarseBook = coarse.codebook
    val probeSets: Map[Long, Set[Int]] = qVecs.map { case (qid, qv) =>
      qid -> coarseBook.probes(Ivf.quantize(qv), nprobe).toSet
    }.toMap
    val tables = adcTables(qVecs, model)
    val bc = spark.sparkContext.broadcast(
      (model.subDim, model.codebooks, coarseBook, tables, probeSets))
    val scored = Ivf.vectors(emb, idCol, vecCol)
      .mapPartitions { iter =>
        val (subDim, books, cents, ts, probes) = bc.value
        iter.flatMap { case (id, v) =>
          val q = Ivf.quantize(v)
          val cluster = cents.nearest(q)
          // codes only matter if some query probes this row's cluster
          lazy val codes = books.indices.map { s =>
            books(s).nearest(q.slice(s * subDim, (s + 1) * subDim))
          }
          ts.iterator.collect {
            case (qid, t) if qid != id && probes(qid).contains(cluster) =>
              var score = 0.0
              var s = 0
              while (s < codes.length) { score += t(s)(codes(s)); s += 1 }
              (qid, id, score)
          }
        }
      }.toDF("query_id", "neighbor_id", "score")
    rankTopK(scored, k)
  }

  /** ADC top-k: each query builds its m×k dot-product table against the
    * integer-centroid codebooks (floats derive from exact ints through
    * fixed-order folds), candidates score as Σ_m table[m][code_m] in
    * ascending-m order, rank by (score DESC, neighbor_id). */
  def searchAdc(emb: DataFrame, idCol: String, vecCol: String, model: Model,
                queryIds: Seq[Long], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val queries = Ivf.vectors(emb.filter(col(idCol).isin(queryIds: _*)), idCol, vecCol).collect()
    val bc = spark.sparkContext.broadcast(adcTables(queries, model))
    val scored = encode(emb, idCol, vecCol, model).as[(Long, Seq[Int])]
      .mapPartitions { iter =>
        val ts = bc.value
        iter.flatMap { case (id, codes) =>
          ts.iterator.collect { case (qid, t) if qid != id =>
            var score = 0.0
            var s = 0
            while (s < codes.length) { score += t(s)(codes(s)); s += 1 }
            (qid, id, score)
          }
        }
      }.toDF("query_id", "neighbor_id", "score")
    rankTopK(scored, k)
  }

  /** Per-query ADC lookup tables: table(q)(s)(cid) = dot(q_s,
    * centroid_{s,cid}), the fixed-order fold over the ORIGINAL float
    * query components the oracle replays. */
  private def adcTables(queries: Array[(Long, Array[Double])],
                        model: Model): Array[(Long, Array[Array[Double]])] = {
    queries.map { case (qid, qv) =>
      val t = model.books.indices.map { s =>
        val ks = model.books(s).keys.max + 1
        val row = Array.fill(ks)(0.0)
        for ((cid, (cs, cn)) <- model.books(s)) {
          var dot = 0.0
          var i = 0
          while (i < model.subDim) {
            dot += (cs(i).toDouble / cn) * qv(s * model.subDim + i)
            i += 1
          }
          row(cid) = dot
        }
        row
      }.toArray
      (qid, t)
    }
  }

  /** (score DESC, neighbor_id) dense top-k per query from scored pairs. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }
}
