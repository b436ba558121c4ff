package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.vector.VectorOps

/** Approximate-nearest-neighbor search over an embedding column (north-star
  * extension). Two tiers:
  *
  *  - [[VectorOps.knnCosine]] — exact brute force, broadcast query side;
  *    the 100%-recall baseline.
  *  - [[annCosineLsh]] — random-hyperplane (cosine) LSH: each vector gets a
  *    `numBits`-bit signature per table; candidates share a signature bucket
  *    in any table, then exact cosine re-ranks the candidates. The corpus is
  *    scanned once to build buckets (narrow), the join shuffles only bucket
  *    collisions — the scale path when the corpus no longer fits a
  *    broadcastable window sort.
  *
  * Hyperplanes are generated deterministically (seeded) on the driver — a
  * few KB broadcast with the plan, analogous to an IVF codebook.
  */
object Similarity {

  /** Deterministic ±1 hyperplanes (sign-random-projection LSH): component i
    * of plane (table, bit) is +1 iff the high bit of md5("seed|t|b|i") is
    * set. ±1 components make the projection a sum of exact negations — no
    * irrational weights — so the DuckDB oracle replays the bucket
    * assignment bit-for-bit, and sign-projection retains the cosine-LSH
    * collision property (Charikar 2002). */
  def hyperplanes(dim: Int, numTables: Int, numBits: Int, seed: Long = 42L): Array[Array[Array[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numTables, numBits) { (t, b) =>
      Array.tabulate(dim) { i =>
        val d = md.digest(s"$seed|$t|$b|$i".getBytes("UTF-8"))
        if ((d(0) & 0x80) != 0) 1.0 else -1.0
      }
    }
  }

  /** Signature buckets for every vector: (id, table, bucket). */
  def signatures(emb: DataFrame, idCol: String, vecCol: String,
                 dim: Int, numTables: Int = 4, numBits: Int = 12, seed: Long = 42L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val planes = hyperplanes(dim, numTables, numBits, seed)
    val bc = spark.sparkContext.broadcast(planes)
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<double>")).as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        val p = bc.value
        (0 until p.length).map { t =>
          var bucket = 0L
          var b = 0
          while (b < p(t).length) {
            var dotv = 0.0
            val plane = p(t)(b)
            var i = 0
            val n = math.min(plane.length, v.length)
            while (i < n) { dotv += plane(i) * v(i); i += 1 }
            if (dotv >= 0) bucket |= (1L << b)
            b += 1
          }
          (id, t, bucket)
        }
      }.toDF(idCol, "table", "bucket")
  }

  /** Corpus-wide LSH candidate pairs: every (id_a < id_b) sharing a
    * signature bucket in ANY table — the blocking stage for embedding
    * near-dedup ([[graft.ops.Dedup.embeddingNearDup]] verifies these with
    * exact cosine). One signature pass over the corpus (pinned so both
    * join sides read it), then an equi-join on (table, bucket): bucket
    * collisions shuffle, nothing else — no all-pairs anywhere, and hot
    * buckets are AQE-skew-splittable. The equi-join shape (not the
    * groupBy-bucket + in-bucket pair expansion of
    * [[graft.ops.Dedup.minhashCandidates]]) is deliberate, following the
    * [[graft.ops.Dedup.simhashCandidates]] precedent: few-bit LSH buckets
    * are LOW-entropy keys (2^numBits values per table) whose buckets run
    * large, where streaming the join in codegen beats materializing
    * m^2-element pair arrays per bucket; minhash band keys are the
    * opposite (high-entropy, tiny buckets). The bucket relation is
    * exchanged once and reused by both sides (ReuseExchange). Recall
    * follows the sign-projection
    * collision law (1 - θ/π)^numBits per table: size numBits for the
    * similarity band that must be recalled (fewer bits → wider net). */
  def bucketCandidatePairs(emb: DataFrame, idCol: String, vecCol: String,
                           dim: Int, numTables: Int = 4, numBits: Int = 12,
                           seed: Long = 42L,
                           maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket): DataFrame = {
    val sigs = signatures(emb, idCol, vecCol, dim, numTables, numBits, seed)
      .localCheckpoint(false)
    // `maxBucket` is the runtime backstop against degenerate buckets (a
    // cluster of near-identical vectors lands in one bucket no matter how
    // many bits): buckets over the cap are dropped before the join. The
    // window count needs the same (table, bucket) hash partitioning as the
    // join, so the cap adds no extra shuffle. Recall tradeoff mirrors
    // [[graft.ops.Dedup.nearDuplicates]]. Default [[graft.ops.Dedup.DefaultMaxBucket]];
    // pass Int.MaxValue for the uncapped oracle shape.
    val capped =
      if (maxBucket == Int.MaxValue) sigs
      else sigs.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("table"), col("bucket"))))
        .filter(col("_bn") <= maxBucket).drop("_bn")
    val a = capped.select(col(idCol).as("id_a"), col("table"), col("bucket"))
    val b = capped.select(col(idCol).as("id_b"), col("table"), col("bucket"))
    a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Signature width that keeps EXPECTED bucket size near
    * `targetBucketSize` for a corpus of `corpusSize` vectors:
    * numBits ≈ log2(n / target). Within-bucket candidate-pair counts grow
    * quadratically in bucket size, so a FIXED width that was right at 10^6
    * vectors is 1000× too coarse at 10^9 — the width must grow with the
    * corpus (~+10 bits per 1000×). The estimate assumes roughly uniform
    * occupancy of the 2^numBits buckets; real embedding spaces cluster, so
    * pair `maxBucket` with this for the skewed tail. Clamped to [4, 48]
    * (signatures are Long; recall per table falls as (1-θ/π)^numBits, so
    * widths past ~48 bits recall almost nothing anyway — add tables
    * instead). */
  def numBitsFor(corpusSize: Long, targetBucketSize: Long = 1000L): Int = {
    require(corpusSize > 0 && targetBucketSize > 0,
      s"sizes must be positive: corpus=$corpusSize target=$targetBucketSize")
    val ratio = math.max(1.0, corpusSize.toDouble / targetBucketSize.toDouble)
    math.min(48, math.max(4, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** [[bucketCandidatePairs]] with the signature width DERIVED from the
    * corpus via [[numBitsFor]] — the default 100 TB-safe path: one
    * `count()` (a cheap metadata-ish scan next to the signature pass)
    * sizes the buckets so candidate volume stays ~linear as the corpus
    * grows, instead of a fixed width silently going quadratic at 1000×.
    * `maxBucket` still backstops the skewed tail (clustered embedding
    * spaces overfill some buckets no matter the width). Pass an explicit
    * `numBits` to [[bucketCandidatePairs]] only when replaying a pinned
    * shape (e.g. an oracle) or tuning recall by hand. */
  def bucketCandidatePairsAuto(emb: DataFrame, idCol: String, vecCol: String,
                               dim: Int, numTables: Int = 4,
                               targetBucketSize: Long = 1000L,
                               seed: Long = 42L,
                               maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket): DataFrame =
    // max(1, n): an empty corpus (a legal empty increment) sizes to the
    // minimum width and yields zero pairs instead of tripping numBitsFor's
    // positivity check
    bucketCandidatePairs(emb, idCol, vecCol, dim, numTables,
      numBitsFor(math.max(1L, emb.count()), targetBucketSize), seed, maxBucket)

  /** ANN top-k: LSH candidate generation + exact cosine re-rank. Queries are
    * a (small) subset of the corpus identified by id. */
  def annCosineLsh(emb: DataFrame, idCol: String, vecCol: String,
                   queryIds: Seq[Long], k: Int, dim: Int,
                   numTables: Int = 4, numBits: Int = 12): DataFrame = {
    // cache: the signature flatMap feeds both the probe filter and the
    // candidate join — uncached it would run the corpus-wide hashing twice
    val sigs = signatures(emb, idCol, vecCol, dim, numTables, numBits).cache()
    val qSigs = Ivf.withIds(sigs, idCol, queryIds)
      .select(col(idCol).as("query_id"), col("table"), col("bucket"))
    val cands = sigs.join(broadcast(qSigs), Seq("table", "bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id")).distinct()
    val vecs = emb.select(col(idCol), col(vecCol))
    val qVecs = Ivf.withIds(emb, idCol, queryIds)
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val rescored = cands
      .join(vecs.withColumnRenamed(idCol, "neighbor_id"), "neighbor_id")
      .join(broadcast(qVecs), "query_id")
      .withColumn("sim", VectorOps.cosine(col(vecCol), col("_qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }
}
