package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar int8 embedding quantization (the Faiss `SQ8` storage tier) — at
  * 100 TB the representation that cuts a float32 vector store 4× with
  * near-lossless cosine: each vector is stored as a per-vector scale plus
  * one signed byte per dimension. Map-only and shuffle-free: every
  * expression is a pure SQL array transform, so the pass rides whole-stage
  * codegen and composes with any scan.
  *
  * Parity contract (the repo's established pattern, cf. [[Ivf.quantize]]):
  * all arithmetic happens in the exact-integer 2^-20 domain —
  * `xq = floor(x · 2^20)`, per-vector scale `amax_q = max |xq|`, code =
  * `sign(xq) · round(|xq|·127 / amax_q)` with the round expressed as
  * integer `(2·|xq|·127 + amax_q) div (2·amax_q)` — so the DuckDB oracle
  * replays every code bit-for-bit; no float division crosses the engine
  * boundary. A zero vector (amax_q = 0) quantizes to all-zero codes.
  */
object Quantize {

  private val Q = 1048576L // 2^20, the shared quantization unit

  /** (id, amax_q, codes): per-vector symmetric scale (in 2^-20 units) and
    * int8-range codes (BIGINT-typed longs in [-127, 127]; the storage
    * layer narrows to TINYINT at write time).
    *
    * Domain: inputs are clamped to ±2^34 before quantization so every
    * downstream integer (`xq` ≤ 2^54, `2·|xq|·127` < 2^62) stays in Long
    * range IDENTICALLY in both engines — without the clamp, a pathological
    * float like 1e15f would make Spark's non-ANSI cast saturate while
    * DuckDB's cast raises, an engine divergence. Real embeddings live in
    * [-1000, 1000]; the clamp is invisible there. */
  def int8Codes(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      expr(s"transform($vecCol, x -> CAST(floor(" +
        s"greatest(least(CAST(x AS DOUBLE), 17179869184.0D), -17179869184.0D) * $Q.0) AS BIGINT))").as("_xq"))
      .withColumn("amax_q", expr("aggregate(_xq, 0L, (a, v) -> greatest(a, abs(v)))"))
      .withColumn("codes", expr(
        """transform(_xq, v -> CASE WHEN amax_q = 0 THEN 0L
          |  ELSE CAST(sign(v) AS BIGINT) * ((2 * abs(v) * 127 + amax_q) div (2 * amax_q)) END)""".stripMargin))
      .drop("_xq")

  /** The relational/oracle surface: index-free integer summaries of each
    * vector's codes (sum, sum of squares, min, max, non-zeros). Granular
    * enough that any codegen/rounding regression flips a row hash, while
    * staying engine-portable (no list-index lambdas). */
  def int8Stats(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    int8Codes(df, idCol, vecCol).select(
      col(idCol),
      col("amax_q"),
      expr("aggregate(codes, 0L, (a, v) -> a + v)").as("code_sum"),
      expr("aggregate(codes, 0L, (a, v) -> a + v * v)").as("code_sumsq"),
      expr("aggregate(codes, 127L, (a, v) -> least(a, v))").as("code_min"),
      expr("aggregate(codes, -127L, (a, v) -> greatest(a, v))").as("code_max"),
      expr("aggregate(codes, 0L, (a, v) -> a + CASE WHEN v = 0 THEN 0L ELSE 1L END)").as("nnz"))

  /** Dequantized vector as DOUBLE array — `code · amax_q / (127 · 2^20)`
    * — for downstream cosine/rerank over the compressed store. */
  def dequantCol(codesCol: Column, amaxCol: Column): Column =
    transform(codesCol, c => c.cast("double") * amaxCol.cast("double") / lit(127.0 * Q))

  /** 1-bit binary quantization — the storage tier BELOW [[int8Codes]]
    * (32× compression vs float32): each dimension contributes only its
    * SIGN, packed little-endian into `ceil(dim/64)` BIGINT words
    * (component ≥ 0 sets the bit). Hamming distance between codes tracks
    * cosine angle (Charikar 2002's sign-projection bound with the
    * identity planes), so the binary store supports a cheap integer
    * prefilter that a float rescore then corrects — the standard
    * binary-quantization retrieval funnel. Map-only pure SQL array folds
    * (whole-stage codegen, no UDF); bit arithmetic on longs is exact in
    * every engine, so codes replay bit-for-bit in the oracle. */
  def binaryCodes(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), expr(
      s"""transform(sequence(0, (size($vecCol) - 1) div 64), w ->
         |  aggregate(sequence(0, least(63, size($vecCol) - 1 - CAST(w AS INT) * 64)), 0L,
         |    (acc, b) -> CASE WHEN CAST(element_at($vecCol, CAST(w * 64 + b + 1 AS INT)) AS DOUBLE) >= 0.0D
         |      THEN acc + shiftleft(1L, CAST(b AS INT)) ELSE acc END))""".stripMargin).as("code"))

  /** Hamming distance between two packed code columns: Σ popcount(xor)
    * over the word arrays — a handful of integer ops per vector pair
    * (the whole point of the binary tier: the prefilter scans codes, not
    * floats, at 1/32 the bytes). */
  def hammingCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => call_function("bit_count", x.bitwiseXOR(y))),
      lit(0L), (acc, v) => acc + v.cast("long"))

  /** Binary-quantized top-k search, the two-stage funnel: Hamming
    * shortlist over the packed codes (broadcast query codes — the corpus
    * streams once reading 1/32 the vector bytes; with codes stored as
    * their own column this is a narrow column-pruned scan), then an
    * exact-cosine rescore of the |Q|·shortlist survivors ranks the final
    * top-k — identical discipline to [[graft.vector.VectorOps.knnCosineRerank]]'s
    * MRL funnel, with Hamming instead of prefix-cosine as the coarse
    * space. Returns (query_id, neighbor_id, rank, ham): rank from the
    * exact rescore, ham the integer coarse distance (so every code bit is
    * hash-covered). */
  def binaryHammingRerank(corpus: DataFrame, corpusId: String, corpusVec: String,
                          queries: DataFrame, queryId: String, queryVec: String,
                          k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.broadcast
    val codes = binaryCodes(corpus, corpusId, corpusVec)
    val qCodes = binaryCodes(queries, queryId, queryVec).withColumnRenamed("code", "_qc")
    val short = codes.crossJoin(broadcast(qCodes))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("ham", expr(
        "aggregate(zip_with(code, _qc, (x, y) -> bit_count(x ^ y)), 0L, (acc, v) -> acc + CAST(v AS BIGINT))"))
      .withColumn("_hrank", row_number().over(
        Window.partitionBy(col(queryId)).orderBy(col("ham").asc, col(corpusId))))
      .filter(col("_hrank") <= shortlist)
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"), col("ham"))
    val full = short
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv")), "neighbor_id")
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"))), "query_id")
      .withColumn("sim", graft.vector.VectorOps.cosine(col("_cv"), col("_qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    full.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("ham"))
  }

  /** Seeded Johnson–Lindenstrauss sign projection — the
    * dimension-reduction storage/search tier beside [[int8Codes]] (fewer
    * dims) and [[binaryCodes]] (fewer bits): each vector maps to
    * `outDims` exact integers, out[j] = Σᵢ vqᵢ·S(j,i) with
    * vq = floor(x·2^20) and S the ±1 matrix from
    * [[Similarity.hyperplanes]] (high-bit-of-md5 convention, Achlioptas
    * 2003 ±1 JL — so the oracle replays every coordinate bit-for-bit
    * and cross-vector dot products are preserved in expectation at
    * outDims/inDims of the cost). Map-only: the sign matrix is a plan
    * literal (outDims·inDims entries, KBs), the projection one
    * zip_with/aggregate chain inside codegen; no shuffle, no UDF.
    *
    * Contract: every vector has exactly `inDims` components (zip_with
    * null-pads a short vector and the null poisons the sum — caller
    * guarantees the store is fixed-width, as the parquet schema does). */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                inDims: Int = 64, outDims: Int = 16, seed: Long = 42L): DataFrame = {
    require(inDims > 0 && outDims > 0, s"dims must be positive: $inDims -> $outDims")
    val signs: Seq[Seq[Long]] =
      Similarity.hyperplanes(inDims, 1, outDims, seed)(0).map(_.map(_.toLong).toSeq).toSeq
    df.select(col(idCol), col(vecCol).as("_v"))
      .withColumn("_vq",
        expr("transform(_v, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"))
      .withColumn("_S", typedLit(signs))
      .withColumn("jl", expr(
        s"""transform(sequence(0, ${outDims - 1}),
           |  j -> aggregate(zip_with(_vq, element_at(_S, j + 1), (x, s) -> x * s),
           |                 0L, (a, x) -> a + x))""".stripMargin))
      .select(col(idCol), col("jl"))
  }

  /** Search over the JL-projected store — [[binaryHammingRerank]]'s
    * dimension-cut sibling: shortlist by exact-integer dot product in
    * the `outDims`-dim projected space (±1 JL preserves inner products
    * in expectation, so the 16-dim dot ranks like the 64-dim one at 1/4
    * the multiply-adds and vector bytes), then exact-cosine rescore of
    * the constant-size shortlist in the original space. The projected
    * query codes are broadcast; the corpus pass is one scan over the
    * (precomputable) projection; only the shortlist relation shuffles.
    * `jl_dot` rides out so every projected coordinate is hash-covered. */
  def jlShortlistRerank(corpus: DataFrame, corpusId: String, corpusVec: String,
                        queries: DataFrame, queryId: String, queryVec: String,
                        k: Int, shortlist: Int,
                        inDims: Int = 64, outDims: Int = 16, seed: Long = 42L): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    import org.apache.spark.sql.expressions.Window
    val codes = jlProject(corpus, corpusId, corpusVec, inDims, outDims, seed)
    val qCodes = jlProject(queries, queryId, queryVec, inDims, outDims, seed)
      .withColumnRenamed("jl", "_qjl")
    val short = codes.crossJoin(broadcast(qCodes))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("jl_dot",
        expr("aggregate(zip_with(jl, _qjl, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col(queryId)).orderBy(col("jl_dot").desc, col(corpusId))))
      .filter(col("_r") <= shortlist)
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"), col("jl_dot"))
    val full = short
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv")), "neighbor_id")
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"))), "query_id")
      .withColumn("sim", graft.vector.VectorOps.cosine(col("_cv"), col("_qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    full.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("jl_dot"))
  }

  /** Pure-Scala twin of [[int8Codes]]'s kernel for property tests:
    * `int8Codes` and this agree on every input, including NaN — SQL
    * least/greatest order NaN above every number in both engines, so the
    * SQL kernel clamps NaN to +2^34 and saturates its code at 127; the
    * twin must clamp explicitly (math.min/max would propagate the NaN and
    * floor it to a 0 code instead). */
  def int8CodesLocal(v: Seq[Float]): (Long, Seq[Long]) = {
    val xq = v.map { x =>
      val d = x.toDouble
      val clamped =
        if (d.isNaN) 17179869184.0
        else math.max(math.min(d, 17179869184.0), -17179869184.0)
      math.floor(clamped * Q).toLong
    }
    val amax = xq.foldLeft(0L)((a, q) => math.max(a, math.abs(q)))
    val codes =
      if (amax == 0L) xq.map(_ => 0L)
      else xq.map(q => math.signum(q) * ((2 * math.abs(q) * 127 + amax) / (2 * amax)))
    (amax, codes)
  }
}
