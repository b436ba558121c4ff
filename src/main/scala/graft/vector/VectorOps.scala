package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-table operators (SURVEY.md §2.7 V2-V3, §2.2 K7-K8).
  *
  * The reference's Chroma store is write-only and broken against current
  * chromadb (SURVEY.md §0); it is replaced by a Parquet-backed vector table
  * plus explicit similarity operators. Similarity math is pure
  * `functions._` (`zip_with` + `aggregate`) so it stays inside whole-stage
  * codegen; floats are widened to double element-wise with a left-to-right
  * fold, which both Spark and the DuckDB oracle evaluate identically.
  */
object VectorOps {

  /** Dot product of two array<float|double> columns, computed in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — the reference collection's `hnsw:space=cosine`
    * (vectorstores/chroma_store.py:13,28-31). Uses the native codegen
    * expression ([[org.apache.spark.sql.graft.CosineSimilarity]]): one fused
    * loop, no intermediate zip_with arrays, bit-identical to
    * [[cosineBuiltins]]. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.CosineSimilarity(a, b)

  /** The pure-builtins formulation (kept as the reference semantics the
    * native expression must match, and for engines without the extension). */
  def cosineBuiltins(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** V2: brute-force top-k cosine neighbors of each query vector.
    *
    * The query side is broadcast (it is small by construction — a handful of
    * probe vectors), so the crossJoin is a BroadcastNestedLoopJoin: the big
    * corpus streams once, partition-parallel, no shuffle of the corpus. The
    * per-query top-k is a window over `sim desc` — at 100 TB swap the window
    * for a per-partition heap (mapPartitions) + global merge, or the
    * LSH-bucketed variant in [[graft.ops.Similarity]].
    */
  def knnCosine(corpus: DataFrame, corpusId: String, corpusVec: String,
                queries: DataFrame, queryId: String, queryVec: String,
                k: Int): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", cosine(col(corpusVec), col(queryVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("sim").desc, col(corpusId))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"), col("rank"))
  }

  /** Matryoshka prefix-dimension search (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): brute-force top-k over only the FIRST
    * `dims` coordinates of each vector. MRL-trained embeddings
    * front-load information, so a prefix slice is a cheap coarse space —
    * at 100 TB the prefix scan reads dims/D of the vector bytes (a
    * column-pruned narrow scan if prefixes are stored as their own
    * column) and feeds [[knnCosineRerank]]'s full-dimension rescore of a
    * constant-size shortlist, the standard MRL funnel. Same
    * broadcast-queries / window shape as [[knnCosine]]. */
  def knnCosinePrefix(corpus: DataFrame, corpusId: String, corpusVec: String,
                      queries: DataFrame, queryId: String, queryVec: String,
                      k: Int, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val joined = corpus.crossJoin(broadcast(queries))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", cosine(slice(col(corpusVec), 1, dims),
        slice(col(queryVec), 1, dims)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("sim").desc, col(corpusId))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"), col("rank"))
  }

  /** The MRL two-stage funnel: prefix-dimension shortlist of `shortlist`
    * candidates per query, then an exact full-dimension rescore ranks the
    * final top-`k`. The rescore joins vectors back by id — |Q|·shortlist
    * rows, constant per query — so the full-width vectors are read for
    * the shortlist only, never the corpus. */
  def knnCosineRerank(corpus: DataFrame, corpusId: String, corpusVec: String,
                      queries: DataFrame, queryId: String, queryVec: String,
                      k: Int, dims: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val short = knnCosinePrefix(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, shortlist, dims)
    val full = short
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("_qv"))), "query_id")
      .withColumn("sim", cosine(col("_cv"), col("_qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    full.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** V3/K7: idempotent keyed upsert — deterministic ids make reruns converge
    * (pipelines/ingest_and_embed.py:99-113). Updates win over existing rows;
    * within a source, later `priority` wins. Implemented as union +
    * row_number keep-first, i.e. one hash shuffle on the key — the same
    * MERGE shape a Delta/Iceberg sink would run at scale. */
  def upsert(existing: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val tagged = existing.withColumn("_src", lit(0)).unionByName(updates.withColumn("_src", lit(1)))
    // content-hash tie-break: duplicate keys WITHIN a side resolve to the
    // same row on every rerun (partition-order ties would not)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_src").desc, xxhash64(struct(tagged.columns.map(col).toIndexedSeq: _*)))
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
  }
}
