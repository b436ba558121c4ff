package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the step that turns
  * pairwise near-duplicate CANDIDATES (minhash/simhash LSH output) into
  * dedup CLUSTERS, from which one canonical representative per cluster is
  * kept. Without it a corpus with duplicate chains (A~B, B~C) keeps two of
  * the three copies.
  *
  * Algorithm: distributed min-label propagation with POINTER JUMPING.
  * Every node starts labeled min(u ∪ Γ(u)); each round a node takes the
  * min over (its label, labels heard over graph edges, and its label's
  * label). The jump step contracts label chains by doubling, so rounds are
  * O(log diameter) — a shared-bucket LSH graph can hide paths a dozen hops
  * long, and every saved round is a saved cluster-wide pass.
  *
  * The ITERATION runs on co-partitioned RDDs, not DataFrames — the one
  * place in this library where the RDD API is the right tool: Catalyst
  * cannot express iteration (each round would re-plan, re-shuffle to the
  * session-wide `spark.sql.shuffle.partitions`, and pay whole-stage
  * codegen per round on a frame that is usually orders of magnitude
  * smaller than the corpus). Here the partitioner is sized to the GRAPH
  * (~2M edges/partition), the neighbor list is hash-partitioned once and
  * every per-round join against it is narrow, reduceByKey map-side
  * combines, and `localCheckpoint` truncates the growing lineage. This is
  * exactly the GraphX/GraphFrames execution shape, without the dependency.
  */
object Components {

  /** SYMMETRIZED edge count (2× the undirected pair count) at or below
    * which the component computation runs as a single-pass driver
    * union-find instead of the iterative distributed propagation. The
    * candidate-pair graph of a dedup pipeline is orders of magnitude
    * smaller than the corpus (it holds only LSH collisions), so even at
    * 100 TB corpus scale it routinely fits. Sizing is JVM-real, not raw
    * longs: edges collect as PRIMITIVE long arrays (one Array[Long] per
    * partition, 16 B per symmetrized edge) and union-find runs on a
    * primitive open-addressing map (two long arrays, ~32 B per node at
    * 50% load) — 16M symmetrized entries ≈ 256 MB of edge arrays plus
    * ≤512 MB of map plus ≤256 MB of packed (node,root) output chunks
    * (also primitive; emitted via parallelize, never a boxed pair or a
    * LocalRelation row per node), safe on the multi-GB driver a
    * 1000-executor job runs with, while union-find resolves in one
    * task-free pass versus
    * O(log diameter) shuffle rounds. (The r15 frontier sweep motivated
    * the primitive re-plumbing and the 4M→16M raise: curation_full's
    * candidate graph crossed 4M between sf10 and sf30 and the distributed
    * path right past the crossover cost 8× the union-find it replaced —
    * the boxed-Tuple2 collect this threshold was originally sized for
    * wasted ~6× the memory per edge.) Same broadcast-vs-shuffle reasoning
    * as a join autoBroadcastJoinThreshold, applied to iteration. */
  val LocalEdgeThreshold: Long = 16L << 20

  /** Session-conf override for [[LocalEdgeThreshold]] — lets a deployment
    * retune the broadcast-vs-shuffle crossover to its driver heap without
    * a code change (the autoBroadcastJoinThreshold idiom). An explicit
    * `localEdgeThreshold` argument still wins over the conf. */
  val LocalEdgeThresholdConf = "spark.graft.components.localEdgeThreshold"

  /** The effective local-path crossover, hard-ceilinged regardless of how
    * large an explicit argument or [[LocalEdgeThresholdConf]] override
    * asks for: the union-find table is clamped at 2^30 slots, so
    * symmetrized entries must stay ≤ 2^29 to keep probe load ≤ 50% (past
    * 2^30 distinct nodes a full table would make `idx()` spin forever —
    * a driver HANG, not an OOM, so it must be impossible by
    * construction, not by configuration discipline). An oversized
    * override therefore falls through to the distributed pointer-jumping
    * path instead of hanging the driver (spec: ComponentsSpec). */
  private[graft] def resolveEdgeThreshold(spark: SparkSession,
                                        localEdgeThreshold: Long): Long =
    math.min(1L << 29,
      if (localEdgeThreshold >= 0L) localEdgeThreshold
      else spark.conf.getOption(LocalEdgeThresholdConf).map(_.toLong)
        .getOrElse(LocalEdgeThreshold))

  /** Returns one row per node appearing in `edges`: (node, cluster_id)
    * where cluster_id = min node id in the component. Null endpoints and
    * self-loops are dropped (a null never names a document); duplicate
    * edges are tolerated (min is duplicate-insensitive).
    * `localEdgeThreshold` < 0 (the default) resolves through
    * [[LocalEdgeThresholdConf]], falling back to [[LocalEdgeThreshold]]. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50,
                          localEdgeThreshold: Long = -1L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val edgeThreshold = resolveEdgeThreshold(spark, localEdgeThreshold)
    val ePairs: RDD[(Long, Long)] = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .as[(Long, Long)].rdd
    val sym = ePairs.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    // partitioner sized to the graph: the candidate graph is usually far
    // smaller than the corpus, so inheriting the corpus-sized session
    // shuffle width would pay ~100 near-empty tasks per round
    val nEdges = sym.count()
    if (nEdges <= edgeThreshold) {
      // collect the PERSISTED symmetrized RDD (cache hit from the count
      // above) — collecting ePairs would re-run the whole candidate-pair
      // derivation; union-find tolerates the mirrored duplicates. Edges
      // travel as one primitive Array[Long] per partition ([a0,b0,a1,b1,…])
      // so the driver never holds a boxed Tuple2 per edge.
      val packed = sym.mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { case (a, b) => buf += a; buf += b }
        Iterator(buf.result())
      }.collect()
      sym.unpersist(blocking = false)
      val resolved = localUnionFind(packed)
      // Emit via parallelize over the packed primitive chunks — NOT
      // createDataset(Seq[(Long, Long)]): a boxed pair per node plus the
      // LocalRelation's driver-side row encoding would add ~1 GB of
      // transient heap at the 16M threshold that the sizing comment on
      // [[LocalEdgeThreshold]] doesn't budget. Each chunk becomes one
      // partition's payload; rows are built executor-side.
      val rdd = spark.sparkContext
        .parallelize(resolved.toIndexedSeq, math.max(1, resolved.length))
        .flatMap(arr => Iterator.tabulate(arr.length / 2)(j => (arr(2 * j), arr(2 * j + 1))))
      return rdd.toDF("node", "cluster_id")
    }
    // partition count: ~2M edges/partition for locality, but FLOORED at
    // the cluster's parallelism — a graph just past the driver-UF
    // crossover (e.g. 7M symmetrized edges) would otherwise run every
    // propagation round on 3 tasks and leave the other cores idle (the
    // r15 curation_full sf30 finding: the crossover from driver UF to a
    // 3-task LPA read 13s → 177s, a 10x cliff at the threshold). On a
    // real cluster defaultParallelism is the executor-core total, so the
    // floor scales with the deployment exactly like the 2M/partition
    // ceiling scales with the graph.
    val part = new HashPartitioner(math.max(
      spark.sparkContext.defaultParallelism, (nEdges >> 21).toInt))
    val nbr = sym.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    nbr.foreachPartition(_ => ()) // materialize before dropping the unpartitioned copy
    sym.unpersist(blocking = false)
    try {
      // init = first propagation round fused: label(u) = min(u ∪ Γ(u))
      var labels = nbr.reduceByKey(part, math.min(_: Long, _: Long))
        .mapPartitions(_.map { case (u, m) => (u, math.min(u, m)) },
          preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      var converged = false
      var rounds = 0 // propagation-check rounds actually run (init excluded)
      while (!converged && rounds < maxIter) {
        val prop = nbr.join(labels) // narrow: both sides on `part`
          .map { case (_, (dst, lbl)) => (dst, lbl) }
        val jump = labels.map { case (u, l) => (l, u) }
          .join(labels) // (l, (u, lbl(l)))
          .map { case (_, (u, l2)) => (u, l2) }
        val next = labels.union(prop).union(jump)
          .reduceByKey(part, math.min(_: Long, _: Long))
          .localCheckpoint() // RDD loop, so not Pin.truncate: cuts per-round lineage
        // exact convergence witness: count of moved labels via a narrow
        // self-partitioned join (no float sums, no overflow)
        val changed = next.join(labels)
          .filter { case (_, (a, b)) => a != b }.count()
        labels.unpersist(blocking = false)
        labels = next
        converged = changed == 0L
        rounds += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds " +
        "(raise maxIter — with pointer jumping this needs a graph of diameter ~2^maxIter)")
      labels.toDF("node", "cluster_id")
    } finally nbr.unpersist(blocking = false)
  }

  /** Driver-side union-find (path halving + union by min label) over
    * partition-packed primitive edge arrays ([a0,b0,a1,b1,…] per
    * partition): one pass over the raw directed pairs, then every node
    * resolves to the min node id of its component — identical output
    * contract to the distributed path (test-asserted on the same graphs).
    * The parent map is a primitive open-addressing table (two long
    * arrays, linear probing, ≤50% load) — ~32 B per node instead of a
    * boxed HashMap's ~60+, which is what lets [[LocalEdgeThreshold]] sit
    * at 16M edges. Node id Long.MinValue is reserved as the empty slot
    * marker (no doc id is MinValue; require guards it). Output is packed
    * the same way the input arrived — [node0,root0,node1,root1,…] chunks
    * of primitive longs (16 B per node), never a boxed pair per node. */
  private def localUnionFind(packed: Array[Array[Long]]): Array[Array[Long]] = {
    val nEntries = packed.iterator.map(_.length.toLong).sum / 2
    // capacity: next power of two ≥ 2×entries. Distinct nodes ≤ entries
    // (the symmetrized list names each endpoint once per mirrored edge,
    // so even an all-degree-1 graph has nodes = entries), so load stays
    // ≤ 50%; at the 16M threshold that is 32M slots = 512 MB of arrays.
    var cap = java.lang.Long.highestOneBit(math.max(16L, nEntries * 2L - 1L)) << 1
    if (cap > (1L << 30)) cap = 1L << 30 // 1G slots = 16 GB; unreachable under the 16M threshold
    val n = cap.toInt
    val Empty = java.lang.Long.MIN_VALUE
    val keys = Array.fill(n)(Empty)
    val par = new Array[Long](n)
    val mask = n - 1
    def slot(k: Long): Int = {
      // 64-bit mix (splitmix64 finalizer) then mask
      var z = k + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) & mask).toInt
    }
    def idx(k: Long): Int = { // slot of k, inserting (k -> k) if absent
      var i = slot(k)
      while (keys(i) != k) {
        if (keys(i) == Empty) { keys(i) = k; par(i) = k; return i }
        i = (i + 1) & mask
      }
      i
    }
    def find(x0: Long): Long = {
      var x = x0
      var xi = idx(x)
      var p = par(xi)
      while (p != x) { // path halving
        val pi = idx(p)
        val gp = par(pi)
        par(xi) = gp
        x = gp
        xi = idx(x)
        p = par(xi)
      }
      x
    }
    for (part <- packed) {
      var j = 0
      while (j < part.length) {
        val a = part(j); val b = part(j + 1)
        require(a != Empty && b != Empty,
          "node id Long.MinValue is reserved by the union-find slot marker")
        val ra = find(a); val rb = find(b)
        if (ra != rb) { // union by min: the smaller id stays the root
          if (ra < rb) par(idx(rb)) = ra else par(idx(ra)) = rb
        }
        j += 2
      }
    }
    // chunked so the caller's parallelize hands each task one 16 MB
    // primitive array rather than shipping one giant array everywhere
    val ChunkPairs = 1 << 20
    val chunks = Array.newBuilder[Array[Long]]
    var buf = new scala.collection.mutable.ArrayBuilder.ofLong
    var inChunk = 0
    var i = 0
    while (i < n) {
      if (keys(i) != Empty) {
        buf += keys(i); buf += find(keys(i))
        inChunk += 1
        if (inChunk == ChunkPairs) {
          chunks += buf.result(); buf = new scala.collection.mutable.ArrayBuilder.ofLong
          inChunk = 0
        }
      }
      i += 1
    }
    if (inChunk > 0) chunks += buf.result()
    chunks.result()
  }

  /** Full corpus clustering: every document gets a cluster_id (its
    * component's min doc id; singletons cluster as themselves), the
    * cluster size, and an is_canonical flag (1 for the kept representative
    * — exactly one per cluster). `keep = docs.filter(col("is_canonical") === 1)`
    * is the deduplicated corpus. */
  def clusterDocuments(docs: DataFrame, idCol: String, pairs: DataFrame,
                       srcCol: String, dstCol: String): DataFrame = {
    val cc = connectedComponents(pairs, srcCol, dstCol)
    val labeled = docs.select(col(idCol))
      .join(cc, docs(idCol) === cc("node"), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        when(col(idCol) === col("cluster_id"), 1).otherwise(0).as("is_canonical"))
  }

  /** Cluster-size histogram over [[clusterDocuments]] output — the
    * governance view of a dedup pass: how many clusters exist at each
    * size, how many documents they hold, and each size's share of the
    * corpus in bp. A long tail of singletons with a few mega-clusters is
    * the healthy shape; mass migrating into large sizes flags template
    * spam or a collapsed candidate filter.
    *
    * Scale shape: (cluster_id, size) distinct is cluster-count-sized,
    * the histogram is distinct-size-sized, and the 1-row corpus total is
    * broadcast — nothing after the input's own labeling touches
    * corpus-width rows. The input's labels come from the truncated
    * propagation rounds, so the two consumers (histogram + total) re-read
    * a materialized label relation, not the iterative propagation. */
  def clusterSizeHistogram(clustered: DataFrame,
                           clusterCol: String = "cluster_id",
                           sizeCol: String = "cluster_size"): DataFrame = {
    val h = clustered.select(col(clusterCol), col(sizeCol)).distinct()
      .groupBy(col(sizeCol)).agg(count(lit(1)).as("n_clusters"))
    val tot = clustered.agg(count(lit(1)).as("n_total"))
    h.crossJoin(broadcast(tot))
      .withColumn("n_docs", col(sizeCol) * col("n_clusters"))
      .withColumn("docs_bp", expr("(10000 * n_docs) div n_total"))
      .select(col(sizeCol).cast("long").as("cluster_size"), col("n_clusters"),
        col("n_docs").cast("long").as("n_docs"), col("docs_bp"))
  }
}
