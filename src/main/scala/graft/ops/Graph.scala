package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Link-graph analytics over document/host graphs — the centrality and
  * cohesion tier beside [[Components]]' connectivity: PageRank ranks a
  * crawl's hosts (seed prioritization, spam demotion — the original use),
  * and triangle counting measures local cohesion (link farms show near-zero
  * clustering; organic communities are triangle-dense). Both are classic
  * "would it survive 100 TB" operators because the naive formulations die
  * on power-law graphs: PageRank via repeated whole-graph materialization,
  * triangles via wedge explosion at the hubs.
  *
  * Both are EXACT-INTEGER formulations so the DuckDB oracle replays them
  * digit for digit: PageRank in a fixed nano domain with floor division at
  * every step (no float drift across iterations), clustering coefficients
  * in basis points.
  */
object Graph {

  /** Fixed-iteration PageRank in the exact-integer nano domain.
    *
    * Per iteration, rank mass moves as
    * `pr'(v) = (15·S div 100) div N + 85·(Σ_{u→v} pr(u) div odeg(u) + D div N) div 100`
    * where `S` is the scale (default 1e9), `N` the node count and `D` the
    * dangling mass (rank held by nodes with no out-links — redistributed
    * uniformly, the standard treatment). All divisions are floor divisions
    * on non-negative longs, so any engine replays the exact digits; total
    * mass stays ≤ S so no intermediate exceeds 85·S ≪ Long.Max.
    *
    * Scale shape: the per-iteration state is the NODE-sized rank table,
    * never an edge materialization. Each iteration is one node-sized join
    * (rank ⋈ out-degree), one edge-sized join feeding a partial-aggregated
    * shuffle on `dst` (map-side combine absorbs hub in-degree skew before
    * the exchange), and a 1-row dangling aggregate crossed back in as a
    * broadcast literal. The rank table is pinned with its lineage cut
    * (`Pin.truncate`) every iteration — it is referenced twice per step
    * (contribution join and dangling anti-join), and unpinned the whole
    * lineage would re-run per reference and per iteration (the
    * dedup_winnow lesson, compounding exponentially here).
    *
    * Output: one row per node — (node, out_degree, pr_nano). Rank columns
    * sum to ~S (floor-division loss only).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame,
               nodeCol: String = "node", srcCol: String = "src", dstCol: String = "dst",
               iters: Int = 4, scale: Long = 1000000000L): DataFrame = {
    // self-loops contribute nothing to ranking and duplicates would double
    // mass; both engines drop them before degree counting
    val e = Pin(canonicalDirected(edges, srcCol, dstCol)) // probed every iteration; unpinned, the edge synthesis re-runs per iteration
    pageRankOnState(nodes, e, outDegreesOf(e), nodeCol, iters, scale)
  }

  /** [[pageRank]] over PRE-CANONICALIZED state — the incremental leg's
    * entry point (VERDICT r16 task 7): `e` must already be the distinct
    * self-loop-free directed edge set and `outDeg` its (src, odeg) table,
    * e.g. the maintained [[canonicalDirected]]/[[outDegreesOf]] tables
    * after [[newDirectedEdges]]/[[mergeOutDegrees]] applied a delta batch.
    * A crawl updating its link graph in batches pays only delta-sized
    * work to MAINTAIN the graph (the corpus-sized distinct + degree
    * shuffles — the scans that dominate at 100 TB — never re-run); the
    * rank iteration itself is inherent to the fixed-iteration
    * exact-integer contract and identical between the legs, so the
    * incremental result hash-equals the from-scratch replay. */
  def pageRankOnState(nodes: DataFrame, e: DataFrame, outDeg: DataFrame,
                      nodeCol: String = "node",
                      iters: Int = 4, scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"pageRank needs at least 1 iteration, got $iters")
    require(scale > 0, s"pageRank scale must be positive, got $scale")
    val nd = Pin(nodes.select(col(nodeCol).cast("long").as("node")))
    val odeg = Pin(outDeg) // referenced every iteration + the output join
    // N enters the plan as a broadcast 1-row aggregate, not a driver
    // collect — pinned because every iteration references it
    val nRow = Pin(nd.agg(count(lit(1)).as("n")))
    var ranks = Pin.truncate(nd.crossJoin(broadcast(nRow))
      .select(col("node"), expr(s"CAST(${scale}L div n AS BIGINT)").as("pr")))
    for (_ <- 1 to iters) {
      // node-sized join first (rank ⋈ odeg), THEN the edge-sized probe:
      // contributions partial-aggregate on dst before the shuffle, so hub
      // in-degree skew is absorbed map-side
      val perSrc = ranks.join(odeg, ranks("node") === odeg("src"))
        .select(col("src"), expr("pr div odeg").as("c"))
      val contribs = e.join(perSrc, "src").groupBy("dst").agg(sum("c").as("cin"))
      val dangling = ranks.join(odeg, ranks("node") === odeg("src"), "left_anti")
        .agg(coalesce(sum("pr"), lit(0L)).as("dmass"))
      ranks = Pin.truncate(nd.join(contribs, nd("node") === contribs("dst"), "left")
        .crossJoin(broadcast(dangling)).crossJoin(broadcast(nRow))
        .select(nd("node"), expr(
          s"CAST((15 * ${scale}L div 100) div n" +
            " + (85 * (coalesce(cin, 0L) + dmass div n)) div 100 AS BIGINT)").as("pr")))
    }
    ranks.join(odeg, ranks("node") === odeg("src"), "left")
      .select(col("node"), coalesce(col("odeg"), lit(0L)).as("out_degree"),
        col("pr").as("pr_nano"))
  }

  // ------------------------------------------------------------------
  // Maintained-graph primitives (VERDICT r16 task 7): a crawl frontier
  // updates its link graph in BATCHES; recomputing the canonical edge
  // set and degrees from the raw link stream per batch re-pays the
  // corpus-sized distinct/degree shuffles every time. These helpers are
  // the mv_incremental pattern over graphs — the maintained state is
  // (canonical edge table, node-sized degree table); a delta applies as
  // batch-canonicalize → anti-join the persisted edges (only genuinely
  // NEW edges survive, so re-crawled links are idempotent) → ADD the new
  // edges' degree contributions into the node-sized state (degrees are
  // an additive monoid over disjoint edge sets). The full and
  // incremental legs share these same functions, so equality with the
  // from-scratch replay is structural, and the DuckDB oracle (the full
  // recompute) pins it.
  // ------------------------------------------------------------------

  /** Distinct self-loop-free DIRECTED edge set — [[pageRank]]'s ground
    * truth and the maintained table of its incremental leg. */
  def canonicalDirected(edges: DataFrame,
                        srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()

  /** Distinct self-loop-free UNDIRECTED edge set (canonical a < b) —
    * [[degreeHistogram]]'s ground truth and its maintained table. */
  def canonicalUndirected(edges: DataFrame,
                          srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Node-sized out-degree state of a [[canonicalDirected]] edge set. */
  def outDegreesOf(e: DataFrame): DataFrame =
    e.groupBy("src").agg(count(lit(1)).as("odeg"))

  /** Node-sized undirected-degree state of a [[canonicalUndirected]] set. */
  def degreesOf(und: DataFrame): DataFrame =
    und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** The delta batch's genuinely NEW directed edges: canonicalize the raw
    * batch, then anti-join the maintained edge table — a re-crawled link
    * contributes nothing (idempotent increments). Per-batch cost is
    * delta-sized map work plus the probe into the persisted table (which
    * a production layout buckets on the edge key so the probe prunes). */
  def newDirectedEdges(e: DataFrame, delta: DataFrame,
                       srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    canonicalDirected(delta, srcCol, dstCol).join(e, Seq("src", "dst"), "left_anti")

  /** Undirected twin of [[newDirectedEdges]]. */
  def newUndirectedEdges(und: DataFrame, delta: DataFrame,
                         srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    canonicalUndirected(delta, srcCol, dstCol).join(und, Seq("a", "b"), "left_anti")

  /** Additive merge of node-sized degree states — sound because both
    * sides count DISJOINT canonical edge sets ([[newUndirectedEdges]]
    * guarantees disjointness). Union + one key-cardinality aggregation,
    * the [[Mv.merge]] shape. */
  def mergeDegrees(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("node").agg(sum("deg").as("deg"))

  /** Additive merge of (src, odeg) out-degree states — same monoid. */
  def mergeOutDegrees(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("src").agg(sum("odeg").as("odeg"))

  /** Synchronous label-propagation communities (Raghavan et al. 2007,
    * "Near linear time algorithm to detect community structures") made
    * DETERMINISTIC: every round, each node adopts the most frequent label
    * among its undirected neighbors, ties broken to the SMALLEST label,
    * all nodes updating from the PREVIOUS round's labels (synchronous
    * schedule — the async visit order that makes textbook LPA
    * run-dependent is exactly what an engine whose results must replay
    * cannot have). Fixed `iters` rounds rather than
    * convergence-detection: synchronous LPA can 2-cycle on bipartite
    * structures, so a round budget is the honest contract; isolated
    * nodes keep their own label.
    *
    * Scale shape: per round, state is the NODE-sized label table (pinned
    * — referenced by the count join and the carry-forward), the work is
    * one edge ⋈ labels probe partial-aggregated on (node, label) before
    * the shuffle, and the argmax is a (node)-keyed max over ONE struct
    * ordered (cnt DESC, label ASC) — no window, no sort. Components
    * ([[graft.ops.Components]]) answer reachability; this answers
    * DENSITY — a giant connected web splits into its dense cores.
    *
    * Output: (node, label, community_size). */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       nodeCol: String = "node", srcCol: String = "src", dstCol: String = "dst",
                       iters: Int = 4): DataFrame = {
    require(iters >= 1, s"labelPropagation needs at least 1 round, got $iters")
    val nd = Pin(nodes.select(col(nodeCol).cast("long").as("node")))
    val directed = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val ue = Pin(directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()) // probed every round
    var labels = Pin.truncate(nd.select(col("node"), col("node").as("lbl")))
    for (_ <- 1 to iters) {
      // neighbor label counts: edge-sized probe, combined map-side on
      // (dst, lbl); argmax-with-min-tie as max of struct(cnt, -lbl) —
      // negating the label makes ONE max pick (highest count, lowest
      // label) without a per-node sort or window
      val picked = ue.join(labels, ue("src") === labels("node"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst"), (-col("m.nl")).as("new_lbl"))
      labels = Pin.truncate(labels.join(picked, labels("node") === picked("dst"), "left")
        .select(col("node"), coalesce(col("new_lbl"), col("lbl")).as("lbl")))
    }
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("label"), col("community_size"))
  }

  /** Personalized PageRank — teleport mass concentrated on a SEED set
    * instead of spread uniformly (Haveliwala 2002): the crawl-frontier /
    * topic-affinity variant, ranking every node by proximity to the seeds.
    * Same exact-integer nano-domain iteration as [[pageRank]] with two
    * changes, both floor-div replayable: the teleport term lands only on
    * seeds (split `div |S|`), and dangling mass re-teleports to the seeds
    * rather than everywhere — the standard treatment, keeping non-seed
    * rank purely link-derived. Identical scale shape: node-sized state,
    * edge-sized contribution shuffle, 1-row broadcast dangling aggregate,
    * per-iteration truncated rank table.
    *
    * Output: (node, is_seed, pr_nano). Nodes unreachable from the seed set
    * rank exactly 0 — an integer-exact "outside the neighborhood" signal
    * the uniform variant cannot give. */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                           nodeCol: String = "node", srcCol: String = "src", dstCol: String = "dst",
                           seedCol: String = "node",
                           iters: Int = 4, scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"personalizedPageRank needs at least 1 iteration, got $iters")
    require(scale > 0, s"personalizedPageRank scale must be positive, got $scale")
    val sd = seeds.select(col(seedCol).cast("long").as("node")).distinct()
    val nd = Pin(nodes.select(col(nodeCol).cast("long").as("node"))
      .join(sd.withColumn("is_seed", lit(1L)), Seq("node"), "left")
      .na.fill(0L, Seq("is_seed")))
    val e = Pin(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val outDeg = Pin(e.groupBy("src").agg(count(lit(1)).as("odeg")))
    val nsRow = Pin(nd.agg(sum("is_seed").as("ns")))
    var ranks = Pin.truncate(nd.crossJoin(broadcast(nsRow))
      .select(col("node"), col("is_seed"),
        expr(s"CAST(CASE WHEN is_seed = 1 THEN ${scale}L div ns ELSE 0L END AS BIGINT)").as("pr")))
    for (_ <- 1 to iters) {
      val perSrc = ranks.join(outDeg, ranks("node") === outDeg("src"))
        .select(col("src"), expr("pr div odeg").as("c"))
      val contribs = e.join(perSrc, "src").groupBy("dst").agg(sum("c").as("cin"))
      val dangling = ranks.join(outDeg, ranks("node") === outDeg("src"), "left_anti")
        .agg(coalesce(sum("pr"), lit(0L)).as("dmass"))
      ranks = Pin.truncate(nd.join(contribs, nd("node") === contribs("dst"), "left")
        .crossJoin(broadcast(dangling)).crossJoin(broadcast(nsRow))
        .select(nd("node"), nd("is_seed"), expr(
          s"CAST(CASE WHEN is_seed = 1 THEN (15 * ${scale}L div 100) div ns ELSE 0L END" +
            " + (85 * (coalesce(cin, 0L)" +
            " + CASE WHEN is_seed = 1 THEN dmass div ns ELSE 0L END)) div 100 AS BIGINT)").as("pr")))
    }
    ranks.select(col("node"), col("is_seed"), col("pr").as("pr_nano"))
  }

  /** Log2-bucketed degree-distribution card — the power-law audit over a
    * link graph (a crawl graph whose tail bucket holds half the mass is a
    * link farm; a missing hub tail means the frontier starved). Degree is
    * undirected-distinct; the bucket index is `⌊log2 deg⌋` computed as
    * `length(bin(deg)) − 1` — pure integer bit arithmetic, no float log to
    * disagree across engines. Shuffle state is #buckets (≤ 64 rows), never
    * the corpus; shares in basis points against the node total. */
  def degreeHistogram(edges: DataFrame,
                      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    histogramOfDegrees(degreesOf(canonicalUndirected(edges, srcCol, dstCol)))

  /** The histogram card from a (node, deg) state table — shared by the
    * from-scratch leg above and the incremental leg (which feeds it the
    * MAINTAINED degree state after [[mergeDegrees]] applied a delta), so
    * the two legs cannot drift. Input is node-sized; everything below is
    * ≤ 64 bucket rows. */
  def histogramOfDegrees(degState: DataFrame): DataFrame = {
    val deg = Pin(degState) // histogram side and totals side
    val tot = deg.agg(count(lit(1)).as("n_total"))
    deg.withColumn("bucket", expr("CAST(length(bin(deg)) - 1 AS BIGINT)"))
      .groupBy("bucket").agg(count(lit(1)).as("n_nodes"), min("deg").as("min_deg"),
        max("deg").as("max_deg"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_nodes"), col("min_deg"), col("max_deg"),
        expr("(10000 * n_nodes) div n_total").as("share_bp"))
  }

  /** Exact triangle counts and local clustering coefficients via DEGREE
    * ORIENTATION — the standard trick (each undirected edge points from its
    * lower-(degree, id) endpoint to the higher) that bounds every node's
    * oriented out-degree by O(√m): wedges are enumerated only from a
    * node's oriented out-neighborhood, so a crawl hub with a million
    * in-links generates ZERO wedges instead of the 10^12 a naive
    * neighbor-pair join would. Each triangle is produced exactly once
    * (its lowest-order vertex enumerates the wedge; the closing edge is
    * oriented low→high by construction).
    *
    * Output: one row per node appearing in `edges` —
    * (node, degree, n_triangles, clustering_bp) where clustering_bp is the
    * local clustering coefficient `2·T(v) / (deg·(deg−1))` in basis points
    * (floor division; 0 for degree < 2). Direction and multiplicity of the
    * input are irrelevant: edges canonicalize and dedup first.
    */
  def triangleCounts(edges: DataFrame,
                     srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = Pin(canonicalUndirected(edges, srcCol, dstCol)) // feeds both the degree count and the orientation join
    val deg = Pin(degreesOf(und)) // referenced by both orientation sides, the wedge order and the output
    triangleOutput(deg, triangleStateOf(und, deg))
  }

  /** Node-sized per-node triangle-count state of a [[canonicalUndirected]]
    * edge set — the degree-oriented enumeration of [[triangleCounts]]
    * without the output card: the maintained table of the incremental
    * leg. `deg` must be [[degreesOf]] of the same set. */
  def triangleStateOf(und: DataFrame, deg: DataFrame): DataFrame = {
    val da = deg.select(col("node").as("a"), col("deg").as("da"))
    val db = deg.select(col("node").as("b"), col("deg").as("db"))
    val o = Pin(und.join(da, "a").join(db, "b")
      .select(
        expr("CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END").as("u"),
        expr("CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END").as("v"))) // wedge base AND closing-edge probe
    val ov = o.join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("dv"))
    // wedge (u; v1 ≺ v2) in the SAME (deg, id) total order the orientation
    // used, so the closing edge — if it exists — is exactly o(v1 → v2)
    val wedges = ov.as("o1").join(ov.as("o2"),
        col("o1.u") === col("o2.u") &&
          (col("o1.dv") < col("o2.dv") ||
            (col("o1.dv") === col("o2.dv") && col("o1.v") < col("o2.v"))))
      .select(col("o1.u").as("x"), col("o1.v").as("y"), col("o2.v").as("z"))
    val tri = wedges.join(o, wedges("y") === o("u") && wedges("z") === o("v"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
  }

  /** The (node, degree, n_triangles, clustering_bp) card from the two
    * node-sized states — shared by the from-scratch and incremental legs
    * so they cannot drift. */
  def triangleOutput(deg: DataFrame, triState: DataFrame): DataFrame =
    deg.join(triState, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        expr("CAST(CASE WHEN deg >= 2" +
          " THEN (2 * coalesce(tri, 0L) * 10000) div (deg * (deg - 1))" +
          " ELSE 0L END AS BIGINT)").as("clustering_bp"))

  /** Additive merge of per-node triangle-count states — sound because
    * [[newTriangleCounts]] counts exactly the triangles ABSENT from the
    * base state (those using ≥1 genuinely-new edge, each once). */
  def mergeTriangles(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("node").agg(sum("tri").as("tri"))

  /** Per-node counts of the triangles CREATED by a delta batch: every
    * triangle of `und ∪ fresh` containing at least one `fresh` edge,
    * counted exactly once — the exact incremental triangle-counting
    * delta (`fresh` must be [[newUndirectedEdges]] output: canonical and
    * DISJOINT from `und`). Enumeration: each fresh edge (a, b) probes
    * the merged adjacency from its LOWER-degree endpoint (the standard
    * hub mitigation — a frontier edge landing on a corpus-sized hub
    * fans out by its small endpoint's degree, not the hub's) and the
    * third vertex is confirmed by one keyed join back into the merged
    * edge set. A triangle whose 2 or 3 edges are all fresh is found from
    * each of them, so the LEXICOGRAPHICALLY SMALLEST fresh edge is the
    * designated counter — the same tie-breaking discipline as the
    * degree orientation, and exactly once by construction.
    *
    * Scale shape: cost is Σ_fresh min-endpoint-degree (delta-sized fan)
    * plus two keyed probes into the maintained edge table; the fresh
    * relation is broadcast into the dedup test. Nothing re-enumerates
    * the base graph's wedges. */
  def newTriangleCounts(und: DataFrame, fresh: DataFrame,
                        degAll: DataFrame): DataFrame = {
    val all = Pin(und.unionByName(fresh)) // adjacency AND closing-edge probe
    val adj = all.select(col("a").as("u"), col("b").as("w"))
      .unionByName(all.select(col("b").as("u"), col("a").as("w")))
    // orient each fresh edge so the probe endpoint (u) has the smaller
    // merged degree (ties to the lower id, matching the orientation idiom)
    val du = degAll.select(col("node").as("a"), col("deg").as("_da"))
    val dv = degAll.select(col("node").as("b"), col("deg").as("_db"))
    val orientedFresh = fresh.join(du, "a").join(dv, "b")
      .select(col("a"), col("b"),
        expr("CASE WHEN _da < _db OR (_da = _db AND a < b) THEN a ELSE b END").as("u"),
        expr("CASE WHEN _da < _db OR (_da = _db AND a < b) THEN b ELSE a END").as("o"))
    // third-vertex candidates: neighbors c of the small endpoint, with
    // the (other, c) edge confirmed by a keyed probe into the merged set
    val cand = orientedFresh
      .join(adj, "u")
      .withColumnRenamed("w", "c")
      .filter(col("c") =!= col("o")) // the fresh edge itself is a neighbor row
      .join(all.select(col("a").as("_pa"), col("b").as("_pb")),
        least(col("o"), col("c")) === col("_pa") && greatest(col("o"), col("c")) === col("_pb"))
      .select(col("a"), col("b"), col("c"))
    // designated-counter test: drop the row when either side edge of the
    // triangle is ALSO fresh and lexicographically smaller than (a, b)
    val fr = broadcast(fresh.select(col("a").as("_fa"), col("b").as("_fb")))
    val deduped = cand
      .join(fr, least(col("a"), col("c")) === col("_fa") &&
        greatest(col("a"), col("c")) === col("_fb"), "left")
      .filter(!coalesce(col("_fa") < col("a") ||
        (col("_fa") === col("a") && col("_fb") < col("b")), lit(false)))
      .drop("_fa", "_fb")
      .join(fr, least(col("b"), col("c")) === col("_fa") &&
        greatest(col("b"), col("c")) === col("_fb"), "left")
      .filter(!coalesce(col("_fa") < col("a") ||
        (col("_fa") === col("a") && col("_fb") < col("b")), lit(false)))
      .drop("_fa", "_fb")
    deduped.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
  }
}
