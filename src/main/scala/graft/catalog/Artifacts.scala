package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import org.apache.spark.sql.graft.Pin

/** Idempotent builders of the persisted artifacts that catalog rows probe
  * (corpus indexes, trained models, maintained state). Each is a build-if-missing
  * keyed by a slug of (application, sf dir, build parameters), so a warm-up at
  * one scale never serves a probe at another and a parameter change forces a
  * rebuild. A query whose bench number should be its steady-state probe names
  * its builder as `Query.prep`; the query body calls the same builder. */
object Artifacts {

  /** Single source of truth for the persisted minhash corpus index:
    * corpus slice, k, and numHashes are defined ONCE here and encoded in
    * the table-name slug, so the prep and the body of every row that
    * probes the index can never drift apart — a parameter
    * change renames the tables and forces a rebuild instead of silently
    * probing an index built with different parameters. */
  private[catalog] val MinhashIndexK = 3
  private[catalog] val MinhashIndexHashes = 16
  private[catalog] val MinhashIndexCorpusMod = 5 // corpus = doc_id % mod =!= 0 slice

  private def minhashIndexCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % MinhashIndexCorpusMod =!= 0)

  /** Catalog names of the persisted minhash corpus index, scoped by
    * (application, corpus dir, build parameters) so a warmup at one SF can
    * never serve a probe at another, concurrent test sessions don't
    * collide, and a parameter drift — including the corpus slice — forces
    * a rebuild (every parameter in the slug is the SAME constant the build
    * reads, never a parallel literal). */
  private def minhashIndexTables(s: SparkSession, dir: String): (String, String) = {
    val slug = (s.sparkContext.applicationId + "_" + dir +
      s"_k${MinhashIndexK}_h${MinhashIndexHashes}_mod${MinhashIndexCorpusMod}")
      .replaceAll("[^a-zA-Z0-9]", "_")
    (s"graft_mh_bands_$slug", s"graft_mh_sets_$slug")
  }

  /** Idempotent build-if-missing of the minhash corpus index; returns the
    * table names. The ONLY call path to [[graft.ops.Dedup
    * .writeMinhashIndex]] for the bench/oracle index — shared by the
    * rows' preps and their query bodies. */
  private[catalog] def ensureMinhashIndex(s: SparkSession, dir: String): (String, String) = {
    val (bandsT, setsT) = minhashIndexTables(s, dir)
    if (!(s.catalog.tableExists(bandsT) && s.catalog.tableExists(setsT)))
      graft.ops.Dedup.writeMinhashIndex(minhashIndexCorpus(s, dir), "doc_id", "text",
        bandsT, setsT, k = MinhashIndexK, numHashes = MinhashIndexHashes)
    (bandsT, setsT)
  }

  /** Winnow corpus index: same (application, dir, params) scoping and
    * %5-slice increment contract as the minhash index. */
  private def winnowIndexTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir +
      s"_k5_w4_mod$MinhashIndexCorpusMod").replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_winnow_posts_$slug"
  }

  private[catalog] def ensureWinnowIndex(s: SparkSession, dir: String): String = {
    val t = winnowIndexTable(s, dir)
    if (!s.catalog.tableExists(t))
      graft.ops.Winnow.writeIndex(minhashIndexCorpus(s, dir), "doc_id", "text", t)
    t
  }

  /** Lexical postings index: same (application, dir, params) scoping and
    * %5-slice increment contract as the minhash index. */
  private def tfIndexTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir +
      s"_mod$MinhashIndexCorpusMod").replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_tf_posts_$slug"
  }

  private[catalog] def ensureTfIndex(s: SparkSession, dir: String): String = {
    val t = tfIndexTable(s, dir)
    if (!s.catalog.tableExists(t))
      graft.ops.Bm25.writeTfIndex(minhashIndexCorpus(s, dir), "doc_id", "text", t)
    t
  }

  /** Target slice for the DSIR rows — defined ONCE so the Spark queries
    * and the generated oracle can never disagree on what "target" means. */
  private[catalog] val DsirTargetSources = Seq("src0", "src1", "src2", "src3")

  /** Catalog name of the persisted DSIR bucket-weight model — same slug
    * discipline as the minhash/IVF artifacts: (application, corpus dir,
    * model parameters), so SFs never cross and parameter drift forces a
    * rebuild. */
  private def dsirWeightsTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir +
      s"_b${graft.ops.Dsir.Buckets}_s${graft.ops.Dsir.Seed}_mod5_tgt03")
      .replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_dsir_w_$slug"
  }

  /** Idempotent build-if-missing of the persisted DSIR weights over the
    * corpus slice (doc_id % 5 =!= 0); returns the table name. */
  private[catalog] def ensureDsirWeights(s: SparkSession, dir: String): String = {
    val t = dsirWeightsTable(s, dir)
    if (!graft.ops.Dsir.weightsExist(s, t)) {
      val corpus = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      graft.ops.Dsir.writeWeights(s, graft.ops.Dsir.bucketWeights(
        corpus, "doc_id", "text", col("source").isin(DsirTargetSources: _*)), t)
    }
    t
  }

  /** Catalog name of the maintained per-source aggregate table (the MV
    * row) — same slug discipline as every persisted artifact. */
  private def mvStateTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir + "_src_mod5")
      .replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_mv_state_$slug"
  }

  /** Idempotent build-if-missing of the maintained aggregate over the
    * corpus slice (doc_id % 5 =!= 0); returns the table name. */
  private[catalog] def ensureMvState(s: SparkSession, dir: String): String = {
    val t = mvStateTable(s, dir)
    if (!graft.ops.Mv.stateExists(s, t)) {
      val corpus = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      graft.ops.Mv.writeState(s, graft.ops.Mv.aggState(corpus, "source", "n_chars"), t)
    }
    t
  }

  /** GenTable roots of the maintained link-graph state for `dir` —
    * (directed edges, out-degrees, undirected edges, degrees), scoped
    * like every other persisted-state slug so SFs never cross. */
  private def graphStateRoots(s: SparkSession, dir: String): Seq[String] = {
    val slug = (s.sparkContext.applicationId + "_" + dir + "_src_mod5")
      .replaceAll("[^a-zA-Z0-9]", "_")
    Seq("e", "odeg", "und", "deg", "tri").map(w =>
      graft.io.GenTable.rootFor(s, s"graft_graph_${w}_$slug"))
  }

  /** Idempotent build-if-missing of the maintained link-graph state over
    * the base slice (links whose SOURCE doc is outside the %5 delta
    * slice): the canonical directed/undirected edge tables plus their
    * node-sized degree states — what a crawl pipeline keeps between
    * frontier batches so no batch ever re-pays the corpus-sized
    * distinct/degree shuffles. Returns the four GenTable roots. */
  private[catalog] def ensureGraphState(s: SparkSession, dir: String): Seq[String] = {
    val roots @ Seq(eR, odegR, undR, degR, triR) = graphStateRoots(s, dir)
    if (!roots.forall(graft.io.GenTable.exists(s, _))) {
      val base = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("src"),
          explode(array(expr("doc_id div 2"), expr("doc_id div 4"),
            expr("doc_id % 97"))).as("dst"))
      val e = Pin(graft.ops.Graph.canonicalDirected(base))
      graft.io.GenTable.replace(s, eR, e)
      graft.io.GenTable.replace(s, odegR, graft.ops.Graph.outDegreesOf(e))
      val und = Pin(graft.ops.Graph.canonicalUndirected(base))
      graft.io.GenTable.replace(s, undR, und)
      val deg = Pin(graft.ops.Graph.degreesOf(und))
      graft.io.GenTable.replace(s, degR, deg)
      graft.io.GenTable.replace(s, triR, graft.ops.Graph.triangleStateOf(und, deg))
    }
    roots
  }

  /** The incremental bitext delta rule: a FIXED-size-ish frontier batch —
    * every vec_id divisible by `max(50, n/1000)`, i.e. 2% of a small
    * corpus but capped near ~1000 vectors as the corpus grows. The cap is
    * the point: an arriving batch is a training-loop constant, not a
    * corpus fraction, so the touched-cell count (≤ |Δ|) stays bounded
    * while the cell count grows — the untouched share approaches 100%
    * and the per-batch mining work stays delta-proportional. */
  private[catalog] def bitextDeltaMod(n: Long): Long = math.max(50L, n / 1000L)

  /** Catalog name (model) + GenTable roots (assignments, per-cell pairs)
    * of the persisted bitext-mining state for `dir`. */
  private def bitextStateNames(s: SparkSession, dir: String): (String, String, String) = {
    val slug = (s.sparkContext.applicationId + "_" + dir + "_bitext_modcap")
      .replaceAll("[^a-zA-Z0-9]", "_")
    (s"graft_bitext_m2_$slug",
      graft.io.GenTable.rootFor(s, s"graft_bitext_asn_$slug"),
      graft.io.GenTable.rootFor(s, s"graft_bitext_pairs_$slug"))
  }

  /** Idempotent build-if-missing of the persisted bitext-mining state
    * over the base corpus (ids outside the delta rule): the two-level
    * codebook (trained once per epoch — the Θ(n^1.5) assignment cost is
    * paid HERE, amortized across every subsequent batch), the base
    * corpus's composite-cell assignments, and its mined pairs tagged by
    * cell. Returns (model table, assignment root, pairs root). */
  private[catalog] def ensureBitextState(s: SparkSession, dir: String): (String, String, String) = {
    val (mT, asnR, pairsR) = bitextStateNames(s, dir)
    val built = s.catalog.tableExists(mT + "_super") &&
      graft.io.GenTable.exists(s, asnR) && graft.io.GenTable.exists(s, pairsR)
    if (!built) {
      val emb = Tables.embeddings(s, dir)
      val m = bitextDeltaMod(emb.count())
      val base = Pin(emb.filter(col("vec_id") % m =!= 0))
      val k2 = math.max(4, math.ceil(math.sqrt(base.count().toDouble / 100)).toInt)
      val m2 = graft.ops.Ivf.trainHierarchical(base, "vec_id", "embedding",
        k2 = k2, targetCell = 100)
      graft.ops.Ivf.writeModel2(s, m2, mT)
      val asn = Pin(graft.ops.Ivf.assignHierarchical(base, "vec_id", "embedding", m2))
      graft.io.GenTable.replace(s, asnR, asn)
      graft.io.GenTable.replace(s, pairsR,
        graft.ops.Mining.bitextPairsWithCells(base, "vec_id", "embedding",
          col("vec_id") % 2 === 0, asn, k = 4, minMarginBp = 10000L))
    }
    (mT, asnR, pairsR)
  }

  /** Catalog name of the persisted IVF coarse-quantizer model for `dir` —
    * the ANN-side analogue of the minhash index slug: scoped by
    * (application, corpus dir, train parameters) so SFs never cross and
    * parameter drift forces a rebuild. */
  private def ivfModelTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir + "_k8_i2_mod5")
      .replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_ivf_model_$slug"
  }

  /** Idempotent train-if-missing of the persisted IVF model over the
    * corpus slice (vec_id % 5 =!= 0); returns the table name. */
  private[catalog] def ensureIvfModel(s: SparkSession, dir: String): String = {
    val t = ivfModelTable(s, dir)
    if (!s.catalog.tableExists(t)) {
      val corpus = Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0)
      val model = graft.ops.Ivf.train(corpus, "vec_id", "embedding", k = 8, iters = 2)
      graft.ops.Ivf.writeModel(s, model, t)
      // training-time drift reference (mean nearest-centroid distance),
      // persisted with the model: every increment's staleness check
      // compares against this
      graft.ops.Ivf.writeTrainRef(s, t,
        graft.ops.Ivf.driftStatQ(corpus, "vec_id", "embedding", model))
    }
    t
  }

  /** Day-partitioned events copy for `dir` — the layout a 100 TB event
    * store actually ships (hive `_day=N/` directories), built once per
    * (sf dir, source-file stamp) and reused across invocations. The stamp
    * keys the path to the source parquet's size+mtime so a regenerated
    * testdata file invalidates the copy instead of serving stale rows. */
  private[graft] def ensureEventsPartitioned(s: SparkSession, dir: String): String = {
    val src = new java.io.File(dir, "events.parquet")
    // keyed by a hash of the FULL canonical dir (two checkouts can share a
    // basename) + source size/mtime, NOT by applicationId: the layout is
    // meant to outlive the JVM (Verify and Bench are separate processes
    // amortizing the same build). Single-writer is assumed — the driver
    // runs the surfaces sequentially.
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getCanonicalPath.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    // full-millisecond mtime in the stamp (a same-second regeneration with
    // an identical byte length must still invalidate), and the user name in
    // the path so shared-host tmpdirs don't collide on another user's
    // leftover (possibly unwritable) layout
    val user = sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9_-]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft_${user}_events_byday_" +
      s"${dirKey}_${src.length}_${src.lastModified}"
    if (!new java.io.File(path, "_SUCCESS").exists)
      graft.ops.Scale.writeTimePartitioned(
        Tables.events(s, dir).withColumn("ts_s", expr("ts_us div 1000000L")), path, "ts_s")
    path
  }
}
