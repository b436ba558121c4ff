package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Ivf
import graft.vector.VectorOps

class IvfSpec extends AnyFunSuite {

  test("nprobe recall curve is monotone and reaches 10000 bp at nprobe = k") {
    // more probes only ever grow the candidate set, and any candidate
    // ranking above a truth member is itself global top-10 — so hits
    // are non-decreasing in nprobe, and probing every cell IS the
    // brute-force pass (recall exactly 10000)
    val s = TestSpark.spark
    val curve = graft.SparkEntry.queries("ann_nprobe_curve")(s, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).sortBy(_._1)
    assert(curve.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(curve.map(_._2).toSeq == curve.map(_._2).sorted.toSeq,
      s"recall must be non-decreasing in nprobe, got ${curve.toSeq}")
    val emb = graft.io.Tables.embeddings(s, TestSpark.sf0001)
    val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    val truth = graft.vector.VectorOps.knnCosine(emb, "vec_id", "embedding",
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
        .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
          org.apache.spark.sql.functions.col("embedding").as("qvec")),
      "qid", "qvec", k = 10).select("query_id", "neighbor_id")
    val full = graft.ops.Ivf.search(emb, "vec_id", "embedding", model,
      queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, nprobe = 4)
      .select("query_id", "neighbor_id")
    assert(full.join(truth, Seq("query_id", "neighbor_id")).count() == truth.count(),
      "probing all k cells must recover brute-force truth exactly")
  }
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
  private lazy val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)

  test("VectorMean aggregator equals per-dimension avg") {
    val data = Seq((0, Seq(1.0, 2.0)), (0, Seq(3.0, 6.0)), (1, Seq(10.0, 0.0)))
      .toDF("g", "v").as[(Int, Seq[Double])]
    val got = data.groupByKey(_._1).mapValues(_._2)
      .agg(new graft.vector.VectorMean(2).toColumn.name("m"))
      .collect().toMap
    assert(got(0) == Seq(2.0, 4.0))
    assert(got(1) == Seq(10.0, 0.0))
  }

  test("ragged vectors fail loudly instead of truncating the aggregate") {
    val bad = Seq((0, Seq(1.0, 2.0)), (0, Seq(3.0))).toDF("g", "v").as[(Int, Seq[Double])]
    val e = intercept[Exception] {
      bad.groupByKey(_._1).mapValues(_._2)
        .agg(new graft.vector.VectorMean(2).toColumn.name("m")).collect()
    }
    assert(e.getMessage.contains("VectorMean") || Option(e.getCause).exists(_.getMessage.contains("VectorMean")))
  }

  test("train produces k centroids of the right dimension") {
    assert(model.centroids.size == 8)
    assert(model.centroids.values.forall { case (s, n) => s.length == 64 && n >= 1L })
  }

  test("training is bit-reproducible (exact integer centroid state)") {
    val m2 = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(model.centroids.keySet == m2.centroids.keySet)
    model.centroids.foreach { case (cid, (s, n)) =>
      val (s2, n2) = m2.centroids(cid)
      assert(n == n2 && s.sameElements(s2), s"centroid $cid differs between identical runs")
    }
  }

  test("assignment is deterministic and total") {
    val a1 = Ivf.assign(emb, "vec_id", "embedding", model).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val a2 = Ivf.assign(emb, "vec_id", "embedding", model).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a1 == a2)
    assert(a1.size == 500)
    assert(a1.values.toSet.size > 1, "vectors spread over multiple clusters")
  }

  test("writeModel/readModel round-trips the exact integer state; assignments identical") {
    val t = s"t_ivf_rt_${System.nanoTime()}"
    try {
      Ivf.writeModel(spark, model, t)
      val back = Ivf.readModel(spark, t)
      assert(back.centroids.keySet == model.centroids.keySet)
      model.centroids.foreach { case (cid, (s, n)) =>
        val (s2, n2) = back.centroids(cid)
        assert(s.toSeq == s2.toSeq && n == n2, s"centroid $cid state drifted in the round-trip")
      }
      val direct = Ivf.assign(emb, "vec_id", "embedding", model)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val viaTable = Ivf.assign(emb, "vec_id", "embedding", back)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(direct == viaTable, "persisted model must assign identically to the in-memory one")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  private def withIdType(t: String) = emb.withColumn("vec_id", col("vec_id").cast(t))

  test("full-probe IVF search equals brute force exactly") {
    val qids = Seq(0L, 1L, 2L)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
    for (t <- Seq("int", "long"); nprobe <- Seq(8, 12)) {
      val e = withIdType(t)
      val ivf = triples(Ivf.search(e, "vec_id", "embedding", model, qids, k = 5, nprobe = nprobe))
      val q = e.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val brute = triples(VectorOps.knnCosine(e, "vec_id", "embedding", q, "qid", "qvec", k = 5))
      assert(ivf.size == 15 && ivf == brute, s"$t ids, nprobe=$nprobe")
    }
  }

  test("probedRescored equals the join formulation row for row") {
    // (query_id, neighbor_id, sim bits), sim compared exactly, null kept
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))))).toSet
    val absent = 123456L
    val cases = Seq(
      Seq(0L, 1L, 2L) -> 3,
      Seq(5L, 5L, 9L) -> 2,         // a repeated query id
      Seq(absent) -> 3,             // not in the corpus: no rows
      Seq(7L, absent) -> 1,
      Seq(3L, 4L) -> 12)            // nprobe beyond k probes every cell
    for (t <- Seq("int", "long"); (qids, nprobe) <- cases) {
      val e = withIdType(t)
      val got = rows(Ivf.probedRescored(e, "vec_id", "embedding", model, qids, nprobe))
      val ref = rows(IvfReference.probedRescoredJoin(e, "vec_id", "embedding", model, qids, nprobe))
      assert(got == ref, s"$t ids, queries $qids, nprobe $nprobe")
      assert(got.map(_._1) == qids.filter(_ != absent).toSet, s"$t ids, queries $qids")
    }
    val schema = Ivf.probedRescored(emb, "vec_id", "embedding", model, Seq(0L), 1).schema
    assert(schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("query_id", "bigint"), ("neighbor_id", "bigint"), ("sim", "double")))
    assert(schema("sim").nullable)
  }

  test("assign equals the in-plan quantized tuple-array assignment") {
    val got = Ivf.assign(emb, "vec_id", "embedding", model).as[(Long, Int)].collect().toSet
    val ref = IvfReference.assign(emb, "vec_id", "embedding", model).as[(Long, Int)].collect().toSet
    assert(got == ref)
  }

  test("exact counts: <= 2 jobs and no shuffle per search; 2 corpus reads per request") {
    // task metrics see every read, also the lookups, which run outside SQL
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val shuffled = new java.util.concurrent.atomic.AtomicLong()
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        read.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    def counted(body: => Unit): (Int, Long, Long) = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      jobs.set(0); shuffled.set(0); read.set(0)
      body
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      (jobs.get, shuffled.get, read.get)
    }
    val qids = Seq(0L, 1L, 2L, 3L)
    val m = model // trained outside the counted windows
    val n = emb.count()
    spark.sparkContext.addSparkListener(listener)
    try {
      val (searchJobs, searchShuffled, searchRead) =
        counted(Ivf.search(emb, "vec_id", "embedding", m, qids, 10, 3).collect())
      assert(searchJobs <= 2, s"search ran $searchJobs jobs")
      assert(searchShuffled == 0, s"search shuffled $searchShuffled records")
      assert(searchRead == 2 * n, s"search read $searchRead rows of a $n-row corpus")
      val (_, _, passRead) = counted(Ivf.probedRescored(emb, "vec_id", "embedding", m, qids, 3).collect())
      assert(passRead == 2 * n, s"probedRescored read $passRead rows of a $n-row corpus")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("requests for other query ids run the same generated code") {
    // the query ids must not be inlined into the lookup's generated code:
    // each request would then compile classes of its own and churn
    // Spark's codegen cache
    import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val helper = new AdaptiveSparkPlanHelper {}
    val codes = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        helper.collect(qe.executedPlan) { case w: WholeStageCodegenExec => w }
          .foreach(w => codes.add(w.doCodeGen()._2.body))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val m = model
    val pq = graft.ops.Pq.train(emb, "vec_id", "embedding", m = 2, k = 4, iters = 1)
    val requests: Seq[(String, Seq[Long] => Unit)] = Seq(
      "Ivf.probedRescored" -> (q => Ivf.probedRescored(emb, "vec_id", "embedding", m, q, 3).collect()),
      "Mining.hardNegatives" -> (q =>
        graft.ops.Mining.hardNegatives(emb, "vec_id", "embedding", "label", m, q, k = 5).collect()),
      "Pq.searchAdc" -> (q => graft.ops.Pq.searchAdc(emb, "vec_id", "embedding", pq, q, k = 5).collect()),
      "Similarity.annCosineLsh" -> (q =>
        graft.ops.Similarity.annCosineLsh(emb, "vec_id", "embedding", q, k = 5, dim = 64).collect()))
    def stageCode(request: Seq[Long] => Unit, qids: Seq[Long]): Seq[String] = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      codes.clear()
      request(qids)
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      codes.toArray(Array.empty[String]).toSeq
    }
    spark.listenerManager.register(listener)
    try {
      for ((name, request) <- requests) {
        val a = stageCode(request, Seq(0L, 1L, 2L))
        val b = stageCode(request, Seq(5L, 6L, 7L))
        assert(a.nonEmpty && a == b, name)
      }
    } finally spark.listenerManager.unregister(listener)
    // Ivf.search runs its jobs outside any SQL action, so count compiles:
    // a request for other ids compiles no class
    import org.apache.spark.metrics.source.CodegenMetrics
    Ivf.search(emb, "vec_id", "embedding", m, Seq(0L, 1L, 2L), 10, 3).collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Ivf.search(emb, "vec_id", "embedding", m, Seq(5L, 6L, 7L), 10, 3).collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles == 0, "Ivf.search")
  }

  test("staleness guard: in-distribution batch passes, shifted batch trips, retrain clears") {
    for (sf <- Seq(TestSpark.sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
      val corpus = e.filter(col("vec_id") % 5 =!= 0)
      val inc = e.filter(col("vec_id") % 5 === 0)
      def shifted(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding", expr("transform(embedding, x -> x + CAST(0.5 AS FLOAT))"))
      val m = Ivf.train(corpus, "vec_id", "embedding", k = 8, iters = 2)
      val ref = Ivf.driftStatQ(corpus, "vec_id", "embedding", m)
      val inline = Ivf.driftStatQ(inc, "vec_id", "embedding", m)
      val shift = Ivf.driftStatQ(shifted(inc), "vec_id", "embedding", m)
      val m2 = Ivf.train(shifted(corpus), "vec_id", "embedding", k = 8, iters = 2)
      val ref2 = Ivf.driftStatQ(shifted(corpus), "vec_id", "embedding", m2)
      val shift2 = Ivf.driftStatQ(shifted(inc), "vec_id", "embedding", m2)
      info(s"$sf: ref=$ref inline=$inline shifted=$shift ref2=$ref2 shifted2=$shift2")
      assert(!Ivf.isStale(inline, ref),
        s"$sf: in-distribution increment must not trip the guard (ref=$ref batch=$inline)")
      assert(Ivf.isStale(shift, ref),
        s"$sf: mean-offset increment must trip the guard (ref=$ref batch=$shift)")
      // re-train on the shifted corpus: the guard re-baselines and clears
      assert(!Ivf.isStale(shift2, ref2),
        s"$sf: post-retrain batch must clear the guard (ref=$ref2 batch=$shift2)")
    }
  }

  test("train ref persists with the model and reads back exactly") {
    val t = s"t_ivf_ref_${System.nanoTime()}"
    try {
      val ref = Ivf.driftStatQ(emb, "vec_id", "embedding", model)
      Ivf.writeTrainRef(spark, t, ref)
      assert(Ivf.readTrainRef(spark, t) == ref)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${t}_ref")
  }

  test("narrow probe still finds a planted near-duplicate") {
    val base = emb.filter(col("vec_id") === 7L)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].head
    val planted = Seq((9999L, base._2.map(x => x * 1.002f))).toDF("vec_id", "embedding")
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(planted)
    val m = Ivf.train(corpus, "vec_id", "embedding", k = 8, iters = 2)
    val hits = Ivf.search(corpus, "vec_id", "embedding", m, Seq(9999L), k = 3, nprobe = 1)
      .orderBy("rank").collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[Long]("neighbor_id") == 7L,
      "identical-direction twin shares the probed cluster and ranks first")
  }

  test("hierarchical codebook: valid composite cells, twin confinement, partition-invariance") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = (0L until 300L).map(i =>
      (i, Seq.fill(8)((rng.nextDouble() * 2 - 1).toFloat))).toDF("vec_id", "embedding")
    // planted twin: identical direction must share BOTH levels with its source
    val twinOf = base.filter(col("vec_id") === 42L)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val emb = base.unionByName(twinOf)
    val m2 = Ivf.trainHierarchical(emb, "vec_id", "embedding", k2 = 4, targetCell = 20)
    assert(m2.superModel.centroids.size == 4)
    // every trained super-cell's children sized from ITS population
    assert(m2.children.values.forall(_.centroids.nonEmpty))
    val asn = Ivf.assignHierarchical(emb, "vec_id", "embedding", m2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asn.size == 301)
    asn.values.foreach { c =>
      val sc = (c / Ivf.ChildStride).toInt; val child = (c % Ivf.ChildStride).toInt
      assert(sc >= 0 && sc < 4 && child >= 0 && m2.children(sc).centroids.contains(child),
        s"composite $c does not address a trained cell")
    }
    assert(asn(9999L) == asn(42L), "identical twin must share the composite cell")
    // pure function of (corpus, params): input partitioning cannot move a cell
    val re = Ivf.assignHierarchical(emb.repartition(7), "vec_id", "embedding", m2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == asn)
  }

  test("autoK bounds the expected cell: floor at minK, then ceil(n/targetCell)") {
    assert(Ivf.autoK(500) == 8)     // sf0.01: under the floor
    assert(Ivf.autoK(2000) == 20)   // sf0.1: first divergence from fixed k=8
    assert(Ivf.autoK(20000) == 200)
    assert(Ivf.autoK(60000) == 600) // sf3: 100-vector expected cells
    assert(Ivf.autoK(101) == 8 && Ivf.autoK(0) == 8)
    assert(Ivf.autoK(1000, targetCell = 250, minK = 2) == 4)
    intercept[IllegalArgumentException](Ivf.autoK(10, targetCell = 0))
  }
}
