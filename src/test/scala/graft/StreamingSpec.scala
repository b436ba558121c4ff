package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingIngest
import graft.io.Tables

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Provider-took-effect check, layout-agnostic: RocksDB's internal
    * checkpoint file NAMES (.zip/.changelog, changelog-vs-snapshot mix) are
    * implementation details that shift across Spark versions; the contract
    * is that state was persisted under the checkpoint and none of it is the
    * HDFS-backed provider's .delta files. Result parity is asserted
    * separately by each caller. */
  private def assertRocksDbStateDir(ckpt: String): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt, "state"))
    val stateFiles =
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toList
      finally walk.close()
    assert(stateFiles.nonEmpty,
      s"no state files under $ckpt/state — state store never persisted")
    assert(!stateFiles.exists(_.endsWith(".delta")),
      "HDFS-backed provider artifacts present — RocksDB conf did not take effect")
  }

  test("streaming tumbling windows match the batch formulation exactly") {
    val stream = StreamingIngest.runTumbling(spark, TestSpark.sf0001, "t_tumbling_spec")
      .select("win_start_s", "event_type", "n")
      .orderBy("win_start_s", "event_type")
      .collect().map(_.toSeq).toList
    val batch = Tables.events(spark, TestSpark.sf0001)
      .withColumn("win_start_s", expr("(ts_us div 3600000000L) * 3600"))
      .groupBy(col("win_start_s"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("win_start_s", "event_type")
      .collect().map(_.toSeq).toList
    assert(stream == batch)
  }

  test("streaming session windows sessionize per user") {
    val out = StreamingIngest.runSessionWindows(spark, TestSpark.sf0001, "t_sessions_spec")
    assert(out.count() > 0)
    val agg = out.groupBy("user_id").agg(sum("n_events").as("total"))
    val events = Tables.events(spark, TestSpark.sf0001).groupBy("user_id").count()
    val joined = agg.join(events, "user_id")
      .filter(col("total") =!= col("count")).count()
    assert(joined == 0, "every event lands in exactly one session")
  }

  /** Two copies of the events file under `dir`, maxFilesPerTrigger=1 → the
    * duplicate arrives one batch LATER and must hit the stored key state.
    * Runs on the GIVEN session (so a caller can pin a state-store
    * provider), returns the deduped per-type counts. */
  private def runCrossBatchDedup(ss: org.apache.spark.sql.SparkSession, dir: String,
                                 name: String, checkpoint: Option[String] = None): Map[String, Long] = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = ss.read.parquet(s"$dir/in_a").schema
    val stream = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in_*")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "100 days") // keep all state: duplicates must dedup, not age out
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val w = stream.writeStream.outputMode("complete")
      .format("memory").queryName(name)
    val q = checkpoint.fold(w)(c => w.option("checkpointLocation", c))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length > 1, "duplicate copy must arrive in a later micro-batch")
    ss.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def writeTwoCopyInput(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_xbatch").toString
    val src = Tables.events(spark, TestSpark.sf0001)
      .select("event_id", "event_type", "ts_us")
    src.write.parquet(s"$dir/in_a")
    src.write.parquet(s"$dir/in_b")
    dir
  }

  test("dropDuplicatesWithinWatermark dedups ACROSS micro-batches") {
    val dir = writeTwoCopyInput()
    val got = runCrossBatchDedup(spark, dir, "t_xbatch_dedup")
    val want = Tables.events(spark, TestSpark.sf0001).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, "cross-batch duplicates collapse to single-copy counts")
  }

  test("cross-batch dedup state hits RocksDB: identical counts, provider artifacts on disk") {
    // the strong form of provider parity for the dropDuplicates path:
    // within-batch duplicates (stream_dedup's shape) barely touch the
    // store, but the second file's duplicates arrive a batch later and
    // must be matched against state the PROVIDER persisted between
    // micro-batches — run the same query under both providers and demand
    // identical results plus RocksDB's own artifacts in the checkpoint
    val dir = writeTwoCopyInput()
    val base = runCrossBatchDedup(spark, dir, "t_xbatch_base")
    val rocksSession = spark.newSession()
    rocksSession.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_xbatch_rocks").toString
    val rocks = runCrossBatchDedup(rocksSession, dir, "t_xbatch_rocks", Some(ckpt))
    assert(rocks == base, "provider choice must not change cross-batch dedup results")
    assertRocksDbStateDir(ckpt)
  }

  test("flatMapGroupsWithState sessionizer emits valid closed sessions") {
    import graft.streaming.StatefulSessionizer
    val out = StatefulSessionizer.run(spark, TestSpark.sf0001, "t_stateful_spec")
    assert(out.count() > 0, "closed sessions emitted")
    // every emitted session must match a session from the batch islands formulation
    val batch = Tables.events(spark, TestSpark.sf0001)
      .withColumn("_prev", org.apache.spark.sql.functions.lag(col("ts_us"), 1)
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))))
      .withColumn("_new", org.apache.spark.sql.functions.when(
        col("_prev").isNull || col("ts_us") - col("_prev") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("_new")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(expr("min(ts_us) div 1000000L").as("session_start_s"), count(lit(1)).as("n_events"))
      .select("user_id", "session_start_s", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val emitted = out.select("user_id", "session_start_s", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bogus = emitted -- batch
    assert(bogus.isEmpty, s"stateful sessions disagree with batch islands: $bogus")
  }

  test("stream-stream interval join equals the batch interval join") {
    val stream = StreamingIngest.runStreamJoin(spark, TestSpark.sf0001, "t_sjoin_spec")
      .select("user_id", "view_id", "click_id")
      .collect().map(_.toSeq).toSet
    val e = Tables.events(spark, TestSpark.sf0001)
    val batch = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts_us").as("v_us"))
      .join(e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("c_us")), "user_id")
      .filter(col("c_us") >= col("v_us") && col("c_us") <= col("v_us") + 600000000L)
      .select("user_id", "view_id", "click_id")
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
    assert(batch.nonEmpty, "fixture produces at least one view→click pair")
  }

  test("stateful queries run green under the RocksDB state store provider, same results") {
    val base = StreamingIngest.runDedupedCounts(spark, TestSpark.sf0001, "t_rocks_base")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rocks_ckpt").toString
    spark.conf.set("graft.streaming.stateStore", "rocksdb")
    try {
      val rocks = StreamingIngest.runDedupedCounts(spark, TestSpark.sf0001,
        "t_rocks_rdb", checkpoint = Some(ckpt))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rocks == base, "provider choice must not change results")
      assertRocksDbStateDir(ckpt)
      val sess = StreamingIngest.runSessionWindows(spark, TestSpark.sf0001, "t_rocks_sess")
      assert(sess.count() > 0, "session windows run under RocksDB too")
    } finally spark.conf.unset("graft.streaming.stateStore")
  }

  test("flatMapGroupsWithState sessionizer produces identical sessions under RocksDB") {
    import graft.streaming.StatefulSessionizer
    val base = StatefulSessionizer.run(spark, TestSpark.sf0001, "t_rocks_fmgs_base")
      .collect().map(_.toSeq).toSet
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rocks_fmgs").toString
    spark.conf.set("graft.streaming.stateStore", "rocksdb")
    try {
      val rocks = StatefulSessionizer.run(spark, TestSpark.sf0001, "t_rocks_fmgs_rdb",
        checkpoint = Some(ckpt)).collect().map(_.toSeq).toSet
      assert(rocks == base, "custom stateful operator must not change results under RocksDB")
      assert(base.nonEmpty, "fixture closes at least one session")
      assertRocksDbStateDir(ckpt)
    } finally spark.conf.unset("graft.streaming.stateStore")
  }

  test("stream_stateful_sessions_prod (RocksDB + 32 state partitions) row-matches the default posture") {
    // VERDICT r16 task 4: posture parity as a full-QUERY check, not just
    // the operator — the prod row swaps BOTH the state-store provider and
    // the state-partition count (4 → 32), so a partitioning-dependent
    // timeout-ordering divergence would surface here even if the
    // provider-only test above stays green.
    val dflt = SparkEntry.queries("stream_stateful_sessions")(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSet
    val prod = SparkEntry.queries("stream_stateful_sessions_prod")(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSet
    assert(prod == dflt, "production posture must be answer-invariant")
    assert(dflt.nonEmpty, "fixture closes at least one non-final session")
    // the prod row must restore the caller session's confs (no leakage
    // into whatever row the bench runs next)
    assert(spark.conf.getOption("graft.streaming.stateStore").isEmpty)
    assert(spark.conf.getOption("graft.streaming.statePartitions").isEmpty)
  }

  test("stream_graph_degrees: streaming edge deltas + maintained state equal the batch histogram") {
    // the streaming face of the incremental graph leg: the full-query row
    // (which runs the stream TWICE — the restart contract) must equal
    // the from-scratch batch histogram over the same synthesized graph
    val stream = SparkEntry.queries("stream_graph_degrees")(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("graph_degrees")(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("streaming incremental dedup probes the persisted index; restart appends nothing") {
    import spark.implicits._
    import graft.ops.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_sdi").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    // 10 duplicates corpus doc 1 verbatim (jaccard 10000); 11 shares no
    // 3-gram shingle with the corpus (novel)
    Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "totally novel words appear here nine ten eleven twelve"))
      .toDF("doc_id", "text").write.parquet(s"$dir/inc")
    val suffix = s"sdi_${System.nanoTime()}"
    val (bandsT, setsT) = (s"t_bands_$suffix", s"t_sets_$suffix")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", bandsT, setsT)
    try {
      def once(): Unit = StreamingIngest.runDedupIncrementalOnce(spark,
        s"$dir/inc", s"$dir/out", s"$dir/ckpt", bandsT, setsT,
        "doc_id", "text", glob = "*.parquet", minJaccardBp = 5000L)
      def kept(): Set[Long] = spark.read
        .option("recursiveFileLookup", "true").parquet(s"$dir/out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      once()
      assert(kept() == Set(11L),
        "the near-dup of a kept corpus doc is dropped; the novel doc is appended")
      once()
      assert(kept() == Set(11L),
        "a restart with the same checkpoint over the unchanged file set commits nothing")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $bandsT")
      spark.sql(s"DROP TABLE IF EXISTS $setsT")
    }
  }

  test("streaming DSIR scores batches against the persisted weights; restart commits nothing") {
    import spark.implicits._
    import graft.ops.Dsir
    val dir = java.nio.file.Files.createTempDirectory("graft_sds").toString
    val corpus = Seq(
      (1L, "src0", "quantum flux capacitor quantum flux"),
      (2L, "srcX", "mundane ordinary plain mundane ordinary")).toDF("doc_id", "source", "text")
    val batch = Seq(
      (10L, "srcY", "quantum flux capacitor engaged"),
      (11L, "srcY", "mundane ordinary plain words")).toDF("doc_id", "source", "text")
    batch.write.parquet(s"$dir/inc")
    val wTable = s"t_dsirw_${System.nanoTime()}"
    Dsir.writeWeights(spark, Dsir.bucketWeights(corpus, "doc_id", "text",
      org.apache.spark.sql.functions.col("source") === "src0"), wTable)
    try {
      def once(): Unit = StreamingIngest.runDsirScoreOnce(spark,
        s"$dir/inc", s"$dir/out", s"$dir/ckpt", wTable, "doc_id", "text", glob = "*.parquet")
      def scored(): Map[Long, Long] = spark.read
        .option("recursiveFileLookup", "true").parquet(s"$dir/out")
        .select("doc_id", "score_q").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    once()
      val first = scored()
      // batch parity: the streaming path must equal scoreWith on the batch
      val direct = Dsir.scoreWith(Dsir.readWeights(spark, wTable), batch, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(first == direct, "streaming scores must equal the batch scoreWith")
      assert(first(10L) > first(11L), "the target-vocabulary doc must outscore the off-target one")
      once()
      assert(scored() == first,
        "a restart with the same checkpoint over the unchanged file set commits nothing")
    } finally spark.sql(s"DROP TABLE IF EXISTS $wTable")
  }

  test("streaming MV fold equals the batch merge; restart commits nothing") {
    import spark.implicits._
    import graft.ops.Mv
    val dir = java.nio.file.Files.createTempDirectory("graft_smv").toString
    val corpus = Seq((1L, "a", 100L), (2L, "b", 200L)).toDF("doc_id", "source", "n_chars")
    val batch = Seq((10L, "a", 50L), (11L, "c", 75L)).toDF("doc_id", "source", "n_chars")
    batch.write.parquet(s"$dir/inc")
    val sTable = s"t_mvstate_${System.nanoTime()}"
    Mv.writeState(spark, Mv.aggState(corpus, "source", "n_chars"), sTable)
    try {
      def once(): Unit = StreamingIngest.runMvMergeOnce(spark,
        s"$dir/inc", s"$dir/out", s"$dir/ckpt", "source", "n_chars", glob = "*.parquet")
      def total(): Map[String, (Long, Long, Long)] =
        StreamingIngest.readMvState(spark, sTable, s"$dir/out", "source")
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      once()
      // the committed artifact is the batch's DELTA (never base-merged —
      // that shape double-counts the base across batches)
      val delta = spark.read.parquet(s"$dir/out/b0")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(delta == Map("a" -> ((1L, 50L, 50L)), "c" -> ((1L, 75L, 75L))))
      val got = total()
      val expect = Mv.merge(Mv.readState(spark, sTable),
        Mv.aggState(batch, "source", "n_chars"), "source")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got == expect, "the read-side fold must equal the batch merge")
      assert(got("a") == ((2L, 150L, 100L)) && got("c") == ((1L, 75L, 75L)))
      once()
      assert(total() == got,
        "a restart with the same checkpoint over the unchanged file set commits nothing")
    } finally spark.sql(s"DROP TABLE IF EXISTS $sTable")
  }

  test("per-batch transform gates docs BEFORE the novelty probe") {
    import spark.implicits._
    import graft.ops.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_sdg").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    // 10 is a verbatim dup (dropped by the probe); 11 is novel but gated
    // out by the transform; 12 is novel and passes the gate
    Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "short junk"),
      (12L, "totally novel words appear here nine ten eleven twelve"))
      .toDF("doc_id", "text").write.parquet(s"$dir/inc")
    val suffix = s"sdg_${System.nanoTime()}"
    val (bandsT, setsT) = (s"t_bands_$suffix", s"t_sets_$suffix")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", bandsT, setsT)
    try {
      StreamingIngest.runDedupIncrementalOnce(spark,
        s"$dir/inc", s"$dir/out", s"$dir/ckpt", bandsT, setsT,
        "doc_id", "text", glob = "*.parquet", minJaccardBp = 5000L,
        transform = b => b.filter(length(col("text")) > 20)
          .withColumn("gated", lit(true)))
      val out = spark.read
        .option("recursiveFileLookup", "true").parquet(s"$dir/out")
      assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(12L),
        "dup dropped by probe, short doc dropped by gate, novel gated doc kept")
      assert(out.columns.contains("gated"),
        "transform-added columns survive into the appended output")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $bandsT")
      spark.sql(s"DROP TABLE IF EXISTS $setsT")
    }
  }

  test("checkpoint restart resumes after the last committed batch; old batches never re-append") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val e = Tables.events(spark, TestSpark.sf0001)
      .select("event_id", "user_id", "event_type", "value")
    val a = e.filter(col("event_id") % 2 === 0)
    val b = e.filter(col("event_id") % 2 =!= 0)
    a.write.parquet(s"$dir/in_a")
    def runOnce(): Unit = {
      val schema = spark.read.parquet(s"$dir/in_a").schema
      val q = spark.readStream.schema(schema).parquet(s"$dir/in_*")
        .writeStream.option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$dir/out"); () }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce() // commits the in_a batch
    assert(spark.read.parquet(s"$dir/out").count() == a.count())
    b.write.parquet(s"$dir/in_b") // new data lands between runs
    runOnce() // restart: must process ONLY in_b
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == e.count(), "restart appended exactly the new batch")
    assert(out.select("event_id").distinct().count() == e.count(),
      "no event re-appended by the restart")
  }

  test("upsert stream: crash between the generation write and its marker recovers on restart") {
    // The tightest crash window the GenTable commit can leave behind:
    // the merged generation fully written, its marker NOT yet published,
    // the stream checkpoint commit NOT yet recorded. A restart must
    // replay the batch against the last COMMITTED generation — the
    // orphan gen dir must be invisible to the merge and recycled by the
    // retried commit.
    val tmp = java.nio.file.Files.createTempDirectory("graft_crash_ups").toString
    val target = s"$tmp/table"
    val ckpt = s"$tmp/ckpt"
    StreamingIngest.runUpsertStream(spark, TestSpark.sf0001, target, ckpt)
    val want = graft.io.GenTable.read(spark, target).get.collect().map(_.toSeq).toSet
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    import org.apache.hadoop.fs.Path
    // reconstruct the crash state on disk: an unpublished next generation…
    graft.io.GenTable.read(spark, target).get.limit(1).write.parquet(s"$target/gen-2")
    // …and in the checkpoint: offsets recorded, commit marker gone —
    // exactly what a kill between the data write and the commit leaves.
    // Deleted through the Hadoop fs so the .crc sidecar goes too (a stale
    // sidecar makes the replayed commit's rename throw AlreadyExists).
    val commitFiles = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val last = commitFiles.map(_.getName.toLong).max
    assert(fs.delete(new Path(s"$ckpt/commits/$last"), false))
    StreamingIngest.runUpsertStream(spark, TestSpark.sf0001, target, ckpt)
    val got = graft.io.GenTable.read(spark, target).get.collect().map(_.toSeq).toSet
    assert(got == want, "restart reconstructed exactly the committed table")
    val gens = new java.io.File(target).listFiles().map(_.getName).filter(_.startsWith("gen-"))
    assert(gens.length == 1, s"orphan generation recycled, got ${gens.toSeq}")
  }

  test("dedup-incremental stream: batch replay after a lost commit marker overwrites, never duplicates") {
    import spark.implicits._
    import graft.ops.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_sdi").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "totally novel words appear here nine ten eleven twelve"))
      .toDF("doc_id", "text").write.parquet(s"$dir/inc")
    val suffix = s"crash_${System.nanoTime()}"
    val (bandsT, setsT) = (s"t_bands_$suffix", s"t_sets_$suffix")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", bandsT, setsT)
    try {
      def once(): Unit = StreamingIngest.runDedupIncrementalOnce(spark,
        s"$dir/inc", s"$dir/out", s"$dir/ckpt", bandsT, setsT,
        "doc_id", "text", glob = "*.parquet", minJaccardBp = 5000L)
      once()
      // kill window: b0 written, commit marker not yet recorded (deleted
      // via Hadoop fs so the .crc sidecar goes too)
      val commits = new java.io.File(s"$dir/ckpt/commits").listFiles()
        .filter(_.getName.forall(_.isDigit))
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$dir/ckpt/commits/${commits.map(_.getName.toLong).max}"), false))
      once() // replays batch 0: the per-batchId overwrite makes it a no-op
      val out = spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/out")
      assert(out.count() == 1 &&
        out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L),
        "replayed batch overwrote its own directory instead of appending a duplicate copy")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $bandsT")
      spark.sql(s"DROP TABLE IF EXISTS $setsT")
    }
  }

  test("foreachBatch upsert stream converges and is idempotent across replays") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val target = s"$tmp/table"
    StreamingIngest.runUpsertStream(spark, TestSpark.sf0001, target, s"$tmp/ckpt1")
    val count1 = graft.io.GenTable.read(spark, target).get.count()
    // replay with a fresh checkpoint: same deterministic keys → same table
    StreamingIngest.runUpsertStream(spark, TestSpark.sf0001, target, s"$tmp/ckpt2")
    val count2 = graft.io.GenTable.read(spark, target).get.count()
    assert(count1 == count2)
    assert(count1 == Tables.events(spark, TestSpark.sf0001).select("event_id").distinct().count())
  }

  test("late-data drop: 10h-late rows never count, the open pusher window never emits") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_late").toString + "/run"
    val out = Pin(StreamingIngest.runLateDrops(spark, TestSpark.sf0001, base))
    // the pusher's window is open at end-of-stream: it must be withheld
    assert(out.filter(col("event_type") === "zz_pusher").count() == 0)
    // the emitted aggregate equals the batch replay of the ON-TIME slice —
    // late rows contributed nothing and every on-time window finalized
    val expect = Tables.events(spark, TestSpark.sf0001)
      .filter(col("event_id") % 5 =!= 0)
      .groupBy(expr("(ts_us div 3600000000L) * 3600").as("win_start_s"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(value * 1048576.0) AS BIGINT)")).as("sum_vq"))
    assert(out.count() == expect.count())
    assert(out.except(expect).isEmpty && expect.except(out).isEmpty)
  }

  test("late-data audit: numRowsDroppedByWatermark tallies exactly the late slice") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_lateaudit").toString + "/run"
    val row = StreamingIngest.runLateDropsAudit(spark, TestSpark.sf0001, base).head()
    val ev = Tables.events(spark, TestSpark.sf0001)
    // Spark tallies watermark drops POST-partial-aggregation: with the
    // late slice staged as one file sharing one rewritten timestamp, the
    // dropped groups are exactly its distinct event types
    val nLateGroups = ev.filter(col("event_id") % 5 === 0)
      .select(col("event_type")).distinct().count()
    val nWindows = ev.filter(col("event_id") % 5 =!= 0)
      .select(expr("ts_us div 3600000000L"), col("event_type")).distinct().count()
    val nInput = ev.count() + 1 // every event plus the pusher row
    assert(row.getLong(0) == nLateGroups,
      s"drop tally ${row.getLong(0)} != late groups $nLateGroups — the " +
        "watermark's discards must be observable, not inferred")
    assert(row.getLong(1) == nWindows && row.getLong(2) == nInput)
    assert(nLateGroups > 0, "fixture must actually exercise the drop path")
  }
}
