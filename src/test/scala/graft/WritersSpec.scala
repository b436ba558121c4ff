package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{Readers, Writers}

class WritersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_w").toString

  test("K1/K2 json sink round-trips; singleFile emits one part") {
    val dir = tmp()
    val df = Seq(("10.1/a", "T1"), ("10.1/b", "T2")).toDF("doi", "title")
    Writers.jsonSink(df, s"$dir/j", singleFile = true)
    val back = spark.read.json(s"$dir/j")
    assert(back.count() == 2)
    val parts = new java.io.File(s"$dir/j").listFiles().count(_.getName.startsWith("part-"))
    assert(parts == 1)
  }

  test("ORC sink round-trips with pushdown-visible schema and partition pruning layout") {
    val dir = tmp()
    val df = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("id", "part", "v")
    Writers.orcSink(df, s"$dir/o", partitionBy = Seq("part"))
    val back = Readers.loadOrc(spark, s"$dir/o")
    assert(back.count() == 3)
    assert(back.filter(org.apache.spark.sql.functions.col("part") === "a").count() == 2)
    val subdirs = new java.io.File(s"$dir/o").listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(subdirs.toSeq == Seq("part=a", "part=b"), "hive-style partition layout")
  }

  // Compaction moved to GenTable.compact (the one maintenance protocol,
  // r12) — its row-preservation, crash, and partitioned-refusal
  // assertions live in GenTableSpec.

  test("bucketed tables join with ZERO exchanges (co-located join)") {
    val a = (0L until 200L).map(i => (i, s"rec$i")).toDF("id", "payload")
    val b = (0L until 200L).map(i => (i, i * 2)).toDF("id", "label")
    Writers.bucketedTableSink(a, "t_bucket_a", "id", numBuckets = 4)
    Writers.bucketedTableSink(b, "t_bucket_b", "id", numBuckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try {
      // disable broadcast so the test proves bucket co-location, not size
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "id")
      assert(joined.count() == 200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed self-key join must not shuffle, got:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS t_bucket_a")
      spark.sql("DROP TABLE IF EXISTS t_bucket_b")
    }
  }

  test("K5 csv failure sink quotes embedded commas (reference bug not reproduced)") {
    val dir = tmp()
    val failures = Seq(("10.1/x", "Brain, Behavior, and Immunity", "abstract_only"))
      .toDF("doi", "journal", "reason")
    Writers.csvFailureSink(failures, s"$dir/f")
    val back = spark.read.option("header", "true").csv(s"$dir/f")
    assert(back.count() == 1)
    assert(back.head.getString(1) == "Brain, Behavior, and Immunity")
  }

  test("K5 csv failure sink is distributed by default, single-file on request") {
    val dir = tmp()
    val failures = (0 until 200).map(i => (s"10.1/$i", s"reason$i"))
      .toDF("doi", "reason").repartition(8)
    Writers.csvFailureSink(failures, s"$dir/dist")
    val distParts = new java.io.File(s"$dir/dist").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(distParts > 1, s"default mode must keep input parallelism, got $distParts part file(s)")
    Writers.csvFailureSink(failures, s"$dir/one", singleFile = true)
    val oneParts = new java.io.File(s"$dir/one").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(oneParts == 1)
    assert(spark.read.option("header", "true").csv(s"$dir/dist").count() == 200)
    assert(spark.read.option("header", "true").csv(s"$dir/one").count() == 200)
  }

  test("A3 splitFailures routes ok/failed/NULL rows to the two sinks without losing any") {
    val dir = tmp()
    val assembled = Seq(
      ("a", Some(true), None), ("b", Some(false), Some("No PMCID")), ("c", None, None)
    ).toDF("doi", "ok", "reason")
    val (ok, failed) = graft.enrich.Enrich.splitFailures(assembled, "ok", "reason")
    Writers.jsonSink(ok, s"$dir/ok")
    Writers.csvFailureSink(failed.drop("ok"), s"$dir/fail")
    val okBack = spark.read.json(s"$dir/ok")
    val failBack = spark.read.option("header", "true").csv(s"$dir/fail")
    assert(okBack.collect().map(_.getAs[String]("doi")).toSeq == Seq("a"))
    assert(failBack.collect().map(_.getAs[String]("doi")).sorted.toSeq == Seq("b", "c"),
      "false AND null rows land in failures")
  }

  test("K6 summary sink writes the one-row metrics record") {
    val dir = tmp()
    Writers.summarySink(Seq((10L, 7L, 1L, 2L))
      .toDF("input_unique_doi", "appended", "skipped_existing", "failures"), s"$dir/s")
    val back = spark.read.json(s"$dir/s")
    assert(back.count() == 1)
    assert(back.select("appended").head.getLong(0) == 7L)
  }

  test("C8 metadata struct rides with every embedded chunk") {
    val records = Seq(("10.1/a", Seq(("Intro", "alpha " * 100)))).toDF("doc_id", "sections")
    val out = graft.pipelines.Pipelines.runIngestAndEmbed(records, None, chunkSize = 200, overlap = 20)
    val meta = out.select("meta.chunker", "meta.chunk_size", "meta.experiment").head
    assert(meta.getString(0) == "by_section")
    assert(meta.getInt(1) == 200)
    assert(meta.getString(2) == "exp1")
  }
}
