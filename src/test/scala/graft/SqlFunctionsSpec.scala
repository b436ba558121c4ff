package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.chunk.Chunkers

class SqlFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine_similarity is callable from SQL after registration") {
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s," +
        " cosine_similarity(array(1.0D, 0.0D), array(0.0D, 3.0D)) AS o")
      .head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("chunk_windows generator matches the Scala chunker via LATERAL VIEW") {
    val text = ("word " * 60).trim
    Seq((1L, text)).toDF("doc_id", "text").createOrReplaceTempView("t_cw")
    val sqlChunks = spark.sql(
      "SELECT w.chunk_index, w.chunk_text FROM t_cw " +
        "LATERAL VIEW chunk_windows(text, 50, 10) w ORDER BY w.chunk_index")
      .collect().map(r => (r.getInt(0), r.getString(1))).toList
    val direct = Chunkers.splitTextWindows(text, 50, 10).zipWithIndex.map(_.swap)
    assert(sqlChunks == direct)
    assert(sqlChunks.nonEmpty && sqlChunks.forall(_._2.nonEmpty))
  }

  test("chunk_windows skips null text rows") {
    Seq((1L, Option("abc def ghi")), (2L, None: Option[String]))
      .toDF("doc_id", "text").createOrReplaceTempView("t_cw_null")
    val n = spark.sql(
      "SELECT doc_id FROM t_cw_null LATERAL VIEW chunk_windows(text, 5, 1) w").count()
    assert(n > 0)
    val docs = spark.sql(
      "SELECT DISTINCT doc_id FROM t_cw_null LATERAL VIEW chunk_windows(text, 5, 1) w")
      .collect().map(_.getLong(0)).toSet
    assert(docs == Set(1L), "null-text row generates nothing")
  }

  test("chunk_windows yields no rows for null size/overlap, not an NPE") {
    Seq((1L, "abc def ghi")).toDF("doc_id", "text").createOrReplaceTempView("t_cw_nullargs")
    val n = spark.sql(
      "SELECT w.chunk_text FROM t_cw_nullargs " +
        "LATERAL VIEW chunk_windows(text, cast(null as int), 1) w").count()
    assert(n == 0, "null chunk size generates nothing")
    val n2 = spark.sql(
      "SELECT w.chunk_text FROM t_cw_nullargs " +
        "LATERAL VIEW chunk_windows(text, 5, cast(null as int)) w").count()
    assert(n2 == 0, "null overlap generates nothing")
  }

  test("chunk_windows rejects non-integral size at analysis time") {
    Seq((1L, "abc")).toDF("doc_id", "text").createOrReplaceTempView("t_cw_badtype")
    val e = intercept[Exception] {
      spark.sql(
        "SELECT w.chunk_text FROM t_cw_badtype " +
          "LATERAL VIEW chunk_windows(text, 'five', 1) w").collect()
    }
    assert(e.getMessage.toLowerCase.contains("integral") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("sorted_intersect_count matches size(array_intersect) on sorted distinct arrays") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      val a = Seq.fill(rnd.nextInt(50))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(50))(rnd.nextInt(40).toLong).distinct.sorted
      (i.toLong, a, b)
    } :+ ((200L, Seq.empty[Long], Seq(1L, 2L))) :+ // empty side
      ((201L, Seq(-5L, 0L, 7L), Seq(-5L, 0L, 7L))) :+ // identical incl. negatives
      ((202L, Seq(1L, 3L), Seq(2L, 4L))) // disjoint interleaved
    rows.toDF("id", "a", "b").createOrReplaceTempView("t_sic")
    val diff = spark.sql(
      """SELECT id, sorted_intersect_count(a, b) AS fast,
        |  CAST(size(array_intersect(a, b)) AS BIGINT) AS ref
        |FROM t_sic WHERE sorted_intersect_count(a, b) != CAST(size(array_intersect(a, b)) AS BIGINT)
        |""".stripMargin).collect()
    assert(diff.isEmpty, s"mismatches: ${diff.take(5).mkString(", ")}")
    // null on either side → null (BinaryExpression null semantics)
    val n = spark.sql("SELECT sorted_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS v").head
    assert(n.isNullAt(0))
  }

  test("extensions class wires the same builders") {
    // construct the extensions and apply them to a fresh SparkSessionExtensions
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // building a full new session with an existing context won't re-apply
    // extensions; asserting the injection ran without error covers the wiring
    succeed
  }
}
