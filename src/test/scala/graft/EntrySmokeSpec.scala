package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** The output-shape contract every `SparkEntry.queries` row must satisfy:
  * the driver's oracle harness canonicalizes results by sorting all columns
  * in pandas, which cannot hash ArrayType/MapType/StructType cells
  * (`unhashable type: numpy.ndarray` — the embed_jl r13 break) and
  * float/double columns hash-diverge across engines (the train_shards r13
  * break was a HUGEINT→float64 leak). So: scalar integer/string/bool/
  * date/timestamp columns only. Whitelist a query here ONLY with a
  * documented reason the harness can canonicalize it anyway. */
object OutputShape {
  val whitelist: Set[String] = Set.empty

  def offending(schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] ||
        f.dataType == FloatType || f.dataType == DoubleType =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
}

/** Mirrors the driver's t1 smoke: entry + every declared query must run and
  * return rows at sf0.001. */
class EntrySmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("output-shape lint flags array/map/struct/float columns") {
    val bad = StructType(Seq(
      StructField("ok_id", LongType), StructField("ok_s", StringType),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(StructField("x", LongType)))),
      StructField("f", FloatType), StructField("d", DoubleType)))
    assert(OutputShape.offending(bad).size == 5)
    val good = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("b", BooleanType), StructField("i", IntegerType)))
    assert(OutputShape.offending(good).isEmpty)
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs and returns rows at sf0.001") {
      val df = fn(spark, TestSpark.sf0001)
      if (!OutputShape.whitelist(name)) {
        val off = OutputShape.offending(df.schema)
        assert(off.isEmpty,
          s"$name breaks the scalar-output contract (see OutputShape): ${off.mkString(", ")}")
      }
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  // the audit-only plan builders (capped dedup/LSH variants in the per-round
  // plan dump) must at least ANALYZE — a silent "explain failed" in the dump
  // would drop them from the round's plan audit without anyone noticing
  Explain.auditPlans.foreach { case (name, fn) =>
    test(s"audit plan $name analyzes at sf0.001") {
      assert(fn(spark, TestSpark.sf0001).schema.nonEmpty)
    }
  }
}
