package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Stats, ZOrder}

class LayoutStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------- histogram quantile sketch ----------------

  test("histogram quantiles land within one bin of the exact quantile") {
    val df = (1L to 1000L).map(v => ("g", v)).toDF("g", "v")
    val est = Stats.quantilesHistogram(df, Seq("g"), col("v"), binWidth = 10L)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    val exact = Stats.quantilesDisc(df, Seq("g"), col("v"))
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    for ((q, e) <- exact) {
      assert(est(q) <= e && e < est(q) + 10, s"q=$q exact=$e est_lo=${est(q)}")
    }
  }

  test("histogram sketch state merges by addition (union = summed bins)") {
    val a = (1L to 400L).map(v => ("g", v)).toDF("g", "v")
    val b = (300L to 900L).map(v => ("g", v)).toDF("g", "v")
    val whole = Stats.quantilesHistogram(a.unionByName(b), Seq("g"), col("v"), 50L)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    // merging = just unioning the raw rows before sketching; the bin
    // counts are sums either way because bin assignment is row-local
    assert(whole.nonEmpty)
    val nulls = Stats.quantilesHistogram(
      a.unionByName(Seq(("g", Option.empty[Long])).toDF("g", "v")), Seq("g"), col("v"), 50L)
    val plain = Stats.quantilesHistogram(a, Seq("g"), col("v"), 50L)
    assert(nulls.collect().toSet == plain.collect().toSet, "nulls are ignored")
  }

  // ---------------- z-order ----------------

  private def mortonRef(x: Long, y: Long, bits: Int): Long = {
    var k = 0L
    for (i <- 0 until bits) {
      k |= ((x >> i) & 1L) << (2 * i)
      k |= ((y >> i) & 1L) << (2 * i + 1)
    }
    k
  }

  test("zKey matches an independent Morton implementation") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L), (1234L, 4321L))
      .toDF("x", "y")
    val got = df.select(col("x"), col("y"), ZOrder.zKey("x", "y", 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for ((x, y, z) <- got) assert(z == mortonRef(x, y, 16), s"($x,$y)")
  }

  test("dataCard: per-source datasheet fields, hand-computed") {
    val docs = Seq(
      (0L, "src0", "one two three"),
      (1L, "src0", "one two three"),          // exact dup of doc 0
      (2L, "src0", "x " * 600),               // long doc, 1200 chars
      (3L, "src1", "short caf\u00c3\u00a9 text") // mojibake artifact
    ).toDF("doc_id", "source", "text")
    val out = Stats.dataCard(docs, "source", "text", shortBelowChars = 100)
      .orderBy("source").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    val (n0, chars0, toks0, cpd0, tpd0, dup0, cor0, short0) = out("src0")
    assert(n0 == 3 && dup0 == 1L, "one exact duplicate row in src0")
    assert(chars0 == 13 + 13 + 1200)
    // "x " * 600 splits into 600 tokens + the trailing empty (limit -1)
    assert(toks0 == 3 + 3 + 601)
    assert(cpd0 == chars0 / 3 && tpd0 == toks0 / 3)
    assert(cor0 == 0 && short0 == 2, "the two 13-char docs are short")
    val (n1, _, _, _, _, dup1, cor1, short1) = out("src1")
    assert(n1 == 1 && dup1 == 0 && cor1 == 1 && short1 == 1)
  }

  test("sourceOverlap: hand-computed pair matrix, bp shares, short-doc fallback shingle") {
    val docs = Seq(
      (0L, "s1", "a b c d"),   // grams(k=3): {a b c, b c d}
      (1L, "s2", "a b c x"),   // {a b c, b c x}
      (2L, "s2", "b c d q"),   // {b c d, c d q} → s2 = 4 distinct grams
      (3L, "s3", "zz")         // short doc → single whole-text shingle
    ).toDF("doc_id", "source", "text")
    val out = Stats.sourceOverlap(docs, "source", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("s1", "s2", 2L, 10000L, 5000L)),
      "s1∩s2 = {a b c, b c d}: all of s1's 2 grams, half of s2's 4; s3 pairs with nobody")
  }

  test("driftCard: shares, deltas, corruption rate, appeared/vanished sources") {
    val oldB = Seq(("s1", "a b c"), ("s1", "a b c"), ("s2", "x y"), ("s2", "x y"))
      .toDF("source", "text")
    val newB = Seq(("s1", "a b c d"), ("s3", "z"), ("s3", "z z"), ("s3", "cafÃ© z"))
      .toDF("source", "text")
    val out = Stats.driftCard(oldB, newB, "source", "text")
      .collect().map(r => r.getString(0) -> r.getValuesMap[Long](Seq(
        "old_docs", "new_docs", "old_share_bp", "new_share_bp", "share_delta_bp",
        "old_tokens_per_doc", "new_tokens_per_doc", "tokens_per_doc_delta",
        "new_corrupt_bp", "corrupt_delta_bp"))).toMap
    val s1 = out("s1")
    assert(s1("old_docs") == 2 && s1("new_docs") == 1)
    assert(s1("old_share_bp") == 5000 && s1("new_share_bp") == 2500 && s1("share_delta_bp") == -2500)
    assert(s1("old_tokens_per_doc") == 3 && s1("new_tokens_per_doc") == 4 && s1("tokens_per_doc_delta") == 1)
    val s2 = out("s2") // vanished source: zeros on the new side
    assert(s2("new_docs") == 0 && s2("new_share_bp") == 0 && s2("share_delta_bp") == -5000)
    val s3 = out("s3") // appeared source with one corrupt doc of three
    assert(s3("old_docs") == 0 && s3("new_docs") == 3 && s3("share_delta_bp") == 7500)
    assert(s3("new_tokens_per_doc") == 1, "5 tokens div 3 docs floors to 1")
    assert(s3("new_corrupt_bp") == 3333 && s3("corrupt_delta_bp") == 3333)
  }

  test("median absolute deviation composes from two exact nearest-rank medians") {
    // values 1,2,3,4,100: median (rank ⌈5·0.5⌉=3) = 3; |x-3| = 2,1,0,1,97
    // sorted 0,1,1,2,97 → MAD = 1 — the outlier moves it not at all,
    // while a stddev would read ~43
    val docs = Seq(("s", 1L), ("s", 2L), ("s", 3L), ("s", 4L), ("s", 100L))
      .toDF("source", "n_chars")
    val med = Stats.quantilesDisc(docs, Seq("source"), col("n_chars"), Seq(5000))
      .select(col("source"), col("value").as("median"))
    val dev = docs.join(med, "source")
      .select(col("source"), abs(col("n_chars") - col("median")).as("adev"))
    val mad = Stats.quantilesDisc(dev, Seq("source"), col("adev"), Seq(5000))
      .collect().head.getLong(2)
    assert(med.collect().head.getLong(1) == 3L && mad == 1L)
    // the Hampel gate the MAD exists for (the stats_outliers composition):
    // |x − 3| > 3·1 flags EXACTLY the 100-length doc — 1,2,3,4 all pass
    val flagged = dev.filter(col("adev") > lit(3L) * lit(mad)).collect()
    assert(flagged.length == 1 && flagged.head.getLong(1) == 97L,
      "only the outlier trips the 3·MAD gate")
  }

  test("percentileByGroup: tie-stable per-group percentiles; single-row group reads 0") {
    val df = Seq(
      ("s1", 1L, 10L), ("s1", 2L, 20L), ("s1", 3L, 20L), ("s1", 4L, 40L),
      ("s2", 5L, 99L)).toDF("source", "doc_id", "score")
    val out = Stats.percentileByGroup(df, "source", "score")
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((1L, 0L)))
    assert(out(2L) == ((2L, 2500L)) && out(3L) == ((2L, 2500L)),
      "equal scores share a rank and a percentile")
    assert(out(4L) == ((4L, 7500L)), "3 of 4 strictly below")
    assert(out(5L) == ((1L, 0L)), "a single-row group has nothing below it")
  }

  test("snapshotDiff: all four statuses, hand-computed shares over the id union") {
    val oldB = Seq((1L, "same"), (2L, "was this"), (3L, "gone soon"), (4L, "kept"))
      .toDF("doc_id", "text")
    val newB = Seq((1L, "same"), (2L, "now this"), (4L, "kept"), (5L, "brand new"))
      .toDF("doc_id", "text")
    // union ids {1..5}: unchanged {1,4}, changed {2}, removed {3}, added {5}
    val out = Stats.snapshotDiff(oldB, newB, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("unchanged") == ((2L, 4000L)))
    assert(out("changed") == ((1L, 2000L)))
    assert(out("removed") == ((1L, 2000L)))
    assert(out("added") == ((1L, 2000L)))
  }

  test("snapshotDiff: identical snapshots collapse to one unchanged row") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val out = Stats.snapshotDiff(a, a, "doc_id", "text").collect()
    assert(out.length == 1 && out.head.getString(0) == "unchanged" &&
      out.head.getLong(1) == 2L && out.head.getLong(2) == 10000L)
  }

  test("filterAttribution: marginal vs unique rejections, hand-computed") {
    val rules = Seq(
      (0L, 1L, 1L, 1L), // passes everything
      (1L, 0L, 1L, 1L), // fails A alone → A's unique rejection
      (2L, 0L, 0L, 1L), // fails A+B → unique for neither
      (3L, 1L, 1L, 0L)  // fails C alone → C's unique rejection
    ).toDF("doc_id", "rA", "rB", "rC")
    val out = Stats.filterAttribution(rules, Seq("rA", "rB", "rC"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out("rA") == ((4L, 2L, 1L, 5000L, 2500L)))
    assert(out("rB") == ((4L, 1L, 0L, 2500L, 0L)))
    assert(out("rC") == ((4L, 1L, 1L, 2500L, 2500L)))
    // boolean-typed rule columns take the same path via the internal cast
    val asBool = rules.withColumn("rA", col("rA") === 1L)
    val boolOut = Stats.filterAttribution(asBool, Seq("rA", "rB", "rC"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(boolOut("rA") == 2L)
  }

  test("embedCard: NaN/zero/low-norm/duplicate accounting, hand-computed") {
    val vecs = Seq(
      (0L, "a", Seq(1.0f, 0.0f)),               // nsq = 2^40
      (1L, "a", Seq(1.0f, 0.0f)),               // exact duplicate of 0
      (2L, "a", Seq(0.0f, 0.0f)),               // zero vector (also low-norm)
      (3L, "a", Seq(Float.NaN, 1.0f)),          // NaN: counted, excluded elsewhere
      (4L, "a", Seq(0.1f, 0.0f)),               // low norm: nsq < 2^34
      (5L, "b", Seq(0.5f, 0.5f))
    ).toDF("vec_id", "label", "embedding")
    val out = Stats.embedCard(vecs, "label", "embedding")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    val q = 1048576L
    val (n, nan, zero, low, mn, mx, mean, dist) = out("a")
    assert(n == 5 && nan == 1 && zero == 1 && low == 2, "zero counts as low-norm too")
    assert(mn == 0L && mx == q * q, "envelope over the 4 non-NaN rows")
    // 0.1f quantizes to floor(0.1f·2^20); mean over {2^40, 2^40, 0, m²}
    val m01 = math.floor(0.1f.toDouble * q).toLong
    assert(mean == (q * q * 2 + m01 * m01) / 4)
    assert(dist == 3, "two identical unit vectors collapse to one distinct point")
    assert(out("b")._8 == 1L)
  }

  test("sourceOverlap: within-source duplication never pairs a source with itself") {
    val docs = Seq(
      (0L, "s1", "a b c"), (1L, "s1", "a b c"),  // same gram twice in s1
      (2L, "s2", "q r s")).toDF("doc_id", "source", "text")
    assert(Stats.sourceOverlap(docs, "source", "text", k = 3).count() == 0)
  }
}
