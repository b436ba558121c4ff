package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document RAKE top-k keyphrases in ONE compiled pass (r18
  * optimization). RAKE is entirely document-local — stopword-split
  * candidate runs, word deg/freq stats, phrase scores and the top-k are
  * all functions of one document's tokens — yet the relational
  * formulation exploded the corpus token stream and shuffled it on the
  * doc id three times (running-sum segment window, phrase/word-stat
  * aggregates + rescore join, rank window). This kernel computes the
  * same values per row: the plan becomes map-only, zero exchanges.
  *
  * Exactness contract (RakeKernelSpec pins old ≡ new, and the
  * text_keyphrases oracle replays the relational form in DuckDB):
  * tokenization is the SQL chain (lower → \s+ collapse → 0x20 trim →
  * single-space split, "" dropped); a candidate run is a maximal
  * stop-free token run, kept iff its length ≤ maxLen; freq/deg count
  * occurrences over KEPT runs only; wscore = (1000·deg) div freq;
  * a phrase scores the sum of its occurrences' wscores; identical phrase
  * texts in one document collapse (scores are equal — doc-level stats);
  * ranking is (score DESC, phrase ASC by UTF8 binary order), top k. */
object RakeKernel {

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** UTF8String binary comparison over phrase strings — the ordering
    * Spark's string sort applies. */
  private def phraseLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  def rakeTopK(text: UTF8String, stops: java.util.HashSet[String],
               maxLen: Int, k: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    // the SQL tokenizer chain; "" tokens dropped like the relational form
    val collapsed = Ws.matcher(text.toLowerCase.toString).replaceAll(" ")
    var s = 0
    var e = collapsed.length
    while (s < e && collapsed.charAt(s) == ' ') s += 1
    while (e > s && collapsed.charAt(e - 1) == ' ') e -= 1
    val t = collapsed.substring(s, e)
    if (t.isEmpty) return new GenericArrayData(Array.empty[Any])
    val toks = t.split(' ')

    // stopword-split candidate runs, kept iff length <= maxLen
    val kept = new scala.collection.mutable.ArrayBuffer[Array[String]]()
    var run = new scala.collection.mutable.ArrayBuffer[String]()
    def closeRun(): Unit = {
      if (run.nonEmpty) {
        if (run.length <= maxLen) kept += run.toArray
        run = new scala.collection.mutable.ArrayBuffer[String]()
      }
    }
    var i = 0
    while (i < toks.length) {
      val tok = toks(i)
      if (tok.nonEmpty) { if (stops.contains(tok)) closeRun() else run += tok }
      i += 1
    }
    closeRun()
    if (kept.isEmpty) return new GenericArrayData(Array.empty[Any])

    // word deg/freq over kept runs (occurrence-counted, like the
    // explode-words aggregate)
    val freq = new scala.collection.mutable.HashMap[String, Long]()
    val deg = new scala.collection.mutable.HashMap[String, Long]()
    kept.foreach { ph =>
      val plen = ph.length.toLong
      ph.foreach { w =>
        freq.update(w, freq.getOrElse(w, 0L) + 1L)
        deg.update(w, deg.getOrElse(w, 0L) + plen)
      }
    }

    // phrase scores; identical texts collapse (equal scores, keep max)
    val best = new scala.collection.mutable.HashMap[String, Long]()
    kept.foreach { ph =>
      var sc = 0L
      ph.foreach { w => sc += (1000L * deg(w)) / freq(w) }
      val phrase = ph.mkString(" ")
      best.update(phrase, math.max(best.getOrElse(phrase, Long.MinValue), sc))
    }

    // (score DESC, phrase ASC by UTF8 bytes), top k
    val entries = best.iterator.map { case (p, sc) =>
      (p.getBytes(StandardCharsets.UTF_8), p, sc)
    }.toArray
    val sorted = entries.sortWith { (a, b) =>
      if (a._3 != b._3) a._3 > b._3 else phraseLt(a._1, b._1)
    }
    val n = math.min(k, sorted.length)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = new GenericInternalRow(Array[Any](
        (i + 1).toLong, UTF8String.fromString(sorted(i)._2), sorted(i)._3))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `rake_topk(text)` — array<struct<rank, phrase, score_milli>> of the
  * document's top-k RAKE keyphrases; empty array (never null) for
  * null/empty/all-stopword documents, so `explode` drops them exactly
  * like the relational form's empty groups. The stop-word set travels as
  * an object literal, so generated code references it once and is the
  * same on every run. */
object RakeTopK {
  private val Phrases = ArrayType(StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("phrase", StringType, nullable = false),
    StructField("score_milli", LongType, nullable = false))), containsNull = false)

  def apply(text: Column, stopwords: Seq[String], maxLen: Int, k: Int): Column = {
    require(maxLen >= 1 && k >= 1, s"maxLen/k must be >= 1, got $maxLen/$k")
    val stops = new java.util.HashSet[String]()
    stopwords.foreach(stops.add)
    Kernels.column(RakeKernel, Phrases, "rakeTopK", Seq(text -> StringType),
      Seq(Literal.fromObject(stops), Literal(maxLen), Literal(k)), propagateNull = false)
  }
}

/** Per-document term-frequency map (r18 optimization): the values of
  * `explode(tokens) → filter ≠ "" → groupBy(id, term).count` — but
  * counted inside the row, so the search family's shared tf relation
  * needs NO corpus-token exchange at all (the old chain shuffled the
  * exploded token stream on (id, term), again on id for dl, and joined
  * the two). Output elements are sorted by term bytes for deterministic
  * plans; downstream consumers are joins/aggregates, order-insensitive.
  * TermCountsSpec (in Bm25 specs) pins old ≡ new. */
object TermCountsKernel {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def termCounts(text: UTF8String): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val collapsed = Ws.matcher(text.toLowerCase.toString).replaceAll(" ")
    var s = 0
    var e = collapsed.length
    while (s < e && collapsed.charAt(s) == ' ') s += 1
    while (e > s && collapsed.charAt(e - 1) == ' ') e -= 1
    val t = collapsed.substring(s, e)
    if (t.isEmpty) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.TreeMap[String, java.lang.Long]()
    var start = 0
    var i = t.indexOf(' ')
    while (start >= 0) {
      val tok = if (i >= 0) t.substring(start, i) else t.substring(start)
      if (tok.nonEmpty) {
        val prev = counts.get(tok)
        counts.put(tok, if (prev == null) 1L else prev + 1L)
      }
      if (i >= 0) { start = i + 1; i = t.indexOf(' ', start) } else start = -1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val en = it.next()
      out(j) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(en.getKey), en.getValue))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** `term_counts(text)` — array<struct<term, tf>> of the document's
  * non-empty SQL-chain tokens with counts; empty array (never null) for
  * null/empty documents, so `explode` drops them exactly like the old
  * filter + groupBy shape. */
object TermCounts {
  private val Counts = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  def apply(text: Column): Column =
    Kernels.column(TermCountsKernel, Counts, "termCounts", Seq(text -> StringType),
      propagateNull = false)
}
