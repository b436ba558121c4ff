package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row gram-hash kernels for the span/winnow families (r17
  * optimization wave 2 — same contract as [[TextHashKernel]]: identical
  * values to the prior relational md5-hex/conv formulations, one compiled
  * loop instead of explode + hex + conv (+ for winnowing, an interpreted
  * higher-order window-min lambda pile measured at whole seconds per
  * corpus pass). GramKernelSpec pins old≡new per call site. */
object GramKernel {

  /** 60-bit md5 word (hex chars [1,15]) of each word-k-gram of a token
    * array, in position order: element p = the hash of
    * `array_join(slice(toks, p+1, k), ' ')`; a document with fewer than k
    * tokens yields ONE gram — all its tokens joined. Token PRECONDITION
    * (caller-enforced): non-null elements, as produced by the tokenizer
    * chains. */
  def gramHashes(toks: ArrayData, k: Int): Array[Long] = {
    val n = toks.numElements()
    val tokBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tokBytes(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    gramHashesOfBytes(tokBytes, k)
  }

  private val MdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private[graft] def gramHashesOfBytes(tokBytes: Array[Array[Byte]], k: Int): Array[Long] = {
    val n = tokBytes.length
    val m = if (n >= k) n - k + 1 else 1
    val width = if (n >= k) k else n
    // ThreadLocal digest (ADVICE r17): getInstance per row was an
    // allocation + JCA provider lookup on the winnow/span hot paths
    val md = MdTl.get()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.reset()
      if (width > 0) {
        md.update(tokBytes(i))
        var t = 1
        while (t < width) { md.update(' '.toByte); md.update(tokBytes(i + t)); t += 1 }
      }
      val d = md.digest()
      out(i) = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
      i += 1
    }
    out
  }

  /** [[gramHashes]] as an array; never null. A null token array keeps the
    * old relational null-text shape: `explode` of the single null shingle
    * produced one (id, NULL) row, so it maps to a one-NULL-element array
    * and downstream explodes see the same row. */
  def gramHashArray(toks: ArrayData, k: Int): ArrayData =
    if (toks == null) new GenericArrayData(Array[Any](null))
    else ArrayData.toArrayData(gramHashes(toks, k))

  /** Robust winnowing picks over the gram-hash array of `text`
    * ([[graft.ops.Winnow.fingerprints]]' selection, Schleimer et al.
    * 2003): for every window of `least(w, m)` consecutive grams, the
    * RIGHTMOST position attaining the window minimum; distinct picks in
    * first-appearance order as struct(pos BIGINT, fp BIGINT). Never null:
    * a null text keeps the old higher-order chain's shape, ONE pick with
    * null pos/fp. */
  def winnowPicks(text: UTF8String, k: Int, w: Int): ArrayData = {
    if (text == null)
      return new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](null, null))))
    val toks = TextHashKernel.tokenBytes(text)
    val g = gramHashesOfBytes(toks, k)
    val m = g.length
    val win = math.min(w, m)
    val picked = new Array[Boolean](m)
    val order = new java.util.ArrayList[Integer](2 * m / (w + 1) + 2)
    var j = 0
    while (j <= m - win) {
      var mn = Long.MaxValue
      var p = -1
      var t = 0
      while (t < win) {
        val v = g(j + t)
        if (v <= mn) { mn = v; p = j + t } // <=: rightmost wins ties
        t += 1
      }
      if (!picked(p)) { picked(p) = true; order.add(p) }
      j += 1
    }
    val rows = new Array[Any](order.size)
    var r = 0
    while (r < order.size) {
      val p = order.get(r).intValue()
      rows(r) = new GenericInternalRow(Array[Any](p.toLong, g(p)))
      r += 1
    }
    new GenericArrayData(rows)
  }
}

/** `gram_hash60(toks)` — [[GramKernel.gramHashArray]] over a token-array
  * column; never null. */
object GramHash60 {
  def apply(toks: Column, k: Int): Column = {
    require(k >= 1, s"k-gram width must be >= 1, got $k")
    Kernels.column(GramKernel, ArrayType(LongType, containsNull = true), "gramHashArray",
      Seq(toks -> ArrayType(StringType)), Seq(Literal(k)), propagateNull = false)
  }
}

/** `winnow_picks(text)` — [[GramKernel.winnowPicks]] over a text column;
  * never null. */
object WinnowPicks {
  private val Picks = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = true),
    StructField("fp", LongType, nullable = true))), containsNull = false)

  def apply(text: Column, k: Int, w: Int): Column = {
    require(k >= 1, s"k-gram width must be >= 1, got $k")
    require(w >= 1, s"winnow window must be >= 1, got $w")
    Kernels.column(GramKernel, Picks, "winnowPicks",
      Seq(text -> StringType), Seq(Literal(k), Literal(w)), propagateNull = false)
  }
}

/** Per-document Bloom shingle probe (r18 optimization): the DISTINCT
  * word-k-gram shingles of a document tested against a broadcast Bloom
  * word array, returning (n_shingles, n_hits) — the values of the old
  * `shingles().distinct()` explode + 4×md5-word `mightContain` +
  * per-doc aggregate chain, in ONE compiled pass with no corpus-shingle
  * exchange at all (the distinct is per-document by construction, since
  * the old relation carried the doc id on every row).
  *
  * Shingle text replicates [[graft.ops.Dedup.shingles]]: the SQL-chain
  * tokens (INCLUDING the "" token of an empty doc) joined by ' ' over
  * each k-window, or all tokens joined when the doc has fewer than k.
  * Bit positions replicate [[graft.ops.Bloom.bitCol]]:
  * pmod(md5 bytes [4s, 4s+4) as an unsigned 32-bit word, numBits).
  * Null text keeps the old chain's single-NULL-shingle shape:
  * (n_shingles, n_hits) = (1, 0). BloomKernelSpec pins old ≡ new. */
object BloomShingleKernel {

  private val MdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def hits(text: UTF8String, words: ArrayData, k: Int,
           numBits: Int, numHashes: Int): InternalRow = {
    if (text == null) return new GenericInternalRow(Array[Any](1L, 0L))
    val toks = TextHashKernel.tokenBytes(text)
    val n = toks.length
    val m = if (n >= k) n - k + 1 else 1
    val width = if (n >= k) k else n
    val seen = new java.util.HashSet[String]()
    val md = MdTl.get()
    var nHits = 0L
    var i = 0
    while (i < m) {
      // shingle string for the distinct set (UTF-8 round-trip of token
      // bytes is exact — the tokens came from a valid string)
      val sb = new java.lang.StringBuilder()
      var t = 0
      while (t < width) {
        if (t > 0) sb.append(' ')
        sb.append(new String(toks(i + t), java.nio.charset.StandardCharsets.UTF_8))
        t += 1
      }
      val shingle = sb.toString
      if (seen.add(shingle)) {
        md.reset()
        md.update(shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val d = md.digest()
        var allSet = true
        var s = 0
        while (s < numHashes && allSet) {
          val w32 = ((d(4 * s) & 0xffL) << 24) | ((d(4 * s + 1) & 0xffL) << 16) |
            ((d(4 * s + 2) & 0xffL) << 8) | (d(4 * s + 3) & 0xffL)
          val bit = w32 % numBits
          val word = words.getLong((bit >> 6).toInt)
          if ((word & (1L << (bit & 63L))) == 0L) allSet = false
          s += 1
        }
        if (allSet) nHits += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](seen.size.toLong, nHits))
  }
}

/** `bloom_shingle_hits(text, words)` — struct(n_shingles, n_hits) of the
  * document's distinct k-shingles against the Bloom word array; never
  * null (null text → (1, 0), the old single-NULL-shingle shape). */
object BloomShingleHits {
  private val Counts = StructType(Seq(
    StructField("n_shingles", LongType, nullable = false),
    StructField("n_hits", LongType, nullable = false)))

  def apply(text: Column, words: Column, k: Int, numBits: Int, numHashes: Int): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
      s"numBits must be a power of two >= 64, got $numBits")
    require(numHashes >= 1 && numHashes <= 4, s"numHashes in [1,4], got $numHashes")
    Kernels.column(BloomShingleKernel, Counts, "hits",
      Seq(text -> StringType, words -> ArrayType(LongType)),
      Seq(Literal(k), Literal(numBits), Literal(numHashes)), propagateNull = false)
  }
}
