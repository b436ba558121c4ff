package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{coalesce, lit, when}
import org.apache.spark.sql.types._

/** Byte sampler for the multimodal payload kernels (r18 optimization):
  * the value of `COALESCE(CAST(conv(substring(hex(body), 2*p + 1, 2),
  * 16, 10) AS INT), 0)` — the unsigned body byte at 0-based offset `p`,
  * 0 when the offset is out of range or the input is null — WITHOUT the
  * hex round-trip. The old chain materialized a 2×-payload hex string
  * per row and then paid an O(position) UTF8String scan per sample
  * (64-70 samples × megabyte hex strings dominated every fingerprint
  * pass); this is one bounds-checked array read. The DuckDB oracles keep
  * replaying the hex arithmetic over VARBINARY — a hex digit IS a digest
  * nibble, so the values are equal by construction, and
  * MultimodalKernelSpec pins old-chain ≡ kernel per modality. */
object ByteAtKernel {
  def byteAt(bin: Array[Byte], pos: Long): Int =
    if (bin == null || pos < 0L || pos >= bin.length) 0
    else bin(pos.toInt) & 0xff
}

/** `byte_at(bin, pos)` — unsigned byte of `bin` at 0-based `pos`, 0 when
  * out of range; never null (the old hex chain's COALESCE(..., 0) shape,
  * including null binary / null pos inputs). A null pos becomes -1 before
  * the call: a primitive argument cannot carry the null. */
object ByteAt {
  def apply(bin: Column, pos: Column): Column =
    Kernels.column(ByteAtKernel, IntegerType, "byteAt",
      Seq(bin -> BinaryType, coalesce(pos, lit(-1L)) -> LongType), propagateNull = false)
}

/** The 64 signed PCM16-LE grid samples of a payload body in ONE compiled
  * loop — sample g reads bytes (hdr + 2·pos, hdr + 2·pos + 1) with
  * pos = (g·(blen div 2)) div n and blen = max(len − hdr, 0), exactly the
  * per-sample integer SQL of [[graft.ops.Multimodal.audioSampleSql]]
  * (out-of-range bytes read 0, so empty/short/null bodies yield 0
  * samples). Exists because the column-per-sample form emitted a
  * 131-field projection — past spark.sql.codegen.maxFields, which
  * dropped the whole audio family out of whole-stage codegen. */
object AudioPcm16Kernel {
  def samples(bin: Array[Byte], hdr: Long, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val len = if (bin == null) 0L else bin.length.toLong
    val half = math.max(len - hdr, 0L) / 2L
    val out = new Array[Int](n)
    var g = 0
    while (g < n) {
      val pos = g * half / n
      val lo = ByteAtKernel.byteAt(bin, hdr + 2L * pos)
      val hi = ByteAtKernel.byteAt(bin, hdr + 2L * pos + 1L)
      val raw = lo + 256 * hi
      out(g) = if (raw >= 32768) raw - 65536 else raw
      g += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** `audio_pcm16(bin, hdr)` — the n-sample signed PCM16 grid as
  * array<int>; never null (null/short inputs sample 0s, the old
  * per-sample COALESCE shape). A null header behaves like a null body
  * (the old chain's substring with a null start produced a null body →
  * all-0 samples); it is resolved before the call, since a primitive
  * argument cannot carry the null. */
object AudioPcm16 {
  def apply(bin: Column, hdr: Column, n: Int): Column = {
    require(n >= 1, s"sample count must be >= 1, got $n")
    Kernels.column(AudioPcm16Kernel, ArrayType(IntegerType, containsNull = false), "samples",
      Seq(when(hdr.isNotNull, bin) -> BinaryType, coalesce(hdr, lit(0L)) -> LongType),
      Seq(Literal(n)), propagateNull = false)
  }
}
