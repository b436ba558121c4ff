package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.Pin

/** Multimodal-column plumbing (north-star extension): image/audio/video as
  * opaque `binary` payloads plus typed metadata, with decode / feature
  * extraction as batched per-partition transforms.
  *
  * The decode step is a REAL header parser ([[decodeHeader]]): PNG IHDR
  * (big-endian dims at fixed offsets), JPEG SOFn segment walk, WAV RIFF
  * fmt-chunk scan — pure-JVM byte parsing of the public container
  * formats, no codec library. Full-frame pixel/sample decode would need
  * codecs this container lacks; header metadata (dims, sample rate,
  * channels) is what curation pipelines filter on, and that part is
  * genuine. The Spark-side shape is the scale contract: one
  * `mapPartitions` over (id, payload) batches, executor-local parsing,
  * no shuffle, output schema fixed up front.
  *
  * Format references (public specs): PNG — ISO/IEC 15948 §5.2/§11.2.2
  * (8-byte signature, IHDR first chunk, width/height at byte offsets
  * 16/20, big-endian). JPEG — ITU-T T.81 §B.2.2 (marker segments, SOFn
  * frame header: precision, lines, samples/line). WAV — RIFF chunks,
  * `fmt ` chunk with little-endian channels/sample-rate fields.
  */
object Multimodal {

  /** Decoded header metadata. `width`/`height` are image fields (null for
    * audio); `sample_rate`/`channels` are audio fields (null for images);
    * everything null when the payload matches no known magic or its
    * header is truncated/corrupt (format = "unknown"). */
  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_channels", IntegerType, nullable = true)))

  /** Parsed header fields; exactly one of the image pair / audio pair is
    * populated for a recognized format. */
  final case class MediaInfo(format: String, width: Option[Int], height: Option[Int],
                             sampleRate: Option[Int], channels: Option[Int])
  private val Unknown = MediaInfo("unknown", None, None, None, None)

  // ---------------------------------------------------------------- parse

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG: 8-byte signature, then the IHDR chunk (length, "IHDR", 13-byte
    * payload starting width/height as big-endian int32 at absolute
    * offsets 16 and 20). Signature match with a truncated or non-IHDR
    * first chunk → unknown (corrupt), per the strict-first-chunk rule of
    * the spec. */
  private def decodePng(b: Array[Byte]): MediaInfo = {
    if (b.length < 24) return Unknown
    if (!(12 until 16).forall(i => b(i) == "IHDR".charAt(i - 12).toByte)) return Unknown
    val w = be32(b, 16); val h = be32(b, 20)
    if (w <= 0 || h <= 0) Unknown
    else MediaInfo("png", Some(w), Some(h), None, None)
  }

  /** JPEG: SOI, then marker segments `FF xx <len16 payload>`; dimensions
    * live in the first SOFn frame header (markers C0-CF minus C4/C8/CC):
    * `len(2) precision(1) height(2) width(2)`. Standalone markers
    * (D0-D7 RSTn, 01 TEM) carry no length. Hitting SOS/EOI or running
    * out of bytes before any SOF → unknown. */
  private def decodeJpeg(b: Array[Byte]): MediaInfo = {
    // Offset tracked as Long for the same never-throws hardening as
    // decodeWav: segment lengths are be16 (≤65535), so Int wrap needs a
    // payload within ~64 KiB of the 2 GiB JVM array limit — remote, but a
    // hostile stream at that size would turn `i += 2 + segLen` negative
    // and index-out-of-bounds. With Long math it just fails the loop guard.
    var i: Long = 2L
    while (i + 1 < b.length) {
      val ii = i.toInt
      if ((b(ii) & 0xff) != 0xff) return Unknown // marker misalignment: corrupt stream
      val marker = b(ii + 1) & 0xff
      if (marker == 0xff) { i += 1 } // fill bytes before a marker are legal
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) { i += 2 }
      else if (marker == 0xd9 || marker == 0xda) return Unknown // EOI / SOS: no frame header seen
      else {
        if (i + 3 >= b.length) return Unknown
        val segLen = be16(b, ii + 2)
        if (segLen < 2) return Unknown
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (i + 8 >= b.length || segLen < 7) return Unknown
          val h = be16(b, ii + 5); val w = be16(b, ii + 7)
          return if (w <= 0 || h <= 0) Unknown
                 else MediaInfo("jpeg", Some(w), Some(h), None, None)
        }
        i += 2L + segLen
      }
    }
    Unknown
  }

  /** WAV: "RIFF" ... "WAVE", then chunks `id(4) size(le32) payload
    * [pad-to-even]`; the `fmt ` chunk's payload carries channels (le16 at
    * +2) and sample rate (le32 at +4). Chunk walk tolerates preceding
    * non-fmt chunks (LIST, JUNK). */
  private def decodeWav(b: Array[Byte]): MediaInfo = {
    // Offset tracked as Long: a hostile le32 chunk size near Int.MaxValue
    // would overflow Int arithmetic into a negative index and make
    // `new String(b, i, 4)` throw, breaking decodeHeader's never-throws
    // contract. With Long math the oversized offset just fails the loop
    // guard and degrades to Unknown.
    var i: Long = 12L
    while (i + 8 <= b.length) {
      val ii = i.toInt
      val id = new String(b, ii, 4, "US-ASCII")
      val size = le32(b, ii + 4)
      if (size < 0) return Unknown
      if (id == "fmt ") {
        if (size < 16 || i + 8 + 16 > b.length) return Unknown
        val ch = le16(b, ii + 10); val sr = le32(b, ii + 12)
        return if (ch <= 0 || sr <= 0) Unknown
               else MediaInfo("wav", None, None, Some(sr), Some(ch))
      }
      i += 8L + size + (size & 1) // RIFF pads odd-sized chunks to even
    }
    Unknown
  }

  /** Dispatch on magic bytes, then parse the matched container's header.
    * Never throws: anything unparseable is `MediaInfo("unknown", ...)`. */
  def decodeHeader(payload: Array[Byte]): MediaInfo = {
    val b = payload
    if (b.length >= 8 && (0 until 8).forall(i => b(i) == PngSig(i))) decodePng(b)
    else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) decodeJpeg(b)
    else if (b.length >= 12 && new String(b, 0, 4, "US-ASCII") == "RIFF" &&
             new String(b, 8, 4, "US-ASCII") == "WAVE") decodeWav(b)
    else Unknown
  }

  // ---------------------------------------------------------------- build
  // Header builders for fixture payloads: REAL headers per the public
  // specs (PNG CRC included), with arbitrary body bytes appended where
  // the encoded stream would go. Used by the multimodal fixtures and the
  // round-trip spec; a production ingest gets real files instead.

  /** PNG signature + IHDR (8-bit RGB, real CRC-32) + body. Header is a
    * fixed 33 bytes, so n_bytes = 33 + body.length. */
  def buildPng(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"PNG dims must be positive: ${width}x$height")
    val out = java.nio.ByteBuffer.allocate(33 + body.length)
    out.put(PngSig)
    out.putInt(13) // IHDR payload length
    val typeAndData = java.nio.ByteBuffer.allocate(17)
    typeAndData.put("IHDR".getBytes("US-ASCII"))
    typeAndData.putInt(width).putInt(height)
    typeAndData.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val crc = new java.util.zip.CRC32
    crc.update(typeAndData.array())
    out.put(typeAndData.array())
    out.putInt(crc.getValue.toInt)
    out.put(body)
    out.array()
  }

  /** SOI + APP0/JFIF + a DQT stub (exercises segment skipping) + SOF0 +
    * body. Header is a fixed 39 bytes, so n_bytes = 39 + body.length. */
  def buildJpeg(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff,
      s"JPEG dims must fit 16 bits: ${width}x$height")
    val out = java.nio.ByteBuffer.allocate(39 + body.length)
    out.put(0xff.toByte).put(0xd8.toByte) // SOI
    out.put(0xff.toByte).put(0xe0.toByte).putShort(16) // APP0, len 16
    out.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    out.put(1.toByte).put(1.toByte) // version 1.1
    out.put(0.toByte).putShort(1).putShort(1) // density units/x/y
    out.put(0.toByte).put(0.toByte) // no thumbnail
    out.put(0xff.toByte).put(0xdb.toByte).putShort(4).putShort(0) // DQT stub
    out.put(0xff.toByte).put(0xc0.toByte).putShort(11) // SOF0, len 11 (1 component)
    out.put(8.toByte).putShort(height.toShort).putShort(width.toShort)
    out.put(1.toByte) // 1 component
    out.put(1.toByte).put(0x11.toByte).put(0.toByte) // id, 1x1 sampling, quant table 0
    out.put(body)
    out.array()
  }

  /** RIFF/WAVE + 16-byte PCM `fmt ` chunk + `data` chunk holding the
    * body. Header is a fixed 44 bytes, so n_bytes = 44 + body.length. */
  def buildWav(sampleRate: Int, channels: Int, body: Array[Byte]): Array[Byte] = {
    require(sampleRate > 0 && channels > 0, s"WAV params must be positive: $sampleRate/$channels")
    val out = java.nio.ByteBuffer.allocate(44 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + body.length)
    out.put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
    out.putShort(1) // PCM
    out.putShort(channels.toShort).putInt(sampleRate)
    val blockAlign = channels * 2 // 16-bit samples
    out.putInt(sampleRate * blockAlign).putShort(blockAlign.toShort).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(body.length)
    out.put(body)
    out.array()
  }

  // ---------------------------------------------------------------- spark

  /** Attach a binary payload column (UTF-8 text bytes stand in for media
    * blobs in the fixture data) — the storage contract for multimodal rows:
    * payloads are opaque bytes, never strings, never parsed by Catalyst. */
  def withPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"))

  /** Decode/feature-extract over payload batches: one `mapPartitions`, no
    * shuffle, executor-parallel — the multimodal analogue of the batched
    * embedding map (SURVEY.md §2.7 V1). Each row's header is parsed by
    * [[decodeHeader]]; unrecognized payloads survive as format=unknown
    * rows (curation filters on format downstream) instead of failing the
    * partition. */
  def decodeMeta(withPayloads: DataFrame): DataFrame = {
    val spark = withPayloads.sparkSession
    import spark.implicits._
    withPayloads.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.grouped(64).flatMap { batch =>
          batch.map { case (id, payload) =>
            val m = decodeHeader(payload)
            (id, m.format, payload.length.toLong, m.width, m.height, m.sampleRate, m.channels)
          }
        }
      }
      .toDF("media_id", "format", "n_bytes", "width", "height", "sample_rate", "n_channels")
  }

  /** Resize plan: aspect-preserving fit of each (width, height) into a
    * target box, plus letterbox offsets — the integer geometry a real
    * resizer executes per image, computed as pure expressions so the plan
    * (like the decode schema contract) is testable without codecs.
    * Scale factor is applied in exact integer arithmetic:
    * out_w = max(1, w*target/max(w,h)) etc., centered offsets. */
  def resizePlan(meta: DataFrame, targetW: Int, targetH: Int): DataFrame =
    meta
      .withColumn("out_w", // fit by the limiting dimension, exact integer scale
        greatest(lit(1), when(col("width") * targetH >= col("height") * targetW,
          lit(targetW)).otherwise(expr(s"int((width * ${targetH}L) div height)"))))
      .withColumn("out_h",
        greatest(lit(1), when(col("width") * targetH >= col("height") * targetW,
          expr(s"int((height * ${targetW}L) div width)")).otherwise(lit(targetH))))
      .withColumn("pad_x", ((lit(targetW) - col("out_w")) / 2).cast("int"))
      .withColumn("pad_y", ((lit(targetH) - col("out_h")) / 2).cast("int"))

  // ---------------------------------------------------------------- phash

  /** Blocked perceptual hash (difference/gradient hash, the dHash family):
    * sample the payload BODY bytes on a fixed [[DHashRows]]×[[DHashCols]]
    * grid (evenly spaced byte positions — the stand-in for a decoded,
    * downscaled luma grid; a codec-backed ingest swaps the sampler, the
    * hash/banding/verify machinery is codec-agnostic), then emit one bit
    * per horizontal gradient: bit = 1 iff grid[r][c+1] > grid[r][c].
    * 7×10 samples → 63 bits, so the hash is a non-negative BIGINT in both
    * engines (bit 63 would flip the sign and DuckDB range-checks the
    * shift). Identical bodies hash identically; a local byte edit flips
    * only the bits whose sample positions cross it — which is what makes
    * Hamming distance a near-dup signal ([[phashNearDup]]).
    *
    * The hash is PURE INTEGER SQL over `hex(body)` — the same generated
    * fragment (modulo `div` vs `//` and `conv` vs `'0x'` parsing) runs in
    * Spark and DuckDB, the [[graft.ops.Dsir.ilog2qSql]] parity pattern, so
    * every phash (and thus every banded bucket and Hamming verdict)
    * replays bit-for-bit in the oracle. */
  val DHashRows = 7
  val DHashCols = 10
  val DHashBits: Int = DHashRows * (DHashCols - 1) // 63

  /** Unsigned value of body byte `(k·len) div N` read from the hex string
    * `hx` (2 chars per byte, 1-based substring — byte-exact in both
    * dialects where raw-string substring would be char-based). Empty
    * bodies coalesce to 0 (⇒ hash 0). */
  private def sampleSql(k: Int, hx: String, blen: String, duck: Boolean): String = {
    val n = DHashRows * DHashCols
    val pos = if (duck) s"(($k * $blen) // $n)" else s"(($k * $blen) div $n)"
    val two = s"substring($hx, 2 * $pos + 1, 2)"
    if (duck) s"COALESCE(TRY_CAST('0x' || $two AS INT), 0)"
    else s"COALESCE(CAST(conv($two, 16, 10) AS INT), 0)"
  }

  /** The full 63-bit dHash expression over a hex-string column + byte
    * length column: (alias, expression) per grid sample, plus the bit
    * fold, assembled per dialect; callers materialize the samples as
    * columns/CTE fields so the fold references them by name. */
  def dHashSamplePairs(hx: String, blen: String, duck: Boolean): Seq[(String, String)] =
    (0 until DHashRows * DHashCols).map(k => (s"_v$k", sampleSql(k, hx, blen, duck)))

  def dHashSampleCols(hx: String, blen: String, duck: Boolean): Seq[String] =
    dHashSamplePairs(hx, blen, duck).map { case (a, e) => s"$e AS $a" }

  // ---- native Spark-side byte sampling (r18 optimization) --------------
  // The duck = false generated fragments above read each sample via
  // substring over hex(body): a 2×-payload hex string per row plus an
  // O(position) UTF8String scan per sample — 64-70 samples × megabyte
  // strings dominated every fingerprint pass. The Spark side now reads
  // the payload byte directly through the codegen'd
  // [[org.apache.spark.sql.graft.ByteAt]] kernel (same value, including
  // the empty/short/null → 0 coalesce shape; MultimodalKernelSpec pins
  // old-chain ≡ kernel per modality). The duck = true fragments are
  // untouched — the oracles keep replaying the hex arithmetic.

  /** `_hdr`/`_blen` prep for the native samplers: body length as
    * max(len(payload) − header, 0) — identical to length(substring(...)),
    * without the body copy. */
  private def withBodyLen(payloads: DataFrame, headerLenSql: String): DataFrame =
    payloads
      .withColumn("_hdr", expr(headerLenSql).cast("long"))
      .withColumn("_blen",
        greatest(length(col("payload")).cast("long") - col("_hdr"), lit(0L)))

  /** Unsigned body byte at the 0-based offset given by integer SQL over
    * `_blen` (offsets into the payload by `_hdr`). */
  private def bodyByteAt(posSql: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ByteAt(col("payload"),
      col("_hdr") + expr(posSql).cast("long"))

  def dHashFromSamplesSql: String =
    (0 until DHashBits).map { b =>
      val r = b / (DHashCols - 1); val c = b % (DHashCols - 1)
      val lo = r * DHashCols + c
      s"(CASE WHEN _v${lo + 1} > _v$lo THEN CAST(1 AS BIGINT) << $b ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** (media_id, phash) over payload rows: strip each format's fixed
    * header ([[buildPng]]/[[buildJpeg]]/[[buildWav]] sizes — byte-based
    * `substring` on BINARY), hex the body, hash. Map-only, codegen'd —
    * no UDF, no shuffle. `headerLenSql` must yield each row's header
    * size; the fixture convention (round-robin by id) is the default. */
  def phash(payloads: DataFrame,
            headerLenSql: String =
              "CASE CAST(media_id % 3 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 39 ELSE 44 END"): DataFrame = {
    val n = DHashRows * DHashCols
    val sampled = (0 until n).foldLeft(withBodyLen(payloads, headerLenSql)) {
      (d, k) => d.withColumn(s"_v$k", bodyByteAt(s"(($k * _blen) div $n)"))
    }
    sampled.withColumn("phash", expr(dHashFromSamplesSql))
      .select(col("media_id"), col("phash"))
  }

  /** Hamming-banded near-dup over perceptual hashes — the image analogue
    * of [[Dedup.simhashCandidates]]+verify: split each 63-bit hash into
    * [[PhashBands]] 21-bit bands, block on (band index, band value)
    * equality — by the pigeonhole rule any pair within Hamming ≤ 2 bands'
    * worth of error shares at least one intact band — then verify
    * candidates with exact `bit_count(a XOR b) <= maxHamming`. Scale
    * shape: the band relation is 3 rows per image; candidates come from
    * an equi-join on high-entropy 21-bit keys (the minhash-band shape,
    * small buckets), never all-pairs; the verify is a map over candidate
    * pairs. Returns (id_a, id_b, hamming). */
  val PhashBands = 3
  val PhashBandBits: Int = DHashBits / PhashBands // 21

  def phashNearDup(hashes: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int): DataFrame =
    bandedNearDup(hashes, idCol, hashCol, maxHamming, PhashBands, PhashBandBits)

  /** The banding/verify machinery behind [[phashNearDup]] and
    * [[audioNearDup]], generalized over the hash geometry: `nBands`
    * bands of `bandBits` bits each (the hash must fit in
    * nBands·bandBits < 64 bits). Pigeonhole: any pair within
    * `nBands - 1` bands' worth of error shares at least one intact
    * band, so banding at Hamming budget h needs nBands > h / bandBits
    * in the worst case — callers pick geometry so the budget they
    * verify at is covered. */
  def bandedNearDup(hashes: DataFrame, idCol: String, hashCol: String,
                    maxHamming: Int, nBands: Int, bandBits: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be non-negative: $maxHamming")
    require(nBands >= 1 && bandBits >= 1 && nBands * bandBits < 64,
      s"bad band geometry: $nBands x $bandBits bits")
    val mask = (1L << bandBits) - 1L
    val bands = Pin(hashes.select(col(idCol), col(hashCol)))
      .select(col(idCol), col(hashCol),
        explode(expr(s"transform(sequence(0, ${nBands - 1}), " +
          s"i -> struct(i AS band_idx, shiftright($hashCol, i * $bandBits) & $mask AS band_val))")).as("_b"))
      .select(col(idCol), col(hashCol), col("_b.band_idx"), col("_b.band_val"))
    val a = bands.select(col(idCol).as("id_a"), col(hashCol).as("_ha"),
      col("band_idx"), col("band_val"))
    val b = bands.select(col(idCol).as("id_b"), col(hashCol).as("_hb"),
      col("band_idx"), col("band_val"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(expr("_ha ^ _hb")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------------------- audio

  /** Audio frame statistics over WAV payload bodies — the audio analogue
    * of [[phash]]'s sampled grid: read [[AudioFrames]]×[[AudioSamplesPerFrame]]
    * PCM16-LE samples at evenly spaced positions (the stand-in for a
    * resampled mono stream; a codec-backed ingest swaps the sampler, the
    * framing/stats/silence machinery is codec-agnostic), then per frame:
    *  - `energy`   Σ v² of the frame's sampled values (the VAD feature),
    *  - `zcross`   sign flips between consecutive sampled values (real
    *               PCM semantics — ASCII stand-in bodies are all-positive,
    *               so the spec pins it with crafted negative samples),
    *  - `reversals` direction changes (v[i+1]>v[i] flips) — the temporal
    *               dHash that gives the fixture bodies hash variety,
    *  - `peak`     max |v|, and `is_silence` = energy < [[AudioSilenceFloor]].
    *
    * Like the phash, the whole computation is PURE INTEGER SQL over
    * `hex(body)` — one generated fragment runs in both engines, so every
    * frame row replays bit-for-bit in the oracle. Map-only, codegen'd,
    * no UDF, no shuffle. */
  val AudioFrames = 8
  val AudioSamplesPerFrame = 8
  val AudioSilenceFloor = 1000000L

  /** Signed PCM16-LE sample `(g·nSamp) div N` of the body as integer SQL
    * over the hex string (nSamp = blen div 2; empty/short bodies read 0). */
  private def audioSampleSql(g: Int, hx: String, blen: String, duck: Boolean): String = {
    val n = AudioFrames * AudioSamplesPerFrame
    val div = if (duck) "//" else "div"
    val pos = s"(($g * ($blen $div 2)) $div $n)"
    def byteAt(off: String): String = {
      val two = s"substring($hx, 2 * ($off) + 1, 2)"
      if (duck) s"COALESCE(TRY_CAST('0x' || $two AS INT), 0)"
      else s"COALESCE(CAST(conv($two, 16, 10) AS INT), 0)"
    }
    val raw = s"(${byteAt(s"2 * $pos")} + 256 * ${byteAt(s"2 * $pos + 1")})"
    s"($raw - (CASE WHEN $raw >= 32768 THEN 65536 ELSE 0 END))"
  }

  /** (alias, expression) per grid sample — callers materialize these as
    * columns/CTE fields so the frame folds reference them by name. */
  def audioSamplePairs(hx: String, blen: String, duck: Boolean): Seq[(String, String)] =
    (0 until AudioFrames * AudioSamplesPerFrame)
      .map(g => (s"_a$g", audioSampleSql(g, hx, blen, duck)))

  def audioSampleCols(hx: String, blen: String, duck: Boolean): Seq[String] =
    audioSamplePairs(hx, blen, duck).map { case (a, e) => s"$e AS $a" }

  /** Native Spark-side `_a$g` signed PCM16-LE sample columns — the
    * duck = false [[audioSampleSql]] values via [[bodyByteAt]] (same
    * integer index arithmetic, byte reads through the kernel). */
  private[graft] def withAudioSamples(payloads: DataFrame, headerLenSql: String): DataFrame = {
    // one array-valued kernel call, not 64 sample columns over 128 byte
    // reads: the column-per-sample form emitted a 131-field projection —
    // past spark.sql.codegen.maxFields (100) — which silently dropped the
    // whole audio family out of whole-stage codegen (the plan's unstarred
    // Projects), at ~1.5 ms/row
    val n = AudioFrames * AudioSamplesPerFrame
    val withArr = payloads
      .withColumn("_hdr", expr(headerLenSql).cast("long"))
      .withColumn("_pcm", org.apache.spark.sql.graft.AudioPcm16(
        col("payload"), col("_hdr"), n))
    (0 until n).foldLeft(withArr) { (d, g) =>
      d.withColumn(s"_a$g", element_at(col("_pcm"), g + 1))
    }
  }

  /** Per-frame stat fold over the sample columns; dialect-free. */
  def audioFrameStatSql(f: Int, stat: String): String = {
    val ks = (0 until AudioSamplesPerFrame).map(k => f * AudioSamplesPerFrame + k)
    stat match {
      case "energy" =>
        ks.map(g => s"CAST(_a$g AS BIGINT) * _a$g").mkString("(", " + ", ")")
      case "zcross" =>
        ks.init.zip(ks.tail)
          .map { case (i, j) => s"(CASE WHEN CAST(_a$i AS BIGINT) * _a$j < 0 THEN 1 ELSE 0 END)" }
          .mkString("CAST((", " + ", ") AS BIGINT)")
      case "reversals" =>
        // sign of each step; a reversal is a strict sign flip (+→- or -→+),
        // plateaus break runs but don't count
        val steps = ks.init.zip(ks.tail)
          .map { case (i, j) => s"(CASE WHEN _a$j > _a$i THEN 1 WHEN _a$j < _a$i THEN -1 ELSE 0 END)" }
        steps.init.zip(steps.tail)
          .map { case (a, b) => s"(CASE WHEN $a * $b = -1 THEN 1 ELSE 0 END)" }
          .mkString("CAST((", " + ", ") AS BIGINT)")
      case "peak" =>
        ks.map(g => s"abs(CAST(_a$g AS BIGINT))").mkString("greatest(", ", ", ")")
      case other => throw new IllegalArgumentException(s"unknown stat: $other")
    }
  }

  /** (media_id, frame_idx, energy, zcross, reversals, peak, is_silence)
    * over WAV payload rows: strip the RIFF header, hex the body, sample,
    * fold per frame, explode to one row per frame. */
  def audioFrameStats(payloads: DataFrame,
                      headerLenSql: String = "44"): DataFrame = {
    val sampled = withAudioSamples(payloads, headerLenSql)
    // ONE 33-field projection for the frame folds (a withColumn chain
    // over the 64 sample columns re-crossed codegen's 100-field limit)
    val framed = sampled.select(col("media_id") +:
      (0 until AudioFrames).flatMap(f => Seq(
        expr(audioFrameStatSql(f, "energy")).as(s"_e$f"),
        expr(audioFrameStatSql(f, "zcross")).as(s"_z$f"),
        expr(audioFrameStatSql(f, "reversals")).as(s"_r$f"),
        expr(audioFrameStatSql(f, "peak")).as(s"_p$f"))): _*)
    def pick(prefix: String): String =
      (0 until AudioFrames).map(f => s"WHEN $f THEN ${prefix}$f")
        .mkString("CASE frame_idx ", " ", " END")
    framed
      .withColumn("frame_idx", explode(expr(s"sequence(0, ${AudioFrames - 1})")))
      .withColumn("energy", expr(pick("_e")))
      .withColumn("zcross", expr(pick("_z")))
      .withColumn("reversals", expr(pick("_r")))
      .withColumn("peak", expr(pick("_p")))
      .withColumn("is_silence",
        when(col("energy") < AudioSilenceFloor, 1).otherwise(0))
      .select("media_id", "frame_idx", "energy", "zcross", "reversals", "peak", "is_silence")
  }

  // ------------------------------------------------ video shot boundaries

  /** Shot-boundary detection — the temporal-segmentation leg that makes
    * video a first-class modality beside image hashing and audio frame
    * stats (frame SAMPLING alone is bookkeeping, not analysis):
    * [[VideoFrames]] frames are sampled uniformly from the payload body,
    * each reduced to a mean "luma" over [[VideoBytesPerFrame]] sampled
    * bytes, and a boundary fires where the absolute frame-to-frame luma
    * delta exceeds `minDelta` — the classic intensity-difference cut
    * detector (the first tier of every shot-segmentation stack), with
    * the codec stubbed as the byte grid per the repo's multimodal
    * convention: the Spark-side plumbing (uniform frame sampling,
    * per-frame reduction, temporal differencing, thresholding) is the
    * real operator and a decoder swaps in behind the same columns.
    *
    * ONE map-only generated expression per media row — no explode, no
    * shuffle, embarrassingly parallel over media at any corpus size; the
    * integer fragments replay bit-for-bit in the oracle (duck = true). */
  val VideoFrames = 16
  val VideoBytesPerFrame = 4

  /** Unsigned byte `(g·blen) div N` of the body grid (N = total sampled
    * bytes); empty/short bodies read 0. */
  private def videoByteSql(g: Int, hx: String, blen: String, duck: Boolean): String = {
    val n = VideoFrames * VideoBytesPerFrame
    val div = if (duck) "//" else "div"
    val pos = s"(($g * $blen) $div $n)"
    val two = s"substring($hx, 2 * ($pos) + 1, 2)"
    if (duck) s"COALESCE(TRY_CAST('0x' || $two AS INT), 0)"
    else s"COALESCE(CAST(conv($two, 16, 10) AS INT), 0)"
  }

  /** (alias, expression) per frame: mean unsigned-byte luma. */
  def videoLumaPairs(hx: String, blen: String, duck: Boolean): Seq[(String, String)] = {
    val div = if (duck) "//" else "div"
    (0 until VideoFrames).map { f =>
      val bytes = (0 until VideoBytesPerFrame)
        .map(k => videoByteSql(f * VideoBytesPerFrame + k, hx, blen, duck))
      (s"_l$f", bytes.mkString("((", " + ", s") $div $VideoBytesPerFrame)"))
    }
  }

  def videoLumaCols(hx: String, blen: String, duck: Boolean): Seq[String] =
    videoLumaPairs(hx, blen, duck).map { case (a, e) => s"$e AS $a" }

  /** Native Spark-side `_v$g` raw grid samples — the duck = false
    * [[videoByteSql]] values via [[bodyByteAt]]. */
  private def withVideoSamples(payloads: DataFrame, headerLenSql: String): DataFrame = {
    val n = VideoFrames * VideoBytesPerFrame
    (0 until n).foldLeft(withBodyLen(payloads, headerLenSql)) { (d, g) =>
      d.withColumn(s"_v$g", bodyByteAt(s"(($g * _blen) div $n)"))
    }
  }

  /** Native Spark-side `_l$f` per-frame mean-luma columns over
    * [[withVideoSamples]] — the duck = false [[videoLumaPairs]] fold. */
  private def withVideoLumas(payloads: DataFrame, headerLenSql: String): DataFrame =
    (0 until VideoFrames).foldLeft(withVideoSamples(payloads, headerLenSql)) { (d, f) =>
      val bytes = (0 until VideoBytesPerFrame).map(k => s"_v${f * VideoBytesPerFrame + k}")
      d.withColumn(s"_l$f",
        expr(bytes.mkString("((", " + ", s") div $VideoBytesPerFrame)")))
    }

  /** Shot summary folds over the luma columns; dialect-free. */
  def shotStatSql(stat: String, minDelta: Long): String = {
    val deltas = (1 until VideoFrames).map(f => s"abs(_l$f - _l${f - 1})")
    stat match {
      case "n_boundaries" =>
        deltas.map(d => s"(CASE WHEN $d > $minDelta THEN 1 ELSE 0 END)")
          .mkString("CAST((", " + ", ") AS BIGINT)")
      case "first_boundary" =>
        (1 until VideoFrames)
          .map(f => s"WHEN abs(_l$f - _l${f - 1}) > $minDelta THEN $f")
          .mkString("CAST(CASE ", " ", " ELSE -1 END AS BIGINT)")
      case "max_delta" =>
        deltas.mkString("CAST(greatest(", ", ", ") AS BIGINT)")
      case other => throw new IllegalArgumentException(s"unknown stat: $other")
    }
  }

  /** (media_id, n_shots, n_boundaries, first_boundary, max_delta) per
    * payload row; `first_boundary` is the frame index of the first cut,
    * −1 when the clip is a single shot. */
  def shotBoundaries(payloads: DataFrame, headerLenSql: String = "33",
                     minDelta: Long = 16L): DataFrame = {
    require(minDelta >= 0, s"minDelta must be >= 0, got $minDelta")
    withVideoLumas(payloads, headerLenSql)
      .withColumn("n_boundaries", expr(shotStatSql("n_boundaries", minDelta)))
      .withColumn("first_boundary", expr(shotStatSql("first_boundary", minDelta)))
      .withColumn("max_delta", expr(shotStatSql("max_delta", minDelta)))
      .select(col("media_id"),
        (col("n_boundaries") + lit(1L)).as("n_shots"),
        col("n_boundaries"), col("first_boundary"), col("max_delta"))
  }

  /** Dialect-free per-frame keyframe fragments over the luma columns:
    * frame f STARTS a shot iff f = 0 or its delta crosses `minDelta`
    * (the same cut rule as [[shotBoundaries]]); a start frame's shot
    * index is the count of starts at or before it, minus one. */
  def keyframeFlagSql(f: Int, minDelta: Long): String =
    if (f == 0) "1"
    else s"(CASE WHEN abs(_l$f - _l${f - 1}) > $minDelta THEN 1 ELSE 0 END)"
  def keyframeShotIdxSql(f: Int, minDelta: Long): String =
    (0 to f).map(keyframeFlagSql(_, minDelta)).mkString("(", " + ", ") - 1")

  /** Representative-frame extraction — the step after [[shotBoundaries]]
    * in a video pipeline: one row per SHOT, carrying the shot's first
    * frame index and that frame's luma (the thumbnail/embedding frame a
    * downstream image stage consumes; "first frame after the cut" is the
    * standard representative heuristic, and here it is integer-exact).
    * Map-only like the boundary fold: the per-frame start flags and
    * cumulative shot indexes are inline sums over the luma columns —
    * no window, no shuffle; the only explode is the ≤[[VideoFrames]]
    * struct array per clip. Output:
    * (media_id, shot_idx, start_frame, luma). */
  def keyframes(payloads: DataFrame, headerLenSql: String = "33",
                minDelta: Long = 16L): DataFrame = {
    require(minDelta >= 0, s"minDelta must be >= 0, got $minDelta")
    val sampled = withVideoLumas(payloads, headerLenSql)
    val structs = (0 until VideoFrames).map { f =>
      s"named_struct('is_start', ${keyframeFlagSql(f, minDelta)}, " +
        s"'shot_idx', CAST(${keyframeShotIdxSql(f, minDelta)} AS BIGINT), " +
        s"'start_frame', CAST($f AS BIGINT), 'luma', CAST(_l$f AS BIGINT))"
    }
    sampled
      .select(col("media_id"), explode(expr(structs.mkString("array(", ", ", ")"))).as("kf"))
      .filter(col("kf.is_start") === 1)
      .select(col("media_id"), col("kf.shot_idx").as("shot_idx"),
        col("kf.start_frame").as("start_frame"), col("kf.luma").as("luma"))
  }

  // ------------------------------------------------ audio fingerprint

  /** Per-clip audio fingerprint in the Haitsma & Kalker 2002 ("A Highly
    * Robust Audio Fingerprinting System") energy-delta form, over the
    * same sampled PCM16 grid as [[audioFrameStats]]: treating sample b
    * of frame f as the frame's band-b energy cell EB(f,b) = v², each
    * bit is the sign of the time-and-band double difference —
    * bit(f,b) = 1 iff (EB(f,b) − EB(f,b+1)) − (EB(f−1,b) − EB(f−1,b+1)) > 0
    * for f = 1..[[AudioFrames]]−1, b = 0..6 — i.e. "did the spectral
    * tilt between adjacent bands grow from the previous frame". 7×7 =
    * 49 positions; the first [[AudioFpBits]] = 48 feed the hash so it
    * splits evenly into [[AudioFpBands]]×[[AudioFpBandBits]] bands for
    * [[audioNearDup]] (and stays a non-negative BIGINT). A local byte
    * edit moves one grid sample and flips at most the handful of bits
    * whose EB terms read it — the Hamming-stable property near-dedup
    * needs. Pure integer SQL over the sample columns; one generated
    * fragment replays bit-for-bit in DuckDB. */
  val AudioFpBands = 3
  val AudioFpBandBits = 16
  val AudioFpBits: Int = AudioFpBands * AudioFpBandBits // 48

  def audioFingerprintFromSamplesSql: String = {
    def eb(f: Int, b: Int): String = {
      val g = f * AudioSamplesPerFrame + b
      s"(CAST(_a$g AS BIGINT) * _a$g)"
    }
    (0 until AudioFpBits).map { i =>
      val f = i / 7 + 1; val b = i % 7
      s"(CASE WHEN (${eb(f, b)} - ${eb(f, b + 1)}) - (${eb(f - 1, b)} - ${eb(f - 1, b + 1)}) > 0 " +
        s"THEN CAST(1 AS BIGINT) << $i ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** (media_id, afp) over WAV payload rows — same body prep as
    * [[audioFrameStats]] (strip RIFF header, hex, sample), then the
    * 48-bit fingerprint fold. Map-only, codegen'd, no shuffle. */
  def audioFingerprint(payloads: DataFrame,
                       headerLenSql: String = "44"): DataFrame =
    withAudioSamples(payloads, headerLenSql)
      .withColumn("afp", expr(audioFingerprintFromSamplesSql))
      .select(col("media_id"), col("afp"))

  /** Hamming-banded audio near-dedup — closes the multimodal dedup
    * triangle (image [[phashNearDup]], text simhash, audio here):
    * 3×16-bit bands block the corpus, exact bit_count(xor) verifies.
    * Returns (id_a, id_b, hamming). */
  def audioNearDup(fps: DataFrame, idCol: String, fpCol: String,
                   maxHamming: Int): DataFrame =
    bandedNearDup(fps, idCol, fpCol, maxHamming, AudioFpBands, AudioFpBandBits)

  // ------------------------------------------------ video fingerprint

  /** Per-clip video fingerprint — the [[audioFingerprintFromSamplesSql]]
    * double-difference form ported from PCM energy bands to the sampled
    * luma grid (the TIRI/intensity-signature family: each bit is a
    * spatio-temporal gradient sign, robust to uniform brightness shifts
    * because both differences cancel a constant offset): with B(f,b) the
    * unsigned sampled byte b of frame f ([[VideoFrames]]×
    * [[VideoBytesPerFrame]] grid, the same grid [[shotBoundaries]]
    * averages), bit(f,b) = 1 iff
    * (B(f,b) − B(f,b+1)) − (B(f−1,b) − B(f−1,b+1)) > 0 for f = 1..15,
    * b = 0..2 — 45 bits = [[VideoFpBands]]×[[VideoFpBandBits]], a
    * non-negative BIGINT. A local payload edit moves ONE grid sample and
    * flips at most the few bits whose B terms read it — the
    * Hamming-stable property [[videoNearDup]]'s banding needs. Pure
    * integer SQL, one generated map-only fragment, bit-for-bit
    * replayable in DuckDB. */
  val VideoFpBands = 3
  val VideoFpBandBits = 15
  val VideoFpBits: Int = VideoFpBands * VideoFpBandBits // 45

  /** (alias, expression) per raw grid sample — the pre-average grid
    * behind [[videoLumaPairs]]; callers materialize these once and feed
    * both the fingerprint fold and any luma reduction. */
  def videoSamplePairs(hx: String, blen: String, duck: Boolean): Seq[(String, String)] =
    (0 until VideoFrames * VideoBytesPerFrame)
      .map(g => (s"_v$g", videoByteSql(g, hx, blen, duck)))

  def videoSampleCols(hx: String, blen: String, duck: Boolean): Seq[String] =
    videoSamplePairs(hx, blen, duck).map { case (a, e) => s"$e AS $a" }

  def videoFingerprintFromSamplesSql: String = {
    def lum(f: Int, b: Int): String =
      s"CAST(_v${f * VideoBytesPerFrame + b} AS BIGINT)"
    (0 until VideoFpBits).map { i =>
      val f = i / VideoFpBands + 1; val b = i % VideoFpBands
      s"(CASE WHEN (${lum(f, b)} - ${lum(f, b + 1)}) - (${lum(f - 1, b)} - ${lum(f - 1, b + 1)}) > 0 " +
        s"THEN CAST(1 AS BIGINT) << $i ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** (media_id, vfp) over video-container payload rows — strip the fixed
    * header, hex the body, sample the grid, fold the 45-bit fingerprint.
    * Map-only, codegen'd, no shuffle. */
  def videoFingerprint(payloads: DataFrame,
                       headerLenSql: String = "33"): DataFrame =
    withVideoSamples(payloads, headerLenSql)
      .withColumn("vfp", expr(videoFingerprintFromSamplesSql))
      .select(col("media_id"), col("vfp"))

  /** Hamming-banded video near-dedup — completes the per-modality dedup
    * square (text simhash, image [[phashNearDup]], audio [[audioNearDup]],
    * video here): 3×15-bit bands block the corpus, exact bit_count(xor)
    * verifies. Returns (id_a, id_b, hamming). */
  def videoNearDup(fps: DataFrame, idCol: String, fpCol: String,
                   maxHamming: Int): DataFrame =
    bandedNearDup(fps, idCol, fpCol, maxHamming, VideoFpBands, VideoFpBandBits)

  /** Frame sampling plan for video-like payloads: every `stride`-th frame
    * index, capped — pure expression logic over the decoded metadata. */
  def frameSamplePlan(meta: DataFrame, stride: Int = 10, maxFrames: Int = 8): DataFrame =
    meta.withColumn("sampled_frames",
      // guard n_frames <= 0 (a real decoder can report it; sequence with a
      // negative stop throws) — still images sample an empty frame list
      when(col("n_frames") <= 0, expr("array()"))
        .otherwise(expr(s"transform(sequence(0, least(n_frames - 1, ${stride * (maxFrames - 1)}), $stride), i -> i)")))
      .select(col("media_id"), col("n_frames"), col("sampled_frames"),
        size(col("sampled_frames")).as("n_sampled"))
}
