package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.vector.VectorOps
import org.apache.spark.sql.graft.Pin

/** Large-scale deduplication operators (north-star extensions, SURVEY.md §7
  * step 6). Every variant is shuffle-conscious:
  *
  *  - exact:   one hash-aggregate on a digest — the canonical groupBy dedup.
  *  - minhash: shingle → k seeded min-hashes → banded LSH keys → bucket
  *    self-join. Only band-key collisions shuffle; the corpus never
  *    cross-joins. This is the standard web-scale near-dup pipeline shape.
  *  - simhash: 64-bit signed-feature fingerprint; near-dup candidates share
  *    a 16-bit band (4-table LSH over the fingerprint).
  *  - n-gram Jaccard: exact similarity on candidate (or sampled) pairs.
  *  - embedding cosine: near-dup by vector similarity.
  *
  * Min-hashes use lexicographic min over `md5(seed|shingle)` hex strings —
  * deterministic, engine-portable (the DuckDB oracle computes the identical
  * signature), and uniformly distributed.
  */
object Dedup {

  /** Scale-safe default for the LSH hot-bucket cap, applied by every banded
    * candidate generator ([[minhashCandidates]], [[nearDuplicates]],
    * [[incrementalNearDuplicates]], [[incrementalNearDuplicatesIndexed]],
    * [[simhashCandidates]], [[embeddingNearDuplicates]], and
    * [[Similarity.bucketCandidatePairs]]/[[Similarity.bucketCandidatePairsAuto]]).
    * The cap bounds
    * the per-bucket O(bucket²) pair expansion, so with cap c total candidate
    * volume is ≤ c·N however skewed the corpus — without it, one degenerate
    * boilerplate band (near-constant content collapsing to a single band
    * value) goes O(N²) at 100 TB. Sized via [[maxBucketFor]]: 5× a nominal
    * 200-document duplicate-cluster upper bound, per the DedupSpec
    * "maxBucket recall study" (5× the expected bucket retains 100% of
    * confirmed ≥50%-Jaccard pairs on natural text; the only pairs a cap can
    * lose live EXCLUSIVELY in hot, low-information bands). Bucket sizes
    * track duplicate-CLUSTER sizes, not corpus size, so the default does
    * not need to grow with N. Pass `Int.MaxValue` explicitly to reproduce
    * the exact uncapped oracle shape. */
  val DefaultMaxBucket: Int = maxBucketFor()

  /** Default document budget for [[coherentSample]] — the size of the
    * pair-preserving sample a tuning curve runs on. Shared constant so
    * the dedup_lsh_curve_tuned DuckDB oracle interpolates the SAME
    * number the Scala driver uses (the DefaultMaxBucket idiom): the two
    * engines cannot silently diverge on the budget. */
  val DefaultSampleBudgetDocs: Int = 256

  /** Hot-bucket cap for a corpus whose largest LEGITIMATE duplicate
    * cluster is `expectedClusterSize` documents: 5× headroom keeps every
    * real cluster's bands intact (the recall-study margin) while still
    * dropping degenerate boilerplate bands. */
  def maxBucketFor(expectedClusterSize: Int = 200): Int = {
    require(expectedClusterSize > 0, s"cluster size must be positive: $expectedClusterSize")
    // clamp in Long: Int `* 5` would overflow to a NEGATIVE cap for
    // clusterSize > ~430M, silently emptying every bucket filter
    math.min(Int.MaxValue / 8L, expectedClusterSize * 5L).toInt
  }

  /** Tokenize: collapse whitespace, lowercase, split. */
  def tokensCol(text: Column): Column =
    split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")

  /** Word-k-gram shingles; a document shorter than k words is its own
    * single shingle. `distinct = true` pays a shuffle to global-dedup
    * (needed for exact set ops); min-hash aggregation is duplicate-
    * insensitive and skips it. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
               distinct: Boolean = true): DataFrame = {
    val exploded = df.select(col(idCol), tokensCol(col(textCol)).as("toks"))
      .select(col(idCol), explode(
        when(size(col("toks")) >= k,
          expr(s"transform(sequence(0, size(toks) - $k), i -> array_join(slice(toks, i + 1, $k), ' '))"))
          .otherwise(array(array_join(col("toks"), " ")))).as("shingle"))
    if (distinct) exploded.distinct() else exploded
  }

  /** Exact dedup (J1 at corpus scale): canonical representative per text
    * digest = min id; `is_dup` marks rows that would be dropped keep-first.
    * One shuffle on the 128-bit digest, never on the full text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("text_hash"))
      .withColumn("canonical_id", min(col(idCol)).over(Window.partitionBy(col("text_hash"))))
      .withColumn("is_dup", when(col(idCol) =!= col("canonical_id"), 1).otherwise(0))

  /** MinHash signatures, one row per document with all `numHashes` seeded
    * lexicographic-min md5 digests as columns h0..hN.
    *
    * Scale-critical shape: the per-seed mins are computed as N aggregate
    * columns over the raw shingle stream, so Spark's partial (map-side)
    * aggregation reduces each partition to one row per document BEFORE the
    * shuffle — the exchange carries |docs| rows, not |shingles|x|seeds|.
    * Min is duplicate-insensitive, so no shingle distinct is needed. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 16): DataFrame = {
    // One md5 per shingle, split into a 60-bit and a 56-bit number; the N
    // hash functions are h_i = m1 + i*m2 (Kirsch-Mitzenmacher double
    // hashing — no overflow: m1 < 2^60, i*m2 < 15*2^56 < 2^60), and the
    // arithmetic replays exactly in DuckDB via
    // CAST('0x' || substr(md5, ..) AS BIGINT).
    // r17 optimization: the whole per-document fold (tokenize → k-gram →
    // md5 → N mins) runs in ONE native kernel row
    // ([[org.apache.spark.sql.graft.MinhashFeatures]]) instead of an
    // explode + hex + conv + hash-aggregate pipeline — same values
    // bit-for-bit (TextHashKernelSpec pins old≡new), ~3× less CPU, and
    // the exchange now carries one pre-folded row per input row. The
    // groupBy(min) stays for duplicate-id inputs: min is associative, so
    // folding per row then per id equals folding the merged stream.
    val perRow = df
      .select(col(idCol), org.apache.spark.sql.graft.MinhashFeatures(
        col(textCol), k, numHashes, withSet = false).as("_mh"))
      .select(col(idCol) +:
        (0 until numHashes).map(i => col("_mh.h").getItem(i).as(s"h$i")): _*)
    val aggs = (0 until numHashes).map(i => min(col(s"h$i")).as(s"h$i"))
    perRow.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band keys from a wide signature row: bands of 2 consecutive
    * min-hashes concatenated. Returns (id, band_idx, band_val). */
  def minhashBands(sigs: DataFrame, idCol: String, numHashes: Int = 16): DataFrame =
    minhashBandsWide(sigs, idCol, numHashes, rowsPerBand = 2)

  /** Generalized banding: `numHashes / rowsPerBand` bands of
    * `rowsPerBand` consecutive min-hashes each — the (b, r) geometry knob
    * of the LSH S-curve P[candidate] = 1 − (1 − J^r)^b. r = 2 is the
    * production default ([[minhashBands]] delegates here); [[bandingCurve]]
    * sweeps r to MEASURE the tradeoff instead of trusting the formula. */
  def minhashBandsWide(sigs: DataFrame, idCol: String, numHashes: Int,
                       rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"rowsPerBand must divide numHashes ($numHashes), got $rowsPerBand")
    // concat, NOT concat_ws: a null signature component (all-null shingles
    // from a null text) must NULL-poison the band key so it never
    // matches — concat_ws silently skips nulls, banding null-text docs
    // together on empty/partial keys and emitting spurious candidates.
    // The poisoned rows are then FILTERED: equijoin consumers never match
    // a null key anyway, but bandsToPairs' groupBy-bucket path treats
    // NULL keys as EQUAL (SQL grouping semantics), which would re-create
    // exactly the spurious null-text pairs the poisoning exists to kill
    val bandCols = (0 until numHashes / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand).flatMap(r =>
        Seq(lit("|"), col(s"h${rowsPerBand * b + r}").cast("string"))).drop(1)
      struct(lit(b).as("band_idx"), concat(parts: _*).as("band_val"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
      .filter(col("band_val").isNotNull)
  }

  /** Candidate near-dup pairs: documents sharing any LSH band bucket.
    *
    * Shaped as groupBy-bucket + in-bucket pair expansion rather than a
    * bands⋈bands self-join: the signature pipeline runs ONCE, the only
    * exchange is the hash shuffle on (band_idx, band_val), and nothing is
    * broadcast — a self-join would either broadcast the full bands relation
    * (impossible at corpus scale) or shuffle it twice. Pair expansion is
    * O(bucket²) per bucket, which is the LSH contract; `maxBucket` guards
    * against degenerate hot buckets at scale (default [[DefaultMaxBucket]];
    * pass `Int.MaxValue` to reproduce the uncapped exact-pairs oracle). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 16,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandsToPairs(minhashBands(minhashSignatures(df, idCol, textCol, k, numHashes), idCol, numHashes),
      idCol, maxBucket)

  /** Bucket-collapse + in-bucket pair expansion from a band relation
    * (id, band_idx, band_val) — the tail of [[minhashCandidates]], split
    * out so [[nearDuplicates]] can feed it from a fused aggregate. */
  private def bandsToPairs(bands: DataFrame, idCol: String, maxBucket: Int): DataFrame =
    bands.groupBy(col("band_idx"), col("band_val"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(expr(
        "filter(flatten(transform(ids, x -> transform(ids, y -> struct(x AS doc_a, y AS doc_b)))), p -> p.doc_a < p.doc_b)")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** SimHash: 64-bit fingerprint — sum ±1 per bit over hashed tokens, sign →
    * bit — banded into 4×16-bit keys for LSH grouping.
    *
    * Token bits come from the same md5-hex→BIGINT split the min-hash path
    * uses (bits 0-59 from a 60-bit word, 60-63 from a second word), so the
    * whole operator is plain codegen'd SQL arithmetic — no UDF — and the
    * DuckDB oracle replays it bit-for-bit. Scale shape matches min-hash:
    * the 64 per-bit ±1 sums are partial-aggregated map-side, so the shuffle
    * carries one 64-column row per document, not the token stream. */
  /** Pure-Scala twin of the SQL [[simhash]] (same md5 bit source, same ±1
    * fold) for typed paths and property tests — `simhash(df,...)` and this
    * agree on every input. */
  def simhash64(text: String): Long = {
    // r17: delegate to the shared native kernel — the previous Java
    // trim/split twin diverged from the SQL chain on control-char inputs
    // (Java String.trim strips chars <= ' ', SQL trim strips 0x20 only);
    // delegation makes "agrees on every input" true by construction
    // (TextHashKernelSpec pins it on exactly such inputs).
    if (text == null) return 0L
    org.apache.spark.sql.graft.TextHashKernel.simhashFp(
      org.apache.spark.unsafe.types.UTF8String.fromString(text))
  }

  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r17 optimization: each ROW fingerprints its own text in ONE native
    // per-row fold ([[org.apache.spark.sql.graft.SimhashFp]]) — the prior
    // relational shape (explode tokens → 64 bit-sum aggregate columns on a
    // content-derived row key → join-back) measured 1.8 s at sf0.1 against
    // a 0.1 s scan, and the per-row form is trivially what the operator
    // means: duplicate/null ids can't merge token streams because no
    // grouping happens at all (the old content-keyed grouping only ever
    // merged rows identical in BOTH id and text, whose merged-stream
    // majority equals the per-row majority — TextHashKernelSpec pins
    // old≡new on exactly that case). Token-less rows (null or empty text)
    // fingerprint to 0, as a fold over no features should; the bands are
    // the fingerprint's four 16-bit slices, identical to the old per-bit
    // majority sums by construction.
    df.select(col(idCol),
        coalesce(org.apache.spark.sql.graft.SimhashFp(col(textCol)), lit(0L)).as("simhash"))
      .select(col(idCol), col("simhash"),
        expr("CAST((simhash >> 48) & 65535 AS INT)").as("band0"),
        expr("CAST((simhash >> 32) & 65535 AS INT)").as("band1"),
        expr("CAST((simhash >> 16) & 65535 AS INT)").as("band2"),
        expr("CAST(simhash & 65535 AS INT)").as("band3"))
  }

  /** The full near-dup pipeline: minhash-LSH candidate generation followed
    * by exact Jaccard verification of ONLY the candidate pairs — the
    * standard recall/precision split (LSH recalls, Jaccard confirms). The
    * shingle-set join touches candidate ids only, so verification cost
    * scales with candidates, not the corpus. */
  /** Shingle sets as 60-bit md5 hashes: set ops on fixed-width longs
    * instead of ~20-char strings — smaller shuffles, cheaper intersections.
    * Jaccard over the hashed sets equals Jaccard over the string sets
    * because BOTH engines (Spark and the DuckDB oracle) take the distinct
    * of the same hash values; a collision collapses identically on both
    * sides (~2^-61 per pair regardless). */
  /** ONE shingle explode + ONE per-doc aggregate producing BOTH the
    * minhash signature mins (h0..hN) and the distinct shingle-hash set
    * (`sh`) — the fused frame the near-dup paths band AND verify from.
    * Pinned so column pruning can't split the consumers into per-branch
    * re-scans. */
  private def fusedSigAndSets(df: DataFrame, idCol: String, textCol: String,
                              k: Int, numHashes: Int): DataFrame = {
    // sh is SORTED ascending with unique elements: the verify tail
    // counts intersections with a two-pointer merge, paying the sort once
    // per document instead of a hash set per candidate pair. A sets index
    // persisted by an older (unsorted) build must be rebuilt — indexes
    // are per-run artifacts here, but the invariant travels with the data.
    // r17 optimization: per-row native fold (see [[minhashSignatures]]);
    // the per-id merge of the h mins is min (associative), of the sorted
    // distinct sets is sorted-distinct-of-union — both equal the old
    // merged-stream aggregates for any duplicate-id input.
    val perRow = df
      .select(col(idCol), org.apache.spark.sql.graft.MinhashFeatures(
        col(textCol), k, numHashes, withSet = true).as("_mh"))
      .select((col(idCol) +:
        (0 until numHashes).map(i => col("_mh.h").getItem(i).as(s"h$i"))) :+
        col("_mh.sh").as("_shr"): _*)
    val aggs = (0 until numHashes).map(i => min(col(s"h$i")).as(s"h$i")) :+
      sort_array(array_distinct(flatten(collect_list(col("_shr"))))).as("sh")
    Pin(perRow.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*))
  }

  private def hashedShingleSets(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), org.apache.spark.sql.graft.MinhashFeatures(
        col(textCol), k, 0, withSet = true).as("_mh"))
      .select(col(idCol), col("_mh.sh").as("_shr"))
      .groupBy(col(idCol))
      .agg(sort_array(array_distinct(flatten(collect_list(col("_shr"))))).as("sh"))

  /** Signature-coherent fixed-budget sample — the statistically sound
    * input for PAIR-level tuning (the banding S-curve). A uniform doc
    * sample is wrong for pair properties: sampling docs at rate p keeps
    * pairs at rate p², so a fixed-budget uniform sample of a large corpus
    * contains essentially ZERO near-dup pairs and the estimated curve is
    * empty. Here membership is keyed on h0 = MIN shingle hash — the first
    * minhash coordinate — sampled at rate 1/M with M = max(1, N div
    * budgetDocs): a pair with Jaccard J shares h0 with probability J, so
    * it CO-samples at rate ≈ J/M (linear, not quadratic), and with the
    * corpus's confirmed-pair count linear in N and M ∝ N the expected
    * sampled-pair yield is CONSTANT at any corpus size. Exact duplicates
    * share h0 deterministically — twins always co-sample or co-drop.
    *
    * Scale shape: one count aggregate for M, one shingle-min pass (the
    * signature pass's first coordinate — explode + map-side-combined MIN
    * aggregate), then the bounded membership set broadcasts back into the
    * scan; everything downstream runs on the ~budgetDocs-sized sample.
    * A "map-only" variant (array_min over per-row transform(md5) lambdas,
    * no explode/agg/join) was measured 2-3× SLOWER at every scale:
    * higher-order-function lambdas evaluate md5 interpreted per element,
    * while the explode pipeline keeps md5 inside whole-stage codegen —
    * the extra shuffle is cheaper than leaving codegen. */
  def coherentSample(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, budgetDocs: Int = DefaultSampleBudgetDocs): DataFrame = {
    require(budgetDocs >= 1, s"budgetDocs must be >= 1, got $budgetDocs")
    val n = df.count()
    val m = math.max(1L, n / budgetDocs)
    // r17: h0 = the signature's first coordinate = min m1, via the fused
    // native kernel (numHashes = 1: h_0 = m1 + 0*m2 = m1) — same value.
    val h0 = df
      .select(col(idCol), org.apache.spark.sql.graft.MinhashFeatures(
        col(textCol), k, 1, withSet = false).as("_mh"))
      .select(col(idCol), col("_mh.h").getItem(0).as("_h0r"))
      .groupBy(col(idCol)).agg(min(col("_h0r")).as("_h0"))
      .filter(pmod(col("_h0"), lit(m)) === 0L)
      .select(col(idCol))
    df.join(broadcast(h0), idCol)
  }

  /** The shared exact-Jaccard verification tail: join candidate pairs to
    * their shingle-hash sets (aSets carries (aCol, sh_a), bSets
    * (bCol, sh_b)), score in integer basis points, filter. Every
    * candidate-verify path in this file funnels through here so the
    * arithmetic — which the DuckDB oracles replay literally — exists
    * once. */
  private def jaccardVerify(pairs: DataFrame, aCol: String, bCol: String,
                            aSets: DataFrame, bSets: DataFrame,
                            minJaccardBp: Long): DataFrame =
    // intersection via the native sorted-merge expression — the producers
    // above emit sorted sets, so each pair costs one allocation-free scan
    // (codegen'd) instead of array_intersect's per-pair hash set; the
    // sampled all-pairs oracle tier below keeps array_intersect as an
    // independent cross-implementation check
    pairs.join(aSets, aCol).join(bSets, bCol)
      .withColumn("inter",
        org.apache.spark.sql.graft.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("uni",
        size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - col("inter"))
      .withColumn("jaccard_bp", expr("(10000L * inter) div uni"))
      .filter(col("jaccard_bp") >= minJaccardBp)
      .select(col(aCol), col(bCol), col("jaccard_bp"))

  /** `maxBucket` caps LSH bucket size (default [[DefaultMaxBucket]];
    * `Int.MaxValue` reproduces the uncapped exact-pairs oracle shape):
    * band buckets larger than the cap are dropped
    * BEFORE pair expansion, bounding the per-bucket O(bucket²) cost that a
    * degenerate hot band (boilerplate-heavy corpora collapsing to few
    * signatures) would otherwise incur. Recall tradeoff: a pair whose ONLY
    * shared band is a dropped hot band is missed — acceptable in practice
    * because hot bands are low-information (near-constant content) and
    * such pairs almost always share another, colder band. Quantified on
    * the sf0.01 fixture corpus (DedupSpec "maxBucket recall study"):
    * maxBucket=2 retains 83% of confirmed ≥50%-Jaccard pairs, maxBucket=5
    * and 10 retain 100% — i.e. a cap a few times the expected bucket size
    * costs nothing on natural text, and even an aggressive cap loses only
    * the pairs living exclusively in hot (boilerplate) bands. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, numHashes: Int = 16,
                     minJaccardBp: Long = 5000L,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // ONE shingle explode + ONE corpus shuffle for BOTH stages: the per-doc
    // aggregate computes the minhash signature mins AND the distinct
    // shingle-hash set (collect_set is duplicate-insensitive, so no
    // pre-distinct) in the same groupBy. The fused frame is pinned: its
    // three consumers are band keys, verify-join doc_a and verify-join doc_b.
    val combined = fusedSigAndSets(df, idCol, textCol, k, numHashes)
    val cands = bandsToPairs(
      minhashBands(combined.drop("sh"), idCol, numHashes), idCol, maxBucket)
    val sets = combined.select(col(idCol), col("sh"))
    jaccardVerify(cands, "doc_a", "doc_b",
      sets.select(col(idCol).as("doc_a"), col("sh").as("sh_a")),
      sets.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), minJaccardBp)
  }

  /** Containment-scored near-dedup (Broder 1997's containment coefficient,
    * the doc-inside-doc statistic): |A∩B| / min(|A|,|B|) in basis points
    * over the SAME banded-minhash candidates as [[nearDuplicates]].
    * Jaccard DILUTES asymmetric duplication — a 200-token notice copied
    * verbatim into a 20k-token page scores ~1% Jaccard (|A|/|B|) but 100%
    * containment — so production dedup reads both: Jaccard for same-size
    * near-copies, containment for wholesale inclusion. Both scores are
    * emitted per surviving pair; the contrast IS the diagnostic.
    *
    * Honest recall note: banded minhash collides on signature agreement,
    * whose probability tracks JACCARD — a containment pair with extreme
    * size skew rarely collides and belongs to the span tier
    * ([[duplicatedSpanStats]] / [[removeDuplicatedSpans]]) instead. This
    * operator covers the moderate-skew band where banding still recalls;
    * identical shuffle shape, pins, and caps as [[nearDuplicates]]. */
  def ngramContainment(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, numHashes: Int = 16,
                       minContainmentBp: Long = 5000L,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val combined = fusedSigAndSets(df, idCol, textCol, k, numHashes)
    val cands = bandsToPairs(
      minhashBands(combined.drop("sh"), idCol, numHashes), idCol, maxBucket)
    val sets = combined.select(col(idCol), col("sh"))
    cands
      .join(sets.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter",
        org.apache.spark.sql.graft.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("containment_bp",
        expr("(10000L * inter) div least(size(sh_a), size(sh_b))"))
      .withColumn("jaccard_bp",
        expr("(10000L * inter) div (size(sh_a) + size(sh_b) - inter)"))
      .filter(col("containment_bp") >= minContainmentBp)
      .select(col("doc_a"), col("doc_b"), col("containment_bp"), col("jaccard_bp"))
  }

  /** Incremental near-dedup: a NEW batch checked against an EXISTING
    * corpus without re-pairing the corpus with itself — the shape of a
    * continuously-ingesting pipeline, where each crawl increment dedups
    * against everything already kept. In production the corpus band/set
    * index is computed once and persisted (bucketed on band keys, cf.
    * [[graft.io.Writers.bucketedTableSink]]); each increment then pays
    * only its own signature pass plus an equi-join into that index —
    * corpus work is O(index lookup), never O(corpus²) and never repeated.
    *
    * Candidates come from band-key equality new⋈corpus (NOT within-new
    * pairs — [[nearDuplicates]] on the batch covers that separately);
    * exact shingle-set Jaccard confirms. Returns
    * (new_id, corpus_id, jaccard_bp): the new rows to drop (or link) and
    * which kept document they duplicate. */
  /** `maxBucket` (default [[DefaultMaxBucket]]; `Int.MaxValue` is the
    * uncapped oracle shape) drops band keys
    * whose bucket exceeds the cap on EITHER side before the band join: the
    * per-band candidate count is |new bucket| × |corpus bucket|, so a hot
    * boilerplate band on a 100 TB corpus would otherwise fan one increment
    * row out to millions of verify pairs. The per-side cap bounds the join
    * product at cap² candidates per band key (≤ cap new rows × ≤ cap
    * corpus rows survive any band), so total candidate volume is at most
    * cap² × |band keys| regardless of skew. Recall tradeoff (DedupSpec
    * "maxBucket drops a hot band from the composed near-dup pipelines"
    * pins the semantics): a true pair is lost only when EVERY band the two
    * documents share is hot on some side — pairs sharing any cold band
    * survive. The window counts require the same (band_idx, band_val) hash
    * partitioning as the join itself, so the cap adds no extra shuffle. */
  def incrementalNearDuplicates(newBatch: DataFrame, corpus: DataFrame,
                                idCol: String, textCol: String,
                                k: Int = 3, numHashes: Int = 16,
                                minJaccardBp: Long = 5000L,
                                maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val newSide = fusedSigAndSets(newBatch, idCol, textCol, k, numHashes)
    val corpusSide = fusedSigAndSets(corpus, idCol, textCol, k, numHashes)
    def capped(bands: DataFrame): DataFrame =
      if (maxBucket == Int.MaxValue) bands
      else bands.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("band_idx"), col("band_val"))))
        .filter(col("_bn") <= maxBucket).drop("_bn")
    val newBands = capped(minhashBands(newSide.drop("sh"), idCol, numHashes)
      .select(col(idCol).as("new_id"), col("band_idx"), col("band_val")))
    val corpusBands = capped(minhashBands(corpusSide.drop("sh"), idCol, numHashes)
      .select(col(idCol).as("corpus_id"), col("band_idx"), col("band_val")))
    // equi-join on band keys: corpus side shuffles on the same keys its
    // persisted index would be bucketed by (zero exchange in that layout)
    val cands = newBands.join(corpusBands, Seq("band_idx", "band_val"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id").distinct()
    jaccardVerify(cands, "new_id", "corpus_id",
      newSide.select(col(idCol).as("new_id"), col("sh").as("sh_a")),
      corpusSide.select(col(idCol).as("corpus_id"), col("sh").as("sh_b")), minJaccardBp)
  }

  /** Persist a corpus's minhash band/set index as BUCKETED catalog tables —
    * the production layout [[incrementalNearDuplicates]]'s doc promises:
    * built ONCE per corpus, after which every crawl increment joins into
    * it with ZERO exchange (and zero re-shingling) on the corpus side.
    * Two tables because their join keys differ: `bandsTable`
    * (band_key, id) bucketed+sorted on the single concatenated band key
    * (one column so the increment join's partitioning matches the bucket
    * spec exactly), and `setsTable` (id, sh) bucketed on id for the
    * verify join. One fused corpus pass feeds both writes. */
  /** The two relations [[writeMinhashIndex]] persists — (bands, sets) —
    * surfaced so the index-BUILD plan is auditable (the write itself is
    * side-effecting and can't be explain()ed): one fused corpus pass
    * (pinned) feeds both. */
  def minhashIndexRelations(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 3, numHashes: Int = 16): (DataFrame, DataFrame) = {
    val fused = fusedSigAndSets(df, idCol, textCol, k, numHashes)
    (minhashBands(fused.drop("sh"), idCol, numHashes)
      .select(concat(col("band_idx"), lit(":"), col("band_val")).as("band_key"), col(idCol)),
      fused.select(col(idCol), col("sh")))
  }

  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        bandsTable: String, setsTable: String,
                        k: Int = 3, numHashes: Int = 16,
                        numBuckets: Int = 8): Unit = {
    val (bands, sets) = minhashIndexRelations(df, idCol, textCol, k, numHashes)
    bands.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(numBuckets, "band_key").sortBy("band_key")
      .format("parquet").saveAsTable(bandsTable)
    sets.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(numBuckets, idCol).sortBy(idCol)
      .format("parquet").saveAsTable(setsTable)
  }

  /** [[incrementalNearDuplicates]] against a PERSISTED index
    * ([[writeMinhashIndex]]): the increment pays its own signature pass
    * and shuffles itself into the index's bucket layout; the corpus side
    * is two bucketed scans with no exchange and no recompute — the
    * O(index lookup) shape the continuous-ingest pipeline runs at 100 TB.
    * Semantically identical to the two-DataFrame form (same bands, same
    * verify), which the dedup_incremental_indexed oracle pins. */
  def incrementalNearDuplicatesIndexed(newBatch: DataFrame, idCol: String,
                                       textCol: String, bandsTable: String,
                                       setsTable: String, k: Int = 3,
                                       numHashes: Int = 16,
                                       minJaccardBp: Long = 5000L,
                                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = newBatch.sparkSession
    // the same per-side hot-band cap as [[incrementalNearDuplicates]]: a
    // hot boilerplate band persisted in the index would otherwise fan
    // every increment row into |bucket| candidates on EVERY micro-batch.
    // The window partitions on band_key — the bands table's bucket/sort
    // key, so the corpus side's count rides the bucketed scan with no
    // extra exchange.
    def capped(bands: DataFrame): DataFrame =
      if (maxBucket == Int.MaxValue) bands
      else bands.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("band_key"))))
        .filter(col("_bn") <= maxBucket).drop("_bn")
    val newSide = fusedSigAndSets(newBatch, idCol, textCol, k, numHashes)
    val newBands = capped(minhashBands(newSide.drop("sh"), idCol, numHashes)
      .select(concat(col("band_idx"), lit(":"), col("band_val")).as("band_key"),
        col(idCol).as("new_id")))
    val corpusBands = capped(spark.table(bandsTable)
      .select(col("band_key"), col(idCol).as("corpus_id")))
    val cands = newBands.join(corpusBands, "band_key")
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id").distinct()
    jaccardVerify(cands, "new_id", "corpus_id",
      newSide.select(col(idCol).as("new_id"), col("sh").as("sh_a")),
      spark.table(setsTable).select(col(idCol).as("corpus_id"), col("sh").as("sh_b")),
      minJaccardBp)
  }

  /** Cap-recall study over the banded-LSH near-dup path: for each cap in
    * `caps`, how many of the TRUE near-dup pairs (exact-Jaccard-confirmed
    * at `minJaccardBp` from the UNCAPPED candidate set) does the capped
    * pipeline retain? Returns one row per cap:
    * (tier='lsh', cap, truth_pairs, found_pairs, recall_bp).
    *
    * Formulation (one pipeline, not |caps| re-runs): a pair survives cap c
    * iff SOME band bucket containing both documents has size ≤ c, so the
    * per-pair statistic `min_n` = min generating-bucket size fully
    * determines membership in every capped tier — computed in the same
    * bucket-collapse pass that generates the pairs, then one exact-Jaccard
    * verify, then per-cap conditional aggregation. DedupSpec ties this to
    * the REAL path: found_pairs at cap c equals
    * `nearDuplicates(df, maxBucket = c).count()` exactly, so the
    * dedup_recall oracle row pins the production cap semantics, not a
    * parallel reimplementation. This turns the [[DefaultMaxBucket]] recall
    * claim ("a cap a few times the expected cluster size loses nothing on
    * natural text") from a spec footnote into a hash-checked relation. */
  /** The LSH banding-geometry tuning curve — the S-curve
    * P[candidate] = 1 − (1 − J^r)^b MEASURED instead of trusted:
    * for each rows-per-band r over the SAME `numHashes` signature
    * (b = numHashes / r bands), the production-capped candidate volume,
    * the ≥ threshold confirmed count, precision, and recall against the
    * UNION of all tiers' confirmed pairs (every tier's confirmed set is a
    * subset of the union, so recall_bp is exact and self-consistent; with
    * nested band geometries and no cap the r-tiers' candidate sets nest,
    * so the union truth is just the loosest tier — the cap breaks strict
    * nesting, which is why the union is taken explicitly). This is
    * [[capRecallStudy]]'s geometry sibling and ann_nprobe_curve's dedup
    * analogue: the operating point (r, cap) is chosen FROM this table.
    *
    * Scale shape: ONE fused shingle pass (signature + verify sets,
    * pinned); per tier one band shuffle + capped bucket expansion; then
    * ONE pair-collapse to the tier-membership bitmask, ONE shared
    * sorted-merge verify over the distinct pairs, and ONE map-side-
    * combined aggregate to a single row of per-tier counts — no pair set
    * is checkpointed or re-read, so the curve's cost tracks the candidate
    * SHUFFLE volume, never the materialization of its own answer.
    * Output: (rows_per_band, n_bands, n_candidates, n_confirmed,
    * precision_bp, recall_bp). */
  def bandingCurve(df: DataFrame, idCol: String, textCol: String,
                   rowsList: Seq[Int], k: Int = 3, numHashes: Int = 16,
                   minJaccardBp: Long = 5000L,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(rowsList.nonEmpty && rowsList.distinct == rowsList,
      "rowsList must be non-empty and duplicate-free")
    require(rowsList.size <= 62, "tier-membership bitmask holds at most 62 tiers")
    val combined = fusedSigAndSets(df, idCol, textCol, k, numHashes)
    val sets = combined.select(col(idCol), col("sh"))
    // The COUNT-AGGREGATING formulation (r14 verdict task 1): the r14
    // shape checkpointed every tier's candidate AND confirmed pair sets —
    // relations that grow with the corpus's answer, so the curve row
    // would eventually be dominated by materializing its own evidence.
    // Instead, tag each tier's candidate pairs with a tier bit, collapse
    // ONCE to distinct pairs carrying the tier-membership bitmask, verify
    // each distinct pair ONCE (the r-tiers' candidate sets overlap
    // heavily — nested geometries minus cap breaks — so the shared
    // verify does strictly less work than r14's per-tier verifies), and
    // reduce to a ONE-ROW aggregate of per-tier counts; stack melts it to
    // |rowsList| rows. Nothing is checkpointed; no pair relation outlives
    // its shuffle. Truth (the union of per-tier confirmed sets) falls out
    // as "confirmed among the union candidates": confirmation depends
    // only on the pair's exact Jaccard, so confirmed-in-tier-r ==
    // (candidate-in-tier-r AND jaccard >= threshold) — the same set the
    // r14 union-distinct materialized, now a conditional count.
    val tagged = rowsList.zipWithIndex.map { case (r, i) =>
      bandsToPairs(minhashBandsWide(combined.drop("sh"), idCol, numHashes, r),
        idCol, maxBucket)
        .select(col("doc_a"), col("doc_b"), lit(1L << i).as("_tier"))
    }.reduce(_ unionByName _)
    val pairs = tagged.groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("_tier")).as("_tiers")) // per-tier pairs are distinct → sum == bit-or
    val confirmed = jaccardVerify(pairs.select(col("doc_a"), col("doc_b")),
      "doc_a", "doc_b",
      sets.select(col(idCol).as("doc_a"), col("sh").as("sh_a")),
      sets.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), minJaccardBp)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("_conf"))
    val marked = pairs.join(confirmed, Seq("doc_a", "doc_b"), "left")
      .select(col("_tiers"), coalesce(col("_conf"), lit(0L)).as("_conf"))
    val aggCols = rowsList.indices.flatMap { i =>
      val inTier = s"(_tiers div ${1L << i}) % 2 = 1"
      Seq(coalesce(sum(when(expr(inTier), 1L).otherwise(0L)), lit(0L)).as(s"_cand_$i"),
        coalesce(sum(when(expr(inTier) && col("_conf") === 1L, 1L).otherwise(0L)), lit(0L))
          .as(s"_conf_$i"))
    } :+ coalesce(sum(col("_conf")), lit(0L)).as("_truth")
    val one = marked.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = rowsList.zipWithIndex.map { case (r, i) =>
      s"${r}L, ${numHashes / r}L, _cand_$i, _conf_$i"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${rowsList.size}, $stackArgs) AS (rows_per_band, n_bands, n_candidates, n_confirmed)",
      "_truth")
      .select(col("rows_per_band"), col("n_bands"), col("n_candidates"), col("n_confirmed"),
        expr("CASE WHEN n_candidates = 0 THEN 0L ELSE n_confirmed * 10000 div n_candidates END").as("precision_bp"),
        expr("CASE WHEN _truth = 0 THEN 10000L ELSE n_confirmed * 10000 div _truth END").as("recall_bp"))
  }

  /** The r14 pair-materializing formulation of [[bandingCurve]], kept as
    * the FIXTURE-SCALE cross-check the rewrite is specced against
    * (DedupSpec pins collect-equality): per tier, candidates and
    * confirmed pairs are materialized and counted directly, and the truth
    * union is an explicit distinct — the shape whose output volume grows
    * with the corpus's confirmed-pair count, which is why the production
    * entry point above aggregates counts instead. Semantically identical
    * by construction. */
  def bandingCurvePairs(df: DataFrame, idCol: String, textCol: String,
                        rowsList: Seq[Int], k: Int = 3, numHashes: Int = 16,
                        minJaccardBp: Long = 5000L,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(rowsList.nonEmpty && rowsList.distinct == rowsList,
      "rowsList must be non-empty and duplicate-free")
    val combined = fusedSigAndSets(df, idCol, textCol, k, numHashes)
    val sets = combined.select(col(idCol), col("sh"))
    val tiers = rowsList.map { r =>
      val cands = Pin(bandsToPairs(
        minhashBandsWide(combined.drop("sh"), idCol, numHashes, r), idCol, maxBucket)) // counted once, verified once, tier-sized
      val confirmed = Pin(jaccardVerify(cands, "doc_a", "doc_b",
        sets.select(col(idCol).as("doc_a"), col("sh").as("sh_a")),
        sets.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), minJaccardBp)
        .select(col("doc_a"), col("doc_b"))) // counted once + joins the union truth
      (r, cands, confirmed)
    }
    val truth = tiers.map(_._3).reduce(_.unionByName(_)).distinct()
      .agg(count(lit(1)).as("n_truth"))
    tiers.map { case (r, cands, confirmed) =>
      cands.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(confirmed.agg(count(lit(1)).as("n_confirmed")))
        .crossJoin(truth)
        .select(lit(r.toLong).as("rows_per_band"),
          lit((numHashes / r).toLong).as("n_bands"),
          col("n_candidates"), col("n_confirmed"),
          expr("CASE WHEN n_candidates = 0 THEN 0L ELSE n_confirmed * 10000 div n_candidates END").as("precision_bp"),
          expr("CASE WHEN n_truth = 0 THEN 10000L ELSE n_confirmed * 10000 div n_truth END").as("recall_bp"))
    }.reduce(_.unionByName(_))
  }

  def capRecallStudy(df: DataFrame, idCol: String, textCol: String,
                     caps: Seq[Int], k: Int = 3, numHashes: Int = 16,
                     minJaccardBp: Long = 5000L): DataFrame = {
    val combined = fusedSigAndSets(df, idCol, textCol, k, numHashes)
    // pair-count-sized; pinned so the verify join and the min_n re-join
    // below don't re-run the bucket expansion
    val pairMin = Pin(minhashBands(combined.drop("sh"), idCol, numHashes)
      .groupBy(col("band_idx"), col("band_val"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(size(col("ids")).cast("long").as("n"), explode(expr(
        "filter(flatten(transform(ids, x -> transform(ids, y -> struct(x AS doc_a, y AS doc_b)))), p -> p.doc_a < p.doc_b)")).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(min(col("n")).as("min_n")))
    val sets = combined.select(col(idCol), col("sh"))
    val verified = jaccardVerify(pairMin.select("doc_a", "doc_b"), "doc_a", "doc_b",
      sets.select(col(idCol).as("doc_a"), col("sh").as("sh_a")),
      sets.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), minJaccardBp)
      .join(pairMin, Seq("doc_a", "doc_b"))
    capRecallRows("lsh", verified.select(col("min_n")), caps)
  }

  /** The [[capRecallStudy]] of the PERSISTED-INDEX incremental path
    * ([[incrementalNearDuplicatesIndexed]]): truth is the uncapped
    * new⋈index confirmed pair set; a pair survives cap c iff some shared
    * band has ≤ c rows on BOTH sides (the per-side cap), so the per-pair
    * statistic is min over shared bands of max(per-side bucket counts).
    * Tier name 'inc_indexed'. DedupSpec pins found_pairs(c) ==
    * `incrementalNearDuplicatesIndexed(..., maxBucket = c).count()`. */
  def indexedCapRecallStudy(newBatch: DataFrame, idCol: String, textCol: String,
                            bandsTable: String, setsTable: String, caps: Seq[Int],
                            k: Int = 3, numHashes: Int = 16,
                            minJaccardBp: Long = 5000L): DataFrame = {
    val spark = newBatch.sparkSession
    val newSide = fusedSigAndSets(newBatch, idCol, textCol, k, numHashes)
    val newBands = minhashBands(newSide.drop("sh"), idCol, numHashes)
      .select(concat(col("band_idx"), lit(":"), col("band_val")).as("band_key"),
        col(idCol).as("new_id"))
      .withColumn("n_new", count(lit(1)).over(Window.partitionBy(col("band_key"))))
    val corpusBands = spark.table(bandsTable)
      .select(col("band_key"), col(idCol).as("corpus_id"))
      .withColumn("n_corp", count(lit(1)).over(Window.partitionBy(col("band_key"))))
    val pairMin = Pin(newBands.join(corpusBands, "band_key")
      .filter(col("new_id") =!= col("corpus_id"))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(min(greatest(col("n_new"), col("n_corp"))).as("min_n")))
    val verified = jaccardVerify(pairMin.select("new_id", "corpus_id"), "new_id", "corpus_id",
      newSide.select(col(idCol).as("new_id"), col("sh").as("sh_a")),
      spark.table(setsTable).select(col(idCol).as("corpus_id"), col("sh").as("sh_b")),
      minJaccardBp)
      .join(pairMin, Seq("new_id", "corpus_id"))
    capRecallRows("inc_indexed", verified.select(col("min_n")), caps)
  }

  /** Per-cap recall aggregation tail shared by the two studies: cross the
    * (pair-count-sized) per-pair min statistic with the tiny caps relation,
    * partial-aggregate per cap. A left join from the caps frame keeps every
    * cap's row alive on an empty truth set (recall defined as 10000). */
  private def capRecallRows(tier: String, minN: DataFrame, caps: Seq[Int]): DataFrame = {
    val spark = minN.sparkSession
    import spark.implicits._
    val capsDf = caps.map(_.toLong).toDF("cap")
    val agg = minN.crossJoin(broadcast(capsDf))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("truth_pairs"),
        sum(when(col("min_n") <= col("cap"), 1L).otherwise(0L)).as("found_pairs"))
    capsDf.join(agg, Seq("cap"), "left")
      .select(lit(tier).as("tier"), col("cap"),
        coalesce(col("truth_pairs"), lit(0L)).as("truth_pairs"),
        coalesce(col("found_pairs"), lit(0L)).as("found_pairs"))
      .withColumn("recall_bp", when(col("truth_pairs") === 0, 10000L)
        .otherwise(expr("(10000 * found_pairs) div truth_pairs")))
  }

  /** SimHash near-dup candidates: pairs sharing any 16-bit band of the
    * 64-bit fingerprint (4-table LSH — Hamming distance ≤3 guarantees a
    * shared band by pigeonhole).
    *
    * Unlike minhash (whose high-entropy band keys make buckets tiny, so
    * collect+expand wins), 16-bit simhash bands over natural text collide
    * heavily — buckets run to hundreds of ids, and materializing m²-element
    * struct arrays per bucket dominates the runtime. Pairs are therefore
    * generated as an equi-join on (band_idx, band_val): the join stays in
    * whole-stage codegen, streams instead of allocating, and hot buckets
    * are AQE-skew-splittable at scale. The band relation is shuffled once
    * and reused for both sides (ReuseExchange). */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val fp = simhash(df, idCol, textCol)
    val bands = fp.select(col(idCol), explode(array(
      (0 to 3).map(i => struct(lit(i).as("band_idx"), col(s"band$i").as("band_val"))): _*)).as("b"))
      .select(col(idCol), col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))
    val capped =
      if (maxBucket == Int.MaxValue) bands
      else bands.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("band_idx"), col("band_val"))))
        .filter(col("_bn") <= maxBucket).drop("_bn")
    val a = capped.select(col(idCol).as("doc_a"), col("band_idx"), col("band_val"))
    val b = capped.select(col(idCol).as("doc_b"), col("band_idx"), col("band_val"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Exact word-k-gram Jaccard for GIVEN candidate pairs — the
    * verification half of an LSH recall/precision split, as a standalone
    * operator: `pairs` carries (doc_a, doc_b) from any candidate generator
    * ([[simhashCandidates]], [[minhashCandidates]], an incremental band
    * join), `corpus` carries (id, text). Shingle sets are computed only
    * for documents that appear in some pair (semi-join pushdown), and
    * every join is an equi-join — cost scales with the candidate set,
    * never corpus². Pairs and sets are each pinned: the pair relation
    * feeds the id semi-join and the verify join; the set aggregate feeds
    * both pair sides. */
  def ngramJaccard(pairs: DataFrame, corpus: DataFrame, idCol: String,
                   textCol: String, k: Int): DataFrame = {
    val p = Pin(pairs.select(col("doc_a"), col("doc_b")))
    val ids = p.select(explode(array(col("doc_a"), col("doc_b"))).as(idCol)).distinct()
    val sets = Pin(hashedShingleSets(corpus.join(ids, Seq(idCol), "left_semi"),
      idCol, textCol, k))
    jaccardVerify(p, "doc_a", "doc_b",
      sets.select(col(idCol).as("doc_a"), col("sh").as("sh_a")),
      sets.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), minJaccardBp = 0L)
  }

  /** Exact all-pairs word-k-gram Jaccard over a (sampled) document slice.
    * Quadratic BY DESIGN — this is the spot-check / test-oracle tier the
    * candidate-pair form above is validated against, not a production
    * operator: at corpus scale, exact Jaccard must be fed candidate pairs
    * from an LSH stage (see [[nearDuplicates]] and the pairs overload). */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   sampleMod: Int, k: Int = 3): DataFrame = {
    val sets = hashedShingleSets(df.filter(col(idCol) % sampleMod === 0), idCol, textCol, k)
    val a = sets.select(col(idCol).as("doc_a"), col("sh").as("sh_a"))
    val b = sets.select(col(idCol).as("doc_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni",
        size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - col("inter"))
      .select(col("doc_a"), col("doc_b"),
        expr("(10000L * inter) div uni").as("jaccard_bp"))
  }

  /** Content-defined-chunking (CDC) duplication stats — the STORAGE-tier
    * dedup idiom (Muthitacharoen et al. 2001, LBFS; every dedup
    * filesystem since) applied to the token stream: a chunk boundary
    * falls BEFORE token i exactly when the 60-bit hash of the local
    * bigram (token i−1, token i) clears `mask` (h % (mask+1) == 0), so
    * boundaries are decided by CONTENT, not position — an insertion
    * shifts every fixed-window chunk after it but leaves all
    * content-defined boundaries outside the edit untouched. That is what
    * catches the shared bulk between edited REVISIONS of a long document,
    * which fixed windows fragment and whole-doc minhash dilutes.
    * Expected chunk length ≈ mask+1 tokens (geometric); no min/max clamp
    * on purpose — the clamp would make each boundary depend on the
    * previous one (sequential state) and break the exact cross-engine
    * replay, and at these chunk sizes the clamp only trims tails.
    * A chunk instance is "dup" when its exact content digest appears in
    * ≥ 2 distinct documents. Returns per doc:
    * (id, n_tokens, n_chunks, dup_chunks, dup_tokens, dup_bp).
    *
    * Scale shape: the boundary flags and segment ids are ONE window per
    * document (the partition is a single doc's token stream — bounded by
    * max doc length, never corpus-sized); chunks form by (id, seg)
    * groupBy; the digest spread is a map-side-combined distinct count on
    * the digest domain; the back-join is digest-keyed. Two content
    * shuffles total (digest agg + join), nothing pairwise. */
  def cdcChunkStats(df: DataFrame, idCol: String, textCol: String,
                    mask: Int = 63): DataFrame = {
    require(mask >= 1 && (mask & (mask + 1)) == 0,
      s"mask must be 2^k - 1 (got $mask): the boundary test is h % (mask+1) == 0")
    val toks = df
      .select(col(idCol), posexplode(tokensCol(col(textCol))).as(Seq("i", "tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("i"))
    val bh = graft.util.Hash.md5Bits60(concat(col("_prev"), lit(" "), col("tok")))
    val seg = toks
      .withColumn("_prev", lag(col("tok"), 1).over(w))
      .withColumn("_b", when(col("_prev").isNotNull &&
        pmod(bh, lit((mask + 1).toLong)) === 0L, 1L).otherwise(0L))
      .withColumn("seg", sum(col("_b"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val chunks = Pin(seg.groupBy(col(idCol), col("seg"))
      .agg(count(lit(1)).as("ctok"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          s => s.getField("tok")), " ")).as("digest"))) // feeds both the spread agg and the back-join
    val spread = chunks.groupBy(col("digest"))
      .agg(countDistinct(col(idCol)).as("ndocs"))
    chunks.join(spread, "digest")
      .groupBy(col(idCol))
      .agg(sum(col("ctok")).as("n_tokens"), count(lit(1)).as("n_chunks"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("ndocs") >= 2, col("ctok")).otherwise(0L)).as("dup_tokens"))
      .withColumn("dup_bp", expr("dup_tokens * 10000 div n_tokens"))
  }

  /** Exact duplicated-span statistics (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" diagnostic): for every
    * document, how many of its word-k-gram span OCCURRENCES appear
    * verbatim in at least one OTHER document — the exact-substring
    * duplication measure that document-level near-dup (minhash) cannot
    * see (a unique document quoting a widely-copied paragraph has low
    * Jaccard but high dup_span_bp). Returns
    * (id, n_spans, n_dup_spans, dup_span_bp).
    *
    * Scale shape: span occurrences hash to fixed-width 60-bit longs (the
    * shingle pipeline), pinned once for both consumers; the span
    * document-frequency is distinct + map-side-combined groupBy on the
    * hash; the back-join is an equi-join on the hash (one df row per
    * distinct span — high-frequency spans don't skew the build side).
    * Nothing is quadratic in documents or spans. */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 5): DataFrame = {
    // r17: gram hashes via the native per-row kernel (one md5 per gram
    // straight from token bytes — no k-gram string, no hex/conv); the
    // null-text explode row shape is preserved by the kernel contract
    val occ = Pin(df.select(col(idCol), explode(org.apache.spark.sql.graft.GramHash60(
        tokensCol(col(textCol)), k)).as("hv")))
    val spanDf = occ.distinct()
      .groupBy(col("hv")).agg(count(lit(1)).as("span_df"))
    occ.join(spanDf, "hv")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("span_df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_span_bp", expr("(10000L * n_dup_spans) div n_spans"))
  }

  /** Exact duplicated-span REMOVAL (the action half of
    * [[duplicatedSpanStats]], after Lee et al. 2022): every token covered
    * by at least one word-k-gram span that appears verbatim in another
    * document is dropped, and the remaining tokens are reassembled in
    * order — dedup at sub-document granularity, where document-level
    * dedup would either keep the copied passage or throw away the whole
    * document. Returns (id, n_tokens, n_dup_tokens, clean_text).
    *
    * Scale shape: positioned spans hash to 60-bit longs (pinned once for
    * the df aggregate and the coverage join); duplicated-token positions
    * come from exploding each duplicated span into ≤k positions
    * (bounded fan-out) then distinct; the final reassembly is the
    * [[TextAnalysis.removeBoilerplateLines]] pattern — one order-pinned
    * array_sort aggregate per document, no window sort. */
  /** Corpus-wide exact PARAGRAPH dedup, keep-first (the MassiveText/
    * Gopher recipe's "remove exact duplicate paragraphs" step — Rae et
    * al. 2021 §A.1.2): every paragraph keeps only its FIRST occurrence in
    * global (id, paragraph-index) order; later verbatim copies are
    * dropped and each document is reassembled in original order. Sits
    * between the line tier ([[graft.ops.TextAnalysis
    * .removeBoilerplateLines]]: per-key df-threshold, drops ALL copies of
    * chrome) and the k-gram tier ([[removeDuplicatedSpans]]: sub-line
    * granularity, drops EVERY occurrence): here exactly one copy
    * survives, so unique content is never lost.
    *
    * Scale shape: paragraphs shuffle once on their 60-bit hash (the
    * argmin carries one (id, idx) struct per DISTINCT paragraph — map-side
    * combined), the keep-test is an equi-join on that hash, and
    * reassembly is the one order-pinned aggregate (array_sort over
    * (idx, text) structs — no window sort). Nothing is ever compared
    * text-to-text across documents. */
  def dedupParagraphsKeepFirst(df: DataFrame, idCol: String, textCol: String,
                               sep: String = "\n"): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), sep)))
      .withColumnRenamed("pos", "para_idx")
      .withColumn("para", trim(col("col")))
      .filter(col("para") =!= "")
      .withColumn("ph", graft.util.Hash.md5Bits60(col("para")))
      .select(col(idCol), col("para_idx"), col("para"), col("ph"))
    val first = paras
      .groupBy(col("ph"))
      .agg(min(struct(col(idCol), col("para_idx"))).as("_f"))
      .select(col("ph"), col("_f").getField(idCol).as("_fid"),
        col("_f").getField("para_idx").as("_fidx"))
    paras.join(first, "ph")
      .withColumn("_keep", col(idCol) === col("_fid") && col("para_idx") === col("_fidx"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(!col("_keep"), 1L).otherwise(0L)).as("n_dropped"),
        coalesce(array_join(transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("para_idx"), col("para"))))),
          x => x.getField("para")), sep), lit("")).as("clean_text"))
  }

  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 5): DataFrame = {
    val toks = Pin(df.select(col(idCol), tokensCol(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) > 0)) // feeds the span pass (x2) and the rebuild join
    // NOT pinned (r16): the exploded span relation is gram-volume-sized
    // (~12 GB at sf30 against a 4.6 GB pool — the pin churned more than
    // the ~1.4 s/32-core md5 recompute it saved); it is map-only from the
    // pinned toks, so its two consumers just re-run the explode.
    // r17: positioned gram hashes via the native kernel — posexplode's
    // ordinal IS the old struct's `i AS p` (position order is the kernel
    // contract), so the (p, hv) rows are identical without materializing
    // any span string or hex digest
    val spans = toks
      .select(col(idCol), posexplode(org.apache.spark.sql.graft.GramHash60(
        col("_toks"), k)).as(Seq("p", "hv")))
    val spanDf = spans.select(col(idCol), col("hv")).distinct()
      .groupBy(col("hv")).agg(count(lit(1)).as("span_df"))
    // Dup-span STARTS per doc — a doc-keyed relation bounded by the dup
    // structure, NOT a per-covered-position explode: the r15 shape
    // expanded every hot span to its k positions (2.2 BILLION pre-distinct
    // rows at sf30), distinct'd them, joined them to a full posexplode of
    // the corpus, and re-sorted every doc's survivors through a
    // collect_list — 121 s of the 154 s funnel. Sorted starts + one
    // merged-interval fold per doc compute the identical coverage and
    // rebuild map-only.
    val starts = spans
      .join(spanDf.filter(col("span_df") >= 2).select(col("hv")), "hv")
      .groupBy(col(idCol)).agg(array_sort(collect_set(col("p"))).as("_ps"))
    // per-doc merged-interval rebuild as ONE native codegen'd pass
    // ([[org.apache.spark.sql.graft.SpanRebuild]]): each start s covers
    // tokens [s, min(s+k-1, n-1)], overlaps merge, gaps re-join in order.
    // A doc with no dup spans rebuilds its whole collapsed text; a fully
    // covered doc emits ''. (A higher-order aggregate() fold computed the
    // same thing at ~1.5 ms/doc — interpreted per element, accumulator
    // copied per step; the native loop is the per-doc state machine the
    // SQL algebra can't express efficiently.)
    // shuffle-hash, not sort-merge: SMJ would SORT the token-array side
    // (full doc payloads through a sort buffer at every scale) to join a
    // doc-keyed relation that hashes fine; the starts side is the smaller
    // build side by construction
    toks.join(starts.hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("_ps", coalesce(col("_ps"), expr("CAST(array() AS array<int>)")))
      .withColumn("_r", org.apache.spark.sql.graft.SpanRebuild(col("_toks"), col("_ps"), k))
      .select(col(idCol),
        expr("CAST(size(_toks) AS BIGINT)").as("n_tokens"),
        col("_r.n_dup_tokens").as("n_dup_tokens"),
        col("_r.clean_text").as("clean_text"))
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` word-k-gram shingles with any document of a (much
    * smaller) benchmark/eval set — the asymmetric containment check run
    * before training so eval data is not memorized. Shingles are hashed
    * to 60-bit longs and joined hash-to-hash: the corpus never
    * cross-joins the benchmark, and the shuffle carries fixed-width keys.
    *
    * `broadcastBench` (default true) hints the benchmark shingle side for
    * broadcast — right for a real eval set (fixed, small). Pass false when
    * the bench side scales with the corpus (e.g. an extracted slice of
    * it): a hard broadcast of an unbounded relation hits Spark's 8 GB
    * broadcast cap / driver memory; the shuffled hash join is the safe
    * shape there. */
  def ngramContamination(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 8, minShared: Long = 1L,
                         broadcastBench: Boolean = true): DataFrame = {
    def hashed(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as), explode(org.apache.spark.sql.graft.GramHash60(
          tokensCol(col(textCol)), k)).as("hv"))
        .distinct() // distinct over the HASH, mirroring the oracle exactly
    val benchSide = hashed(bench, "bench_id")
    hashed(corpus, "corpus_id")
      .join(if (broadcastBench) broadcast(benchSide) else benchSide, "hv")
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-document n-gram novelty vs a reference corpus — the
    * memorization/novelty audit ([[ngramContamination]] turned
    * per-document): for each batch document, how many of its distinct
    * word-k-grams already exist ANYWHERE in the reference, and the novel
    * fraction in bp. Low novelty flags near-verbatim recycling of the
    * reference (the signal memorization studies score generations with);
    * a whole batch skewing low flags a scraped mirror of data already
    * held.
    *
    * Scale shape: both sides reduce to distinct 60-bit fingerprints (the
    * minhash-family hash, narrow longs — the text never shuffles); the
    * reference side is ONE corpus-wide distinct; the batch side is
    * per-doc distinct; one fingerprint-keyed left join + a per-doc
    * count. Nothing is quadratic; set `broadcastReference` only when the
    * reference is a fixed small set (the eval-bench case). */
  def ngramNovelty(batch: DataFrame, reference: DataFrame,
                   idCol: String, textCol: String, k: Int = 8,
                   broadcastReference: Boolean = false): DataFrame = {
    val docGrams = batch.select(col(idCol), explode(
        org.apache.spark.sql.graft.GramHash60(tokensCol(col(textCol)), k)).as("hv"))
      .distinct()
    val refGrams = reference.select(explode(
        org.apache.spark.sql.graft.GramHash60(tokensCol(col(textCol)), k)).as("hv"))
      .distinct()
      .withColumn("_seen", lit(1L))
    val r = if (broadcastReference) broadcast(refGrams) else refGrams
    docGrams.join(r, Seq("hv"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_seen"), lit(0L))).as("n_seen"))
      .withColumn("novel_bp", expr("(10000 * (n_grams - n_seen)) div n_grams"))
  }

  /** Semantic (paraphrase-level) benchmark decontamination — the
    * embedding-space analogue of [[ngramContamination]]: corpus documents
    * whose embedding lies within cosine `thresholdBp` of ANY benchmark
    * embedding. Verbatim-n-gram decontamination misses rephrased eval
    * items (the overlap that matters for memorization studies is
    * semantic, not literal); this tier catches them at the cost of an
    * embedding pass.
    *
    * Blocking is sign-projection LSH ([[Similarity.signatures]], the same
    * ±1 md5-derived planes as the near-dup family): BOTH sides are hashed
    * with the same planes, candidates are bucket collisions ACROSS sides
    * (never corpus×bench all-pairs), and exact cosine verifies each
    * candidate. The corpus is scanned once for signatures; with
    * `broadcastBench` (the real-eval-set case: fixed, small) both the
    * collision join and the bench-vector verify join are map-side — the
    * corpus side never shuffles at all, only the candidate relation does
    * (on corpus_id, to fetch verify vectors). Pass false when the bench
    * side scales with the corpus (the [[ngramContamination]] contract).
    * Width sizing follows the [[Similarity.numBitsFor]] reasoning but
    * defaults NARROWER (6 bits — a wider net) than near-dup: the
    * decontamination band sits at moderate similarity where per-table
    * collision odds fall fast, and a missed contaminated doc costs more
    * than extra verify pairs. Returns (corpus_id, bench_id, sim_bp). */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String, dim: Int,
                            thresholdBp: Long = 2500L,
                            numTables: Int = 4, numBits: Int = 6,
                            seed: Long = 42L,
                            broadcastBench: Boolean = true): DataFrame = {
    def hinted(df: DataFrame): DataFrame = if (broadcastBench) broadcast(df) else df
    val cSigs = Similarity.signatures(corpus, idCol, vecCol, dim, numTables, numBits, seed)
      .select(col(idCol).as("corpus_id"), col("table"), col("bucket"))
    val bSigs = Similarity.signatures(bench, idCol, vecCol, dim, numTables, numBits, seed)
      .select(col(idCol).as("bench_id"), col("table"), col("bucket"))
    val cands = cSigs.join(hinted(bSigs), Seq("table", "bucket"))
      .select("corpus_id", "bench_id").distinct()
    val cv = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("_cv"))
    val bv = bench.select(col(idCol).as("bench_id"), col(vecCol).as("_bv"))
    cands
      .join(cv, "corpus_id")
      .join(hinted(bv), "bench_id")
      .withColumn("sim_bp", floor(VectorOps.cosine(col("_cv"), col("_bv")) * 10000).cast("long"))
      .filter(col("sim_bp") >= thresholdBp)
      .select("corpus_id", "bench_id", "sim_bp")
  }

  /** [[semanticContamination]] with the signature width DERIVED from the
    * CORPUS count via [[Similarity.numBitsFor]] — the 100 TB default, and
    * the fix for the failure the fixed-width row measures: with 2^bits
    * buckets sized so corpus-side occupancy stays ≈ targetBucketSize, the
    * cross-side collision volume is ~|bench|·targetBucketSize·tables —
    * LINEAR in each side — where any FIXED width goes as
    * |corpus|·|bench|/2^bits, quadratic once both sides grow (measured:
    * the 6-bit row ran 1.6–1.7/decade through sf10; the tamed cells sit
    * beside it in BASELINE.md). The width comes from the corpus side —
    * the relation that grows — and costs one `count()` next to the
    * signature pass; both sides hash with the same derived planes. */
  def semanticContaminationAuto(corpus: DataFrame, bench: DataFrame,
                                idCol: String, vecCol: String, dim: Int,
                                thresholdBp: Long = 2500L,
                                numTables: Int = 4,
                                targetBucketSize: Long = 1000L,
                                seed: Long = 42L,
                                broadcastBench: Boolean = true): DataFrame =
    semanticContamination(corpus, bench, idCol, vecCol, dim, thresholdBp,
      numTables,
      Similarity.numBitsFor(math.max(1L, corpus.count()), targetBucketSize),
      seed, broadcastBench)

  /** Embedding-cosine verification of GIVEN candidate pairs (id_a, id_b)
    * — fed from LSH bucket collisions ([[Similarity.bucketCandidatePairs]])
    * or any other blocking stage. Equi-joins back to the vector relation,
    * exact cosine, basis-point threshold; cost scales with candidates. */
  def embeddingNearDup(pairs: DataFrame, emb: DataFrame, idCol: String,
                       vecCol: String, thresholdBp: Long): DataFrame = {
    val vecs = emb.select(col(idCol), col(vecCol))
    pairs.select(col("id_a"), col("id_b"))
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), "id_b")
      .withColumn("sim_bp", floor(VectorOps.cosine(col("v_a"), col("v_b")) * 10000).cast("long"))
      .filter(col("sim_bp") >= thresholdBp)
      .select("id_a", "id_b", "sim_bp")
  }

  /** Representative selection per dedup CLUSTER: near-dup copies are not
    * identical (OCR noise, boilerplate variants, truncation), so
    * production dedup keeps the BEST copy, not the lowest id — argmax of
    * `scoreCol` per `clusterCol`, ties broken on min id for determinism.
    * Feed it [[Components.clusterDocuments]] output joined to any scoring
    * relation (e.g. [[TextAnalysis.quality]]). One hash shuffle on the
    * cluster key; rank<=1 plans as WindowGroupLimit, so partial top-1 runs
    * map-side — no full per-cluster sort materializes. */
  def keepBest(clustered: DataFrame, clusterCol: String, idCol: String,
               scoreCol: String): DataFrame = {
    // the Sampling.tokenBudgetPerKey convention: refuse rather than
    // silently drop a pre-existing column that shadows the internal rank
    require(!clustered.columns.contains("_rn"),
      "input must not already contain a '_rn' column (would be clobbered)")
    clustered.withColumn("_rn", row_number().over(
        Window.partitionBy(col(clusterCol)).orderBy(col(scoreCol).desc, col(idCol))))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** The composed embedding near-dup pipeline with AUTO-SIZED LSH width:
    * [[Similarity.bucketCandidatePairsAuto]] derives the signature width
    * from the corpus count (~+10 bits per 1000× growth,
    * [[Similarity.numBitsFor]]), then exact cosine verifies the bucket
    * collisions. This is the default entry point — the scale guidance is
    * the behavior, not a docstring; compose [[Similarity
    * .bucketCandidatePairs]] + [[embeddingNearDup]] directly only for a
    * pinned explicit width (the embed_neardup oracle shape). */
  def embeddingNearDuplicates(emb: DataFrame, idCol: String, vecCol: String,
                              dim: Int, thresholdBp: Long,
                              numTables: Int = 4,
                              targetBucketSize: Long = 1000L,
                              maxBucket: Int = DefaultMaxBucket): DataFrame =
    embeddingNearDup(
      Similarity.bucketCandidatePairsAuto(emb, idCol, vecCol, dim, numTables,
        targetBucketSize, maxBucket = maxBucket),
      emb, idCol, vecCol, thresholdBp)

  /** SemDeDup-style semantic dedup tier (Abbas et al. 2023): cluster the
    * embedding space with the IVF coarse quantizer ([[Ivf.train]] — exact-
    * integer centroid state, bit-reproducible), generate candidate pairs
    * only WITHIN clusters, and verify with exact cosine — an alternative
    * candidate generator to random-hyperplane LSH
    * ([[embeddingNearDuplicates]]) that exploits CLUSTERED embedding
    * spaces: hyperplane buckets cut the space with data-blind planes and
    * can split a tight semantic cluster across buckets, while k-means
    * cells follow the data.
    *
    * Scale shape: training is `iters` bounded passes (the k-entry codebook
    * is driver state, like IVF search); assignment is one narrow map
    * against the broadcast codebook; the only exchange is the equi-join of
    * the assignment relation with itself on `cluster`. Within-cluster pair
    * expansion is O(cluster²) — size `numClusters` so corpus/numClusters
    * stays near the intended cluster size (the [[Similarity.numBitsFor]]
    * rationale; SemDeDup itself uses k ≈ √n), and `maxCluster` (default
    * uncapped — the oracle shape) drops degenerate clusters before the
    * join, bounding the product at cap² per cluster like the banded-LSH
    * caps. The window count reuses the join's hash partitioning on
    * `cluster` — no extra shuffle. Returns (id_a, id_b, sim_bp); compose
    * with [[Components.clusterDocuments]] + [[keepBest]] for
    * representative selection (the dedup_semantic query shape). Recall vs
    * the hyperplane-LSH tier is measured by DedupSpec's blocking
    * comparison on the fixture embeddings (both verify with the same
    * exact cosine, so each only ever loses pairs at the blocking stage). */
  def semanticNearDuplicates(emb: DataFrame, idCol: String, vecCol: String,
                             numClusters: Int, iters: Int = 2,
                             thresholdBp: Long = 2500L,
                             maxCluster: Int = Int.MaxValue): DataFrame = {
    val model = Ivf.train(emb, idCol, vecCol, numClusters, iters)
    // pinned: both self-join sides read one materialized assignment pass
    // instead of re-running the codebook map per side
    val assigned = Pin(Ivf.assign(emb, idCol, vecCol, model))
    val capped =
      if (maxCluster == Int.MaxValue) assigned
      else assigned.withColumn("_cn",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .filter(col("_cn") <= maxCluster).drop("_cn")
    val a = capped.select(col(idCol).as("id_a"), col("cluster"))
    val b = capped.select(col(idCol).as("id_b"), col("cluster"))
    // each id sits in exactly ONE cluster, so the pairs are already
    // distinct — no dedup shuffle (unlike multi-table LSH candidates)
    val pairs = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    embeddingNearDup(pairs, emb, idCol, vecCol, thresholdBp)
  }

  /** [[semanticNearDuplicates]] under the two-level codebook
    * ([[Ivf.trainHierarchical]]) — the posture that holds BOTH scale
    * terms linear-with-constant: child cells bound the verify at
    * ~targetCell members (pair volume n·targetCell/2, the autoK win) and
    * the hierarchical assignment bounds the codebook pass at n·√k
    * (the term flat autoK left quadratic — measured 1.39/decade at the
    * r12 sf3 asymptote, vs 3.86 for fixed k). Same confinement
    * semantics: candidates share a (super, child) cell. */
  def semanticNearDuplicatesHierarchical(emb: DataFrame, idCol: String, vecCol: String,
                                         k2: Int, targetCell: Int = 100,
                                         thresholdBp: Long = 8500L): DataFrame = {
    val m2 = Ivf.trainHierarchical(emb, idCol, vecCol, k2, targetCell)
    val assigned = Pin(Ivf.assignHierarchical(emb, idCol, vecCol, m2))
    val a = assigned.select(col(idCol).as("id_a"), col("cluster"))
    val b = assigned.select(col(idCol).as("id_b"), col("cluster"))
    val pairs = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    embeddingNearDup(pairs, emb, idCol, vecCol, thresholdBp)
  }

  /** All-pairs embedding cosine over a bounded id slice — the exact
    * spot-check tier (quadratic by design, like the sampled
    * [[ngramJaccard]]); production near-dup feeds the pairs overload from
    * LSH buckets instead. */
  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the classic
    * SORT-based candidate generator beside this file's hash/LSH families:
    * order the corpus by a blocking key and pair every record with its
    * `window` successors. Where LSH recall depends on banding probability,
    * SNM recall depends on the key design (near-dups must sort close), and
    * its cost is ONE global sort plus a corpus×window join — no banding
    * tables, no bucket skew.
    *
    * The global rank is built scale-honestly: a range repartition on the
    * key, a per-partition row_number, and partition offsets folded in from
    * a #partitions-sized collect (a bounded model artifact, same class as
    * the IVF centroid pulls — NOT `Window.orderBy` without partitioning,
    * which would funnel the corpus through one task). The ranked relation
    * is pinned before the offset collect: the pin is CORRECTNESS-load-
    * bearing, not just a perf idiom — range boundaries are sampled per
    * execution, so an unpinned plan could count offsets against one
    * boundary draw and rank against another. The pin's range shuffle runs
    * once, at the `Pin` call, and a partition recomputed after a lost
    * block reuses that shuffle's partitioner, so offsets and ranks read
    * one draw.
    *
    * Returns (doc_a, doc_b, gap) with gap ∈ [1, window], doc_a preceding
    * doc_b in (key, id) order. Rank is boundary-placement-independent, so
    * the output is deterministic and exactly oraclable. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
                              window: Int = 3, numPartitions: Int = 0): DataFrame = {
    require(window >= 1, s"sortedNeighborhoodPairs window must be >= 1, got $window")
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val keyed = df.select(col(idCol).cast("long").as("snm_id"),
        col(keyCol).cast("string").as("snm_key"))
      .repartitionByRange(p, col("snm_key"), col("snm_id"))
      .withColumn("pid", spark_partition_id())
    val local = Pin(keyed.withColumn("lrn",
        row_number().over(Window.partitionBy("pid").orderBy("snm_key", "snm_id"))))
    val counts = local.groupBy("pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1).zip(
      counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("pid", "off")
    val ranked = Pin(local.join(broadcast(offDf), "pid")
      .select(col("snm_id"), (col("off") + col("lrn")).as("rn"))) // probe side AND build side of the gap join
    val left = ranked.select(col("snm_id").as("doc_a"), col("rn"),
        explode(expr(s"sequence(1, $window)")).as("gap"))
      .withColumn("rn_b", col("rn") + col("gap"))
    left.join(ranked.select(col("snm_id").as("doc_b"), col("rn").as("rn_b")), "rn_b")
      .select(col("doc_a"), col("doc_b"), col("gap").cast("long").as("gap"))
  }

  /** Normalization-ladder dedup card — the ablation table behind an
    * exact-dedup pass ("how much duplication does each normalization
    * tier unlock?"): duplicate counts under four progressively coarser
    * canonical forms — raw bytes, whitespace-collapsed, lowercased,
    * alphanumeric-only. The gap between adjacent tiers is that tier's
    * contribution; a big whitespace→lowercase jump means the corpus
    * carries case-variant mirrors an exact pass would miss. ONE corpus
    * scan computes all four hashes; the four distinct-counts share one
    * aggregate (Spark expands internally — still one pass over the
    * data), unpivoted to tier rows by `stack`. Duplicates are
    * non-decreasing down the ladder by construction. */
  def normalizationLadder(df: DataFrame, textCol: String): DataFrame = {
    val ws = "trim(regexp_replace(%s, '\\\\s+', ' '))".format(textCol)
    val lc = s"lower($ws)"
    val an = s"regexp_replace($lc, '[^a-z0-9 ]', '')"
    // the four distinct-counts are the dominant shuffle (Expand ×4 over
    // the corpus): 60-bit integer words instead of 32-char hex digests
    // cut the exchanged bytes ~4× — the ladder's first measurement read
    // 0.96/decade on the string form, volume-bound exactly here
    val base = df.select(
      graft.util.Hash.md5Bits60(col(textCol)).as("_h1"),
      graft.util.Hash.md5Bits60(expr(ws)).as("_h2"),
      graft.util.Hash.md5Bits60(expr(lc)).as("_h3"),
      graft.util.Hash.md5Bits60(expr(an)).as("_h4"))
    base.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("_h1")).as("_d1"), countDistinct(col("_h2")).as("_d2"),
        countDistinct(col("_h3")).as("_d3"), countDistinct(col("_h4")).as("_d4"))
      .select(col("n_docs"), expr(
        "stack(4, 'a_raw', _d1, 'b_whitespace', _d2, 'c_lowercase', _d3, 'd_alnum', _d4) AS (tier, n_distinct)"))
      .select(col("tier"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("dup_rows"))
  }

  /** Type-2 clone detection (Roy & Cordy's taxonomy: identical up to
    * consistent identifier renaming — the code-dedup tier exact hashing
    * misses entirely, because renaming one variable defeats a byte hash
    * while leaving the program identical): each document's tokens are
    * alpha-renamed to their FIRST-OCCURRENCE index ("a b c a" and
    * "x y z x" both canonicalize to "1 2 3 1"), the canonical sequence
    * is hashed, and equal hashes are clone groups. A bijective rename
    * preserves the canonical form exactly; merging or reordering
    * identifiers changes it — precisely the type-2 boundary.
    *
    * Deliberately relational (explode → min(pos) per term → dense_rank
    * by first occurrence → ordered rebuild) rather than a
    * list_distinct/array_position one-liner: first-occurrence order
    * under dedup is an ENGINE-SPECIFIC guarantee in list primitives,
    * and the relational form replays bit-identically anywhere.
    *
    * Scale shape: one tokenize/explode, two doc-keyed aggregates (the
    * same partitioning reused), a map-only md5 per doc, and a
    * hash-keyed group collapse; members re-join group stats by hash.
    * Nothing pairwise. Returns one row per clone-group member:
    * (idCol, clone_rep, group_size) with clone_rep the group's min id. */
  def clonesType2(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), posexplode(tokensCol(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    val firstSeen = toks.groupBy(col(idCol), col("term"))
      .agg(min(col("pos")).as("_fp"))
      .withColumn("cid", dense_rank().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("_fp"))).cast("long"))
    val canon = Pin(toks.join(firstSeen.select(col(idCol), col("term"), col("cid")),
        Seq(idCol, "term"))
      .groupBy(col(idCol))
      .agg(md5(array_join(expr("transform(array_sort(collect_list(struct(pos, cid))), s -> s.cid)"), " "))
        .as("_ch"))) // group stats + member join both read it
    val groups = canon.groupBy(col("_ch"))
      .agg(count(lit(1)).as("group_size"), min(col(idCol)).as("clone_rep"))
      .filter(col("group_size") > 1L)
    canon.join(groups, "_ch")
      .select(col(idCol), col("clone_rep"), col("group_size"))
  }

  /** Edit-distance verification over candidate pairs — the record-linkage
    * verify tier beside this file's Jaccard/cosine verifiers (Levenshtein
    * is THE matcher for short normalized fields — titles, names,
    * addresses — where token-set measures are blind to character-level
    * typos and a one-word field has no shingles at all). Each pair's
    * texts are whitespace-normalized, lowercased, and truncated to
    * `prefixChars` before the distance — the bounded-field form
    * record-linkage actually runs (Levenshtein is O(len²) PER PAIR; an
    * uncapped distance over full documents would hide a quadratic inside
    * a "linear" pair pass — the span/winnow tiers own long-text
    * similarity). Emits (doc_a, doc_b, dist, sim_bp) with
    * sim_bp = 10000·(maxlen − dist) div maxlen (10000 when both sides
    * are empty), kept at `sim_bp >= minSimBp`.
    *
    * Scale shape: cost rides the CANDIDATE relation (SNM windows, LSH
    * buckets — already volume-bounded by their generators); the corpus
    * contributes two id-keyed projection joins of the normalized prefix,
    * nothing pairwise. Both engines ship the same classic Levenshtein,
    * so the verify is exactly oraclable. */
  def editDistancePairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String, prefixChars: Int = 64,
                        minSimBp: Long = 8000L): DataFrame = {
    require(prefixChars >= 1, s"prefixChars must be >= 1, got $prefixChars")
    require(minSimBp >= 0L && minSimBp <= 10000L, s"minSimBp out of [0,10000]: $minSimBp")
    val norm = docs.select(col(idCol).cast("long").as("_id"),
      expr(s"substring(lower(trim(regexp_replace($textCol, '\\\\s+', ' '))), 1, $prefixChars)")
        .as("_n"))
    pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .join(norm.withColumnRenamed("_id", "doc_a").withColumnRenamed("_n", "_na"), "doc_a")
      .join(norm.withColumnRenamed("_id", "doc_b").withColumnRenamed("_n", "_nb"), "doc_b")
      .withColumn("dist", levenshtein(col("_na"), col("_nb")).cast("long"))
      .withColumn("_ml", greatest(length(col("_na")), length(col("_nb"))).cast("long"))
      .withColumn("sim_bp",
        expr("CASE WHEN _ml = 0 THEN CAST(10000 AS BIGINT) ELSE (10000 * (_ml - dist)) div _ml END"))
      .filter(col("sim_bp") >= minSimBp)
      .select(col("doc_a"), col("doc_b"), col("dist"), col("sim_bp"))
  }

  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       thresholdBp: Long, sampleBelow: Long): DataFrame = {
    val sub = emb.filter(col(idCol) < sampleBelow)
    val a = sub.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = sub.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim_bp", floor(VectorOps.cosine(col("v_a"), col("v_b")) * 10000).cast("long"))
      .filter(col("sim_bp") >= thresholdBp)
      .select("id_a", "id_b", "sim_bp")
  }
}
