package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.chunk.Chunkers
import graft.ops.{Bloom, Dedup, Dsir, Multimodal, TextAnalysis}
import graft.util.Hash

/** Every native kernel factory on generated inputs — null, empty,
  * whitespace-only, multi-byte and surrogate-pair text; empty, truncated
  * and odd-length binaries; null `ByteAt` positions and null `AudioPcm16`
  * headers — evaluated three ways that must agree: inside whole-stage
  * codegen (checked on the executed plan), interpreted under
  * `NO_CODEGEN`, and by the reference its own spec compares it with (the
  * old relational or hex chain, or a Scala fold where no chain existed).
  *
  * Inputs are frames over an RDD, not local relations: the optimizer
  * would evaluate a projection over a local relation itself,
  * interpreted, and the codegen path would never run. */
object KernelProps extends Properties("graft.native") with AdaptiveSparkPlanHelper {

  // each sample runs a few Spark jobs over a whole generated batch
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.spark

  // ---- generators ----------------------------------------------------

  private val token: Gen[String] = Gen.frequency(
    4 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("abcxyz".toSeq)).map(_.mkString)),
    3 -> Gen.oneOf("İstanbul", "STRASSE", "ﬁ", "café", "naïve", "中文", "рус", "ẞtraße",
      "😀", "𝒳y", "a😀b", "x y", "bell\u0007"),
    2 -> Gen.oneOf("the", "of", "and", "a"),
    1 -> Gen.const(""))
  private val space: Gen[String] = Gen.oneOf(" ", " ", "  ", "\t", "\n", " \r\n ")

  /** Text: null, empty, whitespace-only, or tokens (some repeated, so
    * shingles and phrases recur) between mixed whitespace. */
  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(""), 1 -> Gen.oneOf("   ", "\t\n "),
    8 -> (for {
      n <- Gen.choose(1, 14)
      pool <- Gen.listOfN(3, token)
      toks <- Gen.listOfN(n, Gen.frequency(3 -> token, 2 -> Gen.oneOf(pool)))
      seps <- Gen.listOfN(n + 1, space)
    } yield seps.zip(toks :+ "").map { case (s, t) => s + t }.mkString))

  private def bytes(n: Int): Gen[Array[Byte]] =
    Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  /** Binaries: null, empty, truncated below a 44-byte WAV header, WAV
    * with an odd-length or empty body, and short random payloads. */
  private val binary: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(Array.emptyByteArray),
    2 -> Gen.choose(1, 43).flatMap(bytes),
    3 -> Gen.choose(0, 40).map(n => 2 * n + 1).flatMap(bytes).map(Multimodal.buildWav(8000, 1, _)),
    1 -> Gen.const(Multimodal.buildWav(8000, 1, Array.emptyByteArray)),
    2 -> Gen.choose(1, 12).flatMap(bytes))

  private def batch[T](g: Gen[T]): Gen[List[T]] = Gen.choose(1, 12).flatMap(Gen.listOfN(_, g))

  // ---- the three paths -----------------------------------------------

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def texts(ts: Seq[String]): DataFrame =
    frame(StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("text", StringType))), ts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) })

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  /** Some whole-stage codegen stage of the executed plan (adaptive
    * stages included) calls a kernel. */
  private def compiled(df: DataFrame): Boolean = find(df.queryExecution.executedPlan) {
    case w: WholeStageCodegenExec =>
      w.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[StaticInvoke])))
    case _ => false
  }.isDefined

  /** `kernel` (a fresh frame per call) under whole-stage codegen and
    * under NO_CODEGEN, each equal to `reference` as a multiset of rows. */
  private def agree(kernel: => DataFrame, reference: => Map[Row, Int]): Boolean = {
    val cg = kernel
    val viaCodegen = multiset(cg)
    val (viaInterpreter, interpretedOnly) = TestSpark.withoutCodegen {
      val in = kernel
      (multiset(in), !compiled(in))
    }
    val ref = reference
    val ok = compiled(cg) && interpretedOnly && viaCodegen == ref && viaInterpreter == ref
    if (!ok) println(s"[KernelProps] codegen stage ${compiled(cg)}, interpreted-only $interpretedOnly\n" +
      s"  codegen     $viaCodegen\n  interpreted $viaInterpreter\n  reference   $ref")
    ok
  }

  // ---- text hashing --------------------------------------------------

  private val toks: Column = Dedup.tokensCol(col("text"))

  /** Word-k-gram shingles exactly as [[Dedup.shingles]] builds them. */
  private def shingles(k: Int): Column =
    when(size(col("toks")) >= k,
      expr(s"transform(sequence(0, size(toks) - $k), i -> array_join(slice(toks, i + 1, $k), ' '))"))
      .otherwise(array(array_join(col("toks"), " ")))

  private def m1(s: Column): Column = Hash.bits60OfHex(md5(s))
  private def m2(s: Column): Column = Hash.bits56OfHex(md5(s))

  property("Md5Word equals conv(substring(md5(..)))") = forAllNoShrink(batch(text)) { ts =>
    val slices = Seq((0, 15), (16, 14), (31, 1))
    agree(texts(ts).select(col("id") +: slices.map { case (s, n) => Md5Word(col("text"), s, n) }: _*),
      multiset(texts(ts).select(col("id") +: slices.map { case (s, n) =>
        conv(substring(md5(col("text")), s + 1, n), 16, 10).cast("long") }: _*)))
  }

  property("SimhashFp equals the 64-bit-vote relational fold") = forAllNoShrink(batch(text)) { ts =>
    val words = filter(toks, t => t =!= lit(""))
    val fp = (0 until 64).map { b =>
      def bit(t: Column): Column =
        (if (b < 60) shiftright(m1(t), b) else shiftright(m2(t), b - 60)).bitwiseAND(lit(1L))
      when(lit(2) * size(filter(words, t => bit(t) === 1L)) > size(words), lit(1L << b))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agree(texts(ts).select(col("id"), SimhashFp(col("text"))),
      multiset(texts(ts).select(col("id"), when(col("text").isNotNull, fp))))
  }

  property("MinhashFeatures equals the md5-hex shingle mins and sets") =
    forAllNoShrink(batch(text), Gen.oneOf((3, 4, true), (1, 2, false), (5, 0, true))) {
      case (ts, (k, numHashes, withSet)) =>
        val sh = shingles(k)
        val fields =
          (if (numHashes > 0) Seq(array((0 until numHashes).map(i =>
            array_min(transform(sh, s => m1(s) + lit(i.toLong) * m2(s)))): _*)) else Nil) ++
            (if (withSet) Seq(sort_array(array_distinct(transform(sh, s => m1(s))))) else Nil)
        agree(texts(ts).select(col("id"), MinhashFeatures(col("text"), k, numHashes, withSet)),
          multiset(texts(ts).withColumn("toks", toks)
            .select(col("id"), when(col("text").isNotNull, struct(fields: _*)))))
    }

  property("BigramBuckets equals bigramsCol + seeded md5 buckets") =
    forAllNoShrink(batch(text), Gen.oneOf(8192L, 7L)) { (ts, mod) =>
      agree(texts(ts).select(col("id"), BigramBuckets(col("text"), Dsir.Seed, mod)),
        multiset(texts(ts).select(col("id"), transform(Dsir.bigramsCol(col("text")), g =>
          pmod(m1(concat(lit(s"${Dsir.Seed}:"), g)), lit(mod))))))
    }

  // ---- gram hashing, winnowing, Bloom ---------------------------------

  property("GramHash60 equals the md5-hex shingle hashes") =
    forAllNoShrink(batch(text), Gen.oneOf(1, 3, 8)) { (ts, k) =>
      agree(texts(ts).select(col("id"), GramHash60(toks, k)),
        multiset(texts(ts).withColumn("toks", toks)
          .select(col("id"), transform(shingles(k), s => m1(s)))))
    }

  /** The pre-kernel higher-order winnow selection, as GramKernelSpec
    * replays it. */
  private def oldWinnow(k: Int, w: Int): Column = {
    val gramHash = (g: String) => s"CAST(conv(substring(md5($g), 1, 15), 16, 10) AS BIGINT)"
    val toksExpr = "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"
    def gramsExpr(ts: String) =
      s"""IF(size($ts) >= $k,
         |  transform(sequence(0, size($ts) - $k), i -> ${gramHash(s"array_join(slice($ts, i + 1, $k), ' ')")}),
         |  array(${gramHash(s"array_join($ts, ' ')")}))""".stripMargin
    def selExpr(g: String) =
      s"""transform(
         |  array_distinct(transform(
         |    sequence(0, size($g) - least($w, size($g))),
         |    j -> j + array_max(filter(transform(sequence(0, least($w, size($g)) - 1),
         |      t -> IF(element_at($g, j + t + 1) =
         |              array_min(slice($g, j + 1, least($w, size($g)))), t, -1)),
         |      x -> x >= 0)))),
         |  p -> struct(CAST(p AS BIGINT) AS pos, element_at($g, p + 1) AS fp))""".stripMargin
    expr(s"""element_at(transform(
            |  array(element_at(transform(array($toksExpr), ts -> ${gramsExpr("ts")}), 1)),
            |  g -> ${selExpr("g")}), 1)""".stripMargin)
  }

  property("WinnowPicks equals the old higher-order selection") =
    forAllNoShrink(batch(text), Gen.oneOf((5, 4), (2, 7), (1, 1))) { case (ts, (k, w)) =>
      def picks(c: Column) = texts(ts).select(col("id"), explode(c).as("_p"))
        .select(col("id"), col("_p.pos"), col("_p.fp"))
      agree(picks(WinnowPicks(col("text"), k, w)), multiset(picks(oldWinnow(k, w))))
    }

  property("BloomShingleHits equals the shingle explode + mightContain counts") =
    forAllNoShrink(batch(text)) { ts =>
      val (k, numBits, numHashes) = (3, 1 << 10, 4)
      def bloom = Bloom.build(Dedup.shingles(texts(ts).filter(col("id") % 2 === 0), "id", "text", k),
        col("shingle"), numBits, numHashes)
      agree(texts(ts).crossJoin(broadcast(bloom)).select(col("id"),
          BloomShingleHits(col("text"), col("bloom_words"), k, numBits, numHashes)),
        multiset(Dedup.shingles(texts(ts), "id", "text", k).crossJoin(broadcast(bloom))
          .withColumn("hit", Bloom.mightContain(col("bloom_words"), col("shingle"), numBits, numHashes))
          .groupBy(col("id"))
          .agg(struct(count(lit(1)), sum(when(col("hit"), 1L).otherwise(0L)))))
      )
    }

  // ---- payload bytes -------------------------------------------------

  private def payloads(rows: Seq[(Array[Byte], Integer)], intCol: String): DataFrame =
    frame(StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType), StructField(intCol, IntegerType))),
      rows.zipWithIndex.map { case ((b, p), i) => Row(i.toLong, b, p) })

  private def nullableInt(g: Gen[Int]): Gen[Integer] =
    Gen.frequency(1 -> Gen.const(null: Integer), 4 -> g.map(Int.box))

  property("ByteAt equals the coalesced hex-chain byte, null pos included") =
    forAllNoShrink(batch(Gen.zip(binary, nullableInt(Gen.choose(0, 60))))) { rows =>
      agree(payloads(rows, "pos").select(col("id"), ByteAt(col("payload"), col("pos"))),
        multiset(payloads(rows, "pos").select(col("id"),
          coalesce(conv(expr("substring(hex(payload), 2 * pos + 1, 2)"), 16, 10).cast("int"), lit(0)))))
    }

  property("AudioPcm16 equals the hex-chain samples, null header included") =
    forAllNoShrink(batch(Gen.zip(binary, nullableInt(Gen.oneOf(0, 4, 44, 60))))) { rows =>
      val n = Multimodal.AudioFrames * Multimodal.AudioSamplesPerFrame
      val old = payloads(rows, "_hdr")
        .withColumn("_body", expr("substring(payload, _hdr + 1, 2147483647)"))
        .withColumn("_hx", hex(col("_body")))
        .withColumn("_blen", length(col("_body")).cast("long"))
      agree(payloads(rows, "_hdr").select(col("id"), AudioPcm16(col("payload"), col("_hdr"), n)),
        multiset(old.select(col("id"), array(Multimodal.audioSamplePairs("_hx", "_blen", duck = false)
          .map { case (_, e) => expr(e).cast("int") }: _*))))
    }

  // ---- per-document text kernels ---------------------------------------

  property("RakeTopK equals the relational RAKE") =
    forAllNoShrink(batch(text), Gen.oneOf((4, 3), (2, 5), (1, 1))) { case (ts, (maxLen, k)) =>
      agree(texts(ts).select(col("id"),
          explode(RakeTopK(col("text"), TextAnalysis.Stopwords("en"), maxLen, k)).as("_kp"))
          .select(col("id"), col("_kp.rank"), col("_kp.phrase"), col("_kp.score_milli")),
        multiset(TextAnalysis.rakeKeyphrasesRelational(texts(ts), "id", "text", maxLen, k)))
    }

  property("TermCounts equals the token explode + groupBy counts") = forAllNoShrink(batch(text)) { ts =>
    agree(texts(ts).select(col("id"), explode(TermCounts(col("text"))).as("_tc"))
        .select(col("id"), col("_tc.term"), col("_tc.tf")),
      multiset(texts(ts).select(col("id"), explode(toks).as("term"))
        .filter(col("term") =!= "").groupBy(col("id"), col("term")).agg(count(lit(1)))))
  }

  /** Covered positions [s, min(s+k-1, n-1)] merged; the uncovered tokens
    * rejoined with single spaces. */
  private def spanRef(ts: Seq[String], starts: Seq[Int], k: Int): Row = {
    val covered = starts.flatMap(s => s to math.min(s + k - 1, ts.length - 1)).toSet
    Row(covered.size.toLong, ts.indices.filterNot(covered).map(ts).mkString(" "))
  }

  private val spanRow: Gen[(Seq[String], Seq[Int])] = for {
    n <- Gen.choose(0, 10)
    ts <- Gen.listOfN(n, Gen.frequency(5 -> token, 1 -> Gen.const("")))
    starts <- Gen.someOf(0 until n).map(_.toSeq.sorted)
  } yield (ts, starts)

  property("SpanRebuild equals the merged-interval fold") =
    forAllNoShrink(batch(Gen.frequency(1 -> Gen.const(null), 8 -> spanRow)), Gen.choose(1, 4)) { (rows, k) =>
      def df = frame(StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("toks", ArrayType(StringType)), StructField("starts", ArrayType(IntegerType)))),
        rows.zipWithIndex.map {
          case (null, i) => Row(i.toLong, null, null)
          case ((ts, ss), i) => Row(i.toLong, ts, if (i % 5 == 4) null else ss)
        })
      agree(df.select(col("id"), SpanRebuild(col("toks"), col("starts"), k)),
        multiset(df).map { case (r, c) =>
          val out = if (r.isNullAt(1) || r.isNullAt(2)) null
            else spanRef(r.getSeq[String](1), r.getSeq[Int](2), k)
          Row(r.getLong(0), out) -> c
        })
    }

  // ---- SQL-registered kernels ------------------------------------------

  private val sortedSet: Gen[Seq[Long]] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(Nil),
    6 -> Gen.listOf(Gen.choose(-8L, 24L)).map(_.distinct.sorted))

  property("SortedIntersectCount equals size(array_intersect)") =
    forAllNoShrink(batch(Gen.zip(sortedSet, sortedSet))) { pairs =>
      def df = frame(StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType)))),
        pairs.zipWithIndex.map { case ((a, b), i) => Row(i.toLong, a, b) })
      agree(df.select(col("id"), SortedIntersectCount(col("a"), col("b"))),
        multiset(df.select(col("id"), when(col("a").isNotNull && col("b").isNotNull,
          size(array_intersect(col("a"), col("b"))).cast("long")))))
    }

  private val floatVec: Gen[Seq[Float]] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.choose(0, 4).map(Seq.fill(_)(0f)),
    6 -> Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.oneOf(Gen.choose(-1f, 1f),
      Gen.oneOf(-0f, Float.MinPositiveValue, 1e30f, -3.5f)))))

  property("CosineSimilarity equals the double fold on float and double arrays") =
    forAllNoShrink(batch(Gen.zip(floatVec, floatVec)), Gen.oneOf("float", "double")) { (pairs, bType) =>
      def df = frame(StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType)))),
        pairs.zipWithIndex.map { case ((a, b), i) => Row(i.toLong, a, b) })
        .withColumn("b", col("b").cast(s"array<$bType>"))
      agree(df.select(col("id"), CosineSimilarity(col("a"), col("b"))),
        pairs.zipWithIndex.map { case ((a, b), i) =>
          val sim = if (a == null || b == null) null
            else CosineSimilarity.fold(a.map(_.toDouble).toArray, b.map(_.toDouble).toArray)
          Row(i.toLong, sim)
        }.groupBy(identity).view.mapValues(_.size).toMap)
    }

  property("chunk_windows (SQL) equals Chunkers.splitTextWindows") =
    forAllNoShrink(batch(Gen.zip(text, nullableInt(Gen.choose(1, 30)))), Gen.choose(0, 6)) { (rows, ov) =>
      def sql = {
        frame(StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("text", StringType), StructField("size", IntegerType))),
          rows.zipWithIndex.map { case ((t, n), i) => Row(i.toLong, t, n) })
          .createOrReplaceTempView("kernel_props_docs")
        spark.sql("SELECT id, w.chunk_index, w.chunk_text FROM kernel_props_docs " +
          s"LATERAL VIEW chunk_windows(text, size, $ov) w")
      }
      agree(sql, rows.zipWithIndex.flatMap {
        case ((t, n), i) if t != null && n != null =>
          Chunkers.splitTextWindows(t, n, ov).zipWithIndex.map { case (c, j) => Row(i.toLong, j, c) }
        case _ => Nil
      }.groupBy(identity).view.mapValues(_.size).toMap)
    }
}
