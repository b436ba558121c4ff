package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.ops.Ivf
import graft.vector.VectorOps
import org.apache.spark.sql.graft.CosineSimilarity

/** The IVF corpus pass's scalar kernels against their references
  * ([[IvfReference]], [[VectorOps.cosine]]) on generated vectors that hold
  * negatives, ±0, subnormals, large magnitudes and a zero vector: the
  * Scala quantizer against the in-plan transform, the primitive codebook
  * against the tuple-array loops (ties included), the rescore fold
  * against the native cosine expression under codegen and interpreted,
  * and the search's per-partition top-k against the Window ranking. */
object IvfKernelProps extends Properties("graft.ivf") {

  // each Spark-backed sample runs a few jobs over a whole generated batch
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = TestSpark.spark

  private val floatElem: Gen[Float] = Gen.frequency(
    6 -> Gen.choose(-1f, 1f),
    1 -> Gen.choose(-1e6f, 1e6f),
    3 -> Gen.oneOf(0f, -0f, Float.MinPositiveValue, -Float.MinPositiveValue,
      java.lang.Float.MIN_NORMAL / 3, 1e-7f, -1e-7f, 1e30f, -1e30f,
      Float.MaxValue, -Float.MaxValue, 1f, -1f))
  private val doubleElem: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-1.0, 1.0),
    1 -> Gen.choose(-1e9, 1e9),
    3 -> Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL / 3, 1e-300, 1e15, -1e15, 1e200, -1e200,
      Double.MaxValue, -Double.MaxValue))

  /** A batch of same-dimension vectors plus a zero vector. */
  private def batch[T](elem: Gen[T], zero: T)(implicit ct: scala.reflect.ClassTag[T]): Gen[Seq[Array[T]]] =
    for {
      dim <- Gen.choose(1, 12)
      n <- Gen.choose(1, 24)
      vs <- Gen.listOfN(n, Gen.containerOfN[Array, T](dim, elem))
    } yield vs :+ Array.fill(dim)(zero)

  private def floatFrame(vs: Seq[Array[Float]]): DataFrame = {
    val s = spark; import s.implicits._
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("id", "v")
  }
  private def doubleFrame(vs: Seq[Array[Double]]): DataFrame = {
    val s = spark; import s.implicits._
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("id", "v")
  }

  private def quantizerAgrees(df: DataFrame): Boolean = {
    val s = spark; import s.implicits._
    val inPlan = df.select(col("id"), IvfReference.quantCol("v")).as[(Long, Array[Long])]
      .collect().toMap
    val scala = Ivf.vectors(df, "id", "v").collect()
    scala.length == inPlan.size &&
      scala.forall { case (id, v) => Ivf.quantize(v).sameElements(inPlan(id)) }
  }

  property("Scala quantizer equals the in-plan transform on array<float>") =
    forAllNoShrink(batch(floatElem, 0f))(vs => quantizerAgrees(floatFrame(vs)))

  property("Scala quantizer equals the in-plan transform on array<double>") =
    forAllNoShrink(batch(doubleElem, 0.0))(vs => quantizerAgrees(doubleFrame(vs)))

  /** Bit-equal, with every NaN counted as one value. */
  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  // Small sums and counts from a small pool, so equal and proportional
  // centroids (exact similarity ties) are common; cids are shuffled
  // against insertion order.
  private val centroids: Gen[Map[Int, (Array[Long], Long)]] = for {
    dim <- Gen.choose(1, 6)
    k <- Gen.choose(1, 8)
    pool <- Gen.listOfN(3, Gen.containerOfN[Array, Long](dim, Gen.frequency(
      8 -> Gen.choose(-4L, 4L), 1 -> Gen.choose(-(1L << 40), 1L << 40))))
    picks <- Gen.listOfN(k, Gen.zip(Gen.oneOf(pool), Gen.choose(1L, 3L)))
    cids <- Gen.pick(k, 0 until 20)
  } yield cids.zip(picks.map { case (s, m) => (s.map(_ * m), m) }).toMap

  private def quantized(dim: Int): Gen[Array[Long]] = Gen.frequency(
    6 -> Gen.containerOfN[Array, Long](dim, Gen.choose(-6L, 6L)),
    1 -> Gen.containerOfN[Array, Long](dim, Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, 1L << 50)),
    1 -> Gen.const(Array.fill(dim)(0L)),
    1 -> Gen.choose(0, dim + 2).flatMap(d => Gen.containerOfN[Array, Long](d, Gen.choose(-6L, 6L))))

  property("codebook nearest/nearestWithSim/probes/minDistSq equal the tuple-array loops") =
    forAllNoShrink(centroids.flatMap(c => Gen.zip(Gen.const(c),
      Gen.listOfN(40, quantized(c.head._2._1.length)), Gen.choose(0, 10)))) { case (cents, vs, nprobe) =>
      val book = Ivf.Codebook(cents)
      val ref = cents.toArray.sortBy(_._1)
      vs.forall { v =>
        val (cid, sim) = book.nearestWithSim(v)
        val (rcid, rsim) = IvfReference.nearestWithSim(ref, v.toSeq)
        val refDist = ref.map { case (_, (s, n)) => IvfReference.distSqCentroid(s, n, v.toSeq) }.min
        cid == rcid && same(sim, rsim) && book.nearest(v) == rcid &&
          book.probes(v, nprobe).toSeq == IvfReference.probes(ref, v.toSeq, nprobe) &&
          same(book.minDistSq(v), refDist)
      }
    }

  /** (query, neighbor) -> bits of sim (NaN canonical, as Spark stores
    * it; ±0 apart), None for SQL null. */
  private def simBits(df: DataFrame): Map[(Long, Long), Option[Long]] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))))
    }.toMap

  /** The pass's sims (one cell, every vector a query) against the native
    * expression over the cross product, codegen and interpreted. A vector
    * one dimension longer than the rest gives dimension-mismatch pairs. */
  private def rescoreAgrees(df: DataFrame, dim: Int): Boolean = {
    val model = Ivf.Model(Map(0 -> (Array.fill(dim)(1L), 1L)))
    val ids = df.select("id").collect().map(_.getLong(0)).toSeq
    val pass = simBits(Ivf.probedRescored(df, "id", "v", model, ids, nprobe = 1))
    def cross = df.select(col("id").as("neighbor_id"), col("v").as("_nv"))
      .crossJoin(df.select(col("id").as("query_id"), col("v").as("_qv")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), VectorOps.cosine(col("_nv"), col("_qv")))
    val codegen = simBits(cross)
    val interpreted = TestSpark.withoutCodegen(simBits(cross))
    val vecs = Ivf.vectors(df, "id", "v").collect().toMap
    val folded = codegen.keys.map { case k @ (q, n) =>
      k -> Option(CosineSimilarity.fold(vecs(n), vecs(q))).map(d => java.lang.Double.doubleToLongBits(d))
    }.toMap
    pass == codegen && interpreted == codegen && folded == codegen
  }

  property("pass rescore equals VectorOps.cosine bit for bit on array<float>") =
    forAllNoShrink(batch(floatElem, 0f), floatElem) { (vs, extra) =>
      rescoreAgrees(floatFrame(vs :+ (vs.head :+ extra)), vs.head.length)
    }

  property("pass rescore equals VectorOps.cosine bit for bit on array<double>") =
    forAllNoShrink(batch(doubleElem, 0.0), doubleElem) { (vs, extra) =>
      rescoreAgrees(doubleFrame(vs :+ (vs.head :+ extra)), vs.head.length)
    }

  property("the zero vector and a dimension mismatch rescore to null") = Prop {
    val df = doubleFrame(Seq(Array(1.0, 2.0), Array(0.0, 0.0), Array(1.0, 2.0, 3.0)))
    val pass = simBits(Ivf.probedRescored(df, "id", "v",
      Ivf.Model(Map(0 -> (Array(1L, 1L), 1L))), Seq(0L), nprobe = 1))
    pass == Map((0L, 1L) -> None, (0L, 2L) -> None)
  }

  /** A corpus for the ranking, as (id, vector) rows: ids from a small
    * range, so some repeat (a repeated query id is a duplicated query
    * row); vectors drawn often from a small pool (equal sims) and the
    * zero vector (null sims) besides fresh ones. */
  private def rankCorpus[T](elem: Gen[T], zero: T)(
      implicit ct: scala.reflect.ClassTag[T]): Gen[Seq[(Long, Array[T])]] = for {
    dim <- Gen.choose(1, 4)
    pool <- Gen.listOfN(2, Gen.containerOfN[Array, T](dim, elem))
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 20L), Gen.frequency(
      4 -> Gen.oneOf(pool), 1 -> Gen.const(Array.fill(dim)(zero)),
      3 -> Gen.containerOfN[Array, T](dim, elem))))
  } yield rows

  /** A request against `rows`: query ids present or absent (-1), some
    * repeated; a codebook of 1-4 corpus vectors; `k` from 0 past the
    * candidate count; `nprobe` from 1 to two past the cell count. */
  private def request[T](rows: Seq[(Long, Array[T])], toDouble: T => Double): Gen[(Seq[Long], Ivf.Model, Int, Int)] = for {
    qids <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, Gen.frequency(
      5 -> Gen.oneOf(rows.map(_._1)), 1 -> Gen.const(-1L))))
    cells <- Gen.choose(1, math.min(4, rows.size))
    k <- Gen.frequency(3 -> Gen.choose(0, 4), 1 -> Gen.choose(0, 2 * rows.size + 2))
    nprobe <- Gen.choose(1, cells + 2)
  } yield (qids,
    Ivf.Model(rows.take(cells).zipWithIndex.map { case ((_, v), c) =>
      c -> (Ivf.quantize(v.map(toDouble)), 1L) }.toMap),
    k, nprobe)

  /** `search` and the Window reference give equal row multisets and equal
    * schemas, nullability included, with `int` or `long` ids. */
  private def rankingAgrees(df: DataFrame, req: (Seq[Long], Ivf.Model, Int, Int), idType: String): Boolean = {
    val (qids, model, k, nprobe) = req
    val e = df.withColumn("id", col("id").cast(idType))
    def rows(r: DataFrame) = r.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val got = Ivf.search(e, "id", "v", model, qids, k, nprobe)
    val ref = IvfReference.searchWindow(e, "id", "v", model, qids, k, nprobe)
    got.schema == ref.schema && rows(got) == rows(ref)
  }

  private val idType = Gen.oneOf("int", "long")

  property("search ranks as probedRescored + row_number on array<float>") =
    forAllNoShrink(rankCorpus(floatElem, 0f).flatMap(rs =>
      Gen.zip(Gen.const(rs), request[Float](rs, _.toDouble), idType))) { case (rs, req, t) =>
      val s = spark; import s.implicits._
      rankingAgrees(rs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v"), req, t)
    }

  property("search ranks as probedRescored + row_number on array<double>") =
    forAllNoShrink(rankCorpus(doubleElem, 0.0).flatMap(rs =>
      Gen.zip(Gen.const(rs), request[Double](rs, identity), idType))) { case (rs, req, t) =>
      val s = spark; import s.implicits._
      rankingAgrees(rs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v"), req, t)
    }
}
