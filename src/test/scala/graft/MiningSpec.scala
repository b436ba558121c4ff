package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Ivf, Mining}

class MiningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Two spread-out directions: ids 0..3 fan out from +x (labels 0,0,1,1),
  // ids 4..7 from +y (labels 2,2,3,3); in-fan cosines run ~0.91-0.99,
  // cross-fan ~0.02-0.42. Id 8 is a near-duplicate of id 0 with a
  // DIFFERENT label (cos > 0.999 — the label-error trap).
  private def corpus = Seq(
    (0L, Seq(1.00f, 0.02f, 0f, 0f), 0),
    (1L, Seq(0.95f, 0.18f, 0f, 0f), 0),
    (2L, Seq(0.90f, 0.30f, 0f, 0f), 1),
    (3L, Seq(0.85f, 0.40f, 0f, 0f), 1),
    (4L, Seq(0.02f, 1.00f, 0f, 0f), 2),
    (5L, Seq(0.18f, 0.95f, 0f, 0f), 2),
    (6L, Seq(0.30f, 0.90f, 0f, 0f), 3),
    (7L, Seq(0.40f, 0.85f, 0f, 0f), 3),
    (8L, Seq(1.00f, 0.021f, 0f, 0f), 4)
  ).toDF("vec_id", "embedding", "label")

  private def mined(dupBp: Long = 9800L, hardBp: Long = 0L, k: Int = 5,
                    nprobe: Int = 1) = {
    val emb = corpus
    val model = Ivf.train(emb, "vec_id", "embedding", k = 2, iters = 2)
    Mining.hardNegatives(emb, "vec_id", "embedding", "label", model,
      queryIds = Seq(0L, 4L), k = k, dupBp = dupBp, hardBp = hardBp, nprobe = nprobe)
      .collect().groupBy(_.getLong(0))
  }

  test("negatives are different-labeled, ranked closest-first, capped at k") {
    val byQ = mined()
    val q0 = byQ(0L).sortBy(_.getInt(3))
    assert(q0.nonEmpty)
    assert(q0.forall(_.getInt(2) != 0), "same-label row leaked into negatives")
    val sims = q0.map(_.getLong(4))
    assert(sims.sameElements(sims.sortBy((s: Long) => -s)), "not ranked by sim_bp desc")
    assert(q0.map(_.getInt(3)).sameElements(1 to q0.length))
    assert(byQ.values.forall(_.length <= 5))
  }

  test("the near-duplicate band excludes label-error twins") {
    // id 8 is a different-labeled near-copy of query 0 (cos > 0.999): it
    // MUST be excluded by the dup band, not mined as the top negative
    val q0 = mined()(0L)
    assert(!q0.exists(_.getLong(1) == 8L), "near-duplicate twin mined as negative")
    // with the band lifted it tops the list — proving the band excluded it
    val lifted = mined(dupBp = 10000L)(0L).sortBy(_.getInt(3))
    assert(lifted.head.getLong(1) == 8L && lifted.head.getInt(3) == 1)
  }

  test("hardBp floors the band: far-cluster candidates drop out under nprobe=2") {
    // nprobe=2 admits the other fan's members (cos ~0.02-0.42) as
    // candidates; the 5000 bp floor must remove exactly those
    val open = mined(nprobe = 2, k = 10)(0L)
    assert(open.exists(_.getLong(4) < 5000L), "cross-fan candidates expected under nprobe=2")
    val floored = mined(hardBp = 5000L, nprobe = 2, k = 10)(0L)
    assert(floored.nonEmpty && floored.forall(_.getLong(4) >= 5000L))
    intercept[IllegalArgumentException](mined(hardBp = 9900L))
  }

  test("triplets: nearest sub-dup same-label positive, hard negatives, audited margin") {
    val emb = corpus
    val model = Ivf.train(emb, "vec_id", "embedding", k = 2, iters = 2)
    // dupBp 9900: the in-fan positives sit at ~9860 bp (valid), while the
    // label-error twin id 8 (~9999 bp) stays excluded from BOTH legs
    val rows = Mining.triplets(emb, "vec_id", "embedding", "label", model,
        queryIds = Seq(0L, 4L), k = 2, dupBp = 9900L, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(5),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(6), r.getLong(7)))
    val out = rows.map(t => (t._1, t._2) -> t).toMap
    // query 0 (label 0): same-label in-fan is only id 1; id 8 (cos>0.999,
    // label 4) sits in the dup band so it is neither positive nor negative
    assert(out((0L, 1))._3 == 1L, "positive must be the nearest same-label sub-dup neighbor")
    assert(!rows.exists(t => t._5 == 8L || t._3 == 8L),
      "the label-error twin leaked into a triplet")
    rows.foreach { t =>
      assert(t._2 >= 1 && t._2 <= 2, "rank within k")
      assert(t._7 == t._4 - t._6, "margin_bp must equal pos_sim_bp - neg_sim_bp")
    }
    // query 4 (label 2): positive is id 5, negatives from its own fan
    assert(out((4L, 1))._3 == 5L)
  }

  test("triplets: a query with no same-label probed neighbor yields no rows") {
    val emb = Seq(
      (0L, Seq(1.00f, 0.02f, 0f, 0f), 0),  // the only label-0 vector
      (2L, Seq(0.90f, 0.30f, 0f, 0f), 1),
      (3L, Seq(0.85f, 0.40f, 0f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val model = Ivf.train(emb, "vec_id", "embedding", k = 1, iters = 1)
    val out = Mining.triplets(emb, "vec_id", "embedding", "label", model,
      queryIds = Seq(0L), k = 3, nprobe = 1).collect()
    assert(out.isEmpty, "no positive exists — the honest outcome is zero triplets")
  }

  test("bitextMine: mutual margin-best pairs only, hubness-corrected, q<=0 excluded") {
    // side A: a0=(1,0) id 0, a1=(0,1) id 2; side B: b0=(1,0) id 1,
    // b1=(0.6,0.8) id 3, b2=(0,1) id 5, b3=(-1,0) id 7.
    // b3 has q <= 0 against everything and must never pair; b1 is close
    // to BOTH a0 and a1 (the hub) so its margin against either stays
    // ~1.0 and the mutual winners are the clean matches (0,1) and (2,5).
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 0),
      (1L, Array(1.0f, 0.0f), 1), (3L, Array(0.6f, 0.8f), 1),
      (5L, Array(0.0f, 1.0f), 1), (7L, Array(-1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "side")
    val out = graft.ops.Mining.bitextMine(emb, "vec_id", "embedding",
      col("side") === 0, k = 2, minMarginBp = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((0L, 1L), (2L, 5L)), s"got $out")
    assert(out.values.forall(_ >= 10000L))
    // the exact-match pair scores a higher margin than the one whose
    // endpoint competes with the hub b1
    assert(out((0L, 1L)) > out((2L, 5L)))
    assert(!out.keySet.exists(p => p._1 == 7L || p._2 == 7L))
  }

  test("bitextMine margins are invariant under repartitioning") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Mining.bitextMine(df, "vec_id", "embedding",
        col("vec_id") % 2 === 0, k = 4, minMarginBp = 10000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(emb) == run(emb.repartition(7)))
  }

  test("bitextMineInCell with one cell is exactly the unblocked miner") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val side = col("vec_id") % 2 === 0
    val exact = Mining.bitextMine(emb, "vec_id", "embedding", side, 4, 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val one = Ivf.train(emb, "vec_id", "embedding", k = 1, iters = 1)
    val cell = Mining.bitextMineInCell(emb, "vec_id", "embedding", side, one, 4, 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cell == exact, "a single cell means no blocking: tails must agree")
    // a real codebook blocks: the in-cell pair set is a (near-)subset
    val m8 = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val blocked = Mining.bitextMineInCell(emb, "vec_id", "embedding", side, m8, 4, 10000L)
    assert(blocked.count() > 0)
  }

  test("bitextMineAuto (the default entry point) IS the two-level-codebook tier") {
    // the production default must equal the explicit trainHierarchical +
    // assignHierarchical + bitextMineBlocked composition the
    // mine_bitext_scale oracle row pins — same codebook sizing rule,
    // same cells, same tail
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val side = col("vec_id") % 2 === 0
    val auto = Mining.bitextMineAuto(emb, "vec_id", "embedding", side, 4, 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val k2 = math.max(4, math.ceil(math.sqrt(emb.count() / 100.0)).toInt)
    val m2 = Ivf.trainHierarchical(emb, "vec_id", "embedding", k2 = k2, targetCell = 100)
    val explicit = Mining.bitextMineBlocked(emb, "vec_id", "embedding", side,
      Ivf.assignHierarchical(emb, "vec_id", "embedding", m2), 4, 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto == explicit)
    assert(auto.nonEmpty)
  }

  test("bitextMineIncremental: persisted state + delta batch equals the from-scratch blocked run; untouched cells really are untouched") {
    // the per-cell decomposition claim, end to end: codebook trained on
    // the base slice only, base assignments + per-cell pairs persisted in
    // memory, then a small delta batch applies — the result must equal a
    // from-scratch blocked run over base ∪ delta under the SAME codebook.
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val side = col("vec_id") % 2 === 0
    // a SMALL batch (the production shape): at fixture scale the codebook
    // has only ~8 composite cells, so a big delta would touch all of them
    // and the untouched-reuse assertion below would be vacuous
    val base = Pin(emb.filter(col("vec_id") % 125 =!= 0))
    val delta = emb.filter(col("vec_id") % 125 === 0)
    val k2 = math.max(4, math.ceil(math.sqrt(base.count() / 100.0)).toInt)
    val m2 = Ivf.trainHierarchical(base, "vec_id", "embedding", k2 = k2, targetCell = 100)
    val baseCells = Pin(Ivf.assignHierarchical(base, "vec_id", "embedding", m2))
    val basePairs = Pin(Mining.bitextPairsWithCells(base, "vec_id", "embedding",
      side, baseCells, 4, 10000L))
    val inc = Mining.bitextMineIncremental(emb, "vec_id", "embedding", side,
      m2, baseCells, basePairs, delta, 4, 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = Mining.bitextMineBlocked(emb, "vec_id", "embedding", side,
      Ivf.assignHierarchical(emb, "vec_id", "embedding", m2), 4, 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == scratch)
    assert(inc.nonEmpty)
    // the saving is real at fixture scale too: some cells took no delta,
    // and their persisted pairs must flow through verbatim
    val affected = Ivf.assignHierarchical(delta, "vec_id", "embedding", m2)
      .select("cluster").distinct().collect().map(_.getLong(0)).toSet
    val allCells = baseCells.select("cluster").distinct().collect()
      .map(_.getLong(0)).toSet
    assert((allCells -- affected).nonEmpty, "fixture must leave untouched cells")
  }

  test("Model2 catalog round-trip is bit-lossless: reloaded assignments match in-memory") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val m2 = Ivf.trainHierarchical(emb, "vec_id", "embedding", k2 = 4, targetCell = 100)
    // appId-scoped name (the ensure* slug idiom): a bare name would leave
    // a warehouse LOCATION behind that fails the NEXT JVM's saveAsTable
    // even though its catalog has no such table
    val t = s"graft_test_m2_roundtrip_${spark.sparkContext.applicationId}"
      .replaceAll("[^a-zA-Z0-9]", "_")
    Ivf.writeModel2(spark, m2, t)
    val back = Ivf.readModel2(spark, t)
    assert(back.superModel.centroids.view.mapValues(c => (c._1.toSeq, c._2)).toMap ==
      m2.superModel.centroids.view.mapValues(c => (c._1.toSeq, c._2)).toMap)
    assert(back.children.keySet == m2.children.keySet)
    val a = Ivf.assignHierarchical(emb, "vec_id", "embedding", m2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Ivf.assignHierarchical(emb, "vec_id", "embedding", back)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("r18 marginTail: the bounded top-k tail equals the old window formulation, ties included") {
    // adversarial fan: 60 vectors on a 2-sphere arc with DUPLICATE
    // directions (ids i and i+30 share a direction → exact cosine ties
    // in the top-k sets, broken by id) — the tie surface of the
    // (q DESC, id ASC) contract the TopK rewrite must preserve
    val emb = (0L until 60L).map { i =>
      val a = ((i % 30) * 17 % 30).toDouble / 30.0 * 1.2
      (i, Seq(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val sideA = col("vec_id") % 2 === 0
    val k = 3
    // the OLD formulation, reimplemented verbatim over the same pair
    // relation (two row_number windows + rank predicates)
    val aDf = emb.filter(sideA)
      .select(col("vec_id").cast("long").as("id_a"), col("embedding").as("_va"))
    val bDf = emb.filter(!sideA)
      .select(col("vec_id").cast("long").as("id_b"), col("embedding").as("_vb"))
    val pairs = aDf.crossJoin(bDf)
      .select(col("id_a"), col("id_b"),
        floor(graft.vector.VectorOps.cosine(col("_va"), col("_vb")) *
          lit(1048576.0)).cast("long").as("q"))
      .filter(col("q") > 0)
    import org.apache.spark.sql.expressions.Window
    val wA = Window.partitionBy(col("id_a")).orderBy(col("q").desc, col("id_b"))
    val wB = Window.partitionBy(col("id_b")).orderBy(col("q").desc, col("id_a"))
    val ranked = pairs
      .withColumn("rka", row_number().over(wA))
      .withColumn("rkb", row_number().over(wB))
      .filter(col("rka") <= k || col("rkb") <= k)
    val sA = ranked.filter(col("rka") <= k)
      .groupBy(col("id_a")).agg(sum(col("q")).as("sa"), count(lit(1)).as("ca"))
    val sB = ranked.filter(col("rkb") <= k)
      .groupBy(col("id_b")).agg(sum(col("q")).as("sb"), count(lit(1)).as("cb"))
    val scored = ranked.join(sA, "id_a").join(sB, "id_b")
      .filter(col("sa") * col("cb") + col("sb") * col("ca") > 0)
      .withColumn("margin_bp",
        expr("(2 * q * 10000 * ca * cb) div (sa * cb + sb * ca)"))
    val wFm = Window.partitionBy(col("id_a")).orderBy(col("margin_bp").desc, col("id_b"))
    val wBm = Window.partitionBy(col("id_b")).orderBy(col("margin_bp").desc, col("id_a"))
    val fwd = scored.filter(col("rka") <= k)
      .withColumn("_fb", row_number().over(wFm)).filter(col("_fb") === 1)
      .select(col("id_a"), col("id_b"), col("margin_bp"))
    val bwd = scored.filter(col("rkb") <= k)
      .withColumn("_bb", row_number().over(wBm)).filter(col("_bb") === 1)
      .select(col("id_a"), col("id_b"))
    val minMargin = 9000L
    val ref = fwd.join(bwd, Seq("id_a", "id_b"))
      .filter(col("margin_bp") >= minMargin)
      .collect().map(_.toSeq).toSet
    val got = Mining.bitextMine(emb, "vec_id", "embedding", sideA, k, minMargin)
      .collect().map(_.toSeq).toSet
    assert(got == ref)
    assert(got.nonEmpty, "fixture must mine at least one mutual pair")
  }
}
