package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def tree(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
  private def tmp(): Path = { val d = Files.createTempDirectory("perfbench-gen"); dirs += d; d }

  override def afterAll(): Unit = dirs.foreach(d => Gen.deleteRecursively(d.toFile))

  test("resume inputs and truth are a function of the seed") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    val ta = Gen.delta(5L, 80, 20, 5, a)
    val tb = Gen.delta(5L, 80, 20, 5, b)
    val tc = Gen.delta(6L, 80, 20, 5, c)
    assert(tree(a) == tree(b) && ta == tb)
    assert(tree(a) != tree(c) && ta != tc)
    assert(ta.fulltext.skippedExisting == 80L)
    assert(ta.changedDois.size == 5 && ta.changedDois.subsetOf(ta.fulltext.appendedDois))
    assert(Set("refs.bib", "refs.csv", "idconv.csv", "failmap.csv", "prior_records.jsonl").subsetOf(tree(a).keySet))
  }

  test("curation corpus and retrieval table are a function of the seed") {
    assert(Gen.curate(3L, 400, 5) == Gen.curate(3L, 400, 5))
    assert(Gen.curate(3L, 400, 5)._1 != Gen.curate(4L, 400, 5)._1)
    def flat(x: (IndexedSeq[(Long, Array[Float])], Gen.RetrieveTruth)) = (x._1.map { case (i, v) => (i, v.toSeq) }, x._2)
    assert(flat(Gen.retrieve(3L, 300, 8, 10, 4, 2)) == flat(Gen.retrieve(3L, 300, 8, 10, 4, 2)))
    assert(flat(Gen.retrieve(3L, 300, 8, 10, 4, 2)) != flat(Gen.retrieve(4L, 300, 8, 10, 4, 2)))
  }

  test("the curation truth plants what the checks rely on") {
    val (rows, t) = Gen.curate(9L, 2000, 20)
    assert(rows.map(_._1).distinct.size == rows.size)
    assert(t.nearDupClusters.nonEmpty && t.nearDupClusters.forall(_.size >= 2))
    assert(t.paraphraseGroups.nonEmpty && t.lowQuality.nonEmpty)
    // every source has far more than maxDocFreq = 10 documents, so its
    // banner and footer are boilerplate
    assert(rows.groupBy(_._2).values.forall(_.size > 10))
  }
}
