package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.chunk.{Chunkers, SectionText}

/** Chunker invariants from SURVEY.md §5.3 (reference chunkers.py:48-77),
  * checked over seeded random texts. */
class ChunkersSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(7)
  private def randomText(): String = {
    val words = Vector("alpha", "be", "gamma", "deltaic", "ee", "zetaform", "y", "omicron")
    (1 to (1 + rnd.nextInt(400))).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
  }

  test("C2 windows: no empties, length bound, determinism, coverage") {
    for (_ <- 1 to 50) {
      val text = randomText()
      val size = 1 + rnd.nextInt(60)
      val overlap = rnd.nextInt(80) - 10 // deliberately out-of-range values too
      val chunks = Chunkers.splitTextWindows(text, size, overlap)
      val again = Chunkers.splitTextWindows(text, size, overlap)
      assert(chunks == again, "deterministic")
      assert(chunks.forall(_.nonEmpty), "no empty chunks")
      assert(chunks.forall(_.length <= size + 40), s"chunk exceeds size+40")
      // coverage: every character of the collapsed text appears in some chunk
      val collapsed = Chunkers.collapseWs(text)
      if (collapsed.nonEmpty) {
        assert(chunks.nonEmpty)
        // last chunk must end with the end of the text
        assert(collapsed.endsWith(chunks.last))
        // first chunk must start at the start
        assert(collapsed.startsWith(chunks.head))
      }
    }
  }

  test("C2 word-boundary bump avoids mid-word cuts when a space is near") {
    val text = ("word " * 100).trim // every 5 chars a boundary
    val chunks = Chunkers.splitTextWindows(text, 12, 2)
    // all chunks should end at word boundaries (bump finds the space within 40)
    chunks.dropRight(1).foreach(c => assert(c.endsWith("word"), s"'$c' cut mid-word"))
  }

  test("C2 treats Unicode whitespace (NBSP) as boundaries like Python \\s") {
    val nbsp = '\u00a0'
    assert(Chunkers.collapseWs(s"a${nbsp}${nbsp}b") == "a b")
    // bump must stop at an NBSP boundary, not cut mid-word past it
    val text = ("word\u00a0" * 50).trim
    val chunks = Chunkers.splitTextWindows(text, 12, 2)
    assert(chunks.forall(_.nonEmpty))
    chunks.dropRight(1).foreach(c => assert(c.endsWith("word"), s"'$c' cut mid-word"))
  }

  test("C2 windows count code points, so an astral character is never split") {
    // 𝒳 (U+1D4B3) is one code point and two UTF-16 units; the expected
    // windows are the reference's over a Python str
    val x = "𝒳"
    assert(Chunkers.splitTextWindows(s"${x}y", 1, 0) == List(x, "y"))
    // the overlap steps back one code point
    assert(Chunkers.splitTextWindows(s"a $x$x b", 3, 1) == List(s"a $x$x", s"$x b"))
    // the bump looks 40 code points ahead: the space after 39 of them
    assert(Chunkers.splitTextWindows("a" + x * 39 + " b", 1, 0) == List("a" + x * 39, "b"))
  }

  test("C2 clamps overlap and degenerate sizes like the reference") {
    assert(Chunkers.splitTextWindows("abc def", 0, 10) == List("abc def"))
    assert(Chunkers.splitTextWindows("", 10, 2) == Nil)
    assert(Chunkers.splitTextWindows("   ", 10, 2) == Nil)
    // overlap >= size clamps to size-1; step >= 1 so it terminates
    val c = Chunkers.splitTextWindows("abcdefghij", 3, 99)
    assert(c.nonEmpty)
  }

  test("C3 by-section keeps a global running chunk index with section paths") {
    val secs = List(SectionText("Intro", "a " * 50), SectionText("Methods / Data", "b " * 120))
    val chunks = Chunkers.chunkBySection("d1", secs, chunkSize = 80, overlap = 8)
    assert(chunks.map(_.chunk_index) == chunks.indices.toList, "contiguous indexes")
    assert(chunks.head.section_path.contains("Intro"))
    assert(chunks.last.section_path.contains("Methods / Data"))
  }

  test("C4 fixed flattens sections with double-newline join") {
    val secs = List(SectionText("A", "one two"), SectionText("B", "three four"))
    val chunks = Chunkers.chunkFixed("d1", secs, chunkSize = 1000, overlap = 0)
    assert(chunks.size == 1)
    assert(chunks.head.text == "one two three four")
  }

  test("C5 registry rejects unknown strategies") {
    intercept[IllegalArgumentException] {
      Chunkers.chunk("bogus")("d", Nil, 10, 1)
    }
  }

  test("C6 token windows emit n_tokens and step maxTokens-overlap") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val w = Chunkers.splitTokenWindows(text, maxTokens = 40, overlap = 8)
    assert(w.map(_._2) == List(40, 40, 36, 4))
    assert(w.head._1.startsWith("t1 ") && w(1)._1.startsWith("t33 "))
  }

  test("C1 section-tree traversal tolerates dict/list/string nodes") {
    val tree = scala.collection.immutable.ListMap(
      "Intro" -> scala.collection.immutable.ListMap(
        "text" -> "intro text",
        "Sub" -> scala.collection.immutable.ListMap("text" -> "sub text")),
      "RawString" -> "bare string",
      "Items" -> List("first", scala.collection.immutable.ListMap("text" -> "second")))
    val rows = Chunkers.iterSectionTexts(tree)
    val paths = rows.map(_.section_path)
    assert(paths.contains("Intro") && paths.contains("Intro / Sub"))
    assert(paths.contains("RawString"))
    assert(paths.exists(_.startsWith("Items / 0")))
    assert(rows.map(_.text).contains("second"))
  }

  test("expression-tier fixed windows match the no-bump reference loop") {
    val spark = TestSpark.spark
    import spark.implicits._
    // reference no-bump loop in Scala for comparison
    def noBump(text: String, size: Int, overlap: Int): List[String] = {
      val t = Chunkers.collapseWs(text)
      if (t.isEmpty) return Nil
      val step = math.max(1, size - math.max(0, math.min(overlap, size - 1)))
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var start = 0
      var done = false
      while (!done && start < t.length) {
        val end = math.min(t.length, start + size)
        out += t.substring(start, end).trim
        if (end == t.length) done = true else start = start + step
      }
      out.toList.filter(_.nonEmpty)
    }
    val texts = (1 to 30).map(_ => randomText())
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Chunkers.fixedWindowsExpr(df, "doc_id", "text", 50, 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_index"), r.getAs[String]("chunk_text")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got.getOrElse(i.toLong, Nil) == noBump(t, 50, 10), s"doc $i")
    }
  }
}
