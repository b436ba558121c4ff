package graft.chunk

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Chunk of a document (chunking/chunkers.py:81-86). */
final case class Chunk(doc_id: String, chunk_index: Int, text: String, section_path: Option[String])

/** One (section_path, text) leaf of a flattened section tree. */
final case class SectionText(section_path: String, text: String)

/** Chunking operators (SURVEY.md §2.5 C1-C8), re-expressed Spark-first.
  *
  * Two tiers:
  *  - Exact reference semantics (word-boundary bump, chunking/chunkers.py:48-77)
  *    as pure Scala used in typed `flatMap` — distributed, one task per
  *    partition of documents, no driver loops.
  *  - A no-bump fixed-window variant built entirely from Catalyst expressions
  *    (`sequence`/`explode`/`substring`) so the plan stays in whole-stage
  *    codegen and the DuckDB oracle can replay it (SURVEY.md §5.1).
  */
object Chunkers {

  // (?U): Python's \s is Unicode-aware — PMC text carries NBSP/thin spaces
  // that must collapse and count as word boundaries like the reference's
  private val Ws = "(?U)\\s+".r
  private val WsOne = java.util.regex.Pattern.compile("(?U)\\s")

  def collapseWs(s: String): String = Ws.replaceAllIn(s, " ").trim

  /** C2: char windows with overlap, word-boundary bump ≤40 chars, exact
    * reference algorithm (chunking/chunkers.py:48-77): windows advance by
    * `end - overlap` where `end` may have been bumped to the next
    * whitespace; chunks stripped; empties dropped; `overlap` clamped to
    * `[0, chunk_size-1]`; step ≥ 1. Sizes, the bump and the overlap count
    * code points, as Python's `str` indexes do, so an astral character is
    * never split into a lone surrogate. */
  def splitTextWindows(raw: String, chunkSize: Int, overlap: Int): List[String] = {
    val text = collapseWs(raw)
    if (text.isEmpty) return Nil
    if (chunkSize <= 0) return List(text)
    val ov = math.max(0, math.min(overlap, math.max(0, chunkSize - 1)))
    val n = text.codePointCount(0, text.length)
    // UTF-16 offset of code point i: the identity unless the text holds
    // astral characters
    val at: Int => Int =
      if (n == text.length) identity
      else {
        val offsets = new Array[Int](n + 1)
        var i = 0
        while (i < n) { offsets(i + 1) = text.offsetByCodePoints(offsets(i), 1); i += 1 }
        offsets(_)
      }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var start = 0
    var done = false
    while (!done && start < n) {
      var end = math.min(n, start + chunkSize)
      if (end < n) {
        // bump end to the next whitespace within 40 chars (no mid-word cuts)
        val window = text.substring(at(end), at(math.min(n, end + 40)))
        val m = WsOne.matcher(window)
        if (m.find()) end += window.codePointCount(0, m.start())
      }
      out += text.substring(at(start), at(end)).trim
      if (end == n) done = true
      else start = end - ov
    }
    out.toList.filter(_.nonEmpty)
  }

  /** C1: DFS over a flattened section array is trivial — this is the typed
    * carrier after the parse boundary (SURVEY.md §1.1). Kept for when the
    * section tree arrives as raw JSON: a forgiving recursive walk mirroring
    * `_iter_section_texts` (chunking/chunkers.py:10-45) over Jackson-style
    * `Map[String, Any]` values produced by our JSON readers. */
  def iterSectionTexts(node: Any, path: List[String] = Nil): List[SectionText] = node match {
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].toList.flatMap { case (k, v) =>
        val next = path :+ k
        v match {
          case vm: Map[_, _] =>
            val vmm = vm.asInstanceOf[Map[String, Any]]
            val own = vmm.get("text") match {
              case Some(t: String) if t.trim.nonEmpty => List(SectionText(next.mkString(" / "), t))
              case _ => Nil
            }
            own ++ vmm.toList.flatMap {
              case (ck, cv: Map[_, _]) => iterSectionTexts(Map(ck -> cv), next)
              case (ck, cv: List[_])   => iterSectionTexts(Map(ck -> cv), next)
              case _ => Nil
            }
          case s: String if s.trim.nonEmpty => List(SectionText(next.mkString(" / "), s))
          case l: List[_] =>
            l.zipWithIndex.flatMap {
              case (s: String, i) if s.trim.nonEmpty =>
                List(SectionText((next :+ i.toString).mkString(" / "), s))
              case (m: Map[_, _], i) => iterSectionTexts(m, next :+ i.toString)
              case _ => Nil
            }
          case _ => Nil
        }
      }
    case l: List[_] =>
      l.zipWithIndex.flatMap {
        case (s: String, i) if s.trim.nonEmpty =>
          List(SectionText((path :+ i.toString).mkString(" / "), s))
        case (m: Map[_, _], i) => iterSectionTexts(m, path :+ i.toString)
        case _ => Nil
      }
    case _ => Nil
  }

  /** C7: flatten section texts to one body string, "\n\n"-joined
    * (preprocessing/xml_cleaning.py:57-70 / chunkers.py:127-131). */
  def coalesceAllText(sections: List[SectionText]): String =
    sections.map(_.text).mkString("\n\n").trim

  /** C3: by-section chunker — per-section windows, global running
    * chunk_index (chunking/chunkers.py:94-114). */
  def chunkBySection(docId: String, sections: List[SectionText],
                     chunkSize: Int = 1200, overlap: Int = 120): List[Chunk] = {
    // (the reference's empty-sections fallback, chunkers.py:103-104, is
    // inert — coalescing an empty tree yields "" which the non-blank filter
    // drops — so empty input simply produces no chunks)
    val collected = sections.map(s => (Option(s.section_path), s.text))
    var idx = 0
    val out = scala.collection.mutable.ListBuffer.empty[Chunk]
    for ((p, txt) <- collected if txt != null && txt.trim.nonEmpty) {
      val parts = if (chunkSize != 0) splitTextWindows(txt, chunkSize, overlap) else List(txt)
      for (part <- parts) { out += Chunk(docId, idx, part, p); idx += 1 }
    }
    out.toList
  }

  /** C4: fixed-window chunker over the flattened article
    * (chunking/chunkers.py:116-125). */
  def chunkFixed(docId: String, sections: List[SectionText],
                 chunkSize: Int = 1200, overlap: Int = 120): List[Chunk] = {
    val flat = coalesceAllText(sections)
    val parts = if (chunkSize != 0) splitTextWindows(flat, chunkSize, overlap) else List(flat)
    parts.zipWithIndex.map { case (p, i) => Chunk(docId, i, p, None) }
  }

  /** C5: chunker registry ("by_section" | "fixed"), unknown name → error
    * (chunking/chunkers.py:133-137). */
  def chunk(strategy: String)(docId: String, sections: List[SectionText],
                              chunkSize: Int, overlap: Int): List[Chunk] = strategy match {
    case "by_section" => chunkBySection(docId, sections, chunkSize, overlap)
    case "fixed"      => chunkFixed(docId, sections, chunkSize, overlap)
    case other => throw new IllegalArgumentException(
      s"Unknown chunker '$other'. Options: List(by_section, fixed)")
  }

  /** C6: token-window chunker (legacy, chunking/chunker_archived.py:24-50)
    * approximated with whitespace tokens (no HF tokenizer on an offline
    * JVM — divergence documented in SURVEY.md §7): windows of `maxTokens`
    * tokens stepping `maxTokens - overlap`, emitting n_tokens per chunk. */
  def splitTokenWindows(raw: String, maxTokens: Int = 512, overlap: Int = 50): List[(String, Int)] = {
    val toks = collapseWs(raw).split(' ').filter(_.nonEmpty)
    if (toks.isEmpty) return Nil
    val step = math.max(1, maxTokens - overlap)
    Iterator.range(0, toks.length, step)
      .map { start =>
        val w = toks.slice(start, start + maxTokens)
        (w.mkString(" "), w.length)
      }
      .toList
  }

  // ---------------------------------------------------------------------
  // Expression-tier (codegen'd, oracle-replayable) fixed windows — no bump.
  // ---------------------------------------------------------------------

  /** C2/C4 no-bump variant as pure Catalyst expressions. Returns a DataFrame
    * of (doc_id, chunk_index, chunk_id, chunk_text [, carryCols...]).
    * Window starts are fixed
    * at i*step; the window count mirrors the reference's loop (windows while
    * start < n, stop after the window that reaches n):
    * nw = 1 + max(0, ceil((n - size) / step)). Chunks are stripped and
    * whitespace-only windows dropped, as in chunkers.py:69-77.
    * `carryCols` rides document-level metadata (source, lang, ...) through
    * the explode so composed pipelines don't pay a doc_id re-join to
    * recover it downstream. */
  def fixedWindowsExpr(docs: DataFrame, idCol: String, textCol: String,
                       chunkSize: Int, overlap: Int,
                       carryCols: Seq[String] = Nil): DataFrame = {
    val ov = math.max(0, math.min(overlap, math.max(0, chunkSize - 1)))
    val step = math.max(1, chunkSize - ov)
    docs
      .withColumn("_t", trim(regexp_replace(col(textCol), "\\s+", " ")))
      .withColumn("_len", length(col("_t")))
      .filter(col("_len") > 0)
      .withColumn("_nw",
        (lit(1) + greatest(lit(0L), ceil((col("_len") - lit(chunkSize)).cast("double") / lit(step)))).cast("int"))
      .withColumn("chunk_index", explode(sequence(lit(0), col("_nw") - 1)))
      .withColumn("chunk_text", trim(expr(s"substring(_t, chunk_index * $step + 1, $chunkSize)")))
      .filter(col("chunk_text") =!= "")
      .select(
        concat(col(idCol).cast("string"), lit("::c"), col("chunk_index").cast("string")).as("chunk_id") +:
        col(idCol).as("doc_id") +:
        col("chunk_index") +:
        col("chunk_text") +:
        carryCols.map(col): _*)
  }

  /** C8: deterministic chunk id `doc::cN` (pipelines/ingest_and_embed.py:99-106). */
  def chunkId(docId: Column, chunkIndex: Column): Column =
    concat(docId.cast("string"), lit("::c"), chunkIndex.cast("string"))
}
