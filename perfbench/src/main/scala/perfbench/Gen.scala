package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.chunk.{Chunkers, SectionText}

/** Seeded input generators. Every generator is a pure function of its seed
  * and size: the same seed writes byte-identical inputs, another seed
  * different ones. Each also returns the truth the benchmark checks the
  * program's outputs against — counts and identities planted by
  * construction, never computed by the code under test (the one exception
  * is the chunk count, which applies the public per-document chunker to
  * the sections the generator itself wrote).
  */
object Gen {

  // ------------------------------------------------------------------ text

  /** The engine's English stopword list (quality gate and language id). */
  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "a", "of", "and", "to", "in", "is", "that")

  /** A fixed pseudo-word vocabulary: 2-4 consonant-vowel syllables, so no
    * word is a stopword and word 5-grams of random text never repeat by
    * chance across a corpus. */
  val Vocab: IndexedSeq[String] = {
    val cons = "bcdfghjklmnprstvz"; val vows = "aeiou"
    val r = new SplittableRandom(7L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 20000) {
      val n = 2 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until n).foreach { _ => sb += cons(r.nextInt(cons.length)); sb += vows(r.nextInt(vows.length)) }
      seen += sb.result()
    }
    seen.toIndexedSeq
  }

  def word(r: SplittableRandom): String = Vocab(r.nextInt(Vocab.size))

  /** `n` words, one in ten a stopword on average: enough for the quality
    * gate, too few for all-stopword 5-grams to repeat by chance. */
  def words(r: SplittableRandom, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(if (r.nextInt(10) == 0) Stopwords(r.nextInt(Stopwords.size)) else word(r))

  def sentence(r: SplittableRandom, n: Int): String = words(r, n).mkString(" ")

  private def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }

  // ---------------------------------------------------------- bibliography

  /** Failure reasons of the reference's taxonomy. */
  object Reason {
    val NoPmcid = "No PMCID"
    val IdconvHttp = "idconv HTTP 400"
    val IdconvNone = "idconv: no PMCID"
    val FetchFailed = "PMC fetch failed (batched only)"
    val AbstractOnly = "abstract_only"
  }

  sealed trait Body
  /** Nested `<sec>` tree: (title, paragraphs, children). */
  final case class Sec(title: String, paras: IndexedSeq[String], children: IndexedSeq[Sec])
  final case class Sectioned(secs: IndexedSeq[Sec]) extends Body
  final case class SectionLess(paras: IndexedSeq[String]) extends Body
  case object NoBody extends Body

  final case class Article(pmcid: String, title: String, abstractParas: IndexedSeq[String], body: Body) {
    /** The (path, text) rows the JATS parser flattens this article to. */
    def sections: List[SectionText] = body match {
      case Sectioned(secs) =>
        def rows(s: Sec, path: List[String]): List[SectionText] = {
          val here = path :+ graft.jats.Jats.pyTitle(s.title)
          val own = if (s.paras.nonEmpty) List(SectionText(here.mkString(" / "), s.paras.mkString(" "))) else Nil
          own ++ s.children.toList.flatMap(c => rows(c, here))
        }
        secs.toList.flatMap(s => rows(s, Nil))
      case SectionLess(paras) => List(SectionText("Full Text", paras.mkString("\n\n")))
      case NoBody => Nil
    }
    def bodyLen: Int = sections.map(_.text).mkString("\n\n").trim.length
  }

  /** One unique DOI of a bibliography and what the lifecycle should make of it. */
  final case class Doc(doiNorm: String, pmcid: Option[String], failMapReason: Option[String],
                       article: Option[Article]) {
    def outcome: Option[String] = pmcid match {
      case None => Some(failMapReason.getOrElse(Reason.NoPmcid))
      case Some(_) => article match {
        case None => Some(failMapReason.getOrElse(Reason.FetchFailed))
        case Some(a) => if (a.bodyLen >= 200) None else Some(Reason.AbstractOnly)
      }
    }
  }

  private def doi(r: SplittableRandom, i: Int): String = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val j = (0 until 3).map(_ => letters(r.nextInt(letters.length))).mkString
    s"10.${1000 + r.nextInt(9000)}/$j.${2000 + r.nextInt(25)}.${100000 + i}"
  }

  /** A DOI as a messy bibliography writes it: case, URL form, zero-width
    * space and padding variants of the normalized form. */
  private def variant(r: SplittableRandom, d: String): String = r.nextInt(6) match {
    case 0 => d
    case 1 => d.toUpperCase
    case 2 => "https://doi.org/" + d
    case 3 => "http://dx.doi.org/" + d.toUpperCase
    case 4 => d + "​"
    case _ => "  " + d + " "
  }

  private def paragraph(r: SplittableRandom): String = sentence(r, 25 + r.nextInt(60))

  private def article(r: SplittableRandom, pmcid: String, kind: Int): Article = {
    val title = pyTitleWords(r)
    val abs = IndexedSeq.fill(1 + r.nextInt(2))(sentence(r, 20 + r.nextInt(20)))
    val body: Body = kind match {
      case 0 => NoBody
      case 1 => SectionLess(IndexedSeq(sentence(r, 6 + r.nextInt(8)))) // under the 200-char gate
      case 2 => SectionLess(IndexedSeq.fill(2 + r.nextInt(4))(paragraph(r)))
      case _ =>
        def sec(depth: Int): Sec = Sec(
          Vocab(r.nextInt(Vocab.size)) + (if (r.nextBoolean()) " " + word(r) else ""),
          IndexedSeq.fill(1 + r.nextInt(4))(paragraph(r)),
          if (depth < 2 && r.nextInt(3) == 0) IndexedSeq.fill(1 + r.nextInt(2))(sec(depth + 1))
          else IndexedSeq.empty)
        Sectioned(IndexedSeq.fill(2 + r.nextInt(4))(sec(0)))
    }
    Article(pmcid, title, abs, body)
  }

  private def pyTitleWords(r: SplittableRandom): String =
    (0 until 3 + r.nextInt(5)).map(_ => graft.jats.Jats.pyTitle(word(r))).mkString(" ")

  /** Articles are 8% abstract-only, 5% too short for the gate, 12%
    * section-less and otherwise nested `<sec>` trees. */
  private def articleKind(r: SplittableRandom): Int = {
    val x = r.nextInt(100)
    if (x < 8) 0 else if (x < 13) 1 else if (x < 25) 2 else 3
  }

  /** JATS XML for one article, with noise tags the parser must drop. */
  def jats(a: Article, doiNorm: String, r: SplittableRandom): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<article article-type=\"research-article\">\n<front><article-meta>\n"
    sb ++= s"""<article-id pub-id-type="pmcid">${a.pmcid}</article-id>\n"""
    sb ++= s"""<article-id pub-id-type="doi">$doiNorm</article-id>\n"""
    sb ++= s"<title-group><article-title>${a.title}</article-title></title-group>\n<abstract>"
    a.abstractParas.foreach(p => sb ++= s"<p>$p</p>")
    sb ++= "</abstract>\n</article-meta></front>\n"
    def noise(): Unit = r.nextInt(3) match {
      case 0 => sb ++= "<fig><caption><p>figure caption noise</p></caption></fig>\n"
      case 1 => sb ++= "<table-wrap><table><tr><td>table cell noise</td></tr></table></table-wrap>\n"
      case _ => ()
    }
    def sec(s: Sec): Unit = {
      sb ++= s"<sec><title>${s.title}</title>\n"
      s.paras.foreach { p => sb ++= s"<p>$p</p>\n"; noise() }
      s.children.foreach(sec)
      sb ++= "</sec>\n"
    }
    a.body match {
      case NoBody => ()
      case SectionLess(paras) =>
        sb ++= "<body>\n"; paras.foreach { p => sb ++= s"<p>$p</p>\n"; noise() }; sb ++= "</body>\n"
      case Sectioned(secs) =>
        sb ++= "<body>\n"; secs.foreach(sec); sb ++= "</body>\n"
    }
    sb ++= "</article>\n"
    sb.result()
  }

  private def journal(r: SplittableRandom): String =
    s"Journal of ${graft.jats.Jats.pyTitle(word(r))} ${graft.jats.Jats.pyTitle(word(r))}"

  /** Bibliography rows for `docs`: every DOI once or more across a .bib and
    * a .csv in variant spellings, plus rows that carry no DOI at all. */
  private def writeBibliography(r: SplittableRandom, docs: IndexedSeq[Doc], dir: Path): Long = {
    val bib = new StringBuilder
    val csv = new StringBuilder("doi,journal\n")
    var rows = 0L
    def bibEntry(key: String, doiField: Option[String], url: Option[String]): Unit = {
      bib ++= s"@article{$key,\n  title = {{${pyTitleWords(r)}}},\n  journal = {${journal(r)}},\n  year = {${2000 + r.nextInt(25)}},\n"
      doiField.foreach(d => bib ++= s"  doi = {$d},\n")
      url.foreach(u => bib ++= s"  url = {$u},\n")
      bib ++= "}\n\n"
      rows += 1
    }
    def csvRow(d: String): Unit = { csv ++= "\"" + d + "\",\"" + journal(r) + "\"\n"; rows += 1 }
    shuffle(r, docs).zipWithIndex.foreach { case (d, i) =>
      val copies = if (r.nextInt(4) == 0) 2 else 1
      (0 until copies).foreach { c =>
        if (r.nextInt(5) < 3) {
          if (r.nextInt(6) == 0) bibEntry(s"ref$i$c", None, Some("https://doi.org/" + d.doiNorm))
          else bibEntry(s"ref$i$c", Some(variant(r, d.doiNorm)), None)
        } else csvRow(variant(r, d.doiNorm))
      }
      if (r.nextInt(20) == 0) bibEntry(s"nodoi$i", None, None)
      if (r.nextInt(20) == 0) csvRow("")
    }
    write(dir.resolve("refs.bib"), bib.result())
    write(dir.resolve("refs.csv"), csv.result())
    rows
  }

  private def writeMaps(docs: IndexedSeq[Doc], dir: Path): Unit = {
    write(dir.resolve("idconv.csv"),
      "doi_norm,pmcid\n" + docs.flatMap(d => d.pmcid.map(p => s"${d.doiNorm},$p\n")).mkString)
    write(dir.resolve("failmap.csv"),
      "doi_norm,reason\n" + docs.flatMap(d => d.failMapReason.map(x => s"${d.doiNorm},$x\n")).mkString)
  }

  private def writeJats(docs: IndexedSeq[Doc], dir: Path, r: SplittableRandom): Unit =
    docs.foreach(d => d.article.foreach(a => write(dir.resolve(s"${a.pmcid}.xml"), jats(a, d.doiNorm, r))))

  /** A fresh DOI: 80% resolve to a PMCID, of those 85% have a fetched
    * article; misses carry taxonomy reasons in the fail map. */
  private def freshDoc(r: SplittableRandom, i: Int): Doc = {
    val d = doi(r, i)
    if (r.nextInt(100) < 80) {
      val pmcid = s"PMC${9000000 + i}"
      if (r.nextInt(100) < 85) Doc(d, Some(pmcid), None, Some(article(r, pmcid, articleKind(r))))
      else Doc(d, Some(pmcid), if (r.nextBoolean()) Some(Reason.FetchFailed) else None, None)
    } else {
      val reason = r.nextInt(3) match {
        case 0 => Some(Reason.IdconvHttp); case 1 => Some(Reason.IdconvNone); case _ => None }
      Doc(d, None, reason, None)
    }
  }

  def chunkCount(docId: String, a: Article): Int = Chunkers.chunkBySection(docId, a.sections).size

  // ----------------------------------------------------------- ingest_delta

  final case class FulltextTruth(inputUniqueDoi: Long, appended: Long, skippedExisting: Long,
                                 failures: Long, reasons: Map[String, Long], appendedDois: Set[String])

  def fulltextTruth(todo: IndexedSeq[Doc], skipped: Long): FulltextTruth = {
    val outcomes = todo.map(d => d.doiNorm -> d.outcome)
    val reasons = outcomes.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ok = outcomes.collect { case (d, None) => d }.toSet
    FulltextTruth(todo.size + skipped, ok.size, skipped, todo.size - ok.size, reasons, ok)
  }

  final case class DeltaTruth(fulltext: FulltextTruth, priorChunks: Long, newChunks: Long,
                              changedDois: Set[String], changedChunkText: Map[String, String],
                              bibRows: Long, jatsFiles: Int,
                              priorSections: IndexedSeq[(String, Seq[(String, String)])])

  /** Prior documents are short (a few one-chunk sections) so that a large
    * prior vector table stays cheap to generate. */
  private def priorArticle(r: SplittableRandom, pmcid: String): Article =
    Article(pmcid, pyTitleWords(r), IndexedSeq(sentence(r, 20)),
      Sectioned(IndexedSeq.fill(2 + r.nextInt(3))(Sec(word(r), IndexedSeq(sentence(r, 20 + r.nextInt(30))), IndexedSeq.empty))))

  /** Same structure, every word reversed: identical lengths, so identical
    * chunk boundaries and ids, but new text and new embeddings. */
  private def revised(a: Article): Article = {
    def rev(p: String) = p.split(' ').map(_.reverse).mkString(" ")
    def sec(s: Sec): Sec = Sec(s.title, s.paras.map(rev), s.children.map(sec))
    a.copy(body = a.body match {
      case Sectioned(secs) => Sectioned(secs.map(sec))
      case SectionLess(ps) => SectionLess(ps.map(rev))
      case NoBody => NoBody
    })
  }

  /** Prior state plus a resume run's inputs. Prior: `prior_records.jsonl`
    * (doi, title, journal, source, pmcid — the seen set) and, in the truth,
    * every prior document's (doc_id, sections), which setup chunks and
    * embeds into the prior vector table. Changed documents are in the prior
    * vector table but not in the prior records, so the resume run
    * re-fetches them. */
  def delta(seed: Long, nPrior: Int, nNew: Int, nChanged: Int, dir: Path): DeltaTruth = {
    val r = new SplittableRandom(seed)
    val prior = IndexedSeq.tabulate(nPrior) { i =>
      val pmcid = s"PMC${8000000 + i}"
      Doc(doi(r, i), Some(pmcid), None, Some(priorArticle(r, pmcid)))
    }
    val changedOld = IndexedSeq.tabulate(nChanged) { i =>
      val pmcid = s"PMC${8500000 + i}"
      Doc(doi(r, 500000 + i), Some(pmcid), None, Some(article(r, pmcid, 3)))
    }
    val changed = changedOld.map(d => d.copy(article = d.article.map(revised)))
    val fresh = IndexedSeq.tabulate(nNew)(i => freshDoc(r, 700000 + i))

    val recs = new StringBuilder
    prior.foreach { d =>
      recs ++= s"""{"doi":"${d.doiNorm}","title":"${d.article.get.title}","journal":"${journal(r)}","source":"pmc","pmcid":"${d.pmcid.get}"}""" + "\n"
    }
    write(dir.resolve("prior_records.jsonl"), recs.result())
    val priorSections = (prior ++ changedOld).map(d =>
      d.doiNorm -> d.article.get.sections.map(s => (s.section_path, s.text)))

    val todo = fresh ++ changed
    val rows = writeBibliography(r, prior ++ todo, dir)
    writeMaps(prior ++ todo, dir)
    writeJats(todo, dir.resolve("jats"), r)

    val truth = fulltextTruth(todo, prior.size)
    val priorChunks = (prior ++ changedOld).map(d => chunkCount(d.doiNorm, d.article.get)).sum
    val newChunks = fresh.filter(d => truth.appendedDois(d.doiNorm)).map(d => chunkCount(d.doiNorm, d.article.get)).sum
    val changedText = changed.flatMap { d =>
      Chunkers.chunkBySection(d.doiNorm, d.article.get.sections).map(c => s"${c.doc_id}::c${c.chunk_index}" -> c.text)
    }.toMap
    DeltaTruth(truth, priorChunks.toLong, newChunks.toLong, changed.map(_.doiNorm).toSet, changedText,
      rows, todo.count(_.article.nonEmpty), priorSections)
  }

  // ----------------------------------------------------------------- curate

  final case class CurateTruth(docs: Int, sources: Int, nearDupClusters: IndexedSeq[IndexedSeq[Long]],
                               paraphraseGroups: IndexedSeq[IndexedSeq[Long]], lowQuality: Set[Long],
                               cleanTokens: Map[Long, Long]) {
    lazy val clusterOf: Map[Long, Int] =
      nearDupClusters.zipWithIndex.flatMap { case (c, i) => c.map(_ -> i) }.toMap
    lazy val groupOf: Map[Long, Int] =
      (nearDupClusters ++ paraphraseGroups).zipWithIndex.flatMap { case (c, i) => c.map(_ -> i) }.toMap
  }

  /** A curation corpus of (doc_id, source, text) rows. Every document
    * carries its source's banner and footer lines, shared by far more than
    * 10 documents: boilerplate. Planted structure, in fixed shares:
    *  - 20% near-duplicate clusters of Zipf-skewed size: one base text and
    *    copies with two isolated word substitutions each. The span tier
    *    strips everything they share, so no cluster may keep a document;
    *  - 15% repeated spans: documents that end in a 40-word passage quoted
    *    by 2-4 of them;
    *  - 8% paraphrase groups: runs of four shared words separated by words
    *    of the member's own, so no word 5-gram repeats but a quarter of the
    *    3-gram shingles do — what the min-hash stage is left to find;
    *  - 7% low quality: long unbroken tokens with no stopwords;
    *  - the rest unique text.
    * The planted documents take the lowest ids, and all but the low-quality
    * ones are long enough for the top quality score, so the funnel's
    * id-ordered tie-break puts them first in each source's token budget,
    * where the output check sees them. `cleanTokens` is the exact token
    * count each quoting, paraphrase or unique document keeps after the
    * boilerplate and span tiers. */
  def curate(seed: Long, nDocs: Int, nSources: Int): (IndexedSeq[(Long, String, String)], CurateTruth) = {
    require(nDocs < Vocab.size, s"at most ${Vocab.size - 1} documents")
    val r = new SplittableRandom(seed)
    val rows = IndexedSeq.newBuilder[(Long, String, String)]
    val srcNames = IndexedSeq.tabulate(nSources)(i => f"source-$i%02d")
    val clusters = IndexedSeq.newBuilder[IndexedSeq[Long]]
    val groups = IndexedSeq.newBuilder[IndexedSeq[Long]]
    val low = Set.newBuilder[Long]
    val clean = Map.newBuilder[Long, Long]
    var next = 0L
    def emit(body: String): Long = {
      val id = next; next += 1
      val s = srcNames(r.nextInt(nSources))
      rows += ((id, s, s"subscribe to the $s newsletter for more\n$body\ncopyright $s all rights reserved"))
      id
    }
    // a document's own body ends in a word no other document ends in, so
    // the 5-grams that run from it into a quoted passage never repeat
    def ownBody(n: Int): String = sentence(r, n - 1) + " " + Vocab((next % Vocab.size).toInt)
    def upTo(share: Double) = (nDocs * share).toLong

    while (next < upTo(0.20)) {
      val size = math.min(24, 2 + (1.0 / (0.02 + r.nextDouble())).toInt / 2)
      val base = words(r, 170).toArray
      // substitution slots 12 words apart and away from the edges, so each
      // substituted word sits alone between 5-grams the cluster shares
      val slots = shuffle(r, (8 until 160 by 12).toIndexedSeq)
      slots.foreach(p => base(p) = word(r))
      clusters += (0 until size).map { m =>
        val mine = if (m == 0) Set.empty[Int] else Set(slots((2 * m) % slots.size), slots((2 * m + 1) % slots.size))
        emit(base.indices.map(p => if (mine(p)) word(r) else base(p)).mkString(" "))
      }
    }
    while (next < upTo(0.35)) {
      val quote = sentence(r, 40)
      (0 until 2 + r.nextInt(3)).foreach { _ =>
        val n = 160 + r.nextInt(80)
        clean += emit(ownBody(n) + "\n" + quote) -> n.toLong
      }
    }
    while (next < upTo(0.43)) {
      val size = 2 + r.nextInt(4)
      val runs = IndexedSeq.fill(34)(words(r, 4))
      // per slot, members draw distinct own words
      val own = runs.map(_ => distinctWords(r, size))
      groups += (0 until size).map { m =>
        val text = runs.indices.flatMap(i => runs(i) :+ own(i)(m))
        val id = emit(text.mkString(" "))
        clean += id -> text.size.toLong
        id
      }
    }
    while (next < upTo(0.50)) {
      low += emit((0 until 40 + r.nextInt(40)).map { _ =>
        (0 until 12 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }.mkString(" "))
    }
    while (next < nDocs) {
      val n = 80 + r.nextInt(160)
      clean += emit(ownBody(n)) -> n.toLong
    }
    (rows.result(), CurateTruth(next.toInt, nSources, clusters.result(), groups.result(), low.result(), clean.result()))
  }

  private def distinctWords(r: SplittableRandom, n: Int): IndexedSeq[String] = {
    val s = scala.collection.mutable.LinkedHashSet.empty[String]
    while (s.size < n) s += word(r)
    s.toIndexedSeq
  }

  // --------------------------------------------------------------- retrieve

  final case class RetrieveTruth(n: Int, dim: Int, queryPool: IndexedSeq[Long],
                                 requests: IndexedSeq[IndexedSeq[Long]])

  /** (id, vector) rows: `n` vectors of `dim` floats around `n / 100`
    * random unit centers, ids shuffled across clusters; a query pool of
    * `poolSize` corpus ids and `nRequests` requests of `perRequest` pool
    * ids each. */
  def retrieve(seed: Long, n: Int, dim: Int, poolSize: Int, nRequests: Int,
               perRequest: Int): (IndexedSeq[(Long, Array[Float])], RetrieveTruth) = {
    val r = new SplittableRandom(seed)
    val nCenters = math.max(8, n / 100)
    def gauss(): Double = {
      // Box-Muller over the splittable stream keeps the generator seeded
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centers = IndexedSeq.fill(nCenters) {
      val c = Array.fill(dim)(gauss()); val s = math.sqrt(c.map(x => x * x).sum); c.map(_ / s)
    }
    val ids = shuffle(r, (0L until n.toLong).toIndexedSeq)
    val rows = ids.map { id =>
      val c = centers(r.nextInt(nCenters))
      id -> c.map(x => (x + 0.12 * gauss()).toFloat)
    }
    val pool = shuffle(r, ids).take(poolSize)
    val reqs = IndexedSeq.fill(nRequests)(shuffle(r, pool).take(perRequest))
    (rows, RetrieveTruth(n, dim, pool, reqs))
  }
}
