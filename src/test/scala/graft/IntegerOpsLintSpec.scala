package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Cross-engine integer/null-semantics lint (VERDICT r14 task 6): two of
  * three r13 advice findings were the same bug classes — `Column.divide`
  * on longs (promotes to double; hashes above 2^53 round before the
  * divide, silently breaking replays-exactly) and `concat_ws` in hash/key
  * construction (skips nulls; a null component must POISON the key, not
  * vanish from it). The classes are now known, so this lint makes them
  * unwritable: any new occurrence in main source fails the suite unless
  * the line carries an explicit allowlist justification here.
  *
  * The scanner is a pure function over (path, lines) so the spec can
  * seed a synthetic violation and prove the lint actually fires — a lint
  * that has never failed is a lint nobody knows works.
  */
object IntegerOpsLint {

  final case class Finding(file: String, line: Int, rule: String, text: String)

  /** Allowlist: (path suffix, line substring) pairs for occurrences that
    * are SAFE BY CONSTRUCTION, with the reason recorded here.
    *  - Cdc.valueDigest: every concat_ws part is length-prefixed AND
    *    coalesced before the join, so null is a distinct token and no
    *    part can vanish — the null-skip hazard cannot arise.
    *  - Norm.docId: both parts are coalesce'd to "" first (the surveyed
    *    reference semantics: null title/journal hash as empty string). */
  val Allow: Seq[(String, String)] = Seq(
    ("ops/Cdc.scala", "md5(concat_ws("),
    ("norm/Norm.scala", "sha2(concat_ws("))

  /** Frame pins outside `org.apache.spark.sql.graft.Pin`: every reused
    * frame is kept through `Pin` or `Pin.truncate`, whose scaladoc holds
    * the reasons, so a bare `localCheckpoint`/`checkpoint`/`cache`/`persist`
    * in main source is a fifth idiom. Allowlist: (path suffix, line regex)
    * per kept site, with its reason.
    *  - Components.connectedComponents: the label-propagation loop runs on
    *    co-partitioned RDDs (the one RDD-API loop in the library), which
    *    `Pin` does not take; its persists and per-round local checkpoint
    *    are RDD calls.
    *  - curation_full's gated text (MultimodalQueries): `DISK_ONLY` keeps
    *    a corpus-sized text relation off the heap at sf30, a memory reason
    *    `Pin`'s `MEMORY_AND_DISK` does not meet. */
  val PinAllow: Seq[(String, String)] = Seq(
    ("ops/Components.scala",
      """\.persist\(StorageLevel\.MEMORY_AND_DISK\)|\.localCheckpoint\(\) // RDD loop"""),
    ("catalog/MultimodalQueries.scala", """\.persist\(org\.apache\.spark\.storage\.StorageLevel\.DISK_ONLY\)"""))

  private val PinCall = """\.(localCheckpoint|checkpoint|persist)\(|\.cache\(\)""".r

  private def isCommentLine(l: String): Boolean = {
    val t = l.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") || t.startsWith("/**")
  }

  /** Scan one file's lines; `path` is repo-relative with '/' separators. */
  def scan(path: String, lines: Seq[String]): Seq[Finding] =
    lines.zipWithIndex.flatMap { case (l, i) =>
      if (isCommentLine(l)) Seq.empty
      else {
        val allowed = Allow.exists { case (sfx, sub) => path.endsWith(sfx) && l.contains(sub) }
        val f1 =
          if (l.contains(".divide("))
            Seq(Finding(path, i + 1, "Column.divide",
              "long/long Column.divide is DOUBLE division (values past 2^53 round " +
                "before dividing) — use expr(\"a div b\") for exact integer division"))
          else Seq.empty
        val f2 =
          if (l.contains("concat_ws(") && !allowed)
            Seq(Finding(path, i + 1, "concat_ws",
              "concat_ws skips nulls — in hash/key construction a null component " +
                "must poison the key (use concat + explicit null handling), or " +
                "coalesce/length-prefix every part and allowlist the line here"))
          else Seq.empty
        val f3 =
          if (PinCall.findFirstIn(l).isDefined && !path.endsWith("org/apache/spark/sql/graft/Pin.scala") &&
              !PinAllow.exists { case (sfx, re) => path.endsWith(sfx) && re.r.findFirstIn(l).isDefined })
            Seq(Finding(path, i + 1, "pin",
              "keep a reused frame with Pin(df) (reuse, lineage kept) or Pin.truncate(df) " +
                "(loop-carried state); see org.apache.spark.sql.graft.Pin"))
          else Seq.empty
        f1 ++ f2 ++ f3
      }
    }

  def scanTree(root: Path): Seq[Finding] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .toSeq.sortBy(_.toString)
    files.flatMap { p =>
      val rel = root.relativize(p).toString.replace('\\', '/')
      scan(rel, Files.readAllLines(p).asScala.toSeq)
    }
  }
}

class IntegerOpsLintSpec extends AnyFunSuite {

  private def mainFindings(rules: Set[String]): Seq[IntegerOpsLint.Finding] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"lint must run from the repo root, missing $root")
    IntegerOpsLint.scanTree(root).filter(f => rules(f.rule))
  }

  private def report(findings: Seq[IntegerOpsLint.Finding]): String =
    findings.map(f => s"${f.file}:${f.line} [${f.rule}] ${f.text}").mkString("\n", "\n", "\n")

  test("main source carries no un-allowlisted Column.divide or concat_ws") {
    val findings = mainFindings(Set("Column.divide", "concat_ws"))
    assert(findings.isEmpty, report(findings))
  }

  test("main source carries no bare frame pin outside Pin") {
    val findings = mainFindings(Set("pin"))
    assert(findings.isEmpty, report(findings))
  }

  test("seeded violations fire: the lint is live, not decorative") {
    val bad = Seq(
      "val h = col(\"h60\").divide(lit(1048576L))",          // rule 1
      "val key = md5(concat_ws(\":\", col(\"a\"), col(\"b\")))", // rule 2
      "val a = df.groupBy(\"k\").count().localCheckpoint(false)", // rule 3, each form
      "val b = df.localCheckpoint()",
      "val c = df.checkpoint()",
      "val d = df.cache()",
      "val e = df.persist(StorageLevel.MEMORY_AND_DISK)")
    val fs = IntegerOpsLint.scan("graft/ops/Seeded.scala", bad)
    assert(fs.map(_.rule).sorted == Seq("Column.divide", "concat_ws") ++ Seq.fill(5)("pin"))
    assert(fs.map(_.line) == (1 to 7))
    // an allowlisted pin fires outside its file, and Pin itself is exempt
    val rddPersist = Seq("      .persist(StorageLevel.MEMORY_AND_DISK)")
    assert(IntegerOpsLint.scan("graft/ops/Components.scala", rddPersist).isEmpty)
    assert(IntegerOpsLint.scan("graft/ops/Graph.scala", rddPersist).map(_.rule) == Seq("pin"))
    assert(IntegerOpsLint.scan("org/apache/spark/sql/graft/Pin.scala", rddPersist).isEmpty)
    // unpersist is a release, not a pin
    assert(IntegerOpsLint.scan("graft/ops/Ivf.scala", Seq("bc.unpersist(blocking = false)")).isEmpty)
  }

  test("comment mentions and allowlisted lines do not fire") {
    val ok = Seq(
      "// concat, NOT concat_ws: a null component must poison the key",
      "  * concat_ws silently skips nulls — documented hazard",
      "val safe = expr(\"a div b\")")
    assert(IntegerOpsLint.scan("graft/ops/Dedup.scala", ok).isEmpty)
    val allowed = Seq("    md5(concat_ws(\"|\", parts: _*))")
    assert(IntegerOpsLint.scan("graft/ops/Cdc.scala", allowed).isEmpty)
    // the same line OUTSIDE its allowlisted file still fires
    assert(IntegerOpsLint.scan("graft/ops/Other.scala", allowed).size == 1)
  }
}
