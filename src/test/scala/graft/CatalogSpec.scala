package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Catalog, FixtureQueries, Query}

class CatalogSpec extends AnyFunSuite {

  test("registry construction rejects a duplicate query name and names it") {
    def q(name: String) = Query(name, 1.0, (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Catalog.index(Seq(q("a_row"), q("dup_row"), q("dup_row"))))
    assert(e.getMessage.contains("dup_row"))
    assert(!e.getMessage.contains("a_row"))
    assert(Catalog.index(Seq(q("a_row"), q("dup_row"))).keySet == Set("a_row", "dup_row"))
  }

  test("fixture oracles read the files of the fixtures dir their builds read") {
    val dir = "/elsewhere/o'fixtures"
    val paths = "(?:read_csv|read_json)\\('((?:[^']|'')*)'".r
    val read = FixtureQueries.rows(dir).flatMap { q =>
      val ps = paths.findAllMatchIn(q.oracle).map(_.group(1)).toList
      assert(!q.oracle.contains(TestSpark.fixtures), s"${q.name} oracle hardcodes the repo fixtures")
      ps.foreach(p => assert(p.startsWith("/elsewhere/o''fixtures/"),
        s"${q.name} oracle reads $p, not a file under the quoted fixtures dir"))
      ps
    }
    assert(read.size == 15, s"fixture files named by oracles: ${read.mkString(", ")}")
  }
}
