package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Catalog, Query}

class CatalogSpec extends AnyFunSuite {

  test("registry construction rejects a duplicate query name and names it") {
    def q(name: String) = Query(name, 1.0, (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Catalog.index(Seq(q("a_row"), q("dup_row"), q("dup_row"))))
    assert(e.getMessage.contains("dup_row"))
    assert(!e.getMessage.contains("a_row"))
    assert(Catalog.index(Seq(q("a_row"), q("dup_row"))).keySet == Set("a_row", "dup_row"))
  }
}
