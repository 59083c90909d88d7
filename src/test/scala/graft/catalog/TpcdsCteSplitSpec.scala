package graft.catalog

import org.scalatest.funsuite.AnyFunSuite

/** The leading-CTE split the staged TPC-DS entries are built on. */
class TpcdsCteSplitSpec extends AnyFunSuite {

  test("splitLeadingCtes splits named legs off the main query") {
    val (legs, main) = TpcdsQueries.splitLeadingCtes(
      ", a AS (SELECT 1 AS x), b AS (SELECT ')' AS y FROM a) SELECT * FROM b")
    assert(legs == Seq("a" -> "SELECT 1 AS x", "b" -> "SELECT ')' AS y FROM a"))
    assert(main == "SELECT * FROM b")
  }

  test("splitLeadingCtes rejects a leg it cannot parse instead of splitting part way") {
    // a column-list CTE is not split; the leftover would start with ','
    val e = intercept[IllegalArgumentException] {
      TpcdsQueries.splitLeadingCtes(", a AS (SELECT 1 AS x), b (y) AS (SELECT x FROM a) SELECT * FROM b")
    }
    assert(e.getMessage.contains("b (y) AS"))
  }
}
