package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SparkEntry registry, checked without a SparkSession: building
  * the two maps runs no query. */
class SparkEntryContractSpec extends AnyFunSuite {

  test("299 rows, each with its oracle twin") {
    assert(SparkEntry.queries.size == 299)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("a key two parts define fails the merge, naming the key and both parts") {
    val err = intercept[IllegalStateException] {
      SparkEntry.mergeParts("queries",
        Seq("PartA" -> Map("a" -> 1, "shared" -> 2), "PartB" -> Map("shared" -> 3)))
    }
    assert(err.getMessage.contains("'shared'"), err.getMessage)
    assert(err.getMessage.contains("PartA") && err.getMessage.contains("PartB"), err.getMessage)
    assert(SparkEntry.mergeParts("queries", Seq("PartA" -> Map("a" -> 1), "PartB" -> Map("b" -> 2))) ==
      Map("a" -> 1, "b" -> 2))
  }

  test("a key one part repeats fails that part's map, naming the key and the part") {
    val err = intercept[IllegalStateException] {
      SparkEntry.distinctRows("PartA", "a" -> 1, "shared" -> 2, "shared" -> 3)
    }
    assert(err.getMessage.contains("'shared'") && err.getMessage.contains("PartA"), err.getMessage)
    assert(SparkEntry.distinctRows("PartA", "a" -> 1, "b" -> 2) == Map("a" -> 1, "b" -> 2))
  }

  test("a row without its twin, or a twin without its row, fails, naming both") {
    val err = intercept[IllegalStateException] {
      SparkEntry.checkTwins(Set("both", "rowOnly"), Set("both", "oracleOnly"))
    }
    assert(err.getMessage.contains("rowOnly") && err.getMessage.contains("oracleOnly"),
      err.getMessage)
    SparkEntry.checkTwins(Set("both"), Set("both"))
  }

  test("unknown query names are rejected, naming them") {
    SparkEntry.requireKnown(Seq("q1_pricing_summary", "knn_graph"))
    val err = intercept[IllegalArgumentException] {
      SparkEntry.requireKnown(Seq("q1_pricing_summary", "knn_grpah", "no_such_row"))
    }
    assert(err.getMessage.contains("knn_grpah") && err.getMessage.contains("no_such_row"),
      err.getMessage)
    // Verify checks its subset argument before it starts a session
    val verr = intercept[IllegalArgumentException] {
      Verify.main(Array("unused-sf-dir", "unused-out-dir", "q1_pricing_summary,knn_grpah"))
    }
    assert(verr.getMessage.contains("knn_grpah"), verr.getMessage)
  }
}
