package graft

/** Registry consistency: the driver contract in [[SparkEntry]] must stay
  * closed — every registered query either has a DuckDB oracle or a
  * declared rows-only pin, never neither (a silently unoracled query
  * would read as a perpetual failure in the correctness report) and
  * never both (an oracle makes the rows-only marker a stale lie). */
class EntrySpec extends SparkSpec {

  test("every query has exactly one of: oracle SQL, rows-only pin") {
    val qs = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    val rowsOnly = SparkEntry.rowsOnlyPinnedBy.keySet
    assert((oracled -- qs).isEmpty,
      s"oracle without query: ${(oracled -- qs).toSeq.sorted}")
    assert((rowsOnly -- qs).isEmpty,
      s"rows-only pin without query: ${(rowsOnly -- qs).toSeq.sorted}")
    assert((oracled intersect rowsOnly).isEmpty,
      s"both oracle and rows-only: ${(oracled intersect rowsOnly).toSeq.sorted}")
    val unaccounted = qs -- oracled -- rowsOnly
    assert(unaccounted.isEmpty,
      s"no oracle and no rows-only pin: ${unaccounted.toSeq.sorted}")
  }

  test("registry maps are built once, not re-merged per call") {
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  test("rows-only pins name existing spec suites") {
    val specDir = new java.io.File("src/test/scala/graft")
    val suites = specDir.listFiles().map(_.getName.stripSuffix(".scala")).toSet
    SparkEntry.rowsOnlyPinnedBy.foreach { case (q, pin) =>
      val suite = pin.takeWhile(_ != ' ')
      assert(suites.contains(suite), s"$q pinned by unknown suite '$suite'")
    }
  }
}
