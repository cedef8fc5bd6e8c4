package graft

/** Driver-contract invariants on SparkEntry itself.
  *
  * The driver's correctness gate only checks queries that appear in
  * oracleSql — a `queries` entry whose oracle registration was
  * forgotten silently downgrades from hash-verified to rows-only (it
  * nearly happened to q341), and an oracle whose query was renamed
  * dangles. Pin exact key parity so either slip fails CI instead.
  */
class EntryContractSpec extends SparkSpec {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("query names are unique across the module maps") {
    val all = SparkEntry.modules.flatMap(_.queries.keys)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty, s"duplicate query names shadow each other: $dups")
    assert(all.size === SparkEntry.queries.size,
      "a module map entry was lost in the ++ fold")
  }

  test("entry() smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
