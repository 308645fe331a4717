package graft

/** Driver-contract smoke: entry() yields rows; queries/oracles stay in sync. */
class EntrySpec extends SparkSuite {
  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(sqlc).count() > 0)
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("queries run on sf0.001") {
    // spot-check a cheap one per family
    val s = sqlc
    Seq("q02_map_json_fields", "q23_dedup_exact", "q33_ann_topk").foreach { q =>
      assert(SparkEntry.queries(q)(s, SparkSuite.Sf0001).count() > 0)
    }
  }
}
