package graft

/** Plan-shape assertions for the TPC-H batch ([[suite.TpchRows]]): the value
  * of these queries is the PLAN each one is supposed to produce at
  * warehouse scale, so each scale-critical lowering claim from the
  * TpchRows scaladoc is pinned here — a regression that, say, turns the
  * Q4 EXISTS into an inner join + distinct, or loses a broadcast and
  * shuffles the `part` dimension, fails the suite even though the oracle
  * answer would still match.
  */
class TpchSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q2: correlated min is ONE window pass, dims broadcast, partsupp proxy never re-read") {
    val p = plan("q2_mincost")
    val scans = "FileScan parquet".r.findAllIn(p).size
    // lineitem + supplier + nation + region + part = 5 scans; the
    // textbook re-scan subquery shape would read lineitem twice
    assert(scans == 5, s"expected exactly 5 parquet scans, got $scans:\n$p")
    assert(p.contains("Window"), s"expected the correlated min as a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    val shuffledDims = "(?s)(SortMergeJoin|ShuffledHashJoin)[^\\n]*".r
      .findAllIn(p).toList.filter(j => j.contains("p_partkey") || j.contains("s_suppkey"))
    assert(shuffledDims.isEmpty, s"q2: a dimension got shuffled: $shuffledDims")
  }

  test("q4: EXISTS lowers to a left-semi join, no post-join dedup") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"), s"expected LeftSemi in:\n$p")
    assert(!p.contains("Distinct"), s"semi join must not need a distinct:\n$p")
  }

  test("q21: EXISTS + NOT EXISTS lower to one semi and one anti join") {
    val p = plan("q21_waiting")
    assert(p.contains("LeftSemi"), s"expected LeftSemi in:\n$p")
    assert(p.contains("LeftAnti"), s"expected LeftAnti in:\n$p")
    assert(!p.toLowerCase.contains("cartesian"),
      s"suppkey inequality must ride the orderkey equi-join, not a cartesian:\n$p")
  }

  test("q7/q8/q9/q19: every dimension side joins broadcast, not shuffled") {
    for (q <- Seq("q7_volume", "q8_share", "q9_profit", "q19_disjunct")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: expected broadcast joins:\n$p")
      // the only sort-merge/shuffled-hash joins allowed are fact-fact
      // (lineitem x orders, orders x customer) — part/supplier/nation/
      // region must never arrive via an Exchange of their own
      val shuffledDims = "(?s)(SortMergeJoin|ShuffledHashJoin)[^\\n]*".r
        .findAllIn(p).toList
        .filter(j => j.contains("p_partkey") && !j.contains("l_orderkey"))
      assert(shuffledDims.isEmpty, s"$q: part dimension got shuffled: $shuffledDims")
    }
  }

  test("q13: orders aggregate BEFORE the customer join (map-side shrink)") {
    // the left join's right side must already be the per-custkey count,
    // so exactly two aggregates appear above the join: none between
    // scan(orders) and the join would mean the raw orders table crossed
    val df = SparkEntry.queries("q13_custdist")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    val joinIdx = p.indexOf("Join LeftOuter")
    assert(joinIdx >= 0, s"expected left outer join:\n$p")
    val below = p.substring(joinIdx)
    assert(below.contains("Aggregate"),
      s"expected the orders-side aggregate BELOW the join:\n$p")
  }

  test("q17: one-scan window formulation — lineitem is read once") {
    val p = plan("q17_smallqty")
    val scans = "FileScan parquet".r.findAllIn(p).size
    // one lineitem scan + one part scan; the textbook self-join shape
    // would read lineitem twice
    assert(scans == 2, s"expected exactly 2 parquet scans, got $scans:\n$p")
    assert(p.contains("Window"), s"expected window per-part average:\n$p")
  }

  test("q11/q15: the global-scalar pass reuses the cached per-key aggregate") {
    for (q <- Seq("q11_value", "q15_topsupp")) {
      val p = plan(q)
      assert(p.contains("InMemoryTableScan"),
        s"$q: threshold pass must reuse the cached aggregate, not rescan lineitem:\n$p")
    }
    // drop what this spec cached so later suites see a clean slate
    spark.catalog.clearCache()
  }

  test("q4/q12 shipped-late predicates and q19 disjunction stay non-vacuous at sf0.001") {
    for (q <- Seq("q2_mincost", "q4_priority", "q12_shipmode", "q19_disjunct",
        "q20_greensupp", "q22_opportunity", "q7_volume", "q11_value"))
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, s"$q is vacuous at $sf")
  }
}
