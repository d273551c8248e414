package graft

/** The row step every main runs its rows through, and the name-keyed
  * maps it reads. */
class RowsSpec extends SparkSpec {
  /** The sf0.01 fixture beside the suite's sf0.001 one. */
  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"

  test("the row maps agree: oracles and faces name rows, scale faces read fixture tables") {
    val rows = SparkEntry.queries.keySet
    for ((map, keys) <- Seq("oracleSql" -> SparkEntry.oracleSql.keySet,
        "benchFaces" -> SparkEntry.benchFaces.keySet, "scaleFaces" -> SparkEntry.scaleFaces.keySet))
      assert(keys.subsetOf(rows), s"$map names no row: ${keys -- rows}")
    for ((row, (table, _, _)) <- SparkEntry.scaleFaces)
      assert(Tables.names.contains(table), s"$row's scale face reads $table")
  }

  test("the relational, TPC-H and pipeline query maps share no name") {
    val parts = Seq(SparkEntry.relational.keySet, TpchEntry.queries.keySet,
      PipelineEntry.queries.keySet)
    for (Seq(a, b) <- parts.combinations(2)) assert((a & b).isEmpty, a & b)
    assert(parts.map(_.size).sum == SparkEntry.queries.size)
  }

  test("an unknown row name fails the selection, and the error names it") {
    val e = intercept[IllegalArgumentException](Rows.select(Some(Seq("q1_agg", "q1_aggg"))))
    assert(e.getMessage.contains("q1_aggg"), e.getMessage)
  }

  test("a listed selection keeps its order and its repeats; no list is every row, sorted") {
    assert(Rows.select(Some(Seq("q3_shipping", "q1_agg", "q3_shipping"))) ==
      Seq("q3_shipping", "q1_agg", "q3_shipping"))
    assert(Rows.select(None) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a timed stream row runs its bench face; an untimed one its gate form") {
    assert(Rows.form(spark, sf01, "stream_ewma", timed = true)._1 == Rows.Face.Bench)
    assert(Rows.form(spark, sf01, "stream_ewma", timed = false)._1 == Rows.Face.Gate)
  }

  test("graph_pagerank at sf0.01 is under its scale threshold: its timed face is the gate form") {
    assert(Rows.form(spark, sf01, "graph_pagerank", timed = true)._1 == Rows.Face.Gate)
  }

  test("a scale face's unreadable input table fails that row, not the run") {
    val r = Rows.run(spark, "/nonexistent/sf", "test", "graph_pagerank", timed = true)(_.count())
    assert(r.face.isEmpty && r.failure.isDefined, r)
  }

  test("PlanDump's step measures build jobs: graph_kcore starts some, arith_cmp none") {
    PlanDump.plan(spark, sf, "arith_cmp") // resolves lineitem's footers once per session
    val kcore = PlanDump.plan(spark, sf, "graph_kcore")
    assert(kcore.value.isSuccess && kcore.record.jobs.nonEmpty, kcore.record.columns)
    val arith = PlanDump.plan(spark, sf, "arith_cmp")
    assert(arith.value.get.contains("Scan parquet"), arith.value)
    assert(arith.record.jobs.isEmpty, arith.record.jobs)
  }

  test("a row that throws is a failure result with its message, and leaves no job description") {
    val r = Rows.run(spark, sf, "test", "q1_agg") { df =>
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == "test: q1_agg")
      df.count()
      throw new IllegalStateException("injected")
    }
    assert(r.face.contains(Rows.Face.Gate))
    assert(r.failure.contains("injected"), r)
    assert(r.record.jobs.nonEmpty, r.record.columns)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("a fatal error propagates out of the step") {
    intercept[StackOverflowError] {
      Rows.run(spark, sf, "test", "q1_agg")(_ => throw new StackOverflowError("injected"))
    }
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }
}
