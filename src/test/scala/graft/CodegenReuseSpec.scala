package graft

/** A repeated run reuses the generated classes Spark compiled for the
  * first: its codegen cache is keyed by (class loader, source), so a row
  * recompiles when a session clone gets its own executor class loader
  * (artifact isolation) or when its plan's source changes between runs. */
class CodegenReuseSpec extends SparkSpec {

  test("sessions run without per-session artifact isolation") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  for (row <- Seq("stream_ewma", "stream_anomaly", "stream_bloom_novel"))
    test(s"a second run of $row compiles no generated class") {
      val (_, run) = Rows.form(spark, sf, row, timed = true)
      assert(run(spark, sf).collect().nonEmpty)
      val (rows, rec) = RunStats.measure(spark, row)(run(spark, sf).collect())
      assert(rows.nonEmpty)
      assert(rec.compiles == 0)
    }
}
