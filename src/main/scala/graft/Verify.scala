package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    gatePreflight()
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY narrows the rows for fast local iteration
    for (name <- Rows.select())
      Rows.run(spark, sfDir, "verify", name)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    // every control char escaped: a tab or CR in an oracle's SQL would
    // otherwise fail the compare's json.load and lose every row's check
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Rows.json(k)}: ${Rows.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Oracle-gate preflight, wired into the run path so a fresh VM can't
    * silently regress: a few hundred DuckDB oracle queries in one process
    * accumulate ~54k memory maps, and the kernel default
    * vm.max_map_count=65530 makes them intermittently die with
    * OutOfMemoryException while RAM is free (the round-9 gate lost
    * 168/290 rows to exactly this). Verify runs immediately before the
    * DuckDB oracle compare, so this is the right hook to warn LOUDLY
    * with the remedy. It only reads the setting: a correctness run must
    * not change a kernel setting of the host it runs on, so it starts
    * no process and writes nothing. Never fails the export itself.
    * Linux-only by construction (reads procfs). */
  private def gatePreflight(): Unit = {
    val p = Paths.get("/proc/sys/vm/max_map_count")
    if (!Files.exists(p)) return
    // NOT Files.readString: procfs reports size 0 and NIO's sized read
    // comes back truncated (observed: "1" for "1048576"); a plain
    // stream read returns the real content
    val in = new java.io.FileInputStream(p.toFile)
    val cur = try new String(in.readAllBytes()).trim.toLong finally in.close()
    val want = 1048576L
    if (cur < want)
      System.err.println(
        s"""[verify] WARNING: vm.max_map_count=$cur < $want — the DuckDB
           |[verify] oracle gate that follows this export is likely to lose
           |[verify] queries to spurious OutOfMemoryException (see BASELINE.md
           |[verify] "Oracle-harness reliability note"). Remedy before the
           |[verify] compare:  sh scripts/prepare_gate.sh""".stripMargin)
  }
}
