package graft

/** Dump `.explain("formatted")` for named (or all) declared queries to
  * one file each under an output dir — the plans/rNN/<query>_{before,
  * after}.txt evidence the optimization rounds commit.
  *
  * NOT free of execution (ADVICE r17): rows that stage-then-read
  * (chunked gates like dedup_fuzzy_chunked / dedup_pr_audit, the
  * MemoryStream replay rows) run their full staging pipeline while the
  * DataFrame is being CONSTRUCTED — the dumped plan is the landed
  * read's, and the work happens here. Don't run "all" while a bench
  * owns the box; heavy rows are flagged per-row on stderr instead of
  * silently contending.
  *
  * args: <sfDir> <outDir> [comma-separated query names | "all"]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args.length < 3 || args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // the Bench session's width, so dumped exchanges show the
    // partitioning the record actually ran with
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      // flag the rows whose CONSTRUCTION executes a staged pipeline
      // (see class doc) so a log reader knows this dump did real work
      if (n.endsWith("_chunked") || n == "dedup_pr_audit" || n.startsWith("stream_"))
        System.err.println(s"[plandump] $n: construction executes its " +
          "staging/replay pipeline — this is not a plans-only row")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$n.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $n ok")
      } catch {
        // NonFatal only (ADVICE r17): an OOM/interrupt must propagate,
        // not be logged as one more row's failure while the JVM burns
        case scala.util.control.NonFatal(e) =>
          // a query whose plan needs side effects (e.g. chunked staging
          // already written) can fail to build here; report, don't die
          println(s"[plandump] $n FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    }
    spark.stop()
  }
}
