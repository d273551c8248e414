package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for named (or all) declared queries to
  * one file each under an output dir — the plans/rNN/<query>_{before,
  * after}.txt evidence the optimization rounds commit.
  *
  * Each row runs through the [[Rows]] step, so the dump knows what
  * building the row ran: a row whose build starts jobs (a loop that
  * checkpoints, a staged wave run, a stream replay) did real work here,
  * and its dumped plan is only that of its last frame. Such a row is
  * flagged on stderr with its measured job count.
  *
  * args: <sfDir> <outDir> [comma-separated query names | "all"]
  */
object PlanDump {
  /** `row`'s gate form, built and explained inside one measurement: the
    * record's jobs are the ones its build ran, since explaining runs none. */
  private[graft] def plan(spark: SparkSession, sfDir: String, row: String): Rows.Result[String] =
    Rows.run(spark, sfDir, "plandump", row)(_.queryExecution.explainString(FormattedMode))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val rows = Rows.select(args.lift(2).filter(_ != "all").map(Rows.split))
    // the Bench session's width, so dumped exchanges show the
    // partitioning the record actually ran with
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // a table's first read in a session runs one footer job: take them
    // all here, so none is counted as a row's build
    Tables.names.foreach(Tables(spark, sfDir, _))
    for (n <- rows) {
      val r = plan(spark, sfDir, n)
      r.value.foreach { p =>
        Files.write(Paths.get(s"$outDir/$n.txt"), p.getBytes("UTF-8"))
        println(s"[plandump] $n ok")
      }
      if (r.record.jobs.nonEmpty)
        System.err.println(s"[plandump] $n: building ran ${r.record.jobs.size} jobs, " +
          "so this is not a plans-only row")
    }
    spark.stop()
  }
}
