package graft

import org.apache.spark.sql.SparkSession

/** The ONE entry point for the ad-hoc performance probes (VERDICT r14
  * #9 / r15 #6): same-JVM harnesses for a single suspect operator
  * family, answering "is this row slow because of the plan or the box?"
  * head-to-head. Probes are NOT part of the gate (Verify) or the record
  * (Bench); their numbers land in BASELINE.md prose.
  *
  * All probes share one [[Session]] built here and the same `Tables`
  * fixture loader inside each probe body, and measure through
  * [[RunStats]], so a probe reading never diverges from the suite over
  * session/config drift.
  *
  * Usage (via scripts/probe.sh, or directly):
  *   SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.Probe mini"
  *
  * The probe names are the keys of `probes` below; an unknown or
  * missing name prints them.
  */
object Probe {
  private val probes: Map[String, (SparkSession, String) => Unit] = Map(
    "cc" -> (CcProbe.run _),         // job-level attribution of one CC call
    "mini" -> (MiniBench.run _))     // isolated re-time of named Bench rows

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    val body = probes.getOrElse(name, { (_: SparkSession, _: String) =>
      System.err.println(
        s"usage: runMain graft.Probe {${probes.keys.toSeq.sorted.mkString("|")}}" +
          (if (name.nonEmpty) s" (unknown probe: $name)" else ""))
      sys.exit(2)
    })
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val spark = Session.local()
    // JVM/codegen warmup so the first probe reading isn't charged
    // one-time session costs
    spark.range(1000000L).selectExpr("sum(id)").collect()
    println(s"[probe] $name over $sfDir at ${spark.sparkContext.master}")
    try body(spark, sfDir) finally spark.stop()
  }
}
