package graft

import org.apache.spark.sql.SparkSession

/** The ONE entry point for the ad-hoc performance probes (VERDICT r14
  * #9 / r15 #6): same-JVM A/B harnesses for a single suspect operator
  * family, answering "is this row slow because of the plan or the box?"
  * head-to-head. Probes are NOT part of the gate (Verify) or the record
  * (Bench); their numbers land in BASELINE.md prose.
  *
  * All probes share one session built here — the Bench config (fixture
  * width from SPARK_GRAFT_CPUS, AQE, UTC, compressed RDD demotion for
  * the scale rehearsals) — and the same `Tables` fixture loader inside
  * each probe body, so a probe reading never diverges from the suite
  * over session/config drift.
  *
  * Usage (via scripts/probe.sh, or directly):
  *   SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.Probe ppjoin"
  *
  * The probe names are the keys of `probes` below; an unknown or
  * missing name prints them.
  */
object Probe {
  private val probes: Map[String, (SparkSession, String) => Unit] = Map(
    "ppjoin" -> (PpjoinProbe.run _), // sketch-prune kill rate + pair equality
    "fuzzy" -> (FuzzyProbe.run _),   // d=1 split route vs generic variant join
    "stream" -> (StreamBench.run _), // MemoryStream harness vs file faces
    "streamsink" -> (StreamSinkProbe.run _), // per-batch cost attribution of the parquet-sink faces
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      // scale rehearsals demote edge-sized localCheckpoint blocks to
      // disk; compress that stream exactly like Bench does
      .config("spark.rdd.compress", "true")
      // one-box scale rehearsals see multi-minute full-GC pauses on a
      // 96 GB heap; the default 120 s heartbeat verdict ("Removing
      // executor driver") killed an otherwise-healthy sf100 labelprop
      // run — in single-JVM local mode the heartbeat can only report
      // the ONE process's own stall, so a long timeout loses nothing
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // quiet the benign FileStreamSink metadata-miss WARN stack (see Bench)
    org.apache.log4j.Logger
      .getLogger("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
      .setLevel(org.apache.log4j.Level.ERROR)
    // JVM/codegen warmup so the first probe reading isn't charged
    // one-time session costs
    spark.range(1000000L).selectExpr("sum(id)").collect()
    println(s"[probe] $name over $sfDir at local[$cpus]")
    try body(spark, sfDir) finally spark.stop()
  }
}
