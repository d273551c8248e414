package graft

import org.apache.spark.sql.SparkSession

/** The program's one `SparkSession` factory: Bench, Verify, PlanDump,
  * Probe, ScaleUp and the test suites all build their session here, so
  * a reading from one never differs from another's over session
  * settings.
  *
  * JVM-wide defaults (UI off, a UTC session time zone, artifact
  * isolation off, the Parallel garbage collector) come from
  * `build.sbt`'s `javaOptions` and are not repeated here; adaptive
  * execution is Spark's default. */
object Session {
  /** `SPARK_GRAFT_CPUS`, else the machine's processor count. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // iterative operators checkpoint edge-sized RDDs locally, and blocks
      // demoted from the storage pool go to disk uncompressed by
      // default: at an sf100 rehearsal that stream filled the local
      // disk before CC's first round ended; the edge blocks LZ4 ~3x
      .config("spark.rdd.compress", "true")
      // in single-JVM local mode the heartbeat can only report this
      // process's own stall: a 137 s full-GC pause on a large heap must
      // not get the driver's executor removed
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.warehouse.dir", Scratch.localDir("graft-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // FileStreamSink.hasMetadata probes every glob read path for a
    // streaming _spark_metadata dir and WARN-logs the expected miss with
    // a full FileNotFoundException stack: benign, so quieted to ERROR
    org.apache.log4j.Logger
      .getLogger("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
      .setLevel(org.apache.log4j.Level.ERROR)
    spark
  }
}
