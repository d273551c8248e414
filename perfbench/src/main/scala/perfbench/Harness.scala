package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a session several times, warm up, then run
  * the workload's rows in seed-permuted passes, one after another in one
  * closed-loop client, for the requested number of seconds and at least
  * the workload's minimum number of passes.
  *
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1`
  * it interleaves untraced and traced passes and prints the per-layer
  * metrics of the traced ones. The last stdout line is the JSON result.
  *
  * Usage (run.py supplies every argument):
  *   Harness --workload W --seed N --seconds S --trace 0|1 --cpus C
  *           --data DIR --out DIR --expected TSV [--record TSV] */
object Harness {

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  final case class Args(opts: Map[String, String]) {
    def apply(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = opts.get(k)
  }

  def parseArgs(args: Array[String]): Args = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    Args(args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k"); k.drop(2) -> v
    }.toMap)
  }

  /** Expected results: `workload row rows digest`, tab-separated, or
    * `workload row * reason` for a row whose output is not
    * deterministic, which is only checked to be non-empty. */
  def loadExpected(path: String, workload: String): Map[String, Either[String, Digest.Result]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t", 4)).collect {
        case Array(`workload`, row, "*", reason) => row -> Left(reason)
        case Array(`workload`, row, n, d) => row -> Right(Digest.Result(n.toLong, d))
      }.toMap
    finally src.close()
  }

  /** Logging is set by `log4j2.properties` (warnings and errors only). */
  def newSession(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.rdd.compress", "true")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  final case class RowRun(ok: Boolean, seconds: Double, counts: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val code = try { run(parseArgs(argv), jvmStart); 0 } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  def run(a: Args, jvmStart: Double): Unit = {
    val workload = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val out = new File(a("out")).getAbsoluteFile
    out.mkdirs()
    val work = new File(".").getCanonicalPath
    val dir = new File(a("data")).getCanonicalPath
    require(new File(dir).isDirectory, s"no data directory $dir")
    val rows = Workloads.resolve(workload.rows)
    val expected = loadExpected(a("expected"), workload.name)
    val observed = mutable.LinkedHashMap[String, mutable.LinkedHashSet[Digest.Result]]()
    var attempted = 0L
    var failed = 0L

    def check(row: String, r: Digest.Result): Option[String] = expected.get(row) match {
      case None => Some("no expected result recorded")
      case Some(Left(_)) => if (r.rows > 0) None else Some("empty result")
      case Some(Right(e)) => if (e == r) None else Some(s"got $r, expected $e")
    }

    var spark: SparkSession = null

    def runRow(name: String, fn: Workloads.Row, tracer: Option[Tracer]): RowRun = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.sparkContext.setJobDescription(s"perfbench: $name")
      attempted += 1
      val t0 = nowMs
      var t1 = t0
      // Drains the listener bus after the row's end time is taken, so the
      // wait is not charged to the row's spans.
      def close(t2: Double): Map[String, Double] = tracer.map { tr =>
        org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
        tr.endRow(name, t0, t1, t2, t1 - t0)
      }.getOrElse(Map.empty)
      try {
        val df = fn(spark, dir)
        t1 = nowMs
        val r = Digest.of(df)
        val t2 = nowMs
        observed.getOrElseUpdate(name, mutable.LinkedHashSet()) += r
        val err = check(name, r)
        err.foreach { m =>
          failed += 1
          System.err.println(s"[perfbench] $name WRONG: $m")
        }
        RowRun(err.isEmpty, (t2 - t0) / 1000, close(t2))
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $name FAILED: " +
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          val t2 = nowMs
          if (t1 == t0) t1 = t2
          RowRun(ok = false, 0.0, close(t2))
      } finally spark.sparkContext.setJobDescription(null)
    }

    // A set-up is a fresh SparkSession and the workload's first row in it.
    // The first, cold one counts from JVM start; a run has only that one
    // JVM start, so `setup_s` is the median of the warm set-ups after it,
    // and the cold one goes to the per-run result file. Then untimed
    // warm-up passes over all rows in the last session: two in a traced
    // run, so that the JIT's speed-up over the first timed passes does not
    // land on the untraced side of the overhead figure.
    def setUp(t0: Double): Double = {
      if (spark != null) spark.stop()
      spark = newSession(cpus, work)
      runRow(rows.head._1, rows.head._2, None)
      (nowMs - t0) / 1000
    }
    val coldSetup = setUp(jvmStart)
    val setups = Seq.fill(3)(setUp(nowMs))
    println(f"[perfbench] cold set-up, JVM start to first row done: $coldSetup%.3f s")
    val warm0 = nowMs
    for (_ <- 1 to (if (traced) 2 else 1); (n, f) <- rows) runRow(n, f, None)
    val warmup = (nowMs - warm0) / 1000

    val rnd = new scala.util.Random(seed)
    val deadline = nowMs + seconds * 1000
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val passes = mutable.ArrayBuffer[Double]()
    val tracedPasses = mutable.ArrayBuffer[(Double, Map[String, Double], Seq[Stats.Span])]()
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Double = gcBeans.map(_.getCollectionTime.toDouble).sum
    var pass = 0
    // A traced run orders its passes untraced, traced, traced, untraced, ...
    // so that the JIT's speed-up over a run does not bias the overhead.
    def enough: Boolean =
      if (traced) passes.size >= 2 && tracedPasses.size >= 2
      else passes.size >= workload.minPasses
    while (nowMs < deadline || !enough) {
      System.gc()
      val order = rnd.shuffle(rows)
      val tracer = if (traced && (pass % 4 == 1 || pass % 4 == 2)) Some(new Tracer) else None
      tracer.foreach(_.attach(spark))
      val gc0 = gcMs
      val p0 = nowMs
      val runs = order.map { case (n, f) => n -> runRow(n, f, tracer) }
      val wall = (nowMs - p0) / 1000
      val passGc = gcMs - gc0
      tracer match {
        case Some(tr) =>
          tr.detach(spark)
          val sums = runs.flatMap(_._2.counts).groupMapReduce(_._1)(_._2)(_ + _)
          tracedPasses += ((wall, sums + ("jvm.gc_ms" -> passGc), tr.spans))
        case None =>
          passes += wall
          runs.foreach { case (n, r) =>
            if (r.ok) samples.getOrElseUpdate(n, mutable.ArrayBuffer()) += r.seconds }
      }
      pass += 1
    }

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!traced) {
      // A run in which every row failed has no samples; it reports zeros
      // and "correct": false.
      val all = samples.values.flatten.toSeq
      def ifAny(v: => Double): Double = if (all.isEmpty) 0.0 else v
      val p = Stats.tailPercentile(all.size)
      println(f"[perfbench] query_tail_s is p$p%.1f of ${all.size} samples over ${passes.size} passes")
      metrics("setup_s") = (Stats.median(setups), "s")
      metrics("pass_s") = (Stats.median(passes.toSeq), "s")
      metrics("query_p50_s") = (ifAny(Stats.median(all)), "s")
      metrics("query_tail_s") = (ifAny(Stats.percentile(all, p)), "s")
      metrics("query_geomean_s") =
        (ifAny(Stats.geomean(samples.values.map(s => Stats.median(s.toSeq)).toSeq)), "s")
    } else {
      val probes = Probes.run(spark, cpus)
      val layer = Layers.summarise(tracedPasses.toSeq)
      Layers.names.foreach { case (k, unit) => metrics(k) = (layer.getOrElse(k, 0.0), unit) }
      metrics("jvm.peak_rss_mb") = (Layers.peakRssMb, "MB")
      metrics("probe.cpu_s") = (probes._1, "s")
      metrics("probe.io_s") = (probes._2, "s")
      val untracedPass = Stats.median(passes.toSeq)
      val tracedPass = Stats.median(tracedPasses.map(_._1).toSeq)
      metrics("trace.pass_s") = (tracedPass, "s")
      metrics("trace.untraced_pass_s") = (untracedPass, "s")
      metrics("trace.overhead_pct") = (100 * (tracedPass / untracedPass - 1), "%")
      Layers.writeSpans(new File(out, s"spans-${workload.name}-seed$seed.jsonl"),
        tracedPasses.map(_._3).toSeq)
    }
    spark.stop()

    a.get("record").foreach { path =>
      val w = new PrintWriter(path, "UTF-8")
      try observed.foreach { case (row, rs) =>
        if (rs.size == 1) w.println(s"${workload.name}\t$row\t${rs.head.rows}\t${rs.head.digest}")
        else w.println(s"${workload.name}\t$row\t*\tvaries between executions: " +
          rs.map(_.rows).mkString(","))
      } finally w.close()
    }

    val rowMedians = samples.map { case (n, s) => s""""$n":${Stats.median(s.toSeq)}""" }
    val detail = new PrintWriter(new File(out,
      s"result-${workload.name}-seed$seed-trace${a("trace")}.json"), "UTF-8")
    try detail.println(s"""{"cold_setup_s":$coldSetup,"setups_s":${setups.mkString("[", ",", "]")},"warmup_s":$warmup,""" +
      s""""passes_s":${passes.mkString("[", ",", "]")},"row_median_s":${rowMedians.mkString("{", ",", "}")}}""")
    finally detail.close()

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
  }
}
