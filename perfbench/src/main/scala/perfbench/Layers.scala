package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** Per-layer metrics of a traced run: each is summed over a pass's rows,
  * then the median over traced passes is reported. */
object Layers {

  /** Span kinds, parent before child: row → build / action → phase,
    * job → stage; stream micro-batches hang off build or action. A row is
    * exactly its build and action, so its own self time is not reported. */
  val spanKinds: Seq[String] = Seq("row", "build", "action", "phase", "job", "stage", "batch")

  /** Every per-layer metric summed from the tracer, with its unit. */
  val names: Seq[(String, String)] = Seq(
    "registry.build_ms" -> "ms", "registry.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.actions" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.idle_ms" -> "ms",
    "task.run_ms" -> "ms", "task.cpu_ms" -> "ms", "task.gc_ms" -> "ms", "task.deser_ms" -> "ms",
    "scan.nodes" -> "count", "scan.bytes" -> "bytes", "scan.rows" -> "count",
    "exchange.nodes" -> "count", "exchange.reused" -> "count",
    "exchange.write_bytes" -> "bytes", "exchange.read_bytes" -> "bytes",
    "exchange.write_ms" -> "ms", "exchange.fetch_wait_ms" -> "ms",
    "exchange.spill_bytes" -> "bytes",
    "staging.block_bytes" -> "bytes", "staging.output_bytes" -> "bytes",
    "staging.output_rows" -> "count",
    "driver.result_bytes" -> "bytes",
    "streaming.batches" -> "count", "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "jvm.gc_ms" -> "ms") ++ spanKinds.tail.map(k => s"self.${k}_ms" -> "ms")

  /** Median over traced passes of (wall s, summed counts, spans). */
  def summarise(passes: Seq[(Double, Map[String, Double], Seq[Stats.Span])]): Map[String, Double] = {
    val perPass = passes.map { case (_, counts, spans) =>
      counts ++ Stats.selfTime(spans).map { case (k, v) => s"self.${k}_ms" -> v }
    }
    names.map { case (k, _) => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0))) }.toMap
  }

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0 else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    }
  }

  def writeSpans(file: File, passes: Seq[Seq[Stats.Span]]): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try passes.zipWithIndex.foreach { case (spans, p) =>
      spans.foreach { s =>
        w.println(s"""{"pass":$p,"id":${s.id},"parent":${s.parent},"row":"${s.row}",""" +
          s""""kind":"${s.kind}","start_ms":${s.start},"end_ms":${s.end}}""")
      }
    } finally w.close()
  }
}

/** One sample each of graft.Bench's two constant-work drift probes, at a
  * quarter of its sizes: a range aggregate (CPU) and a wide repartition
  * of string rows through the shuffle stack (IO). They read no data and
  * normalise no metric; they only show box drift between runs. */
object Probes {
  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, cpus: Int): (Double, Double) = {
    val cpu = time(spark.range(0L, 50000000L, 1L, cpus)
      .selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").agg(sum("v"))
      .selectExpr("sum(`sum(v)`)").collect())
    val io = time(spark.range(0L, 10000000L, 1L, cpus)
      .selectExpr("id", "cast(id as string) AS pad")
      .repartition(64, col("id"))
      .selectExpr("count(pad)").collect())
    (cpu, io)
  }
}
