package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Stats.Span

/** Records layer counts and spans for one row at a time, from outside the
  * program: a SparkListener (jobs, stages, tasks, block updates), a
  * QueryExecutionListener (planning phases and plan shape per action) and
  * a StreamingQueryListener (micro-batches).
  *
  * Listener events arrive on Spark's listener-bus thread. The harness
  * drains the bus before [[endRow]], so every event of a row is counted
  * against that row. Spans stay in memory until [[spans]] is read. */
final class Tracer {
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val taskIntervals = mutable.ArrayBuffer[(Double, Double)]()
  // (kind, start, end, stage's job id or -1) of listener-side spans
  private val events = mutable.ArrayBuffer[(String, Double, Double, Int)]()
  private val jobOfStage = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, Double]()
  private val allSpans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L

  private def add(k: String, v: Double): Unit = synchronized { counts(k) += v }
  private def event(kind: String, start: Double, end: Double, job: Int = -1): Unit =
    synchronized { events += ((kind, start, end, job)) }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      counts("scheduler.jobs") += 1
      jobStart(e.jobId) = e.time.toDouble
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => events += (("job", s, e.time.toDouble, e.jobId)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("scheduler.stages", 1)
      for (s <- i.submissionTime; c <- i.completionTime)
        event("stage", s.toDouble, c.toDouble,
          Tracer.this.synchronized(jobOfStage.getOrElse(i.stageId, -1)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      counts("scheduler.tasks") += 1
      taskIntervals += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
      val m = e.taskMetrics
      if (m != null) {
        counts("task.run_ms") += m.executorRunTime
        counts("task.cpu_ms") += m.executorCpuTime / 1e6
        counts("task.gc_ms") += m.jvmGCTime
        counts("task.deser_ms") += m.executorDeserializeTime
        counts("driver.result_bytes") += m.resultSize
        counts("scan.bytes") += m.inputMetrics.bytesRead
        counts("scan.rows") += m.inputMetrics.recordsRead
        counts("exchange.write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counts("exchange.write_ms") += m.shuffleWriteMetrics.writeTime / 1e6
        counts("exchange.read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counts("exchange.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        counts("exchange.spill_bytes") += m.diskBytesSpilled + m.memoryBytesSpilled
        counts("staging.output_bytes") += m.outputMetrics.bytesWritten
        counts("staging.output_rows") += m.outputMetrics.recordsWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        add("staging.block_bytes", (b.memSize + b.diskSize).toDouble)
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def count(plan: SparkPlan)(pf: PartialFunction[SparkPlan, Int]): Int =
      collectWithSubqueries(plan)(pf).sum
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val plan = qe.executedPlan
      val scans = Plans.count(plan) {
        case _: FileSourceScanExec | _: DataSourceV2ScanExecBase => 1 }
      val exchanges = Plans.count(plan) { case _: Exchange => 1 }
      val reused = Plans.count(plan) { case _: ReusedExchangeExec => 1 }
      Tracer.this.synchronized {
        counts("catalyst.actions") += 1
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach { s =>
            counts(s"catalyst.${p}_ms") += s.durationMs
            events += (("phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble, -1))
          }
        }
        counts("scan.nodes") += scans
        counts("exchange.nodes") += exchanges
        counts("exchange.reused") += reused
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val trigger = d.getOrElse("triggerExecution", 0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Tracer.this.synchronized {
        counts("streaming.batches") += 1
        counts("streaming.trigger_ms") += trigger
        counts("streaming.add_batch_ms") += d.getOrElse("addBatch", 0.0)
        counts("streaming.commit_ms") +=
          d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)
        p.stateOperators.foreach { s =>
          counts("streaming.state_commit_ms") += s.commitTimeMs
          counts("streaming.state_rows") += s.numRowsUpdated
        }
        events += (("batch", start, start + trigger, -1))
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Closes one row: `rowStart`, `buildEnd` and `rowEnd` are epoch ms
    * taken by the harness around the row's build and its action. Call
    * after draining the listener bus. Returns the row's counts. */
  def endRow(row: String, rowStart: Double, buildEnd: Double, rowEnd: Double,
             buildMs: Double): Map[String, Double] = synchronized {
    def span(parent: Long, kind: String, s: Double, e: Double): Span = {
      val sp = Span(nextId, parent, row, kind, s, e)
      nextId += 1
      allSpans += sp
      sp
    }
    val rowSpan = span(0L, "row", rowStart, rowEnd)
    val build = span(rowSpan.id, "build", rowStart, buildEnd)
    val action = span(rowSpan.id, "action", buildEnd, rowEnd)
    def byTime(start: Double): Long = if (start < buildEnd) build.id else action.id
    val jobSpans = events.collect { case ("job", s, e, job) =>
      job -> span(byTime(s), "job", s, e)
    }.toMap
    events.foreach {
      case ("stage", s, e, job) =>
        span(jobSpans.get(job).map(_.id).getOrElse(byTime(s)), "stage", s, e)
      case (kind, s, e, _) if kind != "job" => span(byTime(s), kind, s, e)
      case _ => ()
    }
    counts("registry.build_ms") += buildMs
    counts("registry.build_jobs") += jobSpans.values.count(_.start < buildEnd)
    counts("scheduler.idle_ms") += (rowEnd - rowStart) - Stats.covered(
      taskIntervals.toSeq.map { case (a, b) => (math.max(a, rowStart), math.min(b, rowEnd)) })
    val out = counts.toMap
    counts.clear(); taskIntervals.clear(); events.clear(); jobOfStage.clear(); jobStart.clear()
    out
  }

  def spans: Seq[Span] = synchronized(allSpans.toSeq)
}
