package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The program's one run recorder: what a measured body ran, read from
  * one SparkListener (jobs, stages, tasks, shuffle and spill bytes, each
  * job's call site) and one StreamingQueryListener (micro-batches, their
  * `durationMs` phases and state-store commit time), both installed once
  * per session, plus the generated classes compiled, the JVM's garbage
  * collections and the rounds of [[graft.operators.Fixpoint]] loops.
  *
  * A measurement counts by time window, not by job group: everything
  * that runs between its opening and closing drain of the listener bus
  * counts, so the jobs a stream's own execution thread starts (under its
  * own job group) count too, and so does any other activity in the
  * session at the time. */
object RunStats {
  /** One job: its id, stage count and call site: `callSite.short` when
    * set, else the name of its result stage. */
  final case class Job(id: Int, stages: Int, site: String)

  /** What one measured body ran. `batchMs` sums each micro-batch's
    * `durationMs` by phase; `compiles` counts generated classes compiled
    * (JVM-wide; a codegen cache hit compiles none); `gcMs` and `gcs` are
    * the JVM's garbage collection time and count, summed over its
    * collectors; `rounds` counts the rounds of iterative operators. */
  final case class Record(wallS: Double, jobs: Seq[Job], stages: Int,
      tasks: Int, shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
      compiles: Long, gcMs: Long, gcs: Long, batches: Int, batchMs: Map[String, Long],
      stateCommitMs: Long, rounds: Int) {
    /** The record as one line of `key=value` columns. */
    def columns: String = {
      val mb = 1024.0 * 1024
      val phases = batchMs.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(",")
      f"$wallS%.2f s  shw=${shuffleWriteBytes / mb}%.1fMB shr=${shuffleReadBytes / mb}%.1fMB " +
        f"spill=${spillBytes / mb}%.1fMB jobs=${jobs.size} stages=$stages tasks=$tasks " +
        s"compiles=$compiles gc_ms=$gcMs gcs=$gcs rounds=$rounds batches=$batches batch_ms={$phases} " +
        s"state_commit_ms=$stateCommitMs"
    }
  }

  /** Run `body` under the job description `label` and record what it ran. */
  def measure[T](spark: SparkSession, label: String)(body: => T): (T, Record) = {
    install(spark)
    val sc = spark.sparkContext
    GraftBridge.drainListeners(spark)
    val w = new Window
    open.add(w)
    try {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (gcMs0, gcs0) = gc()
      val t0 = System.nanoTime()
      sc.setJobDescription(label)
      val r = try body finally sc.setJobDescription(null)
      val wall = (System.nanoTime() - t0) / 1e9
      val (gcMs1, gcs1) = gc()
      GraftBridge.drainListeners(spark)
      (r, w.record(wall, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        gcMs1 - gcMs0, gcs1 - gcs0))
    } finally open.remove(w)
  }

  /** The JVM's collection time (ms) and count so far, over all collectors. */
  private def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** The counters of one open measurement. Spark delivers the two
    * listeners' events on different threads, hence the locking. */
  private final class Window {
    private val jobs = mutable.ArrayBuffer[Job]()
    private var stages, tasks, batches, rounds = 0
    private var shw, shr, spill, stateCommitMs = 0L
    private val batchMs = mutable.Map[String, Long]().withDefaultValue(0L)

    def job(e: SparkListenerJobStart): Unit = synchronized {
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      jobs += Job(e.jobId, e.stageInfos.size, site.getOrElse("?"))
    }
    def stage(): Unit = synchronized { stages += 1 }
    def round(): Unit = synchronized { rounds += 1 }
    def task(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        shw += m.shuffleWriteMetrics.bytesWritten
        shr += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
      }
    }
    def batch(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      batches += 1
      e.progress.durationMs.asScala.foreach { case (k, v) => batchMs(k) += v }
      e.progress.stateOperators.foreach(s => stateCommitMs += s.commitTimeMs)
    }
    def record(wallS: Double, compiles: Long, gcMs: Long, gcs: Long): Record = synchronized {
      Record(wallS, jobs.toList, stages, tasks, shw, shr, spill, compiles, gcMs, gcs, batches,
        batchMs.toMap, stateCommitMs, rounds)
    }
  }

  private val open = ConcurrentHashMap.newKeySet[Window]()

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = open.forEach(_.job(e))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = open.forEach(_.stage())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = open.forEach(_.task(e))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: graft.operators.Fixpoint.Round => open.forEach(_.round())
      case _ => ()
    }
  }

  private object Batches extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      open.forEach(_.batch(e))
  }

  // what has a listener already: a SparkContext's bus is shared by its
  // sessions, each session has its own stream listener bus
  private val installed = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[AnyRef, java.lang.Boolean]))

  private def install(spark: SparkSession): Unit = {
    if (installed.add(spark.sparkContext)) spark.sparkContext.addSparkListener(Jobs)
    if (installed.add(spark.streams)) spark.streams.addListener(Batches)
  }
}
