package graft
import org.apache.spark.sql.SparkSession

/** Isolated re-time of named Bench rows (SPARK_GRAFT_ONLY), with
  * per-query shuffle-write / shuffle-read / disk-spill totals — the
  * exchange-volume measurement VERDICT-style audits ask for ("what
  * widens this row's exchange?") without the Spark UI, and the count of
  * generated classes each row compiled (a codegen cache hit compiles
  * none, so a row that recompiles on every run shows here).
  *
  * Interleaved A/B mode (r18, VERDICT item 8): this box drifts ±25%
  * across minutes, so cross-run build comparisons eat the drift as
  * noise. Two MiniBench processes (one per build) can instead strictly
  * alternate per (rep, query) measurement through a file baton:
  *   GRAFT_MB_REPS=5                 repeat the query list 5 times
  *   GRAFT_MB_TURNFILE=/tmp/baton    shared turn file
  *   GRAFT_MB_TOKEN=A  GRAFT_MB_NEXT=B   (mirrored B/A in the other)
  * Each process waits until the baton holds its token, times one
  * query, writes the other token — so adjacent measurements of the two
  * builds land inside the same drift window and the per-query ratio is
  * drift-free. Start by writing the first token into the baton file.
  */
object MiniBench {
  private[graft] def run(spark: SparkSession, sfDir: String): Unit = {
    SparkEntry.queries("q1_agg")(spark, sfDir).count()
    val shw = new java.util.concurrent.atomic.AtomicLong
    val shr = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    // generated classes compiled (JVM-wide; a codegen cache hit adds none)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val tm = te.taskMetrics
          if (tm != null) {
            shw.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
            shr.addAndGet(tm.shuffleReadMetrics.totalBytesRead)
            spill.addAndGet(tm.diskBytesSpilled)
          }
          tasks.incrementAndGet()
        }
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
      })
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q1_agg", "sim_ivf_trained", "sim_ivf_trained"))
    val reps = sys.env.get("GRAFT_MB_REPS").map(_.toInt).getOrElse(1)
    val turnFile = sys.env.get("GRAFT_MB_TURNFILE")
      .map(java.nio.file.Paths.get(_))
    val token = sys.env.getOrElse("GRAFT_MB_TOKEN", "A")
    val nextTok = sys.env.getOrElse("GRAFT_MB_NEXT", "B")
    def takeTurn(): Unit = turnFile.foreach { p =>
      while (!(java.nio.file.Files.exists(p) && new String(
        java.nio.file.Files.readAllBytes(p)).trim == token))
        Thread.sleep(20)
    }
    def passTurn(): Unit = turnFile.foreach(p =>
      java.nio.file.Files.write(p, nextTok.getBytes))
    val tag = if (turnFile.isDefined) s" build=$token" else ""
    for (rep <- 1 to reps; n <- names) {
      spark.catalog.clearCache()
      // drain in-flight listener events so the previous query's tasks
      // don't bleed into this query's counters
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
      takeTurn()
      val (w0, r0, s0) = (shw.get, shr.get, spill.get)
      val (j0, g0, k0) = (jobs.get, stages.get, tasks.get)
      val c0 = compiles.getCount
      spark.sparkContext.setJobDescription(s"mini: $n") // guide §1.5
      val t0 = System.nanoTime()
      // clear in a finally (ADVICE r17): a throwing count() must not
      // bleed this query's description onto every later query's jobs,
      // nor keep the baton, or the partner process waits forever
      val wall =
        try {
          // a stream row runs its file-source face, as Bench times it
          SparkEntry.benchFaces.getOrElse(n, SparkEntry.queries(n))(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        } finally {
          spark.sparkContext.setJobDescription(null)
          passTurn()
        }
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
      val mb = 1024.0 * 1024
      println(f"MINI $n$tag rep=$rep $wall%.2f s  " +
        f"shw=${(shw.get - w0) / mb}%.1fMB shr=${(shr.get - r0) / mb}%.1fMB " +
        f"spill=${(spill.get - s0) / mb}%.1fMB " +
        s"jobs=${jobs.get - j0} stages=${stages.get - g0} tasks=${tasks.get - k0} " +
        s"compiles=${compiles.getCount - c0}")
    }
  }
}
