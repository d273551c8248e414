package graft
import org.apache.spark.sql.SparkSession

/** Isolated re-time of named Bench rows (SPARK_GRAFT_ONLY), each run
  * as Bench runs it (the [[Rows]] step, timed: a stream row's bench
  * face, a scale face past its threshold), with each row's
  * [[RunStats]] record: shuffle-write / shuffle-read / disk-spill
  * totals (what widens this row's exchange?), jobs, stages, tasks, the
  * generated classes it compiled (a row that recompiles on every run
  * shows here) and, for a stream row, its micro-batches and their
  * phases.
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
    Rows.run(spark, sfDir, "warmup", "q1_agg")(_.count())
    val names = Rows.select(
      Rows.only.orElse(Some(Seq("q1_agg", "sim_ivf_trained", "sim_ivf_trained"))))
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
      takeTurn()
      // pass the baton in a finally (ADVICE r17): a fatal error must not
      // keep it, or the partner process waits forever
      val r = try Rows.run(spark, sfDir, "mini", n, timed = true)(_.count()) finally passTurn()
      println(s"MINI $n$tag rep=$rep ${r.record.columns}")
    }
  }
}
