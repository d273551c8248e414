package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off profiling probe for the PPJoin candidate/verify stages —
  * quantifies, at a given SF, what each stage costs and how many
  * candidates each filter admits, so optimization decisions are
  * measured rather than guessed (VERDICT r12 next-round #1).
  */
object PpjoinProbe {
  private[graft] def run(spark: SparkSession, sfDir: String): Unit = {
    // per-stage exchange volume (the MiniBench listener, VERDICT r16
    // #3): each timed stage prints its OWN shuffle write/read + spill
    // deltas, so the candidate-generation vs verify cost split is a
    // measurement, not an inference from wall time
    val shw = new java.util.concurrent.atomic.AtomicLong
    val shr = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
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
        }
      })
    def timed[A](name: String)(f: => A): A = {
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
      val (w0, r0, s0) = (shw.get, shr.get, spill.get)
      val t0 = System.nanoTime(); val r = f
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
      val mb = 1024.0 * 1024
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s  " +
        f"shw=${(shw.get - w0) / mb}%.1fMB shr=${(shr.get - r0) / mb}%.1fMB " +
        f"spill=${(spill.get - s0) / mb}%.1fMB")
      r
    }
    val docs = Tables(spark, sfDir, "documents")
    val (tNum, tDen) = (1L, 2L)
    val (sh, prefix) = graft.operators.Dedup
      .ppjoinShingleAndPrefix(docs, 2, tNum, tDen, "text", "doc_id")
    timed("sh count")(println("[probe] sh rows: " + sh.count()))
    timed("prefix count")(println("[probe] prefix rows: " + prefix.count()))
    val idxLen = col("_sz") -
      floor((lit(2 * tNum) * col("_sz") + lit(tNum + tDen - 1)) /
        lit(tNum + tDen)).cast("long") + 1
    timed("idx-prefix count")(
      println("[probe] idx prefix rows: " + prefix.filter(col("_rn") <= idxLen).count()))
    // OLD candidate shape: symmetric probe×probe with id ordering
    val (szA, szB) = (col("a._sz"), col("b._sz"))
    val alphaNum = lit(tNum) * (szA + szB)
    val ubound = lit(1) + least(szA - col("a._rn"), szB - col("b._rn"))
    val oldCand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          greatest(szA, szB) * tNum <= least(szA, szB) * tDen &&
          ubound * lit(tNum + tDen) >= alphaNum)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    timed("OLD pre-distinct")(println("[probe] old pre-distinct: " + oldCand.count()))
    timed("OLD distinct")(println("[probe] old distinct: " + oldCand.distinct().count()))
    // NEW candidate shape (as shipped since r17: index-prefix
    // asymmetry + length/positional filters + pigeonhole sketch
    // prune, ALL in the join condition before the distinct)
    val newCand = graft.operators.Dedup.ppjoinCandidates(prefix, tNum, tDen, "doc_id")
    timed("NEW distinct (sketch in-join)")(
      println("[probe] new distinct: " + newCand.count()))
    timed("NEW verify")(println("[probe] new verify pairs: " +
      graft.operators.Dedup.ppjoinVerify(newCand, sh, tNum, tDen, "doc_id").count()))
  }
}
