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

    // CHUNKED-mode breakdown (GRAFT_PPJOIN_PROBE=chunked, VERDICT r16
    // #3): the sf10-survivable shape — split each wave's candidate
    // generation (prefix join + positional/length filters + narrow
    // distinct + sketch prune, landed to parquet so the split is a
    // real barrier) from its array verify, with per-stage exchange
    // volumes. Answers "is the top row's cost candidate enumeration
    // or verify I/O?" at the scale where it matters.
    val probeMode = sys.env.getOrElse("GRAFT_PPJOIN_PROBE", "")
    if (probeMode == "chunked" || probeMode == "chunkedold") {
      // "chunked" = the shipped r17 shape (sketch prune IN the
      // candidate join condition, off sketches staged on the prefix
      // rows); "chunkedold" = the r16 shape (post-distinct prune
      // against a separately staged sketch table) — run both at sf10
      // and the delta is the measured value of moving the prune
      // before the distinct exchange.
      val old = probeMode == "chunkedold"
      val passes = sys.env.get("GRAFT_PPJOIN_PASSES").map(_.toInt).getOrElse(4)
      Scratch.using(spark, "graft-ppjoin-probe") { staging =>
        import graft.operators.Dedup
        timed("stage sh+prefix(+sketch)") {
          val (sh0, prefix0) = Dedup
            .ppjoinShingleAndPrefix(docs, 2, tNum, tDen, "text", "doc_id")
          sh0.write.mode("overwrite").parquet(s"$staging/sh")
          prefix0.write.mode("overwrite").parquet(s"$staging/prefix")
          if (old)
            Dedup.ppjoinSketch(spark.read.parquet(s"$staging/sh"), "doc_id")
              .write.mode("overwrite").parquet(s"$staging/sk")
        }
        val sh = spark.read.parquet(s"$staging/sh")
        val prefix = spark.read.parquet(s"$staging/prefix")
        var candTotal = 0L
        var pairTotal = 0L
        (0 until passes).foreach { p =>
          val before = org.apache.spark.sql.GraftBridge.activeShuffleIds(spark)
          val wave = prefix.filter(pmod(col("h"), lit(passes.toLong)) === p)
          val stageName =
            if (old) s"wave $p CANDIDATES (old: distinct then sketch joins)"
            else s"wave $p CANDIDATES (new: sketch in-join, distinct)"
          timed(stageName) {
            val cand =
              if (old) Dedup.ppjoinSketchPrune(
                oldShapeCandidates(wave, tNum, tDen),
                spark.read.parquet(s"$staging/sk"), tNum, tDen)
              else Dedup.ppjoinCandidates(wave, tNum, tDen, "doc_id")
            cand.write.mode("overwrite").parquet(s"$staging/cand/pass=$p")
          }
          val cand = spark.read.parquet(s"$staging/cand/pass=$p")
            .select(col("id_a"), col("id_b"))
          candTotal += cand.count()
          timed(s"wave $p VERIFY (array intersect over candidates)") {
            Dedup.ppjoinVerify(cand, sh, tNum, tDen, "doc_id")
              .write.mode("overwrite").parquet(s"$staging/out/pass=$p")
          }
          val created =
            org.apache.spark.sql.GraftBridge.activeShuffleIds(spark) -- before
          org.apache.spark.sql.GraftBridge.removeShuffles(spark, created)
        }
        pairTotal = spark.read.parquet(s"$staging/out")
          .select(col("id_a"), col("id_b")).dropDuplicates("id_a", "id_b")
          .count()
        println(s"[probe] sketch-surviving candidates: $candTotal, " +
          s"verified pairs: $pairTotal")
      }
      return
    }

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

  /** The r16 candidate join (no in-join sketch): the A-side of the
    * chunkedold/chunked comparison — kept verbatim so the prune-
    * placement delta is measured against the exact previous shape. */
  private def oldShapeCandidates(prefix: org.apache.spark.sql.DataFrame,
                                 tNum: Long, tDen: Long): org.apache.spark.sql.DataFrame = {
    val idxLen = col("_sz") -
      floor((lit(2 * tNum) * col("_sz") + lit(tNum + tDen - 1)) /
        lit(tNum + tDen)).cast("long") + 1
    val idx = prefix.filter(col("_rn") <= idxLen)
    val (szA, szB) = (col("a._sz"), col("b._sz"))
    val alphaNum = lit(tNum) * (szA + szB)
    val ubound = lit(1) + least(szA - col("a._rn"), szB - col("b._rn"))
    idx.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") &&
          (szA < szB ||
            (szA === szB && col("a.doc_id") < col("b.doc_id"))) &&
          szB * tNum <= szA * tDen &&
          ubound * lit(tNum + tDen) >= alphaNum)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .distinct()
  }
}
