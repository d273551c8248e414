package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Where does a stream bench face's ~1-2 s actually go? (r18, VERDICT
  * item 2: the ~25 s stream pool is the biggest untouched cost, and the
  * r17 floor probe only said "0.9 s is machinery" without attributing
  * it.) This probe runs the EXACT parquet-sink face shape
  * ([[PipelineEntry]]'s runStreamToTable, replicated here because it is
  * private) for a stateless floor plus representative stateful faces,
  * and prints the engine's own per-batch attribution
  * (`StreamingQueryProgress.durationMs`: triggerExecution /
  * queryPlanning / getBatch / latestOffset / walCommit / commitOffsets
  * / addBatch, plus state-store commit times) next to wall-clock
  * sub-phases (build → start → processAllAvailable → stop → landed
  * re-read). Config A/B without recompiling:
  *   GRAFT_SP_CONF="spark.x=1;spark.y=2"   applied to the session first.
  */
object StreamSinkProbe {
  private[graft] def run(spark: SparkSession, sfDir: String): Unit = {
    sys.env.get("GRAFT_SP_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        System.err.println(s"[sp] conf $k=$v")
        spark.conf.set(k.trim, v.trim)
      })

    def face(name: String, streaming: DataFrame, mode: String): Unit = {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, sys.env.getOrElse("GRAFT_SP_PARTS", "8"))
      val out = Scratch.dir(spark, s"sp-out-$name")
      val ckpt = Scratch.dir(spark, s"sp-ckpt-$name")
      val t0 = System.nanoTime()
      def ms = (System.nanoTime() - t0) / 1e6
      try {
        val w = streaming.writeStream.queryName(name)
          .option("checkpointLocation", ckpt)
        val q = mode match {
          case "append" =>
            w.format("parquet").option("path", out).outputMode(mode).start()
          case "complete" =>
            w.outputMode(mode).foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
                batch.write.mode("overwrite").parquet(out)
            }.start()
          case _ =>
            w.outputMode(mode).foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
                batch.write.mode("append").parquet(out)
            }.start()
        }
        val tStart = ms
        try q.processAllAvailable() finally {
          val tProc = ms
          val progress = q.recentProgress
          q.stop()
          val tStop = ms
          val landed = spark.read.parquet(out).count()
          val tRead = ms
          println(f"[sp] $name%-22s start=${tStart / 1000}%.2fs " +
            f"process=${(tProc - tStart) / 1000}%.2fs stop=${(tStop - tProc) / 1000}%.2fs " +
            f"read=${(tRead - tStop) / 1000}%.2fs total=${tRead / 1000}%.2fs landed=$landed")
          progress.zipWithIndex.foreach { case (p, i) =>
            val d = p.durationMs
            println(s"[sp]   batch${p.batchId}($i) rows=${p.numInputRows} " +
              s"durationMs={${d.entrySet().toArray.map(_.toString).sorted.mkString(", ")}} " +
              s"state=[${p.stateOperators.map(so =>
                s"rows=${so.numRowsTotal} commitMs=${so.commitTimeMs}").mkString("; ")}]")
          }
        }
      } finally {
        spark.conf.set(key, prev)
        Scratch.reclaim(ckpt)
        Scratch.reclaim(out)
      }
    }

    import graft.streaming.StreamOps
    def ev(cols: String*) =
      PipelineEntry.eventsStream(spark, sfDir).select(cols.map(col): _*)

    val reps = sys.env.get("GRAFT_SP_REPS").map(_.toInt).getOrElse(2)
    for (r <- 1 to reps) {
      System.err.println(s"[sp] === rep $r ===")
      face("floor_append", ev("user_id", "ts", "value"), "append")
      face("ewma_update",
        StreamOps.ewmaStream(spark, ev("user_id", "ts", "value"), 1L, 5L).toDF(),
        "update")
      face("anomaly_append",
        StreamOps.anomalyStream(spark,
          ev("user_id", "event_id", "ts", "value"), k = 5, z = 3L).toDF(),
        "append")
      face("sessions_append",
        StreamOps.statefulSessions(spark, ev("user_id", "ts", "value"),
          gapSeconds = 1800L, watermark = "1 second").toDF(),
        "append")
      face("tumbling_complete",
        StreamOps.tumblingAgg(PipelineEntry.eventsStream(spark, sfDir),
          widthSeconds = 300L),
        "complete")
      face("interval_join", {
        def src() = PipelineEntry.eventsStream(spark, sfDir)
        StreamOps.intervalJoin(
          src().filter(col("event_type") === "view")
            .select(col("event_id"), col("user_id"), col("ts")),
          src().filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          "user_id", windowSeconds = 600L)
          .select(col("event_id_l"), col("event_id_r"))
      }, "append")
    }
  }
}
