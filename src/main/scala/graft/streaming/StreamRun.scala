package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Scratch

/** The one way the program starts a stream and runs it to the end of a
  * bounded input: the gate rows, the bench faces, the bounded replays of
  * [[graft.testkit.StreamReplay]] and Bench's stream warm-up all call
  * [[apply]].
  */
object StreamRun {

  /** Where a run's output goes. */
  sealed trait Sink

  /** The driver's memory sink, read back as the table named after the
    * run. Every output row lands on the driver, so it suits small
    * outputs and bounded replays only. */
  case object Memory extends Sink

  /** Parquet under a fresh [[graft.Scratch.landing]] dir, the deployment
    * shape (readStream, transform, writeStream to files) and the one a
    * bench face times: an event-sized output never reaches the driver
    * (the memory sink died on maxResultSize at ~600 M events at sf100).
    * Append goes through the native file sink (exactly-once through the
    * sink's `_spark_metadata` log); update and complete, which the file
    * sink does not take, land each micro-batch with `foreachBatch` under
    * the memory sink's own semantics (update appends the batch's emitted
    * rows, complete overwrites). A run that lands no row fails: a sink
    * mis-wiring must never read as a fast green face. */
  case object Landed extends Sink

  /** Start `streaming` as the query `name` into `sink`, run `drive` on
    * it, stop it and return what the sink holds.
    *
    * `stateParts` overrides `spark.sql.shuffle.partitions` for the
    * query's lifetime and restores it after: every stateful operator
    * commits one state-store instance per shuffle partition per
    * micro-batch, so the width is a fixed per-batch cost that should
    * follow the data. The partitioning is frozen into the checkpoint at
    * first start.
    *
    * The checkpoint is an explicit [[graft.Scratch]] dir, reclaimed
    * whether or not the query fails: Spark deletes its implicit
    * temporary checkpoint only when a query stops without error. */
  def apply(spark: SparkSession, name: String, streaming: DataFrame, mode: String,
            sink: Sink, stateParts: Option[Int] = None)
           (drive: StreamingQuery => Unit = _.processAllAvailable()): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    stateParts.foreach(n => spark.conf.set(key, n.toString))
    val out = if (sink == Landed) Scratch.landing(spark, s"stream_face|$name") else ""
    try Scratch.using(spark, s"graft-ckpt-$name") { ckpt =>
      val w = streaming.writeStream.queryName(name).outputMode(mode)
        .option("checkpointLocation", ckpt)
      val q = (sink, mode) match {
        case (Memory, _) => w.format("memory").start()
        case (Landed, "append") => w.format("parquet").option("path", out).start()
        case (Landed, _) =>
          val save = if (mode == "complete") "overwrite" else "append"
          w.foreachBatch { (batch: Dataset[Row], _: Long) =>
            batch.write.mode(save).parquet(out)
          }.start()
      }
      try drive(q) finally q.stop()
    } finally spark.conf.set(key, prev)
    sink match {
      case Memory => spark.table(name)
      case Landed =>
        // counted from the parquet footers: no Spark job inside a timed face
        val landed = footerRowCount(spark, out)
        System.err.println(s"[face] $name landed rows: $landed")
        if (landed == 0) throw new IllegalStateException(s"stream $name landed no rows")
        // both sink paths write the streaming frame's schema verbatim, so
        // the read back infers none
        spark.read.schema(streaming.schema).parquet(out)
    }
  }

  /** Sum of the row counts in the parquet footers under `dir`: no Spark
    * job, no data page read. */
  private def footerRowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(conf).listFiles(p, false)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }
}
