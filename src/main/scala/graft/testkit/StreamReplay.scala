package graft.testkit

import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.streaming.StreamRun

/** The bounded replay that drives a [[graft.streaming.StreamOps]]
  * operator end-to-end over a finite input as a real multi-batch stream:
  * the gate of the two stream rows whose output needs a later watermark,
  * and the unit suite's cross-batch checks. Deliberately OUTSIDE
  * `graft.streaming`: it feeds a bounded input into MemoryStreams on the
  * driver, which is harness work; the production operators never
  * materialize a stream and keep watermark-bounded state only.
  */
object StreamReplay {

  /** The row fed to every input after the data: its event time is a
    * day past `horizonSeconds` after the last event, so the watermark
    * passes every open state's horizon and its tail (closed sessions,
    * unmatched outer rows) emits. `row` builds it, in the input's
    * schema, at that time; it should carry a key no data row has, which
    * the caller filters from the result. */
  final case class Sentinel(horizonSeconds: Long, row: Timestamp => Row)

  /** Replay `inputs` through `op` as the stream `name` and return its
    * memory sink. Each input gets one MemoryStream with the input's own
    * schema, and `op` runs over those streams in input order. Each input
    * is sorted on `order` (event time first, then the operator's own
    * tie-break, so a chunk boundary reorders no tie) and split into
    * `nChunks` chunks; the chunks go in lock-step, one from every input
    * per micro-batch, so the global watermark (the minimum over inputs)
    * advances between batches and Append emits mid-stream. With the
    * watermark delay at or under the chunk span no row is ever late, so
    * the result equals the batch operator's. `sentinel`, if given, goes
    * to every input last. The state width is 8 at every scale: a
    * replay is a bounded correctness run, never a timed one.
    *
    * The feed is `toLocalIterator` over a Spark-side sort, so the
    * driver holds at most one partition of an input at a time.
    */
  def apply(spark: SparkSession, name: String, inputs: Seq[DataFrame], order: Seq[String],
            mode: String, nChunks: Int = 4, sentinel: Option[Sentinel] = None)
           (op: Seq[DataFrame] => DataFrame): DataFrame = {
    val mems = inputs.map(in => MemoryStream[Row](spark)(Encoders.row(in.schema)))
    StreamRun(spark, name, op(mems.map(_.toDF())), mode, StreamRun.Memory, Some(8)) { q =>
      val fed = inputs.map(in => chunks(in.orderBy(order.map(col): _*), nChunks))
      var lastMs = Long.MinValue
      while (fed.exists(_.hasNext)) {
        for ((mem, it) <- mems.zip(fed) if it.hasNext) {
          val c = it.next()
          lastMs = math.max(lastMs, c.map(_.getAs[Timestamp]("ts").getTime).max)
          mem.addData(c)
        }
        q.processAllAvailable()
      }
      for (Sentinel(horizon, row) <- sentinel if lastMs > Long.MinValue) {
        val at = new Timestamp(lastMs + (horizon + 86400L) * 1000L)
        mems.foreach(_.addData(Seq(row(at))))
        q.processAllAvailable()
      }
    }
  }

  /** `ordered` as `nChunks` consecutive chunks, one partition on the
    * driver at a time. */
  private def chunks(ordered: DataFrame, nChunks: Int): Iterator[Seq[Row]] = {
    val size = math.max(1L, (ordered.count() + nChunks - 1) / nChunks).toInt
    ordered.toLocalIterator().asScala.grouped(size)
  }
}
