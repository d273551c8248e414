package graft.operators

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}

/** The one driver loop behind every iterative operator that checkpoints
  * its round state. It owns three rules; no operator restates them.
  *
  * '''Materialize with one counted checkpoint.''' [[checkpoint]]
  * truncates the lineage with a local checkpoint that ONE single-stage
  * job materializes; that job also returns the row count (or the count
  * of rows whose flag is true), which is what a loop's stop test
  * reads, so no round pays a separate probe job. The checkpoint
  * carries its measured block size as its statistics
  * (`GraftBridge.measuredStats`): the origin plan's estimate would
  * compound across rounds of joins over checkpoints. A production
  * cluster job would write a fault-tolerant `.checkpoint()` against a
  * DFS dir here instead; a local checkpoint cannot be recomputed once
  * its blocks are gone.
  *
  * '''Release by reachability.''' After each [[round]], every
  * checkpoint this loop made that no live frame's analyzed plan reads
  * is released. The live frames are what the round's body hands back
  * (the state the next round reads, lazy frames over earlier
  * checkpoints included); on a normal exit they are the result's
  * frames, and on a throw there are none, so a failed loop leaves
  * nothing behind. A checkpoint a lazy plan still reads is never
  * released.
  *
  * '''Stop and observe.''' The jobs of round n run under the call site
  * `<op> round <n>`; each round writes one DEBUG line
  * `[<op>] round <n> ...` on the logger `graft.operators.Fixpoint`
  * (op, round, rows, ms, and the bytes the loop still holds) and posts one [[Fixpoint.Round]] event, which
  * [[graft.RunStats]] counts. A loop that must converge throws from
  * inside its [[Fixpoint.run]] scope when it reaches its cap, so its
  * checkpoints are released too.
  */
final class Fixpoint private (op: String, spark: SparkSession) {
  private var made = Set.empty[Int]
  private var n = 0
  private var rows = 0L

  /** Rounds run so far. */
  def rounds: Int = n

  /** Checkpoint `df` with one job; returns the checkpoint and its row
    * count, or with `flag` the count of rows whose boolean column `flag`
    * is true. */
  def checkpoint(df: DataFrame, flag: Option[String] = None): (DataFrame, Long) = {
    val (ck, count) = GraftBridge.checkpointCounted(df, flag)
    made ++= GraftBridge.logicalRddIds(ck)
    rows = count
    (ck, count)
  }

  /** Run one round. `body` returns the frames live after it; every
    * checkpoint of this loop that none of them reads is released. */
  def round(body: => Seq[Dataset[_]]): Unit = {
    n += 1
    rows = 0L
    val sc = spark.sparkContext
    val site = sc.getLocalProperty(Fixpoint.Site)
    val t0 = System.nanoTime()
    sc.setCallSite(s"$op round $n")
    val live = try body finally sc.setLocalProperty(Fixpoint.Site, site)
    val ms = (System.nanoTime() - t0) / 1000000L
    release(live)
    if (Fixpoint.log.isDebugEnabled) {
      val stored = sc.getRDDStorageInfo.filter(i => made(i.id))
        .map(i => i.memSize + i.diskSize).sum
      Fixpoint.log.debug(s"[$op] round $n rows=$rows ms=$ms stored=${stored}B")
    }
    GraftBridge.post(spark, Fixpoint.Round(op, n, rows, ms))
  }

  private def release(live: Seq[Dataset[_]]): Unit = {
    val dead = made -- live.flatMap(GraftBridge.logicalRddIds)
    dead.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = false)))
    made --= dead
  }
}

object Fixpoint {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Fixpoint")
  private val Site = "callSite.short"

  /** Posted on the listener bus once per round. */
  final case class Round(op: String, round: Int, rows: Long, ms: Long) extends SparkListenerEvent

  /** Run the loop `body` under op name `op`. On return, the frames
    * `live(result)` keep their checkpoints and every other checkpoint
    * the loop made is released; on a throw, all of them are. */
  def run[A](op: String, spark: SparkSession)(body: Fixpoint => A)(live: A => Seq[Dataset[_]]): A = {
    val fx = new Fixpoint(op, spark)
    var keep: Seq[Dataset[_]] = Nil
    try {
      val a = body(fx)
      keep = live(a)
      a
    } finally fx.release(keep)
  }
}
