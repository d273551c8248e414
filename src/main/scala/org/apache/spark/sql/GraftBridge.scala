package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` helpers: Column <-> catalyst Expression.
  * Spark 4 hides the classic Column(expr) constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`; extension libraries
  * conventionally expose it via a small shim in this package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The ids of the RDDs behind the `LogicalRDD` leaves (checkpoints,
    * frames over an RDD) that `df`'s analyzed plan reads, subqueries
    * included. */
  def logicalRddIds(df: Dataset[_]): Set[Int] = df match {
    case d: classic.Dataset[_] => d.queryExecution.analyzed.collectWithSubqueries {
      case l: execution.LogicalRDD => l.rdd.id
    }.toSet
    case _ => Set.empty
  }

  /** Post `event` on the session's listener bus. */
  def post(spark: SparkSession, event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    spark.sparkContext.listenerBus.post(event)

  /** Shuffle ids currently registered with the driver's map-output
    * tracker. Pair with [[removeShuffles]]: snapshot before a job,
    * snapshot after it completes, and the delta is exactly the shuffle
    * state that job registered (provided no concurrent jobs ran in the
    * session — the sequential-waves contract of the callers). */
  def activeShuffleIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.env.mapOutputTracker match {
      case m: org.apache.spark.MapOutputTrackerMaster =>
        m.shuffleStatuses.keySet.toSet
      case _ => Set.empty
    }

  /** Eagerly release the shuffle files behind `ids` — map statuses,
    * executor shuffle blocks, ESS state — via the ContextCleaner's own
    * cleanup path, but synchronously instead of waiting for the
    * owning `ShuffleDependency` to be GC'd. This is what makes a
    * "peak disk is bounded by one wave" claim a guarantee rather than
    * a `System.gc()` nudge: by the time the call returns, the blocks
    * are gone. Only call on shuffles whose consuming job has
    * COMPLETED and landed its output (a later recomputation would
    * re-run the producing stages from scratch). Idempotent per id; a
    * later GC-driven cleanup of the same id is a no-op. When
    * reference tracking is disabled (`spark.cleaner.referenceTracking
    * =false`) there is no ContextCleaner to route through and NO
    * per-wave release path exists at all (a `System.gc()` would be a
    * placebo — nothing listens for collected references without the
    * cleaner); shuffle files then live until application exit, so
    * this logs a warning once and returns. */
  def removeShuffles(spark: SparkSession, ids: Iterable[Int]): Unit =
    spark.sparkContext.cleaner match {
      case Some(c) => ids.foreach(id => c.doCleanupShuffle(id, blocking = true))
      case None if ids.nonEmpty =>
        if (noCleanerWarned.compareAndSet(false, true)) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "removeShuffles: spark.cleaner.referenceTracking=false - no " +
              "ContextCleaner, per-wave shuffle release unavailable; " +
              "shuffle files persist until application exit")
        }
      case None => ()
    }

  private val noCleanerWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Block until every queued listener-bus event has been delivered —
    * the fence [[graft.RunStats]]' measurement windows need (task-end
    * events are posted asynchronously, so without a drain a query's
    * tail metrics land in the NEXT query's window). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A DataFrame over a copy of an already resolved relation with fresh
    * attribute ids, built straight from the plan: no path listing, no
    * schema inference. Fresh ids keep two copies in one plan distinct,
    * as two separate reads would be. */
  def freshInstance(spark: classic.SparkSession,
      relation: catalyst.analysis.MultiInstanceRelation): DataFrame =
    classic.Dataset.ofRows(spark, relation.newInstance())

  /** Lazy-localCheckpoint `df` and materialize it with ONE single-stage
    * job over the backing RDD that also counts its rows, or, given a
    * boolean column `flag`, the rows where it is true (null counts as
    * false). Returns the stats-measured frame ([[measuredStats]]) and
    * that count: an iterative operator whose loop condition is "how
    * many rows" or "did any row change" then pays no probe job over
    * blocks the checkpoint job has just written (r17/r18). The
    * RDD-level fold is one stage where `Dataset.count()`'s two-phase
    * aggregate costs a second AQE stage-job. */
  def checkpointCounted(df: Dataset[_], flag: Option[String]): (DataFrame, Long) = df match {
    case d: classic.Dataset[_] =>
      val idx = flag.map(d.schema.fieldIndex)
      val l = d.localCheckpoint(false).queryExecution.analyzed.asInstanceOf[execution.LogicalRDD]
      val n = l.rdd.mapPartitions { it =>
        var c = 0L
        it.foreach(r => if (idx.forall(i => !r.isNullAt(i) && r.getBoolean(i))) c += 1)
        Iterator.single(c)
      }.collect().sum
      (measuredStats(d.sparkSession, l), n)
  }

  /** Rebuild a MATERIALIZED local checkpoint's `LogicalRDD`
    * with `Statistics(sizeInBytes = the checkpoint's true cached block
    * bytes)` instead of the origin plan's carried estimate (r17).
    *
    * The origin plan's estimate is a trap in an iterative operator that
    * checkpoints every round: a join's `sizeInBytes` is the PRODUCT of
    * its children's, so k self-joins per round exponentiate the carried
    * BigInt (~64·k^r bits after r rounds; round 5 of connected
    * components on a 5000-node chain once took 72 s in driver-side
    * stats estimation). A reset to `defaultSizeInBytes` stops that but
    * tells Catalyst every checkpoint is huge, so a twelve-row
    * intermediate pays a two-exchange sort-merge join. The measured size
    * has neither problem: it is read from the block manager AFTER the
    * eager checkpoint lands (a ground truth, not a product of child
    * estimates — nothing compounds), so genuinely small intermediates
    * static-broadcast and genuinely large ones keep exchange plans.
    * The deserialized block size OVERSTATES what an exchange would
    * move (~2-4× for narrow longs), which only makes broadcasting more
    * conservative — the safe direction at scale. Falls back to the
    * stats-free copy when the storage info is not yet visible. The
    * checkpoint's constraints (its origin plan's, e.g. `isnotnull(src)`
    * over a filtered frame) are kept, so Catalyst adds no not-null
    * filter above its reads. */
  private def measuredStats(spark: classic.SparkSession, l: execution.LogicalRDD): DataFrame = {
    val bytes = spark.sparkContext.getRDDStorageInfo.find(_.id == l.rdd.id)
      .map(i => i.memSize + i.diskSize).filter(_ > 0L)
    val stats = bytes.map(b => catalyst.plans.logical.Statistics(sizeInBytes = BigInt(b)))
    classic.Dataset.ofRows(spark, l.copy()(spark, stats, Some(l.constraints)))
  }
}
