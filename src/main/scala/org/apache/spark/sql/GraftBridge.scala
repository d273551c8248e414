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

  /** Release the executor blocks behind a `localCheckpoint`ed Dataset.
    * `Dataset.unpersist` only covers CacheManager entries; a local
    * checkpoint lives as cached blocks of the `LogicalRDD`'s backing RDD,
    * so iterative operators that checkpoint per round must release the
    * superseded round through the RDD handle or executor storage grows
    * linearly with iterations. No-op for non-checkpoint plans. The caller
    * must guarantee nothing lazy still references the checkpoint — a
    * local checkpoint cannot be recomputed once its blocks are gone.
    */
  def releaseCheckpoint(df: Dataset[_]): Unit = df match {
    case d: classic.Dataset[_] => d.queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
    case _ => ()
  }

  /** Rebuild a `localCheckpoint`ed Dataset's `LogicalRDD` WITHOUT the
    * origin plan's carried `Statistics` (partitioning/ordering kept).
    *
    * Why this exists: `localCheckpoint` deliberately captures the origin
    * plan's stats so downstream joins can still static-broadcast. In an
    * ITERATIVE operator that checkpoints every round, that capture is a
    * trap: `sizeInBytes` of a join is estimated as the PRODUCT of its
    * children's, so a checkpoint-of-a-join-of-checkpoints re-captures an
    * already-multiplied size, and k (self-)joins per round exponentiate
    * it — after r rounds the carried BigInt has ~64·k^r BITS, and the
    * driver spends minutes per round inside
    * `SizeInBytesOnlyStatsPlanVisitor`'s BigInt products
    * (`BigInteger.multiplyToomCook3`; observed: round 5 of connected
    * components on a 5000-node chain took 72 s vs round 4's 2 s, all of
    * it stats estimation on the driver). Dropping the carried stats
    * resets each round's checkpoint to `defaultSizeInBytes`; static
    * broadcast planning is lost for the loop's intermediates, which
    * AQE's runtime shuffle statistics reinstate where actually
    * warranted. No-op for non-checkpoint plans.
    */
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
            "removeShuffles: spark.cleaner.referenceTracking=false — no " +
              "ContextCleaner, per-wave shuffle release unavailable; " +
              "shuffle files persist until application exit")
        }
      case None => ()
    }

  private val noCleanerWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Block until every queued listener-bus event has been delivered —
    * the fence MiniBench's per-query metric snapshots need (task-end
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

  def freshStats(df: Dataset[_]): DataFrame = df match {
    case d: classic.Dataset[_] => d.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        classic.Dataset.ofRows(d.sparkSession,
          l.copy()(d.sparkSession, None, None))
      case _ => d.toDF()
    }
  }

  /** Lazy-localCheckpoint `df`, materialize it with ONE `count()`
    * action (which is also what triggers the checkpoint), and return
    * the frame (stats-measured, see [[measuredStats]]) WITH that count
    * (r17): an iterative operator that checkpoints per round AND
    * probes emptiness for its loop condition was paying two jobs where
    * the materializing action already knew the answer. */
  def checkpointCounted(df: Dataset[_]): (DataFrame, Long) =
    checkpointCountedBy(df, _ => true)

  /** Lazy-localCheckpoint `df` and materialize it with ONE single-stage
    * job that also counts the rows where boolean column `flag` is true
    * (r18): an iterative operator whose loop condition is "did any row
    * change" was paying a separate filter+isEmpty job over blocks the
    * checkpoint action had just written. Returns the stats-measured
    * frame plus the flagged-row count (null flags count as false). */
  def checkpointFlagCounted(df: Dataset[_], flag: String): (DataFrame, Long) = {
    val idx = df.schema.fieldIndex(flag)
    checkpointCountedBy(df, r => !r.isNullAt(idx) && r.getBoolean(idx))
  }

  /** Shared body of [[checkpointCounted]] / [[checkpointFlagCounted]]:
    * materialize the lazy local checkpoint by running ONE job directly
    * over the backing RDD, summing a per-partition predicate count.
    * r18: `Dataset.count()` (the r17 materializer) compiles to a
    * two-phase aggregate whose exchange costs a second AQE stage-job
    * per call; the RDD-level fold is one single-stage job — the same
    * shape `localCheckpoint(true)`'s internal count uses — so every
    * counted checkpoint in an iterative loop saves a barrier. */
  private def checkpointCountedBy(df: Dataset[_],
      pred: catalyst.InternalRow => Boolean): (DataFrame, Long) = df match {
    case d: classic.Dataset[_] =>
      val ck = d.localCheckpoint(false)
      val n = ck.queryExecution.analyzed match {
        case l: execution.LogicalRDD =>
          l.rdd.mapPartitions { it =>
            var c = 0L
            it.foreach(r => if (pred(r)) c += 1)
            Iterator.single(c)
          }.collect().sum
        case _ => // not a LogicalRDD plan (never the case today): fall back
          ck.count()
      }
      (measuredStats(ck), n)
  }

  /** Rebuild a MATERIALIZED `localCheckpoint`ed Dataset's `LogicalRDD`
    * with `Statistics(sizeInBytes = the checkpoint's true cached block
    * bytes)` instead of the origin plan's carried estimate (r17).
    *
    * [[freshStats]] exists because carried stats EXPONENTIATE across an
    * iterative operator's join-of-checkpoint rounds; but its reset to
    * `defaultSizeInBytes` also tells Catalyst every checkpoint is huge,
    * so every map-sized intermediate of a loop pays a full two-exchange
    * sort-merge join even when it holds twelve rows. The measured size
    * has neither problem: it is read from the block manager AFTER the
    * eager checkpoint lands (a ground truth, not a product of child
    * estimates — nothing compounds), so genuinely small intermediates
    * static-broadcast and genuinely large ones keep exchange plans.
    * The deserialized block size OVERSTATES what an exchange would
    * move (~2-4× for narrow longs), which only makes broadcasting more
    * conservative — the safe direction at scale. Falls back to the
    * stats-free copy when the storage info is not yet visible. */
  def measuredStats(df: Dataset[_]): DataFrame = df match {
    case d: classic.Dataset[_] => d.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        val sc = d.sparkSession.sparkContext
        val bytes = sc.getRDDStorageInfo.find(_.id == l.rdd.id)
          .map(i => i.memSize + i.diskSize).filter(_ > 0L)
        val stats = bytes.map(b =>
          catalyst.plans.logical.Statistics(sizeInBytes = BigInt(b)))
        classic.Dataset.ofRows(d.sparkSession,
          l.copy()(d.sparkSession, stats, None))
      case _ => d.toDF()
    }
  }
}
