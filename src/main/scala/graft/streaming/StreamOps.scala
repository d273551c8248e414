package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** open session being accumulated for one user (stateful sessionization).
  * `cents` carries the value sum as exact integer cents (the input is
  * pre-cast to decimal(18,2)·100): a Double running sum would depend on
  * fold order across micro-batches, while the cents sum equals the batch
  * engine's decimal SUM in any order — what makes the streaming result
  * differentially checkable against the batch oracle.
  */
case class OpenSession(start_us: Long, end_us: Long, n: Long, cents: Long)

/** per-user sessionization state: next session number + the open session.
  * Keeping the counter after a session closes preserves the batch
  * numbering contract (session_id is 1-based per user in event-time
  * order) at the cost of one tiny row per user ever seen; bound it with
  * a state TTL in a production deployment.
  */
case class SessState(nextId: Long, open: Option[OpenSession])

/** per-user streaming-EWMA state: events seen + current smoothed value. */
case class EwmaState(n: Long, y: Double)

/** per-user streaming-anomaly state: ring of the last k centi-values. */
case class AnomalyState(ring: Vector[Long])

/** [[StreamOps.cusumStream]] per-key fold state: running drift sum and
  * its running (≤ 0) minimum — two longs, the whole CUSUM memory. */
case class CusumState(p: Long, pmin: Long)

case class CusumRow(user_id: Long, event_id: Long, cusum_c: Long,
                    alarm: Boolean)

/** per-event anomaly verdict — matches Behavior.anomalies' key columns. */
case class AnomalyVerdict(user_id: Long, event_id: Long, n_prev: Long,
                          is_anomaly: Boolean)

/** running EWMA emit — matches Behavior.ewmaLast columns. */
case class EwmaRow(user_id: Long, n_events: Long, ewma: Double)

/** per-user Holt state (level, trend); n==1 means the trend is still
  * the batch-parity placeholder 0 until the second value fixes it. */
case class HoltState(n: Long, l: Double, b: Double)

/** running Holt emit — matches Behavior.holtLast columns. */
case class HoltRow(user_id: Long, n_events: Long, level: Double, trend: Double)

/** emitted closed session — matches Sessionize.sessions columns. */
case class ClosedSession(user_id: Long, session_id: Long, n_events: Long,
                         total_value: Double, start_us: Long, end_us: Long)

/** per-user attribution state: earliest and latest touch type seen so
  * far (None until the first touch). Two small strings per user ever
  * seen — first-touch attribution is definitionally unbounded-horizon,
  * so production deployments bound it with a state TTL and accept
  * "first touch within the TTL".
  */
case class AttrState(first: Option[String], last: Option[String])

/** emitted attributed conversion — matches Behavior.attribution minus
  * the timestamp (the conversion's own event carries it).
  */
case class AttributedConversion(user_id: Long, event_id: Long,
                                first_touch: Option[String],
                                last_touch: Option[String])

/** Structured Streaming surface over the events schema (SURVEY §2.13:
  * an extension — the reference has no true streaming; its "streams" are
  * chunked iterators, which Spark batch already subsumes).
  *
  * Batch/stream parity: [[tumblingAgg]] over a stream produces the same
  * rows as [[graft.operators.Sessionize.tumbling]] over the equivalent
  * batch — asserted in the unit suite via MemoryStream.
  */
object StreamOps {

  /** event-time tumbling window aggregate with a watermark: the
    * streaming analogue of Sessionize.tumbling. State is bounded by the
    * watermark (late data beyond it is dropped) — the 100 TB/day design:
    * state size ∝ windows-in-flight × distinct event_type, not input.
    */
  def tumblingAgg(events: DataFrame, widthSeconds: Long,
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$widthSeconds seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Streaming OHLC bars — the online face of
    * [[graft.operators.Behavior.resampleOhlc]], same bar semantics
    * (argmin/argmax over the total (ts, id) order via min_by/max_by,
    * exact-decimal vsum), as a watermarked tumbling-window aggregate:
    * epoch-aligned `window(ts, width)` equals the batch face's
    * date_trunc buckets, so ONE oracle serves both. State per bar is
    * O(1) (two (value, ord) pairs + three scalars).
    */
  def ohlcStream(events: DataFrame, widthSeconds: Long,
                 watermark: String = "10 minutes"): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$widthSeconds seconds"))
      .agg(min_by(col("value"), ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), ord).as("close"),
        count(lit(1)).as("volume"),
        // same centi quantization as the batch face (house rule; see
        // Behavior.resampleOhlc) so one oracle serves both bit-exactly
        (sum(floor(col("value").cast("double") * 100 + lit(0.5))
          .cast("long")).cast("double") / lit(100.0)).as("vsum"))
      .select(col("window.start").as("bucket"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("vsum"))
  }

  /** gap-based session windows (streaming native session_window). */
  def sessionAgg(events: DataFrame, gapSeconds: Long,
                 watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), s"$gapSeconds seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** gaps-and-islands sessionization with CUSTOM state —
    * `flatMapGroupsWithState` over `KeyValueGroupedDataset` (the §2.13
    * extension path for semantics `session_window` can't express, here:
    * stable per-user 1-based session numbering, matching the batch
    * [[graft.operators.Sessionize.sessions]] contract).
    *
    * Scale design: state per user is O(1) (counter + open session); a
    * session closes either when a later event arrives past the gap, or
    * when the event-time watermark passes `session_end + gap`
    * (EventTimeTimeout) — so state is bounded by ACTIVE users, not input.
    */
  def statefulSessions(spark: SparkSession, events: DataFrame, gapSeconds: Long,
                       watermark: String = "30 minutes"): Dataset[ClosedSession] = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L

    def usOf(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

    // value rides the fold as exact integer cents (decimal(18,2)·100):
    // the same decimal cast the batch Sessionize.sessions aggregate uses,
    // so the closed-session totals are bit-identical to the batch/oracle
    // result in ANY fold order — a Double running sum would not be.
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)

    typed.flatMapGroupsWithState[SessState, ClosedSession](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (user: Long, it: Iterator[(Long, java.sql.Timestamp, Long)],
       state: GroupState[SessState]) =>
        val st = state.getOption.getOrElse(SessState(1L, None))
        if (it.isEmpty) {
          // watermark passed session_end + gap: close the open session
          val out = st.open.map(o =>
            ClosedSession(user, st.nextId, o.n, o.cents / 100.0, o.start_us, o.end_us))
          state.update(SessState(st.nextId + (if (st.open.isDefined) 1 else 0), None))
          out.iterator
        } else {
          // micro-batch delivery is unordered within the batch: sort by
          // event time before folding (cross-batch order is the watermark's
          // responsibility, as for any event-time stateful operator)
          val evs = it.toArray.sortBy(e => usOf(e._2))
          var nextId = st.nextId
          var open = st.open
          val closed = Seq.newBuilder[ClosedSession]
          evs.foreach { case (_, t, cents) =>
            val us = usOf(t)
            open match {
              case Some(o) if us - o.end_us <= gapUs =>
                // a late-but-within-watermark event may precede the open
                // session's start (cross-batch reordering): extend BOTH ends
                open = Some(OpenSession(math.min(o.start_us, us),
                  math.max(o.end_us, us), o.n + 1, o.cents + cents))
              case Some(o) =>
                closed += ClosedSession(user, nextId, o.n, o.cents / 100.0, o.start_us, o.end_us)
                nextId += 1
                open = Some(OpenSession(us, us, 1L, cents))
              case None =>
                open = Some(OpenSession(us, us, 1L, cents))
            }
          }
          state.update(SessState(nextId, open))
          open.foreach(o => state.setTimeoutTimestamp(o.end_us / 1000L + gapSeconds * 1000L))
          closed.result().iterator
        }
    }
  }

  /** Streaming first/last-touch attribution: the online face of
    * [[graft.operators.Behavior.attribution]] — each arriving
    * conversion is credited to the user's earliest/latest
    * previously-seen touch event, emitted IMMEDIATELY (Append on
    * conversion arrival; no watermark wait, since attribution reads
    * only already-arrived state). Within a micro-batch, events fold in
    * (event-time, event_id) order; cross-batch order is the stream's
    * delivery contract, as for every event-time stateful operator
    * here. State = two strings per user ([[AttrState]]).
    */
  def attributionStream(spark: SparkSession, events: DataFrame,
                        conversionType: String, touchTypes: Seq[String],
                        watermark: String = "30 minutes"): Dataset[AttributedConversion] = {
    import spark.implicits._
    require(touchTypes.nonEmpty, "attributionStream: need at least one touch type")
    require(!touchTypes.contains(conversionType),
      s"attributionStream: conversion '$conversionType' cannot also be a touch type")
    val touches = touchTypes.toSet

    def usOf(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

    events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_type").cast("string"), col("event_id").cast("long"))
      .as[(Long, java.sql.Timestamp, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AttrState, AttributedConversion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, String, Long)],
         state: GroupState[AttrState]) =>
          var st = state.getOption.getOrElse(AttrState(None, None))
          val out = Seq.newBuilder[AttributedConversion]
          it.toArray.sortBy(e => (usOf(e._2), e._4)).foreach { case (_, _, typ, id) =>
            if (typ == conversionType)
              out += AttributedConversion(user, id, st.first, st.last)
            else if (touches(typ))
              st = AttrState(st.first.orElse(Some(typ)), Some(typ))
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** streaming exact dedup: drop rows whose content fingerprint was seen
    * within the watermark horizon (`dropDuplicatesWithinWatermark`, so
    * the fingerprint state is EVICTED as event time advances — bounded
    * state, unlike a global dropDuplicates). The batch analogue is
    * [[graft.operators.Dedup.exact]].
    */
  def streamingExactDedup(docs: DataFrame, tsCol: String, textCol: String = "text",
                          watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("_fp", graft.functions.TextFunctions.fingerprintMd5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** watermarked stream-stream INTERVAL join: left rows match right rows
    * with the same key whose event time lies in
    * [left.ts, left.ts + windowSeconds] — the attribution-join shape
    * (impression → clicks within N minutes). Both sides carry watermarks
    * and the time condition bounds the match window in both directions,
    * which is what lets Spark EVICT buffered rows as the watermark
    * advances: state ∝ events inside the horizon, not the stream. An
    * unbounded-condition stream-stream join would buffer both streams
    * forever — the scale failure this operator exists to avoid.
    * Join keys/timestamps are suffixed `_l`/`_r` in the output.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   windowSeconds: Long, tsCol: String = "ts",
                   watermark: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(left.columns.map(c => col(c).as(s"${c}_l")): _*)
    val r = right.withWatermark(tsCol, watermark)
      .select(right.columns.map(c => col(c).as(s"${c}_r")): _*)
    l.join(r,
      col(s"${key}_l") === col(s"${key}_r") &&
        col(s"${tsCol}_r") >= col(s"${tsCol}_l") &&
        col(s"${tsCol}_r") <= col(s"${tsCol}_l") + expr(s"INTERVAL $windowSeconds SECONDS"),
      joinType)
  }

  /** LEFT OUTER face of [[intervalJoin]]: every left row emits — matched
    * rows as they pair, UNMATCHED rows with right-side nulls once the
    * watermark passes `left.ts + windowSeconds` and Spark can prove no
    * match will arrive (the conversion-funnel "view that never
    * purchased" shape, computed ON the stream instead of by a batch
    * backfill). Same bounded-state eviction as the inner form; the only
    * extra cost is the left buffer holding rows until provably
    * unmatchable — which the time bound keeps ∝ the horizon. NOTE the
    * emit-on-watermark semantics: unmatched results for the FINAL
    * events of a bounded replay only flush when a later batch advances
    * the watermark past them (the testkit replay appends a sentinel for
    * exactly this).
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, key: String,
                            windowSeconds: Long, tsCol: String = "ts",
                            watermark: String = "10 minutes"): DataFrame =
    intervalJoin(left, right, key, windowSeconds, tsCol, watermark, "left_outer")

  /** Apply a CDC change STREAM to a base table incrementally — the
    * streaming face of [[graft.operators.Incremental.applyCdc]], via
    * `foreachBatch` (the pattern every lakehouse MERGE-from-stream
    * writer uses: each micro-batch is one transactional merge).
    *
    * Storage stays with the caller: `readBase` loads the current base,
    * `writeBase` persists the merged result — at scale that is a
    * partition-overwrite parquet/table writer, in tests a version
    * flip-flop. `seqCol` (e.g. a CDC log sequence number) compacts each
    * batch to the highest-seq image per key BEFORE merging, so a key
    * changed twice inside one micro-batch applies its latest change
    * instead of tripping the duplicate-key guard; ties on seq within a
    * key are rejected by that same guard after compaction (a CDC log
    * with non-unique sequence numbers is corrupt — fail loudly).
    */
  def applyCdcStream(changes: DataFrame, keys: Seq[String], opCol: String = "op",
                     seqCol: Option[String] = None, broadcastChanges: Boolean = true)
                    (readBase: () => DataFrame, writeBase: DataFrame => Unit) = {
    import org.apache.spark.sql.expressions.Window
    changes.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val compacted = seqCol match {
            case Some(sc) =>
              val w = Window.partitionBy(keys.map(col): _*).orderBy(col(sc).desc)
              batch
                // unique-(key,seq) check: row_number is nondeterministic
                // on seq ties, so reject them loudly before compacting
                .withColumn("_dups", count(lit(1)).over(
                  Window.partitionBy((keys.map(col) :+ col(sc)): _*)))
                .withColumn("_rn", row_number().over(w))
                .filter(when(col("_dups") > 1,
                  raise_error(lit("applyCdcStream: duplicate CDC sequence for a key")))
                  .otherwise(col("_rn") === 1))
                .drop("_rn", "_dups", sc)
            case None => batch
          }
          writeBase(graft.operators.Incremental.applyCdc(
            readBase(), compacted, keys, opCol, broadcastChanges))
        }
      }
      .start()
  }

  /** Streaming windowed DISTINCT users — the unique-visitors dashboard:
    * exact per-window audience via the supported two-stage shape
    * (streaming `count(DISTINCT)` is not — the stateful dedup on
    * (window, user) feeds a plain stateful count). Update mode emits a
    * running count per window each micro-batch; counts only grow, so
    * the final emit (select `max` downstream) is the batch answer.
    * State: one row per (window, user) in flight, watermark-bounded.
    */
  def windowedUsers(events: DataFrame, widthSeconds: Long,
                    watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .select(window(col("ts"), s"$widthSeconds seconds").as("win"), col("user_id"))
      .dropDuplicates("win", "user_id")
      .groupBy(col("win"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("win.start").as("window_start"), col("n_users"))

  /** Streaming exponential moving average — the online face of
    * [[graft.operators.Behavior.ewmaLast]]: per-user (count, ewma)
    * state folded with the SAME rational step
    * `(aNum·x + (aDen−aNum)·y)/aDen` and the same (ts, value) in-batch
    * ordering the batch operator's sort_array imposes, so a
    * chronologically-fed replay is BIT-IDENTICAL to the batch fold
    * (same IEEE op sequence). Emits the running (user_id, n_events,
    * ewma) every micro-batch the user appears in (Update mode); the
    * final emit per user is the batch answer. State = two numbers per
    * user.
    */
  def ewmaStream(spark: SparkSession, events: DataFrame,
                 aNum: Long, aDen: Long): Dataset[EwmaRow] = {
    import spark.implicits._
    require(0 < aNum && aNum <= aDen,
      s"ewmaStream: alpha must be a rational in (0, 1]: $aNum/$aDen")
    val typed = events
      .select(col("user_id").cast("long"), col("ts"),
        col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
    typed.mapGroupsWithState[EwmaState, EwmaRow](GroupStateTimeout.NoTimeout) {
      (user: Long, it: Iterator[(Long, java.sql.Timestamp, Double)],
       state: GroupState[EwmaState]) =>
        val st = state.getOption.getOrElse(EwmaState(0L, 0.0))
        // in-batch delivery is unordered: sort by (ts, value), matching
        // the batch operator's sort_array tiebreak exactly
        val evs = it.toArray.sortBy(e => (e._2.getTime, e._2.getNanos, e._3))
        var n = st.n; var y = st.y
        evs.foreach { case (_, _, x) =>
          y = if (n == 0L) x else (aNum * x + (aDen - aNum) * y) / aDen
          n += 1
        }
        state.update(EwmaState(n, y))
        EwmaRow(user, n, y)
    }
  }

  /** Streaming Holt level+trend smoothing — the online face of
    * [[graft.operators.Behavior.holtLast]]: per-user (n, level, trend)
    * state folded with the SAME rational steps and the same in-batch
    * (ts, value) ordering, so a chronologically-fed replay's final
    * emit per user is BIT-IDENTICAL to the batch fold. The second
    * value fixes the trend to `x₂ − x₁` exactly as the batch init
    * does, then feeds the same step. State = three numbers per user.
    */
  def holtStream(spark: SparkSession, events: DataFrame,
                 aNum: Long, aDen: Long, bNum: Long, bDen: Long): Dataset[HoltRow] = {
    import spark.implicits._
    require(0 < aNum && aNum <= aDen && 0 < bNum && bNum <= bDen,
      s"holtStream: alphas must be rationals in (0, 1]: $aNum/$aDen, $bNum/$bDen")
    val typed = events
      .select(col("user_id").cast("long"), col("ts"),
        col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
    typed.mapGroupsWithState[HoltState, HoltRow](GroupStateTimeout.NoTimeout) {
      (user: Long, it: Iterator[(Long, java.sql.Timestamp, Double)],
       state: GroupState[HoltState]) =>
        val st = state.getOption.getOrElse(HoltState(0L, 0.0, 0.0))
        val evs = it.toArray.sortBy(e => (e._2.getTime, e._2.getNanos, e._3))
        var n = st.n; var l = st.l; var b = st.b
        evs.foreach { case (_, _, x) =>
          if (n == 0L) { l = x; b = 0.0 }
          else {
            val b0 = if (n == 1L) x - l else b
            val l2 = (aNum * x + (aDen - aNum) * (l + b0)) / aDen
            b = (bNum * (l2 - l) + (bDen - bNum) * b0) / bDen
            l = l2
          }
          n += 1
        }
        state.update(HoltState(n, l, b))
        HoltRow(user, n, l, b)
    }
  }

  /** Streaming rolling-z-score anomaly flags — the online face of
    * [[graft.operators.Behavior.anomalies]]: per-user state is the
    * ring of the last `k` centi-values, each arriving event is judged
    * against its own trailing window with the SAME cross-multiplied
    * int64 test `(n·x − s1)² > z²·(n·s2 − s1²)` (no sqrt, no float
    * mean — the verdict is integer-exact, so a chronological replay
    * equals the batch window bit-for-bit), then pushed into the ring.
    * Emits one verdict row per event (Append). In-batch events fold in
    * (ts, event_id) order, the batch operator's window order. State =
    * at most k longs per user.
    *
    * Same in-plan magnitude contract as the batch operator
    * (|value| ≤ 100 000 units), enforced with an exception per row —
    * loud failure, never a wrapped verdict.
    */
  def anomalyStream(spark: SparkSession, events: DataFrame,
                    k: Int, z: Long, minPrev: Int = 3): Dataset[AnomalyVerdict] = {
    import spark.implicits._
    require(k >= 1 && k <= 100 && z >= 1 && minPrev >= 1,
      s"anomalyStream: need 1<=k<=100, z>=1, minPrev>=1; got k=$k z=$z minPrev=$minPrev")
    val typed = events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
      .as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
    typed.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (user: Long, it: Iterator[(Long, Long, java.sql.Timestamp, Long)],
       state: GroupState[AnomalyState]) =>
        var ring = state.getOption.map(_.ring).getOrElse(Vector.empty[Long])
        val evs = it.toArray.sortBy(e => (e._3.getTime, e._3.getNanos, e._2))
        val out = Seq.newBuilder[AnomalyVerdict]
        evs.foreach { case (_, eid, _, x) =>
          require(math.abs(x) <= 10000000L,
            s"anomalyStream: |value| exceeds the 100000-unit int64-safe domain: $x")
          val n = ring.length.toLong
          var s1 = 0L; var s2 = 0L
          ring.foreach { w => s1 += w; s2 += w * w }
          val flag = n >= minPrev &&
            (n * x - s1) * (n * x - s1) > z * z * (n * s2 - s1 * s1)
          out += AnomalyVerdict(user, eid, n, flag)
          ring = (ring :+ x).takeRight(k)
        }
        state.update(AnomalyState(ring))
        out.result().iterator
    }(anomalyStateEncoder, newProductEncoder[AnomalyVerdict])
  }

  /** [[anomalyStream]]'s state encoder, built once. Building the
    * expressions of an encoder with a collection field gives its
    * `MapObjects` a fresh lambda-variable id, so an encoder built per
    * call (as `spark.implicits._` and `Encoders.product` do, on every
    * plan) generates new class source on every query start, and Spark's
    * codegen cache, keyed by that source, compiles it again. */
  private val anomalyStateEncoder: Encoder[AnomalyState] = ExpressionEncoder[AnomalyState]()

  /** Streaming one-sided CUSUM drift detector — the online face of
    * [[graft.operators.Behavior.cusum]]: per-key state is just the
    * running drift sum `p = Σ(centi(x) − k)` and its running minimum
    * clamped at 0, so `cusum_c = p − pmin` and `alarm = cusum_c > h`
    * replay the batch window formulation EXACTLY (pure int64 — no
    * float anywhere, the tie-free `floor(x·100 + 0.5)` quantization),
    * one verdict row per event (Append). In-batch events fold in
    * (ts, event_id) order, the batch operator's window order, so a
    * chronological replay is bit-identical to the batch pass and ONE
    * oracle serves both faces. State = two longs per key — the
    * smallest state in the streaming family.
    */
  def cusumStream(spark: SparkSession, events: DataFrame,
                  kCenti: Long, hCenti: Long): Dataset[CusumRow] = {
    import spark.implicits._
    require(hCenti > 0, s"cusumStream: threshold must be positive, got $hCenti")
    val typed = events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"),
        (floor(col("value").cast("double") * 100d + 0.5d)).cast("long").as("v"))
      .as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
    typed.flatMapGroupsWithState[CusumState, CusumRow](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (user: Long, it: Iterator[(Long, Long, java.sql.Timestamp, Long)],
       state: GroupState[CusumState]) =>
        // pmin init 0 is exact: the batch form mins over least(p, 0),
        // which is ≤ 0 from the first event on
        var st = state.getOption.getOrElse(CusumState(0L, 0L))
        val evs = it.toArray.sortBy(e => (e._3.getTime, e._3.getNanos, e._2))
        val out = Seq.newBuilder[CusumRow]
        evs.foreach { case (_, eid, _, x) =>
          val p = st.p + (x - kCenti)
          val pmin = math.min(st.pmin, math.min(p, 0L))
          st = CusumState(p, pmin)
          out += CusumRow(user, eid, p - pmin, p - pmin > hCenti)
        }
        state.update(st)
        out.result().iterator
    }
  }

  // The bounded-replay harnesses that drive these operators in the gate
  // and the unit suite live in [[graft.testkit.StreamReplay]] — harness
  // code (driver-side MemoryStream feeds) is kept out of the production
  // streaming package (VERDICT r6 #4 / r7 #4).
}
