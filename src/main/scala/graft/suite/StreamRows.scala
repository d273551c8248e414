package graft
package suite

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.operators.Bloom
import graft.streaming.{StreamOps, StreamRun}
import graft.testkit.StreamReplay
import Shared._

/** The stream rows: stateful, windowed and joined structured streams
  * over `events` and `documents`, and the streamed Bloom filter. */
object StreamRows {
  // =====================================================================
  // Stream rows
  //
  // Each stream_* row is one operator over file-source streams of one
  // fixture table, written once in `ops`. Its bench face runs it
  // through a real executor-parallel stream into landed parquet at a
  // data-sized state width: the form a capacity plan needs and the one
  // Bench and perfbench time. Its gate is that face plus only the final
  // reduction its oracle reads (a sort, a limit, a per-key max or a
  // projection): bounded input and event-time semantics make the batch
  // SQL over the same parquet an exact oracle, so the timed form is the
  // checked form. Two rows differ: a session or an unmatched outer row
  // emits only when a LATER watermark passes it, and a one-batch
  // file-source run has none, so their gates replay the batch table in
  // event-time chunks through the same operator and feed a far-future
  // sentinel last (their `tail`).
  // =====================================================================

  /** One stream row: its `name`; its fixture `table`; `inputs`, the
    * projections that make each operator input from its own stream of
    * the table; `op` over those inputs; its output `mode`; `reduce`, the
    * gate's final reduction; `oracle`, the batch SQL the gate equals;
    * `order`, the replay's chunk order (event time, then the operator's
    * own tie-break); `tail`, the sentinel of a row whose gate replays;
    * `mbPerPart`, the source megabytes per state partition
    * ([[Shared.streamStateParts]]). */
  private[graft] final case class StreamRow(name: String, table: String, mode: String,
      op: (SparkSession, Seq[DataFrame]) => DataFrame,
      reduce: DataFrame => DataFrame,
      oracle: String,
      inputs: Seq[DataFrame => DataFrame] = Seq(identity),
      order: Seq[String] = Seq("ts", "event_id"),
      tail: Option[StreamReplay.Sentinel] = None,
      mbPerPart: Long = 32L) {

    /** The bench face: the operator over one file-source stream of the
      * table per input, landed as parquet at the data-sized state width. */
    def face(s: SparkSession, dir: String): DataFrame =
      StreamRun(s, "bf_" + name.stripPrefix("stream_"),
        op(s, inputs.map(_(Tables.stream(s, dir, table)))), mode,
        StreamRun.Landed, Some(streamStateParts(s, dir, table, mbPerPart)))()

    /** The gate: the face and its final reduction, or, for a row with a
      * tail, the operator replayed over the batch table. */
    def gate(s: SparkSession, dir: String): DataFrame =
      reduce(tail.fold(face(s, dir)) { sentinel =>
        StreamReplay(s, s"${name}_sink", inputs.map(_(t(s, dir, table))), order,
          mode, sentinel = Some(sentinel))(op(s, _))
      })

    def row: RowDef = RowDef(name, gate, oracle, bench = Some(face _))
  }

  private val views: DataFrame => DataFrame = _.filter(col("event_type") === "view")
    .select(col("event_id"), col("user_id"), col("ts"))
  private val purchases: DataFrame => DataFrame = _.filter(col("event_type") === "purchase")
    .select(col("event_id"), col("user_id"), col("ts"))
  private val userValues: DataFrame => DataFrame =
    _.select(col("user_id"), col("ts"), col("value"))
  private val eventValues: DataFrame => DataFrame =
    _.select(col("user_id"), col("event_id"), col("ts"), col("value"))

  private[graft] val ops: Seq[StreamRow] = Seq(
    // custom-state sessionization (flatMapGroupsWithState): Append
    // emits a session once the watermark passes its end + gap; oracle =
    // the same batch sessionization SQL as ev_sessions (totals exact
    // via integer-cents state)
    StreamRow("stream_sessions", "events", "append",
      (s, in) => StreamOps.statefulSessions(s, in.head, gapSeconds = 1800L,
        watermark = "1 second").toDF(),
      _.filter(col("user_id") =!= Long.MinValue)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("total_value"), col("start_us"), col("end_us"))
        .orderBy("user_id", "session_id"),
      inputs = Seq(userValues), order = Seq("ts"),
      tail = Some(StreamReplay.Sentinel(1800L, ts => Row(Long.MinValue, ts, 0.0))),
      oracle =
        // the stream closes every session (sentinel-advanced watermark), so
        // the batch sessionization IS the exact oracle. The stateful fold
        // orders same-µs events arbitrarily where the batch window orders by
        // (us, event_id) — gap assignment and all aggregates are
        // tie-order-insensitive, so the results coincide.
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
          |g AS (SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
          |       OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
          |       THEN 1 ELSE 0 END AS new_session FROM e),
          |s AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM g)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
          |  MIN(us) AS start_us, MAX(us) AS end_us
          |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    // LEFT OUTER interval join: views that never converted within 10 min
    // emit with null purchase ids once the watermark proves no match can
    // arrive; oracle = the batch LEFT JOIN
    StreamRow("stream_interval_left", "events", "append",
      (_, in) => StreamOps.intervalJoinLeftOuter(in(0), in(1), "user_id",
        windowSeconds = 600L, watermark = "1 second"),
      _.filter(col("user_id_l") =!= Long.MinValue)
        .select(col("event_id_l"), col("event_id_r"))
        .orderBy("event_id_l", "event_id_r"),
      inputs = Seq(views, purchases),
      tail = Some(StreamReplay.Sentinel(600L, ts => Row(Long.MinValue, Long.MinValue, ts))),
      oracle =
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
          |v AS (SELECT * FROM e WHERE event_type = 'view'),
          |p AS (SELECT * FROM e WHERE event_type = 'purchase')
          |SELECT v.event_id AS event_id_l, p.event_id AS event_id_r
          |FROM v LEFT JOIN p ON v.user_id = p.user_id
          |  AND p.us >= v.us AND p.us <= v.us + 600000000
          |ORDER BY event_id_l, event_id_r""".stripMargin),
    // CUSUM drift detector: two longs of state per user, the same
    // pure-int64 arithmetic as the batch ev_cusum window formulation
    StreamRow("stream_cusum", "events", "append",
      (s, in) => StreamOps.cusumStream(s, in.head, kCenti = 5000L, hCenti = 20000L).toDF(),
      _.orderBy("user_id", "event_id"), inputs = Seq(eventValues),
      oracle =
        // the streaming CUSUM's chronological replay equals the batch
        // window formulation bit-for-bit — same formula as ev_cusum,
        // projected to the stream's columns and total order
        """WITH s AS (SELECT event_id, user_id, ts,
          |    SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) - 5000)
          |      OVER w AS p
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |m AS (SELECT event_id, user_id, p,
          |    MIN(LEAST(p, 0)) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmin
          |  FROM s)
          |SELECT user_id, event_id, CAST(p - pmin AS BIGINT) AS cusum_c,
          |  p - pmin > 20000 AS alarm
          |FROM m ORDER BY user_id, event_id""".stripMargin),
    // anomaly flags: ring of the last k centi-values per user, the same
    // cross-multiplied int64 verdict as the batch ev_anomaly
    StreamRow("stream_anomaly", "events", "append",
      (s, in) => StreamOps.anomalyStream(s, in.head, k = 5, z = 3L).toDF(),
      _.orderBy("user_id", "event_id"), inputs = Seq(eventValues),
      oracle =
        """WITH e AS (SELECT user_id, event_id, ts,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events),
          |w AS (SELECT user_id, event_id, v,
          |    count(v) OVER win AS n, sum(v) OVER win AS s1, sum(v * v) OVER win AS s2
          |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
          |SELECT user_id, event_id, n AS n_prev,
          |  (n >= 3 AND (n * v - s1) * (n * v - s1) > 9 * (n * s2 - s1 * s1)) AS is_anomaly
          |FROM w ORDER BY user_id, event_id""".stripMargin),
    // first/last-touch attribution, emitted on conversion arrival;
    // oracle = the batch window SQL of ev_attribution minus ts
    StreamRow("stream_attribution", "events", "append",
      (s, in) => StreamOps.attributionStream(s, in.head, conversionType = "purchase",
        touchTypes = Seq("view", "click", "signup"), watermark = "1 second").toDF(),
      _.select(col("event_id"), col("user_id"), col("first_touch"), col("last_touch"))
        .orderBy("event_id"),
      inputs = Seq(_.select(col("user_id"), col("ts"), col("event_type"), col("event_id"))),
      oracle =
        // the streaming face must equal the batch window formulation
        // (ts lives on the conversion event itself, so it is omitted)
        {
          val touch = "CASE WHEN event_type IN ('view','click','signup') THEN event_type END"
          val frame = "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
          s"""WITH o AS (SELECT event_id, user_id, event_type,
             |  first_value($touch IGNORE NULLS) $frame AS first_touch,
             |  last_value($touch IGNORE NULLS) $frame AS last_touch
             |FROM events)
             |SELECT event_id, user_id, first_touch, last_touch
             |FROM o WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin
        }),
    // EWMA and Holt (Update mode): the same rational folds and (ts, value)
    // order as the batch ev_ewma / ev_holt, so the last emit per user
    // (the one carrying its event count) is the batch answer bit-for-bit
    StreamRow("stream_ewma", "events", "update",
      (s, in) => StreamOps.ewmaStream(s, in.head, 1L, 5L).toDF(),
      _.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("ewma"), col("n_events")).as("ewma"))
        .orderBy("user_id"),
      inputs = Seq(userValues), order = Seq("ts", "value"),
      oracle =
        """SELECT user_id, count(*) AS n_events,
          |  list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, value),
          |    (acc, x) -> (1 * x + 4 * acc) / 5) AS ewma
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    StreamRow("stream_holt", "events", "update",
      (s, in) => StreamOps.holtStream(s, in.head, 2L, 10L, 3L, 10L).toDF(),
      _.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("level"), col("n_events")).as("level"),
          max_by(col("trend"), col("n_events")).as("trend"))
        .orderBy("user_id"),
      inputs = Seq(userValues), order = Seq("ts", "value"),
      oracle =
        // the streaming replay's final per-user emit must equal the same
        // batch fold — one oracle serves both faces
        """WITH RECURSIVE l AS (
          |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, value) AS vals,
          |    COUNT(*) AS n FROM events GROUP BY user_id),
          |rec AS (
          |  SELECT user_id, n, vals, 1 AS i, vals[1] AS l,
          |    CASE WHEN n >= 2 THEN vals[2] - vals[1] ELSE 0.0 END AS b
          |  FROM l
          |  UNION ALL
          |  SELECT user_id, n, vals, i + 1,
          |    (2 * vals[i + 1] + 8 * (l + b)) / 10,
          |    (3 * ((2 * vals[i + 1] + 8 * (l + b)) / 10 - l) + 7 * b) / 10
          |  FROM rec WHERE i < n)
          |SELECT user_id, n AS n_events, l AS level, b AS trend
          |FROM rec WHERE i = n ORDER BY user_id""".stripMargin),
    StreamRow("stream_tumbling", "events", "complete",
      (_, in) => StreamOps.tumblingAgg(in.head, widthSeconds = 300L),
      _.orderBy("window_start", "event_type"),
      oracle =
        // streaming queries: bounded input + event-time semantics ⇒ the
        // batch SQL over the same parquet is the exact oracle
        """SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
          |  event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    // hourly OHLC bars: epoch-aligned windows = date_trunc hour, so the
    // batch ev_ohlc oracle serves both
    StreamRow("stream_ohlc", "events", "complete",
      (_, in) => StreamOps.ohlcStream(in.head, widthSeconds = 3600L),
      _.orderBy("bucket"),
      oracle =
        // the streaming bars' final complete-mode emit must equal the
        // batch resample — one oracle serves both faces
        """WITH h AS (SELECT date_trunc('hour', ts) AS bucket, ts, event_id, value FROM events),
          |o AS (SELECT bucket, value,
          |    row_number() OVER (PARTITION BY bucket ORDER BY ts, event_id) AS rn_a,
          |    row_number() OVER (PARTITION BY bucket ORDER BY ts DESC, event_id DESC) AS rn_d
          |  FROM h)
          |SELECT bucket,
          |  MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
          |  MAX(value) AS high, MIN(value) AS low,
          |  MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
          |  COUNT(*) AS volume,
          |  CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS vsum
          |FROM o GROUP BY bucket ORDER BY bucket""".stripMargin),
    // exact unique visitors per 5-min window: update-mode running counts
    // only grow, so the max per window is the batch answer
    StreamRow("stream_window_users", "events", "update",
      (_, in) => StreamOps.windowedUsers(in.head, widthSeconds = 300L),
      _.groupBy("window_start").agg(max(col("n_users")).as("n_users"))
        .orderBy("window_start"),
      oracle =
        """SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
          |  COUNT(DISTINCT user_id) AS n_users
          |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin),
    // heavy hitters: after the final batch the complete-mode state IS
    // the batch aggregate; ranking happens on the bounded final table
    StreamRow("stream_topk", "events", "complete",
      (_, in) => in.head.groupBy(col("user_id")).agg(count(lit(1)).as("n")),
      _.orderBy(desc("n"), col("user_id")).limit(20),
      oracle =
        """SELECT user_id, COUNT(*) AS n FROM events
          |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20""".stripMargin),
    // which duplicate survives depends on in-batch arrival order, so the
    // row lands the (deterministic) fingerprint set. Event time is
    // synthetic (the fixture has none): doc_id seconds a day past epoch
    // 0, since the initial watermark IS epoch 0 and a row at the
    // watermark is dropped as late
    StreamRow("stream_dedup", "documents", "append",
      (_, in) => StreamOps.streamingExactDedup(in.head, "ts")
        .select(TextFunctions.fingerprintMd5(col("text")).as("fp")),
      _.orderBy("fp"),
      inputs = Seq(_.withColumn("ts", timestamp_seconds(col("doc_id") + 86400L))),
      oracle =
        """SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          |FROM documents ORDER BY fp""".stripMargin),
    // a stream-stream join commits FOUR state stores per partition
    // (left/right x keyToNumValues/keyWithIndexToValue), so its
    // per-partition overhead is ~4x an aggregation's: 4x coarser width
    // (measured at sf10: 17.5 s at the aggregate sizing's 25 partitions
    // vs 9.0 s at 8)
    StreamRow("stream_interval_join", "events", "append",
      (_, in) => StreamOps.intervalJoin(in(0), in(1), "user_id", windowSeconds = 600L)
        .select(col("event_id_l"), col("event_id_r")),
      _.orderBy("event_id_l", "event_id_r"),
      inputs = Seq(views, purchases), mbPerPart = 128L,
      oracle =
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events)
          |SELECT l.event_id AS event_id_l, r.event_id AS event_id_r
          |FROM e l JOIN e r ON l.user_id = r.user_id
          |  AND l.event_type = 'view' AND r.event_type = 'purchase'
          |  AND r.us >= l.us AND r.us <= l.us + 600000000
          |ORDER BY event_id_l, event_id_r""".stripMargin),
  )

  val rows: Seq[RowDef] = ops.map(_.row) :+
    RowDef("stream_bloom_novel", { (s, dir) =>
      // the deployment shape of dedup_bloom: model built ONCE on the
      // standing corpus (batch), incoming crawl filtered AS A STREAM;
      // Bloom.filterNovel is a stateless map-side predicate, so it runs
      // unchanged under structured streaming (no state store, no
      // watermark; the whole filter rides inside each micro-batch)
      val docs = t(s, dir, "documents")
      val (mBits, k) = (1024, 5)
      val words = Bloom.build(docs.filter(col("doc_id") % 2 === 0),
        col("text"), mBits, k)
      val src = Tables.stream(s, dir, "documents").filter(col("doc_id") % 2 === 1)
      StreamRun(s, "stream_bloom_sink",
          Bloom.filterNovel(src, words, mBits, k, col("text")).select("doc_id"),
          "append", StreamRun.Memory)()
        .orderBy("doc_id")
    }, oracle =
      // identical oracle to dedup_bloom — the streaming face must land
      // on exactly the batch answer (stateless predicate ⇒ no
      // batch/stream semantic gap to account for)
      sqlBloomNovel)
}
