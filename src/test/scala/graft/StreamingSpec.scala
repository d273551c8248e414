package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Sessionize
import graft.streaming.{StreamOps, StreamRun}
import graft.testkit.StreamReplay
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Each user's last Update-mode emit: the one carrying its event count. */
  private def lastEmits(emits: DataFrame, values: String*): DataFrame =
    emits.groupBy("user_id").agg(max(col("n_events")).as("n_events"),
      values.map(v => max_by(col(v), col("n_events")).as(v)): _*)

  private val rows = Seq(
    (1L, ts("2024-01-01 00:01:00"), 10L, "click", 1.50),
    (2L, ts("2024-01-01 00:03:30"), 10L, "click", 2.25),
    (3L, ts("2024-01-01 00:07:10"), 11L, "buy", 9.00),
    (4L, ts("2024-01-01 00:11:00"), 10L, "click", 4.00))

  test("streaming tumbling agg == batch tumbling (stream/batch parity)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    mem.addData(rows: _*)
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = StreamRun(spark, "t_tumble",
        StreamOps.tumblingAgg(stream, 300L), "complete", StreamRun.Memory)()
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))

    val batch = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val exp = Sessionize.tumbling(batch, 300L)
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == exp.toSeq)
  }

  test("streaming hopping windows == batch hopping (stream/batch parity)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    mem.addData(rows: _*)
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val hop = stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "600 seconds", "300 seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val got = StreamRun(spark, "t_hop", hop, "complete", StreamRun.Memory)()
      .orderBy("ws", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    val exp = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .groupBy(window(col("ts"), "600 seconds", "300 seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(got.toSeq == exp.toSeq)
  }

  test("streaming session windows merge events within gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    mem.addData(rows: _*)
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = StreamRun(spark, "t_sess",
        StreamOps.sessionAgg(stream, 300L), "complete", StreamRun.Memory)()
      .orderBy("user_id", "session_start").collect()
    // user 10: events at 0:01, 0:03:30 (same session), 0:11 (new session); user 11: one
    assert(got.length == 3)
    assert(got.map(_.getLong(2)).toSeq == Seq(10L, 10L, 11L))
    assert(got.map(_.getLong(3)).toSeq == Seq(2L, 1L, 1L))
  }

  test("stateful sessionization (flatMapGroupsWithState) matches batch numbering") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    mem.addData(rows: _*)
    // sentinel far in the future advances the watermark so every real
    // session times out and closes (excluded from the comparison)
    mem.addData((99L, ts("2024-06-01 00:00:00"), 9999L, "flush", 0.0))
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = StreamRun(spark, "t_statesess",
        StreamOps.statefulSessions(spark, stream, 300L, watermark = "0 seconds").toDF(),
        "append", StreamRun.Memory)()
      .filter(col("user_id") =!= 9999L)
      .orderBy("user_id", "session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val batch = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val exp = Sessionize.sessions(batch, 300L)
      .orderBy("user_id", "session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == exp.toSeq)
  }

  test("streaming attribution == batch attribution over a multi-batch replay") {
    import graft.operators.Behavior
    val events = Seq(
      // user 1: view → click → purchase → click → purchase
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 10:02:00"), 1L, "purchase", 5.0),
      (4L, ts("2024-01-01 10:03:00"), 1L, "click", 0.0),
      (5L, ts("2024-01-01 10:04:00"), 1L, "purchase", 6.0),
      // user 2: direct conversion (error is not a touch), then a view
      (6L, ts("2024-01-02 09:00:00"), 2L, "error", 0.0),
      (7L, ts("2024-01-02 09:30:00"), 2L, "purchase", 7.0),
      (8L, ts("2024-01-02 10:00:00"), 2L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // 4 chunks ⇒ state genuinely crosses micro-batch boundaries
    val got = StreamReplay(spark, "t_attr", Seq(events), Seq("ts", "event_id"), "append",
        nChunks = 4)(in => StreamOps.attributionStream(spark, in.head,
        "purchase", Seq("view", "click"), watermark = "1 second").toDF())
      .select("event_id", "first_touch", "last_touch")
      .as[(Long, Option[String], Option[String])].collect().sortBy(_._1).toSeq
    val exp = Behavior.attribution(events, "purchase", Seq("view", "click"))
      .select("event_id", "first_touch", "last_touch")
      .as[(Long, Option[String], Option[String])].collect().sortBy(_._1).toSeq
    assert(got == exp)
    assert(got == Seq(
      (3L, Some("view"), Some("click")),
      (5L, Some("view"), Some("click")),
      (7L, None, None)))
  }

  test("streaming exact dedup drops duplicate fingerprints within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(
      (ts("2024-01-01 00:00:00"), "same Text here"),
      (ts("2024-01-01 00:01:00"), "same  text HERE"), // normalized dup
      (ts("2024-01-01 00:02:00"), "different text"))
    val stream = mem.toDF().toDF("ts", "text")
    val got = StreamRun(spark, "t_dedup",
        StreamOps.streamingExactDedup(stream, "ts"), "append", StreamRun.Memory)()
      .orderBy("ts").collect()
    assert(got.length == 2)
    assert(got.map(_.getString(1)).toSeq == Seq("same Text here", "different text"))
  }

  test("stream-stream interval join == batch interval join (attribution shape)") {
    implicit val sqlCtx = spark.sqlContext
    val impRows = Seq(
      (100L, ts("2024-01-01 00:00:00"), 10L),
      (101L, ts("2024-01-01 00:10:00"), 10L),
      (102L, ts("2024-01-01 00:00:30"), 11L))
    val clkRows = Seq(
      (200L, ts("2024-01-01 00:02:00"), 10L), // within 5 min of imp 100
      (201L, ts("2024-01-01 00:12:00"), 10L), // within 5 min of imp 101 only
      (202L, ts("2024-01-01 00:20:00"), 11L)) // outside any window
    val imp = MemoryStream[(Long, Timestamp, Long)]
    val clk = MemoryStream[(Long, Timestamp, Long)]
    imp.addData(impRows: _*); clk.addData(clkRows: _*)
    val joined = StreamOps.intervalJoin(
      imp.toDF().toDF("imp_id", "ts", "user_id"),
      clk.toDF().toDF("clk_id", "ts", "user_id"),
      key = "user_id", windowSeconds = 300L)
    val got = StreamRun(spark, "t_ssjoin", joined, "append", StreamRun.Memory)()
      .select("imp_id_l", "clk_id_r").orderBy("imp_id_l")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((100L, 200L), (101L, 201L)))
  }

  test("intervalJoinLeftOuter: unmatched lefts flush with nulls once the watermark clears their window") {
    // views 100/102 match nothing: 100's only candidate (201) is outside
    // its 5-min window, 102's user has no purchases at all — both must
    // still emit, with null right ids, after the sentinel advances the
    // watermark past their windows
    val views = Seq(
      (100L, 10L, ts("2024-01-01 00:00:00")),
      (101L, 10L, ts("2024-01-01 00:10:00")),
      (102L, 11L, ts("2024-01-01 00:00:30"))).toDF("event_id", "user_id", "ts")
    val buys = Seq(
      (201L, 10L, ts("2024-01-01 00:12:00"))).toDF("event_id", "user_id", "ts")
    val got = StreamReplay(spark, "t_ssjoin_left", Seq(views, buys), Seq("ts", "event_id"),
        "append", nChunks = 2, sentinel = Some(StreamReplay.Sentinel(300L,
          t => Row(Long.MinValue, Long.MinValue, t)))) { in =>
        StreamOps.intervalJoinLeftOuter(in(0), in(1), "user_id", windowSeconds = 300L,
          watermark = "1 second")
      }.filter(col("user_id_l") =!= Long.MinValue)
      .select("event_id_l", "event_id_r").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    assert(got.toSeq == Seq((100L, None), (101L, Some(201L)), (102L, None)))
  }

  test("Cached memoizes semantically-equal plans and releases persists") {
    val cache = new graft.api.Cached
    val base = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val a = cache(base.filter(col("value") > 2.0).select("event_id", "value"))
    // re-issued equivalent construction: fresh Column objects / expr ids
    val b = cache(base.filter(col("value") > 2.0).select("event_id", "value"))
    assert(cache.size == 1)
    assert(a.count() == 3 && b.count() == 3)
    assert(b.queryExecution.withCachedData.toString.contains("InMemoryRelation"))
    cache.release()
    assert(cache.size == 0)
    assert(!base.filter(col("value") > 2.0).select("event_id", "value")
      .queryExecution.withCachedData.toString.contains("InMemoryRelation"))
  }

  test("Cached canonicalization: hits on exprid/commutation cosmetics, misses on semantics") {
    val cache = new graft.api.Cached
    try {
      val base = rows.toDF("event_id", "ts", "user_id", "event_type", "value")

      // HIT: filter commutation — `p && q` vs `q && p` canonicalize equal
      val pq = cache(base.filter(col("value") > 2.0 && col("user_id") === 10L)
        .select("event_id"))
      cache(base.filter(col("user_id") === 10L && col("value") > 2.0)
        .select("event_id"))
      assert(cache.size == 1, "commuted && must canonicalize to the same memo entry")
      assert(pq.count() == 2)

      // MISS (semantic): a different literal is a different expression
      cache(base.filter(col("value") > 3.0 && col("user_id") === 10L)
        .select("event_id"))
      assert(cache.size == 2, "different predicate constant must be a distinct entry")

      // MISS (reference contract): alias-only difference is a distinct
      // expression (a relabel builds a new expr node in the reference) —
      // and the SECOND request must come back with ITS OWN names, not
      // the first caller's. Canonicalization alone erases alias names,
      // which is why the memo key carries output field names too.
      val ax = cache(base.select(col("value").as("x")))
      val ay = cache(base.select(col("value").as("y")))
      assert(cache.size == 4)
      assert(ax.columns.toSeq == Seq("x") && ay.columns.toSeq == Seq("y"))
      // ...but the relabel does NOT pay a recompute: its plan subtree
      // sameResults the persisted entry, so CacheManager substitutes the
      // InMemoryRelation underneath the rename
      assert(ay.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
        "alias-only variant should reuse the persisted data via CacheManager")

      // MISS (semantic): column reorder is a different output schema
      val iv = cache(base.select("event_id", "value"))
      val vi = cache(base.select("value", "event_id"))
      assert(cache.size == 6)
      assert(iv.columns.toSeq == Seq("event_id", "value"))
      assert(vi.columns.toSeq == Seq("value", "event_id"))

      // MISS (reference contract, nested): NESTED struct field aliases
      // are erased by canonicalization too — the memo key carries the
      // full schema, so the second caller gets its own nested names
      val nx = cache(base.select(struct(col("value").as("x")).as("s")))
      val ny = cache(base.select(struct(col("value").as("y")).as("s")))
      assert(cache.size == 8)
      assert(nx.schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq == Seq("x"))
      assert(ny.schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq == Seq("y"))

      // MISS (documented cosmetics cut): filter∘project vs project∘filter
      // are distinct ANALYZED plans — the memo keys pre-optimization so
      // the key cannot depend on what is already cached
      cache(base.filter(col("value") > 2.0).select("event_id", "value"))
      cache(base.select("event_id", "value").filter(col("value") > 2.0))
      assert(cache.size == 10)
    } finally cache.release()
    assert(cache.size == 0)
  }

  test("curation functions run unchanged on a stream (stateless column ops)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions
    import graft.operators.Sampling
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L to 40L).map(i => (i, s"doc $i mail x$i@spam.io")): _*)
    val stream = mem.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.scrubPii(col("text")).as("scrubbed"))
      .filter(Sampling.hashBucket(col("doc_id"), 100) < 50)
    val got = StreamRun(spark, "t_curation", stream, "append", StreamRun.Memory)()
      .collect()
    // same rows as the identical batch pipeline
    val batch = (1L to 40L).map(i => (i, s"doc $i mail x$i@spam.io"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.scrubPii(col("text")).as("scrubbed"))
      .filter(Sampling.hashBucket(col("doc_id"), 100) < 50)
      .collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSet ==
      batch.map(r => (r.getLong(0), r.getString(1))).toSet)
    assert(got.nonEmpty && got.forall(_.getString(1).contains("<EMAIL>")))
  }

  test("applyCdcStream folds micro-batches into the base; latest seq wins in-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String, Long)]
    val changes = mem.toDF().toDF("k", "s", "v", "op", "seq")
    var base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v")
    val q = StreamOps.applyCdcStream(changes, Seq("k"), seqCol = Some("seq"))(
      () => base,
      merged => {
        // eager materialization — the test's stand-in for the partition
        // overwrite a production writer would do
        val rows = merged.collect().toIndexedSeq
        base = spark.createDataFrame(
          spark.sparkContext.parallelize(rows), merged.schema)
      })
    try {
      // batch 1: k=2 updated twice (seq 2 wins), k=9 inserted
      mem.addData((2L, "stale", 0.0, "U", 1L), (2L, "b2", 21.0, "U", 2L),
        (9L, "new", 90.0, "I", 3L))
      q.processAllAvailable()
      // batch 2: k=1 tombstoned (applies against the batch-1 result)
      mem.addData((1L, "", 0.0, "D", 4L))
      q.processAllAvailable()
    } finally q.stop()
    val r = base.orderBy("k").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(2L, 9L))
    assert(r(0).getString(1) == "b2" && r(0).getDouble(2) == 21.0)
    assert(r(1).getString(1) == "new")
  }

  test("batch sessionization assigns gap-separated sessions") {
    val batch = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val s = Sessionize.sessions(batch, 300L).orderBy("user_id", "session_id").collect()
    assert(s.length == 3)
    assert(s.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((10L, 1L, 2L), (10L, 2L, 1L), (11L, 1L, 1L)))
  }

  test("streaming anomaly verdicts == batch verdicts, any chunking") {
    val ev = (1L to 12L).map { i =>
      val v = if (i == 9) 400.0 else 10.0 + (i % 3)
      (1L, i, Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"), v)
    }.toDF("user_id", "event_id", "ts", "value")
    val batch = graft.operators.Behavior.anomalies(ev, k = 5, z = 3)
      .select("user_id", "event_id", "n_prev", "is_anomaly")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(batch.exists(_._3), "fixture must contain a true anomaly")
    for (chunks <- Seq(1, 4)) {
      val s = StreamReplay(spark, s"anom_sink_$chunks", Seq(ev), Seq("ts", "event_id"), "append",
          nChunks = chunks)(in => StreamOps.anomalyStream(spark, in.head, k = 5, z = 3L).toDF())
        .orderBy("event_id").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
      assert(s == batch, s"chunking=$chunks must not change verdicts")
    }
  }

  test("streaming CUSUM == batch CUSUM bit-for-bit, any chunking") {
    // drift up after event 6 so the detector genuinely alarms
    val ev = (1L to 12L).map { i =>
      val v = if (i > 6) 180.0 else 30.0
      (1L, i, Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"), v)
    }.toDF("user_id", "event_id", "ts", "value")
    val batch = graft.operators.Behavior.cusum(ev, kCenti = 5000L, hCenti = 20000L)
      .select("user_id", "event_id", "cusum_c", "alarm")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(batch.exists(_._3) && !batch.forall(_._3),
      "fixture must cross the threshold mid-stream")
    for (chunks <- Seq(1, 4)) {
      val s = StreamReplay(spark, s"cusum_sink_$chunks", Seq(ev), Seq("ts", "event_id"), "append",
          nChunks = chunks)(in => StreamOps.cusumStream(spark, in.head, 5000L, 20000L).toDF())
        .orderBy("event_id").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
      assert(s == batch, s"chunking=$chunks must not change the fold")
    }
  }

  test("streaming EWMA == batch EWMA bit-for-bit, any chunking") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:01", 10.0), (1L, "2024-01-01 00:00:02", 20.0),
      (1L, "2024-01-01 00:00:03", 30.0), (1L, "2024-01-01 00:00:04", 7.5),
      (2L, "2024-01-01 00:00:01", 5.0), (2L, "2024-01-01 00:00:09", 1.25))
      .map { case (u, t, v) => (u, Timestamp.valueOf(t), v) }
      .toDF("user_id", "ts", "value")
    val batch = graft.operators.Behavior.ewmaLast(ev, 1L, 5L)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for (chunks <- Seq(1, 3, 6)) {
      val s = lastEmits(StreamReplay(spark, s"ewma_sink_$chunks", Seq(ev), Seq("ts", "value"),
          "update", nChunks = chunks)(in => StreamOps.ewmaStream(spark, in.head, 1L, 5L).toDF()),
          "ewma")
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(s == batch, s"chunking=$chunks must not change the fold")
    }
  }

  test("streaming Holt == batch Holt bit-for-bit, any chunking") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:01", 10.0), (1L, "2024-01-01 00:00:02", 20.0),
      (1L, "2024-01-01 00:00:03", 30.0), (1L, "2024-01-01 00:00:04", 7.5),
      (1L, "2024-01-01 00:00:04", 2.5), (2L, "2024-01-01 00:00:01", 5.0),
      (2L, "2024-01-01 00:00:09", 1.25), (3L, "2024-01-01 00:00:05", 4.0))
      .map { case (u, t, v) => (u, Timestamp.valueOf(t), v) }
      .toDF("user_id", "ts", "value")
    val batch = graft.operators.Behavior.holtLast(ev, 2L, 10L, 3L, 10L)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(batch.map(_._2) == Seq(5L, 2L, 1L))
    for (chunks <- Seq(1, 3, 8)) {
      val s = lastEmits(StreamReplay(spark, s"holt_sink_$chunks", Seq(ev), Seq("ts", "value"),
          "update", nChunks = chunks)(in =>
          StreamOps.holtStream(spark, in.head, 2L, 10L, 3L, 10L).toDF()), "level", "trend")
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      assert(s == batch, s"chunking=$chunks must not change the fold")
    }
  }

  // The gates of these rows read their one-batch bench face, so the
  // cross-batch fold is checked here: the row's own operator, replayed
  // in 4 event-time chunks over the fixture, lands the gate's rows.
  for (row <- Seq("stream_ewma", "stream_holt", "stream_anomaly", "stream_cusum",
      "stream_attribution"))
    test(s"$row: a 4-chunk replay of its operator equals its gate") {
      val r = suite.StreamRows.ops.find(_.name == row).get
      val replayed = r.reduce(StreamReplay(spark, s"${row}_replay",
        r.inputs.map(_(Tables(spark, sf, r.table))), r.order, r.mode)(r.op(spark, _)))
      val gate = SparkEntry.queries(row)(spark, sf).collect().toSeq
      assert(gate.nonEmpty)
      assert(replayed.collect().toSeq == gate)
    }

  test("a landed stream that lands no row fails, and the error names the stream") {
    val e = intercept[IllegalStateException] {
      StreamRun(spark, "t_lands_nothing",
        Tables.stream(spark, sf, "events").filter(col("value") < lit(Double.NegativeInfinity)),
        "append", StreamRun.Landed)()
    }
    assert(e.getMessage.contains("t_lands_nothing"), e.getMessage)
  }
}
