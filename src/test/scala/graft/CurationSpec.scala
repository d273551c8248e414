package graft

import org.apache.spark.sql.functions._
import graft.api.{Col, Table}
import graft.functions.TextFunctions
import graft.operators.{Cluster, Graph, Incremental, Pack, Quantile, Sampling}

/** Round-3 corpus-curation operators: connected-component dedup
  * clustering, sequence packing, deterministic sampling, PII scrubbing,
  * grouping sets, intersect/except.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // ---- connected components ----
  test("connectedComponents: two chains and a singleton") {
    val nodes = (1L to 7L).toDF("id")
    // component {1,2,3} (chain), {5,6} and isolated 7; edge orientation mixed
    val edges = Seq((2L, 1L), (2L, 3L), (6L, 5L)).toDF("src", "dst")
    val got = Cluster.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connectedComponents: long path converges within diameter rounds") {
    val n = 12L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Cluster.connectedComponents(nodes, edges, maxIter = 15)
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 == 1L))
  }

  /** The round numbers of the `[op] round n` lines the Fixpoint logger
    * writes while `body` runs, first at the default level (asserted
    * empty), then at DEBUG. */
  private def fixpointRounds(op: String)(body: => Unit): Seq[Int] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Configurator
    val name = "graft.operators.Fixpoint"
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(s"$op-rounds", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    logger.addAppender(app)
    val level = logger.getLevel
    val Round = """\[(\w+)\] round (\d+) rows=\d+ ms=\d+ stored=\d+B""".r
    def rounds(): Seq[Int] = {
      lines.clear()
      body
      lines.toArray(Array.empty[String]).toSeq.map {
        case Round(`op`, r) => r.toInt
        case l => fail(s"unexpected line: $l")
      }
    }
    try {
      assert(rounds().isEmpty)
      Configurator.setLevel(name, Level.DEBUG)
      rounds()
    } finally {
      Configurator.setLevel(name, level)
      logger.removeAppender(app)
      app.stop()
    }
  }

  private def chainEdges = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")

  test("connectedComponents logs one [cc] round line per round at DEBUG, none by default") {
    val r = fixpointRounds("cc") {
      Cluster.connectedComponents((1L to 12L).toDF("id"), chainEdges).collect()
    }
    assert(r.nonEmpty && r == (1 to r.size), r)
  }

  test("kCore logs one [kcore] round line per round at DEBUG, none by default") {
    val r = fixpointRounds("kcore")(Graph.kCore(chainEdges, 2).collect())
    assert(r.nonEmpty && r == (1 to r.size), r)
  }

  test("connectedComponents: contraction converges a chain far longer than maxIter") {
    // a 400-link path has diameter 400: plain hash-min propagation would
    // need ~400 rounds and trip the fail-fast; Borůvka hooking +
    // contraction merges supervertices along every frontier per round,
    // so a small budget converges it (this is the sf10 mm_dhash_clusters
    // shape — phase-adjacent replica chains — reduced to a hand fixture)
    val n = 400L
    val nodes = (0L to n).toDF("id")
    val edges = (0L until n).map(i => (i + 1, i)).toDF("src", "dst")
    val got = Cluster.connectedComponents(nodes, edges, maxIter = 15)
      .as[(Long, Long)].collect()
    assert(got.length == n.toInt + 1 && got.forall(_._2 == 0L))
  }

  test("connectedComponents: PERMUTED-id chain converges (the case a per-node jump cannot)") {
    // same 400-link path but with node ids SHUFFLED along the chain —
    // every local id minimum is then its own label-forest root, so the
    // r11 prop+jump formulation degrades to O(diameter) rounds (>100 at
    // 400 nodes in simulation) and this test times out its budget; the
    // sf10 replica chains have exactly this non-monotone id layout
    // (adjacent replicas live in far-apart id blocks). Supervertex
    // contraction converges it in O(log n) regardless of id order.
    val n = 400
    val rng = new scala.util.Random(42)
    val perm = rng.shuffle((0 until n).toVector)
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val edges = (0 until n - 1)
      .map(i => (perm(i).toLong, perm(i + 1).toLong)).toDF("src", "dst")
    val got = Cluster.connectedComponents(nodes, edges, maxIter = 15)
      .as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 0L),
      s"labels ${got.filter(_._2 != 0L).take(5).mkString(",")}")
  }

  test("connectedComponents: labels match a brute-force transitive closure") {
    // random graph, random ids; ground truth via driver-side union-find
    val rng = new scala.util.Random(7)
    val ids = rng.shuffle((0L until 500L).toVector)
    val edges = (0 until 350).map { _ =>
      (ids(rng.nextInt(500)), ids(rng.nextInt(500)))
    }.filter(p => p._1 != p._2)
    val parent = scala.collection.mutable.Map((0L until 500L).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0L until 500L).map(i => i -> find(i)).toMap
    // canonical root per component = min id: compress to min via re-find
    val got = Cluster.connectedComponents(
        (0L until 500L).toDF("id"), edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"mismatches: ${got.filter { case (k, v) => want(k) != v }.take(5)}")
  }

  test("mergeClusters: two-batch incremental == from-scratch CC (random graph)") {
    // the incremental contract: fold batch-2 pairs into batch-1's
    // clustering and land bit-identical to CC over the union graph
    val rng = new scala.util.Random(11)
    val ids = rng.shuffle((0L until 500L).toVector)
    val oldIds = ids.take(400).toSet
    val edges = (0 until 400).map { _ =>
      (ids(rng.nextInt(500)), ids(rng.nextInt(500)))
    }.filter(p => p._1 != p._2)
    val (batch1, batch2) = edges.partition {
      case (a, b) => oldIds(a) && oldIds(b)
    }
    val prev = Cluster.connectedComponents(
      oldIds.toSeq.toDF("id"), batch1.toDF("src", "dst"))
    val merged = Incremental.mergeClusters(prev,
        ids.drop(400).toDF("id"), batch2.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val want = Cluster.connectedComponents(
        (0L until 500L).toDF("id"), edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(merged == want,
      s"mismatches: ${merged.filter { case (k, v) => want(k) != v }.take(5)}")
  }

  test("mergeClusters: incoming ids already in prev are not duplicated") {
    val prev = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("id", "label")
    val r = Incremental.mergeClusters(prev, Seq(2L, 9L).toDF("id"),
        Seq((9L, 5L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(r == Seq((1L, 1L), (2L, 1L), (5L, 5L), (9L, 5L)))
  }

  test("mergeClusters: validate=true rejects foreign pair endpoints loudly") {
    val prev = Seq((10L, 10L), (20L, 10L)).toDF("id", "label")
    val inc = Seq(30L).toDF("id")
    // endpoint 7 is in neither prev nor incoming — without validation it
    // could be elected as a merged label while never appearing as a row
    val dirty = Seq((7L, 20L)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Incremental.mergeClusters(prev, inc, dirty, validate = true)
    }
    assert(ex.getMessage.contains("pair endpoints absent"))
    assert(ex.getMessage.contains("7"))
    // clean pairs pass validation and produce the usual merge
    val r = Incremental.mergeClusters(prev, inc,
        Seq((30L, 20L)).toDF("id_a", "id_b"), validate = true)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(r == Seq((10L, 10L), (20L, 10L), (30L, 10L)))
  }

  test("dedupClusters: canonical flag marks exactly one doc per cluster") {
    val docs = Seq((10L, "x"), (20L, "x"), (30L, "y"), (40L, "z")).toDF("doc_id", "text")
    val pairs = Seq((10L, 20L), (20L, 30L)).toDF("id_a", "id_b")
    val r = Cluster.dedupClusters(docs, pairs).orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(r == Seq((10L, 10L, true), (20L, 10L, false), (30L, 10L, false), (40L, 40L, true)))
  }

  test("bestPerCluster: highest score survives, ties to the lower id, singletons keep") {
    val clustered = Seq(
      (10L, 1L, 5L), (20L, 1L, 9L), (30L, 1L, 9L), // tie at 9 → 20 wins
      (40L, 4L, 1L)).toDF("doc_id", "cluster_id", "q")
    val r = Cluster.bestPerCluster(clustered, "q").orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(r == Seq((10L, 1L, 5L, false), (20L, 1L, 9L, true),
      (30L, 1L, 9L, false), (40L, 4L, 1L, true)), r.toString)
    // exactly one survivor per cluster at any partitioning
    val k = Cluster.bestPerCluster(clustered.repartition(5), "q")
      .filter(col("keep")).select("cluster_id")
      .as[Long].collect().toSeq.sorted
    assert(k == Seq(1L, 4L))
  }

  test("packBins: FFD placement, oversized isolation, partition invariance") {
    // budget 10, s1 lengths 7,6,4,3,2 sorted desc:
    // 7→bin1, 6→bin2, 4→bin2 (6+4=10), 3→bin1 (7+3=10), 2→bin3;
    // s2: the 15-token doc overflows alone in bin1 (capacity negative,
    // admits nothing), the 1-token doc opens bin2
    val docs = Seq(
      ("s1", 1L, Seq.fill(7)("a").mkString(" ")),
      ("s1", 2L, Seq.fill(6)("b").mkString(" ")),
      ("s1", 3L, Seq.fill(4)("c").mkString(" ")),
      ("s1", 4L, Seq.fill(3)("d").mkString(" ")),
      ("s1", 5L, Seq.fill(2)("e").mkString(" ")),
      ("s2", 9L, Seq.fill(15)("z").mkString(" ")),
      ("s2", 10L, "x")).toDF("source", "doc_id", "text")
    val got = Pack.packBins(docs, budget = 10L,
        tokens = TextFunctions.tokenCount(col("text")))
      .orderBy("doc_id")
      .select("doc_id", "bin_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 1L), (5L, 3L),
      (9L, 1L), (10L, 2L)), got.toString)
    val got2 = Pack.packBins(docs.repartition(7), budget = 10L,
        tokens = TextFunctions.tokenCount(col("text")))
      .orderBy("doc_id")
      .select("doc_id", "bin_id").as[(Long, Long)].collect().toSeq
    assert(got2 == got, "FFD must be partition-invariant")
  }

  // ---- sequence packing ----
  test("packSequences: offsets/packs accumulate shard-locally") {
    val docs = Seq(
      (1L, "a", "s1"), (2L, "a b c", "s1"), (3L, "a b", "s1"),
      (4L, "a b c d", "s2")).toDF("doc_id", "text", "source")
    val r = Pack.packSequences(docs, budget = 4L,
        tokens = TextFunctions.tokenCount(col("text")))
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "tok_offset", "pack_id", "pack_pos")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // s1: offsets 0,1,4 → packs 0,0,1; s2 restarts at 0
    assert(r == Seq((1L, 1L, 0L, 0L, 0L), (2L, 3L, 1L, 0L, 1L),
      (3L, 2L, 4L, 1L, 0L), (4L, 4L, 0L, 0L, 0L)))
  }

  test("packSequences: window is partitioned (no global single-task window)") {
    val docs = Seq((1L, "a", "s1")).toDF("doc_id", "text", "source")
    val plan = Pack.packSequences(docs, 4L, TextFunctions.tokenCount(col("text")))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition(source"),
      s"expected source-partitioned window in:\n$plan")
  }

  // ---- deterministic sampling ----
  test("stratified sampling is deterministic and rate-shaped") {
    val df = (1L to 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val s1 = Sampling.stratified(df, "doc_id", "lang", Map("en" -> 50), 10)
      .as[(Long, String)].collect().toSet
    val s2 = Sampling.stratified(df, "doc_id", "lang", Map("en" -> 50), 10)
      .as[(Long, String)].collect().toSet
    assert(s1 == s2) // pure function of the data
    val en = s1.count(_._2 == "en"); val de = s1.count(_._2 == "de")
    assert(en > 400 && en < 600, s"en kept $en of 1000 at 50%")
    assert(de > 50 && de < 150, s"de kept $de of 1000 at 10%")
    // subset property: raising the rate only adds rows
    val wider = Sampling.stratified(df, "doc_id", "lang", Map("en" -> 80), 10)
      .as[(Long, String)].collect().toSet
    assert(s1.subsetOf(wider))
  }

  test("weighted sampling: extremes exact, monotone in weight, deterministic") {
    val df = (1L to 2000L).map(i => (i, i / 2000.0)).toDF("doc_id", "w")
    def keep(wc: org.apache.spark.sql.Column) =
      Sampling.weighted(df, "doc_id", wc).select("doc_id").as[Long].collect().toSet
    assert(keep(lit(1.0)).size == 2000) // weight 1 keeps everything
    assert(keep(lit(0.0)).isEmpty)      // weight 0 keeps nothing
    assert(keep(lit(2.5)).size == 2000) // clamped
    val half = keep(lit(0.5))
    assert(half.size > 800 && half.size < 1200, s"~half expected, got ${half.size}")
    assert(half == keep(lit(0.5)))      // pure function of the data
    // raising weights only ADDS rows (monotone curriculum reweighting)
    val lo = keep(col("w")); val hi = keep(least(col("w") * 2, lit(1.0)))
    assert(lo.subsetOf(hi), s"${(lo diff hi).size} rows lost when weights rose")
  }

  test("sampleHash: deterministic, rate-shaped, seed-independent draws") {
    val df = (1L to 2000L).map(i => (i, s"doc$i")).toDF("doc_id", "name")
    def draw(frac: Double, seed: Long) =
      Sampling.sampleHash(df, col("doc_id"), frac, seed)
        .select("doc_id").as[Long].collect().toSet
    val a = draw(0.5, 42L)
    assert(a == draw(0.5, 42L))          // pure function of (data, seed)
    assert(a.size > 800 && a.size < 1200, s"~half expected, got ${a.size}")
    assert(draw(1.0, 42L).size == 2000 && draw(0.0, 42L).isEmpty)
    // a different seed draws an effectively independent sample: the
    // overlap of two 50% draws should be ~25% of the table, not ~50%
    val b = draw(0.5, 7L)
    val overlap = (a intersect b).size
    assert(overlap > 350 && overlap < 650, s"seed draws too correlated: $overlap")
    // no shuffle: the sample is a pure filter over the scan
    val plan = Sampling.sampleHash(df, col("doc_id"), 0.5, 42L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampleHash must not shuffle:\n$plan")
  }

  // ---- PII scrubbing ----
  test("fixMojibake repairs cp1252 double-decodes; clean text untouched; map is byte-derived") {
    import graft.functions.TextFunctions
    // every map entry satisfies key == cp1252decode(utf8encode(value)),
    // with unmapped cp1252 bytes (81 8D 8F 90 9D) passing through —
    // the table can't drift from the byte math it documents
    for ((bad, good) <- TextFunctions.MojibakeMap) {
      val derived = good.getBytes("UTF-8").map { b =>
        val arr = Array(b)
        val s = new String(arr, "windows-1252")
        if (s == "�") (b & 0xff).toChar.toString else s
      }.mkString
      assert(derived == bad,
        s"map drift for ${good}: expected ${derived.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
    val rows = Seq(
      (1L, "caf\u00c3\u00a9 and \u00e2\u20ac\u0153quoted\u00e2\u20ac\u009d \u00e2\u20ac\u201d done"),
      (2L, "already clean caf\u00e9 and \u201cquoted\u201d \u2014 done"),
      (3L, "plain ascii only")).toDF("doc_id", "text")
    val got = rows.select(col("doc_id"),
        TextFunctions.fixMojibake(col("text")).as("fixed"),
        TextFunctions.isMojibake(col("text")).as("flag"))
      .as[(Long, String, Boolean)].collect().sortBy(_._1)
    assert(got(0)._2 == "caf\u00e9 and \u201cquoted\u201d \u2014 done")
    assert(got(0)._3)
    assert(got(1)._2 == "already clean caf\u00e9 and \u201cquoted\u201d \u2014 done" && !got(1)._3) // repaired text is a fixed point
    assert(got(2)._2 == "plain ascii only" && !got(2)._3)
  }

  test("scrubPii redacts emails, IPs, phones; leaves clean text alone") {
    val r = Seq(
      "mail me at john.doe+x@sub.example.org today",
      "server 10.1.2.3 and phone 555-123-4567 or 555.867.5309",
      "call (555) 123-4567 or (555)123-4567 or 555 867 5309 now",
      "no pii here, just 1234 and 12.5",
      "order 5551234567 is a bare digit run, NOT redacted by design")
      .toDF("text").select(TextFunctions.scrubPii(col("text")))
      .as[String].collect().toSeq
    assert(r(0) == "mail me at <EMAIL> today")
    assert(r(1) == "server <IP> and phone <PHONE> or <PHONE>")
    assert(r(2) == "call <PHONE> or <PHONE> or <PHONE> now")
    assert(r(3) == "no pii here, just 1234 and 12.5")
    assert(r(4) == "order 5551234567 is a bare digit run, NOT redacted by design")
  }

  test("text_filter_thresholds: no per-language window; broadcast threshold join") {
    val df = SparkEntry.queries("text_filter_thresholds")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"threshold variant must not sort per-language partitions in a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-language thresholds must broadcast back as a filter:\n$plan")
    // semantic agreement with the exact percent_rank band: interior rows
    // identical, differences only possible at interpolated endpoints
    val exact = SparkEntry.queries("text_filter_quantile")(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val got = df.select("doc_id").as[Long].collect().toSet
    val diff = (exact diff got) union (got diff exact)
    assert(diff.size <= exact.size / 20,
      s"threshold band diverges from percent_rank band on ${diff.size} of ${exact.size} docs")
  }

  test("percentRankOfValues == window percent_rank (ties, singleton groups, nulls)") {
    // NULL value: both formulations order nulls first (rank 1 → pr 0)
    val df = Seq(("a", Some(1L)), ("a", Some(1L)), ("a", Some(2L)),
      ("a", Some(5L)), ("a", None: Option[Long]), ("b", Some(7L)))
      .toDF("g", "v")
    import org.apache.spark.sql.expressions.Window
    def vOf(r: org.apache.spark.sql.Row) =
      if (r.isNullAt(1)) None else Some(r.getLong(1))
    val ref = df.withColumn("pr",
        percent_rank().over(Window.partitionBy(col("g")).orderBy(col("v"))))
      .select("g", "v", "pr").distinct()
      .collect().map(r => (r.getString(0), vOf(r), r.getDouble(2))).toSet
    val got = Quantile.percentRankOfValues(df, "g", "v")
      .collect().map(r => (r.getString(0), vOf(r), r.getDouble(2))).toSet
    assert(got == ref) // ties share (rank-1)/(n-1); singleton group b → 0.0
    // band filter keeps every original row (duplicates included): group a
    // prs are {null→0, 1→1/4, 2→3/4, 5→1}, so [0, 0.7] keeps the null
    // row and both 1s but drops the 2; singleton b (pr 0) stays
    val band = Quantile.percentRankBand(df, "g", "v", 0.0, 0.7)
      .collect().map(r => (r.getString(0), vOf(r).getOrElse(-1L))).sorted.toSeq
    assert(band == Seq(("a", -1L), ("a", 1L), ("a", 1L), ("b", 7L)))
  }

  test("text_filter_quantile: exact band via value counting, corpus never window-sorted") {
    val df = SparkEntry.queries("text_filter_quantile")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // corpus rows reach the band filter through a broadcast join of the
    // tiny (lang, value, pr) table — the only Window sorts each
    // language's DISTINCT token counts (value domain), not documents
    assert(plan.contains("BroadcastHashJoin"),
      s"pr table must broadcast back onto the corpus:\n$plan")
    // parity with the exact window formulation, doc for doc
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("lang"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"))
    val ref = docs.withColumn("pr",
        percent_rank().over(Window.partitionBy(col("lang")).orderBy(col("n_tokens"))))
      .filter(col("pr") >= 0.05 && col("pr") <= 0.95)
      .select("doc_id").as[Long].collect().toSet
    val got = df.select("doc_id").as[Long].collect().toSet
    assert(got == ref, s"counting band != window band (${got.size} vs ${ref.size} docs)")
    // the window's input really is the aggregated value table
    val nPairs = docs.select("lang", "n_tokens").distinct().count()
    assert(Quantile.percentRankOfValues(docs, "lang", "n_tokens").count() == nPairs)
  }

  // ---- grouping sets / pivot / set ops ----
  test("byCube equals union of group-by levels") {
    val li = Table(spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("l_quantity").as("q")))
    val cube = li.byCube(Seq("rf", "ls"), "n" -> Col(count(lit(1)))).df
    val n = cube.count()
    val both = li.df.groupBy("rf", "ls").count().count()
    val rf = li.df.groupBy("rf").count().count()
    val ls = li.df.groupBy("ls").count().count()
    assert(n == both + rf + ls + 1)
    // grand-total row carries the full table count
    val total = cube.filter(col("rf").isNull && col("ls").isNull)
      .select("n").as[Long].head()
    assert(total == li.df.count())
  }

  test("pivotAgg: wide columns are sanitized, null-filled, and sum to group totals") {
    val o = Table(spark.read.parquet(s"$sf/orders.parquet"))
    val wide = o.pivotAgg("o_orderstatus", "o_orderpriority",
      Seq("1-URGENT", "4-NOT SPECIFIED"), "n", Col(lit(1)), _.count).df
    assert(wide.columns.toSeq == Seq("o_orderstatus", "n_1_urgent", "n_4_not_specified"))
    val byHand = o.df.filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderstatus").count().as[(String, Long)].collect().toMap
    val got = wide.select("o_orderstatus", "n_1_urgent").as[(String, Long)]
      .collect().toMap
    assert(got.filter(_._2 > 0) == byHand)
  }

  test("pivotAgg: sanitized-name collisions fail loudly, not as duplicate columns") {
    val o = Table(spark.read.parquet(s"$sf/orders.parquet"))
    // "1-URGENT" and "1 urgent" both sanitize to n_1_urgent — must throw,
    // never silently emit two columns with the same name
    val ex = intercept[IllegalArgumentException] {
      o.pivotAgg("o_orderstatus", "o_orderpriority",
        Seq("1-URGENT", "1 urgent"), "n", Col(lit(1)), _.count)
    }
    assert(ex.getMessage.contains("collide"), ex.getMessage)
    assert(ex.getMessage.contains("n_1_urgent"), ex.getMessage)
  }

  test("topKBy: bounded aggregate plan, window-formulation parity") {
    import org.apache.spark.sql.expressions.Window
    val o = Table(spark.read.parquet(s"$sf/orders.parquet"))
    val top = o.topKBy(Seq("o_orderpriority"), Col(col("o_totalprice")), "o_orderkey", 3)
    val plan = top.df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("Window"),
      s"topKBy must be a bounded partial aggregate, not a window sort:\n$plan")
    val viaWindow = o.df.withColumn("rank", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
        col("o_totalprice").as("score"))
    assert(top.df.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(top.df).isEmpty,
      "topKBy must equal the row_number window formulation")
  }

  test("topKBy: string ids ride the aggregate (UUID/natural-key path, ADVICE r5)") {
    import org.apache.spark.sql.expressions.Window
    // string id column; repartition forces the serialize/merge path so
    // the length-prefixed codec and the defensive UTF8String copy are
    // both exercised across a real exchange
    val o = Table(spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("o_key_str", concat(lit("ord-"), col("o_orderkey")))
      .repartition(5))
    val top = o.topKBy(Seq("o_orderpriority"), Col(col("o_totalprice")), "o_key_str", 3)
    assert(top.df.schema("o_key_str").dataType ==
      org.apache.spark.sql.types.StringType,
      "output id column must mirror the input string type")
    val viaWindow = o.df.withColumn("rank", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_key_str"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("o_orderpriority"), col("rank"), col("o_key_str"),
        col("o_totalprice").as("score"))
    assert(top.df.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(top.df).isEmpty,
      "string-id topKBy must equal the row_number window formulation")
    // the whole similarity path accepts string ids too: same neighbors
    // as the bigint formulation, modulo the id representation
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val embS = emb.withColumn("vid_s", col("vec_id").cast("string"))
    val gotS = Similarity.bruteForceTopK(embS, embS.filter(col("vec_id") < 3), 5,
        idCol = "vid_s")
      .select(col("q_id").cast("long"), col("rank"), col("c_id").cast("long"), col("cos"))
    val gotL = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 5)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
    assert(gotS.exceptAll(gotL).isEmpty && gotL.exceptAll(gotS).isEmpty,
      "string-id similarity search must match the bigint-id results")
  }

  test("kmeansAssign: deterministic total partition into <= k clusters") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a1 = Similarity.kmeansAssign(emb, k = 4, iters = 2, dim = 64)
      .as[(Long, Long)].collect().toMap
    val a2 = Similarity.kmeansAssign(emb, k = 4, iters = 2, dim = 64)
      .as[(Long, Long)].collect().toMap
    assert(a1 == a2) // pure function of the data
    assert(a1.size == emb.count()) // every vector assigned exactly once
    val cids = a1.values.toSet
    assert(cids.size > 1 && cids.size <= 4, s"clusters: $cids")
    // Lloyd's invariant: identical vectors land in the same cluster —
    // synthetic corpus with two distinct ids carrying the same embedding
    val vecs = (0L until 10L).map { i =>
      val base = if (i >= 8L) 99L else i // ids 8 and 9 share a vector
      (i, Array.tabulate(64)(d => ((base * 31 + d) % 7).toFloat - 3f))
    }
    val synth = vecs.toDF("vec_id", "embedding")
    val sa = Similarity.kmeansAssign(synth, k = 2, iters = 2, dim = 64)
      .as[(Long, Long)].collect().toMap
    assert(sa(8L) == sa(9L), s"identical vectors split across clusters: $sa")
  }

  test("kmeansAssign: empty cluster carried forward (duplicate seeds keep k alive)") {
    import graft.operators.Similarity
    // seeds v0, v1 are identical → iteration 1 assigns everything to cid 0
    // (ties break low) and centroid 1 goes EMPTY. After centroid 0 moves to
    // the mean (~33), the carried-forward centroid 1 (still at 0) must win
    // v0/v1 back in iteration 2 — without the carry-forward, k collapses
    // to 1 and every vector stays in cid 0.
    val df = Seq((0L, Seq(0f)), (1L, Seq(0f)), (2L, Seq(100f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.kmeansAssign(df, k = 2, iters = 2, dim = 1)
      .as[(Long, Long)].collect().toMap
    assert(a == Map(0L -> 1L, 1L -> 1L, 2L -> 0L), s"got $a")
  }

  test("kmeansAssign: sparse/offset id space still seeds k centroids") {
    import graft.operators.Similarity
    // ids start at 1000: the old `id < k` seed filter matched NOTHING and
    // degenerated to an empty assignment (ADVICE r03)
    val df = Seq((1000L, Seq(0f)), (2000L, Seq(10f)), (3000L, Seq(11f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.kmeansAssign(df, k = 2, iters = 2, dim = 1)
      .as[(Long, Long)].collect()
    assert(a.length == 3)
    assert(a.map(_._2).distinct.sorted.toSeq == Seq(1000L, 2000L))
  }

  test("TopKByScore: decimal score widens to double (documented), non-numeric fails analysis") {
    import graft.plans.TopKByScore
    val df = Seq((1L, 10L, "3.50"), (1L, 11L, "9.25"), (1L, 12L, "1.00"),
      (2L, 20L, "5.00"))
      .toDF("q_id", "c_id", "s")
      .withColumn("score", col("s").cast("decimal(18,2)"))
    // DECIMAL score: accepted, ranked by its exact double image, emitted
    // as the widened double — no silent API-boundary cast involved
    val top = df.groupBy(col("q_id"))
      .agg(TopKByScore(col("score"), col("c_id"), 2).as("_top"))
      .select(col("q_id"), posexplode(col("_top")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col.c_id").as("c_id"), col("col.cos").as("cos"))
      .orderBy("q_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(top == Seq((1L, 1L, 11L, 9.25), (1L, 2L, 10L, 3.50), (2L, 1L, 20L, 5.0)))
    // non-numeric score: loud analysis-time TypeCheckFailure, not a
    // runtime ANSI cast error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy(col("q_id"))
        .agg(TopKByScore(col("s"), col("c_id"), 2).as("_top")).collect()
    }
    assert(e.getMessage.contains("TopKByScore expects"), e.getMessage)
  }

  test("plan shapes: similarity ranking is a bounded aggregate, not a per-query window sort") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 5)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected map-side partial TopKByScore aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"ranking must not funnel a query's candidates through one window sort:\n$plan")
  }

  test("plan shapes: cube/pivot aggregate in ONE shuffle; pipeline shuffles only on its two windows") {
    def hashExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val cube = Table(spark.read.parquet(s"$sf/lineitem.parquet"))
      .byCube(Seq("l_returnflag", "l_linestatus"), "n" -> Col(count(lit(1)))).df
    assert(hashExchanges(cube) == 1,
      "cube must plan as Expand + partial/final agg around a single exchange")
    val pivot = Table(spark.read.parquet(s"$sf/orders.parquet"))
      .pivotAgg("o_orderstatus", "o_orderpriority", Seq("1-URGENT", "5-LOW"),
        "n", Col(lit(1)), _.count).df
    assert(hashExchanges(pivot) == 1,
      "explicit-values pivot must be one aggregate pass, no distinct pre-job")
    val pipe = SparkEntry.queries("pipe_curation")(spark, sf)
    assert(hashExchanges(pipe) == 2,
      "curation pipeline must shuffle exactly twice (dedup window, pack window)")
  }

  test("plan shapes: scale-path quantile band filter is WINDOW-FREE (thresholds variant)") {
    // text_filter_thresholds is the 100 TB formulation: per-language
    // thresholds come from a tiny percentile AGGREGATE broadcast back as
    // a filter. Guard that it never regresses into a per-language window
    // (percent_rank over raw docs funnels the dominant language through
    // ONE task's sort; since round 8 even the exact text_filter_quantile
    // avoids it via value counting — see Quantile.percentRankBand).
    val th = SparkEntry.queries("text_filter_thresholds")(spark, sf)
    val thPlan = th.queryExecution.executedPlan.toString
    assert(!thPlan.contains("Window"),
      s"thresholds variant must stay window-free:\n$thPlan")
    assert(thPlan.contains("BroadcastHashJoin"),
      s"thresholds must join back via broadcast, not shuffle:\n$thPlan")
    // pipe_curation-class compositions must not smuggle in a per-language
    // window either: its only windows partition by fp (dedup keeper) and
    // source (packing) — never by the language/stratum column
    val pipe = SparkEntry.queries("pipe_curation")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!pipe.contains("windowspecdefinition(lang"),
      s"curation pipeline must never sort per-language in one task:\n$pipe")
  }

  test("saltedJoin == plain inner join; text_stats scan prunes to doc_id,text") {
    val li = Table(spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity"))
    val sup = Table(spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey").as("l_suppkey"), col("s_name")))
    val salted = li.saltedJoin(sup, "l_suppkey", spreadCol = "l_orderkey", salts = 8).df
    val plain = li.df.join(sup.df, Seq("l_suppkey"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)

    val scan = SparkEntry.queries("text_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"text_stats must scan only (doc_id, text):\n${scan.takeRight(400)}")
  }

  test("quantileApprox tracks exact percentile") {
    val q = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(Col(col("l_extendedprice")).quantileApprox(0.5).c.as("approx"),
        percentile(col("l_extendedprice"), lit(0.5)).as("exact"))
      .collect().head
    val (a, e) = (q.getDouble(0), q.getDouble(1))
    assert(math.abs(a - e) / e < 0.02, s"approx $a vs exact $e")
  }

  test("winsorize == window-formulation clip; row count preserved") {
    import graft.operators.Quantile
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("lang"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("v"))
    val got = Quantile.winsorize(docs, "lang", "v", 0.1, 0.9)
      .select(col("doc_id"), col("winsorized"))
    // reference: the textbook window formulation of the same clip
    val w = Window.partitionBy(col("lang")).orderBy(col("v"))
    val pr = docs.withColumn("pr", percent_rank().over(w))
    val edges = pr.groupBy("lang").agg(
      coalesce(min(when(col("pr") >= 0.1, col("v"))), min(col("v"))).as("lov"),
      coalesce(max(when(col("pr") <= 0.9, col("v"))), max(col("v"))).as("hiv"))
    val ref = docs.join(edges, "lang")
      .select(col("doc_id"), least(greatest(col("v"), col("lov")), col("hiv")).as("ref"))
    assert(got.count() == docs.count())
    val mismatches = got.join(ref, "doc_id")
      .filter(col("winsorized") =!= col("ref")).count()
    assert(mismatches == 0, s"$mismatches rows differ from the window clip")
  }

  test("splitByCluster: near-dup clusters never straddle the train/test line") {
    import graft.operators.{Dedup, Sampling}
    val docs = Tables(spark, sf, "documents")
    val pairs = Dedup.minhashPairs(docs, threshold = 0.3)
    val split = Sampling.splitByCluster(docs, pairs, trainPct = 80)
    // cluster-consistency: each cluster_id maps to exactly one split
    val mixed = split.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(mixed == 0, s"$mixed clusters straddle the split")
    // the leakage property stated directly: no near-dup PAIR crosses it
    val sa = split.select(col("doc_id").as("id_a"), col("split").as("sp_a"))
    val sb = split.select(col("doc_id").as("id_b"), col("split").as("sp_b"))
    val crossing = pairs.join(sa, "id_a").join(sb, "id_b")
      .filter(col("sp_a") =!= col("sp_b")).count()
    assert(crossing == 0, s"$crossing near-dup pairs cross the split")
    // both sides populated at a plausible 80/20 (cluster-level hashing
    // over ~500 docs: loose band, deterministic so never flaky)
    val n = split.count().toDouble
    val train = split.filter(col("split") === "train").count().toDouble
    assert(train / n > 0.6 && train / n < 0.95, s"train frac ${train / n}")
    // different seeds draw different (still leakage-safe) splits
    val s2 = Sampling.splitByCluster(docs, pairs, trainPct = 80, seed = 7)
    val moved = split.select(col("doc_id"), col("split"))
      .join(s2.select(col("doc_id"), col("split").as("s2")), "doc_id")
      .filter(col("split") =!= col("s2")).count()
    assert(moved > 0, "seed had no effect on the split")
  }

  test("negatives: m per anchor, never self, deterministic, seed-sensitive") {
    val df = (1L to 50L).toDF("doc_id")
    val got = Sampling.negatives(df, "doc_id", m = 3, seed = 42L)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got.size == 150)                                  // m per anchor
    assert(got.forall { case (a, _, neg) => a != neg })      // never self
    assert(got.map(_._2).toSet == Set(1L, 2L, 3L))           // ranks 1..m
    val again = Sampling.negatives(df, "doc_id", 3, 42L)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(again == got)                                     // pure function
    val other = Sampling.negatives(df, "doc_id", 3, 7L)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(other != got)                                     // seed matters
    // each rank is a bijection: offset-walks over a permutation hit
    // every row exactly once per rank
    for (r <- 1L to 3L)
      assert(got.filter(_._2 == r).map(_._3).distinct.size == 50)
    intercept[IllegalArgumentException] { Sampling.negatives(df, "doc_id", 0, 1L) }
  }

  test("contaminationMatches: exact overlap counts, broadcast plan, no-overlap empty") {
    import graft.operators.Dedup
    val train = Seq(
      (1L, "the quick brown fox jumps"),   // shares "quick brown fox" with eval
      (3L, "totally novel training text"), // clean
      (5L, "quick brown fox quick brown fox end")) // duplicate grams count once
      .toDF("doc_id", "text")
    val eval = Seq(
      (2L, "a quick brown fox appeared"),
      (4L, "brown fox quick crossing")).toDF("doc_id", "text")
    val got = Dedup.contaminationMatches(train, eval, n = 3)
      .as[(Long, Long)].collect().toMap
    // eval 3-grams: {a quick brown, quick brown fox, brown fox appeared,
    //                brown fox quick, fox quick crossing}
    // doc 1 matches {quick brown fox}; doc 5 matches {quick brown fox,
    // brown fox quick} — its repeat of "quick brown fox" counts ONCE
    // (distinct grams); doc 3 matches nothing
    assert(got == Map(1L -> 1L, 5L -> 2L))
    // the eval side is broadcast: train text never shuffles
    val plan = Dedup.contaminationMatches(train, eval, n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join, got:\n$plan")
    // disjoint corpora → empty result, and the opt-out path shuffles
    val none = Dedup.contaminationMatches(train,
      Seq((9L, "completely different words here")).toDF("doc_id", "text"),
      n = 3, broadcastEval = false)
    assert(none.count() == 0)
  }

  test("bloom decontamination: zero false negatives, bounded false-positive rate") {
    import graft.operators.Bloom
    val docs = Tables(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val n = corpus.count()
    val (mBits, k) = Bloom.autoSize(n) // 10 bits/key, k=7
    val words = Bloom.build(corpus, col("text"), mBits, k)
    // the no-false-negative half of the contract: every corpus key probes positive
    val misses = corpus.filter(!Bloom.mightContain(words, mBits, k, col("text"))).count()
    assert(misses == 0, s"$misses corpus keys probed negative")
    // filterNovel output must be genuinely novel (bloom may DROP novel
    // rows — FPR — but must never PASS a seen one)
    val novel = Bloom.filterNovel(incoming, words, mBits, k, col("text"))
    val leaked = novel.join(corpus.select(col("text")), "text").count()
    assert(leaked == 0, s"$leaked seen keys passed filterNovel")
    // at 10 bits/key the FPR is ~1%: most genuinely novel rows survive
    val nIn = incoming.count()
    val nNovel = novel.count()
    assert(nNovel >= (nIn * 0.9).toLong, s"only $nNovel of $nIn survived")
    // probe predicate is map-side only: no shuffle in the filter plan
    val plan = novel.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"filterNovel plan shuffles:\n$plan")
  }

  test("sharded bloom: per-shard no-false-negatives, missing shard → novel") {
    import graft.operators.Bloom
    val docs = Tables(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0 && col("lang") =!= "de")
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val (mBits, k) = (4096, 5)
    val blooms = Bloom.buildPerShard(corpus, col("lang"), col("text"), mBits, k)
    // corpus rows probe positive within their own shard
    val kept = Bloom.filterNovelSharded(corpus, blooms, col("lang"), col("text"), mBits, k)
    assert(kept.count() == 0, "a corpus key passed its own shard's bloom")
    // nothing seen leaks through: novel output never shares (lang, text) with corpus
    val novel = Bloom.filterNovelSharded(incoming, blooms, col("lang"), col("text"), mBits, k)
    val leaked = novel.select(col("lang"), col("text"))
      .join(corpus.select(col("lang"), col("text")), Seq("lang", "text")).count()
    assert(leaked == 0)
    // the shard with no bloom (de) passes entirely — scoped membership
    val deIn = incoming.filter(col("lang") === "de").count()
    val deNovel = novel.filter(col("lang") === "de").count()
    assert(deIn > 0 && deNovel == deIn, s"de: $deNovel of $deIn")
  }

  test("compactTo/compactParquetDir rewrite small files into the target count") {
    import graft.operators.Layout
    Scratch.using(spark, "graft-test-compact") { scratch =>
      // compactParquetDir stages beside the dir, so both stay inside scratch
      val dir = s"$scratch/t"
      // 32 writer partitions of a 1000-row table → many small files
      spark.range(1000).toDF("id").repartition(32).write.mode("overwrite").parquet(dir)
      def nFiles = new java.io.File(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(nFiles > 8, s"precondition: expected many small files, got $nFiles")
      val n = Layout.compactParquetDir(spark, dir, rowsPerFile = 500)
      assert(n == 1000, s"row count changed: $n")
      assert(nFiles == 2, s"expected 2 compacted files, got $nFiles")
      // content preserved exactly
      val ids = spark.read.parquet(dir).as[Long].collect().sorted
      assert(ids.toSeq == (0L until 1000L))
    }
  }

  test("bloom autoSize rejects bitmaps past the 2^31 single-bitmap ceiling") {
    import graft.operators.Bloom
    val (m, k) = Bloom.autoSize(1000)
    assert(m % 64 == 0 && m >= 10000 && k == 7)
    intercept[IllegalArgumentException](Bloom.autoSize(300000000L, 10))
  }

  test("intersect/except have SQL distinct semantics and enforce schema match") {
    val a = Table(Seq(1, 1, 2, 3).toDF("k"))
    val b = Table(Seq(2, 2, 3, 4).toDF("k"))
    assert(a.intersect(b).df.as[Int].collect().sorted.toSeq == Seq(2, 3))
    assert(a.except(b).df.as[Int].collect().toSeq == Seq(1))
    val bad = Table(Seq("x").toDF("k"))
    intercept[IllegalArgumentException](a.intersect(bad))
    intercept[IllegalArgumentException](a.except(bad))
  }

  test("lmQualityScore: hand-checked ilog2 bigram math; short docs absent") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // corpus bigrams: (a,b)=2, (b,a)=1, (a,c)=1 → c1(a)=3, c1(b)=1
    // lp(a,b) = ilog2(2)-ilog2(3) = 1-1 = 0; lp(a,c) = 0-1 = -1; lp(b,a) = 0
    val docs = Seq((1L, "a b a c"), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val out = TextFunctions.lmQualityScore(docs).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 3L, 1.0 / 3.0), (2L, 1L, 0.0))) // doc 3: no bigrams, absent
    // reference-model overload: unseen transitions drop from the mean
    val model = TextFunctions.lmTrain(docs)
    val scored = TextFunctions.lmQualityScore(
      Seq((9L, "a b q q")).toDF("doc_id", "text"), model, "text", "doc_id").collect()
    assert(scored.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((9L, 1L, 0.0))) // only (a,b) known: (b,q), (q,q) dropped
  }

  test("cooccurrencePmi: hand-checked window-2 counts and quantized PMI") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // "a b a": offset1 pairs {a,b},{b,a}; offset2 {a,a} → symmetric
    // instances: (a,b)×2, (b,a)×2, (a,a)×2 → N=6
    // c12(a,b)=2, c12(a,a)=2; marginals: c1(a)=4, c1(b)=2
    val docs = Seq((1L, "a b a")).toDF("doc_id", "text")
    val out = TextFunctions.cooccurrencePmi(docs, window = 2, minCount = 1L)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // pmi_q(a,a) = ilog2(2)+ilog2(6)-ilog2(4)-ilog2(4) = 1+2-2-2 = -1
    // pmi_q(a,b) = 1+2-2-1 = 0
    assert(out.toSeq == Seq(("a", "a", 2L, -1L), ("a", "b", 2L, 0L)))
    // the frequency floor drops sub-minCount pairs but keeps marginals
    val floored = TextFunctions.cooccurrencePmi(docs, window = 2, minCount = 3L).count()
    assert(floored == 0L)
    // window must cap pair distance: window=1 has no (a,a) pair
    val w1 = TextFunctions.cooccurrencePmi(docs, window = 1, minCount = 1L)
      .select("w1", "w2").as[(String, String)].collect().toSet
    assert(w1 == Set(("a", "b")))
  }

  // ---- DSIR importance weights ----
  test("dsirWeights: docs matching the target's bigrams outscore off-target docs") {
    // target corpus is saturated with "alpha beta"; raw doc 1 repeats it,
    // doc 2 is bigram-disjoint noise — under the target-vs-raw likelihood
    // ratio doc 1 must rank strictly higher
    val target = (1L to 8L).map(i => (100L + i, "alpha beta alpha beta alpha beta"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "gamma delta epsilon zeta")).toDF("doc_id", "text")
    val w = Sampling.dsirWeights(raw, target, dims = 4096)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w.map(_._1).toSeq == Seq(1L, 2L))
    assert(w(0)._2 == 3L && w(1)._2 == 3L) // n_grams = tokens − 1
    assert(w(0)._3 > w(1)._3,
      s"on-target doc must outscore off-target: ${w.toSeq}")
    // partition invariance: the weights are a pure function of the data
    val w2 = Sampling.dsirWeights(raw.repartition(7), target.repartition(3), dims = 4096)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w2.toSeq == w.toSeq)
    // sub-2-token docs carry no grams and are absent (the lm contract)
    val short = Sampling.dsirWeights(
      Seq((9L, "solo")).toDF("doc_id", "text"), target, dims = 64)
    assert(short.count() == 0L)
  }

  // ---- in-engine classifier training ----
  test("logisticTrain: learns a planted linear separation and is partition-invariant") {
    import graft.operators.Features
    // y = 1 iff f1 large: perfectly separable with margin
    val rows = (0 until 200).map { i =>
      val f1 = if (i % 2 == 0) 0.9 else 0.1
      val y = if (i % 2 == 0) 1.0 else 0.0
      (i.toLong, f1, (i % 7) / 7.0, y)
    }
    val df = rows.toDF("id", "f1", "f2", "y")
    val wq = Features.logisticTrain(df, Seq("f1", "f2"), "y", iters = 16, lrNum = 16L)
    // f1 must dominate with positive weight
    assert(wq(1) > 0L, s"w1 should be positive: ${wq.toSeq}")
    val scored = Features.logisticScore(df, wq.toSeq, Seq("f1", "f2"))
    val acc = scored.filter(col("p_pred") === col("y").cast("int")).count() / 200.0
    assert(acc == 1.0, s"separable fixture must be fully learned, got $acc")
    // determinism at any partitioning: same data → bit-identical model
    val wq2 = Features.logisticTrain(df.repartition(13), Seq("f1", "f2"), "y",
      iters = 16, lrNum = 16L)
    assert(wq2.toSeq == wq.toSeq)
    // all-one-class input stays finite and predicts that class
    val oneClass = rows.map { case (id, f1, f2, _) => (id, f1, f2, 1.0) }
      .toDF("id", "f1", "f2", "y")
    val wq3 = Features.logisticTrain(oneClass, Seq("f1", "f2"), "y", iters = 4)
    val p3 = Features.logisticScore(oneClass, wq3.toSeq, Seq("f1", "f2"))
    assert(p3.filter(col("p_pred") === 1).count() == 200L)
  }
}
