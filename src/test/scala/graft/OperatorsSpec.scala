package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("shingles: short docs yield empty array, not garbage") {
    val r = docsOf((1L, "a b"), (2L, "a b c d"))
      .select(size(TextFunctions.shingles(col("text"), 3))).as[Int].collect().toSeq
    assert(r == Seq(0, 2))
  }

  test("fingerprint is whitespace/case-insensitive") {
    val r = docsOf((1L, "Hello  World"), (2L, "hello world "), (3L, "other"))
      .select(TextFunctions.fingerprintMd5(col("text"))).as[String].collect()
    assert(r(0) == r(1) && r(0) != r(2))
  }

  test("exact dedup keeps min id per duplicate group") {
    val d = Dedup.exact(docsOf((5L, "same text"), (2L, "same  TEXT"), (9L, "unique")))
      .orderBy("keeper_id").collect()
    assert(d.length == 2)
    assert(d(0).getLong(1) == 2L && d(0).getLong(2) == 2L) // keeper, copies
    assert(d(1).getLong(1) == 9L && d(1).getLong(2) == 1L)
  }

  test("minhash finds a planted near-duplicate pair") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val pairs = Dedup.minhashPairs(
      docsOf((1L, base), (2L, nearDup), (3L, other)), threshold = 0.3)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs(0).getDouble(2) > 0.8)
  }

  test("containment finds a subset-duplicate that symmetric jaccard under-scores") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val superset = base + " " + (1 to 20).map(i => s"extra$i").mkString(" ")
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val docs = docsOf((1L, base), (2L, superset), (3L, other))
    val pairs = Dedup.containmentPairs(docs, threshold = 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // every shingle of the base doc appears in the superset → cont_a = 1
    assert(pairs(0).getDouble(2) == 1.0, s"cont_a=${pairs(0).getDouble(2)}")
    assert(pairs(0).getDouble(3) < 1.0)
    // the same pair's symmetric jaccard sits well below the containment
    val j = Dedup.minhashPairs(docs, threshold = 0.0)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .collect()(0).getDouble(2)
    assert(j < 0.9, s"jaccard=$j")
  }

  test("simhash: identical docs equal, near-dup within small hamming") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extraword"
    val sh = Dedup.simhash(docsOf((1L, base), (2L, nearDup), (3L, base)))
      .orderBy("doc_id").select("simhash").as[Long].collect()
    assert(sh(0) == sh(2))
    // one extra token among 80 flips only low-margin bits: E[flips] ≈ 5 of 28
    assert(java.lang.Long.bitCount(sh(0) ^ sh(1)) <= 9)
  }

  test("blocked jaccard pairs respect block and threshold") {
    val df = Seq(
      (1L, "a b c d e f g h", "blk1"), (2L, "a b c d e f g x", "blk1"),
      (3L, "a b c d e f g h", "blk2") // same text, different block → no pair
    ).toDF("doc_id", "text", "source")
    val pairs = Dedup.blockedJaccardPairs(df, 3, 0.3, "source").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("blocked jaccard pairs fail fast on oversized blocks") {
    val df = (1L to 20L).map(i => (i, s"text $i", "one_block"))
      .toDF("doc_id", "text", "source")
    val e = intercept[Exception] {
      Dedup.blockedJaccardPairs(df, 2, 0.1, "source", maxBlockSize = 5).collect()
    }
    assert(e.getMessage != null)
  }

  test("ngram jaccard pairs route through LSH candidates") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val pairs = Dedup.ngramJaccardPairs(
      docsOf((1L, base), (2L, nearDup), (3L, other)), n = 2, threshold = 0.5)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("embedding near-dup finds planted duplicate via LSH buckets") {
    val v = (0 until 64).map(i => (i % 7).toFloat + 1f).toArray
    val vDup = v.clone(); vDup(0) += 0.001f
    val vOther = (0 until 64).map(i => ((i * 13) % 11).toFloat - 5f).toArray
    val df = Seq((1L, v), (2L, vDup), (3L, vOther)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, threshold = 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("prefixJaccardPairs: complete recall vs brute-force all-pairs witness") {
    // 120-doc slice keeps the brute-force witness cheap
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 120)
    val got = graft.operators.Dedup
      .prefixJaccardPairs(docs, n = 2, tNum = 3, tDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: every pair, exact jaccard on the same hashed sets
    val ids = docs.select("doc_id")
    val allPairs = ids.toDF("id_a").crossJoin(ids.toDF("id_b"))
      .filter(col("id_a") < col("id_b"))
    val exp = graft.operators.Dedup
      .jaccardVerify(docs, allPairs, n = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp, s"prefix route missed ${exp -- got}, extra ${got -- exp}")
    assert(exp.nonEmpty, "witness set empty — test proves nothing")
    // and it can only find MORE than the recall-lossy LSH route
    val lsh = graft.operators.Dedup
      .ngramJaccardPairs(docs, n = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(got))
  }

  test("prefixJaccardPairsChunked: wave-partitioned result equals single-pass") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 300)
    val single = Dedup.prefixJaccardPairs(docs, n = 2, tNum = 3, tDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Scratch.using(spark, "graft-ppjoin-chunk") { staging =>
      // 3 waves: pair space split by pmod(h, 3); pairs sharing prefix
      // tokens across waves must collapse to one identical row
      val chunked = Dedup
        .prefixJaccardPairsChunked(docs, n = 2, tNum = 3, tDen = 10,
          passes = 3, stagingDir = staging)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(chunked == single,
        s"chunked missed ${single -- chunked}, extra ${chunked -- single}")
      assert(single.nonEmpty, "empty pair set — equivalence proves nothing")
    }
  }

  test("dedup_pr_audit scale face (chunked exact route) equals the gate row") {
    // the face shares prAuditAgg verbatim and the chunked route's pair
    // set is equivalence-pinned above; this pins the WIRING — the one
    // audit row must be bit-identical through the landed-parquet path
    val gate = SparkEntry.queries("dedup_pr_audit")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val (_, _, faceFn) = SparkEntry.scaleFaces("dedup_pr_audit")
    val face = faceFn(spark, sf).collect().map(_.toSeq).toSeq
    assert(gate == face, s"gate $gate vs face $face")
    assert(gate.head.head.asInstanceOf[Long] > 0, "empty audit proves nothing")
  }

  test("graph_labelprop scale face (chunked waves) equals the gate row") {
    val gate = SparkEntry.queries("graph_labelprop")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (_, _, faceFn) = SparkEntry.scaleFaces("graph_labelprop")
    val face = faceFn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gate == face, s"face diverged: ${gate.toSet -- face.toSet} / ${face.toSet -- gate.toSet}")
    assert(gate.nonEmpty, "empty labelprop output proves nothing")
  }

  test("graph_pagerank scale face (chunked waves) equals the gate row") {
    // the face substitutes pagerankChunked past the disclosed input
    // threshold; wave-count invariance of the operator is pinned in
    // BehaviorSpec — this pins the WIRING (same edge frame, same
    // iters, landed-parquet path) so the bench face can never drift
    // from the gate row
    val gate = SparkEntry.queries("graph_pagerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (_, _, faceFn) = SparkEntry.scaleFaces("graph_pagerank")
    val face = faceFn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gate == face, s"face diverged: ${gate.toSet -- face.toSet} / ${face.toSet -- gate.toSet}")
    assert(gate.nonEmpty, "empty pagerank output proves nothing")
  }

  test("dhashClusters: exact-hash contraction equals dedupClusters∘dhashPairs") {
    import graft.operators.Cluster
    // planted structure: two identical-hash groups one bit apart (one
    // component), a far-away group, a NULL-hash singleton, and an id
    // with no signature row at all
    val sigs = Seq(
      (10L, Some(0x00FFL)), (11L, Some(0x00FFL)), (12L, Some(0x00FFL)),
      (20L, Some(0x00FEL)), (21L, Some(0x00FEL)),        // 1 bit from 0xFF
      (30L, Some(0xF0F0F0F0F0L)), (31L, Some(0xF0F0F0F0F0L)),
      (40L, None: Option[Long]))
      .toDF("media_id", "dhash")
    val universe = (Seq(10L, 11L, 12L, 20L, 21L, 30L, 31L, 40L, 99L))
      .toDF("media_id")
    val exp = Cluster.dedupClusters(universe,
        graft.operators.Multimodal.dhashPairs(sigs, maxDist = 3),
        idCol = "media_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val got = graft.operators.Multimodal
      .dhashClusters(universe, sigs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == exp, s"contracted ${got -- exp} vs full ${exp -- got}")
    // sanity: the two near groups merged under min id 10, far group at
    // 30, NULL-hash and absent ids are singletons
    assert(got.contains((21L, 10L, false)) && got.contains((31L, 30L, false)))
    assert(got.contains((40L, 40L, true)) && got.contains((99L, 99L, true)))
  }

  test("imageStats nulls corrupt payloads and sums real rasters exactly") {
    val dims = Seq((7L, 3, 2)).toDF("doc_id", "w", "h")
    val good = Multimodal.synthesizePng(spark, dims, "doc_id", "w", "h")
    val bad = Seq((99L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    val out = Multimodal.imageStats(spark, good.unionByName(bad))
      .orderBy("media_id").collect()
    val expSum = (for { y <- 0 until 2; x <- 0 until 3 }
      yield (7 * 131 + x * 31 + y * 17) % 256).sum.toLong
    assert(out(0).getLong(1) == 6L && out(0).getLong(2) == expSum)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2) && out(1).isNullAt(3))
  }

  test("semanticDedup: planted duplicate drops, diverse doc and singleton survive") {
    val v = (0 until 64).map(i => (i % 7).toFloat + 1f).toArray
    val vDup = v.clone(); vDup(0) += 0.001f
    val vOther = (0 until 64).map(i => ((i * 13) % 11).toFloat - 5f).toArray
    val df = Seq((1L, v, 0), (2L, vDup, 0), (3L, vOther, 0), (9L, v, 1))
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.semanticDedup(df, threshold = 0.9, clusterCol = "label")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 9L))
    assert(out(3L), "diverse vector in the shared cluster must survive")
    assert(out(9L), "singleton cluster must survive")
    assert(out(1L) ^ out(2L), "exactly one of a near-identical pair survives")
  }

  test("semanticDedup: dropped set shrinks monotonically as threshold rises") {
    val emb = Tables(spark, sf, "embeddings")
    def dropped(tau: Double) =
      graft.operators.Dedup.semanticDedup(emb, tau, clusterCol = "label")
        .filter(!col("kept")).select("vec_id").as[Long].collect().toSet
    val lo = dropped(0.2)
    val hi = dropped(0.4)
    // same keep order at any threshold → domination pairs at 0.4 are a
    // subset of those at 0.2, so the dropped set can only shrink
    assert(hi.subsetOf(lo), "raising the threshold must never drop new docs")
    assert(hi.size < lo.size && lo.nonEmpty, s"expected a strict shrink: ${lo.size} -> ${hi.size}")
  }

  test("recallAtK matches hand-computed intersections; absent queries score 0") {
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, q, 5)
    val approx = Similarity.lshTopK(emb, q, 5, dim = 64, nBits = 4)
    val bf = exact.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = approx.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val audit = Similarity.recallAtK(approx, exact).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // one row per exact-side query, even those the approx side missed
    assert(audit.keySet == bf.map(_._1))
    bf.groupBy(_._1).foreach { case (qid, exRows) =>
      val hits = exRows.count(ann.contains)
      val (k, h, rec) = audit(qid)
      assert(k == exRows.size && h == hits && rec == hits.toDouble / k,
        s"q=$qid audit=($k,$h,$rec) expected hits=$hits")
    }
    // self-recall is exactly 1 everywhere
    assert(Similarity.recallAtK(exact, exact).collect().forall(_.getDouble(3) == 1.0))
  }

  test("datasheet: one row per grouping set with exact duplication rate") {
    val docs = Seq(
      (1L, "a b c", "en", "s1"), (2L, "a b c", "en", "s1"), (3L, "d e", "de", "s1"),
      (4L, "x", "en", "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val rows = graft.operators.Corpus.datasheet(docs, Seq("source", "lang"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) -> r).toMap
    assert(rows.size == 6) // 2 sources + 3 source x lang + grand total
    val total = rows((None, None))
    assert(total.getLong(2) == 4L && total.getLong(5) == 3L)
    assert(total.getDouble(6) == 1.0 - 3.0 / 4.0)
    val s1 = rows((Some("s1"), None))
    assert(s1.getLong(2) == 3L && s1.getLong(3) == 8L) // 3 docs, 3+3+2 tokens
    val s1en = rows((Some("s1"), Some("en")))
    assert(s1en.getLong(2) == 2L && s1en.getDouble(6) == 0.5)
  }

  test("hilbertValue: exhaustive bijection with unit-step adjacency; loud range guard") {
    import graft.operators.Layout
    val n = 16 // bits = 4, full 16x16 grid
    val grid = spark.range(n.toLong * n).select(
      expr(s"id DIV $n").as("x"), (col("id") % n).as("y"))
    val m = grid.select(col("x"), col("y"),
        Layout.hilbertValue(col("x"), col("y"), 4).as("d"))
      .collect().map(r => r.getLong(2) -> ((r.getLong(0), r.getLong(1)))).toMap
    // bijective onto [0, n^2)
    assert(m.size == n * n && m.keys.min == 0L && m.keys.max == (n * n - 1).toLong)
    // THE Hilbert property (Morton fails it): consecutive indices are
    // grid neighbors — an independent witness of the whole recurrence
    (0 until n * n - 1).foreach { i =>
      val (x1, y1) = m(i.toLong); val (x2, y2) = m((i + 1).toLong)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"step $i -> ${i + 1} not unit")
    }
    // out-of-range input fails loudly, like zValue's guard
    intercept[Exception] {
      spark.range(1).select(Layout.hilbertValue(lit(16L), lit(0L), 4)).collect()
    }
  }

  test("columnProfile: one row per column with exact nulls and cardinality") {
    val df = Seq((1L, Some("a"), "x"), (2L, None, "x"), (3L, Some("a"), "y"),
      (4L, None, "y")).toDF("id", "maybe", "grp")
    val rows = graft.operators.Validate.columnProfile(df, Seq("id", "maybe", "grp"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(rows("id") == ((4L, 0L, 0.0, 4L)))
    assert(rows("maybe") == ((4L, 2L, 0.5, 1L))) // distinct excludes NULLs
    assert(rows("grp") == ((4L, 0L, 0.0, 2L)))
  }

  test("datasheet plan: one scan, expand, two pre-aggregated exchanges") {
    val d = graft.operators.Corpus.datasheet(
      Tables(spark, sf, "documents"), Seq("source", "lang"))
    val plan = d.queryExecution.executedPlan.toString
    // single Expand = all grouping sets from ONE scan; exactly the two
    // exchanges of the distinct-aggregate cascade, both fed by partial
    // aggregates (never raw rows on the wire)
    assert("Expand".r.findAllIn(plan).size == 1, s"expected one Expand:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 2, s"expected two Exchanges:\n$plan")
    assert(plan.contains("partial_count"), s"expected map-side partials:\n$plan")
  }

  test("removeDuplicatedSpans excises shared spans, keeps unique text, nulls empty docs") {
    val boiler = "all rights reserved by the site owner" // 7 tokens, shared verbatim
    val docs = Seq(
      (1L, s"unique alpha beta gamma delta prose here $boiler"),
      (2L, s"$boiler and some other original words follow on"),
      (3L, boiler), // nothing but the shared span
      (4L, "entirely original five token doc") // untouched (no shared 5-gram)
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, n = 5).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 3 is fully covered → NULL text_clean, all tokens removed
    assert(out(3L) == ((7L, 7L, null)))
    // doc 4 shares no 5-gram → untouched
    assert(out(4L) == ((5L, 0L, "entirely original five token doc")))
    // docs 1/2 lose exactly the 7 boilerplate tokens, keep their own prose
    assert(out(1L) == ((14L, 7L, "unique alpha beta gamma delta prose here")))
    assert(out(2L) == ((14L, 7L, "and some other original words follow on")))
  }

  test("dedupLines keeps each corpus line at its first (doc, pos) and reassembles") {
    val docs = Seq(
      (1L, "nav bar\nreal content one\nnav bar"), // in-doc repeat of line 0
      (2L, "nav bar\nreal content two"),          // cross-doc repeat
      (3L, "nav bar\nreal content one")           // every line seen before
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ==
      Seq((1L, 3L, 2L, "nav bar\nreal content one"),
          (2L, 2L, 1L, "real content two"),
          (3L, 2L, 0L, null)))
    // an empty KEPT line survives as "" (distinct from the NULL of
    // keeping nothing)
    val e = Dedup.dedupLines(Seq((9L, "")).toDF("doc_id", "text")).collect()
    assert(e.head.getString(3) == "" && e.head.getLong(2) == 1L)
  }

  test("autoBits holds LSH bucket occupancy ~constant across 10x corpus growth") {
    // deterministic pseudo-random unit-cube vectors: dim values derived
    // from hash(id*64 + j), uniform-ish in [-1, 1] (no RNG, no fixture)
    def corpus(n: Int) = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(hash(col("id") * 64 + j), lit(1000)).cast("double") / lit(500.0)
          - lit(1.0)).cast("float")).as("embedding"))
    def occupancy(n: Int, bits: Int): Double =
      corpus(n).select(Similarity.lshBucket(col("embedding"), 64, bits).as("b"))
        .agg((count(lit(1)).cast("double") / countDistinct(col("b"))).as("occ"))
        .as[Double].head()
    val (small, big) = (4096, 40960)
    // the auto default: occupancy stays in the same band as the corpus 10x-es
    val autoRatio = occupancy(big, Similarity.autoBits(big)) /
      occupancy(small, Similarity.autoBits(small))
    assert(autoRatio < 3.0,
      s"auto-scaled bits must hold occupancy ~constant, got ratio $autoRatio")
    // the failure mode the default retires: fixed bits → occupancy ∝ corpus
    val fixedRatio = occupancy(big, 4) / occupancy(small, 4)
    assert(fixedRatio > 5.0,
      s"fixed bits should show ~linear occupancy growth, got ratio $fixedRatio")
    // formula spot checks: bits = ceil(log2(n/target)), cells = ceil(n/target)
    assert(Similarity.autoBits(4096, 1024) == 2)
    assert(Similarity.autoBits(40960, 1024) == 6)
    assert(Similarity.autoBits(0) == 1 && Similarity.autoBits(1L << 40, 1) == 40)
    assert(Similarity.autoCells(4096, 512) == 8)
    assert(Similarity.autoCells(40960, 512) == 80)
    assert(Similarity.autoCells(10) == 1)
  }

  test("kmeansTrain k<=0 auto-scales the cell count from the corpus size") {
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count()
    // cellTarget default 4096 > fixture size → one cell; the invariant
    // under auto-k is expected cell size ≈ cellTarget at ANY corpus size
    val (assign, cents) = Similarity.kmeansTrain(emb, k = 0, iters = 1, dim = 64)
    assert(cents.count() == Similarity.autoCells(n))
    assert(assign.count() == n)
  }

  test("centroidClassify: separable labels → diagonal; planted stray → off-diagonal") {
    // label 0 clusters near (1,0,...), label 1 near (0,1,...); vec 5 is
    // LABELED 0 but sits in label 1's cluster → predicted 1
    def v(x: Float, y: Float) = Array(x, y) ++ Array.fill(62)(0.0f)
    val emb = Seq(
      (1L, v(1.0f, 0.1f), 0), (2L, v(0.9f, 0.0f), 0), (3L, v(1.1f, 0.1f), 0),
      (4L, v(0.0f, 1.0f), 1), (6L, v(0.1f, 0.9f), 1),
      (5L, v(0.0f, 1.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val cm = Similarity.centroidClassify(emb, dim = 64)
      .as[(Long, Long, Long)].collect()
      .map { case (l, p, n) => (l, p) -> n }.toMap
    // stray pulls label-0's centroid, but 3-vs-1 majority keeps it near x
    assert(cm((0L, 0L)) == 3L)
    assert(cm((0L, 1L)) == 1L) // the planted stray
    assert(cm((1L, 1L)) == 2L)
    assert(!cm.contains((1L, 0L)))
  }

  test("topMassByScore: tie-inclusive cutoff, rational p, negative scores fail loudly") {
    import graft.operators.Sampling
    // g: scores 10, 5, 5, 2, 2 → total 24; desc cums: 10, 20, 20, 24
    // p=1/2: first value with 2*cum >= 24 is 5 (cum 20) → keep {10, 5, 5}
    val df = Seq((1L, "g", 10L), (2L, "g", 5L), (3L, "g", 5L),
      (4L, "g", 2L), (5L, "g", 2L)).toDF("id", "g", "s")
    val kept = Sampling.topMassByScore(df, "g", "s", 1, 2)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L)) // both tied 5s kept — tie-inclusive
    // p = 1 keeps everything
    assert(Sampling.topMassByScore(df, "g", "s", 1, 1).count() == 5)
    // negative mass is meaningless → in-plan raise_error
    val neg = Seq((1L, "g", -1L)).toDF("id", "g", "s")
    val ex = intercept[Exception] {
      Sampling.topMassByScore(neg, "g", "s", 1, 2).collect()
    }
    assert(ex.getMessage.contains("negative score"))
  }

  test("cosine: identical vector → 1.0, orthogonal → 0.0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val r = df.as("a").join(df.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .orderBy("a.vec_id", "b.vec_id")
      .select("c").as[Double].collect().toSeq
    assert(r == Seq(1.0, 0.0, 0.0))
  }

  test("brute-force top-k is exact and rank-ordered") {
    val emb = Tables(spark, sf, "embeddings")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 3).collect()
    assert(top.length == 3)
    assert(top.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    val cs = top.sortBy(_.getInt(1)).map(_.getDouble(3))
    assert(cs(0) >= cs(1) && cs(1) >= cs(2))
  }

  test("LSH ANN achieves nontrivial recall vs brute force") {
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.lshTopK(emb, q, 5, dim = 64, nBits = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf intersect ann).size.toDouble / bf.size
    // sign-LSH theory: P(bucket collision) = (1-θ/π)^bits ≈ 0.13 for the
    // fixture's cos≈0.3 top-5 neighbor structure at 4 bits — recall is
    // expected to sit near that, far above the ~0 of a broken bucketing
    assert(recall > 0.05, s"recall=$recall")
  }

  test("multi-probe LSH recall >= single-probe (probe set is a superset)") {
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame) =
      (bf intersect df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
        .size.toDouble / bf.size
    val single = recall(Similarity.lshTopK(emb, q, 5, dim = 64, nBits = 4))
    val multi = recall(Similarity.lshTopKProbe(emb, q, 5, dim = 64, nBits = 4))
    assert(multi >= single, s"multi=$multi single=$single")
    // Hamming-1 probing over 4-bit buckets scans ~5/16 of the corpus —
    // recall should be substantially better than the 0.2 floor
    assert(multi > 0.4, s"multi-probe recall=$multi")
  }

  test("PQ/ADC: encode is a shuffle-free projection; ADC ranking has useful recall") {
    val emb = Tables(spark, sf, "embeddings")
    val model = Similarity.pqTrain(emb, m = 4, ksub = 16, iters = 2, dim = 64)
    assert(model.cents.length == 4 && model.cents.forall(_.nonEmpty))
    // codebook is a fitted model: every subspace centroid has sub dims
    assert(model.cents.flatten.forall(_._2.length == model.sub))
    // encoding must be map-side only — the whole point of PQ at scale is
    // that the full-corpus pass is a projection with the codebook inlined
    val codes = Similarity.pqEncode(emb, model)
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pqEncode plan shuffles:\n$plan")
    assert(codes.columns.toSeq == Seq("vec_id", "code_0", "code_1", "code_2", "code_3"))
    // every code is one of that subspace's centroid ids
    val valid = model.cents.map(_.map(_._1).toSet)
    val rows = codes.collect()
    assert(rows.forall(r => (0 until 4).forall(j => valid(j).contains(r.getLong(j + 1)))))
    // ADC recall vs exact cosine: PQ approximates L2 on quantized
    // vectors with 4 codes — far above chance, below exact
    val q = emb.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(emb, q, 5, model).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf intersect pq).size.toDouble / bf.size
    assert(recall > 0.1, s"PQ recall=$recall")
    // exact re-rank over an 8× shortlist recovers most of the loss while
    // still scanning only codes (shortlist = 40 of the corpus per query)
    val refined = Similarity.pqTopKRefined(emb, q, 5, model, refine = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rRec = (bf intersect refined).size.toDouble / bf.size
    assert(rRec >= recall, s"refined=$rRec adc=$recall")
    assert(rRec > 0.4, s"refined recall=$rRec")
  }

  test("PqModel save/load roundtrip: identical codebook, identical search from persisted codes") {
    val emb = Tables(spark, sf, "embeddings")
    val model = Similarity.pqTrain(emb, m = 4, ksub = 16, iters = 2, dim = 64)
    Scratch.using(spark, "graft-test-pq-index") { base =>
      model.save(spark, s"$base/codebook")
      Similarity.pqEncode(emb, model).withColumnRenamed("vec_id", "c_id")
        .write.mode("overwrite").parquet(s"$base/codes")
      val loaded = Similarity.PqModel.load(spark, s"$base/codebook")
      assert(loaded == model, "codebook must roundtrip exactly")
      val q = emb.filter(col("vec_id") < 10)
      val direct = Similarity.pqTopK(emb, q, 5, model).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
      val persisted = Similarity.pqTopKFromCodes(
          spark.read.parquet(s"$base/codes"), q, 5, loaded).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
      assert(persisted.sorted == direct.sorted,
        "persisted-index search must reproduce the in-memory search exactly")
    }
  }

  test("multi-probe IVF recall >= single-cell IVF on the trained quantizer") {
    val emb = Tables(spark, sf, "embeddings")
    val (assign, cents) = Similarity.kmeansTrain(emb, k = 4, iters = 2, dim = 64)
    val emb2 = emb.join(assign, "vec_id")
    val q = emb2.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame) =
      (bf intersect df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
        .size.toDouble / bf.size
    val single = recall(Similarity.ivfTopK(emb2, q, 5, coarseCol = "cid"))
    val multi = recall(Similarity.ivfTopKProbe(emb2, q, 5, nprobe = 2,
      centroids = cents, coarseCol = "cid"))
    assert(multi >= single, s"multi=$multi single=$single")
    // nprobe=2 of k=4 cells scans ~half the corpus per query
    assert(multi > 0.5, s"nprobe=2 recall=$multi")
  }

  test("extractDomains normalizes scheme/www/case/trailing dots; blocklist filters") {
    val d = docsOf(
      (1L, "see https://A.Example.COM/x and http://b.org?q=1"),
      (2L, "bare www.c.net. trailing"),
      (3L, "no urls here"),
      (4L, "dup https://d.io https://d.io www.d.io"))
    val r = d.select(col("doc_id"), TextFunctions.extractDomains(col("text")).as("doms"))
      .orderBy("doc_id").as[(Long, Seq[String])].collect()
    assert(r(0)._2 == Seq("a.example.com", "b.org"))
    assert(r(1)._2 == Seq("c.net"))
    assert(r(2)._2.isEmpty)
    assert(r(3)._2 == Seq("d.io")) // scheme'd and www forms collapse
    val kept = TextFunctions.filterBlockedDomains(d, Seq("b.org"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L))
  }

  test("blocklist-as-table == literal blocklist; plans hash joins, never a loop join") {
    val d = docsOf(
      (1L, "see https://A.Example.COM/x and http://b.org?q=1"),
      (2L, "bare www.c.net. trailing"),
      (3L, "no urls here"),
      (4L, "dup https://d.io https://d.io www.d.io"),
      (5L, "two hits http://b.org and www.d.io")) // multi-domain doc dedups to one drop
    for (blocked <- Seq(Seq("b.org"), Seq("b.org", "d.io"), Seq("nomatch.example"))) {
      val lit = TextFunctions.filterBlockedDomains(d, blocked)
        .select("doc_id").as[Long].collect().toSet
      val tbl = TextFunctions.filterBlockedDomains(d, blocked.toDF("domain"))
        .select("doc_id").as[Long].collect().toSet
      assert(tbl == lit, s"blocklist=$blocked: table=$tbl literal=$lit")
    }
    // scale shape: equi hash joins only — an array_contains join condition
    // would plan a BroadcastNestedLoopJoin scanning the blocklist per doc
    val plan = TextFunctions.filterBlockedDomains(d, Seq("b.org").toDF("domain"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"), plan)
  }

  test("multimodal: feature extraction matches per-byte math") {
    val media = Multimodal.asMedia(docsOf((1L, "ab")).withColumn("lang", lit("en")))
    val r = Multimodal.extractFeatures(spark, media).collect()(0)
    assert(r.getLong(1) == 2L) // n_bytes
    assert(r.getDouble(2) == ('a'.toInt + 'b'.toInt) / 2.0)
  }

  test("multimodal: frame sampling covers payload with stride") {
    val media = Multimodal.asMedia(
      docsOf((1L, "x" * 3000)).withColumn("lang", lit("en")))
    val frames = Multimodal.sampleFrames(media, 1024L).collect()
    assert(frames.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
    assert(frames.map(_.getLong(2)).toSeq == Seq(0L, 1024L, 2048L))
  }

  test("multimodal: real PNG encode→decode roundtrip; corrupt payloads yield nulls") {
    import spark.implicits._
    val dims = Seq((7L, 12, 5), (8L, 1, 1), (9L, 31, 17)).toDF("doc_id", "w", "h")
    val png = Multimodal.synthesizePng(spark, dims, "doc_id", "w", "h")
    val got = Multimodal.decodeImageMetaReal(spark, png)
      .orderBy("media_id")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect().toSeq
    assert(got == Seq(
      (7L, Some(12L), Some(5L), Some(3L)),
      (8L, Some(1L), Some(1L), Some(3L)),
      (9L, Some(31L), Some(17L), Some(3L))))
    // a corrupt blob must yield NULL dimensions, not kill the task
    val junk = Seq((1L, Array[Byte](1, 2, 3)), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val bad = Multimodal.decodeImageMetaReal(spark, junk).orderBy("media_id")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect().toSeq
    assert(bad == Seq((1L, None, None, None), (2L, None, None, None)))
  }

  test("multimodal: real WAV encode→decode roundtrip; corrupt payloads yield nulls") {
    import spark.implicits._
    val dims = Seq((7L, 120, 1), (8L, 1, 2), (9L, 8000, 2)).toDF("doc_id", "nf", "ch")
    val wav = Multimodal.synthesizeWav(spark, dims, "doc_id", "nf", "ch")
    val got = Multimodal.decodeAudioMetaReal(spark, wav)
      .orderBy("media_id")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect().toSeq
    assert(got == Seq(
      (7L, Some(8000L), Some(1L), Some(120L)),
      (8L, Some(8000L), Some(2L), Some(1L)),
      (9L, Some(8000L), Some(2L), Some(8000L))))
    // a corrupt / truncated / null blob must yield NULL metadata
    val junk = Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, null.asInstanceOf[Array[Byte]]),
      (3L, "RIFF1234WAVE".getBytes("US-ASCII"))) // valid magic, truncated
      .toDF("media_id", "payload")
    val bad = Multimodal.decodeAudioMetaReal(spark, junk).orderBy("media_id")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect().toSeq
    assert(bad == Seq((1L, None, None, None), (2L, None, None, None),
      (3L, None, None, None)))
  }

  test("multimodal: real MP4 encode→decode roundtrip (v0 mvhd)") {
    import spark.implicits._
    val dims = Seq((7L, 600L, 12345L), (8L, 1L, 1L), (9L, 90000L, 2700000L))
      .toDF("doc_id", "ts", "dur")
    val mp4 = Multimodal.synthesizeMp4(spark, dims, "doc_id", "ts", "dur")
    val got = Multimodal.decodeVideoMetaReal(spark, mp4)
      .orderBy("media_id")
      .as[(Long, Option[Long], Option[Long], Option[Double])].collect().toSeq
    assert(got == Seq(
      (7L, Some(600L), Some(12345L), Some(12345.0 / 600.0)),
      (8L, Some(1L), Some(1L), Some(1.0)),
      (9L, Some(90000L), Some(2700000L), Some(30.0))))
    // v0 fields are unsigned 32-bit: inputs ≥ 2^31 must be rejected
    // loudly, never wrapped negative (would silently disagree with any
    // oracle computing from the original value)
    val big = Seq((1L, 600L, Int.MaxValue.toLong + 1)).toDF("doc_id", "ts", "dur")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.synthesizeMp4(spark, big, "doc_id", "ts", "dur").collect()
    }
    assert(e.getMessage.contains("out of [0, 2^31)")
      || Option(e.getCause).exists(_.getMessage.contains("out of [0, 2^31)")))
  }

  test("multimodal: MP4 v1 mvhd, largesize framing, truncated/non-BMFF → nulls") {
    import spark.implicits._
    def be32(v: Long) = java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
    def be64(v: Long) = java.nio.ByteBuffer.allocate(8).putLong(v).array()
    def box(typ: String, body: Array[Byte]) =
      be32(8L + body.length) ++ typ.getBytes("US-ASCII") ++ body
    // size32 == 1 → real size is the 64-bit largesize after the type
    def largeBox(typ: String, body: Array[Byte]) =
      be32(1L) ++ typ.getBytes("US-ASCII") ++ be64(16L + body.length) ++ body
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32(0L) ++ "isom".getBytes("US-ASCII"))
    // v1 mvhd: version=1, 64-bit creation/modification/duration, 32-bit
    // timescale — duration deliberately > 2^32 to prove the 64-bit read
    val dur64 = 10_000_000_000L
    val mvhd1 = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ be64(0L) ++ be64(0L) ++ be32(90000L) ++ be64(dur64))
    // v0 mvhd: minimal 20-byte body the decoder reads
    val mvhd0 = box("mvhd",
      Array[Byte](0, 0, 0, 0) ++ be32(0L) ++ be32(0L) ++ be32(600L) ++ be32(4242L))
    val v1Payload = ftyp ++ box("moov", mvhd1)
    val largePayload = ftyp ++ largeBox("moov", mvhd0)
    // moov declares more bytes than the payload holds → corrupt framing
    val truncated = ftyp ++ be32(4096L) ++ "moov".getBytes("US-ASCII")
    val nonBmff = "this is not an mp4 container at all".getBytes("US-ASCII")
    val media = Seq(
      (1L, v1Payload), (2L, largePayload), (3L, truncated), (4L, nonBmff),
      (5L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val got = Multimodal.decodeVideoMetaReal(spark, media)
      .orderBy("media_id")
      .as[(Long, Option[Long], Option[Long], Option[Double])].collect().toSeq
    assert(got == Seq(
      (1L, Some(90000L), Some(dur64), Some(dur64.toDouble / 90000.0)),
      (2L, Some(600L), Some(4242L), Some(4242.0 / 600.0)),
      (3L, None, None, None),
      (4L, None, None, None),
      (5L, None, None, None)))
  }

  test("multimodal: real MJPEG synth→frame decode roundtrip; corrupt payloads") {
    val dims = Seq((1L, 3, 16, 8), (2L, 1, 32, 24), (3L, 0, 8, 8))
      .toDF("doc_id", "nf", "w", "h")
    val clips = Multimodal.synthesizeMjpeg(spark, dims, "doc_id", "nf", "w", "h")
    val frames = Multimodal.decodeVideoFramesReal(spark, clips)
      .orderBy("media_id", "frame_idx").collect()
    // doc 3 synthesized zero frames → no rows
    assert(frames.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L)))
    // decoded pixel stats equal the synthesized pure function of (id, f):
    // solid 8-aligned grayscale frames roundtrip JPEG bit-exactly
    for (r <- frames) {
      val (id, f) = (r.getLong(0), r.getLong(1))
      val (w, h) = if (id == 1L) (16L, 8L) else (32L, 24L)
      assert(r.getLong(2) == w && r.getLong(3) == h, r)
      assert(r.getDouble(4) == ((id * 131 + f * 31) % 256).toDouble, r)
    }
    // non-8-aligned dims are rejected (solid-block exactness contract)
    val e = intercept[Exception] {
      Multimodal.synthesizeMjpeg(spark,
        Seq((1L, 1, 10, 8)).toDF("doc_id", "nf", "w", "h"),
        "doc_id", "nf", "w", "h").collect()
    }
    assert(e.toString.contains("multiples of 8") ||
      Option(e.getCause).exists(_.getMessage.contains("multiples of 8")))
    // corrupt: garbage bytes carry no JPEG framing → no frame rows
    val garbage = Seq((9L, Array.fill[Byte](64)(0x42))).toDF("media_id", "payload")
    assert(Multimodal.decodeVideoFramesReal(spark, garbage).isEmpty)
    // a decodable frame followed by a header-scrambled one: the good
    // frame decodes, the bad one keeps its row with NULL stats
    val good = clips.filter(col("media_id") === 2L)
      .select("payload").as[Array[Byte]].head()
    val bad = good.clone()
    var i = 2
    while (i < bad.length - 2) { // keep SOI/EOI, kill every interior marker
      if (bad(i) == 0xff.toByte) bad(i) = 0x7f
      i += 1
    }
    val rows = Multimodal.decodeVideoFramesReal(spark,
        Seq((7L, good ++ bad)).toDF("media_id", "payload"))
      .orderBy("frame_idx").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(2) == 32L &&
      rows(0).getDouble(4) == ((2L * 131) % 256).toDouble)
    assert(rows(1).isNullAt(2) && rows(1).isNullAt(4))
  }

  test("native text kernels match HOF formulations bit-for-bit") {
    import org.apache.spark.sql.types._
    // include whitespace edges, unicode, short docs, repeats
    val fixtures = docsOf(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "  leading and   multi   space tokens here now "),
      (3L, "a b"), (4L, ""), (5L, "répété répété tökens ünïcode mixed in text"),
      (6L, (1 to 100).map(i => s"t${i % 13}").mkString(" ")))
      .union(Tables(spark, sf, "documents").select("doc_id", "text").limit(100))
    val hofMh = (0 until Dedup.NumPerms).map { j =>
      array_min(transform(
        transform(array_distinct(TextFunctions.shingles(col("text"), 3)),
          t => TextFunctions.tokenHash(t)),
        h => (h * Dedup.MinhashA(j) + Dedup.MinhashB(j)) % Dedup.MinhashP))
    }
    val hofSim = {
      val hs = transform(array_distinct(TextFunctions.tokens(col("text"))),
        t => TextFunctions.tokenHash(t))
      (0 until Dedup.SimhashBits).map { i =>
        when(aggregate(hs, lit(0L), (acc, h) =>
          acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)
        ) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val cmp = fixtures.select(
      (md5(TextFunctions.normalize(col("text"))) ===
        graft.plans.NormalizedMd5(col("text"))).as("md5_eq"),
      (array_distinct(TextFunctions.shingles(col("text"), 3)) ===
        graft.plans.ShingleArray(col("text"), 3)).as("sh_eq"),
      (array(hofMh: _*) === graft.plans.MinHashSignature(col("text"), 3)).as("mh_eq"),
      (hofSim === graft.plans.SimHashSignature(col("text"), Dedup.SimhashBits)).as("sim_eq"))
      .collect()
    cmp.zipWithIndex.foreach { case (r, i) =>
      assert(r.getBoolean(0), s"md5 fingerprint diverges on row $i")
      assert(r.getBoolean(1), s"shingles diverge on row $i")
      assert(!r.isNullAt(2) && r.getBoolean(2) || r.isNullAt(2), s"minhash diverges on row $i")
      assert(r.getBoolean(3), s"simhash diverges on row $i")
    }
  }

  test("asofJoin picks the latest right row at-or-before each left ts") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 300L), (4L, 20L, 150L))
      .toDF("id", "k", "t")
    val right = Seq((10L, 100L, "a"), (10L, 200L, "b"), (10L, 400L, "c"), (30L, 1L, "z"))
      .toDF("k", "t", "v")
    val r = graft.operators.AsOf.asofJoin(left, right, "k", "t", Seq("v"))
      .orderBy("id").collect()
      .map(x => (x.getLong(0), Option(x.getString(3)).getOrElse("-")))
    // id 1: right at t=100 (equality counts); id 2: t=200; id 3: t=200
    // (t=400 is in the future); id 4: no right rows for k=20 → null
    assert(r.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "-")))
  }

  test("asofJoin forward/nearest/tolerance follow merge_asof semantics") {
    import graft.operators.AsOf
    val left = Seq((1L, 10L, 10L), (2L, 10L, 20L), (3L, 10L, 30L))
      .toDF("id", "k", "t")
    val right = Seq((10L, 12L, "a"), (10L, 29L, "b")).toDF("k", "t", "v")
    def run(dir: String, tol: Option[Double]) =
      AsOf.asofJoin(left, right, "k", "t", Seq("v"), dir, tol)
        .orderBy("id").collect()
        .map(x => Option(x.getString(3)).getOrElse("-")).toSeq
    assert(run("backward", None) == Seq("-", "a", "b")) // latest at-or-before
    assert(run("forward", None) == Seq("a", "b", "-"))  // earliest at-or-after
    // nearest: t=10 → 12 (only side); t=20 → |20-12|=8 < |29-20|=9 → back;
    // t=30 → |30-29|=1 → back
    assert(run("nearest", None) == Seq("a", "a", "b"))
    // tolerance nulls matches beyond the horizon without falling back
    assert(run("forward", Some(5.0)) == Seq("a", "-", "-"))
    assert(run("backward", Some(2.0)) == Seq("-", "-", "b"))
    // nearest with an exact tie goes backward (pandas tie rule)
    val tied = AsOf.asofJoin(
      Seq((1L, 10L, 20L)).toDF("id", "k", "t"),
      Seq((10L, 15L, "back"), (10L, 25L, "fwd")).toDF("k", "t", "v"),
      "k", "t", Seq("v"), "nearest").collect()(0).getString(3)
    assert(tied == "back")
  }

  test("asofJoin: a latest right row with NULL value wins and delivers its null") {
    val left = Seq((1L, 10L, 300L)).toDF("id", "k", "t")
    val right = Seq((10L, 100L, Some("a")), (10L, 200L, None))
      .toDF("k", "t", "v")
    val r = graft.operators.AsOf.asofJoin(left, right, "k", "t", Seq("v")).collect()(0)
    // the t=200 row IS the as-of match; its null must not be skipped in
    // favor of the stale t=100 value
    assert(r.isNullAt(3), s"expected null v, got ${r.get(3)}")
  }

  test("cosine/dot: zero-norm and length-mismatch yield NULL, never NaN") {
    val df = Seq(
      (1L, Array(0.0f, 0.0f), Array(1.0f, 2.0f)),   // zero norm
      (2L, Array(1.0f, 2.0f), Array(1.0f, 2.0f)))   // well-formed
      .toDF("id", "a", "b")
    val r = df.select(col("id"), Similarity.cosine(col("a"), col("b")))
      .orderBy("id").collect()
    assert(r(0).isNullAt(1), "zero-norm cosine must be NULL (NaN passes >= filters)")
    assert(math.abs(r(1).getDouble(1) - 1.0) < 1e-12)
    val mism = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val m = mism.select(Similarity.dot(col("a"), col("b")),
      Similarity.cosine(col("a"), col("b"))).collect()(0)
    assert(m.isNullAt(0) && m.isNullAt(1), "length mismatch must be NULL")
  }

  test("rangeJoin: fractional end hits its final bucket; inverted intervals dropped") {
    val pts = Seq((1L, 5L, 14L)).toDF("id", "k", "t")
    val ivs = Seq((5L, 8L, 15L), (5L, 1000L, 10L)) // second is inverted
      .toDF("k", "lo", "hi")
    // bucket width 7: interval [8,15) overlaps buckets 1 AND 2; the point
    // t=14 sits in bucket 2 — floor((end-1)/w) would have missed it
    val r = graft.operators.AsOf.rangeJoin(pts, ivs, "k", "t", "lo", "hi", 7L)
      .select("id", "lo").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((1L, 8L)))
  }

  test("rangeJoin matches points to containing intervals, end exclusive") {
    val pts = Seq((1L, 5L, 10L), (2L, 5L, 25L), (3L, 5L, 30L), (4L, 6L, 10L))
      .toDF("id", "k", "t")
    val ivs = Seq((5L, 0L, 20L), (5L, 8L, 30L), (6L, 100L, 200L))
      .toDF("k", "lo", "hi")
    val r = graft.operators.AsOf.rangeJoin(pts, ivs, "k", "t", "lo", "hi", 7L)
      .select("id", "lo").orderBy("id", "lo").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    // t=10 ∈ [0,20) and [8,30); t=25 ∈ [8,30); t=30 excluded (end
    // exclusive); k=6 point has no containing interval
    assert(r.toSeq == Seq((1L, 0L), (1L, 8L), (2L, 8L)))
  }

  test("langid picks the dominant stopword language") {
    val r = docsOf(
      (1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze ist ein"))
      .select(TextFunctions.langId(col("text"))).as[String].collect().toSeq
    assert(r == Seq("en", "de"))
  }

  test("pagerank: symmetry, centrality ordering, partitioning invariance") {
    import graft.operators.Graph
    def undirected(pairs: (String, String)*) = {
      val e0 = pairs.toDF("src", "dst")
      e0.union(e0.select(col("dst"), col("src")))
    }
    // two symmetric nodes → identical ranks
    val two = Graph.pagerank(undirected(("a", "b")), iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(two("a") == two("b"))
    // star: the hub out-ranks every leaf, leaves are symmetric
    val star = Graph.pagerank(
      undirected(("hub", "x"), ("hub", "y"), ("hub", "z")), iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(star("hub") > star("x") && star("x") == star("y") && star("y") == star("z"))
    // every rank carries at least the teleport base mass
    assert(star.values.forall(_ >= 150000L))
    // deterministic across partitionings: int64 arithmetic has no
    // float-summation order to disturb
    val e = undirected(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
    val r1 = Graph.pagerank(e.repartition(1), iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val r13 = Graph.pagerank(e.repartition(13), iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(r1 == r13)
  }

  test("pagerank: relabeling equivariance and teleport mass conservation (non-replay witnesses)") {
    // the DuckDB oracle replays the identical iterations, so these are
    // the independent checks a shared-formulation bug would fail:
    // (1) ranks are a function of the graph SHAPE — any id relabeling
    // permutes them and changes nothing else; (2) each round holds
    // Σranks within the rounding slack of n·scale (every node floors
    // at most 1 unit per incoming term), so mass can neither leak nor
    // be invented.
    import graft.operators.Graph
    def undirected(pairs: (Long, Long)*) = {
      val e0 = pairs.toDF("src", "dst")
      e0.union(e0.select(col("dst"), col("src")))
    }
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val r = Graph.pagerank(undirected(base: _*), iters = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    def m(i: Long) = 1000 - 7 * i // NON-monotone relabeling: order must not matter
    val r2 = Graph.pagerank(
      undirected(base.map { case (a, b) => (m(a), m(b)) }: _*), iters = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r2 == r.map { case (id, v) => m(id) -> v },
      s"relabeling must permute ranks only: $r vs $r2")
    val n = r.size; val scale = 1000000L
    val total = r.values.sum
    // deterministic floor rounding loses < (in-degree) units per node
    // per round; 3 rounds on degree ≤ 3 nodes → slack far under 100
    assert(total <= n * scale && total > n * scale - 100,
      s"mass conservation violated: $total vs ${n * scale}")
  }

  test("kCore: cascading peel, whole-graph core, empty core, bad input") {
    import graft.operators.Graph
    // K4 {1,2,3,4} plus a pendant chain 4—5—6: the 2-core must peel 6
    // FIRST (deg 1), which then exposes 5 (deg drops 2→1) — the
    // cascade that makes the peel iterative
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val e = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val got = Graph.kCore(e, k = 2).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=3: K4 survives intact; k=4: nothing does
    assert(Graph.kCore(e, 3).as[(Long, Long)].collect().toMap
      == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Graph.kCore(e, 4).count() == 0)
    // k=1 on a clean graph: everything survives (dedup'd, self-loops dropped)
    val dirty = (k4 ++ k4.map(_.swap) :+ ((7L, 7L))).toDF("src", "dst")
    assert(Graph.kCore(dirty, 1).count() == 4)
    // insufficient maxIter fails fast instead of returning a non-core
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalArgumentException] { Graph.kCore(chain, 2, maxIter = 2) }
  }

  test("canonicalUrlKey collapses equivalent URL variants to one key") {
    val urls = Seq(
      "HTTP://WWW.X.com/a/?utm=1#f",
      "http://x.com/a",
      "http://x.com/a/",
      "http://X.COM/a#other").toDF("u")
    val keys = urls.select(TextFunctions.canonicalUrlKey(col("u")))
      .as[String].collect().toSet
    assert(keys == Set("http://x.com/a"))
    // distinct pages stay distinct
    val other = Seq("http://x.com/b", "https://x.com/a", "http://y.com/a").toDF("u")
      .select(TextFunctions.canonicalUrlKey(col("u"))).as[String].collect().toSet
    assert(other.size == 3 && !other.contains("http://x.com/a"))
  }

  test("stripMarkup removes blocks/tags, decodes entities, keeps text") {
    val r = docsOf(
      (1L, "<p>Hello <b>world</b></p><script>alert('x &lt; y')</script> done"),
      (2L, "<STYLE>p{}</STYLE>A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;Z"),
      (3L, "plain text, no markup"),
      (4L, "<!-- note\nmultiline -->kept <div\n  class='x'>inner</div>"))
      .select(TextFunctions.stripMarkup(col("text"))).as[String].collect().toSeq
    assert(r == Seq(
      "Hello world done",          // script content dropped entirely
      "A & B <tag> \"q\" 's' Z",   // entities decode AFTER tag strip
      "plain text, no markup",     // no-op on clean text
      "kept inner"))               // multiline comment + multiline tag
  }

  test("tfidfTopK: distinctive terms out-rank common ones, bounded plan") {
    val docs = docsOf(
      (1L, "a a a u"),     // tf(a)=3 df(a)=2 → 1.5; tf(u)=1 df(u)=1 → 1.0
      (2L, "a b b b"))     // tf(b)=3 df(b)=1 → 3.0; tf(a)=1 df(a)=2 → 0.5
    val r = TextFunctions.tfidfTopK(docs, col("text"), k = 2)
      .orderBy("doc_id", "rank")
      .as[(Long, Long, String, Double)].collect().toSeq
    assert(r == Seq(
      (1L, 1L, "a", 1.5), (1L, 2L, "u", 1.0),
      (2L, 1L, "b", 3.0), (2L, 2L, "a", 0.5)))
    // ranking must be the bounded aggregate, not a per-doc window sort
    val plan = TextFunctions.tfidfTopK(docs, col("text"), k = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"tfidf plan uses a window:\n$plan")
  }

  test("encodeTokens: ranked vocab ids, OOV → 0, positions 1-based") {
    val docs = docsOf(
      (1L, "b b b a a c"),
      (2L, "a zz b"))
    val vocab = TextFunctions.buildVocab(docs, col("text"), 2)
    // counts: b=4, a=3 → vocab; c and zz fall out
    assert(vocab.orderBy("id").as[(String, Long)].collect().toSeq ==
      Seq(("b", 1L), ("a", 2L)))
    val enc = TextFunctions.encodeTokens(docs, col("text"), vocab)
      .orderBy("doc_id", "pos").as[(Long, Long, Long)].collect().toSeq
    assert(enc == Seq(
      (1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 2L), (1L, 5L, 2L), (1L, 6L, 0L),
      (2L, 1L, 2L), (2L, 2L, 0L), (2L, 3L, 1L)))
  }

  test("QuantizedL2: exact int64 squared distance; length mismatch → NULL") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextLong() % (1L << 20)),
        Array.fill(16)(rnd.nextLong() % (1L << 20)))
    }
    val got = rows.toDF("id", "a", "b")
      .select(col("id"), graft.plans.QuantizedL2(col("a"), col("b")).as("d"))
      .orderBy("id").as[(Long, Long)].collect()
    rows.zip(got).foreach { case ((_, a, b), (_, d)) =>
      val want = a.zip(b).map { case (x, y) => val t = x - y; t * t }.sum
      assert(d == want)
    }
    val mism = Seq((Array(1L, 2L), Array(1L, 2L, 3L))).toDF("a", "b")
      .select(graft.plans.QuantizedL2(col("a"), col("b"))).collect()(0)
    assert(mism.isNullAt(0))
  }

  test("chunkTokens: overlapping windows cover every token; tail chunk short") {
    // 7 tokens, window 4 stride 2 → starts 0,2,4,6
    val r = graft.operators.Pack.chunkTokens(
      docsOf((1L, "t0 t1 t2 t3 t4 t5 t6")), window = 4, stride = 2)
      .orderBy("chunk_idx")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(r == Seq(
      (1L, 0L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 2L, 4L, "t2 t3 t4 t5"),
      (1L, 2L, 4L, 3L, "t4 t5 t6"),
      (1L, 3L, 6L, 1L, "t6")))
    // every token appears in at least one chunk
    val covered = r.flatMap(_._5.split(" ")).toSet
    assert(covered == (0 to 6).map(i => s"t$i").toSet)
  }

  test("repetitionStats: hand-computed fractions; single token → zero bigram fracs") {
    // tokens [a b a b c]: n=5, distinct=3 → dup_token 2/5
    // bigrams [a b, b a, a b, b c]: top count 2/4, dup instances 2/4
    val r = docsOf((1L, "a b a b c"), (2L, "solo"))
      .select(col("doc_id"), TextFunctions.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_tokens"), col("r.dup_token_frac"),
        col("r.top_bigram_frac"), col("r.dup_bigram_frac"))
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(r(0) == ((1L, 5L, 0.4, 0.5, 0.5)))
    assert(r(1) == ((2L, 1L, 0.0, 0.0, 0.0)))
  }

  test("repetitionStats: all-repeated doc maxes every fraction") {
    val r = docsOf((1L, "x x x x"))
      .select(TextFunctions.repetitionStats(col("text")).as("r"))
      .select(col("r.dup_token_frac"), col("r.top_bigram_frac"), col("r.dup_bigram_frac"))
      .as[(Double, Double, Double)].collect().head
    assert(r == ((0.75, 1.0, 1.0)))
  }

  test("Tensor.transpose permutes axes; invalid permutation fails loudly") {
    import graft.operators.Tensor
    // 2×3 matrix [[1,2,3],[4,5,6]] in coordinate form
    val m = Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (0L, 2L, 3.0),
      (1L, 0L, 4.0), (1L, 1L, 5.0), (1L, 2L, 6.0)).toDF("i", "j", "v")
    val tr = Tensor.transpose(m, Seq("i", "j"), "v")
      .orderBy("d0", "d1").as[(Long, Long, Double)].collect().toSeq
    assert(tr == Seq((0L, 0L, 1.0), (0L, 1L, 4.0), (1L, 0L, 2.0),
      (1L, 1L, 5.0), (2L, 0L, 3.0), (2L, 1L, 6.0)))
    // identity permutation keeps cells, renames to positional d0/d1
    val id = Tensor.transpose(m, Seq("i", "j"), Seq(0, 1), "v")
    assert(id.columns.toSeq == Seq("d0", "d1", "v") && id.count() == 6)
    // transpose is projection-only: no exchange in the plan
    val plan = Tensor.transpose(m, Seq("i", "j"), "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"transpose must not shuffle:\n$plan")
    intercept[IllegalArgumentException] {
      Tensor.transpose(m, Seq("i", "j"), Seq(0, 0), "v")
    }
  }

  test("Tensor.tensordot: hand matmul, self-Gram, full contraction, sparse zeros") {
    import graft.operators.Tensor
    // A: 2×3 [[1,2,3],[4,5,6]]; B: 3×2 [[7,8],[9,10],[11,12]]
    val a = Seq((0L, 0L, 1L), (0L, 1L, 2L), (0L, 2L, 3L),
      (1L, 0L, 4L), (1L, 1L, 5L), (1L, 2L, 6L)).toDF("i", "k", "v")
    val b = Seq((0L, 0L, 7L), (0L, 1L, 8L), (1L, 0L, 9L), (1L, 1L, 10L),
      (2L, 0L, 11L), (2L, 1L, 12L)).toDF("k", "j", "v")
    val ab = Tensor.tensordot(a, b, Seq("i", "k"), Seq("k", "j"),
        Seq("k" -> "k"), "v", "v")
      .orderBy("d0", "d1").as[(Long, Long, Long)].collect().toSeq
    // A·B = [[58,64],[139,154]]
    assert(ab == Seq((0L, 0L, 58L), (0L, 1L, 64L), (1L, 0L, 139L), (1L, 1L, 154L)))
    // self-contraction (Gram AᵀA) — same plan on both sides must not
    // trip Spark's ambiguous-self-join analysis
    val gram = Tensor.tensordot(a, a, Seq("i", "k"), Seq("i", "k"),
        Seq("i" -> "i"), "v", "v")
      .orderBy("d0", "d1").as[(Long, Long, Long)].collect().toSeq
    // AᵀA = [[17,22,27],[22,29,36],[27,36,45]]
    assert(gram == Seq((0L, 0L, 17L), (0L, 1L, 22L), (0L, 2L, 27L),
      (1L, 0L, 22L), (1L, 1L, 29L), (1L, 2L, 36L),
      (2L, 0L, 27L), (2L, 1L, 36L), (2L, 2L, 45L)))
    // contracting ALL axes yields the scalar Frobenius inner product
    val frob = Tensor.tensordot(a, a, Seq("i", "k"), Seq("i", "k"),
        Seq("i" -> "i", "k" -> "k"), "v", "v")
      .as[Long].collect().toSeq
    assert(frob == Seq(1 + 4 + 9 + 16 + 25 + 36))
    // sparse semantics: a pairing with no matching contraction rows
    // produces no output row (implicit zero), not a null
    val sparseA = Seq((0L, 0L, 2L)).toDF("i", "k", "v") // only k=0
    val sparseB = Seq((1L, 0L, 3L)).toDF("k", "j", "v") // only k=1
    assert(Tensor.tensordot(sparseA, sparseB, Seq("i", "k"), Seq("k", "j"),
      Seq("k" -> "k"), "v", "v").count() == 0)
    intercept[IllegalArgumentException] {
      Tensor.tensordot(a, b, Seq("i", "k"), Seq("k", "j"), Nil, "v", "v")
    }
    intercept[IllegalArgumentException] {
      Tensor.tensordot(a, b, Seq("i", "k"), Seq("k", "j"),
        Seq("nope" -> "k"), "v", "v")
    }
  }

  test("Bpe.encode replays the trainer's own rewrite on training docs") {
    import graft.functions.Bpe
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 60)
    val (merges, rewritten) = Bpe.train(docs, col("text"), rounds = 3)
    assert(merges.size == 3)
    val exp = rewritten.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    val got = Bpe.encode(docs, col("text"), merges).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    assert(got == exp)
  }

  test("Bpe.train: greedy merges, total-order pair choice, early stop") {
    import spark.implicits._
    import graft.functions.Bpe
    val docs = Seq((1L, "a b c a b a b"), (2L, "b c a b c"), (3L, "x y a b"))
      .toDF("doc_id", "text")
    val (merges, corpus) = Bpe.train(docs, col("text"), rounds = 2, joiner = "+")
    // round 1: (a,b) ×5; round 2: the fused token pairs with c ×2
    assert(merges == Seq(Bpe.Merge(1, "a", "b", 5L), Bpe.Merge(2, "a+b", "c", 2L)))
    val ts = corpus.orderBy("doc_id").select("ts")
      .as[Seq[String]].collect().toSeq
    assert(ts == Seq(Seq("a+b+c", "a+b", "a+b"), Seq("b", "c", "a+b+c"),
      Seq("x", "y", "a+b")))
    // overlapping runs merge greedily left-to-right: a a a -> [aa, a]
    val (m2, c2) = Bpe.train(Seq((1L, "a a a")).toDF("doc_id", "text"),
      col("text"), rounds = 1, joiner = "")
    assert(m2 == Seq(Bpe.Merge(1, "a", "a", 2L)))
    assert(c2.select("ts").as[Seq[String]].collect().head == Seq("aa", "a"))
    // early stop: corpus collapses to single tokens before 64 rounds
    val (m3, _) = Bpe.train(Seq((1L, "p q")).toDF("doc_id", "text"),
      col("text"), rounds = 10, joiner = "+")
    assert(m3 == Seq(Bpe.Merge(1, "p", "q", 1L)))
  }

  test("Validate: null counts as violation, duplicate rows counted, dangling FKs found") {
    import spark.implicits._
    import graft.operators.Validate
    val df = Seq((1L, Some(5.0)), (2L, Some(-1.0)), (3L, None), (2L, Some(2.0)))
      .toDF("k", "v")
    val rules = Validate.checkRules(df, Seq(
        "v_nonneg" -> (col("v") >= 0), "k_small" -> (col("k") < 100)))
      .as[(String, Long)].collect().toMap
    // -1 violates; NULL is "not provably valid" → also a violation
    assert(rules == Map("v_nonneg" -> 2L, "k_small" -> 0L))
    // key 2 occurs twice → BOTH rows are violations
    val uniq = Validate.checkUnique(df, Seq("k")).as[(String, Long)].collect().head
    assert(uniq == ("unique(k)", 2L))
    // empty input: zero violations, not an empty result
    assert(Validate.checkUnique(df.filter(col("k") < 0), Seq("k"))
      .as[(String, Long)].collect().head._2 == 0L)
    val dim = Seq(1L, 2L).toDF("id")
    val fk = Validate.checkForeignKey(df, "k", dim, "id")
      .as[(String, Long)].collect().head
    assert(fk._2 == 1L) // only k=3 dangles (its two rows... one row: k=3 once)
    intercept[IllegalArgumentException] {
      Validate.checkRules(df, Seq("a" -> lit(true), "a" -> lit(false)))
    }
  }

  test("temperatureSample: low-resource groups upweighted, monotone in target, invariant") {
    import spark.implicits._
    import graft.operators.Sampling
    // 90/10 imbalance; sqrt-temperature target shares are 75/25
    val df = ((0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 1000).map(i => (i.toLong, "small"))).toDF("id", "g")
    val kept = Sampling.temperatureSample(df, col("id"), "g", targetRows = 100, seed = 3)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    val total = kept.values.sum
    assert(total > 60 && total < 140, s"total $total far from target 100")
    // raw share of 'small' is 10%; temperature must push it well up
    assert(kept("small").toDouble / total > 0.15, kept.toString)
    // monotone: a smaller target draws a SUBSET (rates scale with T,
    // the hash bucket per row is fixed)
    val ids100 = Sampling.temperatureSample(df, col("id"), "g", 100, seed = 3)
      .select("id").as[Long].collect().toSet
    val ids50 = Sampling.temperatureSample(df, col("id"), "g", 50, seed = 3)
      .select("id").as[Long].collect().toSet
    assert(ids50.subsetOf(ids100))
    // partitioning-invariant (pure function of the data)
    val ids100b = Sampling.temperatureSample(df.repartition(17), col("id"), "g", 100, seed = 3)
      .select("id").as[Long].collect().toSet
    assert(ids100b == ids100)
  }

  test("bm25Scores: term frequency, doc-length normalization, validation") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "spark spark spark"),              // high tf, short
      (2L, "spark noise noise noise noise"),  // tf 1, longer
      (3L, "noise only here"),                // no query term
      (4L, "spark spark noise")).toDF("doc_id", "text")
    val r = TextFunctions.bm25Scores(docs, col("text"), Seq("spark"))
      .orderBy(col("score").desc, col("doc_id"))
      .as[(Long, Double)].collect().toSeq
    // doc 3 has no query term → absent; tf and length ordering: doc 1
    // (tf 3, dl 3) > doc 4 (tf 2, dl 3) > doc 2 (tf 1, dl 5)
    assert(r.map(_._1) == Seq(1L, 4L, 2L))
    assert(r.forall(_._2 > 0))
    intercept[IllegalArgumentException] {
      TextFunctions.bm25Scores(docs, col("text"), Nil)
    }
    intercept[IllegalArgumentException] {
      TextFunctions.bm25Scores(docs, col("text"), Seq("a", "a"))
    }
  }

  test("duplicatedSpanStats: shared spans counted per instance, unique docs zero") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a b c d e x y z w v"),   // spans: abcde..., shares abcde with doc 2
      (2L, "a b c d e q r s t u"),
      (3L, "completely different words here indeed")).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpanStats(docs, n = 5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // docs 1,2 have 10 - 5 + 1 = 6 spans and share exactly the
    // "a b c d e" span (1 instance each); doc 3 (5 tokens → 1 span)
    // shares nothing
    assert(r == Seq(
      (1L, 6L, 1L, 1.0 / 6.0),
      (2L, 6L, 1L, 1.0 / 6.0),
      (3L, 1L, 0L, 0.0)))
    // short doc: fewer tokens than n → no row
    val short = Seq((9L, "too short")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpanStats(short, n = 5).count() == 0)
  }

  test("Spider.discover: mixed-format tree, parquet dirs bound once, junk skipped") {
    import graft.sources.Spider
    import spark.implicits._
    Scratch.using(spark, "graft-test-spider") { root =>
      val df3 = Seq((1, "x"), (2, "y")).toDF("a", "b")
      df3.write.mode("overwrite").parquet(s"$root/pq")
      df3.write.mode("overwrite").option("header", "true").csv(s"$root/nested/c")
      df3.withColumn("c", lit(3)).write.mode("overwrite").json(s"$root/j")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(root).toUri.getPath, "junk.bin"),
        Array[Byte](1, 2, 3))
      val got = Spider.discover(spark, root)
        .select("dataset", "format", "n_cols")
        .as[(String, String, Long)].collect().toSeq
      assert(got == Seq(("j", "json", 3L), ("nested.c", "csv", 2L),
        ("pq", "parquet", 2L)), got.toString)
    }
  }

  test("triangleCount: K4, paths, dirty input, hub skew") {
    import spark.implicits._
    import graft.operators.Graph
    def tri(e: Seq[(Long, Long)]): Long =
      Graph.triangleCount(e.toDF("src", "dst")).as[Long].collect().head
    // K4 has C(4,3) = 4 triangles
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
    assert(tri(k4) == 4L)
    // a path has none
    assert(tri(Seq((1L,2L),(2L,3L),(3L,4L))) == 0L)
    // duplicates, reversed copies, and self-loops must not change the
    // count — canonicalization handles dirty crawl-graph input
    assert(tri(k4 ++ k4.map(_.swap) ++ Seq((2L,2L),(1L,2L))) == 4L)
    // hub star (no triangles) + one closing edge = exactly the two
    // triangles through the hub; exercises the degree-skew orientation
    val star = (2L to 20L).map(i => (1L, i))
    assert(tri(star :+ (2L -> 3L) :+ (3L -> 4L)) == 2L)
  }

  test("localClusteringCoefficient: K4, triangle+tail, dirty input") {
    import graft.operators.Graph
    def coefs(e: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] =
      Graph.localClusteringCoefficient(e.toDF("src", "dst"))
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // K4: every node has deg 3 and sits in 3 of the 4 triangles → 1.0
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
    assert(coefs(k4).values.forall(_ == ((3L, 3L, 1.0))))
    // triangle 1-2-3 with a tail 3-4: node 3 sees 1 of its C(3,2)=3
    // neighbor pairs connected; the degree-1 tail scores 0 not NULL
    val tailed = Seq((1L,2L),(2L,3L),(1L,3L),(3L,4L))
    val r = coefs(tailed)
    assert(r(1L) == ((2L, 1L, 1.0)) && r(2L) == ((2L, 1L, 1.0)))
    assert(r(3L) == ((3L, 1L, 1.0 / 3.0)) && r(4L) == ((1L, 0L, 0.0)))
    // duplicates / reversed copies / self-loops do not change anything
    assert(coefs(tailed ++ tailed.map(_.swap) ++ Seq((2L, 2L))) == r)
  }

  test("degreeAssortativity: star = -1, regular graph NULL, dirty-input invariance") {
    import graft.operators.Graph
    def assort(e: Seq[(Long, Long)]) =
      Graph.degreeAssortativity(e.toDF("src", "dst")).head()
    // a star is perfectly disassortative: every edge joins deg n-1 to deg 1
    val star = (2L to 6L).map(i => (1L, i))
    val rs = assort(star)
    assert(rs.getLong(0) == 5L && rs.getDouble(1) == -1.0)
    // a cycle is degree-regular: zero variance → undefined → NULL
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(assort(cycle).isNullAt(1))
    // canonicalization: duplicates, reversed copies, self-loops
    val dirty = star ++ star.map(_.swap) ++ Seq((1L, 1L), (1L, 2L))
    assert(assort(dirty).getDouble(1) == -1.0)
  }

  test("mutualKnnGraph: mutuality filter, block isolation, rank bookkeeping") {
    import graft.operators.Similarity
    def emb(rows: (Long, Seq[Float], Int)*) =
      rows.toDF("vec_id", "embedding", "blk")
    // A and B choose each other; C's top-1 is B but B's is A → only
    // the (A, B) edge is mutual at k = 1
    val e = emb(
      (1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0), (3L, Seq(0f, 1f), 0))
    val r1 = Similarity.mutualKnnGraph(e, k = 1, blockCol = "blk")
      .select("id_a", "id_b", "rank_ab", "rank_ba")
      .as[(Long, Long, Int, Int)].collect().toSeq
    assert(r1 == Seq((1L, 2L, 1, 1)), s"got $r1")
    // at k = 2 every in-block pair is mutual on 3 nodes
    val r2 = Similarity.mutualKnnGraph(e, k = 2, blockCol = "blk")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(r2 == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // blocks isolate: identical vectors in different blocks never pair
    val blocked = emb((1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 1))
    assert(Similarity.mutualKnnGraph(blocked, k = 1, blockCol = "blk").count() == 0)
    // shard cap: below shardTarget the subdivide is a no-op (identical
    // to the exact shardTarget=0 graph); forcing 1-row shards can only
    // REMOVE edges — the shard-local graph is a subgraph
    val exact = Similarity.mutualKnnGraph(e, k = 2, blockCol = "blk", shardTarget = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == r2, "default shard is a no-op on a small corpus")
    val sharded = Similarity.mutualKnnGraph(e, k = 2, blockCol = "blk", shardTarget = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sharded.subsetOf(exact), s"shard-local must be a subgraph: $sharded")
  }

  test("plan guards: mutual-kNN ranks without windows; ACF folds all lags in one window pass") {
    import graft.operators.{Behavior, Graph}
    // mutual-kNN ranking must stay the bounded TopKByScore aggregate —
    // a Window here would funnel each node's full candidate set
    val emb = Seq((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0))
      .toDF("vec_id", "embedding", "blk")
    val knnPlan = Similarity.mutualKnnGraph(emb, k = 1, blockCol = "blk")
      .queryExecution.executedPlan.toString
    assert(!knnPlan.contains("Window"),
      "ranking must be the bounded aggregate, never a window")
    // all maxLag leads share ONE window spec → Catalyst plans ONE
    // Window operator (one per-entity sort, not one per lag)
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 1L, 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 1L, 2.0))
      .toDF("event_id", "ts", "user_id", "value")
    val acfPlan = Behavior.autocorrelation(ev, maxLag = 3)
      .queryExecution.executedPlan.toString
    assert(acfPlan.sliding(7).count(_ == "Window ") == 1,
      s"expected exactly one Window pass, plan:\n$acfPlan")
    // assortativity and clustering coefficient stay window-free
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(!Graph.degreeAssortativity(e)
      .queryExecution.executedPlan.toString.contains("Window"))
    assert(!Graph.localClusteringCoefficient(e)
      .queryExecution.executedPlan.toString.contains("Window"))
  }

  test("kmvDistinct: exact below k, ~1/sqrt(k) accurate above, partition-invariant") {
    import spark.implicits._
    import graft.operators.Sketch
    // 40 distinct values with duplicates, k=64 → sketch holds every
    // hash → EXACT count
    val small = (0 until 120).map(i => ("g", (i % 40).toLong)).toDF("g", "v")
    val exact = Sketch.kmvDistinct(small, col("v"), Seq("g"), k = 64)
      .as[(String, Long)].collect().toMap
    assert(exact("g") == 40L)
    // 5000 distinct values, k=64 → estimate within 4/sqrt(64) = 50%
    // (loose bound: md5 is fixed, so this is a deterministic check of
    // THIS hash draw, not a statistical assertion that could flake)
    val big = (0 until 10000).map(i => ("g", (i % 5000).toLong)).toDF("g", "v")
    val est = Sketch.kmvDistinct(big, col("v"), Seq("g"), k = 64)
      .as[(String, Long)].collect().toMap.apply("g")
    assert(est > 2500 && est < 10000, s"KMV estimate $est far from 5000")
    // pure function of the data: any partitioning yields the identical
    // estimate (the property HLL++ register merges do NOT guarantee
    // across engines)
    val est2 = Sketch.kmvDistinct(big.repartition(13), col("v"), Seq("g"), k = 64)
      .as[(String, Long)].collect().toMap.apply("g")
    assert(est2 == est)
  }

  test("quantileSampled: frac=1 is the exact discrete quantile; endpoints; invariance") {
    import spark.implicits._
    import graft.operators.Sketch
    val df = (1 to 101).map(i => ("g", i.toLong)).toDF("g", "v")
    def q(num: Int, den: Int, frac: Double) =
      Sketch.quantileSampled(df, col("v"), col("v"), Seq("g"), num, den, frac, seed = 1)
        .select("quantile").as[Long].collect().head
    // full sample: median of 1..101 is 51, q=0 → min, q=1 → max
    assert(q(1, 2, 1.0) == 51L)
    assert(q(0, 1, 1.0) == 1L)
    assert(q(1, 1, 1.0) == 101L)
    // sampled median is deterministic and within the order-statistic
    // band for this fixed hash draw
    val m = q(1, 2, 0.5)
    assert(m == q(1, 2, 0.5))
    assert(m > 30 && m < 72, s"sampled median $m implausible for 1..101")
    // partitioning does not change the estimate
    val m2 = Sketch.quantileSampled(df.repartition(7), col("v"), col("v"),
        Seq("g"), 1, 2, 0.5, seed = 1)
      .select("quantile").as[Long].collect().head
    assert(m2 == m)
  }

  test("kmvMergeEstimate: merged-from-sketches equals direct (the merge law)") {
    val docs = (0L until 300L).map(i => (i, s"src${i % 7}", s"text-${i % 131}"))
      .toDF("doc_id", "source", "text")
    val r = graft.operators.Sketch.kmvMergeEstimate(docs, col("text"),
      Seq("source"), k = 16).collect()(0)
    assert(r.getLong(0) == r.getLong(1),
      s"merge law violated: merged=${r.getLong(0)} direct=${r.getLong(1)}")
  }

  test("rrfFuse: hand-computed fusion, one-sided candidates, determinism") {
    val a = Seq((1L, 9.0), (2L, 8.0), (3L, 7.0)).toDF("doc_id", "score")
    val b = Seq((2L, 0.9), (4L, 0.8)).toDF("doc_id", "score")
    val r = Similarity.rrfFuse(a, b, topN = 10, k = 10, rrfK = 60L)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) == 1.0 / 62 + 1.0 / 61, "doc 2: rank 2 in a, rank 1 in b")
    assert(r(1L) == 1.0 / 61, "one-sided candidate keeps the other term at 0")
    assert(r(4L) == 1.0 / 62)
    assert(r.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("ArrayIntersectCount matches size(array_intersect) on distinct sets") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 9L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq(5L), Seq(5L)),
      (Seq(1L, 2L, 3L, 4L), Seq.empty[Long])).toDF("a", "b")
    val r = df.select(
      graft.plans.ArrayIntersectCount(col("a"), col("b")),
      size(array_intersect(col("a"), col("b"))).cast("long")).collect()
    r.foreach(row => assert(row.getLong(0) == row.getLong(1), row.toString))
  }

  test("imageDHash: shared-base images hash equal, corrupt payloads NULL") {
    // same (base, w, h) → identical rasters → identical hashes; a small
    // base delta flips few bits; a junk payload yields NULL
    val dims = Seq((1L, 100L, 16, 12), (2L, 100L, 16, 12), (3L, 103L, 16, 12))
      .toDF("doc_id", "base", "w", "h")
    val png = Multimodal.synthesizePngSeeded(spark, dims, "doc_id", "base", "w", "h")
    val bad = Seq((9L, Array[Byte](0, 1, 2))).toDF("media_id", "payload")
    val out = Multimodal.imageDHash(spark, png.unionByName(bad))
      .orderBy("media_id").collect()
    val (h1, h2, h3) = (out(0).getLong(1), out(1).getLong(1), out(2).getLong(1))
    assert(h1 == h2, "identical rasters must hash identically")
    assert(h1 >= 0L && h1 < (1L << 56), "56-bit hash stays a non-negative long")
    assert(java.lang.Long.bitCount(h1 ^ h3) < 28,
      "small brightness delta must flip few bits, not half")
    assert(out(3).isNullAt(1), "corrupt payload must yield NULL hash")
  }

  test("dhashPairs: complete at the threshold vs brute force, NULLs drop") {
    val dims = (0L until 24L).map(i =>
      (i, (i % 6) * 131 + i / 6, 16 + (i % 6).toInt, 12)).toDF("doc_id", "base", "w", "h")
    val png = Multimodal.synthesizePngSeeded(spark, dims, "doc_id", "base", "w", "h")
    val bad = Seq((99L, Array[Byte](1))).toDF("media_id", "payload")
    val sig = Multimodal.imageDHash(spark, png.unionByName(bad))
    val got = Multimodal.dhashPairs(sig, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force witness over the non-null hashes
    val hs = sig.filter(col("dhash").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exp = (for {
      (ia, ha) <- hs; (ib, hb) <- hs
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(exp.nonEmpty, "witness set empty — test proves nothing")
    assert(got == exp, s"banding missed ${exp -- got}, extra ${got -- exp}")
    assert(!got.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("dhashPairs: identical-hash group over maxGroupSize refuses loudly, under it is unchanged") {
    // 5 ids sharing one hash + 2 ids on another, the two hashes
    // hamming-56 apart so no cross-group pair: group sizes 5 and 2
    val far = (1L << 56) - 1
    val sig = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (10L, far), (11L, far)).toDF("media_id", "dhash")
    val e = intercept[Exception] {
      Multimodal.dhashPairs(sig, maxDist = 3, maxGroupSize = 4).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") + Option(e.getCause)
      .flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("dhashClusters"),
      s"guard must point at the contraction face, got: $msg")
    // at-threshold group passes and the pair set is the unguarded one
    val got = Multimodal.dhashPairs(sig, maxDist = 3, maxGroupSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unguarded = Multimodal
      .dhashPairs(sig, maxDist = 3, maxGroupSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == unguarded && got.size == 10 + 1,
      s"guarded-under-threshold output changed: $got")
  }

  test("audioStats sums real PCM exactly and nulls corrupt payloads") {
    val dims = Seq((5L, 4, 2)).toDF("doc_id", "nf", "ch")
    val wav = Multimodal.synthesizeWav(spark, dims, "doc_id", "nf", "ch")
    val bad = Seq((9L, Array[Byte](82, 73, 70))).toDF("media_id", "payload")
    val out = Multimodal.audioStats(spark, wav.unionByName(bad))
      .orderBy("media_id").collect()
    val vs = for { f <- 0 until 4; c <- 0 until 2 }
      yield (5L * 131 + f * 31 + c * 17) % 65536 - 32768
    assert(out(0).getLong(1) == 8L)
    assert(out(0).getLong(2) == vs.sum)
    assert(out(0).getLong(3) == vs.map(math.abs).sum)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2) && out(1).isNullAt(3))
  }

  test("index append: batch encoded by the loaded codebook answers as the full encode") {
    // the law behind sim_index_append: PQ encoding distributes over
    // union — codes(base) ∪ codes(batch) under one codebook answer
    // bit-identically to encoding the whole corpus with that codebook
    val emb = Tables(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val model = Similarity.pqTrain(base, m = 4, ksub = 16, iters = 2, dim = 64)
    val q = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val appended = rows(Similarity.pqTopKFromCodes(
      Similarity.pqEncode(base, model).withColumnRenamed("vec_id", "c_id")
        .unionByName(Similarity.pqEncode(batch, model)
          .withColumnRenamed("vec_id", "c_id")), q, 5, model))
    val full = rows(Similarity.pqTopK(emb, q, 5, model))
    assert(appended == full, s"append != full encode: ${appended.size}/${full.size}")
    assert(appended.nonEmpty)
  }

  test("marginMining: hub normalization demotes the universally-close vector") {
    // x0's true partner y1 is nearly parallel; the hub y9 sits at 45° to
    // EVERYTHING (its own neighborhood mass is huge), so raw cosine
    // would often mine the hub while the margin demotes it
    val x = Seq(
      (0L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val y = Seq(
      (1L, Array(0.995f, 0.1f)),   // x0's partner
      (3L, Array(0.1f, 0.995f)),   // x2's partner
      (9L, Array(0.71f, 0.7f))).toDF("vec_id", "embedding") // the hub
    val got = Similarity.marginMining(x, y, k = 2, minMarginMicro = 0L)
      .orderBy("x_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((0L, 1L), (2L, 3L)),
      s"each x must mine its true partner, not the hub: ${got.toSeq}")
    // margins exceed 1.0 (partner cosine above the neighborhood average)
    assert(got.forall(_._3 > 1000000L), got.toSeq.toString)
    // threshold filters: an impossible margin empties the result
    assert(Similarity.marginMining(x, y, k = 2,
      minMarginMicro = 3000000L).count() == 0L)
    // partition invariance: quantized masses + integral division are
    // order-free, so the mined set is a pure function of the data
    val got2 = Similarity.marginMining(x.repartition(5), y.repartition(3),
        k = 2, minMarginMicro = 0L)
      .orderBy("x_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got2.toSeq == got.toSeq)
    // the candidate-frame seam: feeding the exact cross product through
    // marginMiningFrom is the identity path, bit-identical
    val cand = x.crossJoin(y.select(col("vec_id").as("y_id"), col("embedding").as("yv")))
      .select(col("vec_id").as("x_id"), col("y_id"),
        Similarity.cosine(col("embedding"), col("yv")).as("cos"))
    val got3 = Similarity.marginMiningFrom(cand, k = 2, minMarginMicro = 0L)
      .orderBy("x_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got3.toSeq == got.toSeq)
  }
}
