package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Behavior, Dedup, Features, Skyline}

/** Second-witness coverage for the behavioral-analytics and
  * feature-engineering families: hand-computed fixtures (independent of
  * the DuckDB oracle formulas) plus a brute-force cross-check for the
  * skyline algorithm.
  */
class BehaviorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(rows: (Long, String, String, Long)*) =
    rows.map { case (id, t, typ, u) => (id, ts(t), typ, u) }
      .toDF("event_id", "ts", "event_type", "user_id")

  test("funnel: out-of-order steps do not convert") {
    val events = ev(
      // user 1: view -> click -> purchase (full conversion)
      (1L, "2024-01-01 10:00:00", "view", 1L),
      (2L, "2024-01-01 10:01:00", "click", 1L),
      (3L, "2024-01-01 10:02:00", "purchase", 1L),
      // user 2: purchase BEFORE view — reaches step 1 only
      (4L, "2024-01-02 09:00:00", "purchase", 2L),
      (5L, "2024-01-02 10:00:00", "view", 2L),
      // user 3: view then click, no purchase
      (6L, "2024-01-03 10:00:00", "view", 3L),
      (7L, "2024-01-03 10:30:00", "click", 3L),
      // user 4: click only — reaches nothing
      (8L, "2024-01-04 10:00:00", "click", 4L))
    val r = Behavior.funnel(events, Seq("view", "click", "purchase")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 1L)))
  }

  test("equiDepthBin: ~equal masses, tie-inseparable, window-free of the corpus") {
    import graft.operators.Quantile
    // 8 distinct values → quartiles of exactly 2 each
    val df = (1L to 8L).map(i => (i, "g", i * 10.0)).toDF("id", "g", "v")
    val got = Quantile.equiDepthBin(df, "g", "v", k = 4)
      .select("id", "bin").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 3L, 8L -> 3L))
    // ties are inseparable: all rows of one value share a bin even when
    // that value's mass alone overflows a bucket
    val tied = ((1L to 6L).map(i => (i, "g", 1.0)) :+ ((7L, "g", 2.0)))
      .toDF("id", "g", "v")
    val tb = Quantile.equiDepthBin(tied, "g", "v", k = 4)
      .select("id", "bin").as[(Long, Long)].collect().toMap
    assert((1L to 6L).map(tb).toSet.size == 1) // one bin for the tied mass
    assert(tb(7L) == 3L)                       // top value in the top bin
    // row count preserved; bins within range
    assert(Quantile.equiDepthBin(df, "g", "v", 3).count() == 8)
    // scale shape: the corpus is never globally sorted — the only sort
    // runs over each group's distinct values inside the counts frame
    val plan = Quantile.equiDepthBin(df, "g", "v", 4)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition(g"),
      s"expected group-partitioned window over counts:\n$plan")
  }

  test("attribution: first/last touch strictly before conversion; direct = NULL") {
    val events = ev(
      // user 1: view → click → purchase → click → purchase
      (1L, "2024-01-01 10:00:00", "view", 1L),
      (2L, "2024-01-01 10:01:00", "click", 1L),
      (3L, "2024-01-01 10:02:00", "purchase", 1L),
      (4L, "2024-01-01 10:03:00", "click", 1L),
      (5L, "2024-01-01 10:04:00", "purchase", 1L),
      // user 2: purchase with NO prior touch (error is not a touch)
      (6L, "2024-01-02 09:00:00", "error", 2L),
      (7L, "2024-01-02 09:30:00", "purchase", 2L),
      // user 2's later view must not leak into the earlier purchase
      (8L, "2024-01-02 10:00:00", "view", 2L))
    val got = Behavior.attribution(events, "purchase", Seq("view", "click"))
      .select("event_id", "first_touch", "last_touch")
      .as[(Long, Option[String], Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (3L, Some("view"), Some("click")),  // first=view, last=click
      (5L, Some("view"), Some("click")),  // later click updates nothing for first
      (7L, None, None)))                  // direct conversion
    intercept[IllegalArgumentException] {
      Behavior.attribution(events, "purchase", Seq("purchase", "view"))
    }
    // plan: one user-partitioned window, no self-join
    val plan = Behavior.attribution(events, "purchase", Seq("view"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"attribution must not self-join:\n$plan")
  }

  test("retention: cohort week from first event, offsets in whole weeks") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "view", 1L), // Mon wk0 cohort
      (2L, "2024-01-10 10:00:00", "view", 1L), // wk1 for user 1
      (3L, "2024-01-17 10:00:00", "view", 1L), // wk2
      (4L, "2024-01-03 10:00:00", "view", 2L), // same cohort week as u1
      (5L, "2024-01-18 10:00:00", "view", 2L)) // wk2
    val r = Behavior.retention(events)
      .orderBy("cohort_week", "week_offset")
      .select("week_offset", "users").as[(Long, Long)].collect().toSeq
    assert(r == Seq((0L, 2L), (1L, 1L), (2L, 2L)))
  }

  test("transitions: lag is per-user and tie-broken by event id") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "a", 1L),
      (2L, "2024-01-01 10:00:00", "b", 1L), // same ts — id orders it after a
      (3L, "2024-01-01 11:00:00", "c", 1L),
      (9L, "2024-01-01 10:00:00", "a", 2L)) // other user: no transition
    val r = Behavior.transitions(events)
      .orderBy("prev_type", "next_type")
      .as[(String, String, Long)].collect().toSeq
    assert(r == Seq(("a", "b", 1L), ("b", "c", 1L)))
  }

  test("interpolate: linear between neighbours, edge rows take nearest fill") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, Some(10.0)),
      (2L, ts("2024-01-01 00:00:10"), 1L, None), // 1/4 of the 40s gap
      (3L, ts("2024-01-01 00:00:40"), 1L, Some(50.0)),
      (4L, ts("2024-01-01 00:00:50"), 1L, None), // trailing edge -> 50.0
      (5L, ts("2024-01-01 00:00:00"), 2L, None), // leading edge -> 7.0
      (6L, ts("2024-01-01 00:01:00"), 2L, Some(7.0)))
      .toDF("event_id", "ts", "user_id", "value")
    val r = Behavior.interpolate(events, "value")
      .orderBy("event_id").select("value").as[Double].collect().toSeq
    assert(r == Seq(10.0, 20.0, 50.0, 50.0, 7.0, 7.0))
  }

  test("oneHot: sorted deterministic columns, NULL encodes all-zeros") {
    val df = Seq((1L, "B"), (2L, "A"), (3L, null)).toDF("id", "cat")
    val oh = Features.oneHot(df, "cat")
    assert(oh.columns.filter(_.startsWith("is_")).toSeq == Seq("is_a", "is_b"))
    val r = oh.orderBy("id").select("is_a", "is_b").as[(Int, Int)].collect().toSeq
    assert(r == Seq((0, 1), (1, 0), (0, 0)))
  }

  test("oneHot: cardinality past the cap fails loudly, never collects the domain") {
    val wide = (1 to 20).map(i => (i.toLong, s"cat$i")).toDF("id", "cat")
    val e = intercept[IllegalArgumentException] {
      Features.oneHot(wide, "cat", maxCategories = 8)
    }
    assert(e.getMessage.contains("more than 8 distinct"), e.getMessage)
    assert(Features.oneHot(wide, "cat", maxCategories = 20)
      .columns.count(_.startsWith("is_")) == 20)
  }

  test("hashingTrick: weights preserve token counts, dims stay in range") {
    val docs = Seq((1L, "x y x z"), (2L, "  "), (3L, "x")).toDF("doc_id", "text")
    val r = Features.hashingTrick(docs, 8)
    val byDoc = r.groupBy("doc_id").agg(sum("weight").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(byDoc == Map(1L -> 4L, 3L -> 1L)) // blank doc emits nothing
    val dims = r.select("dim").as[Long].collect()
    assert(dims.forall(d => d >= 0 && d < 8))
    // same token, same dim in both docs (hashing is stateless)
    val xDim = r.filter($"doc_id" === 3L).select("dim").as[Long].head()
    assert(r.filter($"doc_id" === 1L && $"dim" === xDim).select("weight")
      .as[Long].head() >= 2L)
  }

  test("standardize: exact z-scores per group, zero-variance group is NULL") {
    val df = Seq((1L, "g1", 1.0), (2L, "g1", 3.0),
      (3L, "g2", 5.0), (4L, "g2", 5.0)).toDF("id", "g", "v")
    val r = Features.standardize(df, "v", Seq("g"))
      .orderBy("id").select("zscore").collect()
    assert(r(0).getDouble(0) == -1.0 && r(1).getDouble(0) == 1.0) // mean 2, std_pop 1
    assert(r(2).isNullAt(0) && r(3).isNullAt(0))
  }

  test("histogram: bins partition [min,max], max lands in the last bin") {
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val r = Features.histogram(df, "v", 4).orderBy("bin")
      .as[(Long, Double, Double, Long)].collect().toSeq
    assert(r.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(r.map(_._4).sum == 101L) // no row lost at the top edge
    assert(r.head._2 == 0.0 && r.last._3 == 100.0)
    // constant column degenerates to a single zero-width bin
    val c = Features.histogram(Seq(5.0, 5.0).toDF("v"), "v", 4).collect()
    assert(c.length == 1 && c(0).getLong(0) == 0L && c(0).getLong(3) == 2L)
  }

  test("skyline2: matches the brute-force dominance definition") {
    val pts = Seq((1.0, 9.0), (2.0, 8.0), (2.0, 9.0), (3.0, 1.0), (3.0, 1.0),
      (0.5, 9.5), (2.5, 8.0), (3.0, 0.5), (1.0, 1.0)).toDF("x", "y")
    val got = Skyline.skyline2(pts, "x", "y", buckets = 3)
      .as[(Double, Double)].collect().toSet
    val all = pts.as[(Double, Double)].collect().distinct
    val brute = all.filter { case (px, py) =>
      !all.exists { case (qx, qy) =>
        qx >= px && qy >= py && (qx > px || qy > py) }
    }.toSet
    assert(got == brute && got == Set((0.5, 9.5), (2.0, 9.0), (2.5, 8.0), (3.0, 1.0)))
  }

  test("fuzzyPairs: exact levenshtein-ball recall via deletion neighborhoods") {
    // id 7 is a TRANSPOSITION of id 1 (lev 2): it shares a deletion
    // variant with 1 at DIFFERENT positions, so it pins the d=1
    // split route's spurious-candidate kill (admitted-then-discarded
    // by the generic route, never admitted by the position-annotated
    // one — either way it must be absent at maxDist=1 and present at
    // 2). ids 8/9 pin the zero-length-key guard: lev("", "x") = 1
    // through the probe-hashes-empty-string-into-anchor-domain path.
    val recs = Seq((1L, "alpha-record-007"), (2L, "alpha-record-008"), // subst
      (3L, "alpha-record-0088"), (4L, "Xlpha-record-007"), // insert / first-char subst
      (5L, "zzz-unrelated"), (6L, "alpha-record-007"), // exact dup
      (7L, "alpha-record-070"), (8L, ""), (9L, "x")).toDF("id", "name")
    def brute(d: Int) = {
      val names = recs.as[(Long, String)].collect()
      (for { (ia, na) <- names; (ib, nb) <- names
             if ia < ib
             dist = levDist(na, nb) if dist <= d } yield (ia, ib, dist)).toSet
    }
    for (d <- Seq(1, 2)) {
      val pairs = Dedup.fuzzyPairs(recs, maxDist = d)
        .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
      assert(pairs == brute(d), s"maxDist=$d")
      // the generic route must agree on the same fixture (it is the
      // only arm at d=2 and the probe's control arm at d=1)
      val generic = Dedup.fuzzyPairsGeneric(recs, maxDist = d)
        .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
      assert(generic == brute(d), s"generic maxDist=$d")
    }
    // and the planted set for d=1, explicitly: first-char edits are
    // found, the transposition is not, the empty/1-char pair is
    assert(Dedup.fuzzyPairs(recs, maxDist = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (2L, 3L), (1L, 4L), (1L, 6L), (2L, 6L), (4L, 6L), (8L, 9L)))
  }

  test("fuzzyPairsChunked: wave execution equals the single-pass pair set") {
    val recs = Seq((1L, "alpha-record-007"), (2L, "alpha-record-008"),
      (3L, "alpha-record-0088"), (4L, "Xlpha-record-007"),
      (5L, "zzz-unrelated"), (6L, "alpha-record-007"),
      (7L, "alpha-record-070"), (8L, ""), (9L, "x")).toDF("id", "name")
    for (d <- Seq(1, 2)) {
      val single = Dedup.fuzzyPairs(recs, maxDist = d)
        .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
      // several wave counts, incl. passes=1 (degenerate) and a count
      // larger than the distinct-variant bucket population would need
      for (passes <- Seq(1, 3, 7)) {
        val chunked = Scratch.using(spark, "graft-fuzzy-chunk-test") { staging =>
          Dedup.fuzzyPairsChunked(recs, maxDist = d, passes = passes, stagingDir = staging)
            .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
        }
        assert(chunked == single, s"maxDist=$d passes=$passes")
      }
    }
  }

  test("variantPartsFor: OOM-critical exchange sizing formula and both clamps") {
    // small corpus: target < default -> clamps UP to the session width
    // (re-validated r17: a data-sized floor serialized the CPU-bound
    // variant sorts and regressed every fuzzy row 20-50% at sf0.1)
    assert(Dedup.variantPartsFor(cnt = 10000L, avgLen = 18.0,
      maxDist = 1, default = 32) == 32)
    // huge corpus: target > 4096 -> clamps DOWN to the shard cap
    assert(Dedup.variantPartsFor(cnt = 2000000000L, avgLen = 18.0,
      maxDist = 1, default = 32) == 4096)
    // mid-range, maxDist=1: ceil(cnt·(1+len)/4e6) exactly — the sf100
    // rehearsal's shape (20 M records, len 18 -> 380 M variants -> 95)
    assert(Dedup.variantPartsFor(cnt = 20000000L, avgLen = 18.0,
      maxDist = 1, default = 32) == 95)
    // maxDist=2 adds the len² term: 20 M · (1+18+324) / 4e6 = 1715
    assert(Dedup.variantPartsFor(cnt = 20000000L, avgLen = 18.0,
      maxDist = 2, default = 32) == 1715)
    // the waves divisor scales the per-wave exchange, same clamps
    // (95/4 -> 24, then the default clamp lifts it back to 32)
    assert(Dedup.variantPartsFor(cnt = 20000000L, avgLen = 18.0,
      maxDist = 1, default = 32, waves = 4) == 32)
    assert(Dedup.variantPartsFor(cnt = 20000000L, avgLen = 18.0,
      maxDist = 2, default = 32, waves = 4) == 429)
  }

  test("mergeIntervals: overlap and touch merge, gaps split, coverage counts once") {
    val iv = Seq(
      // user 1: [00:00,00:10) ∪ [00:05,00:15) ∪ [00:15,00:20) — one
      // island (overlap + touch), then a detached [00:25,00:30)
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00")),
      (1L, ts("2024-01-01 00:05:00"), ts("2024-01-01 00:15:00")),
      (1L, ts("2024-01-01 00:15:00"), ts("2024-01-01 00:20:00")),
      (1L, ts("2024-01-01 00:25:00"), ts("2024-01-01 00:30:00")),
      // user 2: one interval fully INSIDE another — single island,
      // coverage = the outer span only
      (2L, ts("2024-01-01 01:00:00"), ts("2024-01-01 02:00:00")),
      (2L, ts("2024-01-01 01:10:00"), ts("2024-01-01 01:20:00")))
      .toDF("user_id", "s", "e")
    val islands = Behavior.mergeIntervals(iv, "user_id", "s", "e")
      .select("user_id", "island_start_us", "island_end_us", "n_merged")
      .as[(Long, Long, Long, Long)].collect().toSet
    def us(t: String) = ts(t).getTime * 1000L
    assert(islands == Set(
      (1L, us("2024-01-01 00:00:00"), us("2024-01-01 00:20:00"), 3L),
      (1L, us("2024-01-01 00:25:00"), us("2024-01-01 00:30:00"), 1L),
      (2L, us("2024-01-01 01:00:00"), us("2024-01-01 02:00:00"), 2L)))
    val cov = Behavior.intervalCoverage(iv, "user_id", "s", "e")
      .select("user_id", "n_intervals", "covered_us")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(cov(1L) == ((2L, 25L * 60 * 1000000)))  // 20min + 5min, overlap once
    assert(cov(2L) == ((1L, 60L * 60 * 1000000)))
  }

  test("weightedQuantile: rational-q threshold, nulls excluded, heavy value wins") {
    import graft.operators.Quantile
    val df = Seq(("g", 1.0, Some(1.0)), ("g", 2.0, Some(1.0)), ("g", 3.0, Some(5.0)),
        ("g", 4.0, Some(1.0)),
        ("g", 99.0, Option.empty[Double]), // null weight: excluded
        ("h", 7.0, Some(2.0)))
      .toDF("g", "v", "w")
    val med = Quantile.weightedQuantile(df, "g", "v", "w", 1, 2)
      .as[(String, Double)].collect().toMap
    // g: total weight 8; cum(3) = 7, 2*7 >= 8 → weighted median = 3
    assert(med == Map("g" -> 3.0, "h" -> 7.0))
    val p90 = Quantile.weightedQuantile(df, "g", "v", "w", 9, 10)
      .as[(String, Double)].collect().toMap
    // g: need 10*cum >= 72: cum(3)=7 → 70 < 72; cum(4)=8 → 80 ≥ 72
    assert(p90("g") == 4.0)
  }

  test("robustOutliers: median/MAD immune to the outlier; zero-MAD degeneracy") {
    val df = Seq((1L, "g", 1L), (2L, "g", 2L), (3L, "g", 3L), (4L, "g", 4L),
      (5L, "g", 100L)).toDF("id", "g", "v")
    val r = Features.robustOutliers(df, "g", "v", k = 3)
      .select("id", "med", "mad", "is_outlier").as[(Long, Long, Long, Boolean)]
      .collect().map(t => t._1 -> t).toMap
    // type-1 median of {1,2,3,4,100} = 3; devs {2,1,0,1,97} → mad = 1
    assert(r(1L) == ((1L, 3L, 1L, false)))  // dev 2 <= 3
    assert(r(5L) == ((5L, 3L, 1L, true)))   // dev 97 > 3 — mean/stddev would mask it
    assert(r.values.count(_._4) == 1)
    // zero-MAD: > 50% of mass at one value → mad 0, any deviation flags
    val tied = Seq((1L, "g", 5L), (2L, "g", 5L), (3L, "g", 5L), (4L, "g", 9L))
      .toDF("id", "g", "v")
    val tr = Features.robustOutliers(tied, "g", "v", k = 3)
      .select("id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(tr == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true))
  }

  test("ewmaLast: hand-computed fold, singleton = its own value, tie order") {
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0), (2L, 5L, 7.0))
      .toDF("user_id", "ts", "value")
    val r = Behavior.ewmaLast(df, aNum = 1L, aDen = 5L)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    // y0=10, y1=(20+4*10)/5=12, y2=(30+4*12)/5=15.6
    assert(r(1L) == ((3L, (30.0 + 4 * ((20.0 + 4 * 10.0) / 5)) / 5)))
    assert(r(2L) == ((1L, 7.0)), "singleton key folds to its own value")
    // identical timestamps: sort_array tiebreaks on value — deterministic
    val tied = Seq((9L, 1L, 3.0), (9L, 1L, 1.0)).toDF("user_id", "ts", "value")
    val e = Behavior.ewmaLast(tied, 1L, 5L).collect()(0).getDouble(2)
    assert(e == (3.0 + 4 * 1.0) / 5, "value-ascending on ts ties")
  }

  test("kAnonymity flags small classes and low sensitive diversity") {
    val df = Seq(
      ("a", 1L, "x"), ("a", 1L, "y"), ("a", 1L, "z"), // size 3, l 3
      ("b", 2L, "x"), ("b", 2L, "x"),                 // size 2, l 1
      ("c", 3L, "q"))                                 // size 1, l 1
      .toDF("seg", "nat", "sens")
    val r = graft.operators.Validate.kAnonymity(df, Seq("seg", "nat"), "sens",
        k = 2L, l = 2L)
      .collect().map(x => x.getString(0) ->
        (x.getLong(2), x.getLong(3), x.getBoolean(4), x.getBoolean(5))).toMap
    assert(r("a") == ((3L, 3L, false, false)))
    assert(r("b") == ((2L, 1L, false, true)), "diverse size, single sensitive value")
    assert(r("c") == ((1L, 1L, true, true)))
  }

  test("cusum: prefix-min identity equals the max(0, S+d) recursion, reset included") {
    // d (centi, k=100): +100, -50, +200, -50, -300, +100
    // S:                 100,   50,  250,  200,    0,  100   (reset at the -300)
    val ev = Seq(
      (1L, ts("2024-01-01 00:01:00"), 9L, 2.0), (2L, ts("2024-01-01 00:02:00"), 9L, 0.5),
      (3L, ts("2024-01-01 00:03:00"), 9L, 3.0), (4L, ts("2024-01-01 00:04:00"), 9L, 0.5),
      (5L, ts("2024-01-01 00:05:00"), 9L, -2.0), (6L, ts("2024-01-01 00:06:00"), 9L, 2.0))
      .toDF("event_id", "ts", "user_id", "value")
    val r = graft.operators.Behavior.cusum(ev, kCenti = 100L, hCenti = 200L)
      .orderBy("event_id").collect()
      .map(x => (x.getLong(4), x.getBoolean(5)))
    assert(r.toSeq == Seq((100L, false), (50L, false), (250L, true),
      (200L, false), (0L, false), (100L, false)), s"got ${r.toSeq}")
  }

  test("cusum: half-cent boundary values quantize via floor(v*100+0.5), engine-independently") {
    // 1.005 is binary ≈1.00499999999999989…: a double→DECIMAL(18,2)
    // cast rounds the shortest decimal repr in some engines (→101
    // centi) and the binary value in others (→100) — the formulation
    // must avoid that cast entirely. floor(1.005*100 + 0.5) =
    // floor(100.49…) = 100 centi everywhere; 2.675·100 rounds UP to
    // exactly 267.5 in IEEE (the product is within half an ulp), so
    // 268 — verified identical in Spark, Python and DuckDB.
    val ev = Seq(
      (1L, ts("2024-01-01 00:01:00"), 9L, 1.005),
      (2L, ts("2024-01-01 00:02:00"), 9L, 2.675))
      .toDF("event_id", "ts", "user_id", "value")
    val r = graft.operators.Behavior.cusum(ev, kCenti = 0L, hCenti = 1L)
      .orderBy("event_id").collect().map(_.getLong(4))
    assert(r.toSeq == Seq(100L, 368L), s"got ${r.toSeq}")
  }

  test("holtLast tracks a linear ramp exactly; single event takes trend 0") {
    // on x_t = c + m*t the prediction l+b equals the next value every
    // step, so the fold is EXACT: level = last x, trend = m (a plain
    // EWMA would lag the ramp forever — the reason the operator exists)
    val ramp = (1 to 5).map(t => (7L, ts(f"2024-01-01 00:0$t:00"), 10.0 + 2 * t))
      .toDF("user_id", "ts", "value")
      .union(Seq((8L, ts("2024-01-01 00:01:00"), 5.0)).toDF("user_id", "ts", "value"))
    val r = graft.operators.Behavior.holtLast(ramp, 2, 10, 3, 10)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
    assert(r(7L) == ((5L, 20.0, 2.0)), s"ramp: ${r(7L)}")
    assert(r(8L) == ((1L, 5.0, 0.0)), s"singleton: ${r(8L)}")
  }

  test("populationStability: identical mixes contribute zero, a vanished category is named") {
    val a = Seq("x", "x", "y", "z").toDF("k")
    val same = Seq("x", "x", "y", "z").toDF("k")
    val zeroed = graft.operators.Validate.populationStability(a, same, "k")
      .collect().map(_.getLong(3))
    assert(zeroed.forall(_ == 0L), s"identical mixes must be all-zero: ${zeroed.toSeq}")
    // b drops z entirely: smoothing keeps the term defined, z's
    // contribution is positive, and equal-count x keeps contributing 0
    val b = Seq("x", "x", "y", "y").toDF("k")
    val r = graft.operators.Validate.populationStability(a, b, "k")
      .collect().map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r("z") > 0L && r("x") == 0L, s"got $r")
  }

  test("tCloseness: zero for global-matching classes, exact TV otherwise, absent values counted") {
    // global sens distribution: x:4, y:2 over N=6 → p = (2/3, 1/3)
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"),             // class a matches global → TV 0
      ("b", "x"), ("b", "x"),                         // class b all-x: TV = ½(|1-2/3| + |0-1/3|) = 1/3
      ("c", "y"))                                     // class c all-y: TV = ½(2/3 + 2/3) = 2/3
      .toDF("qi", "sens")
    val r = graft.operators.Validate.tCloseness(df, Seq("qi"), "sens", t = 0.5)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getBoolean(3))).toMap
    assert(r("a")._1 == 3L && math.abs(r("a")._2) < 1e-15 && !r("a")._3)
    assert(math.abs(r("b")._2 - 1.0 / 3) < 1e-15 && !r("b")._3)
    // class c never contains x at all — the absent-value fold term
    assert(math.abs(r("c")._2 - 2.0 / 3) < 1e-15 && r("c")._3)
  }

  test("labelPropagation: two planted cliques converge to two communities") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val e0 = tri.toDF("src", "dst")
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val labels = graft.operators.Graph.labelPropagation(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(labels(_) == 1L), s"clique 1: $labels")
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L), s"clique 2: $labels")
  }

  test("labelPropagationChunked: identical to single-pass at any wave count") {
    // deliberately ASYMMETRIC (node 30 appears only as dst; odd-sized
    // communities; a bridge edge) so wave partitioning by pmod(id, P)
    // splits votes across waves unevenly — any per-wave vote loss or
    // double-count diverges from the single-pass twin
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L),
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 30L))
    val e = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
      .union(Seq((7L, 30L)).toDF("src", "dst")) // 30: dst-only votes too
    val base = graft.operators.Graph.labelPropagation(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    for (passes <- Seq(1, 3, 5)) {
      Scratch.using(spark, s"lpc-test-$passes") { staging =>
        val got = graft.operators.Graph
          .labelPropagationChunked(e, iters = 3, passes = passes, staging)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
        assert(got == base,
          s"passes=$passes diverged: missing ${base -- got}, extra ${got -- base}")
      }
    }
  }

  test("pagerankChunked: identical to single-pass at any wave count") {
    // same asymmetric graph as the labelprop twin (dst-only node,
    // uneven communities, a bridge) — per-wave contribution loss or
    // double-count shifts a rank and diverges from the single-pass form
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L),
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 30L))
    val e = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
      .union(Seq((7L, 30L)).toDF("src", "dst"))
    val base = graft.operators.Graph.pagerank(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    for (passes <- Seq(1, 3, 5)) {
      Scratch.using(spark, s"prc-test-$passes") { staging =>
        val got = graft.operators.Graph
          .pagerankChunked(e, iters = 3, passes = passes, staging)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
        assert(got == base,
          s"passes=$passes diverged: missing ${base -- got}, extra ${got -- base}")
      }
    }
  }

  test("kmvOverlap: underfull sketches give exact union/intersection/Jaccard") {
    // |A∪B| = 45 < k, so the sketches hold every hash and all three
    // outputs are exact counts through the same estimator formulas
    val a = (1 to 30).map(i => s"key$i").toDF("k")
    val b = (16 to 45).map(i => s"key$i").toDF("k")
    val r = graft.operators.Sketch.kmvOverlap(a, b, col("k"), k = 64).collect()(0)
    assert(r.getLong(0) == 45L, s"union: ${r.getLong(0)}")
    assert(r.getLong(1) == 15L, s"inter: ${r.getLong(1)}")
    assert(r.getDouble(2) == 15.0 / 45, s"jaccard: ${r.getDouble(2)}")
  }

  test("kmvOverlap: empty sides degrade to (0, 0, NULL-jaccard), not a runtime error") {
    // both-empty used to hit element_at(_u, 0) ("array indices start
    // at 1"); one-empty exercises the normal path with zero overlap
    val e = Seq.empty[String].toDF("k")
    val a = (1 to 5).map(i => s"key$i").toDF("k")
    val both = graft.operators.Sketch.kmvOverlap(e, e, col("k")).collect()(0)
    assert(both.getLong(0) == 0L && both.getLong(1) == 0L && both.isNullAt(2),
      s"both-empty: $both")
    val one = graft.operators.Sketch.kmvOverlap(a, e, col("k")).collect()(0)
    assert(one.getLong(0) == 5L && one.getLong(1) == 0L && one.getDouble(2) == 0.0,
      s"one-empty: $one")
  }

  test("correlationMatrix fixed-point moments: exact vs a driver-side decimal " +
    "reference, nulls skipped, inputs past the long-product bound computed") {
    // the r18 rewrite sums LONG products of unscaled 4dp fixed-point
    // values instead of decimal×decimal; this pins the result to an
    // exact BigInt/BigDecimal reference evaluated with the same final
    // IEEE op order, over data with negatives, >2dp fractions and nulls
    def check(data: Seq[(java.lang.Double, java.lang.Double, java.lang.Double)]): Unit = {
      val df = data.toDF("x", "y", "z")
      val got = Features.correlationMatrix(df, Seq("x", "y", "z"))
        .orderBy("col_a", "col_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      def q(v: java.lang.Double): Option[BigInt] = Option(v).map(d =>
        BigInt(new java.math.BigDecimal(d).setScale(4,
          java.math.RoundingMode.HALF_UP).unscaledValue()))
      val colsQ = Seq(data.map(t => q(t._1)), data.map(t => q(t._2)),
        data.map(t => q(t._3)))
      val names = Seq("x", "y", "z")
      val n = data.size.toDouble
      def s(i: Int): Double = // decimal sum at scale 4, cast to double once
        (BigDecimal(colsQ(i).flatten.sum) / BigDecimal(10000)).toDouble
      def p(i: Int, j: Int): Double = { // Σ unscaled products, ×10⁻⁸ exactly
        val tot = colsQ(i).zip(colsQ(j)).collect {
          case (Some(a), Some(b)) => a * b }.sum
        (BigDecimal(tot) / BigDecimal(100000000L)).toDouble
      }
      val expected = for { i <- 0 until 3; j <- (i + 1) until 3 } yield {
        val num = p(i, j) - s(i) * s(j) / n
        val den = math.sqrt(p(i, i) - s(i) * s(i) / n) *
          math.sqrt(p(j, j) - s(j) * s(j) / n)
        (names(i), names(j), num / den)
      }
      assert(got.toSeq == expected,
        s"fixed-point moments diverged:\n got=${got.toSeq}\n exp=$expected")
    }
    check(Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (1.2345, 2.5, -3.75), (-0.0001, 4.125, 2.0), (7.5, null, 0.5),
      (2.25, -1.0625, 1.0), (0.0, 3.5, -2.5), (100.98765, 250.1234, 9.87)))
    // values past 303,700 (where the unscaled long product would leave
    // 2⁶³) take the exact decimal product, in the same cells as
    // in-bound values, and equal the same exact reference
    check(Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (400000.0, 1.0, -3.75), (1.0, 2.0, 2.0), (-350000.5, 3.25, null),
      (12.5, 5000000.1234, 0.5), (303700.0499, -303700.05, 7.0),
      (98765432.1, 4.0, -1.5)))
  }

  test("Pca one-pass Gram equivalence: nulls, null elements and ragged arrays " +
    "reproduce the explode formulation bit-for-bit") {
    // Expected literals were CAPTURED from the r17 explode-based Gram
    // implementation on this exact scenario (null row, null element,
    // ragged short vector, 3 partitions) before the r18 one-pass
    // rewrite landed — so this test pins the rewrite to the old
    // semantics at every edge the SQL formulation defined implicitly:
    // a null vector contributes nothing but still counts in n
    // (posexplode semantics), a null ELEMENT voids exactly the
    // products and sums it touches (decimal-sum-over-null), ragged
    // vectors contribute to the dimensions they have.
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = true),
        nullable = true)))
    val rows = Seq(
      Row(1L, Seq(1.0, 2.0, 3.0)),
      Row(2L, Seq(2.0, 1.0, 0.5)),
      Row(3L, null),
      Row(4L, Seq(0.25, null, 1.5)),
      Row(5L, Seq(4.0, 0.125)),
      Row(6L, Seq(1.5, 2.5, 3.5)))
    val emb = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val r1 = graft.operators.Pca.topComponent(emb, "embedding", "vec_id", iters = 3)
      .collect().sortBy(_.getLong(0)).map(_.getDouble(1))
    assert(r1.toSeq == Seq(-0.07236766815185547, 0.702484130859375, 1.0),
      s"topComponent diverged from the explode formulation: ${r1.toSeq}")
    val r2 = graft.operators.Pca.topComponents2(emb, "embedding", "vec_id", iters = 3)
      .collect().sortBy(_.getLong(0)).map(r => (r.getDouble(1), r.getDouble(2)))
    assert(r2.toSeq == Seq((-0.07236766815185547, 1.0),
      (0.702484130859375, 0.17268753051757812),
      (1.0, -0.048943519592285156)),
      s"topComponents2 diverged from the explode formulation: ${r2.toSeq}")
    val r3 = graft.operators.Pca.projectTop(emb, "embedding", "vec_id", iters = 3)
      .collect().sortBy(_.getLong(0))
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    assert(r3.toSeq == Seq(Some(4.3326005935668945), Some(1.057748794555664),
      None, None, None, Some(5.147658824920654)),
      s"projectTop diverged from the explode formulation: ${r3.toSeq}")
  }

  test("Pca.topComponent recovers a planted direction, max-normalized, sign-fixed") {
    // colinear points along (3,4): leading axis must be that direction,
    // loadings max-normalized (largest |component| exactly 1.0 and
    // positive after the sign fix) regardless of the points' signs
    val emb = Seq(
      (1L, Array(3.0f, 4.0f)), (2L, Array(6.0f, 8.0f)),
      (3L, Array(-3.0f, -4.0f)), (4L, Array(1.5f, 2.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.operators.Pca.topComponent(emb, "embedding", "vec_id")
      .orderBy("d").collect().map(_.getDouble(1))
    assert(r(1) == 1.0, s"largest component must normalize to exactly +1, got ${r(1)}")
    assert(math.abs(r(0) - 0.75) < 1e-4, s"expected 3/4 ratio, got ${r(0)}")
  }

  test("Pca.topComponents2: second axis recovers the orthogonal planted direction") {
    // spread mostly along (3,4,0), secondarily along (0,0,1): v1 must be
    // the in-plane direction, v2 the z axis (orthogonal by construction)
    val emb = Seq(
      (1L, Array(3.0f, 4.0f, 0.0f)), (2L, Array(6.0f, 8.0f, 0.0f)),
      (3L, Array(-3.0f, -4.0f, 0.0f)), (4L, Array(0.0f, 0.0f, 5.0f)),
      (5L, Array(0.0f, 0.0f, -5.0f)), (6L, Array(1.5f, 2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.operators.Pca.topComponents2(emb, "embedding", "vec_id")
      .orderBy("d").collect()
    val l1 = r.map(_.getDouble(1)); val l2 = r.map(_.getDouble(2))
    assert(math.abs(l1(0) - 0.75) < 1e-3 && l1(1) == 1.0 && math.abs(l1(2)) < 1e-3,
      s"v1: ${l1.toSeq}")
    assert(math.abs(l2(0)) < 1e-3 && math.abs(l2(1)) < 1e-3 && l2(2) == 1.0,
      s"v2: ${l2.toSeq}")
  }

  test("sceneCuts: first frame never a cut, threshold strict, per-clip lag") {
    val frames = Seq(
      (1L, 0L, 8L, 8L, 10.0), (1L, 1L, 8L, 8L, 50.0), (1L, 2L, 8L, 8L, 251.0),
      (2L, 0L, 8L, 8L, 200.0))
      .toDF("media_id", "frame_idx", "width", "height", "mean_luma")
    val r = graft.operators.Multimodal.sceneCuts(frames, threshold = 100.0)
      .orderBy("media_id", "frame_idx").collect()
    assert(r(0).isNullAt(3) && !r(0).getBoolean(4), "first frame: null diff, no cut")
    assert(r(1).getDouble(3) == 40.0 && !r(1).getBoolean(4))
    assert(r(2).getDouble(3) == 201.0 && r(2).getBoolean(4))
    assert(r(3).isNullAt(3) && !r(3).getBoolean(4), "clip 2 starts its own lag")
  }

  test("anomalies: zero-variance window flags any deviation, cold start never") {
    val df = Seq(
      (1L, 1L, 10.0), (1L, 2L, 10.0), (1L, 3L, 10.0), (1L, 4L, 10.0),
      (1L, 5L, 100.0), // dev from zero-variance window -> anomaly
      (1L, 6L, 10.0))  // window now has variance from the 100; not 3 sigma? recompute below
      .map { case (u, i, v) => (u, i, new Timestamp(i * 1000), v) }
      .toDF("user_id", "event_id", "ts", "value")
    val r = Behavior.anomalies(df, k = 5, z = 3)
      .collect().map(x => x.getLong(1) -> (x.getLong(4), x.getBoolean(5))).toMap
    assert(r(1L) == ((0L, false)) && r(2L) == ((1L, false)) && r(3L) == ((2L, false)),
      "cold start: fewer than minPrev predecessors never flags")
    assert(r(4L) == ((3L, false)), "constant history, constant value: no anomaly")
    assert(r(5L) == ((4L, true)), "zero-variance window, any deviation flags")
    // event 6: window {10,10,10,10,100} centi (1000*4, 10000): n=5,
    // s1=14000, s2=4e6+1e8; (5*1000-14000)^2 = 81e6;
    // 9*(5*104e6 - 196e6) = 9*324e6 — 81e6 < 2916e6 -> not anomalous
    assert(r(6L) == ((5L, false)))
  }

  test("funnelWindowed: in-window converts, out-of-window does not, first anchor") {
    val ev = Seq(
      // user 1: view -> click 1h later -> purchase 2h later: all in 24h
      (1L, "2024-01-01 00:00:00", "view"), (1L, "2024-01-01 01:00:00", "click"),
      (1L, "2024-01-01 02:00:00", "purchase"),
      // user 2: click lands 25h after the view: step 2 misses the window
      (2L, "2024-01-01 00:00:00", "view"), (2L, "2024-01-02 01:00:00", "click"),
      // user 3: FIRST view anchors; the funnel completable only from the
      // second view does not count (first-anchor semantics)
      (3L, "2024-01-01 00:00:00", "view"), (3L, "2024-01-05 00:00:00", "view"),
      (3L, "2024-01-05 01:00:00", "click"))
      .map { case (u, t, e) => (u, Timestamp.valueOf(t), e) }
      .toDF("user_id", "ts", "event_type")
    val r = Behavior.funnelWindowed(ev, Seq("view", "click", "purchase"),
      windowSeconds = 86400L).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 1L, 1L)))
  }

  test("anomalies: out-of-domain magnitudes fail loudly, not wrap") {
    val df = Seq((1L, 1L, new Timestamp(1000), 2.0e6))
      .toDF("user_id", "event_id", "ts", "value")
    val e = intercept[Exception] {
      Behavior.anomalies(df, k = 5, z = 3).collect()
    }
    assert(e.getMessage.contains("int64-safe domain"))
  }

  test("linkPrediction: non-edge pairs only, exact common/jaccard") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val r = graft.operators.Graph.linkPrediction(e, minCommon = 1L)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    // only (1,4) is a non-edge with common neighbors {2,3}; deg1=deg4=2
    assert(r.keySet == Set((1L, 4L)), s"edges must be excluded, got ${r.keySet}")
    assert(r((1L, 4L)) == ((2L, 2L, 1.0)))
  }

  test("linkPrediction: super-hub centers over maxDegree generate no wedges") {
    // star K1,5 (hub 0, leaves 1..5) plus a path 10-11-12 off to the
    // side: hub-mediated leaf pairs must vanish under a cap < 5 while
    // the low-degree wedge (10,12 via 11) survives untouched
    val star = (1L to 5L).map(i => (0L, i))
    val path = Seq((10L, 11L), (11L, 12L))
    val e = (star ++ path).toDF("src", "dst")
    def pairs(cap: Long) =
      graft.operators.Graph.linkPrediction(e, minCommon = 1L, maxDegree = cap)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val uncapped = pairs(10000L)
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((10L, 12L)),
      s"uncapped must keep hub and path wedges: $uncapped")
    val capped = pairs(4L)
    assert(capped == Set((10L, 12L)),
      s"cap=4 must drop every hub-centered wedge, keep the path wedge: $capped")
  }

  test("labelPropagation: monotone-relabeling equivariance and fixpoint stability") {
    // independent semantic witnesses (the DuckDB oracle replays the
    // identical recursion, so a shared-formulation bug would pass the
    // gate): (1) a monotone id relabeling must relabel communities and
    // nothing else — LPA's tie-break is ORDER-based, so any
    // order-preserving map is a graph isomorphism for it; (2) once the
    // partition stops changing, more rounds must not change it.
    def partition(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.collect().map(x => (x.getLong(0), x.getLong(1)))
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    // two 4-cliques with INTERLEAVED ids (evens vs odds) + one bridge
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val base = clique(Seq(0L, 2L, 4L, 6L)) ++ clique(Seq(1L, 3L, 5L, 7L)) ++
      Seq((6L, 7L))
    val e = base.toDF("src", "dst")
    val p1 = partition(graft.operators.Graph.labelPropagation(e, iters = 6))
    assert(p1 == Set(Set(0L, 2L, 4L, 6L), Set(1L, 3L, 5L, 7L)),
      s"interleaved cliques must separate: $p1")
    // monotone relabel: id -> 10·id + 3 (order-preserving, non-uniform)
    def m(i: Long) = 10 * i + 3
    val e2 = base.map { case (a, b) => (m(a), m(b)) }.toDF("src", "dst")
    val p2 = partition(graft.operators.Graph.labelPropagation(e2, iters = 6))
    assert(p2 == p1.map(_.map(m)), s"equivariance broken: $p2")
    // fixpoint: extra rounds leave the converged partition alone
    val p3 = partition(graft.operators.Graph.labelPropagation(e, iters = 12))
    assert(p3 == p1, s"fixpoint drifted with more rounds: $p3")
  }

  test("Pca.topComponent satisfies the eigen-residual law on an independent scatter matrix") {
    // the oracle replays the same power iteration, so this witness is
    // the non-replaying check: build S = n·Σqqᵀ − ssᵀ INDEPENDENTLY
    // (driver-side BigInt loop over the same floor-quantization) and
    // assert S·v ≈ λ·v for the operator's returned axis — a bug in the
    // distributed Gram explosion or the renorm recipe fails this even
    // though the replay-oracle would agree with itself.
    val rnd = new scala.util.Random(7)
    val d = 6
    val u = Array(3.0, -1.0, 2.0, 0.5, -2.5, 1.0) // planted direction
    val emb = (1 to 300).map { i =>
      val a = rnd.nextGaussian() * 4            // strong component on u
      (i.toLong, Array.tabulate(d)(j => (a * u(j) + rnd.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    val qscale = 1L << 20
    val v = graft.operators.Pca.topComponent(emb, "embedding", "vec_id")
      .orderBy("d").collect().map(r => BigInt((r.getDouble(1) * (1L << 20)).round))
    // independent S from the collected rows (no Spark aggregation)
    val q = emb.collect().map(_.getSeq[Float](1).toArray
      .map(x => BigInt(math.floor(x.toDouble * qscale).toLong)))
    val n = BigInt(q.length)
    val s = Array.tabulate(d)(j => q.map(_(j)).sum)
    def S(i: Int, j: Int) = n * q.map(r => r(i) * r(j)).sum - s(i) * s(j)
    val sv = Array.tabulate(d)(i => (0 until d).map(j => S(i, j) * v(j)).sum)
    val lamNum = (0 until d).map(i => v(i) * sv(i)).sum   // vᵀSv
    val lamDen = (0 until d).map(i => v(i) * v(i)).sum    // vᵀv
    // residual r = S·v − λ·v computed in exact rationals: r_i·den =
    // sv_i·den − num·v_i; compare ‖r‖² against ε²·‖S·v‖²
    val resNum = (0 until d).map(i => sv(i) * lamDen - lamNum * v(i))
    val res2 = resNum.map(x => x * x).sum
    val sv2 = sv.map(x => x * x).sum * lamDen * lamDen
    // ‖r‖ ≤ 1e-3 ‖Sv‖ — loose enough for 8 power iterations on a
    // strongly-gapped spectrum, tight enough to catch any real defect
    assert(res2 * BigInt(1000000) <= sv2,
      s"eigen-residual too large: ||r||^2/||Sv||^2 = ${
        (BigDecimal(res2) / BigDecimal(sv2)).toDouble}")
  }

  test("resampleOhlc: bars with tied timestamps stay deterministic via the id tiebreak") {
    // two events share the opening timestamp: open must be the LOWER
    // event_id's value (total (ts, id) order), not either-or
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 5.0),
      (2L, ts("2024-01-01 10:00:00"), 1L, 9.0),
      (3L, ts("2024-01-01 10:30:00"), 1L, 1.0),
      (4L, ts("2024-01-01 10:59:00"), 1L, 7.0),
      (5L, ts("2024-01-01 11:15:00"), 1L, 2.0))
      .toDF("event_id", "ts", "user_id", "value")
    val r = graft.operators.Behavior.resampleOhlc(ev, date_trunc("hour", col("ts")))
      .collect().map(x => (x.getDouble(1), x.getDouble(2), x.getDouble(3),
        x.getDouble(4), x.getLong(5), x.getDouble(6)))
    assert(r(0) == ((5.0, 9.0, 1.0, 7.0, 4L, 22.0)), s"hour bar: ${r(0)}")
    assert(r(1) == ((2.0, 2.0, 2.0, 2.0, 1L, 2.0)), s"singleton bar: ${r(1)}")
  }

  test("Eval.auc: hand example with ties, brute-force pair witness, degenerate NULL") {
    import graft.operators.Eval
    // (0.2⁺ vs 0.1⁻)=1, (0.2⁺ vs 0.2⁻)=½, (0.3⁺ vs both)=2 → 3.5/4
    val df = Seq((0.10, false), (0.20, true), (0.20, false), (0.30, true))
      .toDF("score", "label")
    val r = Eval.auc(df, col("score"), col("label")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getDouble(2) == 0.875, s"auc: ${r.getDouble(2)}")
    // brute-force witness on a seeded random set: rank-sum formula vs
    // direct P(s+>s-) + ½P(s+=s-) pair counting
    val rnd = new scala.util.Random(11)
    val rows = (1 to 200).map(_ =>
      ((rnd.nextInt(30) + 1) / 10.0, rnd.nextBoolean()))
    val pos = rows.filter(_._2).map(_._1); val neg = rows.filterNot(_._2).map(_._1)
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val expected = wins / (pos.size.toLong * neg.size)
    val got = Eval.auc(rows.toDF("score", "label"), col("score"), col("label"))
      .collect()(0).getDouble(2)
    assert(math.abs(got - expected) < 1e-12, s"$got vs $expected")
    // single-class input: AUC undefined -> NULL, not 0
    val one = Eval.auc(Seq((0.5, true), (0.7, true)).toDF("s", "y"),
      col("s"), col("y")).collect()(0)
    assert(one.isNullAt(2), "single-class AUC must be NULL")
  }

  test("Eval.prCurve and Eval.logLoss: hand-checked points, clamp edges, table lookup") {
    import graft.operators.Eval
    // scores 0.3(+), 0.2(+), 0.2(-), 0.1(-): thresholds 30, 20, 10
    val df = Seq((0.10, false), (0.20, true), (0.20, false), (0.30, true))
      .toDF("score", "label")
    val pts = Eval.prCurve(df, col("score"), col("label"))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(pts(30L) == ((1L, 0L, 1.0, 0.5)), s"t=30: ${pts(30L)}")
    assert(pts(20L) == ((2L, 1L, 2.0 / 3, 1.0)), s"t=20: ${pts(20L)}")
    assert(pts(10L) == ((2L, 2L, 0.5, 1.0)), s"t=10: ${pts(10L)}")
    // logloss: p=0.5/y=1 costs exactly 1 bit (2^20 units); p=0 clamps
    // to milli 1 (w[999] for y=0 is near-free, w[1] for y=1 is ~10 bits)
    val w = Eval.logLossWeights
    val ll = Eval.logLoss(
      Seq((0.5, true), (0.0, true), (1.0, false)).toDF("p", "y"),
      col("p"), col("y")).collect()(0)
    assert(ll.getLong(0) == 3L)
    assert(ll.getLong(1) == (1L << 20) + w(0) + w(0),
      s"expected ${(1L << 20) + 2 * w(0)}, got ${ll.getLong(1)}")
  }

  test("Eval.ks and Eval.calibrationError: hand-checked statistics, tie-break, degenerate NULL") {
    import graft.operators.Eval
    // scores: 0.3(+) 0.2(+) 0.2(-) 0.1(-): P=N=2
    //   t=30: |1·2 − 0·2| = 2; t=20: |2·2 − 1·2| = 2; t=10: |2·2−2·2|=0
    //   max numerator 2 is TIED at t=30 and t=20 → smallest threshold
    //   (20) wins; KS = 2/(2·2) = 0.5
    val df = Seq((0.10, false), (0.20, true), (0.20, false), (0.30, true))
      .toDF("score", "label")
    val r = Eval.ks(df, col("score"), col("label")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 2L, 20L)), s"$r")
    assert(r.getDouble(3) == 0.5, s"ks: ${r.getDouble(3)}")
    val one = Eval.ks(Seq((0.5, true)).toDF("s", "y"), col("s"), col("y")).collect()(0)
    assert(one.isNullAt(3), "single-class KS must be NULL")
    // ECE: bin0 holds (0.05,T),(0.05,F): |1000·1 − 100| = 900;
    // bin9 holds (0.95,T): |1000·1 − 950| = 50 → (900+50)/(3·1000)
    val ece = Eval.calibrationError(
      Seq((0.05, true), (0.05, false), (0.95, true)).toDF("p", "y"),
      col("p"), col("y")).collect()(0)
    assert((ece.getLong(0), ece.getLong(1)) == ((3L, 950L)), s"$ece")
    assert(ece.getDouble(2) == 950.0 / 3000, s"ece: ${ece.getDouble(2)}")
  }

  test("Eval.brier: exact integer squared error, perfect and worst-case bounds") {
    import graft.operators.Eval
    // (0.9,T): (900-1000)^2 = 10000; (0.2,F): 200^2 = 40000;
    // (1.0,T): 0; (0.0,F): 0 → num 50000, brier 50000/4e6 = 0.0125
    val r = Eval.brier(
      Seq((0.9, true), (0.2, false), (1.0, true), (0.0, false)).toDF("p", "y"),
      col("p"), col("y")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((4L, 50000L)), s"$r")
    assert(r.getDouble(2) == 0.0125, s"brier: ${r.getDouble(2)}")
  }

  test("brierBootstrapCi: degenerate-constant collapse, bracketing, partition invariance") {
    import graft.operators.Eval
    // constant per-row error 0.25: EVERY replica mean is exactly 0.25
    // whatever the Poisson weights, so the band collapses to the point
    val const = (1L to 400L).map(i => (i, 0.5, false)).toDF("id", "p", "y")
    val r = Eval.brierBootstrapCi(const, col("p"), col("y"), col("id"), reps = 32)
      .head()
    assert(r.getLong(0) == 400L)
    assert(r.getDouble(1) == 0.25 && r.getDouble(2) == 0.25 &&
      r.getDouble(3) == 0.25, s"$r")
    // mixed fixture: deterministic band brackets the point estimate and
    // survives any partitioning bit-identically
    val mixed = (1L to 400L).map(i => (i, (i % 10) / 10.0, i % 3 == 0))
      .toDF("id", "p", "y")
    val a = Eval.brierBootstrapCi(mixed, col("p"), col("y"), col("id")).head()
    val b = Eval.brierBootstrapCi(mixed.repartition(7), col("p"), col("y"),
      col("id")).head()
    assert(a == b, s"partitioning changed the CI: $a vs $b")
    assert(a.getDouble(2) < a.getDouble(3), "nondegenerate band must have width")
    assert(a.getDouble(2) <= a.getDouble(1) && a.getDouble(1) <= a.getDouble(3),
      s"band must bracket the point estimate: $a")
  }

  test("aucBootstrapCi: perfect separation collapses the band at 1.0; invariance") {
    import graft.operators.Eval
    // perfectly separated: EVERY Poisson resample of it is still
    // perfectly separated (replicas that lose a whole class drop), so
    // point and band all sit exactly at 1.0
    val sep = (1L to 300L).map(i => (i, if (i % 2 == 0) 0.9 else 0.1, i % 2 == 0))
      .toDF("id", "s", "y")
    val r = Eval.aucBootstrapCi(sep, col("s"), col("y"), col("id")).head()
    assert((r.getLong(0), r.getLong(1)) == ((150L, 150L)), s"$r")
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0 &&
      r.getDouble(4) == 1.0, s"$r")
    // noisy fixture: band brackets the point, bit-identical at any
    // partitioning
    val noisy = (1L to 300L).map(i => (i, (i % 17) / 17.0, i % 3 == 0))
      .toDF("id", "s", "y")
    val a = Eval.aucBootstrapCi(noisy, col("s"), col("y"), col("id")).head()
    val b = Eval.aucBootstrapCi(noisy.repartition(9), col("s"), col("y"),
      col("id")).head()
    assert(a == b, s"partitioning changed the CI: $a vs $b")
    assert(a.getDouble(3) < a.getDouble(4), "nondegenerate band must have width")
    assert(a.getDouble(3) <= a.getDouble(2) && a.getDouble(2) <= a.getDouble(4),
      s"band must bracket the point AUC: $a")
  }

  test("Eval.calibration and Eval.confusion: integer bins, exact rates, empty-denominator NULL") {
    import graft.operators.Eval
    val df = Seq((0.05, true), (0.05, false), (0.95, true)).toDF("p", "y")
    val bins = Eval.calibration(df, col("p"), col("y"))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(bins == Map(0L -> ((2L, 0.05, 0.5)), 9L -> ((1L, 0.95, 1.0))), s"$bins")
    val c = Eval.confusion(Seq((260.0, true), (260.0, false), (100.0, true))
        .toDF("s", "y"), col("s"), col("y"), 25000L).collect()(0)
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      ((1L, 1L, 1L, 0L)))
    assert(c.getDouble(4) == 0.5 && c.getDouble(5) == 0.5, "precision/recall")
    assert(c.getDouble(6) == 0.5, "f1")
    // no predicted positives: precision NULL, recall 0
    val c2 = Eval.confusion(Seq((1.0, true)).toDF("s", "y"),
      col("s"), col("y"), 25000L).collect()(0)
    assert(c2.isNullAt(4) && c2.getDouble(5) == 0.0)
  }

  test("diversity: hand-computed gini and quantized entropy; degenerate group") {
    val df = Seq(("en", "web"), ("en", "web"), ("en", "book"), ("en", "book"),
      ("de", "web"), ("de", "web"), ("de", "web"))
      .toDF("lang", "source")
    val r = graft.operators.Corpus.diversity(df, Seq("lang"), "source")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getLong(4))).toMap
    // en: counts {2,2}, n=4: gini = (16-8)/16 = 0.5,
    // qbits = 4*ilog2(4) - 2*ilog2(2)*2 = 8 - 4 = 4
    assert(r("en") == ((4L, 2L, 0.5, 4L)))
    // de: single category -> zero impurity, zero quantized entropy
    assert(r("de") == ((3L, 1L, 0.0, 0L)))
  }

  test("mixPlan: cap, deficit, missing source, unweighted source") {
    val docs = (Seq.fill(5)("a") ++ Seq.fill(20)("b") ++ Seq.fill(10)("c"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "source")
    val r = graft.operators.Corpus.mixPlan(docs, "source",
        Seq(("a", 50L), ("b", 30L), ("ghost", 20L)), budget = 20L)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(3), x.getLong(4), x.getDouble(5), x.getLong(6))).toMap
    assert(r("a") == ((5L, 10L, 5L, 1.0, 5L)), "need 10 of 5: cap at 1.0, deficit 5")
    assert(r("b") == ((20L, 6L, 6L, 0.3, 0L)))
    assert(r("ghost") == ((0L, 4L, 0L, 0.0, 4L)), "missing source = pure deficit")
    assert(r("c") == ((10L, 0L, 0L, 0.0, 0L)), "unweighted source plans to zero")
  }

  test("targetEncode: leave-one-out means, singleton NULL") {
    val df = Seq((1L, "g", 10.0), (2L, "g", 20.0), (3L, "g", 30.0), (4L, "solo", 7.0))
      .toDF("id", "cat", "y")
    val r = graft.operators.Features.targetEncode(df, "cat", "y")
      .collect().map(x => x.getLong(1) ->
        (if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(r(1L).contains(25.0) && r(2L).contains(20.0) && r(3L).contains(15.0),
      "each row sees the mean of its PEERS only")
    assert(r(4L).isEmpty, "singleton category encodes to NULL")
  }

  test("stationaryDist: uniform 2-cycle stays put; sink absorbs") {
    // a <-> b symmetric: pi stays (scale, scale)
    val cyc = Seq(("a", "b", 10L), ("b", "a", 10L))
      .toDF("prev_type", "next_type", "transitions")
    val r1 = Behavior.stationaryDist(cyc, iters = 4, scale = 1000L)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1 == Map("a" -> 1000L, "b" -> 1000L))
    // a -> b only: one step moves all mass into b; the absorbing sink
    // emits nothing, so a second step drains it (documented leak —
    // a ranking, not a calibrated probability)
    val sink = Seq(("a", "b", 5L)).toDF("prev_type", "next_type", "transitions")
    val r2 = Behavior.stationaryDist(sink, iters = 1, scale = 1000L)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2 == Map("a" -> 0L, "b" -> 1000L))
    val r3 = Behavior.stationaryDist(sink, iters = 2, scale = 1000L)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r3 == Map("a" -> 0L, "b" -> 0L), "sink emits nothing: documented leak")
  }

  test("cohensKappa: hand contingency, perfect/constant/NULL-row handling") {
    import graft.operators.Eval
    // cells: (a,a)=20 (b,b)=30 (a,b)=10 (b,a)=40 → po=0.5,
    // pe=(30·60+70·40)/100²=0.46, κ=400/5400=2/27
    val rows = Seq.fill(20)(("a", "a")) ++ Seq.fill(30)(("b", "b")) ++
      Seq.fill(10)(("a", "b")) ++ Seq.fill(40)(("b", "a"))
    val r = Eval.cohensKappa(rows.toDF("ra", "rb"), col("ra"), col("rb")).head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 50L)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 0.46)
    assert(r.getDouble(4) == 2.0 / 27.0, "cross-multiplied κ is exact")
    // perfect agreement on a non-constant rater → κ = 1
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("ra", "rb")
    assert(Eval.cohensKappa(perfect, col("ra"), col("rb"))
      .head().getDouble(4) == 1.0)
    // both raters constant → pe = 1, κ undefined → NULL
    val const = Seq(("a", "a"), ("a", "a")).toDF("ra", "rb")
    assert(Eval.cohensKappa(const, col("ra"), col("rb")).head().isNullAt(4))
    // NULL ratings are excluded, not a category: n drops to 2
    val withNull = Seq(("a", "a"), ("b", "b"), (null, "a")).toDF("ra", "rb")
    assert(Eval.cohensKappa(withNull, col("ra"), col("rb"))
      .head().getLong(0) == 2L)
  }

  test("clusterSilhouette: separated clusters score high, misassignment negative, k<2 fails") {
    import graft.operators.Eval
    def emb(rows: (Long, Seq[Float], Int)*) =
      rows.toDF("vec_id", "embedding", "label")
    val good = emb(
      (1L, Seq(0f, 0f), 0), (2L, Seq(0.1f, 0f), 0),
      (3L, Seq(10f, 10f), 1), (4L, Seq(10.1f, 10f), 1))
    val r = Eval.clusterSilhouette(good, "label", dim = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(0L) > 0.95 && r(1L) > 0.95, s"tight+separated ≈ 1: $r")
    // vector 4 placed in cluster 0 while sitting on cluster 1 → its
    // own-centroid distance dwarfs the other-centroid distance and the
    // polluted cluster's mean collapses
    val bad = emb(
      (1L, Seq(0f, 0f), 0), (2L, Seq(0.1f, 0f), 0),
      (3L, Seq(10f, 10f), 1), (4L, Seq(10.1f, 10f), 1),
      (5L, Seq(10f, 10.1f), 0))
    val rb = Eval.clusterSilhouette(bad, "label", dim = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(rb(0L) < r(0L), "misassignment lowers the cluster mean")
    intercept[IllegalArgumentException] {
      Eval.clusterSilhouette(emb((1L, Seq(0f, 0f), 0)), "label", dim = 2)
    }
  }

  test("daviesBouldin: tight separated clusters score low; zero-separation pairs drop") {
    import graft.operators.Eval
    def emb(rows: (Long, Seq[Float], Int)*) =
      rows.toDF("vec_id", "embedding", "label")
    val good = emb(
      (1L, Seq(0f, 0f), 0), (2L, Seq(0.1f, 0f), 0),
      (3L, Seq(10f, 10f), 1), (4L, Seq(10.1f, 10f), 1))
    val r = Eval.daviesBouldin(good, "label", dim = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(0L) < 0.05 && r(1L) < 0.05, s"tight+separated → small ratios: $r")
    // duplicate centroids: the 0↔1 pair is undefined and DROPS from
    // the max; each still rates against the far cluster 2
    val dup = emb(
      (1L, Seq(1f, 1f), 0), (2L, Seq(1f, 1f), 1), (3L, Seq(30f, 30f), 2))
    val rd = Eval.daviesBouldin(dup, "label", dim = 2).collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(rd.values.forall(_.isDefined), s"far peer keeps every max defined: $rd")
    // when every peer duplicates the centroid, r_worst is NULL not ∞
    val onlyDup = emb((1L, Seq(1f, 1f), 0), (2L, Seq(1f, 1f), 1))
    assert(Eval.daviesBouldin(onlyDup, "label", dim = 2)
      .collect().forall(_.isNullAt(3)))
  }

  test("autocorrelation: alternating series exact lags, constant NULL, short-series NULL") {
    // alternating ±1 over 4 events: x̄=0, r1=-3/4, r2=+1/2, r3=-1/4
    val alt = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, 1.0),
      (2L, ts("2024-01-01 00:00:02"), 1L, -1.0),
      (3L, ts("2024-01-01 00:00:03"), 1L, 1.0),
      (4L, ts("2024-01-01 00:00:04"), 1L, -1.0))
      .toDF("event_id", "ts", "user_id", "value")
    val r = Behavior.autocorrelation(alt, maxLag = 3)
      .collect().map(x => x.getLong(1) -> x.getDouble(3)).toMap
    assert(r == Map(1L -> -0.75, 2L -> 0.5, 3L -> -0.25), s"got $r")
    // constant series: zero variance → every lag NULL
    val const = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, 5.0),
      (2L, ts("2024-01-01 00:00:02"), 1L, 5.0))
      .toDF("event_id", "ts", "user_id", "value")
    assert(Behavior.autocorrelation(const, maxLag = 2)
      .collect().forall(_.isNullAt(3)))
    // 2 events: lag 2 has no pairs → NULL, lag 1 defined
    val short = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, 1.0),
      (2L, ts("2024-01-01 00:00:02"), 1L, 3.0))
      .toDF("event_id", "ts", "user_id", "value")
    val rs = Behavior.autocorrelation(short, maxLag = 2)
      .collect().map(x => x.getLong(1) ->
        (if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(rs(2L).isEmpty && rs(1L).contains(-0.5),
      "2-point series: one ±d cross term over a 2d² denominator → r1 = -1/2")
  }

  test("mannKendallRecent: monotone window exact S/Var, ties, recency bound, constant NULL") {
    def ev(rows: (Long, Int, Double)*) = rows.map { case (id, sec, v) =>
      (id, ts(f"2024-01-01 00:00:$sec%02d"), 7L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    // strictly increasing 5 events, k covers all: S = C(5,2) = 10,
    // var18 = 5·4·15 = 300, trend = 10/√(300/18)
    val up = ev((1L, 1, 1.0), (2L, 2, 2.0), (3L, 3, 3.0), (4L, 4, 4.0), (5L, 5, 5.0))
    val r = Behavior.mannKendallRecent(up, k = 16).head()
    assert(r.getLong(1) == 5L && r.getLong(2) == 10L && r.getLong(3) == 300L)
    assert(r.getDouble(4) == 10.0 / math.sqrt(300.0 / 18.0))
    // recency bound: k=3 sees only the last 3 (3.0, 4.0, 5.0) → S = 3
    val r3 = Behavior.mannKendallRecent(up, k = 3).head()
    assert(r3.getLong(1) == 3L && r3.getLong(2) == 3L)
    // tie correction: values (1,1,2) → S = 2, ties term 2·1·9 = 18,
    // var18 = 3·2·11 − 18 = 48
    val tied = ev((1L, 1, 1.0), (2L, 2, 1.0), (3L, 3, 2.0))
    val rt = Behavior.mannKendallRecent(tied, k = 16).head()
    assert(rt.getLong(2) == 2L && rt.getLong(3) == 48L)
    // constant window: Var = 0 → trend NULL (not ±inf)
    val const = ev((1L, 1, 4.0), (2L, 2, 4.0), (3L, 3, 4.0))
    val rc = Behavior.mannKendallRecent(const, k = 16).head()
    assert(rc.getLong(3) == 0L && rc.isNullAt(4))
  }

  test("fuzzyJoin: best match per left, inner semantics, brute-force witness") {
    val left = Seq((1L, "martha"), (2L, "jonas"), (3L, "qqqqq"))
      .toDF("id", "name")
    val right = Seq((10L, "marta"), (11L, "marthas"), (12L, "jonsa"),
      (13L, "jonas"), (14L, "zzzzz")).toDF("id", "name")
    val got = graft.operators.Dedup.fuzzyJoin(left, right, maxDist = 1)
      .select("id_l", "id_r", "dist").as[(Long, Long, Int)]
      .collect().toSeq.sortBy(_._1)
    // 1: marta(del) and marthas(ins) both dist 1 → lower id_r 10 wins;
    // 2: exact match 13 at dist 0 beats nothing else; 3: no match → absent
    assert(got == Seq((1L, 10L, 1), (2L, 13L, 0)), s"got $got")
    // brute-force witness: every emitted winner is a true argmin
    val names = right.as[(Long, String)].collect()
    got.foreach { case (l, r, d) =>
      val lname = left.as[(Long, String)].collect().toMap.apply(l)
      val best = names.map { case (rid, rn) => (levDist(lname, rn), rid) }
        .filter(_._1 <= 1).min
      assert((best._2, best._1) == ((r, d)), s"left $l: want $best, got ($r, $d)")
    }
  }

  test("trimmedMean: hand ranks, tie-spanning trim, trim=0 degenerates to mean") {
    import graft.operators.Quantile
    // group g: values 1..10 → 10% trim drops rank-1 and rank-10 →
    // mean of 2..9 = 5.5 over kept = 8
    val df = (1 to 10).map(v => ("g", v.toDouble)).toDF("grp", "v")
    val r = Quantile.trimmedMean(df, "grp", "v", 1L, 10L).head()
    assert(r.getLong(1) == 10L && r.getLong(2) == 8L && r.getDouble(3) == 5.5)
    // ties spanning the cut: values (1,1,1,9) trim 25% → drop one 1 and
    // the 9 → kept (1,1) → mean 1.0; the clamp splits the tied group
    val tied = Seq(("t", 1.0), ("t", 1.0), ("t", 1.0), ("t", 9.0)).toDF("grp", "v")
    val rt = Quantile.trimmedMean(tied, "grp", "v", 1L, 4L).head()
    assert(rt.getLong(2) == 2L && rt.getDouble(3) == 1.0, s"got $rt")
    // trim 0 → plain mean
    val rm = Quantile.trimmedMean(df, "grp", "v", 0L, 10L).head()
    assert(rm.getLong(2) == 10L && rm.getDouble(3) == 5.5)
    intercept[IllegalArgumentException] {
      Quantile.trimmedMean(df, "grp", "v", 1L, 2L)
    }
  }

  test("splitConformal: hand rank, degenerate calibration NULL, zero coverage reads 0") {
    import graft.operators.Eval
    // calibration residuals 1..9 at α=1/10: rank = ⌈10·0.9⌉ = 9 → q̂ = 9;
    // test residuals {5, 10} → coverage 1/2
    val rows = (1 to 9).map(i => (0.0, i.toDouble / 100.0, true)) ++
      Seq((0.0, 0.05, false), (0.0, 0.10, false))
    val df = rows.toDF("pred", "actual", "cal")
    val r = Eval.splitConformal(df, col("pred"), col("actual"), col("cal"), 1L, 10L).head()
    assert(r.getLong(0) == 9L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 9L && r.getDouble(3) == 0.5, s"got $r")
    // too few calibration rows: rank ⌈3·0.9⌉ = 3 > 2 → q̂ and coverage NULL
    val tiny = Seq((0.0, 0.01, true), (0.0, 0.02, true), (0.0, 0.05, false))
      .toDF("pred", "actual", "cal")
    val rt = Eval.splitConformal(tiny, col("pred"), col("actual"), col("cal"), 1L, 10L).head()
    assert(rt.isNullAt(2) && rt.isNullAt(3))
    // q̂ defined but nothing covered → 0.0, not NULL
    val zc = Seq((0.0, 0.01, true), (0.0, 5.0, false)).toDF("pred", "actual", "cal")
    val rz = Eval.splitConformal(zc, col("pred"), col("actual"), col("cal"), 1L, 2L).head()
    assert(rz.getLong(2) == 1L && rz.getDouble(3) == 0.0, s"got $rz")
  }

  test("liftBootstrapCi: exact point lift, band defined, no-control-conversion NULL, invariance") {
    import graft.operators.Eval
    // control (t=false): 2/4 convert; treatment: 3/4 → lift 1.5 exactly
    val rows = Seq(
      (1L, false, true), (2L, false, true), (3L, false, false), (4L, false, false),
      (5L, true, true), (6L, true, true), (7L, true, true), (8L, true, false))
    val df = rows.toDF("id", "t", "y")
    val r = Eval.liftBootstrapCi(df, col("t"), col("y"), col("id")).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 0.75)
    assert(r.getDouble(4) == 1.5, s"got $r")
    assert(!r.isNullAt(5) && !r.isNullAt(6) && r.getDouble(5) <= r.getDouble(6))
    // partition invariance: the CI is a pure function of the data
    val r7 = Eval.liftBootstrapCi(df.repartition(7), col("t"), col("y"), col("id")).head()
    assert(r7.getDouble(5) == r.getDouble(5) && r7.getDouble(6) == r.getDouble(6))
    // control never converts → lift undefined → NULL (and the replica
    // band empties the same way)
    val noCtl = Seq((1L, false, false), (2L, true, true)).toDF("id", "t", "y")
    val rn = Eval.liftBootstrapCi(noCtl, col("t"), col("y"), col("id")).head()
    assert(rn.isNullAt(4))
  }

  test("mcc: hand confusion, perfect = 1, constant predictor NULL") {
    import graft.operators.Eval
    // tp=4 fp=1 fn=2 tn=3 → (12−2)/√(5·6·4·5) = 10/√600
    val rows = Seq.fill(4)((1.0, true)) ++ Seq.fill(1)((1.0, false)) ++
      Seq.fill(2)((0.0, true)) ++ Seq.fill(3)((0.0, false))
    val r = Eval.mcc(rows.toDF("s", "y"), col("s"), col("y"), 50L).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((4L, 1L, 2L, 3L)))
    assert(r.getDouble(4) == 10.0 / math.sqrt(600.0), s"got $r")
    // perfect separation → exactly 1
    val perfect = Seq((1.0, true), (1.0, true), (0.0, false), (0.0, false))
      .toDF("s", "y")
    assert(Eval.mcc(perfect, col("s"), col("y"), 50L).head().getDouble(4) == 1.0)
    // constant predictor: a marginal is empty → undefined → NULL
    val const = Seq((1.0, true), (1.0, false)).toDF("s", "y")
    assert(Eval.mcc(const, col("s"), col("y"), 50L).head().isNullAt(4))
  }

  test("giniCoefficient: constant 0, max (n-1)/n, hand pair, zero mass NULL, negative loud") {
    import graft.operators.Quantile
    def g(xs: Double*) = Quantile.giniCoefficient(
      xs.map(("g", _)).toDF("grp", "v"), "grp", "v").head()
    assert(g(5.0, 5.0, 5.0).getDouble(2) == 0.0, "constant metric → 0")
    // one observation carries all mass → (n−1)/n
    assert(g(0.0, 0.0, 0.0, 10.0).getDouble(2) == 0.75)
    // classic pair (1, 3): Σ|xi−xj|/(2n²μ) = 4/16 = 0.25
    assert(g(1.0, 3.0).getDouble(2) == 0.25)
    assert(g(0.0, 0.0).isNullAt(2), "zero total mass → NULL")
    intercept[Exception] {
      g(-1.0, 2.0)
    }
  }

  test("gini/trimmedMean overflow guard: out-of-domain raises, boundary passes") {
    import graft.operators.Quantile
    // past the DECIMAL(18,2) 10^16 bound the non-ANSI cast NULLs —
    // must raise loudly, not silently drop mass
    val over = Seq(("g", 1.0), ("g", 1e17)).toDF("grp", "v")
    intercept[Exception] { Quantile.giniCoefficient(over, "grp", "v").head() }
    intercept[Exception] { Quantile.trimmedMean(over, "grp", "v", 0L, 10L).head() }
    // a large in-domain value must NOT raise
    val big = Seq(("g", 1.0), ("g", 1e12)).toDF("grp", "v")
    assert(Quantile.giniCoefficient(big, "grp", "v").head().getLong(1) == 2L)
    assert(Quantile.trimmedMean(big, "grp", "v", 0L, 10L).head().getLong(1) == 2L)
  }

  test("autocorrelation/mannKendall: NULL exclusion and overflow raise") {
    import graft.operators.Behavior
    def ev(rows: (Long, Int, Option[Double])*) = rows.map { case (id, sec, v) =>
      (id, ts(f"2024-01-01 00:00:$sec%02d"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    // a NULL row must neither occupy a lag slot nor inflate n: the
    // alternating fixture with a NULL spliced mid-series must replay
    // the clean series' exact lags (r1=-3/4, r2=+1/2, r3=-1/4)
    val withNull = ev((1L, 1, Some(1.0)), (2L, 2, Some(-1.0)), (9L, 3, None),
      (3L, 4, Some(1.0)), (4L, 5, Some(-1.0)))
    val r = Behavior.autocorrelation(withNull, maxLag = 3)
      .collect().map(x => x.getLong(1) -> x.getDouble(3)).toMap
    assert(r == Map(1L -> -0.75, 2L -> 0.5, 3L -> -0.25), s"got $r")
    // mannKendall: the NULL must not consume a recency-window slot —
    // k=3 over (1,2,NULL,3,4) sees values (2,3,4) → S = 3, n = 3
    val mk = ev((1L, 1, Some(1.0)), (2L, 2, Some(2.0)), (9L, 3, None),
      (3L, 4, Some(3.0)), (4L, 5, Some(4.0)))
    val rm = Behavior.mannKendallRecent(mk, k = 3).head()
    assert(rm.getLong(1) == 3L && rm.getLong(2) == 3L, s"got $rm")
    // out-of-domain non-NULL value raises loudly in both (DuckDB's
    // DECIMAL cast errors on overflow — engines must agree)
    val over = ev((1L, 1, Some(1.0)), (2L, 2, Some(1e17)), (3L, 3, Some(2.0)))
    intercept[Exception] { Behavior.autocorrelation(over, maxLag = 2).head() }
    intercept[Exception] { Behavior.mannKendallRecent(over, k = 3).head() }
  }

  test("splitConformal: empty test slice keeps q̂, coverage NULL") {
    import graft.operators.Eval
    // q̂ is a calibration-side quantity: with NO test rows it must
    // still be reported (n_test = 0, coverage NULL — undefined, not 0)
    val calOnly = (1 to 9).map(i => (0.0, i.toDouble / 100.0, true))
      .toDF("pred", "actual", "cal")
    val r = Eval.splitConformal(calOnly, col("pred"), col("actual"), col("cal"), 1L, 10L).head()
    assert(r.getLong(0) == 9L && r.getLong(1) == 0L)
    assert(r.getLong(2) == 9L, s"q̂ must survive an empty test slice: $r")
    assert(r.isNullAt(3))
  }

  test("ksTwoSample: identical = 0, disjoint = 1, hand overlap, empty side NULL") {
    import graft.operators.Validate
    def vals(xs: Double*) = xs.map(Tuple1(_)).toDF("value")
    val a = vals(1.0, 2.0, 3.0, 4.0)
    assert(Validate.ksTwoSample(a, a, "value").head().getDouble(2) == 0.0)
    // disjoint supports → sup gap 1
    assert(Validate.ksTwoSample(vals(1.0, 2.0), vals(10.0, 20.0), "value")
      .head().getDouble(2) == 1.0)
    // half-overlapping: max gap at v=2 is |2/4 − 0| = 1/2, exact
    val r = Validate.ksTwoSample(a, vals(3.0, 4.0, 5.0, 6.0), "value").head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L && r.getDouble(2) == 0.5)
    // empty side → undefined, NULL not 0
    assert(Validate.ksTwoSample(a, vals(), "value").head().isNullAt(2))
  }

  test("cramersV: perfect association ≈ 1, exact independence = 0, constant column NULL") {
    // x == y on a 2×2 → φ² = 1 → V = 1 (up to the 2^-20 floor)
    val perfect = (Seq.fill(10)(("a", "a")) ++ Seq.fill(10)(("b", "b")))
      .toDF("x", "y")
    val rp = Features.cramersV(perfect, col("x"), col("y")).head()
    // every cell contribution is the exact integer 5 (zero cells
    // included — dropping them would halve this), so χ² and V are exact
    assert(rp.getDouble(4) == 20.0, s"χ² = n on a perfect 2×2: $rp")
    assert(rp.getDouble(5) == 1.0, s"V = 1: $rp")
    // exact product counts: o·n − r·c = 0 in every cell → χ² exactly 0
    val indep = (for { x <- Seq("a", "b"); y <- Seq("u", "v", "w"); _ <- 1 to 4 }
      yield (x, y)).toDF("x", "y")
    val ri = Features.cramersV(indep, col("x"), col("y")).head()
    assert(ri.getLong(3) == 0L && ri.getDouble(5) == 0.0)
    // constant y: min(R−1, C−1) = 0 → V undefined → NULL
    val const = Seq(("a", "u"), ("b", "u")).toDF("x", "y")
    assert(Features.cramersV(const, col("x"), col("y")).head().isNullAt(5))
  }

  /** third implementation (classic DP) for the brute-force witness */
  private def levDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }
}
