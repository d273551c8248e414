package graft

import org.apache.spark.sql.functions._
import graft.operators.{Incremental, Layout}

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def base3 =
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")

  test("upsert replaces matched keys and appends unmatched") {
    val changes = Seq((2L, "b2", 21.0), (9L, "new", 90.0)).toDF("k", "s", "v")
    val r = Incremental.upsert(base3, changes, Seq("k")).orderBy("k").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 9L))
    assert(r(1).getString(1) == "b2" && r(1).getDouble(2) == 21.0)
    assert(r(3).getString(1) == "new")
  }

  test("upsert anti join broadcasts the change keys (no exchange on base)") {
    val changes = Seq((2L, "b2", 21.0)).toDF("k", "s", "v")
    val plan = Incremental.upsert(base3, changes, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("duplicate change keys fail fast instead of merging nondeterministically") {
    val changes = Seq((2L, "first", 1.0), (2L, "second", 2.0)).toDF("k", "s", "v")
    val e = intercept[Exception] {
      Incremental.upsert(base3, changes, Seq("k")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("duplicate change key")), e.toString)
  }

  test("applyCdc: update replaces, insert appends, tombstone deletes") {
    val changes = Seq(
      (2L, "b2", 21.0, "U"), (9L, "new", 90.0, "I"), (3L, "", 0.0, "D")
    ).toDF("k", "s", "v", "op")
    val r = Incremental.applyCdc(base3, changes, Seq("k")).orderBy("k").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 9L)) // 3 deleted
    assert(r(1).getString(1) == "b2" && r(2).getDouble(2) == 90.0)
  }

  test("applyCdc rejects NULL and unknown op codes loudly") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // NULL op: without the guard the row's key is anti-joined away and
    // the image is dropped by `op =!= "D"` — a silent tombstone
    val nullOp = Seq((2L, "b2", 21.0, null.asInstanceOf[String])).toDF("k", "s", "v", "op")
    val e1 = intercept[Exception] {
      Incremental.applyCdc(base3, nullOp, Seq("k")).collect()
    }
    assert(messages(e1).exists(_.contains("op must be one of I/U/D")), e1.toString)
    // unknown code: would otherwise silently behave as an upsert
    val badOp = Seq((2L, "b2", 21.0, "X")).toDF("k", "s", "v", "op")
    val e2 = intercept[Exception] {
      Incremental.applyCdc(base3, badOp, Seq("k")).collect()
    }
    assert(messages(e2).exists(_.contains("op must be one of I/U/D")), e2.toString)
  }

  test("schema evolution: evolve-then-upsert == upsert-then-evolve (law); keys stay strict") {
    val changes = Seq((2L, "b2", 21.0, "tag2"), (9L, "new", 90.0, "tag9"))
      .toDF("k", "s", "v", "tag")
    // evolved upsert: base rows get explicit NULL for the new column
    val evolved = Incremental.upsert(base3, changes, Seq("k"),
      allowMissingColumns = true)
    assert(evolved.columns.toSeq == Seq("k", "s", "v", "tag"))
    val rows = evolved.orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 9L))
    assert(rows(0).isNullAt(3) && rows(2).isNullAt(3)) // untouched base rows
    assert(rows(1).getString(3) == "tag2" && rows(3).getString(3) == "tag9")
    // law: explicitly evolving the base first, then a STRICT upsert,
    // produces the same table
    val evolvedFirst = Incremental.upsert(
      base3.withColumn("tag", lit(null).cast("string")), changes, Seq("k"))
    assert(evolved.collect().map(_.toSeq).toSet ==
      evolvedFirst.collect().map(_.toSeq).toSet)
    // the reverse direction too: changes missing a base column get NULLs
    val narrow = Seq((3L, "c3")).toDF("k", "s")
    val r2 = Incremental.upsert(base3, narrow, Seq("k"), allowMissingColumns = true)
      .orderBy("k").collect()
    assert(r2.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(r2(2).getString(1) == "c3" && r2(2).isNullAt(2)) // v null-filled
    // keys are never null-fillable, whatever the evolution mode
    val noKey = Seq(("x", 1.0)).toDF("s", "v")
    val e = intercept[IllegalArgumentException] {
      Incremental.upsert(base3, noKey, Seq("k"), allowMissingColumns = true)
    }
    assert(e.getMessage.contains("missing key column"))
    // strict mode still rejects mismatched schemas loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      Incremental.upsert(base3, changes, Seq("k")).collect()
    }
    // applyCdc shares the semantics: evolved upserts + tombstones
    val cdc = Seq((2L, "b2", 21.0, "tag2", "U"), (3L, "", 0.0, "t", "D"))
      .toDF("k", "s", "v", "tag", "op")
    val r3 = Incremental.applyCdc(base3, cdc, Seq("k"),
      allowMissingColumns = true).orderBy("k").collect()
    assert(r3.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(r3(0).isNullAt(3) && r3(1).getString(3) == "tag2")
  }

  test("upsert is idempotent: applying the same changes twice == once") {
    val changes = Seq((2L, "b2", 21.0), (9L, "new", 90.0)).toDF("k", "s", "v")
    val once = Incremental.upsert(base3, changes, Seq("k"))
    val twice = Incremental.upsert(once, changes, Seq("k"))
    assert(twice.collect().map(_.toSeq).toSet == once.collect().map(_.toSeq).toSet)
  }

  test("snapshotDiff classifies I/U/D, omits unchanged, carries NULL-ing updates") {
    val before = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, Some("c"), 30.0), (4L, Some("d"), 40.0)).toDF("k", "s", "v")
    val after = Seq((1L, Some("a"), 10.0),          // unchanged
      (2L, None: Option[String], 20.0),             // U: field set to NULL
      (4L, Some("d2"), 40.0),                       // U
      (9L, Some("new"), 90.0)).toDF("k", "s", "v")  // I  (3 deleted)
    val d = Incremental.snapshotDiff(before, after, Seq("k")).orderBy("k").collect()
    assert(d.map(r => (r.getLong(0), r.getString(3))).toSeq ==
      Seq((2L, "U"), (3L, "D"), (4L, "U"), (9L, "I")))
    assert(d(0).isNullAt(1))                        // after-image NULL carried
    assert(d(1).getString(1) == "c")                // D carries the before-image
    // roundtrip law: applying the diff reproduces `after` exactly
    val replayed = Incremental.applyCdc(before,
      Incremental.snapshotDiff(before, after, Seq("k")), Seq("k"))
    assert(replayed.collect().map(_.toSeq).toSet == after.collect().map(_.toSeq).toSet)
    // diff of identical snapshots is empty
    assert(Incremental.snapshotDiff(before, before, Seq("k")).isEmpty)
    // a data column named like the marker column is rejected loudly
    intercept[IllegalArgumentException] {
      Incremental.snapshotDiff(before.withColumnRenamed("s", "op"),
        after.withColumnRenamed("s", "op"), Seq("k"))
    }
  }

  test("refreshSumCounts == full recompute (fold law over two batches)") {
    import org.apache.spark.sql.types.DecimalType
    val facts = Seq(("A", 1.5), ("A", 2.5), ("B", 10.0), ("A", 3.0), ("B", 0.25))
      .toDF("g", "v")
    def d(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
    def full(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(count(lit(1)).as("n"), sum(d(col("v"))).as("t"))
    val base = facts.limit(2)
    val batch1 = facts.offset(2).limit(2)
    val batch2 = facts.offset(4)
    val maintained = Incremental.refreshSumCounts(
      Incremental.refreshSumCounts(full(base), batch1, Seq("g"), Seq("t" -> d(col("v")))),
      batch2, Seq("g"), Seq("t" -> d(col("v"))))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("g"), col("n"), col("t").cast("double"))
        .collect().map(_.toSeq).toSet
    assert(canon(maintained) == canon(full(facts)))
  }

  test("dedupAgainstCorpus flags cross-set near-dups only") {
    val mk = (hole: Int, tag: String) =>
      (1 to 60).map(i => if (i == hole) tag else s"tok$i").mkString(" ")
    val corpus = Seq((10L, mk(0, "")), (11L, (100 to 160).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (250L, mk(30, "CHANGED")),            // near-dup of corpus doc 10
      (251L, (300 to 360).map(i => s"z$i").mkString(" ")), // novel
      (252L, "a b")                          // too short for a signature
    ).toDF("doc_id", "text")
    val r = Incremental.dedupAgainstCorpus(corpus, incoming, threshold = 0.3)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(250L, 251L, 252L)) // all incoming kept
    assert(r(0).getBoolean(1) && r(0).getLong(2) == 10L)
    assert(!r(1).getBoolean(1) && r(1).isNullAt(2))
    assert(!r(2).getBoolean(1))
  }

  test("overwritePartitions rewrites only the touched partitions") {
    Scratch.using(spark, "graft-test-inc-partitions") { scratch =>
      val dir = s"$scratch/t"
      val v1 = Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0))
        .toDF("k", "p", "v")
      Incremental.overwritePartitions(v1, dir, Seq("p"))
      def files(p: String): Set[(String, Long)] = {
        val d = new java.io.File(new org.apache.hadoop.fs.Path(s"$dir/p=$p").toUri.getPath)
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet
      }
      val aBefore = files("A")
      Thread.sleep(1100) // ensure a rewrite would bump mtime
      // merge touches only partition B
      val patch = Seq((3L, "B", 31.0), (9L, "B", 90.0)).toDF("k", "p", "v")
      Incremental.overwritePartitions(patch, dir, Seq("p"))
      assert(files("A") == aBefore, "partition A must not be rewritten")
      val back = spark.read.parquet(dir).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(1)))
      assert(back.map(_._1).toSeq == Seq(1L, 2L, 3L, 9L))
      assert(back.find(_._1 == 3L).get._3 == 31.0) // patched image read back
    }
  }

  test("zValue interleaves bits (hand-computed) and validates bounds") {
    // x=0b11 → out bits 0,2; y=0b01 → out bit 1: z = 1+2+4 = 7
    val z = Seq((3L, 1L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 2)).as[Long].collect()(0)
    assert(z == 7L)
    intercept[IllegalArgumentException] {
      Layout.zValue(Seq(col("x"), col("y")), 32) // 64 bits > 63
    }
    // out-of-contract inputs fail at evaluation, not silently scramble:
    // negative values would interleave two's-complement bits; oversized
    // ones would be silently masked to their low bits
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    for (bad <- Seq((-1L, 1L), (4L, 1L))) { // 4 >= 2^2
      val e = intercept[Exception] {
        Seq(bad).toDF("x", "y")
          .select(Layout.zValue(Seq(col("x"), col("y")), 2)).collect()
      }
      assert(messages(e).exists(_.contains("zValue: input outside")), e.toString)
    }
    // NULL inputs pass through as a NULL z-value (ordinary sort-key NULL)
    val zn = Seq((Some(3L), None: Option[Long])).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 2)).collect()(0)
    assert(zn.isNullAt(0))
  }

  test("zorderBy concentrates a 2-column box query into fewer files") {
    val part = Tables(spark, sf, "part")
    Scratch.using(spark, "graft-test-layout") { scratch =>
      val zDir = s"$scratch/z"
      val hDir = s"$scratch/hash"
      Layout.zorderBy(part, Seq(col("p_size"), col("p_partkey") % 256), 8, 8)
        .write.mode("overwrite").parquet(zDir)
      part.repartition(8, col("p_partkey")).write.mode("overwrite").parquet(hDir)
      def filesTouched(dir: String): Long =
        spark.read.parquet(dir)
          .filter(col("p_size").between(10, 12) && col("p_partkey") % 256 < 64)
          .select(input_file_name()).distinct().count()
      val (zf, hf) = (filesTouched(zDir), filesTouched(hDir))
      // hash layout scatters the box across ~every file; z-order keeps it
      // in a contiguous z-range → strictly fewer files hold matching rows
      assert(zf < hf, s"z-order touched $zf files, hash layout $hf")
      // the Hilbert sibling prunes at least as well as the seam-jumping
      // Morton layout on the same box (connected arcs → tight boxes)
      val hilDir = s"$scratch/hilbert"
      Layout.hilbertBy(part, col("p_size"), col("p_partkey") % 256, 8, 8)
        .write.mode("overwrite").parquet(hilDir)
      val hil = filesTouched(hilDir)
      assert(hil < hf, s"hilbert touched $hil files, hash layout $hf")
      assert(hil <= zf, s"hilbert touched $hil files, z-order $zf")
    }
  }

  test("shuffled: exact permutation, window-parity, seeded determinism") {
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("source"))
    val n = docs.count()
    val got = Layout.shuffled(docs, Seq(col("doc_id")), seed = 42L)
    // positions are exactly 0..n-1, each once
    val pos = got.select("shuffle_pos").as[Long].collect().sorted
    assert(pos.toSeq == (0L until n).toSeq)
    // parity with the single-partition row_number formulation (the
    // thing shuffled() computes WITHOUT a global window funnel)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(Layout.shuffleKey(42L, Seq(col("doc_id"))), col("doc_id"))
    val exp = docs.withColumn("shuffle_pos", row_number().over(w).cast("long") - 1)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val gotMap = got.select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(gotMap == exp)
    // same seed → identical order; different seed → different order
    val again = Layout.shuffled(docs, Seq(col("doc_id")), seed = 42L)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(again == gotMap)
    val other = Layout.shuffled(docs, Seq(col("doc_id")), seed = 43L)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(other != gotMap)
    // and the shuffle actually shuffles: not the identity order
    assert(gotMap.toSeq.sortBy(_._2).map(_._1) != gotMap.keys.toSeq.sorted)
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def scdDim =
    Seq((1L, "a", ts("1990-01-01 00:00:00"), Option(ts("1995-01-01 00:00:00")), false),
      (1L, "a2", ts("1995-01-01 00:00:00"), None, true),
      (2L, "b", ts("1995-01-01 00:00:00"), None, true),
      (3L, "c", ts("1990-01-01 00:00:00"), Option(ts("1995-01-01 00:00:00")), false))
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")

  test("scdType2: close+reopen on change, suppress no-ops, revive retired keys, keep history") {
    val eff = lit("2024-06-01 00:00:00").cast("timestamp")
    // k=1 real change, k=2 identical image (no-op), k=3 retired key
    // reappearing, k=9 brand new
    val chg = Seq((1L, "a3"), (2L, "b"), (3L, "c3"), (9L, "z"))
      .toDF("k", "seg")
    val out = Incremental.scdType2(scdDim, chg, Seq("k"), eff)
      .orderBy("k", "valid_from")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect().toSeq
    assert(out == Seq(
      (1L, "a", ts("1990-01-01 00:00:00"), Some(ts("1995-01-01 00:00:00")), false),
      (1L, "a2", ts("1995-01-01 00:00:00"), Some(ts("2024-06-01 00:00:00")), false),
      (1L, "a3", ts("2024-06-01 00:00:00"), None, true),
      (2L, "b", ts("1995-01-01 00:00:00"), None, true),
      (3L, "c", ts("1990-01-01 00:00:00"), Some(ts("1995-01-01 00:00:00")), false),
      (3L, "c3", ts("2024-06-01 00:00:00"), None, true),
      (9L, "z", ts("2024-06-01 00:00:00"), None, true)))
    // idempotence: re-applying the same batch later changes nothing —
    // every image now matches its current row, new keys are present
    val again = Incremental.scdType2(out.toDF("k", "seg", "valid_from", "valid_to", "is_current"),
        chg, Seq("k"), lit("2025-01-01 00:00:00").cast("timestamp"))
      .orderBy("k", "valid_from")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect().toSeq
    assert(again == out)
  }

  test("scdType2: base never shuffles (broadcast joins only) and bad inputs fail fast") {
    val chg = Seq((1L, "a3")).toDF("k", "seg")
    val plan = Incremental.scdType2(scdDim, chg, Seq("k"),
        lit("2024-06-01 00:00:00").cast("timestamp"))
      .queryExecution.executedPlan.toString
    // the CHANGE batch may shuffle (requireUniqueKeys windows over it);
    // the dim side must only ever meet it through broadcast joins
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
    intercept[IllegalArgumentException] { // dim attr without change image
      Incremental.scdType2(scdDim.withColumn("extra", lit(1)), chg, Seq("k"),
        lit("2024-06-01 00:00:00").cast("timestamp"))
    }
    val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "seg")
    val e = intercept[Exception] {
      Incremental.scdType2(scdDim, dup, Seq("k"),
        lit("2024-06-01 00:00:00").cast("timestamp")).collect()
    }
    assert(e.getMessage.contains("duplicate change key"))
  }

  test("forget drops tombstoned keys, tolerates repeats, keeps the rest") {
    val tomb = Seq(2L, 2L, 9L).toDF("k") // repeat requests are the norm
    val r = Incremental.forget(base3, tomb, Seq("k"), Seq("k"))
      .orderBy("k").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("forget anti join broadcasts the tombstone keys (no exchange on base)") {
    val tomb = Seq(2L).toDF("k")
    val plan = Incremental.forget(base3, tomb, Seq("k"), Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"expected broadcast anti join, got:\n$plan")
  }

  test("forgetCascade audits every hop and propagates the OWN key, not the FK") {
    // customers 1,2; orders (10→1, 11→1, 12→2); lines (100→10, 101→12)
    val cust = Seq((1L, "a"), (2L, "b")).toDF("c_k", "name")
    val ords = Seq((10L, 1L), (11L, 1L), (12L, 2L)).toDF("o_k", "o_ck")
    val lines = Seq((100L, 10L), (101L, 12L)).toDF("l_id", "l_ok")
      .select(col("l_ok"), col("l_id")) // FK not first: by-name lookup
    val tomb = Seq(1L).toDF("c_k")
    val audit = Incremental.forgetCascade(tomb, Seq("c_k"), Seq(
        ("customer", cust, Seq("c_k"), Seq("c_k")),
        ("orders", ords, Seq("o_ck"), Seq("o_k")),
        ("lineitem", lines, Seq("l_ok"), Seq("l_id"))))
      .orderBy("table_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // cascade: cust 1 → orders 10,11 → line 100 (line 101 belongs to
    // order 12 of the SURVIVING customer — a FK-propagation bug that
    // forwarded o_ck instead of o_k would delete it too)
    assert(audit.toSeq == Seq(
      ("customer", 2L, 1L, 1L),
      ("lineitem", 2L, 1L, 1L),
      ("orders", 3L, 2L, 1L)))
  }
}
