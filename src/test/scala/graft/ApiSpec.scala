package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.{Col, StrOps, Table}

/** Blaze-semantics parity traps from SURVEY §7.4 item 4, each encoded as
  * a unit test before the oracle runs (mirrors the reference's
  * `test_sql_compute.py` case style).
  */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  // single instance: self-references (t.filter(t("x") > 0)) need stable
  // attribute ids, exactly like Blaze's hash-consed exprs
  private lazy val accounts = Table(Seq(
    ("Alice", 100, 1), ("Bob", -200, 2), ("Charlie", 300, 3),
    ("Denis", 400, 4), ("Edith", -500, 5)).toDF("name", "amount", "id"))

  test("field access and projection preserve order") {
    assert(accounts.project("amount", "name").fields == Seq("amount", "name"))
  }

  test("missing field fails at construction time (Blaze eager analysis)") {
    val e = intercept[IllegalArgumentException](accounts.project("nope"))
    assert(e.getMessage.contains("nope"))
  }

  test("selection filters") {
    val r = accounts.filter(accounts("amount") > 0).df.collect()
    assert(r.length == 3)
  }

  test("by: result columns = grouper then ALPHABETICAL agg names") {
    val byT = accounts.merge("pos" -> (accounts("amount") > 0))
      .by("pos", "z_total" -> Col(sum(col("amount"))), "a_count" -> Col(count(lit(1))))
    assert(byT.fields == Seq("pos", "a_count", "z_total"))
  }

  test("merge: new columns appended in alphabetical order") {
    val m = accounts.merge("z" -> accounts("amount"), "b" -> accounts("id"))
    assert(m.fields == Seq("name", "amount", "id", "b", "z"))
  }

  test("join: output = keys, left non-key, right non-key; overlap suffixed") {
    val l = Table(Seq((1, "a", 10), (2, "b", 20)).toDF("id", "tag", "x"))
    val r = Table(Seq((1, "A", 7), (3, "C", 9)).toDF("id", "tag", "y"))
    val j = Table.join(l, r, Seq("id"), Seq("id"), "inner")
    assert(j.fields == Seq("id", "tag_left", "x", "tag_right", "y"))
    assert(j.df.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("join on multiple differently-named keys") {
    val l = Table(Seq((1, "x", 10), (1, "y", 11), (2, "x", 20)).toDF("a", "b", "v"))
    val r = Table(Seq((1, "x", 7.0), (2, "z", 9.0)).toDF("c", "d", "w"))
    val j = Table.join(l, r, Seq("a", "b"), Seq("c", "d"), "inner")
    assert(j.fields == Seq("a", "b", "v", "w"))
    val rows = j.df.collect()
    assert(rows.length == 1 && rows(0).getInt(2) == 10 && rows(0).getDouble(3) == 7.0)
  }

  test("join outer: key coalesced, both sides nullable") {
    val l = Table(Seq((1, 10), (2, 20)).toDF("id", "x"))
    val r = Table(Seq((2, 7), (3, 9)).toDF("id", "y"))
    val j = Table.join(l, r, Seq("id"), Seq("id"), "outer")
    val rows = j.df.orderBy("id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(rows(0).isNullAt(2) && rows(2).isNullAt(1))
  }

  test("join: invalid how rejected eagerly") {
    val l = Table(Seq((1, 10)).toDF("id", "x"))
    intercept[IllegalArgumentException](Table.join(l, l, Seq("id"), Seq("id"), "cross"))
  }

  test("concat requires exact schema match (Blaze Concat)") {
    val a = Table(Seq((1, "x")).toDF("id", "s"))
    val b = Table(Seq(("x", 1)).toDF("s", "id"))
    intercept[IllegalArgumentException](a.concat(b))
    assert(a.concat(a).nrows == 2)
  }

  test("distinct(on) and countValues") {
    val d = accounts.merge("pos" -> (accounts("amount") > 0)).distinct("pos")
    assert(d.nrows == 2)
    val cv = accounts.merge("pos" -> (accounts("amount") > 0)).countValues("pos")
    assert(cv.fields == Seq("pos", "count"))
  }

  test("Div is always float64 (arithmetic.py:189-196)") {
    val r = accounts.merge("d" -> (accounts("id") / accounts("id")))
    assert(r.schema("d").dataType == DoubleType)
  }

  test("FloorDiv floors and stays integral (arithmetic.py:199-210)") {
    val r = accounts.merge("fd" -> accounts("amount").floorDiv(Col.lit(7))).df
      .select("fd").as[Long].collect().toSeq
    assert(r == Seq(14L, -29L, 42L, 57L, -72L)) // floor(-200/7) = -29
  }

  test("glob Like translation: * ? and literal % escaped (sql.py:1276-1278)") {
    assert(StrOps.globToSql("Ali*") == "Ali%")
    assert(StrOps.globToSql("A?ice") == "A_ice")
    assert(StrOps.globToSql("100%*") == "100\\%%")
    val r = accounts.filter(Col(accounts("name").str.like("Ali*"))).df.collect()
    assert(r.length == 1 && r(0).getString(0) == "Alice")
  }

  test("pad('both') is pandas str.center: no truncation, CPython margin quirk") {
    // expected values generated by Python str.center(w, '.') — including
    // the quirk that 'ab'.center(5) puts the odd fill char LEFT, and that
    // strings longer than width pass through unchanged (SQL RPAD/LPAD
    // truncate; center must not)
    val cases = Seq(
      ("abcdef", 5, "abcdef"),
      ("ab", 5, "..ab."),
      ("ab", 6, "..ab.."),
      ("abc", 6, ".abc.."),
      ("abc", 25, "...........abc..........."))
    cases.foreach { case (s, w, want) =>
      val got = Seq(s).toDF("x")
        .select(new StrOps(col("x")).pad(w, "both", ".")).as[String].head()
      assert(got == want, s"center($s, $w): got $got want $want")
    }
  }

  test("replace(old, new, max) matches Python str.replace(count) semantics") {
    val cases = Seq(
      // (input, old, new, max, python_expected)
      ("aXXb", "X", "Y", 2, "aYYb"),     // consecutive occurrences
      ("XXXX", "X", "Y", 2, "YYXX"),     // stops after max
      ("abc", "X", "Y", 1, "abc"),       // absent pattern passes through
      ("a.b.c", ".", "-", 1, "a-b.c"),   // regex metachar must be literal
      ("banana", "an", "X", 2, "bXXa"),
      ("banana", "an", "X", 5, "bXXa"))  // max beyond count = replace all
    cases.foreach { case (s, o, n, m, want) =>
      assert(s.replace(o, n) != null) // sanity: plain replace still compiles
      val got = Seq(s).toDF("x")
        .select(new StrOps(col("x")).replace(o, n, m)).as[String].head()
      assert(got == want, s"$s.replace($o, $n, $m): got $got want $want")
    }
  }

  test("StrFind is 0-based with -1 for missing (pandas str.find)") {
    val r = accounts.merge("f" -> Col(accounts("name").str.find("li"))).df
      .select("f").as[Long].collect().toSeq
    assert(r == Seq(1L, -1L, 4L, -1L, -1L))
  }

  test("weekday is Monday=0 (pandas convention, sql.py:1408-1444)") {
    val df = Seq("2024-01-01", "2024-01-07").toDF("d")
      .select(to_timestamp(col("d")).as("ts"))
    val r = df.select(new graft.api.DtOps(col("ts")).weekday).as[Int].collect().toSeq
    assert(r == Seq(0, 6)) // 2024-01-01 is a Monday
  }

  test("dt.second is float64 (datetime.py:101-102)") {
    val df = Seq("2024-01-01 10:20:30").toDF("d").select(to_timestamp(col("d")).as("ts"))
    assert(df.select(new graft.api.DtOps(col("ts")).second).schema.head.dataType == DoubleType)
  }

  test("N-unit datetime truncate (datetime.py:203-254)") {
    val df = Seq("2024-03-17 10:27:45").toDF("d").select(to_timestamp(col("d")).as("ts"))
    val r = df.select(
      new graft.api.DtOps(col("ts")).truncate(10, "minutes").cast(StringType),
      new graft.api.DtOps(col("ts")).truncate(2, "months").cast(StringType),
      new graft.api.DtOps(col("ts")).truncate(5, "years").cast(StringType)
    ).collect()(0)
    assert(r.getString(0) == "2024-03-17 10:20:00")
    assert(r.getString(1) == "2024-03-01 00:00:00")
    assert(r.getString(2) == "2020-01-01 00:00:00")
  }

  test("sub-second truncate: ms is millisecond, not month") {
    val df = Seq(java.sql.Timestamp.valueOf("2024-03-17 10:20:30.123456")).toDF("ts")
    val r = df.select(
      new graft.api.DtOps(col("ts")).truncate(250, "ms").cast(StringType),
      new graft.api.DtOps(col("ts")).truncate(1, "ms").cast(StringType)
    ).collect()(0)
    assert(r.getString(0) == "2024-03-17 10:20:30")       // 30.000 (floor to 250ms grid)
    assert(r.getString(1) == "2024-03-17 10:20:30.123")
  }

  test("StrCat propagates nulls (strings.py:222-288)") {
    val df = Seq(("a", Some("b")), ("c", None)).toDF("l", "r")
    val r = df.select(new graft.api.StrOps(col("l")).cat(col("r"), "-")).as[Option[String]].collect()
    assert(r(0).contains("a-b") && r(1).isEmpty)
  }

  test("shift requires explicit order and null-pads (collections.py:914-950)") {
    val t0 = Table(Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v"))
    val r = t0.shift("v", 1, Seq("k"), allowGlobal = true).df.orderBy("k").select("v")
      .collect().map(x => if (x.isNullAt(0)) None else Some(x.getDouble(0)))
    assert(r.toSeq == Seq(None, Some(10.0), Some(20.0)))
  }

  test("shift defaults to partitioned windows; global needs opt-in") {
    val t0 = Table(Seq((1, 1, 10.0), (1, 2, 20.0), (2, 1, 30.0)).toDF("g", "k", "v"))
    // no partition keys and no opt-in → refused at build time
    intercept[IllegalArgumentException] { t0.shift("v", 1, Seq("k")) }
    val shifted = t0.shift("v", 1, Seq("k"), partitionKeys = Seq("g"))
    // the physical plan must carry a partitioned window, not a global one
    val plan = shifted.df.queryExecution.executedPlan.toString
    assert(plan.contains("partitionBy") || !plan.contains("SinglePartition"),
      s"expected partitioned window in plan:\n$plan")
    val r = shifted.df.orderBy("g", "k").select("v")
      .collect().map(x => if (x.isNullAt(0)) None else Some(x.getDouble(0)))
    assert(r.toSeq == Seq(None, Some(10.0), None))
  }

  test("summary produces alphabetical one-row record (reductions.py:277-279)") {
    val sm = accounts.summary("z_max" -> accounts("amount").max,
      "a_min" -> accounts("amount").min)
    assert(sm.fields == Seq("a_min", "z_max"))
    assert(sm.nrows == 1)
  }

  test("tail = inverted sort + head + re-sort (sql.py:1523-1546)") {
    val r = accounts.tail(2, Seq("id")).df.select("id").as[Int].collect().toSeq
    assert(r == Seq(4, 5))
  }

  test("data() URI routing reads parquet") {
    val tb = Table.data(spark, s"$sf/region.parquet")
    assert(tb.nrows == 5)
  }

  test("scalar_coerce matrix: string literals coerce to column dtype (arithmetic.py:251-306)") {
    val df = Seq(
      (1, java.sql.Timestamp.valueOf("1998-09-01 12:00:00"), 10.5, java.sql.Date.valueOf("2020-01-15")),
      (2, java.sql.Timestamp.valueOf("1998-09-03 00:00:00"), 99.5, java.sql.Date.valueOf("2020-03-15")))
      .toDF("id", "ts", "amt", "d")
    val t0 = Table(df)
    // timestamp column vs date-string literal
    assert(t0.filter(t0("ts") <= "1998-09-02").df.count() == 1)
    // date column vs date-string literal
    assert(t0.filter(t0("d") === "2020-01-15").df.count() == 1)
    // numeric column vs numeric-string literal
    assert(t0.filter(t0("amt") > "50").df.count() == 1)
    // equality / inequality forms
    assert(t0.filter(t0("ts") > "1998-09-02").df.count() == 1)
    assert(t0.filter(t0("amt") !== "10.5").df.count() == 1)
  }

  test("timedelta namespace: days/seconds/microseconds/totalSeconds (datetime.py:369-383)") {
    val df = Seq((
      java.sql.Timestamp.valueOf("2020-01-03 02:00:00.000500"),
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))).toDF("a", "b")
    val td = Col(new graft.api.DtOps(col("a")).sub(col("b")))
    val r = df.select(td.td.days, td.td.seconds, td.td.microseconds, td.td.totalSeconds)
      .collect()(0)
    assert(r.getLong(0) == 2L)        // 2 full days
    assert(r.getLong(1) == 7200L)     // 02:00:00 into the day
    assert(r.getLong(2) == 500L)      // sub-second µs
    assert(r.getDouble(3) == 2 * 86400.0 + 7200.0 + 0.0005)
  }

  test("timedelta components use pandas floor semantics for negative deltas") {
    val df = Seq((
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2020-01-01 02:30:00"))).toDF("a", "b")
    // a - b = -2.5 hours: pandas days=-1, seconds=77400 (21.5h), total=-9000
    val td = Col(new graft.api.DtOps(col("a")).sub(col("b")))
    val r = df.select(td.td.days, td.td.seconds, td.td.totalSeconds).collect()(0)
    assert(r.getLong(0) == -1L)
    assert(r.getLong(1) == 77400L)
    assert(r.getDouble(2) == -9000.0)
  }

  test("nanosecond accessor is 0 for µs-precision timestamps (datetime.py:77-83)") {
    val df = Seq(java.sql.Timestamp.valueOf("2020-01-01 00:00:00.123456")).toDF("ts")
    val r = df.select(new graft.api.DtOps(col("ts")).nanosecond).as[Long].collect()
    assert(r.toSeq == Seq(0L))
  }

  test("normalizeUnit: ms is millisecond (not month); unknown units throw") {
    import graft.api.DtOps.normalizeUnit
    assert(normalizeUnit("ms") == "millisecond")
    assert(normalizeUnit("milliseconds") == "millisecond")
    assert(normalizeUnit("m") == "month")
    assert(normalizeUnit("mins") == "minute")
    assert(normalizeUnit("S") == "second")
    intercept[IllegalArgumentException](normalizeUnit("fortnight"))
  }

  test("retag is a compile-time no-op; coerce converts (expressions.py:821-853)") {
    val c = accounts("amount")
    assert(c.retag("string").c eq c.c) // same Column — nothing happens
    val r = accounts.df.select(c.coerce("string").c).schema.head.dataType
    assert(r == StringType)
  }

  test("N-D array surface raises UnsupportedOperationException (SURVEY §2.12)") {
    intercept[UnsupportedOperationException](accounts.transpose)
    intercept[UnsupportedOperationException](accounts.tensordot(accounts))
  }

  test("jdbc:: URI routing round-trips through Derby") {
    Scratch.using(spark, "graft-test-derby") { d =>
      val url = s"jdbc:derby:${new org.apache.hadoop.fs.Path(d).toUri.getPath}/db;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      accounts.df.write.mode("overwrite").jdbc(url, "accounts_t", props)
      val back = Table.data(spark, s"$url::accounts_t")
      assert(back.nrows == 5)
      assert(back.fields.map(_.toLowerCase).sorted == Seq("amount", "id", "name"))
    }
  }

  test("saltedSumBy equals plain grouped sum (skew-safe two-stage agg)") {
    val li = Table(Tables(spark, sf, "lineitem"))
    val D = DecimalType(18, 2)
    val plain = li.byFields(Seq("l_returnflag"),
        "q" -> Col(sum(col("l_quantity").cast(D))),
        "n" -> Col(count(lit(1))))
      .sort(Seq("l_returnflag")).df.collect()
    val salted = li.saltedSumBy(Seq("l_returnflag"), 8,
        "q" -> Col(col("l_quantity").cast(D)),
        "n" -> Col.lit(1L))
      .sort(Seq("l_returnflag")).df.collect()
    assert(salted.map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSeq ==
      plain.map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSeq)
  }

  test("partitioned writes prune at plan time (PartitionFilters)") {
    val o = Table(Tables(spark, sf, "orders"))
    val withYear = Table(o.df.withColumn("order_year", year(col("o_orderdate"))))
    Scratch.using(spark, "graft-test-part-orders") { path =>
      Table.writePartitioned(withYear, path, Seq("order_year"))
      val back = spark.read.parquet(path).filter(col("order_year") === 1995)
      val scan = back.queryExecution.executedPlan.toString
      // the year filter must land in PartitionFilters (directory pruning),
      // not in PushedFilters (row-group filtering)
      assert(scan.contains("PartitionFilters") &&
        scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("order_year"),
        s"expected partition pruning on order_year:\n$scan")
      val exp = o.df.filter(year(col("o_orderdate")) === 1995).count()
      assert(back.count() == exp && exp > 0)
    }
  }

  test("data() reads back a partitioned directory with pruning intact") {
    val o = Table(Tables(spark, sf, "orders"))
    val withYear = Table(o.df.withColumn("order_year", year(col("o_orderdate"))))
    Scratch.using(spark, "graft-test-part-router") { path =>
      Table.writePartitioned(withYear, path, Seq("order_year"))
      // a bare directory URI (no .parquet suffix) must route to the
      // partition-discovering parquet reader, not spark.table
      val back = Table.data(spark, path)
      assert(back.fields.contains("order_year"))
      assert(back.nrows == o.nrows)
      val pruned = back.filter(Col(col("order_year") === 1995)).df
      assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
      assert(pruned.count() == o.df.filter(year(col("o_orderdate")) === 1995).count())
    }
  }

  test("data() glob URIs read EVERY matching file (discovery parity, literal.py:165-198)") {
    // multi-file glob: the reference's resource discovery unions matching
    // files into one collection; for us the glob goes straight to the
    // Spark reader, which does the same (and keeps one task per split)
    Scratch.using(spark, "graft-test-glob") { dir =>
      val local = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(local, "a.csv"), "k,v\n1,alpha\n2,beta\n")
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(local, "b.csv"), "k,v\n3,gamma\n")
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(local, "ignored.tsv"), "k\tv\n9\tzzz\n")
      val tb = Table.data(spark, s"$dir/*.csv")
      assert(tb.nrows == 3, "glob must union a.csv + b.csv and skip ignored.tsv")
      assert(tb.df.select("k").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
      // parquet glob over independently-written files of the SAME schema
      val p1 = Seq((1L, "x")).toDF("id", "s"); val p2 = Seq((2L, "y")).toDF("id", "s")
      p1.write.mode("overwrite").parquet(s"$dir/p1.parquet")
      p2.write.mode("overwrite").parquet(s"$dir/p2.parquet")
      val pq = Table.data(spark, s"$dir/p*.parquet")
      assert(pq.df.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    }
  }

  test("data() mixed-schema discovery fails loudly, not silently") {
    // two parquet files whose shared column has IRRECONCILABLE types:
    // the reference's discovery raises on inconsistent schemata
    // (literal.py:165-198); Spark must likewise surface an error rather
    // than silently coerce or drop rows
    Scratch.using(spark, "graft-test-mixed") { dir =>
      Seq((1L, 10L)).toDF("id", "k")
        .write.mode("overwrite").parquet(s"$dir/f1.parquet")
      Seq((2L, "str")).toDF("id", "k")
        .write.mode("overwrite").parquet(s"$dir/f2.parquet")
      val ex = intercept[Exception] {
        Table.data(spark, s"$dir/f*.parquet").df.collect()
      }
      val msg = Option(ex.getMessage).getOrElse("") + Option(ex.getCause)
        .flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.nonEmpty, "mixed-schema read must carry a diagnostic message")
    }
  }

  test("data() routes .txt through spark.read.text") {
    Scratch.using(spark, "graft-test-txt") { path =>
      Seq("alpha", "beta").toDF("value").coalesce(1)
        .write.mode("overwrite").text(path)
      // read the directory written above via the .txt-suffixed glob
      val tb = Table.data(spark, s"$path/part-00000*.txt")
      assert(tb.fields == Seq("value") && tb.nrows == 2)
    }
  }

  test("bucketed tables join without any exchange (co-located join)") {
    val o = Table(Tables(spark, sf, "orders"))
    val c = Table(Tables(spark, sf, "customer"))
    // clean both the catalog entry AND any stale location from a prior JVM
    Seq("orders_b", "customer_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
        }
        rm(dir)
      }
    }
    Table.writeBucketed(o, "orders_b", Seq("o_custkey"), 4)
    Table.writeBucketed(c, "customer_b", Seq("c_custkey"), 4)
    val j = spark.table("orders_b").join(spark.table("customer_b"),
      col("o_custkey") === col("c_custkey"))
    val plan = j.queryExecution.executedPlan.toString
    // ShuffleExchangeExec prints as "Exchange hashpartitioning(...)" —
    // match that, not the class name, or the assertion is vacuous
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected exchange-free bucketed join, got:\n$plan")
    assert(j.count() == o.nrows)
  }

  test("nuniqueApprox lands within rsd of exact nunique") {
    val li = Table(Tables(spark, sf, "lineitem"))
    val exact = li.df.agg(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    val approx = li.df.agg(li("l_partkey").nuniqueApprox(0.05).c).collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.15, s"approx=$approx exact=$exact")
  }

  test("table-level like filters on every named column (strings.py:57-83)") {
    val r = accounts.like("name" -> "A*").df.collect()
    assert(r.map(_.getString(0)).toSeq == Seq("Alice"))
    val r2 = accounts.like("name" -> "*i*", "name" -> "??????*").df.collect()
    assert(r2.map(_.getString(0)).sorted.toSeq == Seq("Charlie"))
    intercept[IllegalArgumentException](accounts.like("nope" -> "x"))
  }

  test("timestamp ± timedelta arithmetic (arithmetic.py:117-139)") {
    val df = Seq(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).toDF("ts")
    val dt = new graft.api.DtOps(col("ts"))
    val r = df.select(
      dt.addUs(lit(90L * 60 * 1000000)).cast(StringType),
      dt.subUs(lit(1000000L)).cast(StringType)).collect()(0)
    assert(r.getString(0) == "2020-01-01 01:30:00")
    assert(r.getString(1) == "2019-12-31 23:59:59")
  }

  test("kernel SQL functions: extensions injection + live registration") {
    // the extensions class builds its injections without error (the
    // cluster path: --conf spark.sql.extensions=graft.GraftExtensions)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // live-session path
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT hamming_distance(7L, 1L) AS h,
        |  cosine_similarity(array(3.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |  normalized_md5('  Hello   World ') = normalized_md5('hello world') AS eq
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(1) == 1.0)
    assert(r.getBoolean(2))
    // scalar kernel with struct output + the aggregate path through SQL
    val rep = spark.sql(
      "SELECT repetition_stats('a b a b c').dup_token_frac AS d").collect()(0)
    assert(rep.getDouble(0) == 0.4)
    val hh = spark.sql(
      """SELECT e.key, e.cnt FROM (
        |  SELECT explode(heavy_hitters(k, 8)) AS e FROM VALUES
        |    ('x'), ('x'), ('y'), ('x') AS t(k))
        |ORDER BY e.cnt DESC""".stripMargin).collect()
    assert(hh.map(r0 => (r0.getString(0), r0.getLong(1))).toSeq ==
      Seq(("x", 3L), ("y", 1L)))
  }

  test("plan shapes: top-k plans TakeOrderedAndProject; filters reach the scan") {
    val topk = SparkEntry.queries("sort_head")(spark, sf)
    assert(topk.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "limit-after-sort must plan as TakeOrderedAndProject, not a global sort")
    val q1 = SparkEntry.queries("q1_agg")(spark, sf)
    val scan = q1.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("LessThanOrEqual(l_shipdate"),
      s"q1 date filter must push into the parquet scan:\n${scan.take(500)}")
  }

  test("slice positional semantics") {
    val r = accounts.sort(Seq("id")).slice(1, 3).df.select("id").as[Int].collect().toSeq
    assert(r == Seq(2, 3))
  }

  test("sliceSorted == LIMIT/OFFSET funnel on a total order; edge ranges") {
    val orders = Table(spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey")))
    def keys(t: Table) = t.df.select("o_orderkey").as[Long].collect().sorted
    // parity with the reference-semantics funnel over the same order
    val funnel = orders.sort(Seq("o_orderkey")).slice(700, 760)
    val paged = orders.sliceSorted(700, 760, Seq(col("o_orderkey")))
    assert(keys(paged).toSeq == keys(funnel).toSeq)
    // empty range; range past the end; range straddling the end
    assert(orders.sliceSorted(10, 10, Seq(col("o_orderkey"))).df.isEmpty)
    val n = orders.df.count()
    assert(orders.sliceSorted(n + 5, n + 9, Seq(col("o_orderkey"))).df.isEmpty)
    assert(orders.sliceSorted(n - 3, n + 9, Seq(col("o_orderkey"))).df.count() == 3)
  }

  test("sliceStrided == Python slice semantics, both step signs, negative/None bounds") {
    val orders = Table(spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey")))
    val sortedKeys = orders.df.select("o_orderkey").as[Long].collect().sorted.toVector
    val pages = orders.paginateSorted(Seq(col("o_orderkey")))
    def got(start: Option[Long], stop: Option[Long], step: Long) =
      pages.sliceStrided(start, stop, step)
        .df.select("o_orderkey").as[Long].collect().toSet
    // the witness: real Python-slice index arithmetic on the local vector
    def py(start: Option[Int], stop: Option[Int], step: Int): Set[Long] = {
      val n = sortedKeys.length
      val idxs =
        if (step > 0) {
          val lo = math.max(0, start.map(i => if (i < 0) n + i else math.min(i, n)).getOrElse(0))
          val hi = math.max(lo, stop.map(i => if (i < 0) math.max(n + i, 0) else math.min(i, n)).getOrElse(n))
          lo.until(hi, step)
        } else {
          val hi = math.min(start.map(i => if (i < 0) n + i else i).getOrElse(n - 1), n - 1)
          val lo = math.max(stop.map(i => if (i < 0) n + i else i).getOrElse(-1), -1)
          hi.until(lo, step)
        }
      idxs.filter(i => i >= 0 && i < n).map(sortedKeys).toSet
    }
    val cases = Seq[(Option[Int], Option[Int], Int)](
      (None, None, 3), (Some(10), Some(200), 7), (Some(-100), None, 7),
      (Some(-100), Some(-20), 5), (None, None, -4), (Some(-1), Some(-300), -11),
      (Some(500), Some(100), 3),       // empty forward range
      (Some(100), Some(500), -3),      // empty backward range
      (Some(5), Some(6), 1))           // single element
    for ((a, b, s) <- cases) {
      val exp = py(a, b, s)
      val act = got(a.map(_.toLong), b.map(_.toLong), s.toLong)
      assert(act == exp,
        s"[$a:$b:$s] got ${act.size} rows, expected ${exp.size}")
    }
  }

  test("paginateSorted: one count pass serves many pages; pages tile the frame exactly") {
    val orders = Table(spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey")))
    val pages = orders.paginateSorted(Seq(col("o_orderkey")))
    val n = orders.df.count()
    assert(pages.totalRows == n)
    val pageSize = 4000
    assert(pages.numPages(pageSize) == (n + pageSize - 1) / pageSize)
    // page(i) == slice(i*size, (i+1)*size) == the funnel over the same order
    val all = (0L until pages.numPages(pageSize)).flatMap { i =>
      pages.page(i, pageSize).df.select("o_orderkey").as[Long].collect()
    }
    val expected = orders.df.select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(all.sorted == expected, "pages must tile the frame: no dup/missing rows")
    assert(all == all.sorted, "rows within and across pages follow the total order")
    // last page is the remainder; one past the end is empty
    assert(pages.page(pages.numPages(pageSize) - 1, pageSize).df.count() ==
      (if (n % pageSize == 0) pageSize else n % pageSize))
    assert(pages.page(pages.numPages(pageSize), pageSize).df.isEmpty)
  }

  test("plan shapes: q5 broadcasts dims + pushes the date filter; profile plans one Expand") {
    val q5 = SparkEntry.queries("q5_region_revenue")(spark, sf)
    val p5 = q5.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p5).size >= 2,
      s"q5 must broadcast region and nation:\n${p5.take(600)}")
    assert(p5.contains("PushedFilters") && p5.contains("GreaterThanOrEqual(o_orderdate"),
      "q5 date filter must reach the orders scan")
    val prof = SparkEntry.queries("misc_profile")(spark, sf)
    val pp = prof.queryExecution.executedPlan.toString
    // exact multi-distinct profile: a single aggregate over one Expand —
    // NOT one job/shuffle per column
    assert(pp.contains("Expand"), s"profile should plan distincts via Expand:\n${pp.take(400)}")
    assert("Exchange hashpartitioning".r.findAllIn(pp).size <= 2,
      s"profile must stay one partial/final aggregate pair:\n${pp.take(600)}")
  }

  test("plan shapes: heavy hitters is a partial/final ObjectHashAggregate (bounded exchange)") {
    val hh = SparkEntry.queries("misc_heavyhitters")(spark, sf)
    val p = hh.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"),
      s"MG aggregate should plan as ObjectHashAggregate:\n${p.take(400)}")
    assert(!p.contains("Window"), "no window/global sort in the heavy-hitters path")
  }

  test("fkField: hop joins the dim and appends fields; dangling FK drops (WHERE-join)") {
    val dim = Table(Seq((1, "gold"), (2, "silver"), (3, "bronze"), (4, "tin"))
      .toDF("tier_id", "tier_name"))
    // id=5 has no tier row → dropped, matching the reference's
    // `SELECT dim.field WHERE fk = dim.key` lowering (sql.py:272-276)
    val r = accounts.fkField("id", dim, "tier_id", "tier_name")
    assert(r.fields == Seq("name", "amount", "id", "tier_name"))
    val rows = r.sort(Seq("id")).df.select("id", "tier_name")
      .as[(Int, String)].collect().toSeq
    assert(rows == Seq((1, "gold"), (2, "silver"), (3, "bronze"), (4, "tin")))
    // the dim side must be broadcast — a fact-side shuffle would defeat the hop
    val plan = r.df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n${plan.take(400)}")
  }

  test("profile: per-column stats in one pass; nulls counted, non-numeric min/max null") {
    val df = Seq((Option(1), "a"), (Option.empty[Int], "b"), (Option(3), "b"))
      .toDF("x", "s")
    val p = Table(df).profile.sort(Seq("col_name")).df.collect()
    assert(p.map(_.getString(0)).toSeq == Seq("s", "x"))
    val s = p(0); val x = p(1)
    assert((s.getLong(1), s.getLong(2), s.getLong(3)) == ((3L, 0L, 2L)))
    assert(s.isNullAt(4) && s.isNullAt(5))
    assert((x.getLong(1), x.getLong(2), x.getLong(3)) == ((3L, 1L, 2L)))
    assert((x.getDouble(4), x.getDouble(5)) == ((1.0, 3.0)))
  }

  test("fkField: name collisions and missing fields fail at construction") {
    val dim = Table(Seq((1, "x")).toDF("tier_id", "name")) // `name` clashes
    val e = intercept[IllegalArgumentException](
      accounts.fkField("id", dim, "tier_id", "name"))
    assert(e.getMessage.contains("already exist"))
    intercept[IllegalArgumentException](
      accounts.fkField("id", dim, "tier_id", "nope"))
    intercept[IllegalArgumentException](
      accounts.fkField("no_such_key", dim, "tier_id", "name"))
  }

  test("Advisor flags cartesian/funnel-window/global-sort; clean plans stay silent") {
    import graft.api.Advisor
    val a = Tables(spark, sf, "region")
    val b = Tables(spark, sf, "nation")
    def rules(df: org.apache.spark.sql.DataFrame): Set[String] =
      Advisor.advise(df).select("rule").as[String].collect().toSet
    // a join with no condition plans as CartesianProduct or (when one
    // side broadcasts) nested-loop — either way the advisor objects
    assert((rules(a.crossJoin(b)) &
      Set("cartesian-product", "non-equi-join")).nonEmpty)
    val w = org.apache.spark.sql.expressions.Window.orderBy("n_nationkey")
    assert(rules(b.withColumn("rn", row_number().over(w)))
      .contains("single-partition-window"))
    assert(rules(b.orderBy("n_name")).contains("global-sort-no-limit"))
    // orderBy + limit folds into TakeOrderedAndProject: no sort finding
    assert(!rules(b.orderBy("n_name").limit(5)).contains("global-sort-no-limit"))
    // a sort-merge join whose output carries an array column: the wide
    // relation gets sorted (and at scale, spilled) — flagged; the same
    // join under a shuffle_hash hint streams it and stays silent
    val wide = b.withColumn("arr", array(col("n_nationkey"), col("n_regionkey")))
    val narrow = b.select(col("n_nationkey").as("k"))
    def smjless(df: org.apache.spark.sql.DataFrame) = df.hint("merge")
    assert(rules(narrow.join(smjless(wide), narrow("k") === wide("n_nationkey")))
      .contains("sorted-wide-join"))
    assert(!rules(narrow.join(wide.hint("shuffle_hash"),
      narrow("k") === wide("n_nationkey"))).contains("sorted-wide-join"))
    // a broadcast equi-join + aggregate — the shape the operator suite
    // uses everywhere — earns a clean bill
    val clean = b.join(broadcast(a), b("n_regionkey") === a("r_regionkey"))
      .groupBy("r_name").count()
    assert(Advisor.advise(clean).count() == 0,
      Advisor.advise(clean).collect().mkString("; "))
  }

  test("Profile.metrics: populated per-operator counters for the executed plan") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sf/region.parquet")
      .filter(col("r_regionkey") < 3).select("r_regionkey", "r_name")
    val m = graft.api.Profile.metrics(df)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(m.nonEmpty)
    // the deterministic metric: some node reports exactly the 3
    // surviving rows (scan or filter output)
    assert(m.exists { case (_, _, metric, v) =>
      metric == "number of output rows" && v == 3L }, m.toString)
    // node ids are preorder positions into a non-empty final plan
    assert(m.map(_._1).distinct.sorted.headOption.contains(0L))
  }
}
