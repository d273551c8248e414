package graft
package suite

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.{Col, Table}
import graft.operators.{Dedup, Sampling, Skyline, Validate}
import Shared._

/** The relational rows: projection, selection, grouping, joins, sorts,
  * set operations, windows, salting and bucketing, and the miscellaneous
  * table operators (coercion, checksums, profiles, sampling, validation). */
object RelationalRows {
  val rows: Seq[RowDef] = Seq(
    RowDef("sort_topn_group", { (s, dir) =>
      // top-3 rows per group WITHOUT a per-group sort: the bounded
      // TopKByScore partial aggregate (state = k entries per group on
      // every partial path, map-side combine) — the same kernel the ANN
      // family ranks with, reused on relational data; a window
      // row_number() formulation would sort every group's full row set
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.plans.TopKByScore(col("o_totalprice"), col("o_orderkey"), 3).as("_top"))
        .select(col("o_custkey"), posexplode(col("_top")))
        .select(col("o_custkey"), (col("pos") + 1).cast(LongType).as("rank"),
          col("col.c_id").as("o_orderkey"), col("col.cos").as("o_totalprice"))
        .orderBy("o_custkey", "rank")
    }, oracle =
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |SELECT o_custkey, CAST(rank AS BIGINT) AS rank, o_orderkey, o_totalprice
        |FROM r WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin),

    // ---- projection / fields (§2.2) ----
    RowDef("proj_field", { (s, dir) =>
      Table(t(s, dir, "lineitem"))
        .project("l_orderkey", "l_linenumber", "l_extendedprice")
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    RowDef("proj_drop", { (s, dir) =>
      Table(t(s, dir, "customer")).dropField("c_name", "c_acctbal")
        .sort(Seq("c_custkey")).df
    }, oracle =
      "SELECT c_custkey, c_nationkey, c_mktsegment FROM customer ORDER BY c_custkey"),
    RowDef("proj_relabel", { (s, dir) =>
      Table(t(s, dir, "region"))
        .relabel("r_regionkey" -> "key", "r_name" -> "name")
        .sort(Seq("key")).df
    }, oracle =
      "SELECT r_regionkey AS key, r_name AS name FROM region ORDER BY key"),

    // ---- selection (§2.2) ----
    RowDef("sel_filter", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      li.filter(li("l_quantity") > 45 && li("l_returnflag") === "A")
        .project("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'A' ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("sel_isin", { (s, dir) =>
      val o = Table(t(s, dir, "orders"))
      o.filter(o("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .project("o_orderkey", "o_orderpriority")
        .sort(Seq("o_orderkey")).df
    }, oracle =
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') ORDER BY o_orderkey""".stripMargin),
    RowDef("sel_slice", { (s, dir) =>
      // positional slice [100, 200) over an explicit total order (§7.4 note)
      Table(t(s, dir, "orders")).sort(Seq("o_orderkey")).slice(100, 200).df
    }, oracle =
      "SELECT * FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 100"),
    RowDef("sel_slice_sorted", { (s, dir) =>
      // the scale-safe sibling: same [5000, 5100) answer via two-pass
      // partition-offset pagination — no global LIMIT/OFFSET funnel
      // (see Table.sliceSorted; parity with slice() unit-tested)
      Table(t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")))
        .sliceSorted(5000, 5100, Seq(col("o_orderkey"))).df
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 100 OFFSET 5000""".stripMargin),
    RowDef("sel_slice_strided", { (s, dir) =>
      // numpy-backend slice parity: orders[-6000::7] — negative start
      // resolved against the counted total, stride as per-partition
      // index arithmetic on the same SortedPages machinery (no funnel,
      // no extra shuffle); oracle replays via row_number − 1
      Table(t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")))
        .sliceStrided(Some(-6000L), None, 7L, Seq(col("o_orderkey"))).df
        .orderBy("o_orderkey")
    }, oracle =
      """WITH x AS (SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS idx,
        |    COUNT(*) OVER () AS n
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice FROM x
        |WHERE idx >= GREATEST(n - 6000, 0)
        |  AND (idx - GREATEST(n - 6000, 0)) % 7 = 0
        |ORDER BY o_orderkey""".stripMargin),
    RowDef("sel_with_index", { (s, dir) =>
      // global 0-based row index under a total order WITHOUT the
      // single-partition row_number() window: the SortedPages count
      // pass numbers each range partition's rows from its prefix-sum
      // offset (same boundary-consistent machinery as sliceSorted);
      // restricted to a slice of customers to keep the dump small
      Table(t(s, dir, "customer")
          .filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey"), col("c_acctbal")))
        .paginateSorted(Seq(col("c_custkey")))
        .withIndex("row_idx").df
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_acctbal,
        |  CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS BIGINT) AS row_idx
        |FROM customer WHERE c_custkey % 5 = 0
        |ORDER BY c_custkey""".stripMargin),
    RowDef("sel_coerce", { (s, dir) =>
      // scalar_coerce (arithmetic.py:251-306): string literals coerce to
      // the column dtype (timestamp / numeric) — no manual casts
      val li = Table(t(s, dir, "lineitem"))
      li.filter(li("l_shipdate") <= "1998-09-02" && li("l_quantity") > "45")
        .project("l_orderkey", "l_linenumber", "l_quantity")
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("misc_sample_n", { (s, dir) =>
      // Sample(n=): exact-n contract checked by count (rows are engine RNG)
      Table(t(s, dir, "orders")).sampleN(500).df.agg(count(lit(1)).as("n"))
    }, oracle =
      "SELECT CAST(500 AS BIGINT) AS n"),

    // ---- merge / transform / coerce / coalesce (§2.2) ----
    RowDef("merge_transform", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      li.project("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax")
        .merge(
          "disc_price" -> (Col(col("l_extendedprice")) * (Col.lit(1) - Col(col("l_discount")))),
          "charge" -> Col(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))))
        .dropField("l_discount", "l_tax")
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
        |  l_extendedprice * (1 - l_discount) AS disc_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("misc_coerce", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      li.project("l_orderkey", "l_linenumber", "l_quantity")
        .merge(
          "qty_int" -> li("l_quantity").coerce("bigint"),
          "qty_str" -> li("l_quantity").coerce("string"))
        .dropField("l_quantity")
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty_int,
        |  CAST(l_quantity AS VARCHAR) AS qty_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("misc_coalesce", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      li.project("l_orderkey", "l_linenumber", "l_returnflag")
        .merge("flag2" -> Col(expr("nullif(l_returnflag, 'N')")).coalesceWith(Col.lit("X")))
        .dropField("l_returnflag")
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber, COALESCE(NULLIF(l_returnflag,'N'),'X') AS flag2
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("misc_checksum", { (s, dir) =>
      // anti-entropy: per-source (n, xor-of-row-hash) checksums —
      // order/partitioning-independent, so two copies of the corpus
      // compare by exchanging one tiny table
      Table(t(s, dir, "documents"))
        .checksumBy("source", graft.functions.TextFunctions.tokenHash(col("text"))).df
    }, oracle =
      """SELECT source, COUNT(*) AS n,
        |  bit_xor(CAST(concat('0x', substr(md5(text), 1, 7)) AS BIGINT)) AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // ---- grouping (§2.8) ----
    RowDef("by_sum", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      li.by("l_returnflag",
          "total_qty" -> Col(dsum(col("l_quantity"))),
          "avg_price" -> Col(davg(col("l_extendedprice"))),
          "n" -> Col(count(lit(1))))
        .sort(Seq("l_returnflag")).df
    }, oracle =
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    RowDef("by_derived", { (s, dir) =>
      // grouping on a derived elementwise expression (split_apply_combine.py:28-88)
      val o = Table(t(s, dir, "orders"))
      o.by(Seq("order_year" -> Col(year(col("o_orderdate")))),
          "n" -> Col(count(lit(1))),
          "total" -> Col(dsum(col("o_totalprice"))))
        .sort(Seq("order_year")).df
    }, oracle =
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY order_year ORDER BY order_year""".stripMargin),
    RowDef("by_multi", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      li.byFields(Seq("l_returnflag", "l_linestatus"),
          "max_disc" -> Col(max(col("l_discount"))),
          "min_qty" -> Col(min(col("l_quantity"))),
          "nunique_parts" -> Col(countDistinct(col("l_partkey"))))
        .sort(Seq("l_returnflag", "l_linestatus")).df
    }, oracle =
      """SELECT l_returnflag, l_linestatus, MAX(l_discount) AS max_disc,
        |  MIN(l_quantity) AS min_qty, COUNT(DISTINCT l_partkey) AS nunique_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- joins (§2.9) ----
    RowDef("join_inner", { (s, dir) =>
      val o = Table(t(s, dir, "orders"))
      val c = Table(t(s, dir, "customer"))
      Table.join(o, c, Seq("o_custkey"), Seq("c_custkey"), "inner",
          broadcastRight = true)
        .project("o_custkey", "o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
        .sort(Seq("o_orderkey")).df
    }, oracle =
      """SELECT o_custkey, o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),
    RowDef("join_left", { (s, dir) =>
      val c = Table(t(s, dir, "customer"))
      val n = Table(t(s, dir, "nation"))
      Table.join(c, n, Seq("c_nationkey"), Seq("n_nationkey"), "left",
          broadcastRight = true)
        .project("c_nationkey", "c_custkey", "c_name", "n_name")
        .sort(Seq("c_custkey")).df
    }, oracle =
      """SELECT c_nationkey, c_custkey, c_name, n_name
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin),
    RowDef("join_outer", { (s, dir) =>
      // full outer over a filtered pair so both null sides occur
      val o = Table(Table(t(s, dir, "orders")).df.filter(col("o_orderkey") % 3 === 0))
      val li = Table(Table(t(s, dir, "lineitem")).df
        .filter(col("l_orderkey") % 3 === 1)
        .groupBy(col("l_orderkey")).agg(dsum(col("l_quantity")).as("qty")))
      Table.join(o, li, Seq("o_orderkey"), Seq("l_orderkey"), "outer")
        .project("o_orderkey", "o_totalprice", "qty")
        .sort(Seq("o_orderkey")).df
    }, oracle =
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
        |  li AS (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |         FROM lineitem WHERE l_orderkey % 3 = 1 GROUP BY l_orderkey)
        |SELECT COALESCE(o.o_orderkey, li.l_orderkey) AS o_orderkey, o.o_totalprice, li.qty
        |FROM o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
        |ORDER BY o_orderkey""".stripMargin),
    RowDef("join_multi", { (s, dir) =>
      // TPC-H Q5-flavored 5-way join with broadcast dims; revenue by region
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(col("l_extendedprice").cast(D) * (lit(1) - col("l_discount").cast(D)))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("r_name"))
    }, oracle =
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    RowDef("join_semi", { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      li.join(big, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("join_right", { (s, dir) =>
      // right join: all customers kept, key taken from the right side,
      // unmatched order columns null (collections.py:767-771)
      val o = Table(t(s, dir, "orders").filter(col("o_totalprice") > 300000))
      val c = Table(t(s, dir, "customer"))
      Table.join(o, c, Seq("o_custkey"), Seq("c_custkey"), "right")
        .project("o_custkey", "o_orderkey", "c_name")
        .sort(Seq("o_custkey", "o_orderkey")).df
    }, oracle =
      """SELECT c_custkey AS o_custkey, o_orderkey, c_name
        |FROM (SELECT * FROM orders WHERE o_totalprice > 300000) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    RowDef("join_anti", { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin),

    // ---- sorting / limits / top-k (§2.10) ----
    RowDef("sort_head", { (s, dir) =>
      // top-k: Spark plans TakeOrderedAndProject (no full sort at scale)
      t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10)
    }, oracle =
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    RowDef("sort_tail", { (s, dir) =>
      // reference tail rewrite: inverted sort + head + re-sort (sql.py:1523-1546)
      Table(t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")))
        .tail(10, Seq("o_orderkey")).df
    }, oracle =
      """SELECT * FROM (SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey DESC LIMIT 10)
        |ORDER BY o_orderkey""".stripMargin),

    // ---- set-like ops (§2.11) ----
    RowDef("set_distinct", { (s, dir) =>
      Table(t(s, dir, "lineitem")).df
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle =
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    RowDef("set_distinct_on", { (s, dir) =>
      // Distinct(on): keep FIRST row per key under an explicit total order
      val o = t(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      o.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"))
    }, oracle =
      """SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_orderkey, o_totalprice
        |FROM orders ORDER BY o_orderpriority, o_orderkey""".stripMargin),
    RowDef("set_concat", { (s, dir) =>
      val o = Table(t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")))
      val hi = Table(o.df.filter(col("o_totalprice") > 300000))
      val lo = Table(o.df.filter(col("o_totalprice") < 10000))
      hi.concat(lo).sort(Seq("o_orderkey")).df
    }, oracle =
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 300000
        |UNION ALL
        |SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 10000
        |ORDER BY o_orderkey""".stripMargin),

    // ---- shift / window (§2.2 Shift) ----
    RowDef("win_shift", { (s, dir) =>
      val ev = t(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      ev.select(col("event_id"), col("user_id"), col("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id, user_id, value,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- window-function surface beyond Shift (extension; the
    // reference's only window op is Shift) ----
    RowDef("win_cumsum", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("cum_value", sum(col("value").cast(D)).over(w).cast(DoubleType))
        .drop("ts")
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, user_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
        |FROM events ORDER BY event_id""".stripMargin),
    RowDef("win_range_frame", { (s, dir) =>
      // VALUE-range frame (not a rows frame): each event sums the
      // user's value over the trailing 1-hour WALL-CLOCK window —
      // rangeBetween on exact int64 microseconds, decimal-exact sum;
      // duplicate order keys share one frame, exactly as SQL RANGE
      // requires (a rows frame would split them)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("_us"))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          unix_micros(col("ts")).as("_us"))
        .withColumn("hour_sum",
          sum(col("value").cast(D)).over(w).cast(DoubleType))
        .withColumn("hour_n", count(lit(1)).over(w))
        .drop("ts", "_us")
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, user_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS hour_sum,
        |  COUNT(*) OVER w AS hour_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
    RowDef("by_stringagg", { (s, dir) =>
      // ordered string aggregation (LISTAGG/string_agg parity): region
      // names of each nation group concatenated in sorted order —
      // sort_array makes the fold order deterministic, so the string
      // hash-matches the oracle's string_agg(... ORDER BY)
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy("n_regionkey")
    }, oracle =
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
    RowDef("by_multi_distinct", { (s, dir) =>
      // several EXACT distinct aggregates in one pass (the Expand-based
      // multi-distinct plan): per order-month, distinct customers AND
      // distinct clerks-equivalent (priority levels), plus a plain count
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          countDistinct(col("o_orderpriority")).as("n_priorities"),
          count(lit(1)).as("n_orders"))
        .orderBy("month")
    }, oracle =
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(DISTINCT o_orderpriority) AS n_priorities,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    RowDef("win_rolling", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      // decimal-exact rolling sum / frame count = deterministic mean
      t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("roll_mean",
          sum(col("value").cast(D)).over(w).cast(DoubleType) / count(lit(1)).over(w))
        .drop("ts")
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, user_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
    RowDef("win_rank", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // rn/quartile over a total order (unique tiebreak); rank/dense_rank
      // over a coarse key so tie semantics are actually exercised
      val wRn = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      val wRk = Window.partitionBy(col("user_id")).orderBy(col("event_type"))
      t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("value"), col("event_type"))
        .withColumn("rn", row_number().over(wRn).cast(LongType))
        .withColumn("rnk", rank().over(wRk).cast(LongType))
        .withColumn("drank", dense_rank().over(wRk).cast(LongType))
        .withColumn("quartile", ntile(4).over(wRn).cast(LongType))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, user_id, value, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn,
        |  rank() OVER (PARTITION BY user_id ORDER BY event_type) AS rnk,
        |  dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS drank,
        |  ntile(4) OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS quartile
        |FROM events ORDER BY event_id""".stripMargin),
    RowDef("win_value_funcs", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // the value-picking window family over a TOTAL order (ts,
      // event_id tiebreak — deterministic across engines): first/last/
      // nth with explicit full frames, offset lag with a default,
      // lead(2), and the two distribution ranks (exact integer ratios
      // cast to double identically on both engines)
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val grow = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("v_first", first(col("value")).over(grow))
        .withColumn("v_last", last(col("value")).over(full))
        .withColumn("v_second", nth_value(col("value"), 2).over(full))
        .withColumn("v_prev", lag(col("value"), 1, -1.0).over(ord))
        .withColumn("v_next2", lead(col("value"), 2).over(ord))
        .withColumn("prank", percent_rank().over(ord))
        .withColumn("cdist", cume_dist().over(ord))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, user_id, ts, value,
        |  first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_first,
        |  last_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS v_last,
        |  nth_value(value, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS v_second,
        |  lag(value, 1, -1.0) OVER w AS v_prev,
        |  lead(value, 2) OVER w AS v_next2,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // ---- grouping sets / pivot (extension; SURVEY §2.8 — absent from
    // the reference, free in Spark) ----
    RowDef("by_cube", { (s, dir) =>
      Table(t(s, dir, "lineitem"))
        .byCube(Seq("l_returnflag", "l_linestatus"),
          "n" -> Col(count(lit(1))),
          "sum_qty" -> Col(dsum(col("l_quantity")))).df
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    }, oracle =
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin),
    RowDef("by_rollup", { (s, dir) =>
      val o = t(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")).cast(LongType))
      Table(o).byRollup(Seq("o_year", "o_orderstatus"),
        "total" -> Col(dsum(col("o_totalprice")))).df
        .select(coalesce(col("o_year"), lit(-1L)).as("o_year"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"), col("total"))
        .orderBy("o_year", "status")
    }, oracle =
      """WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderstatus, o_totalprice FROM orders)
        |SELECT COALESCE(o_year, -1) AS o_year, COALESCE(o_orderstatus, 'ALL') AS status,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM o GROUP BY ROLLUP(o_year, o_orderstatus) ORDER BY o_year, status""".stripMargin),
    RowDef("by_grouping_sets", { (s, dir) =>
      // EXPLICIT grouping sets — the irregular lattice cube/rollup
      // can't express: ((status, priority), (status), ()) but NOT
      // (priority). One pass, one Expand, one aggregate — never three
      // scans unioned
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")
    }, oracle =
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY status, priority""".stripMargin),
    RowDef("by_pivot", { (s, dir) =>
      Table(t(s, dir, "orders"))
        .pivotAgg("o_orderstatus", "o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          "n", Col(lit(1)), _.count).df
        .orderBy("o_orderstatus")
    }, oracle =
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_1_urgent,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_2_high,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_3_medium,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_4_not_specified,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_5_low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // ---- HAVING: filter on an aggregate (Blaze composes this as
    // selection-over-By; the plan is agg → filter, no extra shuffle) ----
    RowDef("by_having", { (s, dir) =>
      Table(t(s, dir, "orders"))
        .byFields(Seq("o_custkey"), "n" -> Col(count(lit(1))),
          "total" -> Col(dsum(col("o_totalprice"))))
        .filter(Col(col("n") >= 10))
        .sort(Seq("o_custkey")).df
    }, oracle =
      """SELECT o_custkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 10
        |ORDER BY o_custkey""".stripMargin),
    RowDef("by_unpivot", { (s, dir) =>
      // melt: the wide→long inverse of by_pivot (common-typed values)
      Table(t(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast(DoubleType).as("p_size"),
          col("p_retailprice")))
        .melt(ids = Seq("p_partkey"), values = Seq("p_retailprice", "p_size")).df
        .orderBy("p_partkey", "variable")
    }, oracle =
      """SELECT p_partkey, 'p_retailprice' AS variable, p_retailprice AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
        |ORDER BY p_partkey, variable""".stripMargin),

    // ---- intersect / except (extension; SURVEY §2.11) ----
    RowDef("set_union", { (s, dir) =>
      // distinct union (UNION vs concat's UNION ALL): two overlapping
      // customer-key sets
      val o = t(s, dir, "orders")
      val hi = Table(o.filter(col("o_totalprice") > 100000).select(col("o_custkey")))
      val urgent = Table(o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")))
      hi.concat(urgent).distinct().sort(Seq("o_custkey")).df
    }, oracle =
      """SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_custkey""".stripMargin),
    RowDef("set_intersect", { (s, dir) =>
      val c = Table(t(s, dir, "customer").select(col("c_nationkey").as("nationkey")))
      val sup = Table(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      c.intersect(sup).sort(Seq("nationkey")).df
    }, oracle =
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),
    RowDef("join_null_safe", { (s, dir) =>
      // null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
      // MATCH each other instead of dropping — the semantic exact dedup
      // needs when a nullable column is part of the identity. Keys are
      // nation ids nulled on a deterministic slice of both sides.
      val c = t(s, dir, "customer")
        .select(col("c_custkey"),
          when(col("c_custkey") % 50 === 0, lit(null)).otherwise(col("c_nationkey"))
            .as("c_nk"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"),
          when(col("s_suppkey") % 7 === 0, lit(null)).otherwise(col("s_nationkey"))
            .as("s_nk"))
      // aggregate-BEFORE-join: the pair count per key is the product of
      // the two sides' key counts, so the null-safe join runs on two
      // ~nation-sized aggregates instead of materializing the
      // customers×suppliers row explosion (quadratic in sf — measured
      // 131× at the sf10 rehearsal before this rewrite). The <=> join
      // semantics under test are identical; NULL groups still match.
      val cc = c.groupBy(col("c_nk")).agg(count(lit(1)).as("_nc"))
      val sc = sup.groupBy(col("s_nk")).agg(count(lit(1)).as("_ns"))
      cc.join(sc, col("c_nk") <=> col("s_nk"))
        .select(col("c_nk").as("nk"), (col("_nc") * col("_ns")).as("n_pairs"))
        .orderBy(asc_nulls_first("nk"))
    }, oracle =
      """WITH c AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_nationkey END AS c_nk FROM customer),
        |s AS (SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_nationkey END AS s_nk FROM supplier)
        |SELECT c_nk AS nk, count(*) AS n_pairs
        |FROM c JOIN s ON c_nk IS NOT DISTINCT FROM s_nk
        |GROUP BY c_nk ORDER BY nk NULLS FIRST""".stripMargin),
    RowDef("set_bag_ops", { (s, dir) =>
      // BAG semantics (INTERSECT ALL / EXCEPT ALL): duplicates count —
      // multiset intersection keeps min(multiplicity), difference
      // subtracts it; the distinct-set forms (set_intersect/except)
      // would collapse them
      val a = t(s, dir, "orders").select((col("o_custkey") % 100).as("k"))
      val b = t(s, dir, "lineitem").select((col("l_suppkey") % 100).as("k"))
      Table(a.intersectAll(b)).df
        .groupBy("k").agg(count(lit(1)).as("n_inter"))
        .join(
          a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_exc")),
          Seq("k"), "full_outer")
        .select(col("k"), coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          coalesce(col("n_exc"), lit(0L)).as("n_exc"))
        .orderBy("k")
    }, oracle =
      """WITH a AS (SELECT o_custkey % 100 AS k FROM orders),
        |b AS (SELECT l_suppkey % 100 AS k FROM lineitem),
        |i AS (SELECT k, count(*) AS n_inter FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k),
        |e AS (SELECT k, count(*) AS n_exc FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k)
        |SELECT coalesce(i.k, e.k) AS k,
        |  coalesce(n_inter, 0) AS n_inter, coalesce(n_exc, 0) AS n_exc
        |FROM i FULL OUTER JOIN e ON i.k = e.k ORDER BY k""".stripMargin),
    RowDef("set_except", { (s, dir) =>
      // nations with NO high-balance customer (the subtrahend must not
      // cover every nation, or the query vacuously tests the empty set)
      val n = Table(t(s, dir, "nation").select(col("n_nationkey").as("nationkey")))
      val rich = Table(t(s, dir, "customer").filter(col("c_acctbal") > 9900)
        .select(col("c_nationkey").as("nationkey")))
      n.except(rich).sort(Seq("nationkey")).df
    }, oracle =
      """SELECT n_nationkey AS nationkey FROM nation
        |EXCEPT
        |SELECT c_nationkey FROM customer WHERE c_acctbal > 9900
        |ORDER BY nationkey""".stripMargin),
    RowDef("by_topk", { (s, dir) =>
      // per-group top-k via the bounded partial aggregate — never a
      // per-group window sort (plan-guarded in the unit suite)
      Table(t(s, dir, "orders"))
        .topKBy(Seq("o_orderpriority"), Col(col("o_totalprice")), "o_orderkey", k = 3)
        .sort(Seq("o_orderpriority", "rank")).df
    }, oracle =
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |FROM orders)
        |SELECT o_orderpriority, CAST(rank AS BIGINT) AS rank, o_orderkey,
        |  o_totalprice AS score
        |FROM r WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin),

    // ---- skew / co-location tools as oracle-checked queries (§2.15).
    // Each is result-IDENTICAL to its plain formulation — that identity
    // is the contract, so the plain GROUP BY / JOIN is the exact oracle ----
    RowDef("salted_sum", { (s, dir) =>
      // two-stage salted aggregation: one hot l_returnflag spreads over
      // 16 reducers in stage 1, stage 2 merges 16 partials per key
      Table(t(s, dir, "lineitem"))
        .saltedSumBy(Seq("l_returnflag"), saltBuckets = 16,
          "n" -> Col(lit(1L)),
          "sum_qty" -> Col(col("l_quantity").cast(D)))
        .df.select(col("l_returnflag"), col("n"),
          col("sum_qty").cast(DoubleType).as("sum_qty"))
        .orderBy("l_returnflag")
    }, oracle =
      // the salted/bucketed formulations are result-identical to the plain
      // GROUP BY / JOIN — which is therefore their exact oracle
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    RowDef("salted_join", { (s, dir) =>
      // replicated-salt equi-join: supplier replicated 8×, lineitem salted
      // by a within-key-varying column, so a hot suppkey spreads over 8
      // reducers (equality to the plain join is also unit-asserted)
      val li = Table(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey")))
      val sup = Table(t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name")))
      li.saltedJoin(sup, "l_suppkey", spreadCol = "l_orderkey", salts = 8)
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l.l_suppkey, l.l_orderkey, l.l_linenumber, s.s_name
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("bucketed_join", { (s, dir) =>
      // pay the shuffle at WRITE time: both sides bucketed + sorted on the
      // join key, so the join itself plans with ZERO exchanges (the
      // repeated-daily-join pattern for 100 TB fact tables; exchange-free
      // plan asserted in the unit suite). Stale dirs from a previous JVM
      // are cleared first — the in-memory catalog forgets them.
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
      Seq("graft_orders_b", "graft_customer_b").foreach { tb =>
        s.sql(s"DROP TABLE IF EXISTS $tb")
        val dir = new java.io.File(wh, tb)
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
          }
          rm(dir)
        }
      }
      Table.writeBucketed(Table(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),
        "graft_orders_b", Seq("o_custkey"), numBuckets = 8)
      Table.writeBucketed(Table(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))),
        "graft_customer_b", Seq("c_custkey"), numBuckets = 8)
      s.table("graft_orders_b")
        .join(s.table("graft_customer_b"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("c_name"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),
    RowDef("fk_hop", { (s, dir) =>
      // foreign-key field traversal (expressions.py:136-142, sql.py:272-276):
      // orders.o_custkey is an FK into customer — accessing customer
      // fields through it auto-joins the (broadcast) dimension
      Table(t(s, dir, "orders"))
        .fkField("o_custkey", Table(t(s, dir, "customer")), "c_custkey",
          "c_name", "c_mktsegment")
        .project("o_orderkey", "o_custkey", "c_name", "c_mktsegment")
        .sort(Seq("o_orderkey")).df
    }, oracle =
      // FK traversal lowers to the reference's WHERE-join (inner)
      """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin),
    RowDef("misc_profile", { (s, dir) =>
      // one-pass per-column table profile (exact distincts → Expand; the
      // approx_count_distinct swap is the 100 TB path, documented on the op)
      Table(t(s, dir, "orders")).profile.sort(Seq("col_name")).df
    }, oracle = {
      val fields = Seq(
        ("o_orderkey", true), ("o_custkey", true), ("o_orderstatus", false),
        ("o_totalprice", true), ("o_orderdate", false), ("o_orderpriority", false))
      fields.map { case (f, isNum) =>
        val mn = if (isNum) s"CAST(MIN($f) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val mx = if (isNum) s"CAST(MAX($f) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$f' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($f) AS n_null, COUNT(DISTINCT $f) AS n_distinct,
           |  $mn AS min_num, $mx AS max_num FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL ", "\nORDER BY col_name")
    }),
    RowDef("misc_heavyhitters", { (s, dir) =>
      // one-pass bounded-memory frequent items (Misra-Gries): capacity 64
      // ≫ 5 distinct priorities → EXACT regime, so the plain GROUP BY is
      // the oracle; the approximation bounds are property-tested
      t(s, dir, "orders")
        .agg(graft.plans.HeavyHitters(col("o_orderpriority"), 64).as("_hh"))
        .select(explode(col("_hh")).as("e"))
        .select(col("e.key").as("o_orderpriority"), col("e.cnt").as("n"))
        .orderBy(desc("n"), asc("o_orderpriority"))
    }, oracle =
      // exact-regime Misra-Gries == the plain GROUP BY it bounds
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority""".stripMargin),
    RowDef("sel_skyline", { (s, dir) =>
      Skyline.skyline2(t(s, dir, "orders"), "o_totalprice", "o_orderdate")
        .orderBy("x", "y")
    }, oracle =
      // INDEPENDENT formulation: NOT EXISTS dominance test vs the Spark
      // side's bucketed running-max algorithm (oracle-independence (b))
      """WITH pts AS (SELECT DISTINCT o_totalprice AS x, o_orderdate AS y FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL)
        |SELECT x, y FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
        |ORDER BY x, y""".stripMargin),
    RowDef("join_fuzzy", { (s, dir) =>
      // record linkage: canonical customer registry vs a dirty copy
      // (6th character deleted, ids offset) — best levenshtein-≤1
      // match per left record via complete deletion-neighborhood
      // blocking; the oracle is an independent brute-force cross join
      val cust = t(s, dir, "customer")
      val left = cust.select(col("c_custkey").as("id"), col("c_name").as("name"))
      val right = cust.select((col("c_custkey") + 1000000L).as("id"),
        concat(substring(col("c_name"), 1, 5), substring(col("c_name"), 7, 1000))
          .as("name"))
      Dedup.fuzzyJoin(left, right, maxDist = 1).orderBy("id_l")
    }, oracle =
      // linkage oracle: independent brute-force cross join + best-match
      // window — no shared blocking machinery with the engine's
      // deletion-neighborhood candidates
      """WITH l AS (SELECT c_custkey AS id_l, c_name AS key_l FROM customer),
        |r AS (SELECT c_custkey + 1000000 AS id_r,
        |    substr(c_name, 1, 5) || substr(c_name, 7) AS key_r FROM customer),
        |s AS (SELECT id_l, key_l, id_r, key_r, levenshtein(key_l, key_r) AS dist
        |  FROM l JOIN r ON abs(length(key_l) - length(key_r)) <= 1),
        |f AS (SELECT *, row_number() OVER (PARTITION BY id_l ORDER BY dist, id_r) AS rn
        |  FROM s WHERE dist <= 1)
        |SELECT id_l, key_l, id_r, key_r, dist FROM f WHERE rn = 1 ORDER BY id_l""".stripMargin),

    // ---- UDF / Apply surface (§2.14) ----
    RowDef("misc_map_udf", { (s, dir) =>
      // Map(func, schema): row-wise Scala function with declared result type
      val rank = udf((p: String) => p.substring(0, 1).toInt * 10)
      t(s, dir, "orders")
        .select(col("o_orderkey"), rank(col("o_orderpriority")).as("prio_rank"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, CAST(substring(o_orderpriority, 1, 1) AS INT) * 10 AS prio_rank
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    RowDef("misc_apply", { (s, dir) =>
      // Apply(func, splittable=true) → per-partition execution
      import s.implicits._
      val rows = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .as[(Long, Int, Double)]
        .mapPartitions(it => it.map { case (k, n, q) => (k, n, q * 2 + 1) })
        .toDF("l_orderkey", "l_linenumber", "qty2")
      rows.orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity * 2 + 1 AS qty2
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("misc_sample", { (s, dir) =>
      // Sample(frac) surfaced through the DETERMINISTIC hash sampler so
      // even the sampling row is fully oracle-checked (the engine-RNG
      // `Table.sample` parity API remains, unit-tested — its row set is
      // inherently engine-specific and was the one rows-only query)
      Sampling.sampleHash(t(s, dir, "lineitem"),
          concat_ws("_", col("l_orderkey"), col("l_linenumber")),
          frac = 0.1, seed = 42L)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      // same md5-bucket recipe as sample_stratified/sample_weighted, with
      // the seed folded into the hashed key (frac 0.1 → 100000/1000000)
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) || ':42'),1,7)) AS BIGINT) % 1000000 < 100000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("misc_validate", { (s, dir) =>
      // admission checks before a dump joins the corpus: all row-level
      // predicates fold into ONE scan; uniqueness is one aggregate; the
      // FK check runs against a deliberately holed dimension (every
      // 97th key removed) so the dangling-reference path is exercised
      val cust = t(s, dir, "customer")
      Validate.checkRules(cust, Seq(
          "acctbal_nonneg" -> (col("c_acctbal") >= 0),
          "name_nonempty" -> (length(col("c_name")) > 0),
          // HOUSEHOLD deliberately missing from the allowed set
          "segment_known" -> col("c_mktsegment")
            .isin("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")))
        .unionByName(Validate.checkUnique(cust, Seq("c_custkey")))
        .unionByName(Validate.checkForeignKey(t(s, dir, "orders"), "o_custkey",
          cust.filter(col("c_custkey") % 97 =!= 0), "c_custkey",
          rule = "fk_orders_holed_dim"))
        .orderBy("rule")
    }, oracle =
      """SELECT * FROM (
        |SELECT 'acctbal_nonneg' AS rule,
        |  CAST(SUM(CASE WHEN coalesce(c_acctbal >= 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM customer
        |UNION ALL SELECT 'name_nonempty',
        |  CAST(SUM(CASE WHEN coalesce(length(c_name) > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) FROM customer
        |UNION ALL SELECT 'segment_known',
        |  CAST(SUM(CASE WHEN coalesce(c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY'), FALSE) THEN 0 ELSE 1 END) AS BIGINT) FROM customer
        |UNION ALL SELECT 'unique(c_custkey)',
        |  CAST(coalesce(SUM(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS c FROM customer GROUP BY c_custkey)
        |UNION ALL SELECT 'fk_orders_holed_dim',
        |  CAST(COUNT(*) AS BIGINT) FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0)
        |) ORDER BY rule""".stripMargin),

    // ---- caching (§1.1 CachedDataset) ----
    RowDef("misc_cached", { (s, dir) =>
      // cache only the columns the two aggregates read — at 100 TB you
      // cache a projection, never the full fact table
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity")).cache()
      val a = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val b = li.groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("q"))
      val res = a.join(b, Seq("l_returnflag")).orderBy("l_returnflag")
      // materialize THROUGH the cache, then release it so later queries
      // (Bench runs alphabetically) aren't silently served from the
      // InMemoryRelation — the cache demo must not skew other timings.
      res.count()
      li.unpersist()
      res
    }, oracle =
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
  )
}
