package graft
package suite

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Shared._

/** The TPC-H query shapes (Q6 is `sql_q6`, written as SQL text in
  * [[ExprRows]]), adapted to the driver's reduced star schema: there is
  * no `partsupp` table and `lineitem` carries no commit/receipt dates or
  * ship modes, so each query keeps the REFERENCE PLAN SHAPE (the join
  * topology, the subquery class, the aggregation pattern that makes the
  * query a benchmark) while substituting documented column proxies.
  *
  * Reference parity note: Blaze's test suite exercises these shapes via
  * its SQL backend (reference `blaze/compute/sql.py` join/agg/exists
  * lowering); the shapes here are the standard published TPC-H forms.
  *
  * Scale notes are per query. The common rules:
  *  - dimension tables (`region nation supplier part`) broadcast —
  *    they stay small at any SF (part/supplier grow, but far below the
  *    10MB auto-broadcast bound until ~sf100; `broadcast()` is explicit
  *    where we rely on it);
  *  - fact-fact joins (`lineitem` x `orders`) shuffle on the orderkey —
  *    at warehouse scale both sides would be bucketed on that key
  *    (see `bucketed_join`), which this plan picks up for free;
  *  - every aggregate is partial (map-side combine) before its one
  *    shuffle; decimal casts keep sums exact and order-independent so
  *    the DuckDB oracle hash-matches bit-for-bit.
  */
object TpchRows {
  private def rev: Column =
    col("l_extendedprice").cast(D) * (lit(1) - col("l_discount").cast(D))
  private def ts(d: String): Column = lit(d).cast(TimestampType)

  val rows: Seq[RowDef] = Seq(
    // ---- flagship: TPC-H Q1 pricing summary (SURVEY §2.7/§2.8) ----
    RowDef("q1_agg", { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(D) * (lit(1) - col("l_discount").cast(D)))
            .cast(DoubleType).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- TPC-H Q3: join-heavy top-k (broadcast dim + partial agg + TakeOrdered) ----
    RowDef("q3_shipping", { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast(TimestampType))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15").cast(TimestampType))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast(D) * (lit(1) - col("l_discount").cast(D)))
          .cast(DoubleType).as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
        .limit(10)
    }, oracle =
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin),
    RowDef("q10_returns", { (s, dir) =>
      // TPC-H Q10 shape (returned-item reporting): revenue lost to
      // returns per customer over one order quarter, top 20. Orders
      // filter prunes FIRST (partition-prunable at scale), lineitem
      // joins shuffled on the orderkey (both sides huge — bucketing
      // co-locates them in a warehouse deployment), nation broadcasts.
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1995-04-01").cast(TimestampType))
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"), col("c_mktsegment"))
        .agg(sum(col("l_extendedprice").cast(D) * (lit(1) - col("l_discount").cast(D)))
          .cast(DoubleType).as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"), col("c_mktsegment"))
        .limit(20)
    }, oracle =
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name, c_mktsegment
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    RowDef("q18_volume", { (s, dir) =>
      // TPC-H Q18 shape (large-volume customers): orders whose total
      // lineitem quantity clears a HAVING threshold, joined back to
      // customer detail — the aggregate-then-semi-join pattern (the
      // heavy lineitem aggregate runs ONCE; the qualifying key set,
      // tiny by construction, broadcasts into the detail join)
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(LongType)).as("total_qty"))
        .filter(col("total_qty") > 180)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === big("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(desc("total_qty"), asc("o_orderkey"))
        .limit(50)
    }, oracle =
      """WITH big AS (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 180)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 50""".stripMargin),
    RowDef("q14_promo", { (s, dir) =>
      // TPC-H Q14 shape (promotion effect): PROMO share of one month's
      // revenue — two decimal-exact sums from ONE conditional
      // aggregate (no second scan, no join back), part side broadcast
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1995-10-01").cast(TimestampType))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      val rev = col("l_extendedprice").cast(D) * (lit(1) - col("l_discount").cast(D))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(D)))
            .cast(DoubleType).as("promo_revenue"),
          sum(rev).cast(DoubleType).as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          (lit(100.0) * col("promo_revenue") / col("total_revenue")).as("promo_pct"))
    }, oracle =
      """WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01')
        |SELECT promo_revenue, total_revenue,
        |  100.0 * promo_revenue / total_revenue AS promo_pct FROM a""".stripMargin),
    RowDef("q5_region_revenue", { (s, dir) =>
      // TPC-H Q5 shape: the 6-table join — tiny dims (region, nation)
      // broadcast; the fact chain customer ⋈ orders ⋈ lineitem ⋈ supplier
      // shuffles on its join keys with AQE free to reorder/rebalance; the
      // local-supplier predicate (c_nationkey = s_nationkey) closes the
      // cycle as a join condition, not a post-filter
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1996-01-01").cast(TimestampType))
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(D) * (lit(1) - col("l_discount").cast(D)))
          .cast(DoubleType).as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }, oracle =
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    // Q2: minimum-cost supplier — the correlated-scalar-subquery shape
    // (cost = MIN over the part's suppliers in one region). Proxy for
    // the missing partsupp: the observed (part, supplier) bridge in
    // lineitem with supplycost = min extendedprice of that pair (exact
    // decimal, so the correlated min compares bit-stably). The
    // textbook re-scan subquery lowers to ONE window (partitionBy
    // partkey) over the already-joined frame — the q17 pattern — so
    // the partsupp proxy aggregates once and is never re-read; region
    // -restricted supplier detail and the part filter both broadcast.
    // All-tie semantics preserved: every supplier AT the min survives.
    RowDef("q2_mincost", { (s, dir) =>
      val ps = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast(D)).as("supplycost"))
      val eu = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_size").isin(5, 15, 25, 35, 45) &&
          col("p_type") === "STANDARD")
        .select("p_partkey", "p_brand"))
      val w = Window.partitionBy(col("p_partkey"))
      ps.join(eu, col("l_suppkey") === col("s_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .withColumn("_mc", min(col("supplycost")).over(w))
        .filter(col("supplycost") === col("_mc"))
        .select(col("s_acctbal").cast(DoubleType).as("s_acctbal"),
          col("s_name"), col("n_name"), col("p_partkey"), col("p_brand"),
          col("supplycost").cast(DoubleType).as("supplycost"))
        .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"),
          asc("p_partkey"))
        .limit(100)
    }, oracle =
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS supplycost
        |  FROM lineitem GROUP BY 1, 2),
        |eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |j AS (
        |  SELECT p_partkey, p_brand, s_acctbal, s_name, n_name, supplycost,
        |    MIN(supplycost) OVER (PARTITION BY p_partkey) AS mc
        |  FROM ps JOIN eu ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_size IN (5, 15, 25, 35, 45) AND p_type = 'STANDARD')
        |SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
        |  p_partkey, p_brand, CAST(supplycost AS DOUBLE) AS supplycost
        |FROM j WHERE supplycost = mc
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    // Q4: order-priority checking — the EXISTS (correlated semi-join)
    // shape. Proxy: "commit date missed" becomes "some line shipped
    // more than 60 days after the order date". The semi join keeps
    // orders-side columns only, so no dedup of the many-lineitem side
    // is ever needed; both sides shuffle on the orderkey.
    RowDef("q4_priority", { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01") &&
          col("o_orderdate") < ts("1996-04-01"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }, oracle =
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Q7: volume shipping between two nations — the double-dimension-
    // alias shape (nation joined twice under different roles). Supplier
    // and both nation sides broadcast; the only shuffles are the
    // lineitem-orders and orders-customer fact joins plus one partial
    // aggregate. The disjunctive nation pair filter runs AFTER both
    // broadcast hops resolve the names.
    RowDef("q7_volume", { (s, dir) =>
      val n1 = t(s, dir, "nation").select(
        col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(
        col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1998-01-01"))
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .filter((col("supp_nation") === "NATION_11" && col("cust_nation") === "NATION_12") ||
          (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_11"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast(LongType).as("l_year"))
        .agg(sum(rev).cast(DoubleType).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }, oracle =
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12')
        |    OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // Q8: national market share — conditional share-of-total inside ONE
    // aggregate (no second scan, no join-back), over a five-table
    // dimension closure. Part filter prunes lineitem through the
    // broadcast hash join's runtime filter; region restricts the
    // CUSTOMER side while the share condition tests the SUPPLIER side.
    RowDef("q8_share", { (s, dir) =>
      val p = t(s, dir, "part").filter(col("p_type") === "STANDARD")
        .select("p_partkey")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val sn = t(s, dir, "nation").select(
        col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val cnr = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nkey"))
      val share = when(col("supp_nation") === "NATION_3", rev)
        .otherwise(lit(0).cast(D))
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01") &&
            col("o_orderdate") < ts("1998-01-01"))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(cnr), col("c_nationkey") === col("c_nkey"))
        .join(broadcast(sn), col("s_nationkey") === col("s_nkey"))
        .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
        .agg((sum(share).cast(DoubleType) / sum(rev).cast(DoubleType))
          .as("mkt_share"))
        .orderBy("o_year")
    }, oracle =
      """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Q9: product-type profit — proxy for the missing ps_supplycost:
    // cost = p_retailprice * l_quantity (both fixture columns are
    // 2-decimal-exact, so the profit stays exact decimal until the
    // final cast). The LIKE part filter broadcasts; profit aggregates
    // by supplier nation x ship year.
    RowDef("q9_profit", { (s, dir) =>
      val profit = rev -
        col("p_retailprice").cast(D) * col("l_quantity").cast(D)
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").like("%red%"))
          .select("p_partkey", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).cast(LongType).as("o_year"))
        .agg(sum(profit).cast(DoubleType).as("sum_profit"))
        .orderBy(asc("nation"), desc("o_year"))
    }, oracle =
      """SELECT n_name AS nation, CAST(YEAR(l_shipdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |    - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin),

    // Q11: important stock — the HAVING-against-global-scalar shape.
    // Proxy for partsupp value: revenue per part from one nation's
    // suppliers. The per-part aggregate runs ONCE; the global total is
    // a second tiny aggregate over that ALREADY-AGGREGATED frame
    // (cached, so no rescan of lineitem), broadcast back as a 1-row
    // cross join. Threshold compare happens in exact decimal.
    // Cache contract (also q15): the persisted per-key aggregate is
    // referenced by the returned plan and lives until the caller
    // clears it (spark.catalog.clearCache(), as TpchSpec does).
    RowDef("q11_value", { (s, dir) =>
      val perPart = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")
          .filter(col("s_nationkey") === 3).select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(D)).as("dv"))
        .cache()
      val total = perPart.agg(sum(col("dv")).as("dt"))
      perPart.crossJoin(broadcast(total))
        .filter(col("dv") > col("dt") * lit(0.001))
        .select(col("l_partkey"), col("dv").cast(DoubleType).as("value"))
        .orderBy(desc("value"), asc("l_partkey"))
    }, oracle =
      """WITH v AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS dv
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey = 3 GROUP BY l_partkey)
        |SELECT l_partkey, CAST(dv AS DOUBLE) AS value
        |FROM v WHERE dv > (SELECT SUM(dv) FROM v) * 0.001
        |ORDER BY value DESC, l_partkey""".stripMargin),

    // Q12: shipping-mode priority check — two-bucket conditional counts
    // over the order-lineitem join. Proxies: l_linestatus stands in for
    // the missing ship mode; "late" = shipped >30 days after order.
    RowDef("q12_shipmode", { (s, dir) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01") &&
          col("l_shipdate") < ts("1998-01-01"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }, oracle =
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    // Q13: customer order-count distribution — the two-level aggregate
    // over a LEFT join (customers with zero orders must appear in the
    // 0 bucket). Orders pre-aggregate BEFORE the join, so the join
    // carries one row per customer per side instead of one per order;
    // the second aggregate's domain is tiny (distinct counts).
    // Priority filter proxies the reference's comment NOT LIKE filter.
    RowDef("q13_custdist", { (s, dir) =>
      val perCust = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      t(s, dir, "customer").select("c_custkey")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }, oracle =
      """WITH pc AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM pc GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // Q15: top supplier — the max-of-aggregate scalar subquery shape.
    // Quarterly revenue per supplier aggregates once (cached); the max
    // broadcasts back as a 1-row cross join and the tie-safe compare
    // runs in exact decimal; supplier detail then broadcasts in.
    RowDef("q15_topsupp", { (s, dir) =>
      val revenue = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(rev).as("dr"))
        .cache()
      val top = revenue.agg(max(col("dr")).as("dm"))
      revenue.crossJoin(broadcast(top))
        .filter(col("dr") === col("dm"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("dr").cast(DoubleType).as("total_revenue"))
        .orderBy("s_suppkey")
    }, oracle =
      """WITH r AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS dr
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(dr AS DOUBLE) AS total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE dr = (SELECT MAX(dr) FROM r)
        |ORDER BY s_suppkey""".stripMargin),

    // Q16: parts/supplier relationship — COUNT(DISTINCT) per attribute
    // triple with a NOT IN supplier exclusion. The part-supplier bridge
    // is lineitem (no partsupp); the "complaints" exclusion proxies as
    // negative account balance, lowered to a broadcast anti join.
    RowDef("q16_partsupp", { (s, dir) =>
      val excl = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      val p = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" &&
          !col("p_type").isin("MEDIUM", "PROMO") &&
          col("p_size").isin(1, 9, 19, 29, 39, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
    }, oracle =
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type NOT IN ('MEDIUM','PROMO')
        |  AND p_size IN (1, 9, 19, 29, 39, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // Q17: small-quantity-order revenue — the per-key correlated
    // average. Formulated as ONE window over the part-restricted join
    // (partitionBy partkey) instead of the textbook self-join — one
    // scan, one shuffle; the window's per-part mean uses an exact
    // integer sum (quantities are integral) so both engines compare
    // identical doubles.
    RowDef("q17_smallqty", { (s, dir) =>
      val w = Window.partitionBy(col("l_partkey"))
      val avgQty = sum(col("l_quantity").cast(LongType)).over(w)
        .cast(DoubleType) / count(lit(1)).over(w)
      t(s, dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_brand") === "Brand#12" && col("p_type") === "SMALL")
          .select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("avg_qty", avgQty)
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
    }, oracle =
      """WITH j AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12' AND p_type = 'SMALL')
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM j WHERE l_quantity < 0.2 * avg_qty""".stripMargin),

    // Q19: discounted revenue — three disjunctive brand/size/quantity
    // branches in one predicate. The whole OR evaluates inside the
    // broadcast hash join's generated code; only the partkey equality
    // is a join condition, everything else filters post-probe.
    RowDef("q19_disjunct", { (s, dir) =>
      val p = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val q = col("l_quantity")
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          q.between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          q.between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          q.between(20, 30))
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(sum(rev).cast(DoubleType).as("revenue"))
    }, oracle =
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // Q20: potential part promotion — the nested semi-join chain:
    // red parts -> heavy shippers of those parts -> suppliers of one
    // nation (the fixture's part vocabulary has no green; red keeps
    // the prefix-LIKE shape). The qualifying (supplier, part)
    // aggregate is the only shuffle; its distinct supplier set is
    // tiny and broadcasts into the supplier dimension as a semi join.
    RowDef("q20_greensupp", { (s, dir) =>
      val reds = t(s, dir, "part")
        .filter(col("p_name").like("red%")).select("p_partkey")
      val heavy = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01"))
        .join(broadcast(reds), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast(LongType)).as("qty"))
        .filter(col("qty") > 40)
        .select("l_suppkey").distinct()
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_3").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_suppkey")
    }, oracle =
      """SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    JOIN part ON l_partkey = p_partkey
        |    WHERE p_name LIKE 'red%'
        |      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING SUM(CAST(l_quantity AS BIGINT)) > 40)
        |ORDER BY s_suppkey""".stripMargin),

    // Q21: suppliers who kept orders waiting — the EXISTS + NOT EXISTS
    // pair against the SAME fact table under different aliases. Proxy:
    // "this supplier's line was returned, some other supplier shares
    // the order, and no other supplier's line was returned". Both
    // correlated quantifiers lower to one semi and one anti join on
    // the orderkey with a suppkey inequality — no self cartesian.
    RowDef("q21_waiting", { (s, dir) =>
      val l1 = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val l2 = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("l2_orderkey"), col("l_suppkey").as("l2_suppkey"))
      val l3 = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("l3_orderkey"), col("l_suppkey").as("l3_suppkey"))
      l1.join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
            .select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(l2, col("l2_orderkey") === col("l_orderkey") &&
          col("l2_suppkey") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("l3_orderkey") === col("l_orderkey") &&
          col("l3_suppkey") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(100)
    }, oracle =
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),

    // Q22: global sales opportunity — scalar average subquery + anti
    // join. Proxy country code: the customer's nationkey bucket; and
    // since every fixture customer has SOME order, "never ordered"
    // becomes "no order since 2000-01-01" (same NOT EXISTS lowering,
    // non-vacuous result). The positive-balance average is one tiny
    // aggregate broadcast back; the anti join's orders side projects
    // ONLY its key after the date filter prunes it.
    RowDef("q22_opportunity", { (s, dir) =>
      val nats = Seq(3, 8, 13, 18, 23)
      val c = t(s, dir, "customer")
        .filter(col("c_nationkey").isin(nats: _*))
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast(D)).cast(DoubleType) /
          count(lit(1))).as("ab"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("2000-01-01")).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("cntrycode")
    }, oracle =
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (3, 8, 13, 18, 23)),
        |ab AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS ab
        |  FROM c WHERE c_acctbal > 0)
        |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM c, ab
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin),
  )
}
