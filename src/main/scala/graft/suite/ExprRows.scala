package graft
package suite

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.{Col, Table}
import graft.functions.TextFunctions
import graft.operators.{Pca, Similarity, Tensor}
import Shared._

/** The expression rows: arithmetic, math, string, date-time and array
  * expressions, PCA over the embedding arrays, and the rows written as
  * SQL text. */
object ExprRows {
  val rows: Seq[RowDef] = Seq(

    // ---- SQL entry point: spark.sql over registered fixture views ----
    RowDef("sql_q6", { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
          |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)
    }, oracle =
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    RowDef("sql_lateral", { (s, dir) =>
      // SQL generator surface: LATERAL VIEW explode (the HiveQL form
      // Spark SQL keeps) — tokenize in SQL, count per token, top-20;
      // oracle spells the same with DuckDB's unnest
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT tok, COUNT(*) AS n
          |FROM documents
          |LATERAL VIEW explode(split(trim(text), '\\s+')) AS tok
          |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin)
    }, oracle =
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin),
    RowDef("sql_pivot", { (s, dir) =>
      // SQL PIVOT surface (Spark 4 syntax): order counts per priority
      // spread into columns by status; the oracle spells the same
      // pivot as portable conditional aggregation
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT * FROM (
          |  SELECT o_orderpriority, o_orderstatus FROM orders
          |) PIVOT (
          |  COUNT(*) FOR o_orderstatus IN ('F' AS n_f, 'O' AS n_o, 'P' AS n_p)
          |)
          |ORDER BY o_orderpriority""".stripMargin)
    }, oracle =
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- arithmetic / comparison / boolean (§2.3) ----
    RowDef("arith_ops", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      val q = li("l_quantity")
      li.project("l_orderkey", "l_linenumber", "l_quantity")
        .merge(
          "a_add" -> (q + 1.5),
          "a_div" -> (q / 7),
          "a_floordiv" -> q.floorDiv(Col.lit(7)),
          "a_mod" -> (Col(col("l_orderkey")) % 7),
          "a_mul" -> (q * 2),
          "a_neg" -> (-q),
          "a_pow" -> q.pow(Col.lit(2)),
          "a_sub" -> (q - 0.5))
        .dropField("l_quantity")
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity + 1.5 AS a_add,
        |  l_quantity / 7 AS a_div,
        |  CAST(FLOOR(l_quantity / 7) AS BIGINT) AS a_floordiv,
        |  l_orderkey % 7 AS a_mod,
        |  l_quantity * 2 AS a_mul,
        |  -l_quantity AS a_neg,
        |  POW(l_quantity, 2) AS a_pow,
        |  l_quantity - 0.5 AS a_sub
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("arith_cmp", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      val q = li("l_quantity"); val f = li("l_returnflag")
      li.merge(
          "c_and" -> ((q > 10) && (f === "A")),
          "c_eq" -> (f === "R"),
          "c_ge" -> (q >= 30),
          "c_gt" -> (q > 30),
          "c_le" -> (q <= 30),
          "c_lt" -> (q < 30),
          "c_ne" -> (f !== "R"),
          "c_not" -> !(q > 30),
          "c_or" -> ((q < 5) || (q > 45)))
        .project("l_orderkey", "l_linenumber", "c_and", "c_eq", "c_ge", "c_gt",
          "c_le", "c_lt", "c_ne", "c_not", "c_or")
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |  (l_quantity > 10 AND l_returnflag = 'A') AS c_and,
        |  l_returnflag = 'R' AS c_eq,
        |  l_quantity >= 30 AS c_ge,
        |  l_quantity > 30 AS c_gt,
        |  l_quantity <= 30 AS c_le,
        |  l_quantity < 30 AS c_lt,
        |  l_returnflag <> 'R' AS c_ne,
        |  NOT (l_quantity > 30) AS c_not,
        |  (l_quantity < 5 OR l_quantity > 45) AS c_or
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("arith_greatest_least", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      li.project("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .merge(
          "g" -> Col(li("l_quantity").math.greatest(col("l_discount") * 100)),
          "l" -> Col(li("l_quantity").math.least(col("l_discount") * 100)))
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        |  GREATEST(l_quantity, l_discount * 100) AS g,
        |  LEAST(l_quantity, l_discount * 100) AS l
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- math scalar functions (§2.4) ----
    RowDef("math_funcs", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      val q = col("l_quantity"); val d = col("l_discount")
      def r6(c: Column) = round(c, 6)
      li.merge(
          "m_abs" -> Col(abs(q - 25)),
          "m_asin" -> Col(r6(asin(d))),
          "m_atan2" -> Col(r6(atan2(q, lit(3.0)))),
          "m_ceil" -> Col(ceil(q / 7).cast(LongType)),
          "m_cos" -> Col(r6(cos(q))),
          "m_degrees" -> Col(r6(degrees(d))),
          "m_exp" -> Col(r6(exp(d))),
          "m_floor" -> Col(floor(q / 7).cast(LongType)),
          "m_hypot" -> Col(r6(hypot(q, lit(4.0)))),
          "m_log" -> Col(r6(log(q + 1))),
          "m_log10" -> Col(r6(log10(q + 1))),
          "m_log1p" -> Col(r6(log1p(q))),
          "m_sin" -> Col(r6(sin(q))),
          "m_sqrt" -> Col(r6(sqrt(q))),
          "m_tan" -> Col(r6(tan(d))),
          "m_trunc" -> Col(new graft.api.MathOps(q * 0.3).trunc.cast(LongType)))
        .project(Seq("l_orderkey", "l_linenumber") ++ Seq("m_abs", "m_asin",
          "m_atan2", "m_ceil", "m_cos", "m_degrees", "m_exp", "m_floor",
          "m_hypot", "m_log", "m_log10", "m_log1p", "m_sin", "m_sqrt",
          "m_tan", "m_trunc"): _*)
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |  ABS(l_quantity - 25) AS m_abs,
        |  ROUND(ASIN(l_discount), 6) AS m_asin,
        |  ROUND(ATAN2(l_quantity, 3.0), 6) AS m_atan2,
        |  CAST(CEIL(l_quantity / 7) AS BIGINT) AS m_ceil,
        |  ROUND(COS(l_quantity), 6) AS m_cos,
        |  ROUND(DEGREES(l_discount), 6) AS m_degrees,
        |  ROUND(EXP(l_discount), 6) AS m_exp,
        |  CAST(FLOOR(l_quantity / 7) AS BIGINT) AS m_floor,
        |  ROUND(SQRT(l_quantity*l_quantity + 4.0*4.0), 6) AS m_hypot,
        |  ROUND(LN(l_quantity + 1), 6) AS m_log,
        |  ROUND(LOG10(l_quantity + 1), 6) AS m_log10,
        |  ROUND(LN(1 + l_quantity), 6) AS m_log1p,
        |  ROUND(SIN(l_quantity), 6) AS m_sin,
        |  ROUND(SQRT(l_quantity), 6) AS m_sqrt,
        |  ROUND(TAN(l_discount), 6) AS m_tan,
        |  CAST(CASE WHEN l_quantity * 0.3 >= 0 THEN FLOOR(l_quantity * 0.3) ELSE CEIL(l_quantity * 0.3) END AS BIGINT) AS m_trunc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- string functions (§2.5) ----
    RowDef("str_basic", { (s, dir) =>
      val c = Table(t(s, dir, "customer"))
      val n = c("c_name")
      c.project("c_custkey", "c_name")
        .merge(
          "s_capitalize" -> Col(n.str.capitalize),
          "s_len" -> Col(n.str.len.cast(LongType)),
          "s_lower" -> Col(n.str.lower),
          "s_lstrip" -> Col(Col.lit("  pad  ").c).label("s_pad_in"),
          "s_upper" -> Col(n.str.upper))
        .transform("s_lstrip" -> Col(ltrim(lit("  pad  "))))
        .sort(Seq("c_custkey")).df
    }, oracle =
      """SELECT c_custkey, c_name,
        |  UPPER(SUBSTRING(c_name, 1, 1)) || LOWER(SUBSTRING(c_name, 2)) AS s_capitalize,
        |  CAST(LENGTH(c_name) AS BIGINT) AS s_len,
        |  LOWER(c_name) AS s_lower,
        |  LTRIM('  pad  ') AS s_lstrip,
        |  UPPER(c_name) AS s_upper
        |FROM customer ORDER BY c_custkey""".stripMargin),
    RowDef("str_like_find", { (s, dir) =>
      val p = Table(t(s, dir, "part"))
      val ty = p("p_type")
      p.project("p_partkey", "p_type")
        .merge(
          "s_find" -> Col(ty.str.find("BRASS")),
          "s_like" -> Col(ty.str.like("*BRASS*")),
          "s_pos" -> Col(ty.str.find("ECONOMY")))
        .sort(Seq("p_partkey")).df
    }, oracle =
      """SELECT p_partkey, p_type,
        |  CAST(STRPOS(p_type, 'BRASS') - 1 AS BIGINT) AS s_find,
        |  p_type LIKE '%BRASS%' AS s_like,
        |  CAST(STRPOS(p_type, 'ECONOMY') - 1 AS BIGINT) AS s_pos
        |FROM part ORDER BY p_partkey""".stripMargin),
    RowDef("str_slice_pad", { (s, dir) =>
      val c = Table(t(s, dir, "customer"))
      val n = c("c_name")
      c.merge(
          "s_bpad" -> Col(n.str.pad(25, "both", ".")),
          "s_cat" -> Col(n.str.cat(col("c_mktsegment"), sep = "|")),
          "s_lpad" -> Col(n.str.pad(25, "left", ".")),
          "s_repeat" -> Col(substring(n.c, 1, 2)).label("tmp"),
          "s_rpad" -> Col(n.str.pad(25, "right", ".")),
          "s_rstrip" -> Col(new graft.api.StrOps(lit("  pad  ")).rstrip),
          "s_slice" -> Col(n.str.slice(0, 8)),
          "s_strip" -> Col(new graft.api.StrOps(lit("  pad  ")).strip),
          "s_replace" -> Col(n.str.replace("Customer", "Cust")))
        .transform("s_repeat" -> Col(repeat(substring(n.c, 1, 2), 3)))
        .project("c_custkey", "s_bpad", "s_cat", "s_lpad", "s_repeat",
          "s_rpad", "s_rstrip", "s_slice", "s_strip", "s_replace")
        .sort(Seq("c_custkey")).df
    }, oracle =
      """SELECT c_custkey,
        |  CASE WHEN LENGTH(c_name) >= 25 THEN c_name
        |       ELSE RPAD(LPAD(c_name, CAST(LENGTH(c_name) + FLOOR((25 - LENGTH(c_name)) / 2.0) + ((25 - LENGTH(c_name)) & 25 & 1) AS INT), '.'), 25, '.') END AS s_bpad,
        |  c_name || '|' || c_mktsegment AS s_cat,
        |  LPAD(c_name, 25, '.') AS s_lpad,
        |  REPEAT(SUBSTRING(c_name, 1, 2), 3) AS s_repeat,
        |  RPAD(c_name, 25, '.') AS s_rpad,
        |  RTRIM('  pad  ') AS s_rstrip,
        |  SUBSTRING(c_name, 1, 8) AS s_slice,
        |  TRIM('  pad  ') AS s_strip,
        |  REPLACE(c_name, 'Customer', 'Cust') AS s_replace
        |FROM customer ORDER BY c_custkey""".stripMargin),
    RowDef("str_replace_max", { (s, dir) =>
      // bounded replace (first-N occurrences, Python str.replace(count)
      // semantics) over a string with guaranteed repeats: name || name
      val x = concat(col("c_name"), lit(" "), col("c_name"))
      val so = new graft.api.StrOps(x)
      t(s, dir, "customer").select(col("c_custkey"),
          so.replace("Customer", "Cust", 1).as("r1"),
          so.replace("0", "#", 3).as("r3"))
        .orderBy("c_custkey")
    }, oracle = {
      // replace-first-occurrence step, unrolled per max (sequential
      // first-match == Python first-N because the replacements here never
      // create new matches); strpos = 0 when absent → pass through.
      // Oracle-independence: this CASE chain mirrors the operator's
      // unrolling idea, so it is not an independent spec — the second
      // witness is PropertySpec "replace(old, new, max): Spark == JVM
      // reference on random strings" (java.lang.String as the third
      // implementation; see the audit block in Shared)
      def once(x: String, old: String, nw: String) =
        s"CASE WHEN strpos($x, '$old') > 0 THEN substr($x, 1, strpos($x, '$old') - 1) " +
          s"|| '$nw' || substr($x, strpos($x, '$old') + ${old.length}) ELSE $x END"
      s"""WITH t0 AS (SELECT c_custkey, c_name || ' ' || c_name AS x FROM customer),
         |t1 AS (SELECT c_custkey, x, ${once("x", "0", "#")} AS y1 FROM t0),
         |t2 AS (SELECT c_custkey, x, ${once("y1", "0", "#")} AS y2 FROM t1),
         |t3 AS (SELECT c_custkey, x, ${once("y2", "0", "#")} AS y3 FROM t2)
         |SELECT c_custkey, ${once("x", "Customer", "Cust")} AS r1, y3 AS r3
         |FROM t3 ORDER BY c_custkey""".stripMargin
    }),
    RowDef("str_predicates", { (s, dir) =>
      val c = Table(t(s, dir, "customer"))
      val seg = c("c_mktsegment")
      c.project("c_custkey", "c_mktsegment")
        .merge(
          "p_isalnum" -> Col(seg.str.isalnum),
          "p_isalpha" -> Col(seg.str.isalpha),
          "p_isdigit" -> Col(seg.str.isdigit),
          "p_islower" -> Col(seg.str.islower),
          "p_isupper" -> Col(seg.str.isupper))
        .sort(Seq("c_custkey")).df
    }, oracle =
      """SELECT c_custkey, c_mktsegment,
        |  regexp_matches(c_mktsegment, '^[A-Za-z0-9]+$') AS p_isalnum,
        |  regexp_matches(c_mktsegment, '^[A-Za-z]+$') AS p_isalpha,
        |  regexp_matches(c_mktsegment, '^[0-9]+$') AS p_isdigit,
        |  (regexp_matches(c_mktsegment, '[a-z]') AND NOT regexp_matches(c_mktsegment, '[A-Z]')) AS p_islower,
        |  (regexp_matches(c_mktsegment, '[A-Z]') AND NOT regexp_matches(c_mktsegment, '[a-z]')) AS p_isupper
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- datetime functions (§2.6) ----
    RowDef("dt_extract", { (s, dir) =>
      val o = Table(t(s, dir, "orders"))
      val d = o("o_orderdate")
      o.merge(
          "d_day" -> Col(d.dt.day),
          "d_hour" -> Col(d.dt.hour),
          "d_minute" -> Col(d.dt.minute),
          "d_month" -> Col(d.dt.month),
          "d_second" -> Col(d.dt.second),
          "d_year" -> Col(d.dt.year))
        .project("o_orderkey", "d_day", "d_hour", "d_minute", "d_month",
          "d_second", "d_year")
        .sort(Seq("o_orderkey")).df
    }, oracle =
      """SELECT o_orderkey,
        |  CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS d_day,
        |  CAST(EXTRACT(HOUR FROM o_orderdate) AS INT) AS d_hour,
        |  CAST(EXTRACT(MINUTE FROM o_orderdate) AS INT) AS d_minute,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS d_month,
        |  CAST(EXTRACT(SECOND FROM o_orderdate) AS DOUBLE) AS d_second,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS d_year
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    RowDef("dt_calendar", { (s, dir) =>
      val o = Table(t(s, dir, "orders"))
      val d = o("o_orderdate")
      o.merge(
          "d_dayofyear" -> Col(d.dt.dayofyear),
          "d_daysinmonth" -> Col(d.dt.daysinmonth),
          "d_monthend" -> Col(d.dt.isMonthEnd),
          "d_monthstart" -> Col(d.dt.isMonthStart),
          "d_qend" -> Col(d.dt.isQuarterEnd),
          "d_qstart" -> Col(d.dt.isQuarterStart),
          "d_quarter" -> Col(d.dt.quarter),
          "d_week" -> Col(d.dt.week),
          "d_weekday" -> Col(d.dt.weekday),
          "d_yend" -> Col(d.dt.isYearEnd),
          "d_ystart" -> Col(d.dt.isYearStart))
        .project("o_orderkey", "d_dayofyear", "d_daysinmonth", "d_monthend",
          "d_monthstart", "d_qend", "d_qstart", "d_quarter", "d_week",
          "d_weekday", "d_yend", "d_ystart")
        .sort(Seq("o_orderkey")).df
    }, oracle =
      """SELECT o_orderkey,
        |  CAST(dayofyear(o_orderdate) AS INT) AS d_dayofyear,
        |  CAST(EXTRACT(DAY FROM last_day(o_orderdate)) AS INT) AS d_daysinmonth,
        |  CAST(o_orderdate AS DATE) = last_day(o_orderdate) AS d_monthend,
        |  EXTRACT(DAY FROM o_orderdate) = 1 AS d_monthstart,
        |  (CAST(o_orderdate AS DATE) = last_day(o_orderdate) AND EXTRACT(MONTH FROM o_orderdate) % 3 = 0) AS d_qend,
        |  (EXTRACT(DAY FROM o_orderdate) = 1 AND EXTRACT(MONTH FROM o_orderdate) % 3 = 1) AS d_qstart,
        |  CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS d_quarter,
        |  CAST(weekofyear(o_orderdate) AS INT) AS d_week,
        |  CAST(isodow(o_orderdate) - 1 AS INT) AS d_weekday,
        |  (EXTRACT(MONTH FROM o_orderdate) = 12 AND EXTRACT(DAY FROM o_orderdate) = 31) AS d_yend,
        |  dayofyear(o_orderdate) = 1 AS d_ystart
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    RowDef("dt_trunc", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      val sd = li("l_shipdate")
      li.merge(
          "t_10min" -> Col(sd.dt.truncate(10, "minutes")),
          "t_day" -> Col(sd.dt.truncate(1, "day")),
          "t_month" -> Col(sd.dt.truncate(1, "month")),
          "t_strftime" -> Col(sd.dt.strftime("%Y-%m-%d %H:%M")),
          "t_year" -> Col(sd.dt.truncate(1, "year")))
        .project("l_orderkey", "l_linenumber", "t_10min", "t_day", "t_month",
          "t_strftime", "t_year")
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |  make_timestamp(CAST(FLOOR(epoch(l_shipdate) / 600) AS BIGINT) * 600 * 1000000) AS t_10min,
        |  date_trunc('day', l_shipdate) AS t_day,
        |  date_trunc('month', l_shipdate) AS t_month,
        |  strftime(l_shipdate, '%Y-%m-%d %H:%M') AS t_strftime,
        |  date_trunc('year', l_shipdate) AS t_year
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- remaining string surface (§2.5) ----
    RowDef("str_predicates2", { (s, dir) =>
      val c = Table(t(s, dir, "customer"))
      val n = c("c_name")
      c.merge(
          "p_isdecimal" -> Col(n.str.isdecimal),
          "p_isnumeric" -> Col(n.str.isnumeric),
          "p_isspace" -> Col(Col.lit("   ").c).label("tmp"),
          "p_istitle" -> Col(n.str.istitle),
          "p_slicerep" -> Col(n.str.sliceReplace(0, 8, "CUST")))
        .transform("p_isspace" -> Col(new graft.api.StrOps(lit("   ")).isspace))
        .project("c_custkey", "p_isdecimal", "p_isnumeric", "p_isspace",
          "p_istitle", "p_slicerep")
        .sort(Seq("c_custkey")).df
    }, oracle =
      """SELECT c_custkey,
        |  regexp_matches(c_name, '^[0-9]+$') AS p_isdecimal,
        |  regexp_matches(c_name, '^[0-9]+$') AS p_isnumeric,
        |  regexp_matches('   ', '^\s+$') AS p_isspace,
        |  (regexp_matches(c_name, '[A-Za-z]') AND NOT regexp_matches(c_name, '(^|[^A-Za-z])[a-z]')
        |    AND NOT regexp_matches(c_name, '[A-Za-z][A-Z]')) AS p_istitle,
        |  SUBSTRING(c_name, 1, 0) || 'CUST' || SUBSTRING(c_name, 9) AS p_slicerep
        |FROM customer ORDER BY c_custkey""".stripMargin),
    RowDef("str_interp", { (s, dir) =>
      // Interp: string % args (arithmetic.py:223-235) → format_string
      val c = t(s, dir, "customer")
      c.select(col("c_custkey"),
          format_string("%s|%05d", col("c_mktsegment"), col("c_custkey")).as("s_interp"))
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, printf('%s|%05d', c_mktsegment, c_custkey) AS s_interp
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- remaining math surface (§2.4) ----
    RowDef("math_funcs2", { (s, dir) =>
      val li = Table(t(s, dir, "lineitem"))
      val q = col("l_quantity"); val d = col("l_discount")
      def r6(c: Column) = round(c, 6)
      li.merge(
          "m_acos" -> Col(r6(acos(d))),
          "m_acosh" -> Col(r6(acosh(q / 10 + 1))),
          "m_atan" -> Col(r6(atan(d))),
          "m_asinh" -> Col(r6(asinh(d))),
          "m_atanh" -> Col(r6(atanh(d))),
          "m_copysign" -> Col(new graft.api.MathOps(q - 25).copysign(d - 0.05)),
          "m_cosh" -> Col(r6(cosh(d))),
          "m_expm1" -> Col(r6(expm1(d))),
          "m_fmod" -> Col(new graft.api.MathOps(q).fmod(lit(7.3))),
          "m_isnan" -> Col(isnan(lit(Double.NaN))),
          "m_ldexp" -> Col(new graft.api.MathOps(d).ldexp(lit(3))),
          "m_notnull" -> Col(expr("nullif(l_returnflag,'N')").isNotNull),
          "m_radians" -> Col(r6(radians(q))),
          "m_sinh" -> Col(r6(sinh(d))),
          "m_tanh" -> Col(r6(tanh(d))),
          "m_truncate" -> Col(new graft.api.MathOps(q * 1.37).truncate(5.0)))
        .project(Seq("l_orderkey", "l_linenumber", "m_acos", "m_acosh",
          "m_asinh", "m_atan", "m_atanh", "m_copysign", "m_cosh", "m_expm1",
          "m_fmod", "m_isnan", "m_ldexp", "m_notnull", "m_radians", "m_sinh",
          "m_tanh", "m_truncate"): _*)
        .sort(Seq("l_orderkey", "l_linenumber")).df
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(ACOS(l_discount), 6) AS m_acos,
        |  ROUND(ATAN(l_discount), 6) AS m_atan,
        |  ROUND(LN(l_quantity / 10 + 1 + SQRT((l_quantity / 10 + 1) * (l_quantity / 10 + 1) - 1)), 6) AS m_acosh,
        |  ROUND(LN(l_discount + SQRT(l_discount * l_discount + 1)), 6) AS m_asinh,
        |  ROUND(0.5 * LN((1 + l_discount) / (1 - l_discount)), 6) AS m_atanh,
        |  CASE WHEN l_discount - 0.05 >= 0 OR isnan(l_discount - 0.05) THEN ABS(l_quantity - 25) ELSE -ABS(l_quantity - 25) END AS m_copysign,
        |  ROUND((EXP(l_discount) + EXP(-l_discount)) / 2, 6) AS m_cosh,
        |  ROUND(EXP(l_discount) - 1, 6) AS m_expm1,
        |  l_quantity % 7.3 AS m_fmod,
        |  isnan('NaN'::DOUBLE) AS m_isnan,
        |  l_discount * POW(2.0, 3) AS m_ldexp,
        |  NULLIF(l_returnflag, 'N') IS NOT NULL AS m_notnull,
        |  ROUND(RADIANS(l_quantity), 6) AS m_radians,
        |  ROUND((EXP(l_discount) - EXP(-l_discount)) / 2, 6) AS m_sinh,
        |  ROUND((EXP(l_discount) - EXP(-l_discount)) / (EXP(l_discount) + EXP(-l_discount)), 6) AS m_tanh,
        |  FLOOR(l_quantity * 1.37 / 5.0) * 5.0 AS m_truncate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- sub-second datetime + weekday name on events (§2.6) ----
    RowDef("dt_extract2", { (s, dir) =>
      val ev = Table(t(s, dir, "events"))
      val ts = ev("ts")
      ev.merge(
          "d_hour" -> Col(ts.dt.hour),
          "d_micro" -> Col(ts.dt.microsecond),
          "d_milli" -> Col(ts.dt.millisecond),
          "d_minute" -> Col(ts.dt.minute),
          "d_nano" -> Col(ts.dt.nanosecond),
          "d_second" -> Col(ts.dt.second),
          "d_strf" -> Col(ts.dt.strftime("%Y-%m-%d %H:%M:%S")),
          "d_timeus" -> Col(ts.dt.time),
          "d_wdname" -> Col(ts.dt.weekdayName))
        .project("event_id", "d_hour", "d_micro", "d_milli", "d_minute",
          "d_nano", "d_second", "d_strf", "d_timeus", "d_wdname")
        .sort(Seq("event_id")).df
    }, oracle =
      """SELECT event_id,
        |  CAST(EXTRACT(HOUR FROM ts) AS INT) AS d_hour,
        |  epoch_us(ts) % 1000000 AS d_micro,
        |  (epoch_us(ts) % 1000000) // 1000 AS d_milli,
        |  CAST(EXTRACT(MINUTE FROM ts) AS INT) AS d_minute,
        |  CAST(0 AS BIGINT) AS d_nano,
        |  CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS DOUBLE) AS d_second,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS d_strf,
        |  epoch_us(ts) % 86400000000 AS d_timeus,
        |  strftime(ts, '%A') AS d_wdname
        |FROM events ORDER BY event_id""".stripMargin),
    RowDef("dt_timedelta", { (s, dir) =>
      // timestamp Sub → .td accessor namespace (datetime.py:369-383)
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val td = Col(new graft.api.DtOps(col("l_shipdate")).sub(col("o_orderdate")))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          td.c.as("td_us"),
          td.td.days.as("td_days"),
          td.td.seconds.as("td_seconds"),
          td.td.totalSeconds.as("td_total_seconds"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """WITH j AS (SELECT l_orderkey, l_linenumber,
        |    epoch_us(l_shipdate) - epoch_us(o_orderdate) AS td_us
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |d AS (SELECT *, CAST(FLOOR(CAST(td_us AS DOUBLE) / 86400000000.0) AS BIGINT) AS td_days FROM j)
        |SELECT l_orderkey, l_linenumber, td_us, td_days,
        |  CAST(FLOOR(CAST(td_us - td_days * 86400000000 AS DOUBLE) / 1000000.0) AS BIGINT) AS td_seconds,
        |  CAST(td_us AS DOUBLE) / 1000000.0 AS td_total_seconds
        |FROM d ORDER BY l_orderkey, l_linenumber""".stripMargin),
    RowDef("dt_roundfreq", { (s, dir) =>
      val ev = Table(t(s, dir, "events"))
      val ts = ev("ts")
      ev.merge(
          "t_ceil" -> Col(ts.dt.ceilFreq(3600)),
          "t_floor" -> Col(ts.dt.floorFreq(3600)),
          "t_round" -> Col(ts.dt.roundFreq(3600)),
          "t_utcfrom" -> Col(new graft.api.DtOps(unix_timestamp(ts.c)).utcFromTimestamp))
        .project("event_id", "t_ceil", "t_floor", "t_round", "t_utcfrom")
        .sort(Seq("event_id")).df
    }, oracle =
      """SELECT event_id,
        |  make_timestamp(CAST(CEIL(FLOOR(epoch(ts)) / 3600.0) AS BIGINT) * 3600 * 1000000) AS t_ceil,
        |  make_timestamp(CAST(FLOOR(FLOOR(epoch(ts)) / 3600.0) AS BIGINT) * 3600 * 1000000) AS t_floor,
        |  make_timestamp(CAST(FLOOR((FLOOR(epoch(ts)) + 1800.0) / 3600.0) AS BIGINT) * 3600 * 1000000) AS t_round,
        |  make_timestamp(CAST(FLOOR(epoch(ts)) AS BIGINT) * 1000000) AS t_utcfrom
        |FROM events ORDER BY event_id""".stripMargin),
    RowDef("arr_hof", { (s, dir) =>
      // higher-order array functions over the embedding column, each
      // mirrored by a DuckDB list_* lambda: filter-count, sequential
      // left-fold L1 norm (same fold order -> bit-exact doubles),
      // element-wise zip_with self-sum max
      t(s, dir, "embeddings").select(col("vec_id"),
          size(filter(col("embedding"), x => x > 0f)).cast(LongType).as("n_pos"),
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + abs(x.cast(DoubleType))).as("l1"),
          array_max(zip_with(col("embedding"), reverse(col("embedding")),
            (a, b) => a.cast(DoubleType) + b.cast(DoubleType))).as("max_symsum"))
        .orderBy("vec_id")
    }, oracle =
      """SELECT vec_id,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(embedding, x -> CAST(x AS DOUBLE))),
        |    (acc, x) -> acc + abs(x)) AS l1,
        |  list_max(list_transform(range(1, len(embedding) + 1),
        |    i -> CAST(embedding[i] AS DOUBLE) + CAST(embedding[len(embedding) - i + 1] AS DOUBLE))) AS max_symsum
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // ---- native kernels exposed as SQL functions (GraftExtensions) ----
    RowDef("sql_kernels", { (s, dir) =>
      Tables.registerAll(s, dir)
      GraftFunctions.register(s)
      s.sql(
        """SELECT doc_id, simhash_signature(text) AS simhash,
          |  size(shingles(text, 3)) AS n_shingles,
          |  normalized_md5(text) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin)
    }, oracle =
      s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS ts FROM documents),
         |h AS (SELECT doc_id, text, ts, list_transform(list_distinct(ts), tk -> ${sqlHash("tk")}) AS hs FROM t)
         |SELECT doc_id, $simhashTerms AS simhash,
         |  CAST(len(${sqlShingles(3)}) AS INT) AS n_shingles,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |FROM h ORDER BY doc_id""".stripMargin),
    RowDef("sql_curation", { (s, dir) =>
      // curation functions from plain spark.sql (registered compositions)
      Tables.registerAll(s, dir)
      GraftFunctions.register(s)
      s.sql(
        """SELECT doc_id,
          |  scrub_pii(text || ' reach me: a.b@c.io / 555-123-4567') AS scrubbed,
          |  hash_bucket(doc_id, 100) AS bucket,
          |  token_count(text) AS n_tokens
          |FROM documents ORDER BY doc_id""".stripMargin)
    }, oracle = {
      val scrubbed = TextFunctions.PiiPatterns.foldLeft(
        "(text || ' reach me: a.b@c.io / 555-123-4567')") {
        case (c, (re, repl)) => s"regexp_replace($c, '$re', '$repl', 'g')"
      }
      s"""SELECT doc_id, $scrubbed AS scrubbed,
         |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 100 AS bucket,
         |  CAST(len($sqlTokens) AS BIGINT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // ---- N-D arrays over coordinate representation (§2.12) ----
    RowDef("arr_transpose", { (s, dir) =>
      // embeddings as a (vec × dim) matrix in coordinate form, then the
      // numpy-default all-axes-reversed transpose — a pure projection,
      // no shuffle (the plan is Scan→Generate→Project, codegen'd)
      val coo = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast(LongType).as("pos"), col("col").as("v"))
      Tensor.transpose(coo, Seq("vec_id", "pos"), "v")
        .orderBy("d0", "d1")
    }, oracle =
      """SELECT generate_subscripts(embedding, 1) - 1 AS d0, vec_id AS d1,
        |  unnest(embedding) AS v
        |FROM embeddings ORDER BY d0, d1""".stripMargin),
    RowDef("arr_axis_sum", { (s, dir) =>
      // axis-0 reduction over the COO matrix (column sums): quantized
      // ints so the partial/final sum is exact in any order/engine —
      // one partial-agg shuffle of ≤ dim rows per map partition
      val coo = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("pos").cast(LongType).as("pos"),
          floor(col("col").cast(DoubleType) * 1000).cast(LongType).as("q"))
      coo.groupBy("pos").agg(sum(col("q")).as("v")).orderBy("pos")
    }, oracle =
      """WITH c0 AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
        |    unnest(embedding) AS ev FROM embeddings)
        |SELECT pos, CAST(SUM(CAST(floor(CAST(ev AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS v
        |FROM c0 GROUP BY pos ORDER BY pos""".stripMargin),
    RowDef("arr_normalize", { (s, dir) =>
      // unit-normalize each vector: norm via the exact left-fold dot
      // kernel, then one IEEE division per element (both correctly
      // rounded → bit-identical cross-engine); zero vectors → NULLs
      val emb = t(s, dir, "embeddings")
      emb.select(col("vec_id"),
          Similarity.norm2(col("embedding")).as("norm"),
          posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
          (col("col").cast(DoubleType) /
            when(col("norm") =!= 0.0, col("norm"))).as("u"))
        .filter(col("pos") < 3) // 3 dims keep the compare table small
        .orderBy("vec_id", "pos")
    }, oracle =
      s"""WITH n AS (SELECT vec_id, ${sqlNorm("embedding")} AS norm FROM embeddings),
         |e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         |    unnest(embedding) AS ev FROM embeddings)
         |SELECT e.vec_id, CAST(e.pos AS BIGINT) AS pos,
         |  CAST(e.ev AS DOUBLE) / NULLIF(n.norm, 0.0) AS u
         |FROM e JOIN n ON n.vec_id = e.vec_id WHERE e.pos < 3
         |ORDER BY e.vec_id, pos""".stripMargin),
    RowDef("arr_matmul", { (s, dir) =>
      // Gram matrix Eᵀ·E over QUANTIZED embeddings (floor(v·1000) —
      // integer products sum exactly in any order, so the cross-engine
      // check is bit-exact; float Gram would depend on reduction order).
      // tensordot contracts the vec axis: shuffle join on vec_id,
      // partial-aggregated sum over the (dim × dim) free axes.
      val coo = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
          floor(col("col").cast(DoubleType) * 1000).cast(LongType).as("q"))
      Tensor.tensordot(coo, coo, Seq("vec_id", "pos"), Seq("vec_id", "pos"),
          contract = Seq("vec_id" -> "vec_id"), "q", "q")
        .orderBy("d0", "d1")
    }, oracle =
      """WITH c0 AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
        |    unnest(embedding) AS ev FROM embeddings),
        |coo AS (SELECT vec_id, pos,
        |    CAST(floor(CAST(ev AS DOUBLE) * 1000) AS BIGINT) AS q FROM c0)
        |SELECT a.pos AS d0, b.pos AS d1, CAST(SUM(a.q * b.q) AS BIGINT) AS v
        |FROM coo a JOIN coo b USING (vec_id)
        |GROUP BY 1, 2 ORDER BY d0, d1""".stripMargin),
    RowDef("arr_pca", { (s, dir) =>
      // leading principal axis of the embedding corpus: exact-integer
      // scatter matrix + 8 quantized power-iteration rounds (the
      // stationary-dist determinism recipe on eigenvectors); oracle
      // unrolls the identical arithmetic in SQL. The d×d driver loop
      // is dimension-bounded (the broadcast-centroids pattern), all
      // data-proportional work stays in the exploded self-join
      Pca.topComponent(t(s, dir, "embeddings"), "embedding", "vec_id",
          iters = 8)
        .orderBy("d")
    }, oracle =
      s"""WITH $sqlPcaChain
         |SELECT CAST(i AS BIGINT) AS d, CAST(sg * v AS DOUBLE) / 1048576.0 AS loading
         |FROM vf CROSS JOIN sgn ORDER BY d""".stripMargin),
    RowDef("arr_pca_witness", { (s, dir) =>
      // NON-REPLAY witness for arr_pca (VERDICT r15 #7, the
      // ev_holt_ramp planted-geometry pattern): every vector is
      // planted on ONE exact integer direction u = (3, 4) —
      // v_i = t_i·(3/1024, 4/1024), t_i = vec_id%7+1, all dyadic so
      // quantization is exact — making the scatter matrix EXACTLY
      // rank-1 (c·uuᵀ, c > 0 since t varies). The quantized power
      // iteration is then stationary from round 1 at the closed-form
      // axis ⌊u·2²⁰/max(u)⌋ = (786432, 1048576): loadings 0.75 and
      // 1.0 EXACTLY, for ANY iteration count, corpus size, or t
      // distribution. Exactness of every IEEE step holds because the
      // renorm's BigInt→double conversions carry ≤53 significant bits
      // (odd part ≤ 21·(nΣt²−(Σt)²) ≤ 21·49n², safe to n ≈ 2.4M; the
      // 1-in-16 vec_id sample keeps n far below that at any sf and the
      // double execution cheap) and the final quotient 0.75·2²⁰ is
      // representable. The oracle states the two literals plus an
      // independent sample count — no scatter matrix, no power rounds,
      // no quantization anywhere — so a mean-centering, sign-fix, or
      // renorm bug fails here while arr_pca's replaying oracle would
      // follow it.
      val smp = t(s, dir, "embeddings").filter(col("vec_id") % 16 === 0)
      val tt = (col("vec_id") % 7 + 1).cast(DoubleType)
      val planted = smp.select(col("vec_id"),
        array(tt * lit(3.0 / 1024), tt * lit(4.0 / 1024)).as("embedding"))
      Pca.topComponent(planted, "embedding", "vec_id", iters = 8)
        .crossJoin(broadcast(planted.agg(count(lit(1)).as("n_vecs"))))
        .orderBy("d")
    }, oracle =
      // planted-geometry witness: rank-1 scatter along u = (3,4) makes
      // the axis the LITERALS (0.75, 1.0) — no scatter matrix, no
      // power rounds, no quantization; the only data work is counting
      // the 1-in-16 sample
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs
        |  FROM embeddings WHERE vec_id % 16 = 0)
        |SELECT v.d, v.loading, n.n_vecs
        |FROM (VALUES (CAST(0 AS BIGINT), CAST(0.75 AS DOUBLE)),
        |             (CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE))) AS v(d, loading)
        |CROSS JOIN n ORDER BY v.d""".stripMargin),
    RowDef("arr_pca_project", { (s, dir) =>
      // the usable face of arr_pca: every embedding's coordinate along
      // the leading axis (the 1-D ordering a curriculum sampler or
      // coarse index sorts by) — per-row zip_with fold against the
      // literal axis, integer until the final exact power-of-two
      // division, scan speed
      Pca.projectTop(t(s, dir, "embeddings"), "embedding", "vec_id",
          iters = 8)
        .orderBy("vec_id")
    }, oracle =
      s"""WITH $sqlPcaChain,
         |pr AS (SELECT vec_id, SUM(CAST(x.q AS HUGEINT) * vf.v) AS sq
         |  FROM x JOIN vf ON vf.i = x.i GROUP BY vec_id)
         |SELECT vec_id, CAST(sgn.sg * pr.sq AS DOUBLE) / 1099511627776.0 AS score
         |FROM pr CROSS JOIN sgn ORDER BY vec_id""".stripMargin),
    RowDef("arr_pca2", { (s, dir) =>
      // top-2 axes (the 2-D corpus-map coordinates): second axis by
      // deflation — exact integer orthogonalization against the first
      // between quantized power rounds (sign-invariant in v1, bounded
      // ~2^66 so the oracle's HUGEINT replay never wraps)
      Pca.topComponents2(t(s, dir, "embeddings"), "embedding", "vec_id",
          iters = 8)
        .orderBy("d")
    }, oracle =
      s"""WITH $sqlPcaChain,
         |$sqlPca2Chain
         |SELECT CAST(vf.i AS BIGINT) AS d,
         |  CAST(sgn.sg * vf.v AS DOUBLE) / 1048576.0 AS loading1,
         |  CAST(sgnu.sg * uf.v AS DOUBLE) / 1048576.0 AS loading2
         |FROM vf JOIN uf ON uf.i = vf.i CROSS JOIN sgn CROSS JOIN sgnu
         |ORDER BY d""".stripMargin),
  )
}
