package graft
package suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.Table
import graft.functions.TextFunctions
import graft.operators.{Features, Quantile}
import Shared._

/** The reduction rows: moments, sketches, quantiles and the other
  * whole-table and grouped aggregates. */
object RedRows {
  val rows: Seq[RowDef] = Seq(

    // ---- reductions (§2.7) ----
    RowDef("red_summary", { (s, dir) =>
      val li = t(s, dir, "lineitem")
      // Blaze summary(): one row, field names alphabetical (reductions.py:277-279)
      li.agg(
        davg(col("l_quantity")).as("r_mean"),
        count(col("l_quantity")).as("r_count"),
        max(col("l_quantity")).as("r_max"),
        min(col("l_quantity")).as("r_min"),
        countDistinct(col("l_returnflag")).as("r_nunique"),
        dsum(col("l_quantity")).as("r_sum"),
        count(lit(1)).as("r_nrows"))
        .select(col("r_count"), col("r_max"), col("r_mean"), col("r_min"),
          col("r_nrows"), col("r_nunique"), col("r_sum"))
    }, oracle =
      """SELECT COUNT(l_quantity) AS r_count, MAX(l_quantity) AS r_max,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS r_mean,
        |  MIN(l_quantity) AS r_min, COUNT(*) AS r_nrows,
        |  COUNT(DISTINCT l_returnflag) AS r_nunique,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS r_sum
        |FROM lineitem""".stripMargin),
    RowDef("red_var_std", { (s, dir) =>
      val li = t(s, dir, "lineitem")
      // exact moments in decimal, final formula in double — identical in DuckDB
      val agg = li.agg(
        sum(col("l_quantity").cast(D)).cast(DoubleType).as("sx"),
        sum(col("l_quantity").cast(D) * col("l_quantity").cast(D)).cast(DoubleType).as("sx2"),
        count(col("l_quantity")).cast(DoubleType).as("n"))
      agg.select(
        ((col("sx2") - col("sx") * col("sx") / col("n")) / col("n")).as("var_pop"),
        ((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("var_samp"),
        sqrt((col("sx2") - col("sx") * col("sx") / col("n")) / col("n")).as("std_pop"),
        sqrt((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("std_samp"))
    }, oracle =
      """WITH m AS (SELECT
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
        |  CAST(COUNT(l_quantity) AS DOUBLE) AS n FROM lineitem)
        |SELECT (sx2 - sx * sx / n) / n AS var_pop,
        |  (sx2 - sx * sx / n) / (n - 1) AS var_samp,
        |  SQRT((sx2 - sx * sx / n) / n) AS std_pop,
        |  SQRT((sx2 - sx * sx / n) / (n - 1)) AS std_samp
        |FROM m""".stripMargin),
    RowDef("red_any_all", { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.agg(
        max(col("l_quantity") > 49).as("r_any_gt49"),
        min(col("l_quantity") > 0).as("r_all_gt0"),
        max(col("l_quantity") > 100).as("r_any_gt100"))
        .select(col("r_all_gt0"), col("r_any_gt100"), col("r_any_gt49"))
    }, oracle =
      """SELECT bool_and(l_quantity > 0) AS r_all_gt0,
        |  bool_or(l_quantity > 100) AS r_any_gt100,
        |  bool_or(l_quantity > 49) AS r_any_gt49
        |FROM lineitem""".stripMargin),
    RowDef("red_vnorm", { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.agg(sum(col("l_quantity").cast(D) * col("l_quantity").cast(D))
          .cast(DoubleType).as("ss"))
        .select(sqrt(col("ss")).as("vnorm2"))
    }, oracle =
      """SELECT SQRT(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)) AS vnorm2
        |FROM lineitem""".stripMargin),
    RowDef("red_count_values", { (s, dir) =>
      Table(t(s, dir, "lineitem")).countValues("l_returnflag").df
    }, oracle =
      """SELECT l_returnflag, COUNT(*) AS count FROM lineitem
        |GROUP BY l_returnflag ORDER BY count DESC, l_returnflag""".stripMargin),
    RowDef("red_mode", { (s, dir) =>
      // exact mode with pinned tiebreak (count desc, value asc) — SQL
      // mode() leaves ties engine-defined, so both sides spell it out
      Table(t(s, dir, "lineitem")
          .select(col("l_quantity").cast(LongType).as("l_quantity")))
        .modeOf("l_quantity").df
    }, oracle =
      """SELECT CAST(l_quantity AS BIGINT) AS mode_val, COUNT(*) AS n FROM lineitem
        |GROUP BY 1 ORDER BY n DESC, mode_val LIMIT 1""".stripMargin),

    // ---- correlation/covariance via exact decimal moments (extension;
    // Spark's corr() sums doubles, whose cross-partition order is
    // nondeterministic — composing from DECIMAL-exact Σx,Σy,Σxy,Σx²,Σy²
    // gives bit-stable results AND oracle comparability) ----
    RowDef("red_corr_matrix", { (s, dir) =>
      // the k-column generalization (operators.Features): all pairwise
      // correlations from ONE decimal-exact moment aggregate
      graft.operators.Features.correlationMatrix(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")
    }, oracle = {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def d(c: String) = s"CAST($c AS DECIMAL(28,4))"
      val moments = (cols.indices.map(i => s"CAST(SUM(${d(cols(i))}) AS DOUBLE) AS s$i") ++
        (for { i <- cols.indices; j <- i until cols.size } yield
          s"CAST(SUM(${d(cols(i))} * ${d(cols(j))}) AS DOUBLE) AS p${i}_$j"))
        .mkString(",\n  ")
      val rows = (for { i <- cols.indices; j <- (i + 1) until cols.size } yield
        s"SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b, " +
          s"((p${i}_$j - s$i * s$j / n) / (SQRT(p${i}_$i - s$i * s$i / n) * SQRT(p${j}_$j - s$j * s$j / n))) AS corr FROM m")
        .mkString("\nUNION ALL ")
      s"""WITH m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  $moments
         |FROM lineitem)
         |$rows
         |ORDER BY col_a, col_b""".stripMargin
    }),
    RowDef("red_moments", { (s, dir) =>
      // skewness / excess kurtosis from EXACT integer moment sums:
      // l_quantity is integral (1..50), so sum(x^k) for k=1..4 stays
      // int64-exact at any corpus size (50^4 * 10^10 rows < 2^63 /
      // headroom documented) — only the final standardized ratios are
      // IEEE, in a fixed formula both engines evaluate identically
      val x = col("l_quantity").cast(LongType)
      val m = t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
      // the SUMS are exact int64; the standardized ratios are computed
      // in double with a FIXED expression tree (mirrored token-for-token
      // in the oracle), so the doubles hash-match:
      //   mean = s1/n, var = s2/n − mean², m3 = s3/n − 3·mean·(s2/n) +
      //   2·mean³, skew = m3/var^1.5 (int64 cross-multiplied forms like
      //   n²·s3 would overflow at corpus scale — deliberately avoided)
      val nD = col("n").cast(DoubleType)
      val mean = col("s1").cast(DoubleType) / nD
      val varP = col("s2").cast(DoubleType) / nD - mean * mean
      val m3 = col("s3").cast(DoubleType) / nD -
        lit(3.0) * mean * (col("s2").cast(DoubleType) / nD) +
        lit(2.0) * mean * mean * mean
      m.select(col("n"), mean.as("mean"), varP.as("var_pop"),
        (m3 / (varP * sqrt(varP))).as("skewness"))
    }, oracle =
      """WITH m AS (SELECT count(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
        |  FROM lineitem)
        |SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
        |  CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS var_pop,
        |  (CAST(s3 AS DOUBLE) / n - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
        |    + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |  / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |     * SQRT(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) AS skewness
        |FROM m""".stripMargin),
    RowDef("red_corr", { (s, dir) =>
      val D4 = DecimalType(28, 4)
      val x = col("l_quantity").cast(D4)
      val y = col("l_extendedprice").cast(D4)
      val m = t(s, dir, "lineitem").agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(x).cast(DoubleType).as("sx"), sum(y).cast(DoubleType).as("sy"),
        sum(x * y).cast(DoubleType).as("sxy"),
        sum(x * x).cast(DoubleType).as("sxx"), sum(y * y).cast(DoubleType).as("syy"))
      m.select(
        m("n").cast(LongType).as("n"),
        ((m("sxy") - m("sx") * m("sy") / m("n")) / m("n")).as("covar_pop"),
        ((m("sxy") - m("sx") * m("sy") / m("n")) / (m("n") - 1)).as("covar_samp"),
        ((m("sxy") - m("sx") * m("sy") / m("n")) /
          (sqrt(m("sxx") - m("sx") * m("sx") / m("n")) *
            sqrt(m("syy") - m("sy") * m("sy") / m("n")))).as("corr"))
    }, oracle =
      """WITH m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4)) * CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4)) * CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4)) * CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy
        |FROM lineitem)
        |SELECT CAST(n AS BIGINT) AS n,
        |  ((sxy - sx * sy / n) / n) AS covar_pop,
        |  ((sxy - sx * sy / n) / (n - 1)) AS covar_samp,
        |  ((sxy - sx * sy / n) / (SQRT(sxx - sx * sx / n) * SQRT(syy - sy * sy / n))) AS corr
        |FROM m""".stripMargin),
    RowDef("red_kmv_merged", { (s, dir) =>
      // KMV mergeability on real data: whole-corpus distinct estimate
      // from per-source SKETCH STATES ONLY vs the direct estimate —
      // exactly equal by the k-smallest-of-union law; the oracle
      // computes only the direct path, so the hash match proves it
      graft.operators.Sketch.kmvMergeEstimate(t(s, dir, "documents"),
        col("text"), Seq("source"), k = 64)
    }, oracle =
      """WITH h AS (SELECT DISTINCT
        |    CAST(concat('0x', substr(md5(text),1,12)) AS BIGINT) AS h FROM documents),
        |r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS n FROM h),
        |e AS (SELECT CAST(CASE WHEN n < 64 THEN n
        |    ELSE (63 * 281474976710656) // h END AS BIGINT) AS est
        |  FROM r WHERE rn = LEAST(64, n))
        |SELECT est AS n_est_merged, est AS n_est_direct FROM e""".stripMargin),
    RowDef("red_histogram", { (s, dir) =>
      Features.histogram(t(s, dir, "lineitem"), "l_extendedprice", 20).orderBy("bin")
    }, oracle =
      """WITH mm AS (SELECT min(l_extendedprice) AS h_min, max(l_extendedprice) AS h_max FROM lineitem),
        |b AS (SELECT CASE WHEN h_max = h_min THEN 0
        |    ELSE CAST(least(floor((l_extendedprice - h_min) / ((h_max - h_min) / 20.0)), 19) AS BIGINT) END AS bin,
        |  h_min, h_max FROM lineitem, mm)
        |SELECT bin,
        |  h_min + CAST(bin AS DOUBLE) * (h_max - h_min) / 20.0 AS lo,
        |  h_min + CAST(bin + 1 AS DOUBLE) * (h_max - h_min) / 20.0 AS hi,
        |  count(*) AS n
        |FROM b GROUP BY bin, h_min, h_max ORDER BY bin""".stripMargin),
    RowDef("red_weighted_quantile", { (s, dir) =>
      // revenue-weighted median and p90 QUANTITY per return flag ("the
      // order size below which half the revenue sits") — type-1 (lower)
      // quantile, rational-q integer threshold, decimal-exact cumulative
      // weights (no IEEE sum ordering). The VALUE column is the bounded
      // one (l_quantity, ~50 distinct) per the value-counting contract —
      // the distinct-value window must walk a domain, not the corpus.
      val li = t(s, dir, "lineitem")
      Quantile.weightedQuantile(li, "l_returnflag", "l_quantity",
          "l_extendedprice", 1, 2, outCol = "w_median")
        .join(Quantile.weightedQuantile(li, "l_returnflag", "l_quantity",
          "l_extendedprice", 9, 10, outCol = "w_p90"), "l_returnflag")
        .orderBy("l_returnflag")
    }, oracle =
      // type-1 weighted quantile: rational-q integer threshold over
      // decimal-exact cumulative weights (mirrors Quantile.weightedQuantile)
      """WITH c AS (SELECT l_returnflag AS g, l_quantity AS v,
        |    SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS w
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT g, v,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY g) AS tot FROM c),
        |med AS (SELECT g, MIN(v) AS w_median FROM r WHERE tot > 0 AND cum * 2 >= tot GROUP BY g),
        |p90 AS (SELECT g, MIN(v) AS w_p90 FROM r WHERE tot > 0 AND cum * 10 >= tot * 9 GROUP BY g)
        |SELECT med.g AS l_returnflag, w_median, w_p90
        |FROM med JOIN p90 ON med.g = p90.g ORDER BY 1""".stripMargin),
    RowDef("red_gini", { (s, dir) =>
      // spend-concentration audit: exact Gini of event value per type
      // — rank-weighted sums from the value-counting frame (centi
      // domain bounded), one division per group
      Quantile.giniCoefficient(t(s, dir, "events"), "event_type", "value")
        .orderBy("event_type")
    }, oracle =
      // Gini replay: same centi grid, rank-weighted HUGEINT sums over
      // the per-group distinct-value walk, one division
      """WITH c AS (SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    COUNT(*) AS c FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT event_type, v, c,
        |    COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM c),
        |a AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |    SUM(CAST(v AS HUGEINT) * (2 * CAST(c AS HUGEINT) * s + CAST(c AS HUGEINT) * c + c)) AS s2,
        |    SUM(CAST(v AS HUGEINT) * c) AS t FROM w GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN t > 0 THEN CAST(s2 - (CAST(n AS HUGEINT) + 1) * t AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * t AS DOUBLE) END AS gini
        |FROM a ORDER BY event_type""".stripMargin),
    RowDef("red_trimmed_mean", { (s, dir) =>
      // 10%-trimmed mean QUANTITY per return flag — the robust location
      // between mean and median; rank-window kept-mass per distinct
      // value, pure integer clamps, one division per group. The value
      // column is the bounded one (l_quantity, ~50 distinct) per the
      // value-counting contract, as red_weighted_quantile
      Quantile.trimmedMean(t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", trimNum = 1L, trimDen = 10L)
        .orderBy("l_returnflag")
    }, oracle =
      // trimmed-mean replay: same centi grid, same integer rank clamps
      // per distinct value, one division per group
      """WITH c AS (SELECT l_returnflag, CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    COUNT(*) AS c FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT l_returnflag, v, c,
        |    COALESCE(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s,
        |    SUM(c) OVER (PARTITION BY l_returnflag) AS n FROM c),
        |k AS (SELECT l_returnflag, v, n,
        |    GREATEST(LEAST(s + c, n - (n * 1 // 10)) - GREATEST(s, n * 1 // 10), 0) AS kept FROM w)
        |SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n, CAST(SUM(kept) AS BIGINT) AS kept,
        |  CAST(SUM(CAST(v AS HUGEINT) * kept) AS DOUBLE) / (CAST(SUM(kept) AS DOUBLE) * 100.0) AS trimmed_mean
        |FROM k GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- deterministic sketches (§2.7 approx-reduction extensions) ----
    RowDef("red_nunique_kmv", { (s, dir) =>
      // engine-portable approx distinct count: KMV over a 48-bit md5
      // space, k=64 smallest via the bounded TopKByScore aggregate,
      // (k-1)*space div h_k in exact int64 — the oracle replays the
      // estimator verbatim (vs approx_count_distinct, whose HLL++
      // register layout no other engine can reproduce)
      graft.operators.Sketch.kmvDistinct(
        t(s, dir, "orders").select(
          year(col("o_orderdate")).cast(LongType).as("oyear"), col("o_custkey")),
        col("o_custkey"), Seq("oyear"), k = 64)
        .orderBy("oyear")
    }, oracle =
      // KMV replay: same 48-bit md5 space, same k, same exact-int64
      // estimator; row LEAST(64, n) is h_k when n >= k and the largest
      // (hence count-revealing) hash otherwise
      """WITH h AS (SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS oyear,
        |  CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)),1,12)) AS BIGINT) AS h FROM orders),
        |r AS (SELECT oyear, h, row_number() OVER (PARTITION BY oyear ORDER BY h) AS rn,
        |  count(*) OVER (PARTITION BY oyear) AS n FROM h)
        |SELECT oyear, CAST(CASE WHEN n < 64 THEN n ELSE (63 * 281474976710656) // h END AS BIGINT) AS n_est
        |FROM r WHERE rn = LEAST(64, n) ORDER BY oyear""".stripMargin),
    RowDef("red_kmv_overlap", { (s, dir) =>
      // corpus-overlap estimate between two source halves from two
      // k-integer KMV states (theta-sketch set op over 3-token
      // shingles): shared-content estimate WITHOUT joining the corpora
      // — the sketch face of decontam_ngram; oracle replays the
      // estimator verbatim
      val docs = t(s, dir, "documents")
        .withColumn("_sn", expr("CAST(SUBSTR(source, 4) AS INT)"))
      def side(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        docs.filter(p(col("_sn")))
        .select(explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("sh"))
      graft.operators.Sketch.kmvOverlap(
        side(_ < 10), side(_ >= 10), col("sh"), k = 64)
    }, oracle =
      // theta-sketch overlap replay: same md5-48 hashes, k smallest of
      // the sketch union, same integer estimator
      s"""WITH t AS (SELECT CAST(SUBSTR(source, 4) AS INT) AS sn,
         |    $sqlTokens AS ts FROM documents),
         |sh AS (SELECT sn, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
         |  FROM (SELECT sn, ts, unnest(range(1, greatest(len(ts) - 2, 0) + 1)) AS i FROM t)),
         |ta AS (SELECT h FROM (SELECT DISTINCT CAST(concat('0x', substr(md5(sh),1,12)) AS BIGINT) AS h
         |  FROM sh WHERE sn < 10) ORDER BY h LIMIT 64),
         |tb AS (SELECT h FROM (SELECT DISTINCT CAST(concat('0x', substr(md5(sh),1,12)) AS BIGINT) AS h
         |  FROM sh WHERE sn >= 10) ORDER BY h LIMIT 64),
         |u AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
         |  count(*) OVER () AS ntot FROM (SELECT h FROM ta UNION SELECT h FROM tb)),
         |m AS (SELECT LEAST(64, ntot) AS m, ntot FROM u LIMIT 1),
         |th AS (SELECT u.h AS theta FROM u, m WHERE u.rn = m.m),
         |c AS (SELECT COUNT(*) AS c FROM u, m WHERE u.rn <= m.m
         |  AND u.h IN (SELECT h FROM ta) AND u.h IN (SELECT h FROM tb)),
         |nu AS (SELECT CAST(CASE WHEN m.ntot < 64 THEN m.ntot
         |  ELSE (63 * 281474976710656) // th.theta END AS BIGINT) AS n_union_est
         |  FROM m, th)
         |SELECT n_union_est,
         |  CAST((c.c * n_union_est) // m.m AS BIGINT) AS n_inter_est,
         |  CAST(c.c AS DOUBLE) / m.m AS jaccard_est
         |FROM nu, c, m""".stripMargin),
    RowDef("red_quantile_sampled", { (s, dir) =>
      // per-language median token count from a 25% deterministic hash
      // sample: the sampled sibling of text_quantiles — the window sort
      // runs over the sample only, never the full corpus
      graft.operators.Sketch.quantileSampled(
        t(s, dir, "documents"),
        value = size(TextFunctions.tokens(col("text"))).cast(LongType),
        key = col("doc_id"), groupCols = Seq("lang"), qNum = 1, qDen = 2,
        frac = 0.25, seed = 7)
        .orderBy("lang")
    }, oracle =
      // sampled-quantile replay: same md5 sample bucket (seed 7, 25%),
      // same lower discrete quantile at 0-based position (n-1)//2
      s"""WITH s AS (SELECT lang, CAST(len($sqlTokens) AS BIGINT) AS v FROM documents
         |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':7'),1,7)) AS BIGINT) % 1000000 < 250000),
         |r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n FROM s)
         |SELECT lang, n AS n_sample, v AS quantile FROM r
         |WHERE rn - 1 = (1 * (n - 1)) // 2 ORDER BY lang""".stripMargin),
  )
}
