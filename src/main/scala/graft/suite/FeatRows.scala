package graft
package suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.operators.{Features, Quantile}
import Shared._

/** The feature-engineering rows: encodings, hashing, scaling,
  * histograms and the logistic-regression trainer. */
object FeatRows {
  val rows: Seq[RowDef] = Seq(
    // ---- feature engineering (one-hot / hashing trick / z-score / histogram) ----
    RowDef("feat_onehot", { (s, dir) =>
      val oh = Features.oneHot(t(s, dir, "customer"), "c_mktsegment")
      val hot = oh.columns.filter(_.startsWith("is_")).sorted
      oh.select("c_custkey", hot: _*).orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS is_automobile,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_building,
        |  CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS is_furniture,
        |  CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS is_household,
        |  CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS is_machinery
        |FROM customer ORDER BY c_custkey""".stripMargin),
    RowDef("feat_hashing", { (s, dir) =>
      Features.hashingTrick(t(s, dir, "documents"), 64).orderBy("doc_id", "dim")
    }, oracle =
      // hashing trick: same 28-bit md5-prefix hash family as the bloom probes
      s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
         |h AS (SELECT doc_id, ${sqlHash("token")} % 64 AS dim FROM tok WHERE token <> '')
         |SELECT doc_id, dim, count(*) AS weight FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    RowDef("feat_scale", { (s, dir) =>
      Features.standardize(t(s, dir, "customer"), "c_acctbal", Seq("c_mktsegment"))
        .select("c_custkey", "c_mktsegment", "zscore").orderBy("c_custkey")
    }, oracle =
      """WITH m AS (SELECT c_mktsegment,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
        |  CAST(COUNT(c_acctbal) AS DOUBLE) AS n
        |FROM customer GROUP BY 1)
        |SELECT c_custkey, c.c_mktsegment,
        |  CASE WHEN (sx2 - sx * sx / n) / n > 0
        |    THEN (c_acctbal - sx / n) / SQRT((sx2 - sx * sx / n) / n) END AS zscore
        |FROM customer c JOIN m ON c.c_mktsegment = m.c_mktsegment
        |ORDER BY c_custkey""".stripMargin),
    RowDef("feat_mutual_info", { (s, dir) =>
      // feature-selection MI between language and source in the same
      // floor-log2 quantization as the entropy/PMI family — one scan
      // to the contingency table, marginals re-aggregate that frame
      Features.mutualInfo(t(s, dir, "documents"), "lang", "source")
    }, oracle =
      """WITH cxy AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
        |hx AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(c) * (length(bin(SUM(c))) - 1)
        |      - SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS h
        |  FROM (SELECT lang, CAST(SUM(c) AS BIGINT) AS c FROM cxy GROUP BY lang)),
        |hy AS (SELECT CAST(SUM(c) * (length(bin(SUM(c))) - 1)
        |      - SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS h
        |  FROM (SELECT source, CAST(SUM(c) AS BIGINT) AS c FROM cxy GROUP BY source)),
        |hxy AS (SELECT CAST(SUM(c) * (length(bin(SUM(c))) - 1)
        |      - SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS h FROM cxy)
        |SELECT hx.n, hx.h AS hx_qbits, hy.h AS hy_qbits, hxy.h AS hxy_qbits,
        |  hx.h + hy.h - hxy.h AS mi_qbits
        |FROM hx, hy, hxy""".stripMargin),
    RowDef("feat_cramers_v", { (s, dir) =>
      // χ²/Cramér's V on feat_mutual_info's exact contingency frame —
      // the [0,1]-normalized association a feature-selection sweep
      // ranks by across pairs of different cardinality; per-cell
      // contributions floor-quantized to 2^-20 before the order-free
      // integer sum, one hardware sqrt at the end
      Features.cramersV(t(s, dir, "documents"), col("lang"), col("source"))
    }, oracle =
      // χ²/Cramér replay: exact HUGEINT cell products, the identical
      // ((d·d)/e)·2^20 double tree per cell, order-free integer sum,
      // one hardware sqrt
      """WITH obs AS (SELECT CAST(lang AS VARCHAR) AS x, CAST(source AS VARCHAR) AS y,
        |    COUNT(*) AS o FROM documents GROUP BY 1, 2),
        |rk AS (SELECT x, SUM(o) AS r FROM obs GROUP BY x),
        |ck AS (SELECT y, SUM(o) AS c FROM obs GROUP BY y),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
        |xc AS (SELECT CAST(COUNT(*) AS BIGINT) AS x_cats FROM rk),
        |yc AS (SELECT CAST(COUNT(*) AS BIGINT) AS y_cats FROM ck),
        |cells AS (SELECT rk.r, ck.c, COALESCE(cl.o, 0) AS o
        |  FROM rk CROSS JOIN ck LEFT JOIN obs cl
        |  ON rk.x IS NOT DISTINCT FROM cl.x AND ck.y IS NOT DISTINCT FROM cl.y),
        |pc AS (SELECT CAST(COALESCE(SUM(CAST(FLOOR(
        |      CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
        |    * CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
        |    / CAST(CAST(r AS HUGEINT) * c * n AS DOUBLE) * 1048576.0) AS BIGINT)), 0) AS BIGINT) AS chi2_q
        |  FROM cells CROSS JOIN tot)
        |SELECT n, x_cats, y_cats, chi2_q,
        |  CAST(chi2_q AS DOUBLE) / 1048576.0 AS chi2,
        |  CASE WHEN LEAST(x_cats, y_cats) > 1
        |    THEN SQRT((CAST(chi2_q AS DOUBLE) / 1048576.0)
        |      / (CAST(n AS DOUBLE) * CAST(LEAST(x_cats, y_cats) - 1 AS DOUBLE))) END AS cramers_v
        |FROM tot CROSS JOIN xc CROSS JOIN yc CROSS JOIN pc""".stripMargin),
    RowDef("feat_rank_normalize", { (s, dir) =>
      // quantile-transform feature: per-segment percent rank of the
      // account balance as a [0,1] feature, via the VALUE-COUNTING
      // formulation (window over distinct values only, broadcast back)
      // — no per-group corpus sort; oracle uses the native percent_rank
      // window, proving the formulations identical
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val pr = Quantile.percentRankOfValues(c, "c_mktsegment", "c_acctbal")
      c.join(broadcast(pr), Seq("c_mktsegment", "c_acctbal"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          col("pr").as("rank_norm"))
        .orderBy("c_custkey")
    }, oracle =
      // median/MAD robust outliers: type-1 medians from value counts,
      // pure integer test |v - med| > 3*mad (mirrors Features.robustOutliers)
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS rank_norm
        |FROM customer ORDER BY c_custkey""".stripMargin),
    RowDef("feat_target_encode", { (s, dir) =>
      // leakage-safe (leave-one-out) target mean encoding: exact cents
      // arithmetic, one division per row, NULL for singleton classes
      Features.targetEncode(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal")),
          catCol = "c_mktsegment", targetCol = "c_acctbal")
        .orderBy("c_custkey")
    }, oracle =
      """WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS y FROM customer),
        |g AS (SELECT c_mktsegment, CAST(SUM(y) AS BIGINT) AS sy, COUNT(*) AS ng
        |  FROM c GROUP BY c_mktsegment)
        |SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
        |  CASE WHEN ng > 1 THEN CAST(sy - y AS DOUBLE) / CAST((ng - 1) * 100 AS DOUBLE) END AS te
        |FROM c JOIN g USING (c_mktsegment) ORDER BY c_custkey""".stripMargin),
    RowDef("feat_robust", { (s, dir) =>
      // per-language median/MAD outlier flag on document length —
      // robust to the very outliers it hunts (unlike mean/stddev);
      // type-1 medians, pure integer test |v-med| > 3*mad
      Features.robustOutliers(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "n_chars", k = 3)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("med"), col("mad"), col("is_outlier"))
        .orderBy("doc_id")
    }, oracle =
      """WITH c AS (SELECT lang, n_chars AS v, COUNT(*) AS cnt FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, v,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY lang) AS n FROM c),
        |med AS (SELECT lang, MIN(v) AS med FROM r WHERE cum * 2 >= n GROUP BY lang),
        |d AS (SELECT dd.lang, abs(dd.n_chars - m.med) AS dev FROM documents dd JOIN med m USING (lang)),
        |dc AS (SELECT lang, dev, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
        |dr AS (SELECT lang, dev,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY dev ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY lang) AS n FROM dc),
        |mad AS (SELECT lang, MIN(dev) AS mad FROM dr WHERE cum * 2 >= n GROUP BY lang)
        |SELECT dd.doc_id, dd.lang, dd.n_chars, m.med, a.mad,
        |  abs(dd.n_chars - m.med) > a.mad * 3 AS is_outlier
        |FROM documents dd JOIN med m USING (lang) JOIN mad a USING (lang)
        |ORDER BY dd.doc_id""".stripMargin),
    RowDef("feat_discretize", { (s, dir) =>
      // per-language equi-depth quartiles of document length — ntile
      // semantics made tie-deterministic via cume_dist (see
      // Quantile.equiDepthBin: value-counting, corpus never sorted)
      Quantile.equiDepthBin(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "n_chars", k = 4)
        .orderBy("doc_id")
    }, oracle =
      // exact decimal moments, IEEE-only final formula (same pattern as red_var_std)
      """SELECT doc_id, lang, n_chars,
        |  CAST(least(ceil(cume_dist() OVER (PARTITION BY lang ORDER BY n_chars) * 4) - 1, 3) AS BIGINT) AS bin
        |FROM documents ORDER BY doc_id""".stripMargin),
    RowDef("feat_logreg", { (s, dir) =>
      // in-engine quality-classifier training + scoring: fast-sigmoid
      // GD (16 full-batch iterations, effective lr 16) on three
      // token-level features, label = "long document" (n_chars > 300 —
      // learnable THROUGH the features, not in them); the oracle
      // replays all 16 iterations unrolled. ~81% train accuracy vs a
      // 51% base rate at sf0.01.
      import TextFunctions._
      val f = t(s, dir, "documents").select(
        col("doc_id"),
        (least(size(tokens(col("text"))), lit(300)).cast(DoubleType) / 300.0).as("f1"),
        (size(array_distinct(tokens(col("text")))).cast(DoubleType)
          / size(tokens(col("text")))).as("f2"),
        (least(length(expr("replace(text, ' ', '')")), lit(2000)).cast(DoubleType)
          / 2000.0).as("f3"),
        when(col("n_chars") > 300, 1.0).otherwise(0.0).as("y"))
      val wq = Features.logisticTrain(f, Seq("f1", "f2", "f3"), "y",
        iters = 16, lrNum = 16L)
      Features.logisticScore(f, wq.toSeq, Seq("f1", "f2", "f3"))
        .select(col("doc_id"), col("y").cast(LongType).as("y"),
          col("p"), col("p_pred").cast(LongType).as("pred"))
        .orderBy("doc_id")
    }, oracle =
      // in-engine classifier replay: the 16 fast-sigmoid GD iterations
      // unrolled as (per-row z | gradient aggregate | integer weight
      // update) CTE triples — every float op is a fixed tree of
      // correctly-rounded rational arithmetic both engines evaluate
      // bit-identically (no exp/libm anywhere), gradients floor-
      // quantized to 2^-30 HUGEINTs, weights on the 2^-24 integer grid
      // with a sign-split floor division (DuckDB's // truncates)
      logregOracleSql(iters = 16, lrNum = 16L)),
    RowDef("feat_logreg_sep", { (s, dir) =>
      // NON-REPLAY witness for the GD trainer (the driver-certified
      // face of the planted-separation unit law): on a margin-separated
      // frame the trained classifier must recover the planted rule
      // EXACTLY — the oracle computes predictions from the CLOSED-FORM
      // rule (doc_id parity), not by replaying gradient descent, so a
      // shared-formulation bug in the trainer fails the gate
      import graft.operators.Features
      val f = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0, 0.9).otherwise(0.1).as("f1"),
        ((col("doc_id") % 7).cast(DoubleType) / 7.0).as("f2"),
        when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0).as("y"))
      val wq = Features.logisticTrain(f, Seq("f1", "f2"), "y",
        iters = 16, lrNum = 16L)
      Features.logisticScore(f, wq.toSeq, Seq("f1", "f2"))
        .select(col("doc_id"), col("p_pred").cast(LongType).as("pred"))
        .orderBy("doc_id")
    }, oracle =
      // non-replay GD witness: the oracle is the PLANTED closed-form
      // rule — zero shared arithmetic with the trainer
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
        |FROM documents ORDER BY doc_id""".stripMargin),
  )
}
