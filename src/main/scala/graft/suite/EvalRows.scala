package graft
package suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Shared._

/** The evaluation rows: classification metrics, calibration, bootstrap
  * confidence intervals and their witnesses, cluster quality and
  * conformal prediction. */
object EvalRows {
  val rows: Seq[RowDef] = Seq(
    RowDef("eval_auc", { (s, dir) =>
      // exact ROC-AUC of "value predicts purchase" via the midrank
      // Mann–Whitney rank-sum: one domain-bounded distinct-score
      // window, decimal rank sums, a single double division
      graft.operators.Eval.auc(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase")
    }, oracle =
      """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qs,
        |    (event_type = 'purchase') AS y FROM events),
        |g AS (SELECT qs, COUNT(*) AS cnt,
        |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM q GROUP BY qs),
        |r AS (SELECT qs, cnt, np,
        |    COALESCE(SUM(cnt) OVER (ORDER BY qs
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r FROM g)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(cnt - np) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(np) > 0 AND SUM(cnt - np) > 0 THEN
        |    CAST(SUM(CAST(np AS HUGEINT) * (2 * r + cnt + 1))
        |        - CAST(SUM(np) AS HUGEINT) * (SUM(np) + 1) AS DOUBLE)
        |      / CAST(2 * CAST(SUM(np) AS HUGEINT) * SUM(cnt - np) AS DOUBLE)
        |  END AS auc
        |FROM r""".stripMargin),
    RowDef("eval_auc_ci", { (s, dir) =>
      // Poisson-bootstrap band around the exact AUC: weighted midrank
      // rank-sums per replica over the same bounded score domain, the
      // eval_brier_ci threshold-table weights — fully deterministic
      graft.operators.Eval.aucBootstrapCi(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase",
        col("event_id"), reps = 32)
    }, oracle =
      // weighted-midrank bootstrap replay: the eval_auc chain per
      // replica with Poisson threshold-table multiplicities (the
      // eval_brier_ci recipe); 32 replicas → band = replica MIN/MAX
      s"""WITH q0 AS (SELECT CAST(event_id AS VARCHAR) AS id,
        |    CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qs,
        |    (event_type = 'purchase') AS y FROM events),
        |rq AS (SELECT id, qs, y, unnest(range(32)) AS rb FROM q0),
        |uw AS (SELECT qs, y, rb,
        |    (CASE WHEN u >= 98751885 THEN 1 ELSE 0 END) + (CASE WHEN u >= 197503771 THEN 1 ELSE 0 END)
        |  + (CASE WHEN u >= 246879713 THEN 1 ELSE 0 END) + (CASE WHEN u >= 263338361 THEN 1 ELSE 0 END)
        |  + (CASE WHEN u >= 267453023 THEN 1 ELSE 0 END) + (CASE WHEN u >= 268275955 THEN 1 ELSE 0 END)
        |  + (CASE WHEN u >= 268413111 THEN 1 ELSE 0 END) AS w
        |  FROM (SELECT qs, y, rb, ${sqlHash("id || '_' || CAST(rb AS VARCHAR)")} % 268435456 AS u FROM rq)),
        |g2 AS (SELECT rb, qs, CAST(SUM(w) AS BIGINT) AS cnt,
        |    CAST(SUM(CASE WHEN y THEN w ELSE 0 END) AS BIGINT) AS np FROM uw GROUP BY rb, qs),
        |r2 AS (SELECT rb, qs, cnt, np, COALESCE(SUM(cnt) OVER (PARTITION BY rb ORDER BY qs
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r FROM g2),
        |rep AS (SELECT rb, SUM(np) AS p, SUM(cnt - np) AS nn,
        |    SUM(CAST(np AS HUGEINT) * (2 * r + cnt + 1)) AS s2 FROM r2 GROUP BY rb
        |  HAVING SUM(np) > 0 AND SUM(cnt - np) > 0),
        |m AS (SELECT CAST(s2 - CAST(p AS HUGEINT) * (p + 1) AS DOUBLE)
        |    / CAST(2 * CAST(p AS HUGEINT) * nn AS DOUBLE) AS mean FROM rep),
        |g AS (SELECT qs, COUNT(*) AS cnt,
        |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM q0 GROUP BY qs),
        |r AS (SELECT qs, cnt, np,
        |    COALESCE(SUM(cnt) OVER (ORDER BY qs
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r FROM g)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(cnt - np) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(np) > 0 AND SUM(cnt - np) > 0 THEN
        |    CAST(SUM(CAST(np AS HUGEINT) * (2 * r + cnt + 1))
        |        - CAST(SUM(np) AS HUGEINT) * (SUM(np) + 1) AS DOUBLE)
        |      / CAST(2 * CAST(SUM(np) AS HUGEINT) * SUM(cnt - np) AS DOUBLE)
        |  END AS auc,
        |  (SELECT MIN(mean) FROM m) AS ci_lo, (SELECT MAX(mean) FROM m) AS ci_hi
        |FROM r""".stripMargin),
    RowDef("eval_auc_ci_witness", { (s, dir) =>
      // NON-REPLAY witness for eval_auc_ci (VERDICT r15 #7): replica-
      // weight INVARIANCE under a planted constant score. With one
      // distinct score bucket the midrank rank-sum collapses to a
      // closed form — auc = P·N/(2·P·N) = 1/2 — and the SAME collapse
      // holds inside every Poisson replica (P_b·N_b/(2·P_b·N_b)), so
      // auc and BOTH band ends are exactly 0.5 for ANY weight
      // realization, replica count, or label mix. Every step is an
      // exact IEEE quotient (the products stay < 2^53), so the oracle
      // states three literals plus independent label counts and shares
      // ZERO arithmetic with the operator: no midranks, no Poisson
      // thresholds, no prefix window, no bootstrap. A normalization
      // bug in the rank-sum (e.g. 2r+cnt for 2r+cnt+1) or weight/label
      // cross-contamination moves the result off 0.5 and fails here
      // while the replaying eval_auc_ci oracle would follow it.
      graft.operators.Eval.aucBootstrapCi(t(s, dir, "events"),
        lit(3.0), col("event_type") === "purchase",
        col("event_id"), reps = 32)
    }, oracle =
      // replica-weight-invariance witness: constant planted score →
      // auc and both band ends are the LITERAL 1/2 (closed form, see
      // the query site); the only data work is two label counts — no
      // midranks, no Poisson table, no window, no bootstrap replay
      """SELECT
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  CAST(0.5 AS DOUBLE) AS auc,
        |  CAST(0.5 AS DOUBLE) AS ci_lo,
        |  CAST(0.5 AS DOUBLE) AS ci_hi
        |FROM events""".stripMargin),
    RowDef("eval_pr", { (s, dir) =>
      // precision-recall curve: one point per distinct centi score
      // (descending threshold), exact cumulative tp/fp — the curve
      // face of eval_auc over the same bounded domain frame
      graft.operators.Eval.prCurve(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase")
    }, oracle =
      """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qs,
        |    (event_type = 'purchase') AS y FROM events),
        |g AS (SELECT qs, COUNT(*) AS cnt,
        |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM q GROUP BY qs),
        |c AS (SELECT qs, CAST(SUM(np) OVER w AS BIGINT) AS tp,
        |    CAST(SUM(cnt - np) OVER w AS BIGINT) AS fp,
        |    CAST(SUM(np) OVER () AS BIGINT) AS p FROM g
        |  WINDOW w AS (ORDER BY qs DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT qs AS threshold_centi, tp, fp,
        |  CAST(tp AS DOUBLE) / (tp + fp) AS precision,
        |  CASE WHEN p > 0 THEN CAST(tp AS DOUBLE) / p END AS recall
        |FROM c ORDER BY threshold_centi DESC""".stripMargin),
    RowDef("eval_logloss", { (s, dir) =>
      // quantized binary cross-entropy via the shared 999-entry
      // integer -log2 table (the ndcgWeights pattern): milli-clamped
      // probs, pure table lookups, one exact integer sum
      graft.operators.Eval.logLoss(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase")
    }, oracle =
      s"""WITH q AS (SELECT LEAST(GREATEST(
         |      CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT), 1), 999) AS qp,
         |    (event_type = 'purchase') AS y FROM events),
         |t AS (SELECT [${graft.operators.Eval.logLossWeights.mkString(", ")}] AS w)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(w[CAST(CASE WHEN y THEN qp ELSE 1000 - qp END AS INT)]) AS BIGINT) AS logloss_q
         |FROM q, t""".stripMargin),
    RowDef("eval_ks", { (s, dir) =>
      // Kolmogorov-Smirnov separation of the purchase/non-purchase
      // score distributions: exact max |tp*N - fp*P| over the distinct
      // centi thresholds, packed argmax, one double division
      graft.operators.Eval.ks(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase")
    }, oracle =
      """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qs,
        |    (event_type = 'purchase') AS y FROM events),
        |g AS (SELECT qs, COUNT(*) AS cnt,
        |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM q GROUP BY qs),
        |c AS (SELECT qs,
        |    CAST(SUM(np) OVER w AS HUGEINT) AS tp,
        |    CAST(SUM(cnt - np) OVER w AS HUGEINT) AS fp,
        |    CAST(SUM(np) OVER () AS HUGEINT) AS p,
        |    CAST(SUM(cnt - np) OVER () AS HUGEINT) AS nn FROM g
        |  WINDOW w AS (ORDER BY qs DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT qs, ABS(tp * nn - fp * p) AS dd, p, nn FROM c),
        |m AS (SELECT MAX(dd) AS dmax,
        |    MAX(dd * CAST('10000000000000000000' AS HUGEINT)
        |      + (CAST('5000000000000000000' AS HUGEINT) - qs)) AS pk,
        |    ANY_VALUE(p) AS p, ANY_VALUE(nn) AS nn FROM d)
        |SELECT CAST(p AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |  CAST(CAST('5000000000000000000' AS HUGEINT)
        |    - pk % CAST('10000000000000000000' AS HUGEINT) AS BIGINT) AS ks_threshold_centi,
        |  CASE WHEN p > 0 AND nn > 0
        |    THEN CAST(dmax AS DOUBLE) / CAST(p * nn AS DOUBLE) END AS ks
        |FROM m""".stripMargin),
    RowDef("eval_ece", { (s, dir) =>
      // expected calibration error with an exact integer numerator
      // over the same milli-quantized 10-bin layout as eval_calibration
      graft.operators.Eval.calibrationError(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase")
    }, oracle =
      """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT) AS qp,
        |    (event_type = 'purchase') AS y FROM events),
        |b AS (SELECT LEAST(qp * 10 // 1000, 9) AS bin, qp, y FROM q),
        |g AS (SELECT bin, COUNT(*) AS n, SUM(qp) AS sq,
        |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS pos FROM b GROUP BY bin)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(ABS(1000 * pos - sq)) AS BIGINT) AS ece_num,
        |  CAST(SUM(ABS(1000 * pos - sq)) AS DOUBLE) / (SUM(n) * 1000) AS ece
        |FROM g""".stripMargin),
    RowDef("eval_brier", { (s, dir) =>
      // Brier score of prob = value/512 vs purchase: exact integer
      // squared-error sum, one double division
      graft.operators.Eval.brier(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase")
    }, oracle =
      """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT)
        |      - CASE WHEN event_type = 'purchase' THEN 1000 ELSE 0 END AS e FROM events)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(e * e AS HUGEINT)) AS BIGINT) AS brier_num,
        |  CAST(SUM(CAST(e * e AS HUGEINT)) AS DOUBLE) / (COUNT(*) * 1000000) AS brier
        |FROM q""".stripMargin),
    RowDef("eval_brier_ci", { (s, dir) =>
      // deterministic Poisson-bootstrap 2.5/97.5% band around the Brier
      // point estimate: per-(event, replica) weights from the md5-28-bit
      // inverse-CDF threshold table — RNG-free, so the whole CI replays
      // in the oracle (32 replicas → the band is the replica min/max)
      graft.operators.Eval.brierBootstrapCi(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase",
        col("event_id"), reps = 32)
    }, oracle =
      // Poisson-bootstrap replay: per-(event, replica) weight = number
      // of baked inverse-CDF thresholds (floor(CDF_Pois(1)·2^28), the
      // Eval.PoissonCdf28 table) cleared by the md5-28-bit hash of
      // "id_replica" — no RNG, no libm; replica means are one double
      // division of exact int64 sums; at 32 replicas the 2.5/97.5%
      // percentile ranks are 1 and 32, i.e. the replica MIN/MAX
      s"""WITH b1 AS (SELECT CAST(event_id AS VARCHAR) AS id,
        |    CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT)
        |      - CASE WHEN event_type = 'purchase' THEN 1000 ELSE 0 END AS e
        |  FROM events),
        |b2 AS (SELECT id, e * e AS e2 FROM b1),
        |r AS (SELECT id, e2, unnest(range(32)) AS rb FROM b2),
        |uw AS (SELECT e2, rb,
        |    (CASE WHEN u >= 98751885 THEN 1 ELSE 0 END) + (CASE WHEN u >= 197503771 THEN 1 ELSE 0 END)
        |  + (CASE WHEN u >= 246879713 THEN 1 ELSE 0 END) + (CASE WHEN u >= 263338361 THEN 1 ELSE 0 END)
        |  + (CASE WHEN u >= 267453023 THEN 1 ELSE 0 END) + (CASE WHEN u >= 268275955 THEN 1 ELSE 0 END)
        |  + (CASE WHEN u >= 268413111 THEN 1 ELSE 0 END) AS w
        |  FROM (SELECT e2, rb, ${sqlHash("id || '_' || CAST(rb AS VARCHAR)")} % 268435456 AS u FROM r)),
        |rep AS (SELECT rb, CAST(SUM(w) AS BIGINT) AS nb, CAST(SUM(w * e2) AS BIGINT) AS numb
        |  FROM uw GROUP BY rb HAVING SUM(w) > 0),
        |m AS (SELECT CAST(numb AS DOUBLE) / (CAST(nb AS DOUBLE) * 1000000.0) AS mean FROM rep)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(e2 AS HUGEINT)) AS DOUBLE) / (COUNT(*) * 1000000) AS brier,
        |  (SELECT MIN(mean) FROM m) AS ci_lo, (SELECT MAX(mean) FROM m) AS ci_hi
        |FROM b2""".stripMargin),
    RowDef("eval_calibration", { (s, dir) =>
      // reliability diagram of prob = value/512 (exact power-of-two
      // division) vs observed purchase rate: milli-quantized probs,
      // integer bin assignment, 10 bins
      graft.operators.Eval.calibration(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase")
    }, oracle =
      """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT) AS qp,
        |    (event_type = 'purchase') AS y FROM events),
        |b AS (SELECT LEAST(qp * 10 // 1000, 9) AS bin, qp, y FROM q)
        |SELECT bin, COUNT(*) AS n,
        |  CAST(SUM(qp) AS DOUBLE) / (COUNT(*) * 1000) AS mean_prob,
        |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS frac_pos
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
    RowDef("eval_confusion", { (s, dir) =>
      // confusion + precision/recall/F1 at centi threshold 25000
      // (value >= 250): quantized compare, exact-count rates
      graft.operators.Eval.confusion(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase", 25000L)
    }, oracle =
      """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) >= 25000 AS pred,
        |    (event_type = 'purchase') AS y FROM events),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM q)
        |SELECT tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
        |  CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1
        |FROM c""".stripMargin),
    RowDef("eval_lift_ci", { (s, dir) =>
      // A/B readout at the documented assignment unit (users): variant
      // = md5 parity of user_id, conversion = any purchase; the
      // deterministic Poisson bootstrap band replays in the oracle
      // (32 replicas → replica min/max)
      val users = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      graft.operators.Eval.liftBootstrapCi(users,
        graft.plans.HashBucket(col("user_id").cast(StringType), 2) === 1L,
        col("converted") === 1L, col("user_id"), reps = 32)
    }, oracle =
      // lift replay: per-user conversion frame, md5-parity arms, the
      // eval_brier_ci Poisson threshold weights per (user, replica),
      // replica lifts as the identical fixed double tree, band =
      // replica min/max at 32 reps; degenerate replicas drop
      s"""WITH uu AS (SELECT user_id, MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
         |  FROM events GROUP BY user_id),
         |b AS (SELECT CAST(user_id AS VARCHAR) AS id,
         |    (${sqlHash("CAST(user_id AS VARCHAR)")} % 2 = 1) AS t, y FROM uu),
         |r AS (SELECT id, t, y, unnest(range(32)) AS rb FROM b),
         |uw AS (SELECT t, y, rb,
         |    (CASE WHEN u >= 98751885 THEN 1 ELSE 0 END) + (CASE WHEN u >= 197503771 THEN 1 ELSE 0 END)
         |  + (CASE WHEN u >= 246879713 THEN 1 ELSE 0 END) + (CASE WHEN u >= 263338361 THEN 1 ELSE 0 END)
         |  + (CASE WHEN u >= 267453023 THEN 1 ELSE 0 END) + (CASE WHEN u >= 268275955 THEN 1 ELSE 0 END)
         |  + (CASE WHEN u >= 268413111 THEN 1 ELSE 0 END) AS w
         |  FROM (SELECT t, y, rb, ${sqlHash("id || '_' || CAST(rb AS VARCHAR)")} % 268435456 AS u FROM r)),
         |rep AS (SELECT rb,
         |    CAST(SUM(CASE WHEN NOT t THEN w ELSE 0 END) AS BIGINT) AS na,
         |    CAST(SUM(CASE WHEN NOT t THEN w * y ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(SUM(CASE WHEN t THEN w ELSE 0 END) AS BIGINT) AS nb,
         |    CAST(SUM(CASE WHEN t THEN w * y ELSE 0 END) AS BIGINT) AS cb
         |  FROM uw GROUP BY rb
         |  HAVING SUM(CASE WHEN NOT t THEN w ELSE 0 END) > 0
         |    AND SUM(CASE WHEN t THEN w ELSE 0 END) > 0
         |    AND SUM(CASE WHEN NOT t THEN w * y ELSE 0 END) > 0),
         |m AS (SELECT (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
         |    / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) AS lift FROM rep),
         |tot AS (SELECT CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS sa,
         |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS sb FROM b)
         |SELECT n_a, n_b,
         |  CASE WHEN n_a > 0 THEN CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) END AS conv_a,
         |  CASE WHEN n_b > 0 THEN CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) END AS conv_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 AND sa > 0
         |    THEN (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) END AS lift,
         |  (SELECT MIN(lift) FROM m) AS ci_lo, (SELECT MAX(lift) FROM m) AS ci_hi
         |FROM tot""".stripMargin),
    RowDef("eval_lift_witness", { (s, dir) =>
      // NON-REPLAY witness for eval_lift_ci (the ev_holt_ramp
      // pattern): with ARM-CONSTANT outcomes, a resampled conversion
      // rate Σw·y/Σw is invariant under ANY bootstrap weights, so the
      // whole percentile band collapses to the planted point — the
      // oracle states closed-form constants and never touches md5,
      // the Poisson table, or the bootstrap. Two planted scenarios:
      // 'killed' (control always converts, treatment never → lift 0,
      // band exactly [0,0] in every replica) and 'unit' (both arms
      // always convert → lift 1, band [1,1]). An arm-assignment flip,
      // an inverted lift ratio, a wrong replica-drop rule (_cb
      // instead of _ca), or a percentile-index defect all break the
      // planted constants.
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), (col("c_custkey") % 2 === 0).as("tr"))
      def w(conv: org.apache.spark.sql.Column, name: String) =
        graft.operators.Eval.liftBootstrapCi(
          base.withColumn("y", conv), col("tr"), col("y"), col("id"), reps = 32)
          .select(lit(name).as("scenario"), col("n_a"), col("n_b"),
            col("conv_a"), col("conv_b"), col("lift"), col("ci_lo"), col("ci_hi"))
      w(!col("tr"), "killed").unionByName(w(lit(true), "unit"))
        .orderBy("scenario")
    }, oracle =
      // closed-form planted constants: with arm-constant outcomes the
      // resampled rate Σw·y/Σw is weight-invariant, so lift and BOTH
      // band ends are exact literals — no md5, no Poisson thresholds,
      // no bootstrap replay anywhere in this oracle
      """WITH n AS (SELECT
        |    CAST(SUM(CASE WHEN c_custkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM customer)
        |SELECT * FROM (
        |  SELECT 'killed' AS scenario, n_a, n_b,
        |    CAST(1.0 AS DOUBLE) AS conv_a, CAST(0.0 AS DOUBLE) AS conv_b,
        |    CAST(0.0 AS DOUBLE) AS lift,
        |    CAST(0.0 AS DOUBLE) AS ci_lo, CAST(0.0 AS DOUBLE) AS ci_hi FROM n
        |  UNION ALL
        |  SELECT 'unit', n_a, n_b,
        |    CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
        |    CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM n)
        |ORDER BY scenario""".stripMargin),
    RowDef("eval_mcc", { (s, dir) =>
      // Matthews correlation at eval_confusion's centi threshold —
      // the imbalance-robust single number (F1 ignores true
      // negatives); exact D38 products, one multiply/sqrt/divide tree
      graft.operators.Eval.mcc(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase", 25000L)
    }, oracle =
      // MCC replay: exact HUGEINT confusion products, the identical
      // multiply/sqrt/divide tree, NULL on any empty marginal
      """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) >= 25000 AS pred,
        |    (event_type = 'purchase') AS y FROM events),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM q)
        |SELECT tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0
        |    THEN CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS DOUBLE)
        |      / SQRT(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp) * (tn + fn) AS DOUBLE))
        |  END AS mcc
        |FROM c""".stripMargin),
    RowDef("eval_kappa", { (s, dir) =>
      // Cohen's kappa between eval_confusion's centi-threshold
      // predictor and the purchase label — chance-corrected agreement
      // as exact D38 marginal products into one final division; the
      // inter-annotator agreement operator applied to the
      // prediction-vs-truth face the fixture supports
      graft.operators.Eval.cohensKappa(t(s, dir, "events"),
        floor(col("value").cast(DoubleType) * 100d + 0.5d) >= 25000L,
        col("event_type") === "purchase")
    }, oracle =
      // kappa replay: booleans cast to VARCHAR categories exactly as
      // the engine does; marginal products in HUGEINT, κ = the same
      // cross-multiplied single division
      """WITH q AS (SELECT
        |    CAST(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) >= 25000 AS VARCHAR) AS a,
        |    CAST(event_type = 'purchase' AS VARCHAR) AS b FROM events),
        |cells AS (SELECT a, b, COUNT(*) AS c FROM q GROUP BY a, b),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COALESCE(SUM(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS agree FROM cells),
        |rk AS (SELECT a AS k, SUM(c) AS r FROM cells GROUP BY a),
        |ck AS (SELECT b AS k, SUM(c) AS cc FROM cells GROUP BY b),
        |pex AS (SELECT COALESCE(SUM(CAST(r AS HUGEINT) * cc), 0) AS pe FROM rk JOIN ck USING (k))
        |SELECT n, agree, CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |  CAST(pex.pe AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS pe,
        |  CASE WHEN CAST(n AS HUGEINT) * n <> pex.pe
        |    THEN CAST(CAST(n AS HUGEINT) * agree - pex.pe AS DOUBLE)
        |       / CAST(CAST(n AS HUGEINT) * n - pex.pe AS DOUBLE) END AS kappa
        |FROM tot CROSS JOIN pex""".stripMargin),
    RowDef("eval_silhouette", { (s, dir) =>
      // simplified (centroid) silhouette of the pinned fixture
      // clustering — cluster-quality audit on dedup_semantic's exact
      // quantized-mean centroids: int64 squared distances, per-point
      // s quantized to 2^-20 BEFORE the order-free per-cluster mean
      graft.operators.Eval.clusterSilhouette(t(s, dir, "embeddings"), "label")
        .orderBy("cluster")
    }, oracle =
      // simplified-silhouette replay: the dedup_semantic centroid CTE,
      // exact int64 squared distances to every centroid, the identical
      // (√b−√a)/max(√a,√b) double tree, 2^-20 quantization before the
      // order-free per-cluster mean
      s"""WITH q0 AS (SELECT vec_id, CAST(label AS BIGINT) AS cluster,
         |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv FROM embeddings),
         |cents AS ${sqlCentSelect("q0", "cluster", "cluster")},
         |j AS (SELECT q0.vec_id, q0.cluster, cents.cluster AS cc,
         |    list_sum(list_transform(list_zip(q0.qv, cents.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         |  FROM q0 CROSS JOIN cents),
         |ab AS (SELECT vec_id, cluster, MIN(CASE WHEN cc = cluster THEN d2 END) AS a2,
         |    MIN(CASE WHEN cc <> cluster THEN d2 END) AS b2 FROM j GROUP BY vec_id, cluster),
         |sil AS (SELECT cluster,
         |    CASE WHEN GREATEST(SQRT(CAST(a2 AS DOUBLE)), SQRT(CAST(b2 AS DOUBLE))) = 0 THEN 0.0
         |    ELSE (SQRT(CAST(b2 AS DOUBLE)) - SQRT(CAST(a2 AS DOUBLE)))
         |       / GREATEST(SQRT(CAST(a2 AS DOUBLE)), SQRT(CAST(b2 AS DOUBLE))) END AS s FROM ab),
         |qs AS (SELECT cluster, CAST(FLOOR(s * 1048576.0) AS BIGINT) AS sq FROM sil)
         |SELECT cluster, COUNT(*) AS n,
         |  CAST(SUM(sq) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1048576.0) AS mean_silhouette
         |FROM qs GROUP BY cluster ORDER BY cluster""".stripMargin),
    RowDef("eval_db_index", { (s, dir) =>
      // Davies–Bouldin worst-ratio per cluster on the same pinned
      // clustering: which clusters blur together — scatter and
      // separation through the silhouette family's quantized trees,
      // all pair work on k-row frames
      graft.operators.Eval.daviesBouldin(t(s, dir, "embeddings"), "label")
        .orderBy("cluster")
    }, oracle =
      // Davies–Bouldin replay: same centroid CTE, the identical
      // sqrt·2^20-floor distance tree, floor(mean) scatter, k² pair
      // ratios with zero-separation pairs dropped from the max
      s"""WITH q0 AS (SELECT vec_id, CAST(label AS BIGINT) AS cluster,
         |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv FROM embeddings),
         |cents AS ${sqlCentSelect("q0", "cluster", "cluster")},
         |dd AS (SELECT q0.cluster,
         |    CAST(FLOOR(SQRT(CAST(list_sum(list_transform(list_zip(q0.qv, cents.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS DOUBLE)) * 1048576.0) AS BIGINT) AS dq
         |  FROM q0 JOIN cents ON q0.cluster = cents.cluster),
         |sc AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(FLOOR(CAST(SUM(dq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS scatter_q
         |  FROM dd GROUP BY cluster),
         |f AS (SELECT sc.cluster, sc.n, sc.scatter_q, cents.cv FROM sc JOIN cents USING (cluster)),
         |pr AS (SELECT a.cluster, a.n, a.scatter_q,
         |    list_sum(list_transform(list_zip(a.cv, b.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS m2,
         |    CAST(a.scatter_q + b.scatter_q AS DOUBLE)
         |      / (1048576.0 * SQRT(CAST(list_sum(list_transform(list_zip(a.cv, b.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS DOUBLE))) AS ratio
         |  FROM f a JOIN f b ON a.cluster <> b.cluster)
         |SELECT cluster, n, scatter_q, MAX(CASE WHEN m2 > 0 THEN ratio END) AS r_worst
         |FROM pr GROUP BY cluster, n, scatter_q ORDER BY cluster""".stripMargin),
    RowDef("eval_conformal", { (s, dir) =>
      // split-conformal interval at α = 1/10: prediction = value,
      // actual = prediction + deterministic md5-bucket noise in
      // [-50, 50] centi — the q̂ rank is pure integer arithmetic, the
      // calibration/test split the md5-parity bucket, so the whole
      // audit replays engine-exactly
      val ev = t(s, dir, "events")
      val idStr = col("event_id").cast(StringType)
      val predC = floor(col("value").cast(DoubleType) * 100d + 0.5d)
      val actual = (predC +
        graft.plans.HashBucket(concat(idStr, lit("_a")), 101) - 50L) / lit(100.0d)
      graft.operators.Eval.splitConformal(ev,
        col("value"), actual,
        graft.plans.HashBucket(idStr, 2) === 0L,
        alphaNum = 1L, alphaDen = 10L)
    }, oracle =
      // conformal replay: identical centi residuals, md5-parity split,
      // integer ceil-divided rank, value-counting q̂, one coverage
      // division
      s"""WITH b AS (SELECT CAST(event_id AS VARCHAR) AS id,
         |    CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS pc FROM events),
         |d AS (SELECT id, pc, (pc + (${sqlHash("id || '_a'")} % 101) - 50) / 100.0 AS actual FROM b),
         |r AS (SELECT ABS(pc - CAST(FLOOR(CAST(actual AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS r,
         |    (${sqlHash("id")} % 2 = 0) AS cal FROM d),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM r WHERE cal),
         |rk AS (SELECT CAST(FLOOR(CAST((n_cal + 1) * 9 + 9 AS DOUBLE) / 10.0) AS BIGINT) AS rank FROM n),
         |cc AS (SELECT r, COUNT(*) AS c FROM r WHERE cal GROUP BY r),
         |cum AS (SELECT r, SUM(c) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cc),
         |q AS (SELECT MIN(r) AS qhat_c FROM cum CROSS JOIN rk WHERE cum >= rank),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         |    CAST(SUM(CASE WHEN q.qhat_c IS NOT NULL
         |      THEN (CASE WHEN r.r <= q.qhat_c THEN 1 ELSE 0 END) END) AS BIGINT) AS cov
         |  FROM r CROSS JOIN q WHERE NOT cal)
         |SELECT n.n_cal, t.n_test, q.qhat_c,
         |  CAST(cov AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage
         |FROM n CROSS JOIN t CROSS JOIN q""".stripMargin),
    RowDef("eval_conformal_witness", { (s, dir) =>
      // NON-REPLAY witness for eval_conformal (VERDICT r15 #7):
      // constant-residual closed form. actual = (⌊value·100+0.5⌋+37)/100
      // makes BOTH quantizations exact integers 37 centi apart, so
      // every |residual| is EXACTLY 37 — then q̂ = 37 for ANY
      // calibration size (the single residual class's cumulative count
      // is n_cal ≥ rank, which holds for α=1/10 whenever n_cal ≥ 9)
      // and coverage = 1.0 exactly (every test residual ≤ q̂). The
      // split is plain event_id parity, so the oracle's only data work
      // is two counts: zero rank arithmetic, no cumulative window, no
      // ceil-division — an off-by-one in the q̂ rank or a </>≤ slip in
      // the coverage comparison fails here while the replaying
      // eval_conformal oracle would follow it.
      val predC = floor(col("value").cast(DoubleType) * 100d + 0.5d)
      graft.operators.Eval.splitConformal(t(s, dir, "events"),
        col("value"), (predC + lit(37d)) / lit(100d),
        col("event_id") % 2 === 0, alphaNum = 1L, alphaDen = 10L)
    }, oracle =
      // constant-residual witness: every |residual| is exactly 37
      // centi, so q̂ and coverage are LITERALS (closed form, see the
      // query site) and the split is plain parity — zero rank/window/
      // ceil-division arithmetic shared with the operator
      """SELECT
        |  CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cal,
        |  CAST(SUM(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        |  CAST(37 AS BIGINT) AS qhat_c,
        |  CAST(1.0 AS DOUBLE) AS coverage
        |FROM events""".stripMargin),
  )
}
