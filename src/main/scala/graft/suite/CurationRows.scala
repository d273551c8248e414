package graft
package suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Layout, Pack, Sampling, Validate}
import Shared._

/** The curation rows: sampling, sequence packing, data layouts,
  * column profiles and drift, and privacy checks. */
object CurationRows {
  val rows: Seq[RowDef] = Seq(
    RowDef("profile_ks2", { (s, dir) =>
      // numeric drift: two-sample KS distance between purchase and
      // view value distributions — sup ECDF gap cross-multiplied to
      // exact integers over the distinct-centi-value union, one final
      // division; the numeric sibling of profile_psi
      val ev = t(s, dir, "events")
      Validate.ksTwoSample(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"), "value")
    }, oracle =
      // KS replay: same centi grid, running ECDFs over the distinct-
      // value union, HUGEINT cross products, one division
      """WITH av AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |bv AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL),
        |pts AS (SELECT v, SUM(ka) AS ka, SUM(kb) AS kb FROM (
        |    SELECT v, COUNT(*) AS ka, 0 AS kb FROM av GROUP BY v
        |    UNION ALL SELECT v, 0, COUNT(*) FROM bv GROUP BY v) GROUP BY v),
        |c AS (SELECT v, ka, kb,
        |    SUM(ka) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(kb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    SUM(ka) OVER () AS na, SUM(kb) OVER () AS nb FROM pts)
        |SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
        |  CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
        |    THEN CAST(MAX(ABS(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)) AS DOUBLE)
        |       / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)) END AS ks_d
        |FROM c""".stripMargin),
    RowDef("sample_split_safe", { (s, dir) =>
      // leakage-safe train/test split: whole near-dup clusters assigned
      // to one side by a hash of the cluster label — a test doc can
      // never have a near-copy in train. Oracle = recursive-CTE closure
      // + the same md5 bucket on the component label
      val docs = t(s, dir, "documents")
      Sampling.splitByCluster(docs, Dedup.minhashPairs(docs, threshold = 0.3),
          trainPct = 80)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH RECURSIVE ${minhashPairCtes(n = 3, threshold = 0.3)},
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |  UNION
         |  SELECT e.dst AS id, r.lab FROM reach r JOIN e ON e.src = r.id)
         |SELECT id AS doc_id, MIN(lab) AS cluster_id,
         |  CASE WHEN CAST(concat('0x', substr(md5(CAST(MIN(lab) AS VARCHAR) || ':0'), 1, 7)) AS BIGINT) % 100 < 80
         |       THEN 'train' ELSE 'test' END AS split
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // ---- corpus curation: packing / sampling / scrubbing ----
    RowDef("pack_sequences", { (s, dir) =>
      import TextFunctions._
      // concat-and-chunk token packing, shard-local by `source`
      Pack.packSequences(t(s, dir, "documents"), budget = 2048L,
        tokens = tokenCount(col("text")))
        .select("doc_id", "source", "n_tokens", "tok_offset", "pack_id", "pack_pos")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, source, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
         |o AS (SELECT doc_id, source, n_tokens,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset
         |FROM t)
         |SELECT doc_id, source, n_tokens, tok_offset,
         |  tok_offset // 2048 AS pack_id, tok_offset % 2048 AS pack_pos
         |FROM o ORDER BY doc_id""".stripMargin),
    RowDef("pack_bins", { (s, dir) =>
      import TextFunctions._
      // whole-document FFD bin packing, shard-local by `source`: the
      // no-split sibling of pack_sequences; budget 128 ≈ 2.4 docs/bin
      // on the fixture so the first-fit structure is actually exercised
      Pack.packBins(t(s, dir, "documents"), budget = 128L,
        tokens = tokenCount(col("text")))
        .orderBy("doc_id")
    }, oracle =
      // FFD replay: one recursion step per (shard, doc) in the same
      // (n DESC, doc_id) order; the bin-loads LIST rides the recursion
      // state, first-fit = the first index whose load admits the doc
      // (a different formulation than the engine's segment tree —
      // the oracle is O(d·bins), the operator O(d·log bins))
      s"""WITH RECURSIVE t AS (SELECT doc_id, source, CAST(len($sqlTokens) AS BIGINT) AS n FROM documents),
         |r AS (SELECT source, doc_id, n,
         |  row_number() OVER (PARTITION BY source ORDER BY n DESC, doc_id) AS rn FROM t),
         |ffd AS (
         |  SELECT source, 0 AS i, CAST([] AS BIGINT[]) AS bins,
         |    CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS bin_id
         |  FROM (SELECT DISTINCT source FROM r)
         |  UNION ALL
         |  SELECT f.source, f.i + 1,
         |    CASE WHEN fit.fj IS NOT NULL
         |      THEN list_transform(range(1, len(f.bins)+1), q -> CASE WHEN q = fit.fj THEN f.bins[q] + r.n ELSE f.bins[q] END)
         |      ELSE list_append(f.bins, r.n) END,
         |    r.doc_id, r.n, COALESCE(fit.fj, len(f.bins) + 1)
         |  FROM ffd f
         |  JOIN r ON r.source = f.source AND r.rn = f.i + 1
         |  LEFT JOIN LATERAL (SELECT list_filter(range(1, len(f.bins)+1), q -> f.bins[q] + r.n <= 128)[1] AS fj) fit ON TRUE
         |)
         |SELECT source, doc_id, n AS n_tokens, bin_id
         |FROM ffd WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin),
    RowDef("sample_stratified", { (s, dir) =>
      // deterministic hash sampling: 50% of en, 10% of everything else —
      // reproducible across runs/engines (no RNG), fully oracle-checked
      Sampling.stratified(t(s, dir, "documents"), "doc_id", "lang",
        rates = Map("en" -> 50), defaultPct = 10)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 100
        |  < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
        |ORDER BY doc_id""".stripMargin),
    RowDef("sample_weighted", { (s, dir) =>
      import TextFunctions._
      // quality-weighted deterministic sampling: P(keep) = quality score,
      // zero RNG — the curriculum-shaping sampler, fully oracle-checked
      Sampling.weighted(t(s, dir, "documents"), "doc_id",
        qualityScore(col("text")))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, lang, text, $sqlTokens AS ts FROM documents),
         |q AS (SELECT doc_id, lang, $sqlQuality AS quality FROM t)
         |SELECT doc_id, lang FROM q
         |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 1000000
         |  < CAST(FLOOR(LEAST(GREATEST(quality, 0.0), 1.0) * 1000000) AS BIGINT)
         |ORDER BY doc_id""".stripMargin),
    RowDef("sample_cap_per_key", { (s, dir) =>
      // per-language frequency cap (the corpus-balancing rule: at most
      // N docs per domain/source/lang — lang is the fixture key whose
      // groups actually exceed the cap): deterministic lowest-md5-bucket choice
      // via the BOUNDED TopKByScore aggregate + semi join — never a
      // row_number window over a hot domain's full row set
      Sampling.capPerKey(t(s, dir, "documents"), "lang", "doc_id", n = 40)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, oracle =
      """WITH b AS (SELECT doc_id, lang,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 1000000 AS bucket
        |FROM documents),
        |r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rn FROM b)
        |SELECT doc_id, lang FROM r WHERE rn <= 40 ORDER BY doc_id""".stripMargin),
    RowDef("sample_top_mass", { (s, dir) =>
      // keep the longest docs carrying the top HALF of each language's
      // total character mass (nucleus/top-p curation, tie-inclusive) —
      // rational p, decimal-exact masses, cutoff broadcast back
      Sampling.topMassByScore(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "n_chars", 1, 2)
        .orderBy("doc_id")
    }, oracle =
      // top-p mass cutoff: descending running mass over distinct values,
      // rational p, tie-inclusive keep (mirrors Sampling.topMassByScore)
      """WITH m AS (SELECT lang, n_chars AS v, SUM(CAST(n_chars AS DECIMAL(28,6))) AS w
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT lang, v,
        |    SUM(w) OVER (PARTITION BY lang ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY lang) AS tot FROM m),
        |cut AS (SELECT lang, MAX(v) AS cutv FROM r WHERE tot > 0 AND cum * 2 >= tot GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN cut c ON d.lang = c.lang
        |WHERE d.n_chars >= c.cutv ORDER BY d.doc_id""".stripMargin),
    RowDef("sample_dsir", { (s, dir) =>
      // DSIR importance weights of the whole corpus against an
      // in-domain target (here: the 'en' slice as the clean reference)
      // — hashed-bigram multinomials, add-one smoothing, quantized
      // ilog2 log-likelihood ratios; dims=4096 keeps bucket collisions
      // realistic at the fixture's vocabulary
      val docs = t(s, dir, "documents")
      Sampling.dsirWeights(docs, docs.filter(col("lang") === "en"), dims = 4096)
        .orderBy("doc_id")
    }, oracle =
      // DSIR replay: hashed-bigram bucket counts (the feat_hashing
      // md5-28-bit family) for raw = all docs and target = the 'en'
      // slice, add-one multinomials, quantized ilog2 likelihood ratio
      // summed per doc — same integer arithmetic as text_lm_score
      s"""WITH t AS (SELECT doc_id, lang, $sqlTokens AS ts FROM documents),
         |inst AS (SELECT doc_id, lang,
         |  unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2 FROM t),
         |b AS (SELECT doc_id, lang,
         |  ${sqlHash("w1 || ' ' || w2")} % 4096 AS bk FROM inst),
         |rc AS (SELECT bk, COUNT(*) AS cr FROM b GROUP BY bk),
         |tc AS (SELECT bk, COUNT(*) AS ct FROM b WHERE lang = 'en' GROUP BY bk),
         |rt AS (SELECT CAST(SUM(cr) AS BIGINT) AS rtot FROM rc),
         |tt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS ttot FROM tc),
         |sc AS (SELECT doc_id,
         |    (length(bin(COALESCE(ct, 0) + 1)) - 1) - (length(bin(ttot + 4096)) - 1)
         |  - (length(bin(cr + 1)) - 1) + (length(bin(rtot + 4096)) - 1) AS lr
         |  FROM b JOIN rc USING (bk) LEFT JOIN tc USING (bk) CROSS JOIN rt CROSS JOIN tt)
         |SELECT doc_id, COUNT(*) AS n_grams, CAST(SUM(lr) AS BIGINT) AS dsir_q
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    RowDef("sample_temperature", { (s, dir) =>
      // α=0.5 temperature rebalancing of the language mix: low-resource
      // languages keep ~everything, the dominant one is downsampled —
      // rates are exact int64 micro-fractions from driver-side stats,
      // row choice is the seed-keyed md5 bucket (no RNG, no join)
      Sampling.temperatureSample(t(s, dir, "documents"),
          key = col("doc_id"), mixCol = "lang", targetRows = 200, seed = 11)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, oracle =
      // INDEPENDENT formulation: the oracle ranks with a window; the
      // engine uses the bounded TopKByScore aggregate + semi join.
      // Agreement proves the bounded plan selects exactly the window's
      // rows (lowest md5 bucket, asc-id tiebreak, first n per key).
      // temperature replay: same ⌊√(n_g·N)⌋ weights (one IEEE sqrt),
      // same exact integer micro-rates, same seed-11 md5 bucket
      """WITH st AS (SELECT lang, COUNT(*) AS ns FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS n FROM st),
        |w AS (SELECT lang, ns, CAST(FLOOR(SQRT(CAST(ns AS DOUBLE) * CAST(tot.n AS DOUBLE))) AS BIGINT) AS w FROM st, tot),
        |sw AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM w),
        |r AS (SELECT lang, LEAST(1000000, (200 * w * 1000000) // (sumw * ns)) AS rate FROM w, sw)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON r.lang = d.lang
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || ':11'),1,7)) AS BIGINT) % 1000000 < rate
        |ORDER BY d.doc_id""".stripMargin),
    RowDef("lay_hilbert", { (s, dir) =>
      // Hilbert sort key over the same (p_size, p_partkey mod 256)
      // plane as lay_zorder — consecutive keys are grid neighbors, so
      // per-file min/max bounds stay tighter than Morton at the
      // power-of-two seams
      val p = t(s, dir, "part")
      p.select(col("p_partkey"), col("p_size"),
          Layout.hilbertValue(col("p_size"), col("p_partkey") % 256, 8).as("h"))
        .orderBy("h", "p_partkey").limit(200)
    }, oracle =
      s"""WITH p0 AS (SELECT p_partkey, p_size FROM part),
         |${hilbertSqlCtes("p0", "p_size", "p_partkey % 256", 8)}
         |SELECT p_partkey, p_size, hd AS h FROM h8 ORDER BY h, p_partkey LIMIT 200""".stripMargin),
    RowDef("lay_zorder", { (s, dir) =>
      // z-order sort key over (p_size, p_partkey mod 256) — the write-
      // side clustering that keeps parquet min/max stats tight on both
      // columns at once (see Layout.zorderBy for the file-level form)
      val p = t(s, dir, "part")
      p.select(col("p_partkey"), col("p_size"),
          Layout.zValue(Seq(col("p_size"), col("p_partkey") % 256), 8).as("z"))
        .orderBy("z", "p_partkey").limit(200)
    }, oracle = {
      val zTerms = (0 until 8).flatMap(i => Seq(
        s"(((CAST(p_size AS BIGINT) >> $i) & 1) << ${2 * i})",
        s"(((CAST(p_partkey % 256 AS BIGINT) >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""SELECT p_partkey, p_size, $zTerms AS z
         |FROM part ORDER BY z, p_partkey LIMIT 200""".stripMargin
    }),
    RowDef("sample_negatives", { (s, dir) =>
      // 3 reproducible contrastive negatives per document (never the
      // anchor itself) — the offset walk over the seeded shuffle's
      // dense positions; one balanced self-join on long positions
      Sampling.negatives(t(s, dir, "documents"), "doc_id", m = 3, seed = 42L)
        .orderBy("doc_id", "neg_rank")
    }, oracle =
      """WITH pos AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY md5('42' || chr(1) || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS p,
        |    count(*) OVER () AS n
        |  FROM documents),
        |pairs AS (SELECT doc_id, i, (p + 1 + (42 + i * 2654435761) % (n - 1)) % n AS tp
        |  FROM pos, range(1, 4) AS r(i))
        |SELECT a.doc_id, CAST(a.i AS BIGINT) AS neg_rank, b.doc_id AS neg_id
        |FROM pairs a JOIN pos b ON a.tp = b.p
        |ORDER BY a.doc_id, neg_rank""".stripMargin),
    RowDef("lay_shuffle", { (s, dir) =>
      // seeded reproducible global shuffle for training export: md5-
      // keyed total order (cross-engine recomputable) + exact global
      // position via the funnel-free SortedPages index — NOT a
      // single-partition row_number window
      Layout.shuffled(t(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq(col("doc_id")), seed = 42L)
    }, oracle =
      // same md5(seed \x01 id) key recomputed independently — the point
      // of an md5 (not xxhash) shuffle key is exactly this cross-engine
      // reproducibility of the training order
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('42' || chr(1) || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin),

    // ---- data-quality validation gates ----
    RowDef("profile_columns", { (s, dir) =>
      // admission profile of a dump: null rate + exact cardinality per
      // column in ONE scan; returnflag deliberately nulled on 'N' so
      // the null-counting path is exercised (fixture has no natural
      // NULLs)
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"),
        when(col("l_returnflag") === "N", lit(null).cast(StringType))
          .otherwise(col("l_returnflag")).as("returnflag_holed"),
        col("l_shipdate"))
      Validate.columnProfile(li, Seq("l_orderkey", "returnflag_holed", "l_shipdate"))
        .orderBy("col_name")
    }, oracle =
      // null-as-violation CASE folds, one branch per rule
      {
        val cols = Seq("l_orderkey", "returnflag_holed", "l_shipdate")
        val per = cols.map { c =>
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_frac,
             |  COUNT(DISTINCT $c) AS n_distinct FROM t""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH t AS (SELECT l_orderkey,
           |  CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END AS returnflag_holed,
           |  l_shipdate FROM lineitem)
           |SELECT * FROM ($per) ORDER BY col_name""".stripMargin
      }),
    RowDef("profile_drift", { (s, dir) =>
      // dump-over-dump drift: profile the even- and odd-orderkey halves
      // as two "dumps" and report the per-column deltas a quarantine
      // gate thresholds on
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        when(col("l_returnflag") === "N", lit(null).cast(StringType))
          .otherwise(col("l_returnflag")).as("returnflag_holed"),
        col("l_quantity"))
      Validate.profileDrift(
          li.filter(col("l_orderkey") % 2 === 0),
          li.filter(col("l_orderkey") % 2 === 1),
          Seq("returnflag_holed", "l_quantity"))
        .orderBy("col_name")
    }, oracle = {
      val cols = Seq("returnflag_holed", "l_quantity")
      def per(src: String) = cols.map { c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_frac,
           |  COUNT(DISTINCT $c) AS n_distinct FROM $src""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH t AS (SELECT l_orderkey,
         |  CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END AS returnflag_holed,
         |  l_quantity FROM lineitem),
         |ea AS (SELECT * FROM t WHERE l_orderkey % 2 = 0),
         |eb AS (SELECT * FROM t WHERE l_orderkey % 2 = 1),
         |pa AS (${per("ea")}),
         |pb AS (${per("eb")})
         |SELECT pa.col_name, pa.null_frac AS null_frac_a, pb.null_frac AS null_frac_b,
         |  pb.null_frac - pa.null_frac AS null_frac_delta,
         |  pa.n_distinct AS n_distinct_a, pb.n_distinct AS n_distinct_b,
         |  CAST(pb.n_distinct AS DOUBLE) / pa.n_distinct AS distinct_ratio
         |FROM pa JOIN pb ON pa.col_name = pb.col_name ORDER BY pa.col_name""".stripMargin
    }),
    RowDef("profile_benford", { (s, dir) =>
      // fabricated-data screen: leading-digit mix of order totals vs
      // the Benford expectation — integer weight table shared with the
      // oracle, deviation as an exact cross product
      Validate.benford(t(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")
    }, oracle = {
      val w = graft.operators.Validate.BenfordWeights.mkString("[", ", ", "]")
      s"""WITH c AS (SELECT CAST(SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |    COUNT(*) AS n_obs
         |  FROM orders
         |  WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
         |  GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c)
         |SELECT digit, n_obs,
         |  CAST(n_obs * 1048576 - t.n * ($w)[digit] AS BIGINT) AS dev_q
         |FROM c, t ORDER BY digit""".stripMargin
    }),
    RowDef("profile_psi", { (s, dir) =>
      // drift gate: population-stability contributions of the
      // event-type mix between two user cohorts (floor-log2 quantized,
      // add-one smoothed, exact int64) — a large contrib_q names WHICH
      // category moved
      val ev = t(s, dir, "events")
      Validate.populationStability(
          ev.filter(col("user_id") % 2 === 0),
          ev.filter(col("user_id") % 2 === 1),
          "event_type")
        .orderBy("category")
    }, oracle =
      """WITH ca AS (SELECT event_type AS category, COUNT(*) AS c FROM events
        |  WHERE user_id % 2 = 0 GROUP BY 1),
        |cb AS (SELECT event_type AS category, COUNT(*) AS c FROM events
        |  WHERE user_id % 2 = 1 GROUP BY 1),
        |j AS (SELECT coalesce(ca.category, cb.category) AS category,
        |    CAST(coalesce(ca.c, 0) + 1 AS BIGINT) AS c_a,
        |    CAST(coalesce(cb.c, 0) + 1 AS BIGINT) AS c_b
        |  FROM ca FULL OUTER JOIN cb ON ca.category = cb.category),
        |t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na, CAST(SUM(c_b) AS BIGINT) AS nb FROM j)
        |SELECT category, c_a, c_b,
        |  CAST((c_a * nb - c_b * na) *
        |    ((length(bin(c_a * nb)) - 1) - (length(bin(c_b * na)) - 1)) AS BIGINT) AS contrib_q
        |FROM j, t ORDER BY category""".stripMargin),
    RowDef("priv_kanon", { (s, dir) =>
      // k-anonymity / l-diversity audit: equivalence classes over the
      // (segment, nation) quasi-identifiers with exact sensitive-value
      // diversity — the structural privacy gate beside scrubPii
      // (content) and inc_forget (deletion)
      Validate.kAnonymity(t(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"), "c_acctbal", k = 10L, l = 10L)
        .orderBy("c_mktsegment", "c_nationkey")
    }, oracle =
      """SELECT c_mktsegment, c_nationkey,
        |  COUNT(*) AS class_size,
        |  COUNT(DISTINCT c_acctbal) AS l_diversity,
        |  COUNT(*) < 10 AS violates_k,
        |  COUNT(DISTINCT c_acctbal) < 10 AS violates_l
        |FROM customer GROUP BY c_mktsegment, c_nationkey
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin),
    RowDef("priv_tclose", { (s, dir) =>
      // t-closeness audit: per-nation total-variation distance of the
      // market-segment distribution from the global one — catches the
      // attribute-disclosure leak k/l-anonymity misses (a class can be
      // large AND diverse yet 90% one sensitive value). Exact
      // cross-multiplied integer arithmetic; the oracle replays the
      // identical rational formula
      Validate.tCloseness(t(s, dir, "customer"),
          Seq("c_nationkey"), "c_mktsegment", t = 0.1)
        .orderBy("c_nationkey")
    }, oracle =
      """WITH g AS (SELECT c_mktsegment AS v, COUNT(*) AS gv FROM customer GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nt FROM customer),
        |cv AS (SELECT c_nationkey, c_mktsegment AS v, COUNT(*) AS cvn
        |       FROM customer GROUP BY 1, 2),
        |cw AS (SELECT *, SUM(cvn) OVER (PARTITION BY c_nationkey) AS ncls FROM cv),
        |per AS (SELECT c_nationkey, CAST(MAX(ncls) AS BIGINT) AS class_size,
        |    SUM(ABS(CAST(cvn AS HUGEINT) * nt - CAST(gv AS HUGEINT) * ncls)) AS num_present,
        |    SUM(gv) AS g_present, MAX(nt) AS nt
        |  FROM cw JOIN g USING (v) CROSS JOIN n
        |  GROUP BY c_nationkey)
        |SELECT c_nationkey, class_size,
        |  CAST(num_present + CAST(nt - g_present AS HUGEINT) * class_size AS DOUBLE)
        |    / (2.0 * class_size * nt) AS tv_distance,
        |  CAST(num_present + CAST(nt - g_present AS HUGEINT) * class_size AS DOUBLE)
        |    / (2.0 * class_size * nt) > 0.1 AS violates_t
        |FROM per ORDER BY c_nationkey""".stripMargin),
  )
}
