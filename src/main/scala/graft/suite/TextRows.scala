package graft
package suite

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Pack, Quantile, Sampling, Similarity}
import Shared._

/** The text rows: token statistics, language id, filters, n-grams,
  * URL and domain handling, encoding repair, tokenizers, ranking, corpus
  * datasheets and mixes, and the curation pipelines built from them. */
object TextRows {
  val rows: Seq[RowDef] = Seq(
    // ---- text analysis ----
    RowDef("corpus_datasheet", { (s, dir) =>
      // the release data card: per-source, per-(source, lang), and
      // whole-corpus volume/duplication stats from ONE grouping-sets scan
      graft.operators.Corpus.datasheet(t(s, dir, "documents"), Seq("source", "lang"))
        .orderBy("source", "lang")
    }, oracle =
      s"""SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($sqlTokens)) AS BIGINT) AS n_tokens,
         |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         |  COUNT(DISTINCT md5(text)) AS n_distinct_texts,
         |  1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_rate,
         |  CAST(SUM(len($sqlTokens)) AS DOUBLE) / COUNT(*) AS avg_tokens
         |FROM documents
         |GROUP BY GROUPING SETS ((source), (source, lang), ())
         |ORDER BY source NULLS LAST, lang NULLS LAST""".stripMargin),
    RowDef("corpus_mix", { (s, dir) =>
      // training-mix budgeting: weighted targets over three real
      // sources plus one missing ("curated") that surfaces as pure
      // deficit; src0 is weighted far past its size so rate caps at
      // 1.0 and deficit is non-zero — both branches exercised
      graft.operators.Corpus.mixPlan(t(s, dir, "documents"), "source",
          Seq(("src0", 50L), ("src1", 30L), ("src2", 10L), ("curated", 10L)),
          budget = 100L)
        .orderBy("source")
    }, oracle =
      """WITH w(source, weight) AS (VALUES ('src0', 50), ('src1', 30), ('src2', 10), ('curated', 10)),
        |c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |j AS (SELECT coalesce(c.source, w.source) AS source,
        |    CAST(coalesce(c.n_docs, 0) AS BIGINT) AS n_docs,
        |    CAST(coalesce(w.weight, 0) AS BIGINT) AS weight
        |  FROM c FULL OUTER JOIN w ON c.source = w.source)
        |SELECT source, n_docs, weight,
        |  (weight * 100) // 100 AS need,
        |  LEAST((weight * 100) // 100, n_docs) AS take,
        |  CASE WHEN n_docs > 0
        |    THEN CAST(LEAST((weight * 100) // 100, n_docs) AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    ELSE 0.0 END AS rate,
        |  (weight * 100) // 100 - LEAST((weight * 100) // 100, n_docs) AS deficit
        |FROM j ORDER BY source""".stripMargin),
    RowDef("corpus_diversity", { (s, dir) =>
      // slice-balance metrics per language: exact-rational Gini
      // impurity and floor-log2-quantized entropy of the source mix —
      // the no-libm integer forms that replay bit-identically
      graft.operators.Corpus.diversity(t(s, dir, "documents"),
          Seq("lang"), "source")
        .orderBy("lang")
    }, oracle =
      """WITH c AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source),
        |g AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n, count(*) AS n_categories,
        |    CAST(SUM(c * c) AS BIGINT) AS s2,
        |    CAST(SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS cl
        |  FROM c GROUP BY lang)
        |SELECT lang, n, n_categories,
        |  CAST(n * n - s2 AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini,
        |  n * (length(bin(n)) - 1) - cl AS entropy_qbits
        |FROM g ORDER BY lang""".stripMargin),
    RowDef("text_stats", { (s, dir) =>
      import TextFunctions._
      t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        meanTokenLen(col("text")).as("mean_token_len"),
        alphaRatio(col("text")).as("alpha_ratio"),
        qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS ts FROM documents)
         |SELECT doc_id,
         |  CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextFunctions.BpeTokenPattern.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / CAST(CAST(len(ts) AS BIGINT) AS DOUBLE) AS mean_token_len,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio,
         |  $sqlQuality AS quality
         |FROM t ORDER BY doc_id""".stripMargin),
    RowDef("text_langid", { (s, dir) =>
      import TextFunctions._
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, lang, $sqlTokens AS ts FROM documents),
         |s AS (SELECT doc_id, lang,
         |  $stopSql
         |FROM t)
         |SELECT doc_id, lang, $langCase AS lang_pred FROM s ORDER BY doc_id""".stripMargin),
    RowDef("text_quantiles", { (s, dir) =>
      import TextFunctions._
      // per-language doc-length distribution (exact interpolated
      // percentiles; corpus filtering is usually "drop below p05 / above
      // p95"). round(6) absorbs sub-ulp interpolation-formula differences
      // between engines.
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          round(percentile(tokenCount(col("text")), lit(0.5)), 6).as("p50"),
          round(percentile(tokenCount(col("text")), lit(0.95)), 6).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("lang")
    }, oracle =
      s"""WITH t AS (SELECT lang, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents)
         |SELECT lang,
         |  ROUND(quantile_cont(n_tokens, 0.5), 6) AS p50,
         |  ROUND(quantile_cont(n_tokens, 0.95), 6) AS p95,
         |  COUNT(*) AS n
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    RowDef("text_topngrams", { (s, dir) =>
      // corpus-wide top-k bigrams by DOCUMENT frequency (distinct per
      // doc — the native single-pass kernel): explode → partial/final
      // count agg → TakeOrderedAndProject (never a global sort of the
      // ngram space). The interpreted HOF shingle form costs ~6× more
      // here (transform+concat_ws+slice per bigram outside codegen).
      t(s, dir, "documents")
        .select(explode(graft.plans.ShingleArray(col("text"), 2)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("ngram"))
        .limit(20)
    }, oracle =
      s"""WITH t AS (SELECT $sqlTokens AS ts FROM documents),
         |s AS (SELECT unnest(${sqlShingles(2)}) AS ngram FROM t)
         |SELECT ngram, COUNT(*) AS n_docs FROM s
         |GROUP BY ngram ORDER BY n_docs DESC, ngram LIMIT 20""".stripMargin),
    RowDef("text_zipf", { (s, dir) =>
      // corpus-law audit: Zipf slope of the top-256 token frequencies —
      // least squares of ilog2(count) on ilog2(rank), every sum exact
      // int64 so the rational slope (then ONE double division) replays
      // bit-identically; the rank window runs over the AGGREGATED
      // vocabulary top slice only, never the corpus
      import org.apache.spark.sql.expressions.Window
      def il(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast(LongType)
      val counts = t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(256)
      val ranked = counts
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("tok"))).cast(LongType))
        .select(il(col("rank")).as("x"), il(col("n")).as("y"))
      ranked.agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("k"),
          (col("k") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
          ((col("k") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (col("k") * col("sxx") - col("sx") * col("sx"))).as("slope"))
    }, oracle =
      s"""WITH t AS (SELECT $sqlTokens AS ts FROM documents),
         |c AS (SELECT tok, COUNT(*) AS n FROM (SELECT unnest(ts) AS tok FROM t)
         |  GROUP BY 1 ORDER BY n DESC, tok LIMIT 256),
         |r AS (SELECT length(bin(row_number() OVER (ORDER BY n DESC, tok))) - 1 AS x,
         |    length(bin(n)) - 1 AS y FROM c),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx FROM r)
         |SELECT k, CAST(k * sxy - sx * sy AS BIGINT) AS slope_num,
         |  CAST(k * sxx - sx * sx AS BIGINT) AS slope_den,
         |  CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx) AS slope
         |FROM a""".stripMargin),
    RowDef("text_heaps", { (s, dir) =>
      // Heaps'-law audit (text_zipf's growth-curve sibling): cumulative
      // vocabulary V vs cumulative token count n over 16 doc-id-ordered
      // corpus prefixes, slope of ilog2(V) on ilog2(n) by the same
      // exact-integer least squares. New-vocab attribution is each
      // token's FIRST bucket (min over doc ids) — one token scan, two
      // bounded aggregates, windows over the 16-row curve only
      import org.apache.spark.sql.expressions.Window
      def il(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast(LongType)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      val bounds = toks.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      // NOTE (r18, negative result kept for the record): materializing
      // a shared (tok, bucket) count table + the 16-row curve via
      // a local checkpoint to de-duplicate the in-plan subtrees was tried
      // and REVERTED — interleaved A/B measured it 2.05x SLOWER at
      // sf0.1 (0.61 -> 1.25 s, jobs 10 -> 15): the two eager
      // materialization barriers cost more than the duplicated 0.6 MB
      // corpus subtree they saved, and runtime ReuseExchange already
      // dedupes the identical halves. The duplication is a logical-
      // plan-size concern only at this corpus size.
      val eb = toks.crossJoin(broadcast(bounds))
        .select(expr("((doc_id - lo) * 16) div (hi - lo + 1)").as("b"), col("tok"))
      val tc = eb.groupBy("b").agg(count(lit(1)).as("nt"))
      val vc = eb.groupBy("tok").agg(min("b").as("b"))
        .groupBy("b").agg(count(lit(1)).as("nv"))
      val w = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = tc.join(vc, Seq("b"), "left_outer")
        .select(col("b"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
        .select(col("b"), sum(col("nt")).over(w).as("tokens_cum"),
          sum(col("nv")).over(w).as("vocab_cum"))
      val ls = cum
        .select(il(col("tokens_cum")).as("x"), il(col("vocab_cum")).as("y"))
        .agg(count(lit(1)).as("k"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select((col("k") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      cum.crossJoin(broadcast(ls))
        .select(col("b"), col("tokens_cum"), col("vocab_cum"),
          col("slope_num"), col("slope_den"),
          (col("slope_num").cast(DoubleType) / col("slope_den")).as("slope"))
        .orderBy("b")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |e AS (SELECT doc_id, unnest(ts) AS tok FROM t),
         |bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM e),
         |eb AS (SELECT ((doc_id - lo) * 16) // (hi - lo + 1) AS b, tok FROM e, bounds),
         |tc AS (SELECT b, COUNT(*) AS nt FROM eb GROUP BY b),
         |fv AS (SELECT tok, MIN(b) AS fb FROM eb GROUP BY tok),
         |vc AS (SELECT fb AS b, COUNT(*) AS nv FROM fv GROUP BY fb),
         |cum AS (SELECT tc.b,
         |    CAST(SUM(nt) OVER (ORDER BY tc.b) AS BIGINT) AS tokens_cum,
         |    CAST(SUM(COALESCE(nv, 0)) OVER (ORDER BY tc.b) AS BIGINT) AS vocab_cum
         |  FROM tc LEFT JOIN vc ON tc.b = vc.b),
         |xy AS (SELECT length(bin(tokens_cum)) - 1 AS x,
         |    length(bin(vocab_cum)) - 1 AS y FROM cum),
         |ls AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx FROM xy)
         |SELECT CAST(b AS BIGINT) AS b, tokens_cum, vocab_cum,
         |  CAST(k * sxy - sx * sy AS BIGINT) AS slope_num,
         |  CAST(k * sxx - sx * sx AS BIGINT) AS slope_den,
         |  CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx) AS slope
         |FROM cum, ls ORDER BY b""".stripMargin),
    RowDef("text_domains", { (s, dir) =>
      import TextFunctions._
      // per-domain doc counts — the fixture text carries no URLs, so the
      // query splices a deterministic URL per doc into its text (the
      // synthesize→decode recipe of the mm_* queries); BOTH engines then
      // run their own regex extraction + normalization over the noisy
      // text. Explode → partial/final count, one tiny shuffle.
      t(s, dir, "documents")
        .select(explode(extractDomains(noisyUrlText)).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n_docs"))
        .orderBy("domain")
    }, oracle =
      s"""WITH n AS (SELECT doc_id, $sqlNoisyUrl AS t2 FROM documents),
         |d AS (SELECT unnest($sqlDomains) AS domain FROM n)
         |SELECT domain, COUNT(*) AS n_docs FROM d
         |GROUP BY domain ORDER BY domain""".stripMargin),
    RowDef("text_blocklist", { (s, dir) =>
      import TextFunctions._
      // domain blocklist filter over the same synthesized noisy text:
      // per-row array overlap against the literal blocklist — no shuffle
      t(s, dir, "documents").withColumn("text", noisyUrlText)
        .transform(filterBlockedDomains(_, BlockedDomains))
        .select("doc_id").orderBy("doc_id")
    }, oracle =
      s"""WITH n AS (SELECT doc_id, $sqlNoisyUrl AS t2 FROM documents)
         |SELECT doc_id FROM n
         |WHERE len(list_intersect($sqlDomains,
         |  [${BlockedDomains.map(d => s"'$d'").mkString(", ")}])) = 0
         |ORDER BY doc_id""".stripMargin),
    RowDef("text_blocklist_join", { (s, dir) =>
      import TextFunctions._
      // the same filter with the blocklist as a TABLE (the
      // million-row-blocklist form): explode → broadcast semi join →
      // anti join on the doc key. Oracle replays it as a NOT IN
      // anti-join — same keep set as text_blocklist.
      import s.implicits._
      val bl = BlockedDomains.toDF("domain")
      t(s, dir, "documents").withColumn("text", noisyUrlText)
        .transform(filterBlockedDomains(_, bl))
        .select("doc_id").orderBy("doc_id")
    }, oracle =
      s"""WITH n AS (SELECT doc_id, $sqlNoisyUrl AS t2 FROM documents),
         |bl AS (SELECT unnest([${BlockedDomains.map(d => s"'$d'").mkString(", ")}]) AS domain),
         |d AS (SELECT doc_id, unnest($sqlDomains) AS domain FROM n)
         |SELECT doc_id FROM n
         |WHERE doc_id NOT IN (SELECT d.doc_id FROM d JOIN bl USING (domain))
         |ORDER BY doc_id""".stripMargin),
    RowDef("text_filter_quantile", { (s, dir) =>
      import TextFunctions._
      // the filtering step text_quantiles informs: keep docs inside the
      // per-language [p05, p95] length band. percent_rank (= exact
      // (rank-1)/(n-1) rational) makes the band edge engine-deterministic
      // where an interpolated-quantile threshold comparison would not be.
      // Computed by VALUE COUNTING (Quantile.percentRankBand): the only
      // window runs over each language's distinct token counts (value
      // domain, constant in corpus size), and the tiny (lang, value, pr)
      // table broadcasts back — no per-language corpus sort. Replaces
      // the rounds-3..7 weak-for-scale percent_rank window with the SAME
      // exact semantics (parity-tested in CurationSpec).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"))
      Quantile.percentRankBand(docs, "lang", "n_tokens", 0.05, 0.95)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, lang, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
         |r AS (SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY n_tokens) AS pr FROM t)
         |SELECT doc_id, lang, n_tokens FROM r
         |WHERE pr >= 0.05 AND pr <= 0.95 ORDER BY doc_id""".stripMargin),
    RowDef("text_filter_thresholds", { (s, dir) =>
      import TextFunctions._
      // the SCALE-SAFE formulation of the same band filter: per-language
      // p05/p95 thresholds from a tiny percentile AGGREGATE (partial/
      // final, shuffles |langs| rows) broadcast back as a filter — no
      // per-language window, so the dominant language of a real corpus
      // never funnels through one task's sort. round(6) on both engines
      // absorbs sub-ulp interpolation differences; thresholds are exact-
      // math rationals far coarser than 1e-6, so rounding is stable.
      // Band-edge semantics differ from percent_rank by at most the
      // interpolated endpoints — text_filter_quantile remains the exact-
      // band reference.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"))
      val th = docs.groupBy(col("lang")).agg(
        round(percentile(col("n_tokens"), lit(0.05)), 6).as("lo"),
        round(percentile(col("n_tokens"), lit(0.95)), 6).as("hi"))
      docs.join(broadcast(th), Seq("lang"))
        .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
        .select("doc_id", "lang", "n_tokens")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, lang, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
         |th AS (SELECT lang, ROUND(quantile_cont(n_tokens, 0.05), 6) AS lo,
         |  ROUND(quantile_cont(n_tokens, 0.95), 6) AS hi FROM t GROUP BY lang)
         |SELECT t.doc_id, t.lang, t.n_tokens FROM t JOIN th ON t.lang = th.lang
         |WHERE t.n_tokens >= th.lo AND t.n_tokens <= th.hi
         |ORDER BY doc_id""".stripMargin),
    RowDef("text_chunks", { (s, dir) =>
      // overlapping context-window chunking (window 32, stride 16):
      // narrow generate-side op, no shuffle — output ~2× corpus tokens
      Pack.chunkTokens(t(s, dir, "documents"), window = 32, stride = 16)
        .orderBy("doc_id", "chunk_idx")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |c AS (SELECT doc_id, ts, unnest(range(0, len(ts), 16)) AS tok_start FROM t)
         |SELECT doc_id, tok_start // 16 AS chunk_idx, tok_start,
         |  CAST(len(list_slice(ts, tok_start + 1, tok_start + 32)) AS BIGINT) AS n_tokens,
         |  array_to_string(list_slice(ts, tok_start + 1, tok_start + 32), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    RowDef("text_repetition", { (s, dir) =>
      import TextFunctions._
      // Gopher-style repeated-content signals, one native pass per row
      t(s, dir, "documents")
        .select(col("doc_id"), repetitionStats(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
          col("r.dup_token_frac").as("dup_token_frac"),
          col("r.top_bigram_frac").as("top_bigram_frac"),
          col("r.dup_bigram_frac").as("dup_bigram_frac"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |b AS (SELECT doc_id, ts,
         |  list_transform(range(1, greatest(len(ts)-1,0)+1), i -> ts[i] || ' ' || ts[i+1]) AS bg
         |FROM t)
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(ts) - len(list_distinct(ts)) AS DOUBLE) / len(ts) AS dup_token_frac,
         |  CASE WHEN len(bg) = 0 THEN 0.0
         |       ELSE CAST(list_max(list_transform(bg, x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)
         |  END AS top_bigram_frac,
         |  CASE WHEN len(bg) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(bg, x -> len(list_filter(bg, y -> y = x)) > 1)) AS DOUBLE) / len(bg)
         |  END AS dup_bigram_frac
         |FROM b ORDER BY doc_id""".stripMargin),
    RowDef("text_fingerprint", { (s, dir) =>
      import TextFunctions._
      t(s, dir, "documents").select(
        col("doc_id"),
        fingerprintMd5(col("text")).as("fp_md5"),
        fingerprintRolling(col("text")).as("fp_roll"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, text,
         |  list_transform($sqlTokens, tk -> ${sqlHash("tk")}) AS hs FROM documents)
         |SELECT doc_id,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
         |  CAST(list_sum(list_transform(range(1, len(hs)+1), i -> hs[i] * ($rollW)[(i-1)%8 + 1])) % ${TextFunctions.RollP} AS BIGINT) AS fp_roll
         |FROM t ORDER BY doc_id""".stripMargin),
    RowDef("text_url_canon", { (s, dir) =>
      // URL canonicalization for crawl dedup: synthesize messy per-doc
      // URL variants (case, www., query, fragment, trailing slash all
      // cycling on doc_id), canonicalize, and count docs per canonical
      // key — variants of the same page must collapse to one key
      val docs = t(s, dir, "documents")
      val messy = concat(
        when(col("doc_id") % 2 === 0, "HTTP://").otherwise("http://"),
        when(col("doc_id") % 3 === 0, "WWW.").otherwise(""),
        lit("site"), (col("doc_id") % 25).cast(StringType), lit(".example.com/p/"),
        (col("doc_id") % 50).cast(StringType),
        when(col("doc_id") % 5 === 0, "/").otherwise(""),
        when(col("doc_id") % 7 === 0, "?utm_source=feed&ref=x").otherwise(""),
        when(col("doc_id") % 11 === 0, "#frag").otherwise(""))
      docs.select(col("doc_id"), TextFunctions.canonicalUrlKey(messy).as("canon"))
        .groupBy("canon").agg(count(lit(1)).as("n"))
        .orderBy("canon")
    }, oracle = {
      val messy =
        """(CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END ||
          | CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
          | 'site' || CAST(doc_id % 25 AS VARCHAR) || '.example.com/p/' ||
          | CAST(doc_id % 50 AS VARCHAR) ||
          | CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
          | CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed&ref=x' ELSE '' END ||
          | CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END)""".stripMargin.replace("\n", "")
      val canon = TextFunctions.UrlCanonPatterns.foldLeft(s"lower($messy)") {
        // DuckDB standard strings keep backslashes verbatim — do NOT
        // double them (same convention as sqlTokens' '\s+')
        case (acc, (re, repl)) =>
          s"regexp_replace($acc, '${re.replace("'", "''")}', '$repl', 'g')"
      }
      s"""SELECT $canon AS canon, COUNT(*) AS n FROM documents
         |GROUP BY 1 ORDER BY canon""".stripMargin
    }),
    RowDef("text_winsorize", { (s, dir) =>
      // clip per-language token counts to the [p05, p95] band edges —
      // percentRankBand's keep-the-row sibling; same value-counting
      // ranks, oracle uses DuckDB's NATIVE percent_rank window (an
      // independent formulation of the same rational)
      import TextFunctions._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"))
      Quantile.winsorize(docs, "lang", "n_tokens", 0.05, 0.95)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, lang, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
         |r AS (SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY n_tokens) AS pr FROM t),
         |e AS (SELECT lang,
         |  COALESCE(MIN(CASE WHEN pr >= 0.05 THEN n_tokens END), MIN(n_tokens)) AS lov,
         |  COALESCE(MAX(CASE WHEN pr <= 0.95 THEN n_tokens END), MAX(n_tokens)) AS hiv
         |  FROM r GROUP BY lang)
         |SELECT t.doc_id, t.lang, t.n_tokens,
         |  LEAST(GREATEST(t.n_tokens, e.lov), e.hiv) AS winsorized
         |FROM t JOIN e ON t.lang = e.lang ORDER BY doc_id""".stripMargin),
    RowDef("text_strip_html", { (s, dir) =>
      // HTML boilerplate removal over synthesized markup (same
      // synthesize-inputs recipe as the mm_* roundtrips: the fixture
      // carries no HTML, so deterministic markup is wrapped around each
      // doc and BOTH engines strip it with the same pattern chain)
      val docs = t(s, dir, "documents")
      val wrapped = concat(
        lit("<html><head><style>p{color:red}</style></head><body><h1 class=\"t\">Doc "),
        col("doc_id").cast(StringType),
        lit("</h1><p>"), col("text"),
        lit("</p><p>A &amp; B &lt;ok&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>"),
        lit("<script>var x = 1 < 2;</script><!-- hidden --></body></html>"))
      docs.select(col("doc_id"), TextFunctions.stripMarkup(wrapped).as("clean"))
        .orderBy("doc_id")
    }, oracle = {
      // the same MarkupPatterns chain, generated with DuckDB's
      // explicit 'g' flag (Spark's regexp_replace is replace-all by
      // default; RE2 and Java agree on the inline (?is) flags)
      val wrapped =
        """'<html><head><style>p{color:red}</style></head><body><h1 class="t">Doc ' || CAST(doc_id AS VARCHAR)""" +
          """ || '</h1><p>' || text || '</p><p>A &amp; B &lt;ok&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>'""" +
          """ || '<script>var x = 1 < 2;</script><!-- hidden --></body></html>'"""
      val chain = TextFunctions.MarkupPatterns.foldLeft(wrapped) { case (acc, (re, repl)) =>
        s"regexp_replace($acc, '${re.replace("'", "''")}', '${repl.replace("'", "''")}', 'g')"
      }
      s"""SELECT doc_id, TRIM(regexp_replace($chain, '\\s+', ' ', 'g')) AS clean
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    RowDef("text_tfidf", { (s, dir) =>
      // per-doc distinctive terms: tf/df score (exact IEEE division, no
      // ln — see tfidfTopK), bounded top-3 per doc via TopKByScore
      TextFunctions.tfidfTopK(t(s, dir, "documents"), col("text"), k = 3)
        .orderBy("doc_id", "rank")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |tok AS (SELECT doc_id, unnest(ts) AS token FROM t),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
         |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
         |s AS (SELECT tf.doc_id, tf.token, CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
         |  FROM tf JOIN df USING (token)),
         |r AS (SELECT doc_id, token, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank FROM s)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, score FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    RowDef("text_tfidf_witness", { (s, dir) =>
      // NON-REPLAY witness for text_tfidf (VERDICT r16 #6): a planted
      // 4-document corpus whose tf/df scores are closed-form dyadic
      // literals — the oracle states them with NO tokenization, no
      // tf, no df, no ranking anywhere (text_tfidf's own oracle
      // replays the formulation). Corpus (docs = documents 1..4,
      // present at every sf; text overridden in-plan):
      //   1: "aa aa aa bb"  2: "aa bb bb cc"
      //   3: "cc dd"        4: "dd dd ee ff"
      // df: aa=2 bb=2 cc=2 dd=2 ee=1 ff=1. Scores tf/df (all exact
      // dyadic): doc1 aa=1.5 bb=0.5; doc2 bb=1.0, aa=cc=0.5 (tie →
      // token asc: aa ranks 2, cc ranks 3); doc3 cc=dd=0.5 (tie →
      // cc, dd); doc4 dd=ee=ff=1.0 (tie → dd, ee, ff). Kills a tf/df
      // inversion, a ranking or tie-order bug, or a tokenizer
      // regression that the replaying oracle would follow.
      val planted = t(s, dir, "documents")
        .filter(col("doc_id").between(1, 4))
        .select(col("doc_id"),
          when(col("doc_id") === 1, "aa aa aa bb")
            .when(col("doc_id") === 2, "aa bb bb cc")
            .when(col("doc_id") === 3, "cc dd")
            .otherwise("dd dd ee ff").as("text"))
      TextFunctions.tfidfTopK(planted, col("text"), k = 3)
        .crossJoin(broadcast(planted.agg(count(lit(1)).as("n_docs"))))
        .orderBy("doc_id", "rank")
    }, oracle =
      // planted-corpus witness: scores are dyadic LITERALS — no
      // tokenization, tf, df, or ranking anywhere in the oracle; the
      // only data work is counting the 4 planted documents
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE doc_id BETWEEN 1 AND 4)
        |SELECT v.doc_id, v.rank, v.token, v.score, n.n_docs
        |FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'aa', CAST(1.5 AS DOUBLE)),
        |  (1, 2, 'bb', 0.5),
        |  (2, 1, 'bb', 1.0), (2, 2, 'aa', 0.5), (2, 3, 'cc', 0.5),
        |  (3, 1, 'cc', 0.5), (3, 2, 'dd', 0.5),
        |  (4, 1, 'dd', 1.0), (4, 2, 'ee', 1.0), (4, 3, 'ff', 1.0))
        |  AS v(doc_id, rank, token, score)
        |CROSS JOIN n ORDER BY v.doc_id, v.rank""".stripMargin),
    RowDef("text_bpe_encode", { (s, dir) =>
      // BPE inference: train the merge table on the EVEN half, encode
      // the held-out ODD half by replaying the merges in order — the
      // tokenize-the-next-dump step once a vocabulary is frozen. The
      // encode chain is a shuffle-free projection (merge table rides
      // as literals); the oracle replays training AND the held-out
      // fold rounds in SQL
      val docs = t(s, dir, "documents")
      val (merges, _) = graft.functions.Bpe.train(
        docs.filter(col("doc_id") % 2 === 0), col("text"), rounds = 5)
      graft.functions.Bpe.encode(
          docs.filter(col("doc_id") % 2 === 1), col("text"), merges)
        .select(col("doc_id"), size(col("ts")).cast(LongType).as("n_tokens"),
          size(filter(col("ts"), x => x.contains("\u0002"))).cast(LongType)
            .as("n_merged"))
        .orderBy("doc_id")
    }, oracle =
      // BPE training replay, 5 rounds unrolled. The greedy merge fold
      // is an INDEPENDENT formulation: list_reduce with the pending
      // token carried in a chr(1)-delimited string accumulator
      // (DuckDB's reduce is homogeneous), vs the engine's typed
      // struct-accumulator aggregate — only the SPEC (pair choice
      // order, greedy left-to-right semantics, chr(2) joiner) is shared
      {
        val rounds = 5
        def fold(p: String) =
          s"""list_reduce(list_prepend(chr(1), ts), (acc, x) -> CASE
             | WHEN split_part(acc, chr(1), 2) = $p.a AND x = $p.b THEN split_part(acc, chr(1), 1) || ' ' || $p.m || chr(1)
             | WHEN split_part(acc, chr(1), 2) = '' THEN split_part(acc, chr(1), 1) || chr(1) || x
             | ELSE split_part(acc, chr(1), 1) || ' ' || split_part(acc, chr(1), 2) || chr(1) || x END)""".stripMargin
        def toList(s: String) =
          s"string_split(trim(CASE WHEN split_part($s, chr(1), 2) = '' THEN split_part($s, chr(1), 1) ELSE split_part($s, chr(1), 1) || ' ' || split_part($s, chr(1), 2) END), ' ')"
        val trainCtes = (1 to rounds).map { r =>
          val prev = s"d${r - 1}"
          s"""pc$r AS (SELECT ts[i] AS a, ts[i+1] AS b, COUNT(*) AS c
             |  FROM (SELECT unnest(range(1, len(ts))) AS i, ts FROM $prev) GROUP BY 1, 2),
             |p$r AS (SELECT a, b, a || chr(2) || b AS m, c FROM pc$r ORDER BY c DESC, a, b LIMIT 1),
             |d$r AS (SELECT doc_id, ${toList(fold(s"p$r"))} AS ts FROM $prev, p$r)""".stripMargin
        }.mkString(",\n")
        val encCtes = (1 to rounds).map { r =>
          s"o$r AS (SELECT doc_id, ${toList(fold(s"p$r"))} AS ts FROM o${r - 1}, p$r)"
        }.mkString(",\n")
        s"""WITH d0 AS (SELECT doc_id, $sqlTokens AS ts FROM documents WHERE doc_id % 2 = 0),
           |o0 AS (SELECT doc_id, $sqlTokens AS ts FROM documents WHERE doc_id % 2 = 1),
           |$trainCtes,
           |$encCtes
           |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter(ts, x -> contains(x, chr(2)))) AS BIGINT) AS n_merged
           |FROM o$rounds ORDER BY doc_id""".stripMargin
      }),
    RowDef("text_bpe", { (s, dir) =>
      // BPE vocabulary training in-engine: 5 merge rounds over the
      // corpus, each = one pair-count aggregate + driver-side top-1 +
      // codegen'd greedy fold rewrite (checkpointed with retirement
      // lag). Output = the trained merge table; the oracle replays all
      // five rounds unrolled with an independent string-encoded fold
      import s.implicits._
      val (merges, _) = graft.functions.Bpe.train(
        t(s, dir, "documents"), col("text"), rounds = 5)
      merges.toDF().orderBy("round")
    }, oracle = {
      val rounds = 5
      def fold(p: String) =
        s"""list_reduce(list_prepend(chr(1), ts), (acc, x) -> CASE
           | WHEN split_part(acc, chr(1), 2) = $p.a AND x = $p.b THEN split_part(acc, chr(1), 1) || ' ' || $p.m || chr(1)
           | WHEN split_part(acc, chr(1), 2) = '' THEN split_part(acc, chr(1), 1) || chr(1) || x
           | ELSE split_part(acc, chr(1), 1) || ' ' || split_part(acc, chr(1), 2) || chr(1) || x END)""".stripMargin
      def toList(s: String) =
        s"string_split(trim(CASE WHEN split_part($s, chr(1), 2) = '' THEN split_part($s, chr(1), 1) ELSE split_part($s, chr(1), 1) || ' ' || split_part($s, chr(1), 2) END), ' ')"
      val ctes = (1 to rounds).map { r =>
        val prev = s"d${r - 1}"
        val rewrite =
          if (r < rounds)
            s""",
               |d$r AS (SELECT doc_id, ${toList(fold(s"p$r"))} AS ts FROM $prev, p$r)""".stripMargin
          else ""
        s"""pc$r AS (SELECT ts[i] AS a, ts[i+1] AS b, COUNT(*) AS c
           |  FROM (SELECT unnest(range(1, len(ts))) AS i, ts FROM $prev) GROUP BY 1, 2),
           |p$r AS (SELECT a, b, a || chr(2) || b AS m, c FROM pc$r ORDER BY c DESC, a, b LIMIT 1)$rewrite""".stripMargin
      }.mkString(",\n")
      val sel = (1 to rounds).map { r =>
        if (r == 1) s"SELECT 1 AS round, a AS lhs, b AS rhs, CAST(c AS BIGINT) AS pair_count FROM p1"
        else s"SELECT $r, a, b, CAST(c AS BIGINT) FROM p$r"
      }.mkString("\nUNION ALL ")
      s"""WITH d0 AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |$ctes
         |$sel
         |ORDER BY round""".stripMargin
    }),
    RowDef("text_bpe_roundtrip", { (s, dir) =>
      // NON-REPLAY BPE witness: decode∘encode is the identity on
      // held-out text (expanding the \\u0002 joiner restores the
      // whitespace-normalized document), and re-encoding the decoded
      // text reproduces the token stream bit-for-bit. The oracle pins
      // both booleans TRUE without running any BPE — a merge kernel
      // that drops, duplicates, or reorders tokens fails here with no
      // shared formulation to hide behind (the text_bpe oracle, while
      // an independent fold encoding, still replays the algorithm).
      val docs = t(s, dir, "documents")
      val (merges, _) = graft.functions.Bpe.train(
        docs.filter(col("doc_id") % 2 === 0), col("text"), rounds = 5)
      val held = docs.filter(col("doc_id") % 2 === 1)
      val enc1 = graft.functions.Bpe.encode(held, col("text"), merges)
      val decoded = enc1.select(col("doc_id"),
        concat_ws(" ", transform(col("ts"),
          x => translate(x, "\u0002", " "))).as("text"))
      val enc2 = graft.functions.Bpe.encode(decoded, col("text"), merges)
      val norm = held.select(col("doc_id"),
        concat_ws(" ", graft.functions.TextFunctions.tokens(col("text"))).as("_orig"))
      enc1.select(col("doc_id"), col("ts").as("_t1"))
        .join(enc2.select(col("doc_id"), col("ts").as("_t2")), "doc_id")
        .join(decoded.select(col("doc_id"), col("text").as("_dec")), "doc_id")
        .join(norm, "doc_id")
        .select(col("doc_id"),
          (col("_dec") === col("_orig")).as("roundtrip_ok"),
          (col("_t1") === col("_t2")).as("stable"))
        .orderBy("doc_id")
    }, oracle =
      // the encode/decode round-trip witness asserts identities the
      // engine must earn, so the oracle carries NO BPE at all
      """SELECT doc_id, true AS roundtrip_ok, true AS stable
        |FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin),
    RowDef("text_bm25", { (s, dir) =>
      // BM25 ranking for a fixed 3-term query: rational idf (no ln —
      // same cross-engine-exactness rule as text_tfidf), doc-length
      // normalization, fixed-order term sum; global top-20 rides
      // TakeOrdered, bounded like every top-k here
      TextFunctions.bm25Scores(t(s, dir, "documents"), col("text"),
          Seq("spark", "merge", "window"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
    }, oracle =
      // BM25 replay: same rational idf, same literal constants, same
      // left-to-right expression tree and fixed-order pivot sum — every
      // double op is identical, so scores are bit-exact
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |tok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, unnest(ts) AS token FROM t),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(len(ts)) AS BIGINT) AS sumdl FROM t),
         |tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok
         |  WHERE token IN ('spark','merge','window') GROUP BY doc_id, dl, token),
         |dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
         |  WHERE token IN ('spark','merge','window') GROUP BY token),
         |sc AS (SELECT tf.doc_id, tf.token,
         |  (CAST(2*st.n - 2*dfq.df + 1 AS DOUBLE) / CAST(2*dfq.df + 1 AS DOUBLE)) *
         |  ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
         |    (CAST(tf.dl AS DOUBLE) / (CAST(st.sumdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS s
         |  FROM tf, dfq, st WHERE dfq.token = tf.token),
         |p AS (SELECT doc_id,
         |  coalesce(MAX(CASE WHEN token = 'spark' THEN s END), 0.0)
         |  + coalesce(MAX(CASE WHEN token = 'merge' THEN s END), 0.0)
         |  + coalesce(MAX(CASE WHEN token = 'window' THEN s END), 0.0) AS score
         |  FROM sc GROUP BY doc_id)
         |SELECT doc_id, score FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    RowDef("text_eval_rank", { (s, dir) =>
      // retrieval-eval: nDCG@10 + first-relevant-rank per query term,
      // grading the single-term BM25 ranking against tf-derived labels
      // (integer DCG via the shared 2^20/log2 weight table — a spec
      // constant, never a per-engine libm log); both actual and ideal
      // top-10 ride the bounded TopKByScore aggregate
      TextFunctions.evalRanking(t(s, dir, "documents"), col("text"),
          Seq("spark", "merge", "window"), k = 10)
        .orderBy("term")
    }, oracle =
      // ranking-eval replay: same per-term bm25 chain with tf kept,
      // same tf-threshold labels, the SAME integer weight table
      // (ndcgWeights — shared spec constant), row_number ranks with
      // identical tie order
      {
        val w = graft.functions.TextFunctions.ndcgWeights(10).mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |tok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, unnest(ts) AS token FROM t),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(len(ts)) AS BIGINT) AS sumdl FROM t),
           |tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok
           |  WHERE token IN ('spark','merge','window') GROUP BY doc_id, dl, token),
           |dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
           |  WHERE token IN ('spark','merge','window') GROUP BY token),
           |cand AS (SELECT tf.doc_id, tf.token AS term, tf.tf,
           |  (CAST(2*st.n - 2*dfq.df + 1 AS DOUBLE) / CAST(2*dfq.df + 1 AS DOUBLE)) *
           |  ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
           |    (CAST(tf.dl AS DOUBLE) / (CAST(st.sumdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS s,
           |  CASE WHEN tf.tf >= 3 THEN 2 ELSE 1 END AS rel,
           |  CASE WHEN tf.tf >= 3 THEN 3 ELSE 1 END AS gain
           |  FROM tf, dfq, st WHERE dfq.token = tf.token),
           |act AS (SELECT term, gain, rel,
           |    row_number() OVER (PARTITION BY term ORDER BY s DESC, doc_id) AS rank FROM cand),
           |ide AS (SELECT term, gain,
           |    row_number() OVER (PARTITION BY term ORDER BY rel DESC, doc_id) AS rank FROM cand),
           |d AS (SELECT term, CAST(SUM(gain * ($w)[rank]) AS BIGINT) AS dcg_q,
           |    MIN(CASE WHEN rel = 2 THEN rank END) AS best
           |  FROM act WHERE rank <= 10 GROUP BY term),
           |i AS (SELECT term, CAST(SUM(gain * ($w)[rank]) AS BIGINT) AS idcg_q
           |  FROM ide WHERE rank <= 10 GROUP BY term),
           |nc AS (SELECT term, COUNT(*) AS n_cands FROM cand GROUP BY term)
           |SELECT nc.term, nc.n_cands, d.dcg_q, i.idcg_q,
           |  CAST(d.dcg_q AS DOUBLE) / i.idcg_q AS ndcg,
           |  CAST(coalesce(d.best, -1) AS BIGINT) AS best_rank
           |FROM nc JOIN d ON nc.term = d.term JOIN i ON nc.term = i.term
           |ORDER BY nc.term""".stripMargin
      }),
    RowDef("text_rrf", { (s, dir) =>
      // hybrid-retrieval fusion: BM25 ranking (lexical) RRF-fused with
      // the quality-score ranking (a stand-in second ranker with an
      // established oracle replay); ranks from the bounded TopKByScore
      // aggregate — no global row_number window anywhere
      val docs = t(s, dir, "documents")
      val bm = TextFunctions.bm25Scores(docs, col("text"),
        Seq("spark", "merge", "window"))
      val q = docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("score"))
      Similarity.rrfFuse(bm, q, topN = 50, k = 20)
    }, oracle =
      // RRF fusion of the bm25 ranking (CTE chain above) with the
      // quality ranking (sqlQuality replay) — both ranked
      // (score desc, doc_id), fused 1/(60+rank) terms in fixed order
      s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS ts FROM documents),
         |tok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, unnest(ts) AS token FROM t),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(len(ts)) AS BIGINT) AS sumdl FROM t),
         |tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok
         |  WHERE token IN ('spark','merge','window') GROUP BY doc_id, dl, token),
         |dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
         |  WHERE token IN ('spark','merge','window') GROUP BY token),
         |sc AS (SELECT tf.doc_id, tf.token,
         |  (CAST(2*st.n - 2*dfq.df + 1 AS DOUBLE) / CAST(2*dfq.df + 1 AS DOUBLE)) *
         |  ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
         |    (CAST(tf.dl AS DOUBLE) / (CAST(st.sumdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS s
         |  FROM tf, dfq, st WHERE dfq.token = tf.token),
         |p AS (SELECT doc_id,
         |  coalesce(MAX(CASE WHEN token = 'spark' THEN s END), 0.0)
         |  + coalesce(MAX(CASE WHEN token = 'merge' THEN s END), 0.0)
         |  + coalesce(MAX(CASE WHEN token = 'window' THEN s END), 0.0) AS score
         |  FROM sc GROUP BY doc_id),
         |ra AS (SELECT doc_id, rank_a FROM (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a FROM p)
         |  WHERE rank_a <= 50),
         |q AS (SELECT doc_id, $sqlQuality AS score FROM t),
         |rb AS (SELECT doc_id, rank_b FROM (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank_b FROM q)
         |  WHERE rank_b <= 50)
         |SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         |  coalesce(1.0 / (60 + rank_a), 0.0) + coalesce(1.0 / (60 + rank_b), 0.0) AS rrf,
         |  rank_a, rank_b
         |FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),
    RowDef("text_encode", { (s, dir) =>
      // frequency-vocabulary token encoding: top-100 tokens by corpus
      // count (total order: count desc, token asc) become ids 1..100,
      // documents encode to (doc_id, pos, token_id) rows via one
      // broadcast join, OOV → 0 — the tokenizer-to-ids step before
      // sequence packing
      val docs = t(s, dir, "documents")
      val vocab = TextFunctions.buildVocab(docs, col("text"), 100)
      TextFunctions.encodeTokens(docs, col("text"), vocab)
        .orderBy("doc_id", "pos")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |c2 AS (SELECT token, COUNT(*) AS c FROM (SELECT unnest(ts) AS token FROM t) GROUP BY token),
         |vocab AS (SELECT token, row_number() OVER (ORDER BY c DESC, token) AS id FROM c2 ORDER BY c DESC, token LIMIT 100),
         |ip AS (SELECT doc_id, unnest(ts) AS token, unnest(range(1, len(ts)+1)) AS pos FROM t)
         |SELECT ip.doc_id, CAST(ip.pos AS BIGINT) AS pos, CAST(coalesce(v.id, 0) AS BIGINT) AS token_id
         |FROM ip LEFT JOIN vocab v ON v.token = ip.token
         |ORDER BY doc_id, pos""".stripMargin),
    RowDef("pipe_curation", { (s, dir) =>
      import TextFunctions._
      import org.apache.spark.sql.expressions.Window
      // the whole curation chain, composed end-to-end: score → quality
      // filter → exact-dedup keep → deterministic stratified sample →
      // shard-local packing. Narrow ops fuse into one codegen stage; the
      // only shuffles are the dedup window (fp) and the pack window
      // (source) — the minimal set for these semantics.
      // n_tokens is computed BEFORE the fp window so the (wide) text
      // column never rides the dedup shuffle — only fixed-width columns
      // cross the exchanges
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        langId(col("text")).as("lang_pred"),
        qualityScore(col("text")).as("quality"),
        fingerprintMd5(col("text")).as("fp"),
        tokenCount(col("text")).as("n_tokens"))
      val kept = scored.filter(col("quality") >= 0.40)
        .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .filter(col("doc_id") === col("keeper"))
      val sampled = Sampling.stratified(kept, "doc_id", "lang_pred",
        rates = Map("en" -> 50), defaultPct = 30)
      Pack.packSequences(sampled, budget = 1024L, tokens = col("n_tokens"))
        .select(col("doc_id"), col("lang_pred"), col("quality"),
          col("n_tokens"), col("pack_id"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t0 AS (SELECT doc_id, source, text, $sqlTokens AS ts FROM documents),
         |sc AS (SELECT doc_id, source, text, ts,
         |  $stopSql
         |FROM t0),
         |lg AS (SELECT doc_id, source, text, ts, $langCase AS lang_pred,
         |  $sqlQuality AS quality,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |FROM sc),
         |f AS (SELECT * FROM lg WHERE quality >= 0.40),
         |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keeper FROM f),
         |sm AS (SELECT * FROM k WHERE doc_id = keeper
         |  AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 100
         |      < CASE WHEN lang_pred = 'en' THEN 50 ELSE 30 END),
         |p AS (SELECT doc_id, source, lang_pred, quality, CAST(len(ts) AS BIGINT) AS n_tokens FROM sm),
         |o AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset FROM p)
         |SELECT doc_id, lang_pred, quality, n_tokens, tok_offset // 1024 AS pack_id
         |FROM o ORDER BY doc_id""".stripMargin),
    RowDef("text_scrub", { (s, dir) =>
      import TextFunctions._
      // fixture text has no PII — inject deterministic synthetic PII so
      // the redaction path is actually exercised end-to-end
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast(StringType),
          lit("@example.com or 555-123-4567 or (555) 987-6543 or 555 111 2222 at 10.0.0."),
          (col("doc_id") % 256).cast(StringType)).as("text"))
      withPii.select(col("doc_id"), scrubPii(col("text")).as("scrubbed"))
        .orderBy("doc_id")
    }, oracle = {
      // regexp_replace chain generated from the SAME PiiPatterns
      // constants the Scala operator folds over (single-backslash RE2
      // literals — DuckDB strings don't process escapes)
      val scrubbed = TextFunctions.PiiPatterns.foldLeft("text") {
        case (c, (re, repl)) => s"regexp_replace($c, '$re', '$repl', 'g')"
      }
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR)
         |       || '@example.com or 555-123-4567 or (555) 987-6543 or 555 111 2222 at 10.0.0.'
         |       || CAST(doc_id % 256 AS VARCHAR) AS text
         |FROM documents)
         |SELECT doc_id, $scrubbed AS scrubbed
         |FROM t ORDER BY doc_id""".stripMargin
    }),
    RowDef("text_fix_encoding", { (s, dir) =>
      import TextFunctions._
      // fixtures are clean ASCII — inject a deterministic cp1252-
      // double-decoded tail on every third doc, then run the repair
      // chain + detection flag over the whole corpus (per-row literal
      // replace chain: codegen'd, shuffle-free)
      val injected = when(col("doc_id") % 3 === 0,
          concat_ws(" ", col("text"), lit(MojiSample)))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), fixMojibake(injected).as("fixed"),
          isMojibake(injected).as("was_mojibake"))
        .orderBy("doc_id")
    }, oracle = {
      // literal replace chain generated from the SAME MojibakeMap
      // constants; every non-ASCII char rides as chr(codepoint), so
      // neither source encoding nor JSON escaping can skew the bytes
      val fixed = TextFunctions.MojibakeMap.foldLeft("t.text") {
        case (c, (bad, good)) =>
          s"replace($c, ${sqlChrs(bad)}, ${sqlChrs(good)})"
      }
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN text || ' ' || ${sqlChrs(MojiSample)}
         |       ELSE text END AS text
         |FROM documents)
         |SELECT doc_id, $fixed AS fixed, $fixed <> t.text AS was_mojibake
         |FROM t ORDER BY doc_id""".stripMargin
    }),
    RowDef("text_cooccur", { (s, dir) =>
      // windowed skip-gram co-occurrence + quantized PMI (collocation
      // mining / embedding prep); frequency floor 5
      TextFunctions.cooccurrencePmi(t(s, dir, "documents"), window = 2, minCount = 5L)
        .orderBy("w1", "w2")
    }, oracle =
      // duplicated-span replay: same 5-gram instances (NON-distinct,
      // unlike the minhash shingle fragment), same 48-bit md5 hash
      // symmetric pair instances via a lateral offset table (both
      // directions), PMI as a sum of length(bin())-1 floor-logs
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |fwd AS (SELECT unnest(ts[1:len(ts)-d]) AS w1, unnest(ts[1+d:len(ts)]) AS w2
         |        FROM t, range(1, 3) AS r(d)),
         |inst AS (SELECT w1, w2 FROM fwd UNION ALL SELECT w2, w1 FROM fwd),
         |cc AS (SELECT w1, w2, COUNT(*) AS c12 FROM inst GROUP BY w1, w2),
         |marg AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS m FROM cc GROUP BY w1),
         |tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM cc)
         |SELECT cc.w1, cc.w2, cc.c12,
         |  (length(bin(cc.c12)) - 1) + (length(bin(tot.n)) - 1)
         |    - (length(bin(m1.m)) - 1) - (length(bin(m2.m)) - 1) AS pmi_q
         |FROM cc JOIN marg m1 ON m1.w1 = cc.w1
         |        JOIN marg m2 ON m2.w1 = cc.w2, tot
         |WHERE cc.c12 >= 5 AND cc.w1 <= cc.w2
         |ORDER BY cc.w1, cc.w2""".stripMargin),
    RowDef("text_lm_score", { (s, dir) =>
      // corpus-trained bigram LM quality score (CCNet perplexity-filter
      // shape) in engine-exact ilog2 quantization
      TextFunctions.lmQualityScore(t(s, dir, "documents")).orderBy("doc_id")
    }, oracle =
      // quantized log2 via length(bin(n))-1 — exact integer/string
      // arithmetic in both engines, no libm ln in the compare
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |inst AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2 FROM t),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM inst GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
         |lp AS (SELECT doc_id,
         |  (length(bin(c2.c2)) - 1) - (length(bin(c1.c1)) - 1) AS lp
         |  FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(-SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lm_bits
         |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    RowDef("pipe_contrastive", { (s, dir) =>
      // end-to-end contrastive training-pair construction: near-dup
      // pairs (minhash-LSH candidates + jaccard verify) as
      // anchor/positive, 2 seeded negatives per anchor from the
      // shuffle-position walk; a negative colliding with the positive
      // is dropped (standard pair-corruption guard)
      val docs = t(s, dir, "documents")
      val pos = Dedup.minhashPairs(docs, threshold = 0.3)
        .select(col("id_a").as("anchor"), col("id_b").as("positive"))
      val neg = Sampling.negatives(docs, "doc_id", m = 2, seed = 42L)
        .withColumnRenamed("doc_id", "anchor")
      pos.join(neg, "anchor")
        .filter(col("neg_id") =!= col("positive"))
        .orderBy("anchor", "positive", "neg_rank")
    }, oracle =
      s"""WITH ${minhashPairCtes(3, 0.3)},
         |npos AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY md5('42' || chr(1) || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS p,
         |    count(*) OVER () AS cnt
         |  FROM documents),
         |nwalk AS (SELECT doc_id, i, (p + 1 + (42 + i * 2654435761) % (cnt - 1)) % cnt AS tp
         |  FROM npos, range(1, 3) AS r(i)),
         |neg AS (SELECT a.doc_id, a.i, b.doc_id AS neg_id
         |  FROM nwalk a JOIN npos b ON a.tp = b.p)
         |SELECT pr.id_a AS anchor, pr.id_b AS positive,
         |  CAST(n.i AS BIGINT) AS neg_rank, n.neg_id
         |FROM pairs pr JOIN neg n ON pr.id_a = n.doc_id
         |WHERE n.neg_id <> pr.id_b
         |ORDER BY anchor, positive, neg_rank""".stripMargin),
  )
}
