package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for large-scale training-data pipelines
  * (extension beyond the reference surface — BASELINE.json north star).
  *
  * Everything here is a composition of codegen'd built-ins (no UDFs), so
  * it stays inside whole-stage codegen and is embarrassingly parallel —
  * per-row work, no shuffle, scales linearly to 100 TB.
  *
  * Cross-engine determinism: hashes derive from md5 (identical in any
  * engine) rather than Spark's Murmur3 `hash()`, so every function here
  * is differentially testable against the DuckDB oracle.
  */
object TextFunctions {

  /** whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** BPE-style pre-tokenizer regex (GPT-2 family, simplified): English
    * contractions, optional-space letter runs, digit runs, punctuation
    * runs, residual whitespace. Restricted to syntax with IDENTICAL
    * semantics in Java regex (Spark) and RE2 (DuckDB): no lookahead, and
    * an explicit whitespace class (Java's \s includes \x0B, RE2's does
    * not).
    */
  val BpeTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+|[ \\t\\n\\r\\f]+"

  /** subword-ish token count: number of BPE pre-tokenizer matches. A real
    * BPE vocab would merge further; the pre-tokenizer count is the
    * standard cheap upper-bound proxy used for corpus budgeting.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast(LongType)

  /** lower + collapse whitespace: canonical form for fingerprinting. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** document fingerprint = md5 of the normalized text (engine-portable);
    * native single-pass kernel, bit-identical to `md5(normalize(text))`
    * (parity-tested).
    */
  def fingerprintMd5(text: Column): Column = graft.plans.NormalizedMd5(text)

  /** 28-bit engine-portable token hash: first 7 hex chars of md5. */
  def tokenHash(tok: Column): Column =
    conv(substring(md5(tok), 1, 7), 16, 10).cast(LongType)

  /** token-hash array for a document. */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => tokenHash(t))

  /** positional rolling-hash fingerprint: sum_i h_i * w_(i mod 8) mod P,
    * with small weights so the sum stays in int64 in any engine.
    */
  val RollWeights: Seq[Long] = {
    // 31^k mod 2^20 — fixed, mirrored into oracle SQL
    Iterator.iterate(1L)(w => (w * 31) % 1048576L).take(8).toSeq
  }
  val RollP = 1000000007L
  def fingerprintRolling(text: Column): Column = {
    val w = array(RollWeights.map(lit): _*)
    val weighted = transform(tokenHashes(text),
      (h, i) => h * element_at(w, (i % 8) + 1))
    // mod INSIDE the fold: acc stays < P (2^30) and each term < 2^48, so
    // the int64 accumulator can never overflow however long the document
    // is. Congruent to (Σ terms) mod P, which is what the DuckDB oracle
    // computes via INT128 list_sum — identical results, no wraparound.
    aggregate(weighted, lit(0L), (acc, x) => (acc + x) % RollP)
  }

  /** word n-gram shingles (n consecutive tokens joined by space).
    * Guarded: Spark's sequence(1, 0) counts DOWN, so short docs need an
    * explicit empty-array branch.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast(ArrayType(StringType)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  // ---- language ID (n-gram/stopword heuristic) ----
  /** fixed per-language stopword lists; precedence order breaks ties. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "que"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zhe"))

  def stopwordCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(w => lit(w)): _*)))
      .cast(LongType)

  /** argmax language by stopword hits; ties broken by list order. */
  def langId(text: Column): Column = {
    val scores = LangStopwords.map { case (l, ws) => l -> stopwordCount(text, ws) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((l, sc), els) =>
      when(sc === maxScore && sc > 0, lit(l)).otherwise(els)
    } match {
      // foldRight gives first-match-wins in list order
      case c => c
    }
  }

  // ---- quality scoring ----
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")).cast(DoubleType) /
      length(text).cast(DoubleType)

  def meanTokenLen(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")).cast(DoubleType) /
      tokenCount(text).cast(DoubleType)

  def stopwordRatio(text: Column): Column =
    stopwordCount(text, LangStopwords.head._2).cast(DoubleType) /
      tokenCount(text).cast(DoubleType)

  /** composite quality score in [0,1]-ish; formula mirrored in oracle SQL. */
  def qualityScore(text: Column): Column =
    lit(0.4) * stopwordRatio(text) +
      lit(0.3) * least(meanTokenLen(text) / 10.0, lit(1.0)) +
      lit(0.3) * alphaRatio(text)

  // ---- repetition signals (Gopher-style quality filters) ----
  /** struct(n_tokens, dup_token_frac, top_bigram_frac, dup_bigram_frac):
    * the standard repeated-content filters for corpus curation, computed
    * in ONE native pass per row (hashmap counts — the HOF formulation is
    * O(tokens²) per row). All fractions are exact small-integer ratios,
    * bit-identical across engines.
    */
  def repetitionStats(text: Column): Column = graft.plans.RepetitionStats(text)

  // ---- URL / domain analysis ----
  /** URL-ish token: scheme'd or www-prefixed host. Same Java≡RE2
    * discipline as [[PiiPatterns]] (non-capturing groups, explicit
    * classes, no lookarounds) so the DuckDB oracle runs the identical
    * pattern.
    */
  val UrlPattern: String = "(?:https?://|www\\.)[A-Za-z0-9.-]+"

  /** distinct normalized domains mentioned in the text: extract
    * URL-ish tokens, lowercase, strip scheme + leading `www.` +
    * trailing dots. Pure codegen'd per-row work (regexp_extract_all +
    * transform), no shuffle — the first half of every domain-level
    * curation rule (blocklists, per-domain caps, provenance stats).
    */
  def extractDomains(text: Column): Column =
    array_distinct(transform(
      regexp_extract_all(text, lit(UrlPattern), lit(0)),
      u => regexp_replace(
        regexp_replace(lower(u), "^(?:https?://)?(?:www\\.)?", ""), "\\.+$", "")))

  /** keep only docs mentioning NO blocklisted domain — the standard
    * web-corpus safety/provenance filter. A per-row array overlap
    * against a literal list: broadcast-free, shuffle-free, codegen'd.
    * (At a real deployment's blocklist size, swap the literal array for
    * a broadcast join against the blocklist table — same semantics.)
    */
  def filterBlockedDomains(docs: DataFrame, blocklist: Seq[String],
                           textCol: String = "text"): DataFrame =
    docs.filter(!arrays_overlap(extractDomains(col(textCol)),
      array(blocklist.map(lit): _*)))

  /** [[filterBlockedDomains]] with the blocklist as a TABLE — the form
    * a real deployment needs: production blocklists run to millions of
    * rows, where a literal array burned into the plan stops being a
    * plan. Shape: docs explode to (id, domain) pairs, a BROADCAST semi
    * join marks blocked ids map-side (no shuffle, no per-row scan of
    * the blocklist — the equi-join is a hash probe, where a naive
    * `array_contains` anti join would plan a BroadcastNestedLoopJoin
    * that walks the whole blocklist per doc), then one anti join on the
    * doc key removes them (blocked ids ≪ corpus → AQE broadcasts it).
    * Same keep/drop semantics as the literal overload (oracle-proven by
    * text_blocklist_join), with one edge difference: a NULL `textCol`
    * extracts no domains and is KEPT here, while the literal form's
    * `!arrays_overlap` is NULL on NULL text and drops the row.
    */
  def filterBlockedDomains(docs: DataFrame, blocklist: DataFrame,
                           domainCol: String, textCol: String,
                           idCol: String): DataFrame = {
    val bl = broadcast(blocklist.select(col(domainCol).as("_bl_domain")).distinct())
    val blockedIds = docs
      .select(col(idCol), explode(extractDomains(col(textCol))).as("_doc_domain"))
      .join(bl, col("_doc_domain") === col("_bl_domain"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(blockedIds, Seq(idCol), "left_anti")
  }
  def filterBlockedDomains(docs: DataFrame, blocklist: DataFrame): DataFrame =
    filterBlockedDomains(docs, blocklist, "domain", "text", "doc_id")

  // ---- PII scrubbing ----
  /** redaction patterns, ordered (emails first — a phone/IP inside an
    * address is impossible, but an email local-part can contain digits).
    * Restricted to syntax with identical semantics in Java regex (Spark)
    * and RE2 (DuckDB): no lookarounds, ASCII \b word boundaries,
    * explicit classes.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    // NANP forms: separated triplets (hyphen/dot/space) and the
    // parenthesized area code. A bare 10-digit run is deliberately NOT
    // matched — on numeric corpora it redacts ids/amounts far more often
    // than phones (documented false-negative trade-off).
    "\\(\\d{3}\\) ?\\d{3}[-. ]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b" -> "<PHONE>")

  /** redact emails / IPv4s / phone numbers — pure codegen'd
    * `regexp_replace` chain (replace-all), no shuffle, linear scans.
    */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (re, repl)) =>
      regexp_replace(c, re, repl)
    }

  // ---- markup stripping (HTML boilerplate removal) ----
  /** markup-removal patterns, ordered: script/style/comment BLOCKS go
    * first (their content is noise, not text), then remaining tags,
    * then the common entities. Same Java≡RE2 discipline as
    * [[PiiPatterns]]: inline (?is) flags and lazy quantifiers behave
    * identically in Spark and DuckDB, no lookarounds.
    */
  val MarkupPatterns: Seq[(String, String)] = Seq(
    "(?is)<script[^>]*>.*?</script>" -> " ",
    "(?is)<style[^>]*>.*?</style>" -> " ",
    "(?s)<!--.*?-->" -> " ",
    "<[^>]+>" -> " ",
    "&nbsp;" -> " ",
    "&amp;" -> "&",
    "&lt;" -> "<",
    "&gt;" -> ">",
    "&quot;" -> "\"",
    "&#39;" -> "'")

  /** strip HTML/markup down to text: drop script/style/comment blocks,
    * tags, decode common entities, collapse whitespace — the standard
    * web-corpus boilerplate-removal pass, as a pure codegen'd
    * `regexp_replace` chain over the scan (no shuffle, linear).
    */
  def stripMarkup(text: Column): Column =
    trim(regexp_replace(
      MarkupPatterns.foldLeft(text) { case (c, (re, repl)) =>
        regexp_replace(c, re, repl) },
      "\\s+", " "))

  // ---- encoding repair (mojibake) ----
  /** Common UTF-8-bytes-decoded-as-Windows-1252 mojibake sequences and
    * their repairs. Each key is derived MECHANICALLY from its value:
    * `key = cp1252decode(utf8encode(value))` — e.g. é (U+00E9) is UTF-8
    * `C3 A9`, which a cp1252 reader renders as `Ã©` (U+00C3 U+00A9).
    * Covers the curly-quote/dash/ellipsis family (the U+20xx range
    * whose UTF-8 middle byte 0x80 renders as €) and the Latin-1
    * accented letters seen in web crawls. Written with \\u escapes so
    * the table is auditable against the byte math, not trusted glyphs.
    * Replacements are applied in this fixed order as ONE literal
    * `replace` chain (codegen'd, shuffle-free, and reproducible in any
    * engine with the same chain — no charset machinery at query time).
    */
  val MojibakeMap: Seq[(String, String)] = Seq(
    "\u00e2\u20ac\u02dc" -> "\u2018", // left single quote
    "\u00e2\u20ac\u2122" -> "\u2019", // right single quote / apostrophe
    "\u00e2\u20ac\u0153" -> "\u201c", // left double quote
    "\u00e2\u20ac\u009d" -> "\u201d", // right double quote (0x9D passes through cp1252)
    "\u00e2\u20ac\u201c" -> "\u2013", // en dash
    "\u00e2\u20ac\u201d" -> "\u2014", // em dash
    "\u00e2\u20ac\u00a6" -> "\u2026", // ellipsis
    "\u00c3\u00a9" -> "\u00e9", // e acute
    "\u00c3\u00a8" -> "\u00e8", // e grave
    "\u00c3\u00a1" -> "\u00e1", // a acute
    "\u00c3\u00b3" -> "\u00f3", // o acute
    "\u00c3\u00ba" -> "\u00fa", // u acute
    "\u00c3\u00b1" -> "\u00f1", // n tilde
    "\u00c3\u00a4" -> "\u00e4", // a umlaut
    "\u00c3\u00b6" -> "\u00f6", // o umlaut
    "\u00c3\u00bc" -> "\u00fc", // u umlaut
    "\u00c3\u00a7" -> "\u00e7", // c cedilla
    "\u00c3\u0178" -> "\u00df", // sharp s
    "\u00c2\u00a0" -> "\u00a0", // no-break space
    "\u00c2\u00ab" -> "\u00ab", // left guillemet
    "\u00c2\u00bb" -> "\u00bb") // right guillemet

  /** Repair common mojibake (single pass over the fixed table above;
    * doubly-encoded text needs two applications, deliberately not
    * looped — the operator stays a pure per-row expression).
    */
  def fixMojibake(text: Column): Column =
    MojibakeMap.foldLeft(text) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }

  /** Detection flag: true iff [[fixMojibake]] would change the text. */
  def isMojibake(text: Column): Column = fixMojibake(text) =!= text

  /** Canonical URL dedup key: drop query+fragment, lowercase, drop the
    * `www.` subdomain, strip trailing slashes — the standard
    * crawl-frontier/URL-dedup normalization (two fetches of
    * `HTTP://WWW.X.com/a/?utm=1#f` and `http://x.com/a` must collide).
    * Deliberately key-oriented (the canonical form need not be
    * fetchable); backref-free Java≡RE2 patterns, replace-all, one
    * codegen'd chain.
    */
  val UrlCanonPatterns: Seq[(String, String)] = Seq(
    "[?#].*" -> "",      // query string + fragment never distinguish content
    "://www\\." -> "://", // bare-host alias
    "/+$" -> "")          // trailing slash(es)

  def canonicalUrlKey(url: Column): Column =
    UrlCanonPatterns.foldLeft(lower(url)) { case (c, (re, repl)) =>
      regexp_replace(c, re, repl)
    }

  // ---- token→id encoding (frequency vocabulary) ----
  /** Frequency vocabulary over the corpus: the `k` most frequent
    * whitespace tokens, ids 1..k dense by rank (count desc, token asc —
    * a total order, so the vocabulary is deterministic across engines).
    * Count/TakeOrdered is the heavy distributed part; the ranking
    * window then runs over the k surviving rows only (a k-row model
    * build, not a corpus window).
    */
  def buildVocab(docs: DataFrame, textCol: Column, k: Int): DataFrame = {
    require(k > 0, s"buildVocab: k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(tokens(textCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(k)
      .withColumn("id",
        row_number().over(Window.orderBy(col("c").desc, col("token"))).cast(LongType))
      .select("token", "id")
  }

  /** Per-document distinctive terms (TF-IDF-style): score each (doc,
    * token) by `tf / df` and keep the top `k` per document. The score
    * deliberately avoids `ln` — a single IEEE division of two exact
    * integers is correctly rounded and therefore bit-identical in every
    * engine, where libm `log` may differ in the last ulp; the ranking
    * (and the oracle compare) stay exact.
    *
    * Scale shape: tf = one (doc, token) aggregate over the single
    * corpus explode; df REUSES it — a token's document frequency is
    * its row count in tf, so the df branch is a vocabulary-sized
    * aggregate over the SAME exchange (ReuseExchange: the corpus is
    * exploded and shuffled once, not twice as a separate
    * distinct-then-count pass would). The per-doc ranking is the
    * bounded [[graft.plans.TopKByScore]] partial aggregate (≤ k terms
    * per doc per map partition cross the exchange — never a per-doc
    * window sort). Output: (idCol, rank, token, score), ties to the
    * lexicographically smaller token.
    */
  def tfidfTopK(docs: DataFrame, textCol: Column, k: Int,
                idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"tfidfTopK: k must be positive, got $k")
    val t = docs.select(col(idCol), explode(tokens(textCol)).as("token"))
    val tf = t.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "token")
      .select(col(idCol),
        (col("tf").cast(DoubleType) / col("df").cast(DoubleType)).as("score"),
        col("token"))
    scored.groupBy(col(idCol))
      .agg(graft.plans.TopKByScore(col("score"), col("token"), k).as("_top"))
      .select(col(idCol), posexplode(col("_top")))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.c_id").as("token"), col("col.cos").as("score"))
  }

  /** BM25 document ranking for a small fixed query-term set: the
    * doc-length-normalized upgrade of [[tfidfTopK]]'s tf/df score
    * (k1 = 1.2, b = 0.75, the standard Robertson constants). Like
    * tfidf, the idf deliberately avoids `ln`: libm logs differ in the
    * last ulp across engines, so the rational form
    * `(N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1)` — exact integers
    * into one correctly-rounded IEEE division — keeps scores
    * bit-identical everywhere (it is the argument of the standard
    * BM25 idf, monotone in it, so rankings per term agree).
    *
    * Scale shape: one corpus-stats aggregate (N, avgdl — a single
    * broadcast row), tf restricted to the query terms BEFORE the
    * aggregate (the groupBy carries only matching (doc, term) rows,
    * not the corpus vocabulary), df per term as a window count over
    * those tf rows, and the per-doc term sum is a
    * FIXED-ORDER pivot (`coalesce(s₀,0)+coalesce(s₁,0)+…`) — never a
    * float aggregate whose partial order could vary. Output: all docs
    * containing ≥1 query term, (idCol, score); rank/limit at the call
    * site (global top-k via TakeOrdered stays bounded).
    *
    * Precondition: `idCol` is unique per row of `docs`. The df window
    * counts tf rows, one per matching (id, term), as the number of
    * docs containing the term; with a duplicated id the tf rows no
    * longer map one-to-one to docs and df is wrong. Not checked at run
    * time: a check would cost a Spark job over the corpus per call.
    */
  def bm25Scores(docs: DataFrame, textCol: Column, queryTerms: Seq[String],
                 idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.distinct.size == queryTerms.size,
      "bm25Scores: duplicate query terms")
    val perTerm = bm25PerTerm(docs, textCol, queryTerms, idCol)
    // fixed-order pivot: one conditional singleton-max per term, then a
    // left-to-right sum — immune to aggregate ordering
    val pivots = queryTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("s"))).as(s"_s$i")
    }
    val total = queryTerms.indices
      .map(i => coalesce(col(s"_s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    perTerm.groupBy(col(idCol)).agg(pivots.head, pivots.tail: _*)
      .select(col(idCol), total.as("score"))
  }

  /** Per-term BM25: `(idCol, term, tf, s)` for every (doc, query-term)
    * match — the building block [[bm25Scores]], the rankers and the
    * ranking evaluator share. Same scale shape and precondition as
    * [[bm25Scores]]. */
  def bm25PerTerm(docs: DataFrame, textCol: Column, queryTerms: Seq[String],
                  idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 16,
      s"bm25PerTerm: 1..16 query terms, got ${queryTerms.size}")
    val D = DoubleType
    val toks = docs.select(col(idCol), size(tokens(textCol)).cast(LongType).as("_dl"),
      explode(tokens(textCol)).as("_tok"))
    val stats = docs.agg(count(lit(1)).as("_n"),
      sum(size(tokens(textCol)).cast(LongType)).as("_sumdl"))
    val tf = toks.filter(col("_tok").isin(queryTerms: _*))
      .groupBy(col(idCol), col("_dl"), col("_tok"))
      .agg(count(lit(1)).as("_tf"))
    // _df derived FROM tf as a window count (r18): ids are unique per
    // doc (corpus precondition), so tf has exactly one row per
    // matching (doc, term) and its per-term row count IS the
    // distinct-doc count. The old separate distinct re-ran the
    // tokenize+explode corpus scan (different exchange keys, so
    // ReuseExchange never deduped it); a dfreq-join would duplicate
    // the tf subtree the same way. The window keeps the plan LINEAR:
    // one corpus scan, one tiny (docs-with-matches x terms) exchange.
    val withDf = tf.withColumn("_df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("_tok"))))
    withDf.crossJoin(broadcast(stats))
      .withColumn("_idf",
        (lit(2L) * col("_n") - lit(2L) * col("_df") + lit(1L)).cast(D) /
          (lit(2L) * col("_df") + lit(1L)).cast(D))
      .select(col(idCol), col("_tok").as("term"), col("_tf").as("tf"),
        (col("_idf") * ((col("_tf").cast(D) * lit(2.2)) /
          (col("_tf").cast(D) + lit(1.2) * (lit(0.25) + lit(0.75) *
            (col("_dl").cast(D) / (col("_sumdl").cast(D) / col("_n").cast(D)))))))
          .as("s"))
  }

  /** Integer nDCG weight table: `w_k = round(2^20 / log2(k+1))` for
    * ranks 1..k — computed ONCE here and embedded as literals in both
    * the operator and its oracle, so the discount is a shared integer
    * SPEC (never a per-engine libm log at query time). */
  def ndcgWeights(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1048576.0 / (math.log(r + 1.0) / math.log(2.0))))

  /** Ranking-quality evaluation — the retrieval-eval step of a search/
    * RAG pipeline: for each query term, rank candidates by the
    * single-term BM25 score and grade against tf-derived relevance
    * labels (rel 2 when tf ≥ 3, else 1 — deliberately NOT what the
    * ranker optimizes, it normalizes by doc length). Emits per query:
    * candidate count, integer DCG@k / ideal-DCG@k (gains 2^rel−1 times
    * the [[ndcgWeights]] table — exact int64 in any aggregation
    * order), their ratio (nDCG), and the rank of the first rel-2 doc
    * (−1 if none in the top k; the MRR ingredient).
    *
    * Scale shape: candidates stay restricted to query-term matches;
    * BOTH the actual and the ideal top-k ride the bounded
    * [[graft.plans.TopKByScore]] partial aggregate (k entries per term
    * per map partition — no per-term full sort anywhere).
    *
    * Cache contract: the per-term candidate frame is persisted and
    * referenced by the RETURNED lazy plan (actual + ideal rankings
    * share it), so it cannot be released here — it lives until the
    * caller drops it (`spark.catalog.clearCache()`, as the test suite
    * does after consuming the result). Long-lived sessions issuing
    * many evaluations should do the same between calls.
    */
  def evalRanking(docs: DataFrame, textCol: Column, queryTerms: Seq[String],
                  k: Int = 10, idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && k <= 100, s"evalRanking: k in [1,100], got $k")
    val w = ndcgWeights(k)
    val wArr = array(w.map(lit): _*)
    val cand = bm25PerTerm(docs, textCol, queryTerms, idCol)
      .withColumn("_rel", when(col("tf") >= 3, 2L).otherwise(1L))
      .withColumn("_gain", when(col("_rel") === 2, 3L).otherwise(1L))
      .cache()
    def ranked(score: Column) = cand
      .groupBy(col("term"))
      .agg(graft.plans.TopKByScore(score, col(idCol), k).as("_top"))
      .select(col("term"), posexplode(col("_top")))
      .select(col("term"), (col("pos") + 1).cast(LongType).as("_rank"),
        col("col.c_id").as(idCol))
      .join(cand.select(col("term"), col(idCol), col("_rel"), col("_gain")),
        Seq("term", idCol))
      .withColumn("_w", element_at(wArr, col("_rank").cast(IntegerType)))
    val dcg = ranked(col("s"))
      .groupBy(col("term"))
      .agg(sum(col("_gain") * col("_w")).as("dcg_q"),
        min(when(col("_rel") === 2, col("_rank"))).as("_best"))
    val idcg = ranked(col("_rel").cast(DoubleType))
      .groupBy(col("term"))
      .agg(sum(col("_gain") * col("_w")).as("idcg_q"))
    val n = cand.groupBy(col("term")).agg(count(lit(1)).as("n_cands"))
    n.join(dcg, "term").join(idcg, "term")
      .select(col("term"), col("n_cands"), col("dcg_q"), col("idcg_q"),
        (col("dcg_q").cast(DoubleType) / col("idcg_q")).as("ndcg"),
        coalesce(col("_best"), lit(-1L)).as("best_rank"))
  }

  /** Encode documents to (doc, pos, token_id) rows against a vocabulary
    * (out-of-vocabulary → 0): posexplode + one BROADCAST join — the
    * corpus pass stays map-side; `pos` is 1-based. This is the
    * tokenizer-to-ids step of a training pipeline in relational form
    * (downstream packing: [[graft.operators.Pack.packSequences]]).
    */
  def encodeTokens(docs: DataFrame, textCol: Column, vocab: DataFrame,
                   idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), posexplode(tokens(textCol)).as(Seq("pos", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("pos"),
        coalesce(col("id"), lit(0L)).as("token_id"))

  /** Corpus-trained bigram language-model quality score — the CCNet-
    * style perplexity filter (docs whose token transitions are unlikely
    * under the corpus LM are machine-generated / garbled / boilerplate)
    * made ENGINE-EXACT: instead of `ln P` (libm, not replayable across
    * engines), each transition scores the integer-quantized
    * `ilog2(count(w1 w2)) − ilog2(count(w1 ·))` where
    * `ilog2(n) = length(bin(n)) − 1 = floor(log2 n)` — pure integer/
    * string arithmetic both Spark and DuckDB compute identically.
    * Output `(idCol, n_bigrams, lm_bits)`: `lm_bits` = the mean NEGATIVE
    * quantized log₂-probability (≈ cross-entropy in bits, within 1 bit
    * of the float value per transition; ranking-equivalent for
    * filtering). Docs with fewer than two tokens have no transitions
    * and are absent. This overload self-trains (score and model from
    * the same corpus — the boilerplate-detection mode); the CCNet
    * deployment trains on a clean reference corpus instead: build that
    * model once with [[lmTrain]] and score any corpus against it via
    * the `(docs, model, …)` overload (transitions unseen by the model
    * are DROPPED from the mean — inner join — rather than imputed, the
    * documented smoothing-free choice).
    *
    * Scale shape: bigram instances are one explode pass (linear in
    * corpus tokens); the model = one partial-agg shuffle on the bigram
    * key + a vocabulary-sized self-aggregate for the left-context
    * totals (joined model-side, so stopword skew lands on the SMALL
    * count table, not the instance stream); scoring = ONE co-keyed
    * shuffle join of instances against the model (hot-bigram buckets →
    * AQE skew split) + a per-doc aggregate. The corpus text itself
    * never shuffles — only (doc_id, w1, w2) instances.
    */
  def lmQualityScore(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    lmQualityScore(docs, lmTrain(docs, textCol, idCol), textCol, idCol)

  /** Bigram LM "model": `(w1, w2, _c2, _c1)` — per-bigram count and
    * left-context total, the sufficient statistics [[lmQualityScore]]
    * reads. Vocabulary-bigram-sized (≪ corpus), so training is one
    * partial-agg shuffle + a model-side left-total join.
    */
  def lmTrain(corpus: DataFrame, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame = {
    val inst = bigramInstances(corpus, textCol, idCol)
    val bgCounts = inst.groupBy("w1", "w2").agg(count(lit(1)).as("_c2"))
    val leftCounts = bgCounts.groupBy("w1").agg(sum("_c2").as("_c1"))
    bgCounts.join(leftCounts, "w1")
  }

  /** Score `docs` against a trained [[lmTrain]] model (the CCNet
    * reference-corpus deployment). Transitions the model never saw are
    * dropped from the mean (inner join — smoothing-free, documented).
    */
  def lmQualityScore(docs: DataFrame, model: DataFrame, textCol: String,
                     idCol: String): DataFrame = {
    def ilog2(c: Column): Column = (length(bin(c)) - 1).cast(LongType)
    bigramInstances(docs, textCol, idCol).join(model, Seq("w1", "w2"))
      .withColumn("_lp", ilog2(col("_c2")) - ilog2(col("_c1")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lp")).as("_s"))
      .select(col(idCol), col("n_bigrams"),
        ((-col("_s")).cast(DoubleType) / col("n_bigrams").cast(DoubleType)).as("lm_bits"))
  }

  /** Windowed skip-gram co-occurrence with quantized PMI — the
    * collocation-mining / word-embedding-prep table: for every token
    * pair within `window` positions, the symmetric co-occurrence count
    * `c12` and `pmi_q = ilog2(c12) + ilog2(N) − ilog2(c1) − ilog2(c2)`
    * (the PMI `log₂(N·c12 / (c1·c2))` as a SUM of integer floor-logs —
    * no libm, no int64 product overflow even at 100 TB marginals; within
    * 2 bits of float PMI, ranking-grade for collocation scoring). Rows
    * with `c12 < minCount` are dropped AFTER marginals are computed (the
    * standard frequency floor — PMI over singletons is noise); output
    * keeps `w1 <= w2` (the symmetric table's canonical half; both
    * directions carry identical stats). Output:
    * `(w1, w2, c12, pmi_q)`.
    *
    * Scale shape: instances are one explode pass (≤ 2·window per token,
    * linear); the count table = one partial-agg shuffle on the pair
    * key; marginals and the grand total are aggregates OVER THE COUNT
    * TABLE (vocabulary²-bounded, ≪ corpus) joined back count-table-side;
    * the corpus text never shuffles. The grand total rides as a 1-row
    * broadcast.
    */
  def cooccurrencePmi(docs: DataFrame, window: Int = 2, minCount: Long = 1L,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(window >= 1, s"cooccurrencePmi: window must be >= 1, got $window")
    def ilog2(c: Column): Column = (length(bin(c)) - 1).cast(LongType)
    // token array materialized in its own projection — see
    // [[bigramInstances]]: a split() inlined into an interpreted lambda
    // re-runs per element, O(tokens²) per doc
    val base = docs.select(tokens(col(textCol)).as("_ts"))
    val ts = col("_ts")
    val emptyPairs = array().cast(ArrayType(new StructType()
      .add("w1", StringType).add("w2", StringType)))
    // for each offset d in 1..window: both directions of every pair d
    // apart (guarded: Spark's sequence DESCENDS when start > stop)
    val pairsArr = flatten(transform(sequence(lit(1), lit(window)), d =>
      when(size(ts) > d, flatten(transform(sequence(lit(1), size(ts) - d), i =>
        array(struct(element_at(ts, i).as("w1"), element_at(ts, i + d).as("w2")),
          struct(element_at(ts, i + d).as("w1"), element_at(ts, i).as("w2"))))))
        .otherwise(emptyPairs)))
    val inst = base.select(explode(pairsArr).as("_p"))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
    val cc = inst.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val marg = cc.groupBy("w1").agg(sum("c12").as("_m"))
    val total = cc.agg(sum("c12").as("_n"))
    cc.join(marg.select(col("w1"), col("_m").as("_c1")), "w1")
      .join(marg.select(col("w1").as("w2"), col("_m").as("_c2")), "w2")
      .crossJoin(broadcast(total))
      .filter(col("c12") >= minCount && col("w1") <= col("w2"))
      .select(col("w1"), col("w2"), col("c12"),
        (ilog2(col("c12")) + ilog2(col("_n")) - ilog2(col("_c1")) - ilog2(col("_c2")))
          .as("pmi_q"))
  }

  /** one row per adjacent token pair: `(idCol, w1, w2)`.
    *
    * The token array is materialized in ITS OWN projection before any
    * lambda touches it: higher-order functions evaluate interpreted,
    * and an outer `split()` inlined into a lambda body re-runs per
    * ELEMENT — O(tokens²) splits per doc (the same CollapseProject
    * hazard [[graft.plans.MinHashSignature]]'s consumer documents; a
    * multiply-referenced non-cheap alias is not collapsed, so `_ts`
    * stays a per-row attribute read).
    */
  private[graft] def bigramInstances(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = docs.select(col(idCol), tokens(col(textCol)).as("_ts"))
    val ts = col("_ts")
    // adjacent pairs; guarded sequence (Spark's sequence(1, 0) would
    // DESCEND, not empty out) so one-token docs emit no instances
    val pairs = when(size(ts) >= 2,
      transform(sequence(lit(1), size(ts) - 1),
        i => struct(element_at(ts, i).as("w1"), element_at(ts, i + 1).as("w2"))))
      .otherwise(array().cast(ArrayType(new StructType()
        .add("w1", StringType).add("w2", StringType))))
    base.select(col(idCol), explode(pairs).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
  }
}
