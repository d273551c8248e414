package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines (north-star
  * extension; see BASELINE.json). Each variant is designed for 100 TB:
  *
  *  - exact: one hash-shuffle on a 128-bit digest — the canonical
  *    dedupe-by-content plan; group count scales with distinct keys.
  *  - minhash LSH: per-row signature (narrow, codegen'd) computed ONCE,
  *    band keys emitted by a single `posexplode`, then one shuffle on
  *    (band, bkey); candidate pairs are generated inside each bucket —
  *    never an all-pairs join, never a per-band re-scan of the corpus.
  *    Candidates are verified with true jaccard before being declared
  *    duplicates.
  *  - simhash: per-row 28-bit signature; hamming-near pairs found by
  *    pigeonholed band equality, same single-pass/single-shuffle shape.
  *  - ngram-jaccard: exact jaccard verification over LSH-generated
  *    candidates (the scale-safe route); a blocked all-pairs variant
  *    exists only with an enforced block-size cap.
  *  - embedding cosine: near-dup via sign-LSH bucket candidates, then
  *    exact cosine verification — linear in corpus, not quadratic.
  *
  * All hashes are md5-derived (engine-portable) so every operator is
  * differentially tested against the DuckDB oracle at sf0.01.
  */
object Dedup {

  /** exact dedup: keep the smallest id per distinct normalized text.
    * Returns (fingerprint, keeper_id, n_copies).
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(fingerprintMd5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  // ---- MinHash LSH ----
  /** fixed permutation constants (mirrored into oracle SQL; the values
    * live on [[graft.plans.TextKernels]] next to the native kernel).
    */
  val MinhashP: Long = graft.plans.TextKernels.MinhashP
  val MinhashA: Seq[Long] = graft.plans.TextKernels.MinhashA.toSeq
  val MinhashB: Seq[Long] = graft.plans.TextKernels.MinhashB.toSeq
  val NumPerms: Int = graft.plans.TextKernels.NumPerms
  val BandRows = 2 // → 4 bands

  /** per-doc minhash signature over n-gram shingle hashes.
    * Output: idCol, mh0..mh{NumPerms-1}. The signature is the native
    * single-pass kernel ([[graft.plans.MinHashSignature]]); it is
    * materialized in its own projection so CollapseProject cannot
    * duplicate it into the NumPerms element_at consumers.
    */
  def minhashSignatures(docs: DataFrame, n: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sig = docs.select(col(idCol),
      graft.plans.MinHashSignature(col(textCol), n).as("_sig"))
    val cols = (0 until NumPerms).map(j => element_at(col("_sig"), j + 1).as(s"mh$j"))
    sig.select((col(idCol) +: cols): _*)
  }

  /** (id_a, id_b) candidate pairs via minhash banding.
    *
    * Plan shape: band keys posexploded from a materialized signature
    * array (native kernel, computed once per join side), then a
    * CODEGEN'D self-join on (band, bkey). A pair colliding in several
    * bands is kept only where `band` equals its FIRST matching band
    * (arithmetic on the carried key array), so no DISTINCT shuffle over
    * the candidate stream is ever needed. The two join sides each scan
    * the corpus — deliberately NOT cached/checkpointed: at scale,
    * re-running a narrow kernel scan twice is cheaper and safer than
    * materializing the banded corpus in executor memory.
    */
  def minhashCandidates(docs: DataFrame, n: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sig = minhashSignatures(docs, n, textCol, idCol)
    val nBands = NumPerms / BandRows
    val bandArr = array((0 until nBands).map { b =>
      concat_ws("_", (0 until BandRows).map(r => col(s"mh${b * BandRows + r}")): _*)
    }: _*)
    // drop docs with no signature (shorter than n tokens): their mh cols
    // are all NULL and concat_ws would give them ALL the same "" band key
    // — one unbounded bucket of garbage rows that the self-join would
    // turn into O(m²) pairs before the verify could discard them
    val bands = sig.filter(col("mh0").isNotNull)
      .select(col(idCol), bandArr.as("bkeys"))
      .select(col(idCol), col("bkeys"), posexplode(col("bkeys")).as(Seq("band", "bkey")))
      // shuffled-hash: bucket fan-in is bounded by band-key collisions, so
      // the build side per partition stays small; avoids broadcasting the
      // (full!) banded corpus that a size-estimate-driven BHJ would pick
      .hint("shuffle_hash")
    val firstMatch = coalesce(((0 until nBands).map { b =>
      when(col("x.bkeys")(b) === col("y.bkeys")(b), lit(b))
    } :+ lit(-1)): _*)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .filter(col("x.band") === firstMatch)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
  }

  /** exact n-gram jaccard over given candidate pairs (id_a, id_b).
    * Shingle sets are represented by their distinct 28-bit hashes
    * (long-array set ops ≫ string-array set ops; the oracle derives the
    * same hashed sets, so the differential test still binds exactly).
    */
  def jaccardVerify(docs: DataFrame, cand: DataFrame, n: Int, threshold: Double,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = docs.select(col(idCol),
      graft.plans.ShingleHashArray(col(textCol), n).as("sh"))
    cand
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      // size-compatibility prune (r18, the PPJoin length filter): a
      // surviving pair needs |A∩B| ≥ t·|A∪B|, and since ∩ ≤ min and
      // ∪ ≥ max, min(|A|,|B|) < t·max(|A|,|B|) already implies J < t —
      // so this drops candidates BEFORE the O(|A|+|B|) set ops run,
      // with zero false negatives (sizes are O(1) reads)
      .filter(size(col("sh_a")) >= lit(threshold) * size(col("sh_b")) &&
        size(col("sh_b")) >= lit(threshold) * size(col("sh_a")))
      // one set op instead of two: the shingle arrays are DISTINCT
      // hash sets, so |A∪B| = |A|+|B|−|A∩B| exactly — same integer,
      // same division, same double
      .withColumn("_i", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        (col("_i").cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) - col("_i")).cast(DoubleType))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH candidate pairs verified by true shingle-jaccard ≥ threshold.
    * Scale path: the only shuffles are (1) the band-bucket exchange,
    * (2) the candidate join back to shingle sets.
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.3, n: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    jaccardVerify(docs, minhashCandidates(docs, n, textCol, idCol), n, threshold,
      textCol, idCol)

  /** ASYMMETRIC containment over candidate pairs: `cont_a` =
    * |sh(A)∩sh(B)| / |sh(A)| (how much of A sits inside B) and the
    * mirror `cont_b`; pairs kept where either direction ≥ threshold.
    * This is the boilerplate/subset-duplicate detector symmetric
    * Jaccard misses — a short doc fully embedded in a long one has
    * jaccard ≈ |A|/|B| (tiny) but cont_a = 1.0. Candidates still come
    * from minhash banding (documented recall caveat: banding is tuned
    * for symmetric similarity, so containment pairs with EXTREME size
    * mismatch may not collide in any band — at 100 TB the fix is
    * banding the shorter doc's shingles only, a windowed variant of the
    * same kernel).
    */
  def containmentVerify(docs: DataFrame, cand: DataFrame, n: Int, threshold: Double,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = docs.select(col(idCol),
      graft.plans.ShingleHashArray(col(textCol), n).as("sh"))
    cand
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      // one intersect computed, shared by both directions (r18 — the
      // duplicated subexpression relied on codegen CSE to dedupe)
      .withColumn("_i", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        (col("_i").cast(DoubleType) / size(col("sh_a")).cast(DoubleType))
          .as("cont_a"),
        (col("_i").cast(DoubleType) / size(col("sh_b")).cast(DoubleType))
          .as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
  }

  /** LSH candidates verified by asymmetric containment ≥ threshold in
    * either direction — same two-shuffle scale path as [[minhashPairs]].
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.5, n: Int = 3,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    containmentVerify(docs, minhashCandidates(docs, n, textCol, idCol), n, threshold,
      textCol, idCol)

  /** exact n-gram jaccard near-dup with LSH candidate generation (the
    * 100 TB route: candidates come from minhash banding over the same
    * n-grams, never from an unbounded blocking key).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    minhashPairs(docs, threshold, n, textCol, idCol)

  /** blocked all-pairs jaccard — quadratic in block size, so the block
    * population is enforced: blocks larger than maxBlockSize are
    * rejected at runtime (fail fast rather than melt the cluster).
    * Prefer [[ngramJaccardPairs]] unless the blocking key is known
    * small (e.g. near-dup within a single page's revisions).
    */
  def blockedJaccardPairs(docs: DataFrame, n: Int, threshold: Double, blockCol: String,
                          maxBlockSize: Int = 1000,
                          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // native kernel (bit-identical to array_distinct over the HOF
    // shingles — LinkedHashSet keeps first-occurrence order); the HOF
    // form re-runs its split() per element when inlined into the
    // interpreted lambda
    val sh = docs.select(col(idCol), col(blockCol),
      graft.plans.ShingleArray(col(textCol), n).as("sh"))
    // guard lives in a FILTER so Catalyst can't prune it away: any row in
    // an oversized block trips raise_error during evaluation
    val guarded = sh.withColumn("_bsz",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col(blockCol))))
      .filter(when(col("_bsz") > maxBlockSize,
        raise_error(concat(lit(s"blockedJaccardPairs: block over $maxBlockSize rows in "),
          col(blockCol).cast(StringType)))).otherwise(lit(true)))
      .drop("_bsz")
    guarded.as("a").join(guarded.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast(DoubleType) /
          size(array_union(col("a.sh"), col("b.sh"))).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- SimHash ----
  val SimhashBits = 28

  /** per-doc simhash over distinct-token hashes: bit i set iff the
    * majority of token hashes have bit i set.
    */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      graft.plans.SimHashSignature(col(textCol), SimhashBits).as("simhash"))

  /** near-dup pairs with hamming(simhash) ≤ maxDist, found by pigeonhole:
    * split the signature into (maxDist+1) bands; equal band → candidate.
    * Single pass over the corpus (posexplode of band keys), one bucket
    * shuffle, signatures carried through the bucket so the hamming
    * verify needs no join back.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sig = simhash(docs, textCol, idCol)
    val nBands = maxDist + 1
    val bandBits = SimhashBits / nBands
    def bandKey(sh: Column, b: Int): Column =
      shiftright(sh, b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
    val bandArr = array((0 until nBands).map(b => bandKey(col("simhash"), b)): _*)
    // candidate volume here is inherently large (every pair within
    // hamming ≤ maxDist survives), so pairs are generated by a CODEGEN'D
    // self-join on the narrow exploded band table — identical subplans on
    // both sides, so the exchange is computed once and reused — rather
    // than by interpreted in-bucket array explosion (≈4× slower at sf0.1).
    val bands = sig.select(col(idCol), col("simhash"),
      posexplode(bandArr).as(Seq("band", "bkey")))
    val joined = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col("x.band").as("band"),
        col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
    // first-matching-band dedup: a pair colliding in k bands appears in k
    // buckets — instead of a DISTINCT shuffle over millions of candidate
    // rows, keep the row only where `band` equals the FIRST band whose
    // keys collide (cheap codegen arithmetic on the carried signatures).
    val firstMatch = coalesce(((0 until nBands).map { b =>
      when(bandKey(col("sh_a"), b) === bandKey(col("sh_b"), b), lit(b))
    } :+ lit(-1)): _*)
    joined.filter(col("band") === firstMatch)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** embedding near-dup: sign-LSH bucket candidates, exact cosine ≥
    * threshold verification. Recall is that of the LSH family
    * (near-identical vectors share all sign bits with high probability).
    *
    * `nBits <= 0` (the default) auto-scales via [[Similarity.autoBits]]
    * from one corpus `count()`. The self-join is QUADRATIC in bucket
    * occupancy, so this is the operator where a fixed bit-width hurts
    * first — the sf1 rehearsal measured 8.2× wall for 10× rows at
    * pinned bits; with `bits = ceil(log2(n/targetBucket))` occupancy
    * (and so per-row join work) stays ~constant at any corpus size.
    * `targetBucket` defaults lower than the ANN path's because of that
    * quadratic (candidate pairs per row ≈ occupancy/2).
    */
  /** Cross-document duplicated-span statistics: for each document, the
    * fraction of its word n-gram instances that also occur in at least
    * one OTHER document — the "duplicated n-gram char fraction" family
    * of quality signals (boilerplate, licence blocks, templated pages
    * score high and get filtered or down-weighted before training).
    * Output: (idCol, n_spans, n_dup, dup_frac), one row per document
    * with ≥ 1 shingle.
    *
    * Scale shape: shingle instances are linear in corpus tokens; spans
    * travel as 48-bit md5 hashes ([[Sketch.kmvHash]] — ~10× narrower
    * on the wire than raw 5-gram strings), the shared-span set is one
    * (hash → distinct-doc-count) partial aggregate, and membership
    * rides back via a semi join on the hash — no pairwise work
    * anywhere, unlike [[minhashPairs]] this is per-DOC not per-PAIR.
    * 48-bit collisions (~n²/2⁴⁹) are the accepted quantization, same
    * trade as every hashed-shingle operator here; the oracle replays
    * the identical hash so the compare stays exact.
    */
  /** Exact n-gram benchmark decontamination: every training document
    * sharing at least one distinct word n-gram with the evaluation
    * corpus, with its overlap count — the GPT-3-style exact form of
    * what [[Bloom]]'s `filterNovel` approximates with fixed memory.
    * (Reference has no decontamination surface; this is a north-star
    * training-pipeline extension like the rest of [[Dedup]].)
    *
    * Scale shape: eval corpora are benchmarks — thousands of docs
    * against a 100 TB train corpus — so the distinct eval-gram set is
    * broadcast and the train side is ONE scan + explode with a
    * map-side hash join and a partial-aggregated count. The train
    * corpus never shuffles its text; only (id, matched-gram) survivors
    * reach the final per-doc count. Set `broadcastEval = false` when
    * the eval side is itself large (falls back to a shuffle join on
    * the gram).
    */
  def contaminationMatches(train: DataFrame, eval: DataFrame, n: Int = 8,
                           textCol: String = "text", idCol: String = "doc_id",
                           broadcastEval: Boolean = true): DataFrame = {
    require(n > 0, s"contaminationMatches: n must be positive, got $n")
    def grams(df: DataFrame, cols: Column*) =
      df.select(cols :+ explode(graft.plans.ShingleArray(col(textCol), n)).as("_g"): _*)
    val evalGrams = grams(eval).distinct()
    val ev = if (broadcastEval) broadcast(evalGrams) else evalGrams
    grams(train, col(idCol))
      .join(ev, "_g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("matched_ngrams"))
  }

  def duplicatedSpanStats(docs: DataFrame, n: Int = 5, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(n > 0, s"duplicatedSpanStats: n must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    // ONE explode+digest pass over the corpus: fold instances to
    // per-(doc, span) counts (so rows-per-hash = docs-per-hash), read
    // each span's doc count off a window over the hash partition —
    // high-cardinality partitions, not a funnel — and fold straight
    // down to per-doc stats. No join, no second corpus scan, no
    // materialized intermediate.
    val c = docs.select(col(idCol),
        explode(graft.plans.ShingleInstances(col(textCol), n)).as("_sp"))
      .select(col(idCol), Sketch.kmvHash(col("_sp")).as("_h"))
      .groupBy(col(idCol), col("_h")).agg(count(lit(1)).as("_c"))
      .withColumn("_docs", count(lit(1)).over(Window.partitionBy("_h")))
    c.groupBy(col(idCol))
      .agg(sum(col("_c")).as("n_spans"),
        sum(when(col("_docs") >= 2, col("_c")).otherwise(lit(0L))).as("n_dup"))
      .select(col(idCol), col("n_spans"), col("n_dup"),
        (col("n_dup").cast(DoubleType) /
          col("n_spans").cast(DoubleType)).as("dup_frac"))
  }

  /** Cross-document duplicated-span REMOVAL — the transform sibling of
    * [[duplicatedSpanStats]] (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": drop the repeated substring,
    * keep the rest of the document). A token is removed when ANY word
    * n-gram instance covering it also occurs in at least one OTHER
    * document; surviving tokens reassemble in order, single-spaced
    * (whitespace is normalized by tokenization, as in [[dedupLines]]).
    *
    * Output: (idCol, n_tokens, n_removed, text_clean), with text_clean
    * NULL when nothing survives — the [[dedupLines]] convention, so
    * "drop the fully-boilerplate doc" stays a null filter and "" keeps
    * meaning a kept empty document.
    *
    * Scale shape: the same per-DOC economy as the stats pass — spans
    * travel as 48-bit hashes, shared-span membership is a window over
    * the hash partition (high-cardinality, never a funnel), covered
    * positions explode to ≤ n rows per DUPLICATED instance only, and
    * the rebuild is one per-row HOF filter of the doc's tokens against
    * its own covered set. No pairwise work, no second corpus scan.
    */
  def removeDuplicatedSpans(docs: DataFrame, n: Int = 5, textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    require(n > 0, s"removeDuplicatedSpans: n must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    // instance stream with 0-based start positions; fold to per-(doc,
    // hash) + position list so the per-hash window counts DOCS (the
    // duplicatedSpanStats shape, positions riding along)
    val perDoc = docs.select(col(idCol),
        posexplode(graft.plans.ShingleInstances(col(textCol), n)).as(Seq("_p", "_sp")))
      .select(col(idCol), col("_p"), Sketch.kmvHash(col("_sp")).as("_h"))
      .groupBy(col(idCol), col("_h")).agg(collect_list(col("_p")).as("_ps"))
      .withColumn("_docs", count(lit(1)).over(Window.partitionBy("_h")))
    val covered = perDoc.filter(col("_docs") >= 2)
      .select(col(idCol), explode(col("_ps")).as("_p"))
      .select(col(idCol), explode(sequence(col("_p"), col("_p") + lit(n - 1))).as("_ci"))
      .groupBy(col(idCol)).agg(collect_set(col("_ci")).as("_cov"))
    docs.select(col(idCol), graft.functions.TextFunctions.tokens(col(textCol)).as("_t"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("_t"),
        coalesce(col("_cov"), array().cast(ArrayType(IntegerType))).as("_cov"))
      .select(col(idCol),
        size(col("_t")).cast(LongType).as("n_tokens"),
        size(col("_cov")).cast(LongType).as("n_removed"),
        array_join(filter(col("_t"),
          (_, i) => !array_contains(col("_cov"), i)), " ").as("_joined"))
      .select(col(idCol), col("n_tokens"), col("n_removed"),
        when(col("n_removed") === col("n_tokens"), lit(null).cast(StringType))
          .otherwise(col("_joined")).as("text_clean"))
  }

  /** Corpus-wide duplicate-LINE removal with document reassembly — the
    * C4/RefinedWeb curation step exact whole-doc dedup misses: web text
    * repeats at the LINE granularity (nav bars, cookie banners, license
    * footers) across documents that are globally unique. Every line
    * occurring more than once in the corpus is kept only at its FIRST
    * occurrence (minimum `(doc_id, position)` — C4's "all but one"
    * rule, pinned to a total order so the keeper is engine-
    * deterministic); each document is then reassembled from its
    * surviving lines in original order. Output per doc:
    * `(idCol, n_lines, n_kept, text_clean)` — `text_clean` is NULL when
    * every line of the doc first occurred elsewhere (the all-
    * boilerplate doc a pipeline then drops).
    *
    * Scale shape: one explode pass; lines travel as 48-bit md5 hashes
    * ([[Sketch.kmvHash]] — the [[duplicatedSpanStats]] quantization,
    * collisions ~n²/2⁴⁹ merge two line identities), the keeper choice
    * is a min-window over the hash partition (high-cardinality, no
    * funnel), and reassembly is one per-doc aggregate (state bounded by
    * the document's own size). No join, no second corpus scan.
    */
  def dedupLines(docs: DataFrame, delim: String = "\n",
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inst = docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("_pos", "_line")))
      .withColumn("_h", Sketch.kmvHash(col("_line")))
    val first = min(struct(col(idCol), col("_pos"))).over(Window.partitionBy(col("_h")))
    inst
      .withColumn("_keep", struct(col(idCol), col("_pos")) === first)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("_keep").cast(LongType)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_keep"), struct(col("_pos"), col("_line"))))),
          s => s.getField("_line")), delim).as("_joined"))
      .select(col(idCol), col("n_lines"), col("n_kept"),
        // no kept lines → NULL (not ""), so "drop the all-boilerplate
        // doc" is a null filter and "" keeps meaning a kept empty line
        when(col("n_kept") === 0, lit(null).cast(StringType))
          .otherwise(col("_joined")).as("text_clean"))
  }

  def embeddingNearDup(emb: DataFrame, threshold: Double, nBits: Int = 0, dim: Int = 64,
                       vecCol: String = "embedding", idCol: String = "vec_id",
                       targetBucket: Long = 256L): DataFrame = {
    val bits = if (nBits > 0) nBits else Similarity.autoBits(emb.count(), targetBucket)
    // narrow bucketed table; the self-join is a codegen'd hash join on the
    // bucket key (both sides are the identical subplan → exchange reuse),
    // and the cosine verify is the native single-pass kernel. Wide-payload
    // pairs through a join beat an interpreted array explosion by ~10×.
    val withB = emb.select(col(idCol), col(vecCol),
      Similarity.lshBucket(col(vecCol), dim, bits).as("bkey"))
    withB.as("a").join(withB.as("b"),
        col("a.bkey") === col("b.bkey") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        Similarity.cosine(col(s"a.$vecCol"), col(s"b.$vecCol")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** EXACT set-similarity join via prefix filtering (the PPJoin
    * candidate rule — Xiao et al. 2008, "Efficient Similarity Joins
    * for Near Duplicate Detection"): COMPLETE recall at a jaccard
    * threshold, the guarantee every LSH route here trades away. Each
    * doc's distinct shingle-hash set is ordered by global document
    * frequency ascending (rarest first, hash tiebreak); if
    * jaccard(A,B) ≥ tNum/tDen then A and B must share a hash inside
    * their first `|s| − ⌈t·|s|⌉ + 1` entries, so candidates come from
    * an equality join on PREFIX entries only, then one exact verify.
    *
    * Threshold arithmetic is RATIONAL end to end: the prefix length
    * uses int64 ceil-division and the verify compares
    * `|A∩B|·tDen ≥ tNum·|A∪B|` cross-multiplied — no float rounding
    * anywhere a verdict is made, so candidates and verdicts replay
    * bit-exactly in any engine (the bm25/top-p rational-threshold
    * rule). The reported `jaccard` is one final IEEE division.
    *
    * Scale shape: document frequency is one (hash → count) partial
    * aggregate; per-doc ranks ride a window PARTITIONED BY DOC
    * (high-cardinality, never a funnel); the self-join touches prefix
    * entries only — the RAREST tokens by construction, so stopword
    * shingles never fan out and bucket occupancy is bounded by true
    * co-occurrence. Complete recall costs more candidates than
    * [[minhashPairs]] at the same threshold — that is the explicit
    * trade; completeness is asserted against a brute-force all-pairs
    * witness in the unit suite.
    */
  def prefixJaccardPairs(docs: DataFrame, n: Int, tNum: Long, tDen: Long,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n > 0, s"prefixJaccardPairs: n must be positive, got $n")
    require(0 < tNum && tNum <= tDen,
      s"prefixJaccardPairs: threshold must be in (0, 1]: $tNum/$tDen")
    val (sh, prefix) = ppjoinShingleAndPrefix(docs, n, tNum, tDen, textCol, idCol)
    // the sketch prune fires inside ppjoinCandidates' join condition
    // (sketches ride the prefix rows) — no separate prune stage
    ppjoinVerify(ppjoinCandidates(prefix, tNum, tDen, idCol), sh, tNum, tDen, idCol)
  }

  /** Shared PPJoin sub-plans: the shingle-array table and the
    * frequency-ranked prefix table. Split out so the single-pass and
    * chunked operators are the SAME expressions — equivalence between
    * them is structural, not a re-derivation.
    */
  private[graft] def ppjoinShingleAndPrefix(docs: DataFrame, n: Int, tNum: Long, tDen: Long,
                                     textCol: String, idCol: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col(idCol),
      graft.plans.ShingleHashArray(col(textCol), n).as("sh"))
    val e = sh.select(col(idCol), explode(col("sh")).as("h"))
    val f = e.groupBy(col("h")).agg(count(lit(1)).as("_df"))
    val byDoc = Window.partitionBy(col(idCol))
    // ceil(t·sz) = (tNum·sz + tDen − 1) div tDen; the double division
    // is exact here (operands < 2^40, spacing ≥ 1/tDen ≫ ulp), and the
    // oracle's BIGINT // computes the identical floor
    val ranked = e.join(f, "h")
      .withColumn("_rn", row_number().over(byDoc.orderBy(col("_df"), col("h"))))
      .withColumn("_sz", count(lit(1)).over(byDoc))
    val prefixLen = col("_sz") -
      floor((lit(tNum) * col("_sz") + lit(tDen - 1)) / lit(tDen)).cast(LongType) + 1
    // each prefix row CARRIES its doc's 64-byte pigeonhole count
    // sketch (r17, VERDICT r16 #3): the sketch prune then fires
    // INSIDE the candidate join condition, killing provably-false
    // pairs BEFORE they enter the distinct exchange — measured at
    // sf10, the candidate pair stream (not the verify) is the
    // dominant exchange, and most of it is sketch-killable. The
    // prefix table widens by ~72 B/row (linear in corpus), traded
    // against a pair stream that grows with bucket occupancy²; the
    // separate post-distinct prune stage and its two joins disappear.
    // One id-keyed join attaches the sketch — the window above
    // already leaves `ranked` hash-partitioned on the doc id, so
    // only the doc-sized sketch side moves.
    val skT = sh.select(col(idCol),
      graft.plans.PigeonCountSketch(col("sh")).as("_sk"))
    val prefix = ranked.filter(col("_rn") <= prefixLen)
      .select(col(idCol), col("h"), col("_rn"), col("_sz"))
      .join(skT, Seq(idCol))
    (sh, prefix)
  }

  /** PPJoin candidate generation over a (possibly chunk-filtered)
    * prefix table, returning the deduped narrow (id_a, id_b) stream.
    */
  private[graft] def ppjoinCandidates(prefix: DataFrame, tNum: Long, tDen: Long,
                               idCol: String): DataFrame = {
    // PPJoin's two candidate prunes, both SOUND implications of
    // jaccard ≥ t so completeness is untouched (the unit witness test
    // asserts it), both plain int64 arithmetic inside the codegen'd
    // join condition — they fire BEFORE the DISTINCT shuffle and the
    // array verify, where the cost is:
    //  - length filter: t ≤ |A∩B|/|A∪B| ≤ min/max ⇒ max·tNum ≤ min·tDen
    //  - positional filter: both docs list tokens in the same global
    //    (df, h) total order, so a match at ranks (pa, pb) bounds the
    //    overlap by 1 + min(szA−pa, szB−pb), which must reach the
    //    minimum overlap α = ⌈tNum·(szA+szB)/(tNum+tDen)⌉ implied by
    //    |A∩B|(1+t) ≥ t(szA+szB)
    // Asymmetric INDEX prefix (PPJoin self-join form, Xiao et al. 2008
    // §3.2): for a qualifying pair, the FIRST shared token in the
    // global (df, h) order must lie within the SMALLER record's index
    // prefix of length |x| − ⌈2t/(1+t)·|x|⌉ + 1 (because |y| ≥ |x|
    // forces o ≥ 2t/(1+t)·|x|, and a pair whose shared tokens all sit
    // after that point cannot reach it) AND within the larger record's
    // probe prefix (o ≥ t·|y| via the length filter) — the same token
    // satisfies both, so restricting the BUILD side to index-prefix
    // entries keeps completeness (unit witness test) while shrinking
    // the per-h-bucket pair enumeration by ~⅓ at t=½ and dropping
    // every false candidate whose shared prefix tokens are all LATE in
    // the smaller record, before the distinct and the wide verify.
    // "Smaller" is the (sz, id) lexicographic total order so size ties
    // pick a deterministic index side.
    val idxLen = col("_sz") -
      floor((lit(2 * tNum) * col("_sz") + lit(tNum + tDen - 1)) /
        lit(tNum + tDen)).cast(LongType) + 1
    val idx = prefix.filter(col("_rn") <= idxLen)
    val (szA, szB) = (col("a._sz"), col("b._sz"))
    val alphaNum = lit(tNum) * (szA + szB) // α = ceil(alphaNum / (tNum+tDen))
    val ubound = lit(1) + least(szA - col("a._rn"), szB - col("b._rn"))
    // pigeonhole-sketch prune IN the join condition (sound: the
    // 64-bucket min-sum upper-bounds |A∩B|, NULL = saturated sketch
    // keeps the pair) — fires per enumerated pair, BEFORE the
    // distinct exchange the false candidates used to ride through
    val skBound = coalesce(
      graft.plans.PigeonMinSum(col("a._sk"), col("b._sk")) *
        lit(tDen + tNum) >= alphaNum,
      lit(true))
    idx.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") &&
          (szA < szB ||
            (szA === szB && col(s"a.$idCol") < col(s"b.$idCol"))) &&
          szB * tNum <= szA * tDen && // length filter, a is the min side
          ubound * lit(tNum + tDen) >= alphaNum &&
          skBound)
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
      // dedupe the NARROW (16-byte) pair stream BEFORE the verify joins
      // attach the shingle arrays: a pair colliding on k prefix tokens
      // would otherwise be verified k times, and each duplicate carries
      // ~sh-array bytes through the second join's exchange — at sf10
      // rehearsal scale that amplification (k × ~0.7 KB per candidate)
      // sort-spilled past the local disk. One cheap narrow shuffle here
      // shrinks the expensive wide stage by k×; the post-verify
      // distinct then drops.
      .distinct()
  }

  /** PPJoin exact-jaccard verification of a narrow candidate stream
    * against the shingle-array table.
    */
  private[graft] def ppjoinVerify(cand: DataFrame, sh: DataFrame, tNum: Long, tDen: Long,
                           idCol: String): DataFrame = {
    // The verify joins use SHUFFLED HASH (hint) rather than sort-merge:
    // the array side is the per-key build map, and the wide candidate
    // stream is STREAMED, never sorted — sort-merge would sort the
    // widest relation in the plan and spill it. The verify itself is
    // one fused native kernel (ArrayIntersectCount: one hash build +
    // one counting probe per pair) — the built-in
    // size(array_intersect)/size(array_union) pair materializes two
    // throwaway arrays per candidate.
    cand
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")).hint("shuffle_hash"), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")).hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.plans.ArrayIntersectCount(col("sh_a"), col("sh_b")).as("_i"),
        (size(col("sh_a")) + size(col("sh_b"))).cast(LongType).as("_ab"))
      .filter(col("_i") * (tDen + tNum) >= lit(tNum) * col("_ab"))
      .select(col("id_a"), col("id_b"),
        (col("_i").cast(DoubleType) /
          (col("_ab") - col("_i")).cast(DoubleType)).as("jaccard"))
  }

  /** [[prefixJaccardPairs]] executed in `passes` bounded-footprint
    * WAVES — the out-of-core shape of the exact similarity self-join.
    *
    * The candidate space is partitioned EXACTLY by the shared prefix
    * token: a candidate pair exists only through an equality match on
    * some prefix hash `h`, so restricting one wave to
    * `pmod(h, passes) = p` and unioning all waves enumerates every
    * candidate the single-pass plan enumerates (a pair sharing prefix
    * tokens in several waves is re-verified to the identical row and
    * collapsed by the final pair-key dedup). Each wave's candidate
    * join, narrow dedup, and wide array-verify run as their OWN job
    * over ~1/passes of the candidate volume, with results landed to
    * `stagingDir` and the wave's shuffle files released SYNCHRONOUSLY
    * before the next wave starts ([[Waves.run]]) — so peak
    * shuffle/spill footprint is
    * divided by ~passes as a guarantee, which is what lets the sf10
    * fixture (whose 931-bigram vocabulary makes 99.997% of candidates
    * false) complete on one box instead of exceeding local disk. The
    * linear-size shingle and prefix tables are computed ONCE and
    * staged as parquet — each wave re-reads them instead of
    * recomputing the hash/rank pipeline.
    *
    * This is also the 100 TB cluster recipe, not a local workaround:
    * stage the token-ranked corpus once on distributed storage, size
    * `passes` so one wave's candidate volume fits the cluster's
    * shuffle capacity, run waves as separate jobs (restartable at
    * wave granularity). `stagingDir` is caller-owned and must outlive
    * consumption of the returned DataFrame (it reads the staged wave
    * outputs lazily).
    *
    * Equivalence to the single-pass operator is structural (shared
    * sub-plan builders) and asserted by a unit test comparing result
    * sets on the shared fixture.
    */
  def prefixJaccardPairsChunked(docs: DataFrame, n: Int, tNum: Long, tDen: Long,
                                passes: Int, stagingDir: String,
                                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n > 0, s"prefixJaccardPairsChunked: n must be positive, got $n")
    require(0 < tNum && tNum <= tDen,
      s"prefixJaccardPairsChunked: threshold must be in (0, 1]: $tNum/$tDen")
    require(passes >= 1, s"prefixJaccardPairsChunked: passes must be >= 1, got $passes")
    require(stagingDir.nonEmpty, "prefixJaccardPairsChunked: stagingDir required")
    val (sh0, prefix0) = ppjoinShingleAndPrefix(docs, n, tNum, tDen, textCol, idCol)
    // the `sh` verify table stages unpartitioned (any wave's candidates
    // may reference any doc); prefix rows stage by wave WITH their
    // 64-byte pigeonhole sketches (the ppjoinShingleAndPrefix contract
    // since r17), so every wave's candidate join prunes in-condition
    // off its own pruned slice
    val sh = Waves.stage(sh0, s"$stagingDir/sh").all
    val prefix = Waves.stage(prefix0, s"$stagingDir/prefix", col("h"), passes)
    Waves.run(docs.sparkSession, passes, s"$stagingDir/out") { p =>
      ppjoinVerify(ppjoinCandidates(prefix.slice(p), tNum, tDen, idCol),
        sh, tNum, tDen, idCol)
    }.all.dropDuplicates("id_a", "id_b")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the corpus embeddings, and within each
    * cluster drop every vector semantically covered by a
    * higher-priority candidate — cosine ≥ `threshold` to one EARLIER
    * in the keep order. Keep order inside a cluster is ASCENDING
    * cosine to the cluster centroid, id tiebreak — the paper's
    * diversity-preserving choice (of a duplicate set, the example
    * least like the cluster's mode survives).
    *
    * The drop rule is the one-join "dominated by an earlier candidate"
    * formulation, not the paper's sequential greedy sweep: b drops
    * when ANY earlier a has cos(a,b) ≥ threshold, even if a itself
    * dropped. Greedy would transitively re-keep some of those; the
    * one-join form is order-deterministic, engine-replayable, and
    * strictly more aggressive — the conservative direction for a
    * dedup filter.
    *
    * `clusterCol` is any coarse assignment — at scale,
    * [[Similarity.kmeansAssign]] with its `autoCells` default, which
    * holds expected cluster occupancy (and so the cluster-local
    * self-join's quadratic term) CONSTANT at any corpus size; the
    * oracle gate query pins a fixture label instead so the replay SQL
    * stays static, same pattern as [[embeddingNearDup]]'s pinned bits.
    *
    * Centroids are the integer-quantized per-cluster means
    * (`floor(Σ floor(x·2^20) / n)` per dimension — the
    * [[Similarity.kmeansTrain]] update rule), so centroid cosines and
    * the keep order replay bit-exactly in any engine.
    *
    * Output: one row per vector — (idCol, cluster, cos_centroid,
    * kept). Scale shape: one |clusters|-row broadcast for the
    * centroids, one cluster-local self-join for domination, one
    * broadcast anti of the (small) dropped set — the corpus never
    * shuffles its vectors beyond the cluster key.
    */
  def semanticDedup(emb: DataFrame, threshold: Double, clusterCol: String,
                    dim: Int = 64, vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    val S = 1L << 20
    val qv = transform(col(vecCol), x => floor(x.cast(DoubleType) * S).cast(LongType))
    val base = emb.select(col(idCol), col(clusterCol).cast(LongType).as("cluster"),
      col(vecCol).as("_v"), qv.as("_qv"))
    val sums = (0 until dim).map(i =>
      floor(sum(element_at(col("_qv"), i + 1)).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as(s"_c$i"))
    val cents = base.groupBy(col("cluster")).agg(sums.head, sums.tail: _*)
      .select(col("cluster"),
        // double-cast for the cosine kernel; exact (|component| < 2^21)
        array((0 until dim).map(i => col(s"_c$i").cast(DoubleType)): _*).as("_cv"))
    val withC = base.join(broadcast(cents), "cluster")
      .select(col(idCol), col("cluster"), col("_v"),
        Similarity.cosine(col("_v"), col("_cv")).as("cos_centroid"))
    val a = withC.select(col("cluster").as("_cla"), col(idCol).as("_ida"),
      col("_v").as("_va"), col("cos_centroid").as("_cca"))
    val b = withC.select(col("cluster").as("_clb"), col(idCol).as("_idb"),
      col("_v").as("_vb"), col("cos_centroid").as("_ccb"))
    val dropped = a.join(b, col("_cla") === col("_clb") &&
        (col("_cca") < col("_ccb") ||
          (col("_cca") === col("_ccb") && col("_ida") < col("_idb"))))
      .filter(Similarity.cosine(col("_va"), col("_vb")) >= threshold)
      .select(col("_idb").as(idCol)).distinct()
    withC.select(col(idCol), col("cluster"), col("cos_centroid"))
      .join(broadcast(dropped.withColumn("_drop", lit(true))), Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("cos_centroid"),
        col("_drop").isNull.as("kept"))
  }

  /** Fuzzy entity matching: ALL pairs of records whose `keyCol` values
    * are within `maxDist` Levenshtein edits (full recall — no blocking
    * caveat), via FastSS-style deletion neighborhoods
    * (Bocek et al. 2007, "Fast Similarity Search in Large
    * Dictionaries"): if lev(s, t) ≤ d then s and t share a variant
    * reachable by ≤ d single-character deletions from each — every
    * edit is covered by deleting the affected character from one or
    * both sides. So: explode each record into its ≤ d-deletion
    * variants, self-join on the variant key, dedupe candidate pairs,
    * and verify each ONCE with the real edit distance.
    *
    * Scale shape: |s|·d variants per record (codegen'd HOF, no UDF),
    * one shuffle on the variant key, and the quadratic step happens
    * only inside a variant bucket — buckets are near-singleton except
    * where true matches cluster, in which case the pairs ARE the
    * output. This replaces naive prefix blocking, which degenerates to
    * a full in-block cross product on common-prefix corpora
    * (sequential IDs, `Customer#...`): quadratic in n, not in matches.
    *
    * Exchange-side economies (a pair can share up to ~2·|s| variant
    * buckets, so the candidate stream carries a duplication factor —
    * on the fixture this is among the most expensive queries in the
    * suite without them):
    *  - variants travel as `xxhash64` longs, never as strings: the
    *    bucket exchange moves 8-byte keys, and a hash collision can
    *    only ADD candidate rows, which the exact levenshtein verify
    *    already discards (no false negatives: equal variants always
    *    equal-hash, so every true pair still collides somewhere);
    *  - the bucket join's exchange carries ONLY `(id, h)` — 16 B/row.
    *    An earlier form carried each side's full variant-hash array
    *    plus the key string through the join so pair dedup could be
    *    arithmetic (keep the bucket equal to the min shared hash, no
    *    DISTINCT); measured at the 20 M-record scale rehearsal that is
    *    backwards: the wide rows put ~250 B × every exploded variant
    *    through the exchange (~190 GB, disk-exhausting on one box)
    *    to save a 16 B-row DISTINCT whose input is only ~2-3× the true
    *    pair count on digit-structured keys. Narrow rows + DISTINCT on
    *    `(id_a, id_b)` + joining the key strings back for the single
    *    levenshtein verify per surviving pair is ~15× less exchange
    *    volume at any corpus size.
    *
    * At maxDist 1 the candidate generator is POSITION-ANNOTATED
    * (FastSS's deletion-position compatibility rule, exact at d=1):
    * the plain share-any-variant join admits every pair reachable by
    * ONE deletion from EACH side — a lev-2 superset (transpositions,
    * shifted digits) that on sequential-key corpora outnumbers the
    * true pairs several times over, all discarded by the verify.
    * Splitting the stream into anchor (the key itself), substitution
    * (variant hashed WITH its deletion position) and deletion-probe
    * (variant hashed in the anchor domain) rows makes the three joins
    * admit exactly dist-0, same-position-substitution and
    * deletion/insertion candidates — the candidate set collapses to
    * ~the true pair set, shrinking the DISTINCT and both verify joins
    * (measured at sf10: 128.8 M → 41.4 M
    * candidates — exactly the true pair count, zero spurious — and
    * 1.8× end-to-end with spill halved). Hash collisions
    * still only ADD candidates: the substitution join drops anchor-
    * hash-EQUAL pairs, and any such pair — truly equal or colliding —
    * is re-admitted by the anchor join and settled by the exact
    * verify.
    */
  def fuzzyPairs(records: DataFrame, maxDist: Int,
                 keyCol: String = "name", idCol: String = "id"): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2, s"fuzzyPairs: maxDist must be 1 or 2, got $maxDist")
    if (maxDist == 1)
      verifyLev(fuzzyCandidatesD1(records, keyCol, idCol),
        verifyKeys(records, keyCol, idCol), maxDist)
    else fuzzyPairsGeneric(records, maxDist, keyCol, idCol)
  }

  /** The assembled d=1 split-route candidate set (pre-verify). */
  private[graft] def fuzzyCandidatesD1(records: DataFrame, keyCol: String,
                                       idCol: String): DataFrame = {
    val parts = fuzzyD1Parts(records, keyCol)
    val (an, su, pr) = fuzzyStreamsD1(records, keyCol, idCol)
    fuzzyCandidateJoinsD1(
      an.repartition(parts, col("h")), su.repartition(parts, col("h")),
      pr.repartition(parts, col("h")), idCol)
  }

  /** The generic shared-any-variant candidate route behind
    * [[fuzzyPairs]] — the only complete generator at maxDist 2 (the
    * position-compatibility rule for two deletions needs FastSS
    * position LISTS, which would widen the 16 B exchange rows the
    * whole design is built around), and the control arm the d=1
    * split route is checked against (`BehaviorSpec`). */
  private[graft] def fuzzyPairsGeneric(records: DataFrame, maxDist: Int,
                                       keyCol: String = "name",
                                       idCol: String = "id"): DataFrame =
    verifyLev(fuzzyCandidatesGeneric(records, maxDist, keyCol, idCol),
      verifyKeys(records, keyCol, idCol), maxDist)

  /** The generic share-any-variant candidate set (pre-verify). */
  private[graft] def fuzzyCandidatesGeneric(records: DataFrame, maxDist: Int,
                                            keyCol: String,
                                            idCol: String): DataFrame = {
    variantSelfJoin(deletionVariantHashes(records, maxDist, keyCol, idCol,
      variantParts(records, maxDist, keyCol)), idCol)
  }

  /** The share-any-variant self-join over an `(id, h)` stream already
    * partitioned on `h` (the whole stream single-pass, one wave's slice
    * staged): one DISTINCT `(id_a, id_b)` per colliding pair. */
  private def variantSelfJoin(v: DataFrame, idCol: String): DataFrame =
    v.as("a").hint("merge").join(v.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()

  /** [[fuzzyPairs]] executed in `passes` bounded-footprint WAVES — the
    * out-of-core shape of the edit-distance self-join, the same recipe
    * [[prefixJaccardPairsChunked]] proved out for the jaccard family.
    *
    * The candidate space is partitioned EXACTLY by the shared deletion
    * variant: a candidate pair exists only through an equality match
    * on some variant hash `h`, so restricting one wave to
    * `pmod(h, passes) = p` and unioning all waves enumerates every
    * candidate the single-pass plan enumerates (a pair sharing
    * variants in several waves re-verifies to the identical row and
    * collapses in the final pair-key dedup). The narrow variant
    * stream(s) — the three d=1 split-route streams or the one generic
    * d=2 stream — and the `(id, key)` verify table are computed ONCE
    * and staged as parquet; each wave filters its slice off the staged
    * columnar scan, pays a 1/passes-sized bucket exchange (sized by
    * the same [[variantPartsFor]] formula with the `waves` divisor),
    * sort-merge self-joins it, DISTINCTs the 16 B id pairs, verifies
    * with one exact `levenshtein` per surviving pair, lands the wave
    * to `stagingDir`, and releases its shuffle files SYNCHRONOUSLY
    * before the next wave starts — peak sort-spill footprint is
    * divided by ~passes as a guarantee. That is what retires the
    * sf100 one-box ceiling: the single-pass form's 380 M-row variant
    * sort exhausted local disk, while each wave here spills only its
    * slice.
    *
    * This is also the 100 TB cluster recipe, not a local workaround:
    * stage the variant stream once on distributed storage, size
    * `passes` so one wave's exchange fits the cluster's shuffle
    * capacity, and run waves as restartable jobs. `stagingDir` is
    * caller-owned and must outlive consumption of the returned
    * DataFrame (it reads the staged wave outputs lazily).
    *
    * Equivalence to [[fuzzyPairs]] is structural (shared explode,
    * candidate-join and verify builders) and asserted by a unit test
    * comparing result sets on the shared fixture at several wave
    * counts. */
  def fuzzyPairsChunked(records: DataFrame, maxDist: Int, passes: Int,
                        stagingDir: String, keyCol: String = "name",
                        idCol: String = "id"): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"fuzzyPairsChunked: maxDist must be 1 or 2, got $maxDist")
    require(passes >= 1, s"fuzzyPairsChunked: passes must be >= 1, got $passes")
    require(stagingDir.nonEmpty, "fuzzyPairsChunked: stagingDir required")
    // d=1 stages the three split-route streams (see [[fuzzyPairs]]);
    // d=2 stages the one generic variant stream. A candidate exists
    // only through an h equality within ONE stream, so slicing every
    // stream by the same pmod(h, passes) partitions the candidate space
    // exactly in either route.
    val waveParts =
      if (maxDist == 1) fuzzyD1Parts(records, keyCol, waves = passes)
      else variantParts(records, maxDist, keyCol, waves = passes)
    val streams = if (maxDist == 1) {
      // the three split-route streams stage as ONE tagged table (r17):
      // a per-stream write re-scanned and re-exploded the corpus three
      // times and paid three write jobs; the union stages everything
      // in one corpus pass, partitioned by (wave, stream) so each
      // wave's per-stream slice stays directory-pruned. `ha` is only
      // meaningful for the substitution stream — the others carry it
      // as null and never read it.
      val (an, su, pr) = fuzzyStreamsD1(records, keyCol, idCol)
      val tagged = an.select(col(idCol), col("h"),
          lit(null).cast(LongType).as("ha"), lit("an").as("s"))
        .unionByName(su.select(col(idCol), col("h"), col("ha"),
          lit("su").as("s")))
        .unionByName(pr.select(col(idCol), col("h"),
          lit(null).cast(LongType).as("ha"), lit("pr").as("s")))
      Waves.stage(tagged, s"$stagingDir/d1", col("h"), passes, "s")
    } else Waves.stage(deletionVariantHashesRaw(records, maxDist, keyCol, idCol),
      s"$stagingDir/v", col("h"), passes)
    val k = Waves.stage(verifyKeys(records, keyCol, idCol), s"$stagingDir/k").all
    Waves.run(records.sparkSession, passes, s"$stagingDir/out") { p =>
      def slice(where: Column, cols: String*) = streams.slice(p, where)
        .select(cols.map(col): _*).repartition(waveParts, col("h"))
      val cand =
        if (maxDist == 1)
          fuzzyCandidateJoinsD1(slice(col("s") === "an", idCol, "h"),
            slice(col("s") === "su", idCol, "h", "ha"),
            slice(col("s") === "pr", idCol, "h"), idCol)
        else variantSelfJoin(slice(lit(true), idCol, "h"), idCol)
      verifyLev(cand, k, maxDist)
    }.all.dropDuplicates("id_a", "id_b")
  }

  /** Shared deletion-neighborhood blocking frame for [[fuzzyPairs]] and
    * [[fuzzyJoin]]: each record exploded to the xxhash64 of itself and
    * every ≤ maxDist single-character deletion — two strings within
    * edit distance maxDist (≤ 2) ALWAYS share a variant, so the hash
    * buckets are a complete candidate generator at that radius.
    * Emits ONLY `(id, h)` — the narrow rows are the whole point (see
    * [[fuzzyPairs]]'s exchange-economy note); keys are joined back
    * after candidate dedup. */
  private def deletionVariantHashes(records: DataFrame, maxDist: Int,
                                    keyCol: String, idCol: String,
                                    parts: Int): DataFrame =
    deletionVariantHashesRaw(records, maxDist, keyCol, idCol)
      // Explicit data-sized exchange (see variantParts): both sides of
      // the bucket join arrive HashPartitioning(h, parts), so the join
      // adds no further exchange, and AQE never coalesces a
      // user-specified repartition back below the sort-safe width.
      .repartition(parts, col("h"))
      // Callers pin the bucket join to sort-merge: a shuffled-hash
      // bucket join OOMed at the sf100 one-box rehearsal — the build
      // side is the whole exploded corpus (~380 M rows across only
      // #cores partitions), an SHJ build relation cannot spill, and it
      // shares task memory with the fused partial-DISTINCT aggregate.
      // Leaving the choice to AQE re-converted to SHJ and OOMed again;
      // sort-merge spills gracefully at any size (measured equal at
      // sf10, where the sorts fit in memory anyway).

  /** The exchange-free explode underlying [[deletionVariantHashes]] —
    * split out so [[fuzzyPairsChunked]] can stage the narrow `(id, h)`
    * stream to parquet ONCE without paying the full-corpus bucket
    * exchange (each wave repartitions only its own 1/passes slice). */
  private def deletionVariantHashesRaw(records: DataFrame, maxDist: Int,
                                       keyCol: String, idCol: String): DataFrame = {
    // one deletion round: every string in `arr` minus each single char
    def deleteOne(arr: Column): Column =
      flatten(transform(arr, s =>
        transform(sequence(lit(1), length(s)), i =>
          concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))))
    val self = array(col(keyCol))
    val vars0 = if (maxDist == 1) concat(self, deleteOne(self))
      else { val d1 = deleteOne(self); concat(self, d1, deleteOne(d1)) }
    records
      .filter(col(keyCol).isNotNull)
      .select(col(idCol),
        explode(array_distinct(transform(vars0, v => xxhash64(v)))).as("h"))
  }

  /** Cross-table face of the d=1 split route (see [[fuzzyPairs]]):
    * anchor×anchor (dist 0), substitution×substitution at unequal
    * anchor hashes (anchor-equal pairs re-enter via anchor×anchor),
    * and probe×anchor in EACH direction — cross-table, either side
    * may be the longer one. */
  private[graft] def fuzzyJoinCandidatesD1(left: DataFrame, right: DataFrame,
                                           keyCol: String,
                                           idCol: String): DataFrame = {
    val parts = math.max(fuzzyD1Parts(left, keyCol),
      fuzzyD1Parts(right, keyCol))
    def rep(d: DataFrame) = d.repartition(parts, col("h"))
    val (la0, ls0, lp0) = fuzzyStreamsD1(left, keyCol, idCol)
    val (ra0, rs0, rp0) = fuzzyStreamsD1(right, keyCol, idCol)
    val (la, ls, lp) = (rep(la0), rep(ls0), rep(lp0))
    val (ra, rs, rp) = (rep(ra0), rep(rs0), rep(rp0))
    def j(x: DataFrame, y: DataFrame, extra: Column = lit(true)) =
      x.as("a").hint("merge").join(y.as("b"),
          col("a.h") === col("b.h") && extra)
        .select(col(s"a.$idCol").as("id_l"), col(s"b.$idCol").as("id_r"))
    j(la, ra)
      .unionByName(j(ls, rs, col("a.ha") =!= col("b.ha")))
      .unionByName(j(lp, ra))
      .unionByName(j(la, rp))
      .distinct()
  }

  /** The generic cross-table share-any-variant candidate set — the
    * only complete generator at d=2, and the probe's control arm. */
  private[graft] def fuzzyJoinCandidatesGeneric(left: DataFrame,
                                                right: DataFrame, maxDist: Int,
                                                keyCol: String,
                                                idCol: String): DataFrame = {
    val parts = math.max(variantParts(left, maxDist, keyCol),
      variantParts(right, maxDist, keyCol))
    val a = deletionVariantHashes(left, maxDist, keyCol, idCol, parts)
    val b = deletionVariantHashes(right, maxDist, keyCol, idCol, parts)
    a.as("a").hint("merge").join(b.as("b"), col("a.h") === col("b.h"))
      .select(col(s"a.$idCol").as("id_l"), col(s"b.$idCol").as("id_r"))
      .distinct()
  }

  /** The three exchange-free candidate streams of the position-
    * annotated d=1 route (see [[fuzzyPairs]]): anchor `(id, h)` with
    * `h = xxhash64(key)`; substitution `(id, h, ha)` with
    * `h = xxhash64(del_i(key), i)` (one row per position — positions
    * are distinct by construction, no array_distinct pass) plus the
    * anchor hash `ha` so the join can drop the |key|-bucket flood an
    * exact-duplicate pair would otherwise emit; deletion-probe
    * `(id, h)` with `h = xxhash64(del_i(key))` — deliberately the
    * ANCHOR hash domain, so probe×anchor equality means "one side's
    * single deletion IS the other's key". Cross-domain xxhash64
    * collisions (anchor vs substitution) only add candidates the
    * verify discards. Zero-length keys emit no variant rows: their
    * only ≤1-edit partners are exact dupes (anchor join) and
    * single-char keys, whose probe rows hash the empty string into
    * the anchor domain and meet them there. */
  private def fuzzyStreamsD1(records: DataFrame, keyCol: String,
                             idCol: String): (DataFrame, DataFrame, DataFrame) = {
    val base = records.filter(col(keyCol).isNotNull)
    val k = col(keyCol)
    def delAt(s: Column, i: Column): Column =
      concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))
    // sequence(1, 0) would DESCEND for an empty key — guard to an
    // empty index array instead
    val idxs = when(length(k) < 1, array().cast(ArrayType(IntegerType)))
      .otherwise(sequence(lit(1), length(k)))
    val anchors = base.select(col(idCol), xxhash64(k).as("h"))
    val subs = base.select(col(idCol), xxhash64(k).as("ha"),
      explode(transform(idxs, i => xxhash64(delAt(k, i), i))).as("h"))
      .select(col(idCol), col("h"), col("ha"))
    val probes = base.select(col(idCol),
      explode(array_distinct(transform(idxs, i => xxhash64(delAt(k, i))))).as("h"))
    (anchors, subs, probes)
  }

  /** The three candidate joins over [[fuzzyStreamsD1]] rows (already
    * partitioned on `h` by the caller — single-pass repartitions the
    * full streams, the chunked form its per-wave slices): anchor×anchor
    * (dist-0), substitution×substitution at unequal anchor hashes
    * (same-position single substitution), probe×anchor (single
    * deletion/insertion, pair order normalized — only the longer
    * side's probe can meet the shorter side's anchor, so both
    * directions arrive through the one join). Sort-merge pinned for
    * the same cannot-spill SHJ reason as [[deletionVariantHashes]]. */
  private def fuzzyCandidateJoinsD1(anchors: DataFrame, subs: DataFrame,
                                    probes: DataFrame, idCol: String): DataFrame = {
    val aa = anchors.as("a").hint("merge").join(anchors.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    val ss = subs.as("a").hint("merge").join(subs.as("b"),
        col("a.h") === col("b.h") && col("a.ha") =!= col("b.ha") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    val pa = probes.as("a").hint("merge").join(anchors.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
    aa.unionByName(ss).unionByName(pa).distinct()
  }

  /** Exchange sizing for the d=1 split route: ~2·len+2 narrow rows per
    * record across the three streams (vs 1+len for the generic route),
    * fed through [[variantPartsFor]] by doubling the average length —
    * same 4 M-rows-per-partition target, same clamps. */
  private def fuzzyD1Parts(records: DataFrame, keyCol: String,
                           waves: Int = 1): Int = {
    val spark = records.sparkSession
    val row = records.filter(col(keyCol).isNotNull)
      .agg(count(lit(1)), avg(length(col(keyCol)))).head()
    val cnt = row.getLong(0)
    val len = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
    variantPartsFor(cnt, 2.0 * len + 1.0, maxDist = 1,
      spark.sessionState.conf.numShufflePartitions, waves)
  }

  /** The `(._kid, ._kkey)` verify-side frame shared by every fuzzy
    * route (the chunked form stages it to parquet once instead). */
  private def verifyKeys(records: DataFrame, keyCol: String,
                         idCol: String): DataFrame =
    records.filter(col(keyCol).isNotNull)
      .select(col(idCol).as("_kid"), col(keyCol).as("_kkey"))

  /** One exact `levenshtein` per DISTINCT candidate pair — the shared
    * tail of every fuzzy candidate route. */
  private def verifyLev(cand: DataFrame, k: DataFrame,
                        maxDist: Int): DataFrame =
    cand
      .join(k.as("ka"), col("id_a") === col("ka._kid"))
      .join(k.as("kb"), col("id_b") === col("kb._kid"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ka._kkey"), col("kb._kkey")).as("dist"))
      .filter(col("dist") <= maxDist)

  /** Partition count for the fuzzy bucket join: the session's
    * `shuffle.partitions` is sized for ~fixture-scale aggregates, not
    * for sorting the exploded variant corpus (|s|+1 rows per record at
    * maxDist 1). At the sf100 rehearsal the 20 M-customer corpus
    * explodes to 380 M rows; across 32 partitions each SMJ input sort
    * held ~12-50 M pointers and the pointer-array grow OOMed before
    * spill could free it. One cheap count+avg-length aggregate sizes
    * the exchange to ~4 M narrow rows (~64 MB sort input) per
    * partition instead — the same measure-then-shard discipline as
    * Similarity's shardTarget. Never below the session default (small
    * inputs keep their plan), capped at 4096 like every shard fan-out
    * here. */
  private def variantParts(records: DataFrame, maxDist: Int,
                           keyCol: String, waves: Int = 1): Int = {
    val spark = records.sparkSession
    val row = records.filter(col(keyCol).isNotNull)
      .agg(count(lit(1)), avg(length(col(keyCol)))).head()
    val cnt = row.getLong(0)
    val len = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
    variantPartsFor(cnt, len, maxDist,
      spark.sessionState.conf.numShufflePartitions, waves)
  }

  /** The pure sizing formula behind [[variantParts]], factored out so a
    * unit test can pin it with synthetic stats (it steers an
    * OOM-critical exchange): variants-per-record ≈ 1 + len (maxDist 1)
    * or 1 + len + len² (maxDist 2), targeting ~4 M narrow rows (~64 MB
    * of SMJ sort input) per partition, divided by `waves` for the
    * chunked form (each wave exchanges only its 1/waves candidate
    * slice). Clamped to [session default, 4096]. */
  private[graft] def variantPartsFor(cnt: Long, avgLen: Double, maxDist: Int,
                                     default: Int, waves: Int = 1): Int = {
    val vpk = 1.0 + avgLen + (if (maxDist == 2) avgLen * avgLen else 0.0)
    val target = math.ceil(cnt * vpk / 4e6 / waves)
    // The session-default FLOOR is deliberate and was re-validated this
    // round (r17): an experiment replacing it with a ~250 k-rows/
    // partition data-sized floor (the Graph.iterWidth discipline)
    // regressed every fuzzy row 20-50% at sf0.1 — the variant bucket
    // join is CPU-bound (string-length sorts + join explosion), so
    // narrowing below the core count serializes real work, unlike the
    // graph loops' cheap long-pair exchanges. Width here follows CORES
    // at the small end and data at the large end.
    math.max(default, math.min(4096.0, target).toInt)
  }

  /** Cross-table fuzzy join (record linkage): best edit-distance-≤
    * `maxDist` match in `right` for each `left` record — the entity-
    * resolution face of [[fuzzyPairs]] (link a dirty registry against
    * a canonical one, reconcile two vendors' catalogs). Candidates
    * come from the same COMPLETE deletion-neighborhood blocking (two
    * strings within the radius always share a deletion variant), each
    * candidate is verified with exact `levenshtein`, duplicate
    * (left, right) candidates collapse by a DISTINCT over the narrow
    * 16 B id-pair stream (see [[fuzzyPairs]] for why that beats
    * carrying variant arrays through the bucket join), and the winner
    * per left record is the (dist, right-id)-least match via one
    * bounded `min_by` aggregate — deterministic at any partitioning.
    * INNER semantics: lefts with no match within the radius are absent
    * (left-join the output back for the audit face).
    *
    * Output: `(id_l, key_l, id_r, key_r, dist)` — one row per matched
    * left record.
    *
    * Scale shape: both sides explode to length+1 (maxDist=1) variant
    * hashes and meet in a sort-merge bucket join (pinned — an SHJ
    * build over the exploded corpus cannot spill and OOMed at the
    * sf100 rehearsal; see [[deletionVariantHashes]]) — candidate
    * volume is bounded by real variant collisions, never the cross
    * product; the per-left argmax is a map-side-combined `min_by`, no
    * window.
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame, maxDist: Int,
                keyCol: String = "name", idCol: String = "id"): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2, s"fuzzyJoin: maxDist must be 1 or 2, got $maxDist")
    // one shared width: mismatched HashPartitioning counts would make
    // the planner re-exchange a side at the session default again
    val cand =
      if (maxDist == 1) fuzzyJoinCandidatesD1(left, right, keyCol, idCol)
      else fuzzyJoinCandidatesGeneric(left, right, maxDist, keyCol, idCol)
    val kl = left.filter(col(keyCol).isNotNull)
      .select(col(idCol).as("_lid"), col(keyCol).as("_lkey"))
    val kr = right.filter(col(keyCol).isNotNull)
      .select(col(idCol).as("_rid"), col(keyCol).as("_rkey"))
    cand
      .join(kl, col("id_l") === col("_lid"))
      .join(kr, col("id_r") === col("_rid"))
      .select(col("id_l"), col("_lkey").as("key_l"),
        col("id_r"), col("_rkey").as("key_r"),
        levenshtein(col("_lkey"), col("_rkey")).as("dist"))
      .filter(col("dist") <= maxDist)
      .groupBy(col("id_l"), col("key_l"))
      .agg(min_by(struct(col("id_r"), col("key_r"), col("dist")),
        struct(col("dist"), col("id_r"))).as("_m"))
      .select(col("id_l"), col("key_l"), col("_m.id_r").as("id_r"),
        col("_m.key_r").as("key_r"), col("_m.dist").as("dist"))
  }
}
