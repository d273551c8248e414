package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bloom-filter membership over a 100 TB corpus — the classic
  * decontamination / "definitely new" primitive for training-data
  * pipelines: build a fixed-size bitmap over the corpus keys once
  * ([[graft.plans.BloomBits]], one pass, bitmap-per-partition exchange),
  * then filter any incoming batch AGAINST THE BITMAP with a pure
  * map-side predicate — no join against the corpus, no corpus re-scan,
  * no shuffle on the batch.
  *
  * Contract (standard Bloom semantics):
  *  - NO false negatives: a key that is in the corpus always probes
  *    "might contain" — so [[filterNovel]] output is GUARANTEED novel.
  *  - False positives at the configured rate: a genuinely novel key is
  *    mistaken for seen with probability ≈ (1 − e^(−kn/m))^k — sized by
  *    [[autoSize]] to ~1% at 10 bits/key. For exact decontamination use
  *    the bloom as a cheap PRE-FILTER before the exact anti join
  *    ([[Incremental.dedupAgainstCorpus]] / exact-key anti join): the
  *    bloom eliminates ~99% of the batch map-side, the join confirms
  *    the rest.
  *
  * Hashes are md5-derived with an `i:` salt per probe (the same
  * engine-portable 28-bit hash family as every graft fingerprint), so
  * build, probe, and the DuckDB oracle replay compute identical
  * positions from identical formulas.
  *
  * Scale note: the bitmap is `mBits/64` longs driver-side and rides the
  * probe plan as a literal (broadcast-sized MODEL, like a PQ codebook).
  * 10 bits/key holds FPR ≈ 1% at any corpus size, but the bitmap grows
  * linearly with n (1 B keys ≈ 1.25 GB): past broadcast practicality,
  * shard the corpus and build one bloom per shard, or raise the FPR.
  */
object Bloom {

  /** engine-portable probe position `i`: 28-bit md5 prefix of the
    * salted key, mod mBits. Mirrored verbatim in the oracle SQL.
    */
  def position(key: Column, i: Int, mBits: Int): Column =
    conv(substring(md5(concat(lit(s"$i:"), key)), 1, 7), 16, 10)
      .cast(LongType) % mBits

  /** (mBits, k) for a corpus of `n` keys at `bitsPerKey` (default 10 →
    * k=7 probes, FPR ≈ 1%). mBits rounds up to a multiple of 64.
    */
  def autoSize(n: Long, bitsPerKey: Int = 10): (Int, Int) = {
    require(n >= 0 && bitsPerKey > 0,
      s"Bloom.autoSize: n>=0 and bitsPerKey>0, got n=$n bits=$bitsPerKey")
    val raw = math.max(64L, n * bitsPerKey)
    require(raw <= Int.MaxValue.toLong - 63,
      s"Bloom.autoSize: $n keys at $bitsPerKey bits/key exceeds a 2^31-bit " +
        "bitmap - shard the corpus into per-shard blooms")
    val m = ((raw + 63) / 64 * 64).toInt
    val k = math.max(1, math.round(bitsPerKey * math.log(2.0)).toInt)
    (m, k)
  }

  /** One-pass bitmap build over the corpus keys: k salted positions per
    * key (codegen'd explode), OR-folded into one `mBits/64`-word array
    * by the fixed-memory [[graft.plans.BloomBits]] aggregate.
    */
  def build(corpus: DataFrame, key: Column, mBits: Int, k: Int): IndexedSeq[Long] = {
    require(k > 0, s"Bloom.build: k must be positive, got $k")
    val pos = explode(array((0 until k).map(i => position(key, i, mBits)): _*))
    corpus.select(pos.as("_p"))
      .agg(graft.plans.BloomBits(col("_p"), mBits).as("_w"))
      .head.getSeq[Long](0).toIndexedSeq
  }

  /** the k codegen'd bit tests against a words-array COLUMN (shared by
    * the literal-bitmap and sharded probes).
    */
  private def probeBits(words: Column, mBits: Int, k: Int, key: Column): Column =
    (0 until k).map { i =>
      val p = position(key, i, mBits)
      element_at(words, (p / 64).cast(IntegerType) + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast(IntegerType))) =!= 0
    }.reduce(_ && _)

  /** map-side membership probe: all k probe bits set in the (literal)
    * bitmap. Codegen'd bit tests — no UDF, no join, no shuffle.
    */
  def mightContain(words: IndexedSeq[Long], mBits: Int, k: Int, key: Column): Column = {
    require(words.length.toLong * 64 == mBits,
      s"Bloom.mightContain: bitmap has ${words.length * 64} bits, expected $mBits")
    probeBits(typedlit(words), mBits, k, key)
  }

  /** Per-shard bloom bitmaps AS DATA (one row per shard) — the form
    * that scales past the single-bitmap ceiling [[autoSize]] enforces:
    * shard the corpus (by partition key, date, source…), build one
    * fixed-size bitmap per shard in the same one-pass aggregate, and
    * keep the result as a (shard, words) table. Each shard's bitmap
    * sizes to ITS key count, so no bitmap needs to cover the full
    * corpus. Output: (_shard, _words).
    */
  def buildPerShard(corpus: DataFrame, shard: Column, key: Column,
                    mBits: Int, k: Int): DataFrame = {
    require(k > 0, s"Bloom.buildPerShard: k must be positive, got $k")
    val pos = explode(array((0 until k).map(i => position(key, i, mBits)): _*))
    corpus.select(shard.as("_shard"), pos.as("_p"))
      .groupBy("_shard")
      .agg(graft.plans.BloomBits(col("_p"), mBits).as("_words"))
  }

  /** [[filterNovel]] against a per-shard bloom table: one broadcast
    * join on the shard key (the table is one bitmap row per shard),
    * then the same codegen'd bit tests on the joined words. A row whose
    * shard has no bloom is definitely novel. The no-false-negative
    * guarantee holds per shard — a key seen under shard A and probed
    * under shard B counts as novel, which is exactly the sharded-
    * decontamination semantics (membership is scoped to the shard).
    */
  def filterNovelSharded(incoming: DataFrame, blooms: DataFrame, shard: Column,
                         key: Column, mBits: Int, k: Int): DataFrame =
    incoming.join(broadcast(blooms), shard === col("_shard"), "left")
      .filter(col("_words").isNull || !probeBits(col("_words"), mBits, k, key))
      .drop("_shard", "_words")

  /** rows of `incoming` whose key is DEFINITELY absent from the corpus
    * the bloom was built over (no-false-negative guarantee; a ~FPR
    * fraction of genuinely novel rows is conservatively dropped —
    * chain the exact anti join to recover them when exactness matters).
    */
  def filterNovel(incoming: DataFrame, words: IndexedSeq[Long], mBits: Int,
                  k: Int, key: Column): DataFrame =
    incoming.filter(!mightContain(words, mBits, k, key))
}
