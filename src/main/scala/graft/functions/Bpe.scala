package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Word-level byte-pair-encoding vocabulary training, in-engine: the
  * merge-table learning step of a tokenizer pipeline (BPE as in
  * Sennrich et al. 2016, applied to whitespace tokens — each round
  * finds the corpus's most frequent adjacent token pair and fuses
  * every greedy left-to-right occurrence into one new token). The
  * trained artifact is the MERGE TABLE (round, lhs, rhs, pair_count);
  * applying it at encode time is the same fold the trainer uses.
  *
  * Determinism: pair selection is (count desc, lhs asc, rhs asc) — a
  * total order — and the greedy fold is a pure function of the token
  * sequence, so the merge table is identical on any engine or
  * partitioning; the DuckDB oracle (`text_bpe`) replays the full
  * training unrolled (its fold is an INDEPENDENT formulation: a
  * string-encoded `list_reduce` vs this file's struct-accumulator
  * `aggregate`).
  *
  * Scale shape per round: one pair-count aggregate (explode of
  * adjacent pairs — linear in corpus tokens, map-side combined), a
  * driver-side top-1 collect (the fitted-model rule: a merge table is
  * config-sized), and one codegen'd per-row fold rewriting the token
  * arrays. The rewritten corpus is a [[graft.operators.Fixpoint]]
  * checkpoint each round, so round r costs O(corpus), not O(r·corpus).
  */
object Bpe {

  final case class Merge(round: Int, lhs: String, rhs: String, pair_count: Long)

  /** Adjacent-pair counts over a token-array column: (a, b, c). The
    * pair enumeration is the native [[graft.plans.TokenPairs]] kernel
    * (one pass, no per-element `element_at` re-indexing); the
    * `size >= 2` filter stays so short docs never reach the explode.
    */
  def pairCounts(ts: DataFrame, tsCol: String = "ts"): DataFrame =
    ts.filter(size(col(tsCol)) >= 2)
      .select(explode(graft.plans.TokenPairs(col(tsCol))).as("_p"))
      .groupBy(col("_p.a").as("a"), col("_p.b").as("b"))
      .agg(count(lit(1)).as("c"))

  /** Greedy left-to-right non-overlapping merge of adjacent (a, b)
    * into `merged` ("a a a" under (a,a) → ["a·a", "a"]): the native
    * single-pass kernel ([[graft.plans.MergeAdjacent]], O(len)/row).
    * [[applyMergeHof]] below is the original composable formulation,
    * kept as the property-tested semantic cross-check — its
    * `concat(done, array(x))` copies the accumulator per element
    * (O(len²)/row, measured 2.8× on the sf0.1 text_bpe round). */
  def applyMerge(ts: Column, a: String, b: String, merged: String): Column =
    graft.plans.MergeAdjacent(ts, a, b, merged)

  /** the HOF fold [[applyMerge]] is bit-identical to (kept for the
    * equivalence property test). Empty-string tokens cannot occur
    * after whitespace splitting, so "" is a safe pending-slot
    * sentinel. */
  def applyMergeHof(ts: Column, a: String, b: String, merged: String): Column = {
    val zero = struct(array().cast(ArrayType(StringType)).as("done"),
      lit("").as("last"))
    val folded = aggregate(ts, zero,
      (acc, x) =>
        when(acc.getField("last") === a && x === b,
          struct(concat(acc.getField("done"), array(lit(merged))).as("done"),
            lit("").as("last")))
          .when(acc.getField("last") === "",
            struct(acc.getField("done").as("done"), x.as("last")))
          .otherwise(
            struct(concat(acc.getField("done"), array(acc.getField("last"))).as("done"),
              x.as("last"))),
      acc => when(acc.getField("last") === "", acc.getField("done"))
        .otherwise(concat(acc.getField("done"), array(acc.getField("last")))))
    folded
  }

  /** BPE inference: apply an already-trained merge table to NEW text,
    * replaying the merges in training order — the tokenize-the-next-
    * dump step once a vocabulary is frozen. Each round is the same
    * native greedy fold the trainer used ([[applyMerge]]), so encoding
    * a training document reproduces the trainer's own final rewrite,
    * and the whole chain is a shuffle-free per-row projection (the
    * merge table rides the plan as literals — nothing broadcast,
    * nothing joined). Output: (idCol, ts).
    */
  def encode(docs: DataFrame, textCol: Column, merges: Seq[Merge],
             joiner: String = "\u0002", idCol: String = "doc_id"): DataFrame = {
    val ts = merges.sortBy(_.round).foldLeft(TextFunctions.tokens(textCol)) {
      (t, m) => applyMerge(t, m.lhs, m.rhs, m.lhs + joiner + m.rhs)
    }
    docs.select(col(idCol), ts.as("ts"))
  }

  /** Train `rounds` merges over `docs`; returns the merge table and
    * the final rewritten corpus (idCol, ts). Stops early if no
    * adjacent pair remains. */
  def train(docs: DataFrame, textCol: Column, rounds: Int,
            joiner: String = "\u0002", idCol: String = "doc_id"): (Seq[Merge], DataFrame) = {
    require(rounds > 0 && rounds <= 64, s"train: rounds must be in [1, 64], got $rounds")
    graft.operators.Fixpoint.run("bpe", docs.sparkSession) { fx =>
      var cur = docs.select(col(idCol), TextFunctions.tokens(textCol).as("ts"))
      val merges = Seq.newBuilder[Merge]
      var r = 1
      var done = false
      while (r <= rounds && !done) fx.round {
        val top = pairCounts(cur)
          .orderBy(col("c").desc, col("a"), col("b")).limit(1).collect()
        if (top.isEmpty) done = true
        else {
          val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += Merge(r, a, b, c)
          cur = fx.checkpoint(cur.withColumn("ts", applyMerge(col("ts"), a, b, a + joiner + b)))._1
          r += 1
        }
        Seq(cur)
      }
      (merges.result(), cur)
    }(r => Seq(r._2))
  }
}
