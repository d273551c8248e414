package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One-off profiling probe for the iterative graph family (VERDICT r13
  * watch item: graph_labelprop read ~2x its r12 rows) — separates the
  * shared edge-derivation cost from the per-round cost, and compares
  * the shipped labelPropagation against the previous round's plan shape
  * (unpartitioned checkpoint, per-round partial-agg exchanges) with an
  * output-equality witness, so the plan change is measured, not argued.
  */
object GraphProbe {
  private[graft] def run(spark: SparkSession, sfDir: String): Unit = {
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val o = Tables(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = Tables(spark, sfDir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val e0 = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))

    timed("edge derivation (count)")(println("[probe] edges: " + e.count()))

    // AT-SCALE EQUIVALENCE cross-check (GRAFT_GRAPH_PROBE=prxcheck,
    // VERDICT r16 #1): run pagerank PLAIN and pagerankChunked on the
    // SAME edges in one session and compare (count, Σcrc32(id:pr)) —
    // the ranks are exact int64, so equal checksums certify the wave
    // recipe rank-identical AT SCALE, evidence the unit fixtures can't
    // give. Plain is green at sf100 (r16, 750.5 s), which is what
    // makes this the one chunked operator with an at-scale referee.
    if (sys.env.get("GRAFT_GRAPH_PROBE").contains("prxcheck")) {
      val passes = sys.env.get("GRAFT_LP_PASSES").map(_.toInt).getOrElse(6)
      def prCrc(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          sum(crc32(concat_ws(":", col("id"), col("pr"))))).head()
        (r.getLong(0), r.getLong(1))
      }
      val plain = timed("pagerank PLAIN (3 rounds)")(
        prCrc(graft.operators.Graph.pagerank(e, 3)))
      println(s"[probe] plain (n, crcsum): $plain")
      Scratch.using(spark, "graft-prx-probe") { staging =>
        val chunked = timed(s"pagerank CHUNKED ($passes waves, 3 rounds)")(
          prCrc(graft.operators.Graph.pagerankChunked(e, 3, passes, staging)))
        println(s"[probe] chunked (n, crcsum): $chunked")
        println(s"[probe] outputs identical: ${plain == chunked}")
      }
      return
    }

    // AT-SCALE WAVE-INVARIANCE check (GRAFT_GRAPH_PROBE=lpwaves,
    // VERDICT r16 #2): labelPropagationChunked at TWO wave counts
    // (GRAFT_LP_PASSES / GRAFT_LP_PASSES2, default 6 and 9) on the
    // same edges, checksums compared. Single-pass labelprop dies
    // disk-full at sf100, so wave-count invariance — the result must
    // be a pure function of the edge list, independent of the
    // execution knob — is the strongest at-scale equivalence evidence
    // available for this operator.
    if (sys.env.get("GRAFT_GRAPH_PROBE").contains("lpwaves")) {
      val p1 = sys.env.get("GRAFT_LP_PASSES").map(_.toInt).getOrElse(6)
      val p2 = sys.env.get("GRAFT_LP_PASSES2").map(_.toInt).getOrElse(9)
      def lpCrc(passes: Int): (Long, Long) =
        Scratch.using(spark, s"graft-lpw$passes-probe") { staging =>
          val d = graft.operators.Graph.labelPropagationChunked(e, 3, passes, staging)
          val r = d.agg(count(lit(1)),
            sum(crc32(concat_ws(":", col("id"), col("label"))))).head()
          (r.getLong(0), r.getLong(1))
        }
      val a = timed(s"labelprop CHUNKED ($p1 waves, 3 rounds)")(lpCrc(p1))
      println(s"[probe] $p1-wave (n, crcsum): $a")
      val b = timed(s"labelprop CHUNKED ($p2 waves, 3 rounds)")(lpCrc(p2))
      println(s"[probe] $p2-wave (n, crcsum): $b")
      println(s"[probe] outputs identical: ${a == b}")
      return
    }

    // chunked-only mode (GRAFT_GRAPH_PROBE=chunked): the sf100 one-box
    // rehearsal face — the single-pass forms exceed local disk there
    // (measured: plain labelprop died disk-full at 57 GB free), so this
    // times ONLY labelPropagationChunked at GRAFT_LP_PASSES waves
    if (sys.env.get("GRAFT_GRAPH_PROBE").contains("chunked")) {
      val passes = sys.env.get("GRAFT_LP_PASSES").map(_.toInt).getOrElse(6)
      Scratch.using(spark, "graft-lpc-probe") { staging =>
        val res = timed(s"labelprop CHUNKED ($passes waves, 3 rounds)") {
          val d = graft.operators.Graph
            .labelPropagationChunked(e, 3, passes, staging)
          val r = d.agg(count(lit(1)),
            sum(crc32(concat_ws(":", col("id"), col("label"))))).head()
          (r.getLong(0), r.getLong(1))
        }
        println(s"[probe] chunked (n, crcsum): $res")
        Scratch.using(spark, "graft-prc-probe") { prStaging =>
          val pr = timed(s"pagerank CHUNKED ($passes waves, 3 rounds)") {
            graft.operators.Graph
              .pagerankChunked(e, 3, passes, prStaging).count()
          }
          println(s"[probe] pagerank chunked rows: $pr")
        }
      }
      return
    }

    // OLD shape: unpartitioned checkpoint; per-round: edge exchange for
    // the join + partial-agg exchange on (id,lab) + exchange on id
    def labelPropOld(edges: DataFrame, iters: Int): DataFrame = {
      val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
      var st = e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lab"))
      val P = DecimalType(38, 0)
      val packBase = lit(BigDecimal("10000000000000000000")).cast(P)
      for (_ <- 1 to iters) {
        val votes = e.join(st.hint("shuffle_hash"), e("src") === st("id"))
          .select(col("dst").as("id"), col("lab"))
          .unionByName(st.select(col("id"), col("lab")))
          .groupBy(col("id"), col("lab")).agg(count(lit(1)).as("c"))
        st = votes
          .select(col("id"),
            (col("c").cast(P) * packBase +
              (packBase - 1 - col("lab").cast(P))).as("_p"))
          .groupBy(col("id")).agg(max(col("_p")).as("_w"))
          .select(col("id"),
            (packBase - 1 - (col("_w") % packBase)).cast(LongType).as("lab"))
          .localCheckpoint(true)
      }
      st.select(col("id"), col("lab").as("label"))
    }

    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(crc32(concat_ws(":", col("id"), col("label"))))).head()
      (r.getLong(0), r.getLong(1))
    }

    val oldRes = timed("labelprop OLD (3 rounds)")(
      checksum(labelPropOld(e, 3)))
    println(s"[probe] old (n, crcsum): $oldRes")
    val newRes = timed("labelprop NEW (3 rounds)")(
      checksum(graft.operators.Graph.labelPropagation(e, 3)))
    println(s"[probe] new (n, crcsum): $newRes")
    println(s"[probe] outputs identical: ${oldRes == newRes}")

    timed("pagerank (3 rounds)")(
      println("[probe] pagerank rows: " +
        graft.operators.Graph.pagerank(e, 3).count()))

  }
}
