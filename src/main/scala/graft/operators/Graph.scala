package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph centrality for corpus curation — PageRank over a link/affinity
  * graph is the classic reference-free quality prior for web crawls
  * (rank domains by centrality, weight or threshold documents by their
  * domain's score). Complements [[Cluster.connectedComponents]] (the
  * other graph pass in the engine).
  *
  * Determinism is engineered the same way as the k-means trainer
  * ([[Similarity.kmeansTrain]]): ranks are int64 in units of
  * `1/scale`, per-edge contributions use floor division, and the
  * damping multiply stays below 2^53 so the double round-trips are
  * exact — every engine computes bit-identical ranks, which makes the
  * whole power iteration replayable in the DuckDB oracle (no float
  * summation order anywhere).
  *
  * Scale shape per iteration: one join of the edge list against the
  * (node, pr) table co-keyed on `src` — co-locatable by bucketing both
  * on the node key — then one `groupBy(dst)` partial/final aggregate;
  * rank state is 2 columns per node, checkpointed each round by
  * [[Fixpoint]].
  */
object Graph {

  /** Width for an iterative operator's recurring exchange, derived
    * from the ROW COUNT it will carry (r17, optimization guide §2.2:
    * partition sizing must follow the data at both ends of the scale,
    * not a constant).
    *  - large scale: ~4 M narrow rows (~64 MB) per partition, capped
    *    at 4096 — unchanged from r16 (this is what kept the sf100
    *    vote aggregates out of OOM);
    *  - small scale: the old floor was the session default, which at
    *    fixture SFs forced 32-way exchanges of a few MB every round
    *    (hundreds of ~empty tasks per query, measured: graph_labelprop
    *    516 tasks / graph_pagerank_witness 403 tasks at sf0.1). The
    *    floor is now ALSO data-sized: one partition per ~250 k rows,
    *    never above the session default, at least 1 — so a 14-row
    *    witness graph runs 1-wide, the sf0.1 affinity graph ~4-wide,
    *    and anything that can fill the session default still gets it.
    * Result-invariant: every consumer is a hash aggregate / equi-join
    * whose output is independent of partition count. */
  private[operators] def iterWidth(rows: Long, default: Int): Int = {
    val wide = math.min(4096L, rows / 4000000L)
    val small = math.max(1L, math.min(default.toLong, rows / 250000L))
    math.max(small, wide).toInt
  }

  /** Simplified damped PageRank over a DIRECTED edge list `(src, dst)`
    * for `iters` power iterations (make the graph undirected upstream
    * by unioning reversed edges if affinity is symmetric — that also
    * removes dangling sinks, whose lost mass this simplified form does
    * not redistribute). Nodes = every id appearing as a `src` (an
    * undirected graph covers all nodes; a node with no outgoing edges
    * contributes nothing and, if never a `src`, is not ranked).
    *
    * pr_0 = scale; pr_{t+1}(v) = (scale − ⌊d·scale⌋) +
    * ⌊d · Σ_{u→v} ⌊pr_t(u)/outdeg(u)⌋⌋ with d = dampNum/dampDen.
    * Output: (id, pr) — pr in units of 1/scale, Σpr ≈ n·scale.
    */
  def pagerank(edges: DataFrame, iters: Int, scale: Long = 1000000L,
               dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters > 0, s"pagerank: iters must be positive, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"pagerank: damping $dampNum/$dampDen outside [0, 1]")
    require(scale > 0, s"pagerank: scale must be positive, got $scale")
    // the edge list feeds every iteration — materialize it ONCE,
    // pre-partitioned on the join key (the cache preserves the
    // partitioning, so no iteration re-shuffles the edges; only the
    // node-sized contribution aggregate moves per round — the shape
    // that holds when edges outweigh nodes 100:1 on a real crawl).
    // Width sized from the data BEFORE the first materialization: the
    // r15 form counted e0 AFTER checkpointing it at the session width,
    // and at the sf100 rehearsal the initial checkpoint itself was the
    // failure — 1.17 B rows across 32 partitions = ~2.8 GiB
    // DESERIALIZED cache blocks per partition, 32 concurrent unrolls,
    // heap OOM before the "widening" second checkpoint could ever run.
    // One extra count scan of the edge derivation buys a single
    // checkpoint at the right width (iterWidth: ~4 M edge rows per
    // partition capped at 4096 at scale, data-sized floor below the
    // session default); the library contract for iterative graph ops
    // is a staged/parquet edge input, where that scan is a cheap
    // columnar count.
    val default = edges.sparkSession.sessionState.conf.numShufflePartitions
    val nEdges = edges.select(col("src"), col("dst")).count()
    val edgeParts = iterWidth(nEdges, default)
    // COLUMNAR persist, not a checkpoint, for the edge table: a
    // local checkpoint stores DESERIALIZED row objects, and at sf100
    // (1.17 B rows) the unroll of ~GiB object blocks OOMed a 96 GB
    // heap even at the data-sized width. The SQL cache stores
    // compressed columnar batches (~5× smaller, incremental unroll,
    // compressed disk spill) and still carries the child plan's
    // HashPartitioning, so every round's edge-side exchange is elided
    // exactly as with the checkpoint. Unpersisted before returning —
    // the rank state is checkpointed eagerly, so nothing references it.
    val e = edges.select(col("src"), col("dst"))
      .repartition(edgeParts, col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // unpersist in a finally: an iteration that dies (OOM/disk-full —
    // the exact failure modes at the volume ceiling) must not leak an
    // edge-sized cache for the life of a long-lived driver
    try Fixpoint.run("pagerank", edges.sparkSession) { fx =>
      e.count() // materialize the cache once, outside the round loop
      val (deg, _) = fx.checkpoint(e.groupBy("src").agg(count(lit(1)).as("outdeg")))
      // rank state carries outdeg so each round is ONE edge join + ONE
      // aggregate (a separate degree join would re-shuffle the edges)
      var st = deg.select(col("src").as("id"), col("outdeg"), lit(scale).as("pr"))
      for (_ <- 1 to iters) fx.round {
        st = fx.checkpoint(rankUpdate(deg, contributions(e, st), scale, dampNum, dampDen))._1
        Seq(deg, st)
      }
      st.select(col("id"), col("pr"))
    }(Seq(_)) finally e.unpersist(false) // final state is eagerly checkpointed
  }

  /** One PageRank round's contribution stream `(dst, c)`: every edge
    * carries ⌊pr/outdeg⌋ of its source. With the update's ⌊d·Σ⌋ all
    * intermediates stay < 2^53 for corpora up to ~10^9 nodes at the
    * default scale, so each floor-of-double is exact integer division
    * in any engine. */
  private def contributions(e: DataFrame, st: DataFrame): DataFrame =
    e.join(st, e("src") === st("id"))
      .select(col("dst"),
        floor(col("pr").cast(DoubleType) / col("outdeg").cast(DoubleType))
          .cast(LongType).as("c"))

  /** The PageRank update `(id, outdeg, pr)` of the nodes in `deg` from
    * their complete contribution stream: (scale − ⌊d·scale⌋) + ⌊d·Σc⌋,
    * a node with no in-contribution keeping the base. */
  private def rankUpdate(deg: DataFrame, contrib: DataFrame, scale: Long,
                         dampNum: Long, dampDen: Long): DataFrame = {
    val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
    deg.join(sums, deg("src") === sums("dst"), "left")
      .select(col("src").as("id"), col("outdeg"),
        (lit(scale - dampNum * scale / dampDen) +
          floor((lit(dampNum) * coalesce(col("s"), lit(0L)))
            .cast(DoubleType) / lit(dampDen).cast(DoubleType)).cast(LongType))
          .as("pr"))
  }

  /** Deterministic label propagation over an UNDIRECTED edge list —
    * community detection (Raghavan et al. 2007), made reproducible:
    * labels start as node ids; each SYNCHRONOUS round every node takes
    * the most frequent label among its neighbors PLUS its own current
    * label (the self-vote damps the classic bipartite oscillation),
    * ties broken toward the SMALLEST label. With a fixed round count
    * and total tie order the assignment is a pure function of the edge
    * list — no RNG, no visit order, so the oracle replays it exactly.
    * (Synchronous LPA may oscillate rather than converge on some
    * graphs; `iters` bounds work, and the deterministic output is
    * whatever round `iters` holds — the differential-oracle contract.)
    * Output: `(id, label)`; nodes sharing a label form a community.
    *
    * Scale shape: edges materialize ONCE pre-partitioned on the join
    * key (as [[pagerank]]); each round is one edge join (edge side
    * exchange-free, node-sized label side moves) + ONE edge-sized vote
    * exchange on the node id feeding both the (node, label) count and
    * the per-node argmax as in-partition hash aggregates — never a
    * per-node sort or window. State is node-sized.
    *
    * Requires non-negative node ids (enforced with a loud failure):
    * the hash-aggregable decimal argmax packing is only order-correct
    * for ids in `[0, 10^19)`.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters > 0, s"labelPropagation: iters must be positive, got $iters")
    // checkpoint retires the (possibly expensive) edge derivation so no
    // round recomputes it — PRE-PARTITIONED on the join key exactly like
    // [[pagerank]]'s edge table: LogicalRDD carries the physical
    // partitioning through the checkpoint, so every round's edge-side
    // exchange disappears (only the node-sized label table moves to meet
    // it). Measured at the sf10 rehearsal: the unpartitioned form paid a
    // full ~100M-row edge exchange per round.
    // Width for the edge checkpoint AND the per-round vote exchange,
    // sized from the data BEFORE the first materialization (the same
    // r16 fix as [[pagerank]]: counting AFTER an initial session-width
    // checkpoint means the initial checkpoint itself unrolls ~GiB
    // deserialized blocks per partition at sf100 and OOMs the heap
    // before any widening runs). ~4 M vote rows per partition (the
    // variantParts/shardTarget discipline — 32-partition COMPLETE-mode
    // vote aggregates put a ~36 M-entry hash map in every task at the
    // sf100 rehearsal), never below the session default, capped at
    // 4096. BOTH shuffle_hash join sides share this ONE width: edges
    // checkpointed at the session default with a wider label table
    // would re-exchange the EDGE side every round — exactly the
    // per-round edge exchange the pre-partitioned checkpoint avoids.
    val default = edges.sparkSession.sessionState.conf.numShufflePartitions
    val voteParts = iterWidth(
      checkedEdgeCount(edges.select(col("src"), col("dst")), "labelPropagation"),
      default)
    // columnar persist, not a checkpoint — same r16 fix as
    // [[pagerank]]: deserialized checkpoint blocks OOM the heap at
    // sf100; compressed columnar batches carry the same partitioning
    val e = edges.select(col("src"), col("dst"))
      .repartition(voteParts, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // unpersist in a finally, as [[pagerank]]: a mid-iteration failure
    // must not leak the edge-sized cache in a long-lived driver
    try Fixpoint.run("labelprop", edges.sparkSession) { fx =>
      e.count() // materialize once, outside the round loop
      var st = e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lab"))
      for (_ <- 1 to iters) fx.round {
        st = fx.checkpoint(vote(e, st, st, voteParts))._1
        Seq(st)
      }
      st.select(col("id"), col("lab").as("label"))
    }(Seq(_)) finally e.unpersist(false) // final state is eagerly checkpointed
  }

  /** The edge count, from ONE aggregate that also enforces label
    * propagation's PRECONDITION (r17: the separate `filter(src < 0 …)
    * .limit(1)` probe was a second full pass over the edge table at
    * every scale): node ids must be non-negative — the decimal argmax
    * packing in [[vote]] is order-correct only for 0 <= lab < 10^19; a
    * negative id would overflow the label offset into the count digits
    * and silently corrupt the winner. */
  private def checkedEdgeCount(e: DataFrame, op: String): Long = {
    val st0 = e.agg(count(lit(1)), min(col("src")), min(col("dst"))).head()
    val nEdges = st0.getLong(0)
    require(nEdges == 0L ||
      (st0.getAs[Number](1).longValue >= 0L &&
        st0.getAs[Number](2).longValue >= 0L),
      s"$op: negative node ids are not supported (the " +
        "count*10^19 + (10^19-1-label) argmax packing requires ids in " +
        "[0, 10^19)); relabel ids to non-negative first")
    nEdges
  }

  /** One label-propagation round for the nodes voted on: the votes of
    * every edge in `e` (its source's label in `st`, cast for its
    * destination) plus the `self` votes, counted per (id, lab), and
    * each node's winner by (count desc, label asc).
    *
    * shuffle_hash on the node-sized label side: the edge stream is
    * hash-probed, never sorted (SMJ would sort the edge relation every
    * round), and the plan stops flip-flopping across AQE's
    * broadcast-threshold boundary as the label table grows.
    *
    * ONE exchange: the raw vote stream is hash-partitioned on id —
    * HashPartitioning(id) satisfies ClusteredDistribution for BOTH
    * aggregates (grouping keys (id, lab) ⊇ {id}), so the count and the
    * argmax run as complete in-partition hash aggregates. The
    * alternative (partial agg + exchange on (id, lab), then a second
    * exchange on id) moves the near-edge-sized vote stream twice in
    * early rounds, when labels are still ~all distinct and map-side
    * combine can't reduce anything.
    *
    * Argmax WITHOUT a struct-max aggregate: max(struct(...)) compiles
    * to SortAggregate (struct buffers are not hash-aggregable), which
    * SORTED the edge-sized vote stream twice per round — measured 20×
    * super-linear at the sf10 rehearsal. Packing (c, lab) into one
    * DECIMAL(38,0) as c·10¹⁹ + (10¹⁹−1−lab) keeps the same total order
    * under plain max() with a mutable (hash-aggregable) buffer; exact
    * for any 0 ≤ c, lab < 10¹⁹ — i.e. every non-negative int64. */
  private def vote(e: DataFrame, st: DataFrame, self: DataFrame,
                   parts: Int): DataFrame = {
    val P = DecimalType(38, 0)
    val packBase = lit(BigDecimal("10000000000000000000")).cast(P) // 10^19
    e.join(st.hint("shuffle_hash"), e("src") === st("id"))
      .select(col("dst").as("id"), col("lab"))
      .unionByName(self.select(col("id"), col("lab")))
      .repartition(parts, col("id"))
      .groupBy(col("id"), col("lab")).agg(count(lit(1)).as("c"))
      .select(col("id"),
        (col("c").cast(P) * packBase +
          (packBase - 1 - col("lab").cast(P))).as("_p"))
      .groupBy(col("id")).agg(max(col("_p")).as("_w"))
      .select(col("id"),
        (packBase - 1 - (col("_w") % packBase)).cast(LongType).as("lab"))
  }

  /** [[pagerank]] executed as `passes` bounded-footprint WAVES per
    * round — the same out-of-core recipe as [[labelPropagationChunked]]
    * applied to the contribution exchange, for the volume class where
    * even the columnar-cached single-pass form exceeds one box (the
    * plain form is green at sf100 / 1.17 B edges; this is the sf1000
    * insurance and the cluster-sharding expression). Result IDENTICAL
    * at ANY wave count: wave p of a round aggregates the COMPLETE
    * in-contribution multiset of exactly the nodes with
    * `pmod(id, passes) = p` (edges filtered on the destination's
    * wave), and the rank update is per-node arithmetic over that
    * complete sum — pinned by the equivalence unit test.
    *
    * Footprint: per wave one ~|E|/passes contribution exchange with
    * synchronous shuffle release; edges, the degree table, and the
    * per-round rank state live as snappy parquet in `stagingDir`
    * (round r−1 deleted once round r lands), run by [[Waves]]. The
    * returned frame reads the final round lazily — the caller owns
    * `stagingDir`.
    */
  def pagerankChunked(edges: DataFrame, iters: Int, passes: Int,
                      stagingDir: String, scale: Long = 1000000L,
                      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters > 0, s"pagerankChunked: iters must be positive, got $iters")
    require(passes >= 1, s"pagerankChunked: passes must be >= 1, got $passes")
    require(stagingDir.nonEmpty, "pagerankChunked: stagingDir required")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"pagerankChunked: damping $dampNum/$dampDen outside [0, 1]")
    require(scale > 0, s"pagerankChunked: scale must be positive, got $scale")
    val spark = edges.sparkSession
    // edges stage by their DESTINATION's wave: wave p sums the complete
    // in-contributions of exactly its own nodes
    val e = Waves.stage(edges.select(col("src"), col("dst")), s"$stagingDir/e",
      col("dst"), passes)
    val waveParts = iterWidth(e.all.count() / passes,
      spark.sessionState.conf.numShufflePartitions)
    // the degree table stages by the SOURCE id: it is sliced by the
    // update side, whose rows are the wave's own nodes
    val deg = Waves.stage(e.all.groupBy("src").agg(count(lit(1)).as("outdeg")),
      s"$stagingDir/deg", col("src"), passes)
    var st = Waves.stage(
      deg.all.select(col("src").as("id"), col("outdeg"), lit(scale).as("pr")),
      s"$stagingDir/r0")
    for (r <- 1 to iters) {
      val prev = st
      val ranks = prev.all
      st = Waves.run(spark, passes, s"$stagingDir/r$r") { p =>
        rankUpdate(deg.slice(p),
          contributions(e.slice(p), ranks.hint("shuffle_hash"))
            .repartition(waveParts, col("dst")),
          scale, dampNum, dampDen)
      }
      // round r has landed: its input goes now (peak staged state is 2
      // node-sized tables, not iters of them)
      Waves.retire(prev)
    }
    st.all.select(col("id"), col("pr"))
  }

  /** [[labelPropagation]] executed as `passes` bounded-footprint WAVES
    * per round — the out-of-core / one-box-rehearsal shape (the
    * [[Dedup.fuzzyPairsChunked]] recipe applied to the vote exchange),
    * result IDENTICAL at ANY wave count (pinned by the equivalence
    * unit test): the node set is partitioned by `pmod(id, passes)`,
    * and wave p of a round computes the COMPLETE vote multiset for
    * exactly its nodes (edges filtered on the destination's wave +
    * that wave's self-votes), so per-node argmax inputs are identical
    * to the single-pass form and the union over waves is the full
    * next-round state.
    *
    * Footprint contract, per wave: one exchange of ~|E|/passes vote
    * rows plus one node-sized label side, with the wave's shuffle
    * files released once its output lands ([[Waves.run]]) — peak
    * transient disk is one wave's, not one round's. Edges and
    * per-round state live as snappy parquet in `stagingDir` (never
    * JVM-pinned checkpoint blocks — the Bench-unpersists-everything
    * lesson, and parquet compresses the long-pair edge stream ~3× vs
    * demoted RDD blocks); round r's staging is deleted as soon as
    * round r+1 lands. Edges stage partitioned by wave, so the
    * per-round staged-edge read is ONE pass over |E| regardless of the
    * wave count. The returned frame reads the final round's staging
    * LAZILY — the caller owns `stagingDir` and reclaims it when done.
    *
    * Cluster translation: waves = executor-count-sized slices of the
    * node space; a real cluster runs them as one partitioned job, this
    * form runs them sequentially so ONE box's disk sees 1/passes of
    * the volume at a time.
    */
  def labelPropagationChunked(edges: DataFrame, iters: Int, passes: Int,
                              stagingDir: String): DataFrame = {
    require(iters > 0, s"labelPropagationChunked: iters must be positive, got $iters")
    require(passes >= 1, s"labelPropagationChunked: passes must be >= 1, got $passes")
    require(stagingDir.nonEmpty, "labelPropagationChunked: stagingDir required")
    val spark = edges.sparkSession
    // edges stage by their destination's wave (see [[pagerankChunked]])
    val e = Waves.stage(edges.select(col("src"), col("dst")), s"$stagingDir/e",
      col("dst"), passes)
    // per-WAVE vote width: the single-pass voteParts discipline divided
    // by the wave count (each wave carries ~|E|/passes vote rows)
    val waveParts = iterWidth(
      checkedEdgeCount(e.all, "labelPropagationChunked") / passes,
      spark.sessionState.conf.numShufflePartitions)
    var st = Waves.stage(e.all.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab")), s"$stagingDir/r0")
    for (r <- 1 to iters) {
      val prev = st
      val labels = prev.all
      st = Waves.run(spark, passes, s"$stagingDir/r$r") { p =>
        vote(e.slice(p), labels,
          labels.filter(pmod(col("id"), lit(passes.toLong)) === p), waveParts)
      }
      Waves.retire(prev) // as in [[pagerankChunked]]
    }
    st.all.select(col("id"), col("lab").as("label"))
  }

  /** Exact triangle count over an UNDIRECTED edge list `(src, dst)`
    * (duplicates, reversed copies, and self-loops tolerated — edges are
    * canonicalized first). Output: one row `(n_triangles)`.
    *
    * Algorithm: degree-ordered node-iterator (the MapReduce-classic
    * from Suri & Vassilvitskii 2011). Each edge is oriented from the
    * lower to the higher endpoint under the total order (degree, id);
    * wedges are enumerated only at each triangle's LOWEST-ordered
    * vertex, so every triangle is generated exactly once and the wedge
    * count is Σᵥ C(outdeg(v), 2) ≤ O(|E|^{3/2}) even on power-law
    * graphs — a plain id-ordered orientation would square the hottest
    * hub's degree instead. The DuckDB oracle (`graph_triangles`)
    * deliberately uses that simpler id-ordered 3-way self-join: an
    * INDEPENDENT formulation whose count provably matches.
    *
    * Plan shape: canonicalize + distinct (one shuffle on the edge key),
    * a degree aggregate (node-sized), two broadcast-free equi-joins
    * keyed on node id for the wedge generation, and a final semi-join
    * of wedges against edges on the composite (lo, hi) key. Nothing is
    * ever collected; the only driver-sized result is the single count
    * row. Rank comparisons use struct ordering on (deg, id) — no
    * global row_number over the node set.
    */
  def triangleCount(edges: DataFrame): DataFrame =
    enumerateTriangles(edges).agg(count(lit(1)).as("n_triangles"))

  /** Degree-ordered node-iterator triangle ENUMERATION shared by
    * [[triangleCount]] and [[localClusteringCoefficient]]: one row
    * `(t1, v, w)` per distinct triangle (corners in ≺ = (deg, id)
    * order). Wedge work stays Σ C(outdeg,2) under the orientation —
    * bounded by O(|E|^1.5) on power-law graphs. */
  private def enumerateTriangles(edges: DataFrame): DataFrame = {
    val e0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient each edge lo→hi under the (deg, id) total order; keep the
    // hi endpoint's rank so wedge endpoints can be ordered without a
    // second degree join
    val withDeg = e0
      .join(deg.select(col("id").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("degb")), "b")
    val aFirst = struct(col("dega"), col("a")) < struct(col("degb"), col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("lo"),
      when(aFirst, col("b")).otherwise(col("a")).as("hi"),
      when(aFirst, struct(col("degb").as("d"), col("b").as("i")))
        .otherwise(struct(col("dega").as("d"), col("a").as("i"))).as("hirank"))
    // wedges at the lowest-ordered vertex: (lo; v, w) with v ≺ w
    val x = oriented.alias("x")
    val y = oriented.alias("y")
    val wedges = x.join(y,
        col("x.lo") === col("y.lo") && col("x.hirank") < col("y.hirank"))
      .select(col("x.lo").as("t1"), col("x.hi").as("v"), col("y.hi").as("w"))
    // closure: the v—w edge, if present, is oriented v→w (v ≺ w), so a
    // semi-join on the canonical oriented key closes the triangle —
    // and because each triangle has exactly ONE ≺-least corner, each
    // closed triangle is emitted exactly once
    wedges.join(oriented.select(col("lo").as("v"), col("hi").as("w")),
      Seq("v", "w"), "left_semi")
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998):
    * `2·t(v) / (deg(v)·(deg(v)−1))` — the fraction of a node's
    * neighbor pairs that are themselves connected. The template/link-
    * farm detector beside [[triangleCount]]'s global census: crawl
    * rings and boilerplate cliques sit at coefficient ≈ 1, organic
    * hubs far lower. Nodes of degree < 2 get coefficient 0 (no
    * neighbor pair exists). Output: `(id, deg, triangles, clust_coef)`
    * per node — triangle counts and degrees are exact int64 and the
    * coefficient is ONE IEEE division of exact integers, so any engine
    * replays it bit-identically.
    *
    * Scale shape: the [[enumerateTriangles]] wedge economy
    * (Σ C(outdeg,2) under the (deg, id) orientation), then the
    * triangle set explodes ×3 corners into one per-node count
    * aggregate and joins back to the node-sized degree table — no
    * window, nothing collected; per-pair work never exceeds the
    * triangle census itself. */
  def localClusteringCoefficient(edges: DataFrame): DataFrame = {
    val tri = enumerateTriangles(edges)
    val corners = tri.select(col("t1").as("id"))
      .union(tri.select(col("v").as("id")))
      .union(tri.select(col("w").as("id")))
    val tcount = corners.groupBy("id").agg(count(lit(1)).as("triangles"))
    val e0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.join(tcount, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          (coalesce(col("triangles"), lit(0L)) * 2L).cast(DoubleType) /
            (col("deg") * (col("deg") - 1L)).cast(DoubleType))
          .otherwise(lit(0.0d)).as("clust_coef"))
  }

  /** Degree assortativity (Newman 2002, "Assortative mixing in
    * networks"): the Pearson correlation of the degrees at the two
    * ends of an edge — positive when hubs link to hubs (social
    * graphs), negative when hubs link to leaves (web/biological
    * graphs, and the signature of spam farms pointing at one target).
    * Computed over the SYMMETRIZED edge list (each undirected edge
    * contributes (d_a, d_b) and (d_b, d_a)), which makes the two
    * marginals identical — so the Pearson denominator is exactly
    * `m·Σd² − (Σd)²` with NO square root, and the whole statistic is
    * exact DECIMAL(38,0) sums into ONE final IEEE division: any
    * engine replays it bit-identically. Output: one row
    * `(m_edges, assortativity)` (m_edges counts undirected
    * edges once; assortativity is NULL for degree-regular graphs,
    * where the variance is 0 and the coefficient is undefined).
    *
    * Scale shape: one node-sized degree aggregate, two joins hanging
    * the degree on each endpoint (node-key joins, co-locatable by
    * bucketing), one 4-sum final aggregate — map-side combined, one
    * row out, nothing collected. Sums are exact up to ~10^12 edges ×
    * 10^12 max degree (|Σ d_j·d_k| < 10^38 documented bound). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val D38 = DecimalType(38, 0)
    val e0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val sym = e0.select(col("a").as("u"), col("b").as("v"))
      .union(e0.select(col("b").as("u"), col("a").as("v")))
    val jk = sym
      .join(deg.select(col("id").as("u"), col("deg").as("dj")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dk")), "v")
    jk.agg(count(lit(1)).as("_m2"),
        sum((col("dj") * col("dk")).cast(D38)).as("_sjk"),
        sum(col("dj").cast(D38)).as("_sj"),
        sum((col("dj") * col("dj")).cast(D38)).as("_sj2"))
      .select((col("_m2") / 2).cast(LongType).as("m_edges"),
        (col("_m2").cast(D38) * col("_sjk") - col("_sj") * col("_sj")).as("_num"),
        (col("_m2").cast(D38) * col("_sj2") - col("_sj") * col("_sj")).as("_den"))
      .select(col("m_edges"),
        when(col("_den") =!= 0,
          col("_num").cast(DoubleType) / col("_den").cast(DoubleType))
          .as("assortativity"))
  }

  /** k-core membership: the maximal subgraph in which every node has
    * degree ≥ k — the standard dense-cluster detector (link farms /
    * template rings in a web graph peel away; the core is what
    * survives every round of removing weakly-connected nodes).
    * Iterative peel to the FIXPOINT: drop nodes with current degree
    * < k, induce the subgraph, repeat. Returns `(id, deg)` for core
    * members with their within-core degree. The fixpoint is unique
    * (peeling is monotone), so early convergence and extra rounds
    * give identical results — the DuckDB oracle replays a fixed
    * unrolled peel and provably agrees once both have converged.
    *
    * Scale shape per round: one node-sized degree aggregate + two
    * semi-joins of the edge list against the surviving node set (both
    * keyed on the node id, co-locatable by bucketing); each round's
    * edge list is a [[Fixpoint]] checkpoint. Rounds are data-bounded
    * (each round removes ≥ 1 node or terminates) and in practice
    * O(log n) on web-like graphs; `maxIter` guards pathological
    * chains and FAILS FAST rather than returning a non-core.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(maxIter >= 1, s"kCore: maxIter must be >= 1, got $maxIter")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("id")).union(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    Fixpoint.run("kcore", edges.sparkSession) { fx =>
      // the checkpoint's row count is the peel's convergence reading
      var (e, prev) = fx.checkpoint(edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
      var done = prev == 0L
      while (!done && fx.rounds < maxIter) fx.round {
        val keep = degrees(e).filter(col("deg") >= k).select("id")
        val (e2, n2) = fx.checkpoint(e
          .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi"))
        // no edge dropped ⇒ every endpoint already had deg >= k ⇒ fixpoint
        done = n2 == prev || n2 == 0L
        e = e2; prev = n2
        Seq(e)
      }
      require(done, s"kCore: not converged after $maxIter rounds " +
        "(raise maxIter; the peel always terminates in <= |V| rounds)")
      degrees(e).filter(col("deg") >= k)
    }(Seq(_))
  }

  /** Common-neighbor link prediction over an undirected edge list —
    * the classic "who should be connected next" score (Liben-Nowell &
    * Kleinberg 2003): for every NON-edge pair sharing at least
    * `minCommon` neighbors, the common-neighbor count and the exact
    * neighborhood-Jaccard as a rational `(common, union_deg)` pair
    * plus its one final IEEE division — all candidate math is int64,
    * so scores replay bit-exactly in any engine (no log/float scoring
    * like Adamic-Adar, deliberately — same rational-threshold house
    * rule as the dedup family).
    *
    * Scale shape: wedge generation at the shared neighbor is
    * Σ deg(v)² over wedge CENTERS, so a single 10⁵-degree hub would
    * emit 10¹⁰ pairs — `maxDegree` caps that IN the operator: centers
    * above the cap are excluded from wedge generation (one node-sized
    * semi join before the self-join; endpoint degrees still count the
    * full graph). That is the standard link-prediction treatment of
    * super-hubs — a neighbor shared with everyone carries ~no signal,
    * which is also why common-neighbor evidence through it is noise —
    * and it turns the worst case into Σ min(deg, cap)², linear in
    * edges for fixed cap. Remaining cost: one (pair) count aggregate;
    * existing edges leave by a broadcast anti join when the edge list
    * is small, shuffle anti otherwise (left to AQE); degrees attach by
    * two joins on the pair ids.
    */
  def linkPrediction(edges: DataFrame, minCommon: Long = 1L,
                     maxDegree: Long = 10000L): DataFrame = {
    require(minCommon >= 1, s"linkPrediction: minCommon >= 1, got $minCommon")
    require(maxDegree >= 1, s"linkPrediction: maxDegree >= 1, got $maxDegree")
    val e0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // symmetric adjacency: neighbor -> endpoint
    val adj = e0.select(col("a").as("v"), col("b").as("u"))
      .union(e0.select(col("b").as("v"), col("a").as("u")))
    val deg = adj.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    // super-hub cap: drop wedge CENTERS over maxDegree before the
    // self-join (deg is symmetric, so it doubles as the center count)
    val adjCapped = adj.join(
      deg.filter(col("deg") <= maxDegree).select(col("id").as("v")),
      Seq("v"), "left_semi")
    // wedges centered at v: unordered endpoint pair (x.u < y.u)
    val wedges = adjCapped.alias("x").join(adjCapped.alias("y"),
        col("x.v") === col("y.v") && col("x.u") < col("y.u"))
      .select(col("x.u").as("id_a"), col("y.u").as("id_b"))
    val common = wedges.groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= minCommon)
    common
      .join(e0, common("id_a") === e0("a") && common("id_b") === e0("b"), "left_anti")
      .join(deg.select(col("id").as("id_a"), col("deg").as("_da")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("deg").as("_db")), "id_b")
      .select(col("id_a"), col("id_b"), col("common_neighbors"),
        (col("_da") + col("_db") - col("common_neighbors")).as("union_deg"),
        (col("common_neighbors").cast(DoubleType) /
          (col("_da") + col("_db") - col("common_neighbors")).cast(DoubleType))
          .as("jaccard"))
  }
}
