package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn near-dup PAIRS (from any of the
  * [[Dedup]] candidate generators) into connected components, so a
  * pipeline can keep exactly one canonical document per cluster.
  * North-star extension; the reference has no graph surface.
  *
  * Algorithm: Borůvka-style hooking with supervertex CONTRACTION
  * (the Awerbuch–Shiloach family; see also Kiveris et al. 2014,
  * "Connected Components in MapReduce and Beyond"). Each round:
  * every supervertex (= current label group) hooks onto the MINIMUM
  * neighboring supervertex (one aggregate over the contracted edge
  * list), the resulting hooking forest is path-compressed to its
  * roots by pointer doubling (label-sized self-joins, O(log depth)),
  * and both the node labels and the edge list are rewritten through
  * the compressed map — intra-supervertex edges vanish, so the edge
  * list SHRINKS geometrically and later rounds are near-free.
  *
  * Why contraction and not plain min-propagation-plus-jump: label
  * propagation moves the component minimum ONE graph hop per round,
  * and a per-node pointer jump only helps when the label forest is
  * deep — on a chain whose node ids are NOT monotone along the chain
  * (the near-dup replica case: adjacent replicas live in far-apart id
  * blocks), every local id minimum is its own root, the forest has
  * depth 1, and the jump is a no-op, degrading to O(diameter) rounds.
  * Hooking whole label GROUPS onto their minimum neighbor merges
  * supervertices along every frontier each round regardless of id
  * order: simulation on permuted-id paths measures 6/9/11 rounds at
  * 400/10⁴/10⁵ nodes (O(log n)), where the jump formulation exceeds
  * 100 rounds already at 400. The permuted-chain unit test pins
  * exactly this case.
  *
  * Each round's state is checkpointed and released by [[Fixpoint]].
  */
object Cluster {
  /** Connected components of an undirected graph.
    *
    * @param nodes one column `id` — every vertex (isolated vertices keep
    *              their own label)
    * @param edges columns `src`, `dst` — undirected (either orientation)
    * @param maxIter loud-failure budget on CONTRACTION rounds. Each
    *                round merges every supervertex that still has a
    *                neighbor, so the supervertex count per component
    *                shrinks geometrically — 40 rounds covers any graph
    *                this engine could hold; hitting the cap means a
    *                pair-generation bug upstream, not a big graph.
    * @return (id, label) where label = min node id in the component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 40): DataFrame =
    Fixpoint.run("cc", edges.sparkSession)(components(_, nodes, edges, maxIter))(Seq(_))

  private def components(fx: Fixpoint, nodes: DataFrame, edges: DataFrame,
                         maxIter: Int): DataFrame = {
    // materialize the edge list BEFORE symmetrizing: a union of two
    // selects over the raw plan would execute the (possibly expensive)
    // pair-generation pipeline once per branch. Everything downstream
    // derives narrowly from the checkpointed rows.
    val (e0, _) = fx.checkpoint(edges.select(col("src"), col("dst")))
    val sym = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))

    // only nodes that appear in an edge can ever change label — iterate
    // over those alone. For a dedup workload this is the decisive bound:
    // the near-dup graph is a sliver of the corpus, so rounds touch
    // O(|E|), not O(|V|); the (huge) isolated remainder joins back once
    // at the end with label = id. Seed with min(self, neighbors) — the
    // same shuffle a plain distinct would cost, but it fuses the first
    // hook, so typical near-dup clusters (stars/pairs) arrive already
    // converged and the loop exits on its first emptiness check.
    val (labels, _) = fx.checkpoint(sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("_m"))
      .select(col("id"), least(col("id"), col("_m")).as("label")))

    // contract the edge list onto the seeded labels: canonical
    // (least, greatest) orientation, self-loops dropped, duplicates
    // collapsed — for clique-heavy near-dup graphs this first distinct
    // is also the big one (a k-clique of identical documents becomes
    // ONE supervertex with zero internal edges immediately).
    def contract(es: DataFrame, lab: DataFrame): DataFrame = {
      val l1 = lab.select(col("id").as("_sid"), col("label").as("_slab"))
      val l2 = lab.select(col("id").as("_did"), col("label").as("_dlab"))
      es.join(l1, col("src") === col("_sid"))
        .join(l2, col("dst") === col("_did"))
        .select(least(col("_slab"), col("_dlab")).as("src"),
          greatest(col("_slab"), col("_dlab")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // the checkpoint's row count is the loop's emptiness probe
    var (e, eRows) = fx.checkpoint(contract(e0, labels))

    // Composed merge map (r17 optimization): seed-label → current-root,
    // non-identity rows only, built up across rounds INSTEAD of
    // rewriting the node-sized label table every round. Soundness of
    // the plain union: a label f can appear as a hooking source only
    // while it is still a live supervertex label, and the round that
    // retires it rewrites every map value equal to f in the same
    // update — so dom(m_r) and dom(root) are always disjoint and the
    // union never produces two rows for one seed label. The node-sized
    // label table is touched exactly twice (seed + final join) instead
    // of once per round: at 100 TB that turns O(V·rounds) label
    // rewrite I/O into O(merges) map maintenance, and at bench scale
    // it removes a node-sized checkpoint job per round.
    //
    // r18 (guide §2 barrier economy): the fold is LAZY — the composed
    // map materializes only every second round (and once at loop exit,
    // so the returned plan's root carries measured stats and the final
    // label join can still broadcast it). The lazy layer is at most one
    // join + union deep over MEASURED checkpoints, so stats stay
    // bounded (the k^rounds compounding measured stats exist to stop
    // cannot re-enter).
    var root: DataFrame = null
    var rootLazyDepth = 0
    def materializeRoot(): Unit = if (root != null && rootLazyDepth > 0) {
      root = fx.checkpoint(root)._1
      rootLazyDepth = 0
    }
    while (eRows > 0 && fx.rounds < maxIter) fx.round {
      // hooking: each supervertex adopts its minimum neighboring
      // supervertex when that neighbor is smaller — one aggregate over
      // the (symmetrized) contracted edges. parent < f always, so the
      // hooking forest is acyclic and strictly decreasing. NOT
      // materialized on its own: it flows lazily into the first
      // doubling pair, whose identically-keyed exchange subtrees are
      // deduplicated by ReuseExchange (one aggregate computed, not
      // three) — the separate hooking checkpoint job was pure overhead.
      val both = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val hook = both.groupBy(col("src").as("f")).agg(min(col("dst")).as("t"))
        .filter(col("t") < col("f"))
      // path-compress the hooking forest by pointer doubling, several
      // steps per materialization: the convergence probe reads only
      // the LAST step's change flag (one doubling with no change is a
      // fixpoint, so "the final step changed nothing" certifies
      // compression regardless of earlier steps), tallied by the
      // checkpoint's own job. 64 steps is unreachable for any real
      // forest; fail loudly rather than spin.
      def step(x: DataFrame): DataFrame = x.as("x")
        .join(x.select(col("f").as("_f2"), col("t").as("_t2")).as("y"),
          col("x.t") === col("_f2"), "left")
        .select(col("x.f").as("f"), coalesce(col("_t2"), col("x.t")).as("t"),
          (col("_t2") < col("x.t")).as("_chg"))
      // TWO steps per materialization (kept from r17 — a 3-step
      // variant was MEASURED worse this round: each extra in-plan
      // self-join adds ~2 AQE stage-jobs per pass while deep rounds
      // still need a second pass, 131 vs 115 jobs on the 20k permuted
      // chain). A superseded pass is map-sized and goes at the round's
      // end.
      def compress(x: DataFrame): (DataFrame, Long) = {
        val (ck, chg) = fx.checkpoint(step(step(x).select(col("f"), col("t"))), Some("_chg"))
        (ck.select(col("f"), col("t")), chg)
      }
      var (m, nChg) = compress(hook)
      var depth = 2
      while (nChg > 0L && depth < 64) {
        val (m2, nChg2) = compress(m)
        m = m2; nChg = nChg2; depth += 2
      }
      if (nChg > 0L)
        throw new IllegalStateException(
          "connectedComponents: hooking forest failed to compress in 64 " +
            "doubling steps - impossible for any graph that fits in " +
            "storage; a bug, not a workload property")
      // fold this round's merges into the composed map (map-sized):
      // existing roots re-route through m, and m's own rows join the
      // map verbatim (domain disjointness argued above); landed every
      // second round
      root =
        if (root == null) m
        else root.as("c")
          .join(m.select(col("f").as("_mf"), col("t").as("_mt")).as("d"),
            col("c.t") === col("_mf"), "left")
          .select(col("c.f").as("f"), coalesce(col("_mt"), col("c.t")).as("t"))
          .unionByName(m)
      rootLazyDepth += 1
      if (rootLazyDepth >= 2) materializeRoot()
      // edge endpoints are ALREADY label values, so they re-contract
      // through the partial map m directly (left join + coalesce —
      // unhooked labels keep themselves)
      val (e2, e2Rows) = fx.checkpoint(
        e.as("e")
        .join(m.select(col("f").as("_sf"), col("t").as("_st")).as("ms"),
          col("e.src") === col("_sf"), "left")
        .join(m.select(col("f").as("_df"), col("t").as("_dt")).as("md"),
          col("e.dst") === col("_df"), "left")
        .select(coalesce(col("_st"), col("e.src")).as("_ns"),
          coalesce(col("_dt"), col("e.dst")).as("_nd"))
        .select(least(col("_ns"), col("_nd")).as("src"),
          greatest(col("_ns"), col("_nd")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
      e = e2
      eRows = e2Rows
      Seq(labels, e, root)
    }
    if (eRows > 0)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter contraction " +
          "rounds - supervertex count shrinks geometrically per round, so " +
          "this means a pair-generation bug upstream (e.g. an edge stream " +
          "that keeps growing), not a legitimately large graph; raise " +
          "maxIter only if such a graph is truly intended")
    // land any pending lazy fold so the final label join sees a
    // MEASURED (usually broadcastable) root
    materializeRoot()
    // apply the composed map to the seeded labels ONCE, then isolated
    // vertices get their own label via one left join (no iteration)
    val resolved =
      if (root == null) labels
      else labels.as("l")
        .join(root.select(col("f").as("_rf"), col("t").as("_rt")).as("r"),
          col("l.label") === col("_rf"), "left")
        .select(col("l.id").as("id"),
          coalesce(col("_rt"), col("l.label")).as("label"))
    nodes.select(col("id"))
      .join(resolved.select(col("id"), col("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Cluster assignment for a document corpus from verified near-dup
    * pairs: (doc_id, cluster_id, is_canonical) for EVERY document —
    * singletons are their own canonical cluster. Downstream dedup keeps
    * `is_canonical` rows only.
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id"): DataFrame =
    connectedComponents(
      docs.select(col(idCol).as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id").as(idCol), col("label").as("cluster_id"),
        (col("label") === col("id")).as("is_canonical"))

  /** Quality-aware survivor selection over a clustering — the stage
    * after [[dedupClusters]] in a real curation pipeline: instead of
    * the structural min-id canonical, keep the HIGHEST-QUALITY member
    * of each near-dup cluster (longest / cleanest / best-scored — the
    * policy rides in as any numeric `scoreCol`). Ties break to the
    * LOWER id, so the kept set is a pure function of the data.
    * `idCol` must be numeric (the tiebreak negates it — and an 8-byte
    * surrogate beats a string key on every exchange anyway).
    *
    * Output: the input rows plus `keep` — exactly one true per
    * cluster. Filter `keep` for the deduplicated corpus; the
    * complement is the audit trail of what was dropped and why
    * (its cluster's winner).
    *
    * Scale shape: one map-side-combined `max_by` per cluster (narrow —
    * id + score only) and one id-keyed join back; the document
    * payload is never shuffled twice, no window over the corpus.
    */
  def bestPerCluster(clustered: DataFrame, scoreCol: String,
                     idCol: String = "doc_id",
                     clusterCol: String = "cluster_id"): DataFrame = {
    val missing = Seq(scoreCol, idCol, clusterCol)
      .filterNot(clustered.columns.contains)
    require(missing.isEmpty,
      s"bestPerCluster: no such column(s): ${missing.mkString(", ")}")
    require(!clustered.columns.contains("keep"),
      "bestPerCluster: input already has a 'keep' column - rename it " +
        "(the output's keep flag would silently shadow it)")
    val winners = clustered.groupBy(col(clusterCol))
      .agg(max_by(col(idCol),
        struct(col(scoreCol), -col(idCol))).as("_winner"))
    clustered.join(winners, Seq(clusterCol))
      .select(clustered.columns.map(col) :+
        (col(idCol) === col("_winner")).as("keep"): _*)
  }
}
