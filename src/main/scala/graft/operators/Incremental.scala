package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental-refresh operators (north-star extension): a training
  * corpus is never rebuilt from scratch — each crawl/dump lands as a
  * batch of changes against a 100 TB base table. These are the MERGE
  * primitives a lakehouse engine exposes (upsert, CDC apply, snapshot
  * diff, incremental rollup refresh, dedup-new-against-corpus),
  * expressed as plain deterministic Spark plans over parquet so they
  * compose with every other graft operator.
  *
  * Scale shape, shared across the family:
  *  - the base/corpus side is scanned ONCE and only ever anti/semi
  *    joined on its key — no rewrite of unmatched data is implied
  *    (writers pair this with partition overwrite so only touched
  *    partitions rewrite);
  *  - the change batch is assumed ≪ base (the incremental premise), so
  *    its keys are broadcast: the anti join runs map-side with NO
  *    exchange on the 100 TB side. Set `broadcastChanges=false` when a
  *    backfill-sized batch would not fit the driver — the plan degrades
  *    to one key-shuffle on both sides (co-locatable via bucketing,
  *    see `bucketed_join`).
  */
object Incremental {

  /** In-plan uniqueness guard: any change batch carrying two rows for
    * one key trips `raise_error` during evaluation — "which same-key
    * update wins" is undefined, exactly as SQL MERGE rejects it, and a
    * loud failure beats a nondeterministic merge. The count window runs
    * on the CHANGE side only (small by the incremental premise), never
    * on the base. The guard lives in a FILTER so Catalyst cannot prune
    * it (same pattern as Dedup.blockedJaccardPairs).
    */
  private def requireUniqueKeys(changes: DataFrame, keys: Seq[String], op: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    changes.withColumn("_kc", count(lit(1)).over(w))
      .filter(when(col("_kc") > 1,
        raise_error(concat(lit(s"$op: duplicate change key "),
          concat_ws(",", keys.map(k => col(k).cast(StringType)): _*))))
        .otherwise(lit(true)))
      .drop("_kc")
  }

  /** Keys must exist on both sides whatever the evolution mode — a
    * missing key null-filled by lenient union would silently corrupt
    * the merge identity, so that one check is always strict.
    */
  private def requireKeys(df: DataFrame, keys: Seq[String], op: String, side: String): Unit = {
    val missing = keys.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$op: $side is missing key column(s) ${missing.mkString(", ")}")
  }

  /** Upsert: rows of `changes` replace base rows sharing their key;
    * unmatched change rows are appended. Column sets must match
    * (enforced by unionByName) unless `allowMissingColumns` — the
    * schema-evolution mode a crawl pipeline needs (each dump adds
    * fields): columns present on one side only are null-filled on the
    * other, with the result schema = base columns then new change
    * columns, so old base rows carry explicit NULLs for the new fields.
    * Law (unit-tested): evolving the base first (adding the new columns
    * as NULLs) then strict-upserting equals the evolved upsert —
    * evolve∘upsert == upsert∘evolve. Keys must exist on BOTH sides in
    * either mode. Duplicate keys in `changes` fail fast at evaluation
    * time (see [[requireUniqueKeys]]).
    */
  def upsert(base: DataFrame, changes: DataFrame, keys: Seq[String],
             broadcastChanges: Boolean = true,
             allowMissingColumns: Boolean = false): DataFrame = {
    requireKeys(base, keys, "upsert", "base")
    requireKeys(changes, keys, "upsert", "changes")
    val chg = requireUniqueKeys(changes, keys, "upsert")
    val keyDf = chg.select(keys.map(col): _*)
    val right = if (broadcastChanges) broadcast(keyDf) else keyDf
    base.join(right, keys, "left_anti").unionByName(chg, allowMissingColumns)
  }

  /** CDC apply: `changes` carries an operation column (`opCol`) with
    * 'U'/'I' rows (new image, upserted) and 'D' rows (tombstones —
    * removed from the base, payload ignored). One pass: a single
    * anti join on ALL change keys, then the non-delete images append.
    * `allowMissingColumns` enables the same schema-evolution semantics
    * as [[upsert]] (one-side-only columns null-filled, keys strict).
    */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
               opCol: String = "op", broadcastChanges: Boolean = true,
               allowMissingColumns: Boolean = false): DataFrame = {
    requireKeys(base, keys, "applyCdc", "base")
    requireKeys(changes, keys, "applyCdc", "changes")
    // Op codes outside {I,U,D} (or NULL) fail loudly at evaluation time:
    // after the anti join has already removed the row's key from the
    // base, a NULL/unknown op would otherwise silently behave as a
    // tombstone (`=!= "D"` is NULL for NULL ops) or as an upsert.
    val ops = requireUniqueKeys(changes, keys, "applyCdc")
      .filter(when(col(opCol).isNull || !col(opCol).isin("I", "U", "D"),
        raise_error(concat(lit("applyCdc: op must be one of I/U/D, got "),
          coalesce(col(opCol).cast(StringType), lit("NULL")))))
        .otherwise(lit(true)))
    val keyDf = ops.select(keys.map(col): _*)
    val right = if (broadcastChanges) broadcast(keyDf) else keyDf
    base.join(right, keys, "left_anti")
      .unionByName(ops.filter(col(opCol) =!= "D").drop(opCol), allowMissingColumns)
  }

  /** The inverse of [[applyCdc]]: the CDC change set that turns
    * `before` into `after` — 'I' rows (keys only in `after`), 'D' rows
    * (keys only in `before`, carrying the before-image), 'U' rows (keys
    * in both whose non-key columns differ, null-safely; unchanged rows
    * are omitted). The reconciliation/backfill primitive: diff a
    * rebuilt snapshot against the incrementally-maintained base to
    * extract what actually changed. Law (property-tested):
    * `applyCdc(before, snapshotDiff(before, after), keys) == after`.
    *
    * Scale: ONE full-outer shuffle join on the key — co-locatable via
    * bucketing on both snapshots; the struct comparison is codegen'd
    * per-row work.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, keys: Seq[String],
                   opCol: String = "op"): DataFrame = {
    require(before.columns.sorted.sameElements(after.columns.sorted),
      s"snapshotDiff: column sets differ: ${before.columns.mkString(",")} vs ${after.columns.mkString(",")}")
    require(!before.columns.contains(opCol),
      s"snapshotDiff: snapshots already have a '$opCol' column - pass a different opCol")
    val nonKeys = before.columns.filterNot(keys.contains).toSeq
    val b = before.select(keys.map(col) :+ struct(nonKeys.map(col): _*).as("_b"): _*)
    val a = after.select(keys.map(col) :+ struct(nonKeys.map(col): _*).as("_a"): _*)
    b.join(a, keys, "full_outer")
      .withColumn(opCol,
        when(col("_b").isNull, "I")
          .when(col("_a").isNull, "D")
          .when(!(col("_a") <=> col("_b")), "U"))
      .filter(col(opCol).isNotNull)
      .select(keys.map(col) ++
        // whole-image pick, NOT per-field coalesce: an update that sets
        // a field to NULL must carry the after-image's NULL
        nonKeys.map(n => when(col("_a").isNotNull, col(s"_a.$n"))
          .otherwise(col(s"_b.$n")).as(n)) :+
        col(opCol): _*)
  }

  /** Slowly-changing-dimension Type 2 merge: apply a batch of new
    * attribute images to a versioned dimension, keeping full history.
    * `dim` carries `(keys*, attrs*, fromCol, toCol, currentCol)`;
    * `changes` carries `(keys*, attrs*)` — the attribute set is
    * inferred as the change columns minus keys. For each change whose
    * attributes differ (null-safely) from the key's CURRENT row, that
    * row is closed (`toCol` = `effective`, `currentCol` = false) and a
    * new open version is appended; no-op changes (identical attributes)
    * are suppressed; keys with no current row — brand new, or retired
    * and now reappearing — get a fresh open version. Historical rows
    * are never touched.
    *
    * Scale shape: the change batch is broadcast, so the dimension is
    * NEVER shuffled — one pass over `dim` (history and current in the
    * same scan, each row exploding to its 0/1/2 output versions) plus
    * one column-pruned semi-join pass to find which change keys already
    * have a current row (that matched-key set is ≤ |changes| and rides
    * back as a second broadcast). Duplicate change keys fail fast
    * ([[requireUniqueKeys]]) — two images for one key in one batch
    * have no defined version order.
    */
  def scdType2(dim: DataFrame, changes: DataFrame, keys: Seq[String],
               effective: Column,
               fromCol: String = "valid_from", toCol: String = "valid_to",
               currentCol: String = "is_current"): DataFrame = {
    requireKeys(dim, keys, "scdType2", "dim")
    requireKeys(changes, keys, "scdType2", "changes")
    val attrs = changes.columns.filterNot(keys.contains).toSeq
    val missing = attrs.filterNot(dim.columns.contains)
    require(missing.isEmpty,
      s"scdType2: change attributes ${missing.mkString(",")} not in dim")
    for (c <- Seq(fromCol, toCol, currentCol))
      require(dim.columns.contains(c), s"scdType2: dim lacks column '$c'")
    val extra = dim.columns.filterNot(
      (keys ++ attrs ++ Seq(fromCol, toCol, currentCol)).contains)
    require(extra.isEmpty,
      s"scdType2: dim columns ${extra.mkString(",")} have no change-side image " +
        "(drop them or add them to the change batch)")
    val chg = requireUniqueKeys(changes, keys, "scdType2")
      .select(keys.map(col) ++ attrs.map(a => col(a).as(s"_chg_$a")): _*)
      .withColumn("_chg_present", lit(true))
    // version payload struct: attrs then validity triple, keys stay out
    def version(attr: String => Column, from: Column, to: Column,
                current: Column) =
      struct(attrs.map(a => attr(a).as(a)) :+ from.as(fromCol) :+
        to.as(toCol) :+ current.as(currentCol): _*)
    val attrsEqual = attrs.map(a => col(a) <=> col(s"_chg_$a"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val self = version(col, col(fromCol), col(toCol), col(currentCol))
    val merged = dim.join(broadcast(chg), keys, "left")
      .select(keys.map(col) :+ explode(
        when(!col(currentCol) || col("_chg_present").isNull || attrsEqual,
          array(self))
          .otherwise(array(
            version(col, col(fromCol), effective, lit(false)),
            version(a => col(s"_chg_$a"), effective,
              lit(null).cast(dim.schema(toCol).dataType), lit(true)))))
        .as("_v"): _*)
    // change keys with no CURRENT row → fresh open versions (the
    // matched-key set is bounded by the batch, so it broadcasts back)
    val matched = dim.filter(col(currentCol))
      .join(broadcast(chg.select(keys.map(col): _*)), keys, "left_semi")
      .select(keys.map(col): _*)
    val fresh = chg.join(broadcast(matched), keys, "left_anti")
      .select(keys.map(col) :+ version(a => col(s"_chg_$a"), effective,
        lit(null).cast(dim.schema(toCol).dataType), lit(true)).as("_v"): _*)
    merged.unionByName(fresh)
      .select(keys.map(col) ++
        (attrs :+ fromCol :+ toCol :+ currentCol).map(c => col(s"_v.$c").as(c)): _*)
  }

  /** Incremental rollup maintenance for append-only facts: fold a new
    * batch into a maintained `(keys, nCol, sum columns)` aggregate
    * WITHOUT rescanning the base facts — the materialized-view refresh
    * a 100 TB fact table needs (refresh cost ∝ |aggregate| + |batch|,
    * never |base|). `sums` maps each maintained sum column to the
    * fact-side expression it sums; counts and sums are re-foldable
    * because both are associative — use DECIMAL expressions for money
    * so the two-stage fold is bit-equal to a full recompute (the unit
    * law and the `inc_agg_refresh` oracle check exactly that, against
    * an independent full-recompute formulation).
    */
  def refreshSumCounts(agg: DataFrame, appends: DataFrame, keys: Seq[String],
                       sums: Seq[(String, Column)], nCol: String = "n"): DataFrame = {
    val batchAgg = appends.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(nCol), sums.map { case (a, e) => sum(e).as(a) }: _*)
    agg.unionByName(batchAgg)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(nCol)).as(nCol), sums.map { case (a, _) => sum(col(a)).as(a) }: _*)
  }

  /** The write half of the incremental story: persist `df` into a
    * partitioned parquet table overwriting ONLY the partitions `df`
    * contains (dynamic partition overwrite) — the other partitions'
    * files are not rewritten, which is what makes a merge affordable on
    * a 100 TB table (unit-tested: untouched partitions keep their exact
    * files). Pair with [[upsert]]/[[applyCdc]] restricted to the
    * affected partitions.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** MinHash-LSH candidate pairs BETWEEN two disjoint document sets
    * (corpus side → `id_a`, incoming side → `id_b`) — the cross-batch
    * form of [[Dedup.minhashCandidates]]. Identical banding (same
    * signature kernel, same posexplode, same first-matching-band
    * arithmetic instead of a DISTINCT shuffle); the join is new-bands ×
    * corpus-bands instead of a self-join, so candidate volume is linear
    * in batch size × bucket occupancy, never corpus².
    */
  def minhashCandidatesBetween(corpus: DataFrame, incoming: DataFrame, n: Int = 3,
                               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nBands = Dedup.NumPerms / Dedup.BandRows
    def bands(docs: DataFrame): DataFrame = {
      val sig = Dedup.minhashSignatures(docs, n, textCol, idCol)
      val bandArr = array((0 until nBands).map { b =>
        concat_ws("_", (0 until Dedup.BandRows).map(r => col(s"mh${b * Dedup.BandRows + r}")): _*)
      }: _*)
      // same no-signature guard as the self-join form: all-NULL mh cols
      // would band every short doc into one "" bucket
      sig.filter(col("mh0").isNotNull)
        .select(col(idCol), bandArr.as("bkeys"))
        .select(col(idCol), col("bkeys"), posexplode(col("bkeys")).as(Seq("band", "bkey")))
        .hint("shuffle_hash")
    }
    val firstMatch = coalesce(((0 until nBands).map { b =>
      when(col("x.bkeys")(b) === col("y.bkeys")(b), lit(b))
    } :+ lit(-1)): _*)
    bands(corpus).as("x").join(bands(incoming).as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .filter(col("x.band") === firstMatch)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
  }

  /** Dedup an incoming batch against an existing corpus: every incoming
    * doc is returned with `is_dup` (has a jaccard-verified near-dup in
    * the corpus) and `dup_of` (the smallest matching corpus id, NULL if
    * none). Batch-internal duplicates are [[Dedup.minhashPairs]]'s job —
    * this operator answers only "is it already in the 100 TB corpus",
    * which is the question every incremental crawl ingest asks. The
    * same call is the DECONTAMINATION primitive: pass the benchmark/
    * eval set as `corpus` and training candidates as `incoming`, and
    * `is_dup` flags contaminated examples.
    *
    * Scale: corpus is scanned twice (banding pass + shingle-verify
    * pass), both narrow kernel scans; shuffles are the band-bucket
    * exchange and the candidate↔shingle joins — same budget as one
    * batch-internal minhashPairs run.
    */
  def dedupAgainstCorpus(corpus: DataFrame, incoming: DataFrame,
                         threshold: Double = 0.3, n: Int = 3,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cand = minhashCandidatesBetween(corpus, incoming, n, textCol, idCol)
    val shC = corpus.select(col(idCol).as("id_a"),
      graft.plans.ShingleHashArray(col(textCol), n).as("sh_a"))
    val shI = incoming.select(col(idCol).as("id_b"),
      graft.plans.ShingleHashArray(col(textCol), n).as("sh_b"))
    val dups = cand.join(shC, "id_a").join(shI, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("dup_of"))
    incoming.select(col(idCol))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  /** right-to-be-forgotten delete: drop every base row whose key appears
    * in `tombstones` — the deletion-request primitive of a compliant
    * corpus (GDPR art. 17 / CCPA). A LEFT ANTI join on the request keys:
    * the tombstone set is small relative to a 100 TB base (the
    * incremental premise), so its distinct keys broadcast and the base
    * is scanned once map-side with NO exchange. Tombstone keys are
    * deduplicated first — repeat requests are the norm — and key-count
    * and key-name mismatches fail loudly.
    */
  def forget(base: DataFrame, tombstones: DataFrame,
             baseKeys: Seq[String], tombKeys: Seq[String]): DataFrame = {
    require(baseKeys.nonEmpty && baseKeys.length == tombKeys.length,
      s"forget: key lists must be non-empty and equal-length, got $baseKeys vs $tombKeys")
    requireKeys(base, baseKeys, "forget", "base")
    requireKeys(tombstones, tombKeys, "forget", "tombstones")
    val keys = broadcast(tombstones.select(tombKeys.map(col): _*).distinct())
    val cond = baseKeys.zip(tombKeys)
      .map { case (b, t) => base(b) <=> keys(t) }
      .reduce(_ && _)
    base.join(keys, cond, "left_anti")
  }

  /** forget with REFERENTIAL CASCADE down a foreign-key chain plus a
    * per-table audit — the full deletion-request workflow. Each chain
    * link is `(tableName, df, matchCols, exportCols)`: `matchCols` are
    * the columns joined against the PREVIOUS link's exported deleted
    * keys (the tombstone keys at the root), and `exportCols` are this
    * table's own keys handed to the NEXT link (e.g. customer exports
    * c_custkey, orders matches o_custkey and exports o_orderkey,
    * lineitem matches l_orderkey). Returns the audit frame
    * `(table_name, rows_before, rows_deleted, rows_after)` — the
    * evidence a deletion request was honored; callers wanting the
    * surviving frames use [[forget]] per table with the same keys.
    *
    * Scale shape: each hop is one broadcast anti/semi join on the child
    * (deleted parent keys ≪ child); the per-table counts are one
    * aggregate each. Nothing rewrites unmatched data.
    */
  def forgetCascade(tombstones: DataFrame, tombKeys: Seq[String],
                    chain: Seq[(String, DataFrame, Seq[String], Seq[String])]): DataFrame = {
    require(chain.nonEmpty, "forgetCascade: at least one table in the chain")
    val spark = tombstones.sparkSession
    import spark.implicits._
    // deleted keys exported by the previous link (tombstones at the root)
    var deletedKeys = broadcast(
      tombstones.select(tombKeys.map(col): _*).distinct())
    var parentExportCols = tombKeys
    var audits = Vector.empty[DataFrame]
    for ((name, base, matchCols, exportCols) <- chain) {
      require(matchCols.length == parentExportCols.length,
        s"forgetCascade[$name]: matchCols must pair with the parent's exported keys")
      requireKeys(base, matchCols ++ exportCols, "forgetCascade", name)
      // rows whose FK hits a deleted parent key
      val joinCond = matchCols.zip(parentExportCols)
        .map { case (f, p) => base(f) <=> deletedKeys(p) }.reduce(_ && _)
      val doomed = base.join(deletedKeys, joinCond, "left_semi")
      val beforeN = base.count(); val doomedN = doomed.count()
      audits = audits :+ Seq((name, beforeN, doomedN, beforeN - doomedN))
        .toDF("table_name", "rows_before", "rows_deleted", "rows_after")
      // the next child matches against THIS table's deleted own keys
      parentExportCols = exportCols
      deletedKeys = broadcast(doomed.select(exportCols.map(col): _*).distinct())
    }
    audits.reduce(_ unionByName _)
  }

  /** Merge a new batch's near-dup PAIRS into an EXISTING clustering
    * without re-running connected components over the whole corpus —
    * the daily-increment shape of dedup clustering at 100 TB scale.
    *
    * `prev` is a prior `(id, label)` assignment (labels = component
    * minima, as [[Cluster.connectedComponents]] emits). Each new pair's
    * endpoints are mapped to their SUPERVERTEX — the previous label if
    * the endpoint was already clustered, else the (new) node id — so
    * the merge graph contracts to one vertex per touched prior cluster
    * plus the incoming nodes. Connected components then run over THAT
    * graph only: its size is O(|pairs|), independent of corpus size.
    * The resulting relabel map (old label → merged label) is small, so
    * rewriting `prev` is one broadcast-able left join over the base —
    * the corpus is scanned once and never shuffled (writers pair this
    * with partition overwrite so only touched partitions rewrite).
    *
    * Equivalence: because prior labels are component MINIMA, the merged
    * label of every node equals min(node ids of its component in the
    * union graph) — bit-identical to re-running CC from scratch over
    * (prior edges ∪ new pairs). The `IncrementalSpec` property test
    * pins this against a two-batch random graph.
    *
    * @param prev     (id, label) from the previous run
    * @param incoming new nodes (column `id`); nodes already present in
    *                 `prev` are tolerated and not duplicated
    * @param pairs    near-dup pairs (`id_a`, `id_b`) — endpoints may be
    *                 previous nodes, incoming nodes, or a mix, but every
    *                 endpoint MUST belong to prev ∪ incoming. A foreign
    *                 endpoint would become a supervertex that can win the
    *                 min-label election for a real component while never
    *                 appearing as an output row — silently breaking the
    *                 label-is-a-member-id invariant downstream consumers
    *                 (and the equivalence law above) rely on. Pair
    *                 producers that score against a wider corpus must
    *                 left-semi filter both endpoints first (as the
    *                 `inc_clusters` gate query does), or pass
    *                 `validate = true` to have the operator assert it.
    * @param validate when true, eagerly (one bounded job over the pair
    *                 batch) assert the endpoint contract and fail loudly
    *                 with a sample of the foreign ids. Off by default:
    *                 the check anti-joins the small pair batch against
    *                 the corpus-sized `prev`, a scan the steady-state
    *                 caller who already guarantees the contract should
    *                 not pay twice.
    * @return (id, label) for prev ∪ incoming under the merged clustering
    */
  def mergeClusters(prev: DataFrame, incoming: DataFrame,
                    pairs: DataFrame, validate: Boolean = false): DataFrame = {
    if (validate) {
      val known = prev.select(col("id"))
        .unionByName(incoming.select(col("id")))
      val foreign = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id")))
        .join(known, Seq("id"), "left_anti")
        .limit(5).collect().map(_.get(0))
      require(foreign.isEmpty,
        "mergeClusters: pair endpoints absent from prev union incoming " +
          s"(sample: ${foreign.mkString(", ")}) - a foreign endpoint can " +
          "be elected as a merged label while never appearing in the " +
          "output; left-semi filter the pair batch to known ids first")
    }
    val lab = prev.select(col("id").as("_pid"), col("label").as("_plab"))
    // endpoint → supervertex (previous label, or self for a new node).
    // The pair batch is small (incremental premise) so both lookups
    // broadcast the pair side's keys... but the LOOKUP side is the
    // corpus-sized `prev`: join pairs INTO prev (pairs left) so the
    // big side streams and AQE can pick the efficient build side.
    val p2 = pairs
      .join(lab.select(col("_pid").as("id_a"), col("_plab").as("_la")), Seq("id_a"), "left")
      .join(lab.select(col("_pid").as("id_b"), col("_plab").as("_lb")), Seq("id_b"), "left")
      .select(coalesce(col("_la"), col("id_a")).as("src"),
        coalesce(col("_lb"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val touched = p2.select(col("src").as("id"))
      .unionByName(p2.select(col("dst").as("id"))).distinct()
    // CC over the contracted supervertex graph — O(|pairs|) vertices
    val map = Cluster.connectedComponents(touched, p2)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("_f"), col("label").as("_t"))
    val prevOut = prev
      .join(map, prev("label") === col("_f"), "left")
      .select(prev("id"), coalesce(col("_t"), prev("label")).as("label"))
    val newOut = incoming.select(col("id"))
      .join(prev.select(col("id")), Seq("id"), "left_anti")
      .join(map, col("id") === col("_f"), "left")
      .select(col("id"), coalesce(col("_t"), col("id")).as("label"))
    prevOut.unionByName(newOut)
  }
}
