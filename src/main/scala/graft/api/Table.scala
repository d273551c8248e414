package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Blaze's table algebra (`blaze/expr/collections.py`, `expressions.py`,
  * `split_apply_combine.py`) re-expressed over a lazy Spark `DataFrame`.
  *
  * Construction-time validation mirrors Blaze's eager analysis
  * (SURVEY §3A step 2): bad field names / mismatched concat schemas fail
  * when the expression is BUILT, not when it runs. Execution semantics
  * (pruning, pushdown, fusion, partial aggregation) are inherited from
  * Catalyst — the reference's hand-rolled equivalents (`expr/optimize.py`,
  * `expr/split.py`, `expr/broadcast.py`) are deliberately NOT ported.
  */
final case class Table(df: DataFrame) {
  def schema = df.schema
  def fields: Seq[String] = df.columns.toSeq

  private def requireFields(names: Seq[String], op: String): Unit = {
    val missing = names.filterNot(fields.contains)
    require(missing.isEmpty, s"$op: no such field(s) ${missing.mkString(", ")} in ${fields.mkString(", ")}")
  }

  // --- field access / projection (`expressions.py:362-456`) ---
  def apply(name: String): Col = { requireFields(Seq(name), "Field"); Col(df(name)) }
  def project(names: String*): Table = {
    requireFields(names, "Projection")
    Table(df.select(names.map(df(_)): _*))
  }
  /** drop_field (`expressions.py:982-1023`). */
  def dropField(names: String*): Table = {
    requireFields(names, "drop_field"); Table(df.drop(names: _*))
  }

  // --- selection (`expressions.py:518-571`) ---
  def filter(pred: Col): Table = Table(df.filter(pred.c))
  def where(pred: Col): Table = filter(pred)

  /** table-level Like: keep rows where EVERY named column matches its
    * glob pattern (`strings.py:57-83` — `t.like(name='Alice*')`).
    */
  def like(patterns: (String, String)*): Table = {
    require(patterns.nonEmpty, "like: at least one column -> glob pattern")
    requireFields(patterns.map(_._1), "Like")
    Table(df.filter(patterns.map { case (f, g) =>
      df(f).like(StrOps.globToSql(g))
    }.reduce(_ && _)))
  }

  // --- renames (`expressions.py:574-692`) ---
  def relabel(renames: (String, String)*): Table = {
    requireFields(renames.map(_._1), "ReLabel")
    Table(df.withColumnsRenamed(renames.toMap))
  }

  // --- merge / transform (`collections.py:377-537`) ---
  /** merge: column-wise concat; new columns in ALPHABETICAL name order
    * (`collections.py:476-482`).
    */
  def merge(cols: (String, Col)*): Table = {
    val newCols = cols.sortBy(_._1).map { case (n, col) => col.c.as(n) }
    Table(df.select(df.columns.toSeq.map(df(_)) ++ newCols: _*))
  }
  /** transform: add/replace derived columns keeping existing order
    * (`collections.py:503-537`).
    */
  def transform(cols: (String, Col)*): Table =
    Table(df.withColumns(cols.map { case (n, col) => n -> col.c }.toMap))

  // --- grouping (`split_apply_combine.py:28-88`) ---
  /** by: result columns = grouper fields then aggregation names in
    * ALPHABETICAL order (`reductions.py:277-279`). Groupers may be derived
    * expressions (aliased). Partial/final aggregation (map-side combine)
    * is Catalyst-native — scales to arbitrary group counts via shuffle on
    * the group keys.
    */
  def by(groupers: Seq[(String, Col)], aggs: (String, Col)*): Table = {
    require(aggs.nonEmpty, "by: at least one aggregation required")
    val g = df.groupBy(groupers.map { case (n, c) => c.c.as(n) }: _*)
    val sorted = aggs.sortBy(_._1).map { case (n, c) => c.c.as(n) }
    Table(g.agg(sorted.head, sorted.tail: _*)
      .select((groupers.map(_._1) ++ aggs.map(_._1).sorted).map(col): _*))
  }
  def by(grouper: String, aggs: (String, Col)*): Table =
    by(Seq(grouper -> apply(grouper)), aggs: _*)
  def byFields(groupers: Seq[String], aggs: (String, Col)*): Table =
    by(groupers.map(n => n -> apply(n)), aggs: _*)

  /** CUBE / ROLLUP grouping — absent from the reference (SURVEY §2.8
    * notes no grouping sets exist there) but free in Spark; exposed as
    * first-class extensions with [[by]]'s column contract (groupers then
    * alphabetical agg names). Subtotal rows carry NULL group keys, as in
    * SQL. One shuffle; Catalyst expands grouping sets map-side.
    */
  def byCube(groupers: Seq[String], aggs: (String, Col)*): Table =
    groupingSets(df.cube(groupers.map(df(_)): _*), groupers, aggs)
  def byRollup(groupers: Seq[String], aggs: (String, Col)*): Table =
    groupingSets(df.rollup(groupers.map(df(_)): _*), groupers, aggs)
  private def groupingSets(g: org.apache.spark.sql.RelationalGroupedDataset,
                           groupers: Seq[String], aggs: Seq[(String, Col)]): Table = {
    require(aggs.nonEmpty, "by: at least one aggregation required")
    requireFields(groupers, "By")
    val sorted = aggs.sortBy(_._1).map { case (n, c) => c.c.as(n) }
    Table(g.agg(sorted.head, sorted.tail: _*)
      .select((groupers ++ aggs.map(_._1).sorted).map(col): _*))
  }

  /** PIVOT (extension): wide table of one aggregate per pivot value,
    * lowered to CONDITIONAL AGGREGATION — `aggFn(when(pivot = v,
    * value))` per column — rather than `RelationalGroupedDataset.pivot`,
    * which plans a two-phase aggregate (two shuffles; asserted in the
    * unit suite). One shuffle on the group key, wide schema total
    * (absent combos null-fill to 0). `values` must be given explicitly —
    * an implicit pivot would run an extra distinct-collect job over the
    * full table at scale.
    *
    * `valueCol` is what to aggregate, `aggFn` how: count = `(lit(1),
    * _.count)`, sum = `(x, _.sum)`. `emptyAs` fills cells whose combo has
    * no rows; the default 0 is right for count/sum — pass `None` for
    * aggregates where absence must stay NULL (min/max/avg), since a
    * fabricated 0 would read as an observed value.
    */
  def pivotAgg(groupCol: String, pivotCol: String, values: Seq[String],
               aggName: String, valueCol: Col, aggFn: Col => Col,
               emptyAs: Option[Any] = Some(0)): Table = {
    requireFields(Seq(groupCol, pivotCol), "Pivot")
    require(values.nonEmpty, "pivotAgg: explicit pivot values required")
    // column names <aggName>_<sanitized value>: identifier-safe for any sink.
    // Sanitization is lossy ("1-URGENT" and "1 urgent" both map to
    // "1_urgent"), so collisions must fail LOUDLY here — otherwise the
    // result silently carries duplicate column names and any downstream
    // select-by-name reads the wrong cell.
    val names = values.map(v => s"${aggName}_${v.toLowerCase.replaceAll("[^a-z0-9]+", "_")}")
    val dupes = names.groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
    require(dupes.isEmpty,
      s"pivotAgg: pivot values collide after sanitization: ${dupes.mkString(", ")} " +
        s"(values ${values.mkString("[", ", ", "]")}) - rename values or pivot separately")
    val cols = values.zip(names).map { case (v, n) =>
      val agg = aggFn(Col(when(df(pivotCol) === v, valueCol.c))).c
      emptyAs.fold(agg)(z => coalesce(agg, lit(z))).as(n)
    }
    Table(df.groupBy(df(groupCol)).agg(cols.head, cols.tail: _*))
  }

  /** two-stage SALTED aggregation for skewed group keys: stage 1 groups
    * on (keys, salt) so one hot key spreads over `saltBuckets` reducers;
    * stage 2 re-aggregates the partials on the true keys. `sums` are
    * expressions to SUM (counts = sum of 1; use decimal inputs for
    * order-independent exactness). Result == plain `byFields` + sum —
    * asserted in the unit suite. AQE's skew handling covers joins;
    * this covers the hot-key AGGREGATE a 100 TB corpus hits (e.g. one
    * domain contributing 30 % of documents).
    */
  def saltedSumBy(keys: Seq[String], saltBuckets: Int, sums: (String, Col)*): Table = {
    require(saltBuckets > 1, "saltedSumBy: need at least 2 salt buckets")
    requireFields(keys, "saltedSumBy")
    // DETERMINISTIC salt (hash of the full row): a nondeterministic salt
    // (rand / monotonically_increasing_id) is a grouping key that changes
    // on task retry — partial re-fetches then double-count or drop rows.
    // Trade-off: fully identical rows share a salt; hot keys still spread
    // as long as their rows differ anywhere.
    val salted = df.withColumn("_salt",
      pmod(hash(df.columns.toSeq.map(df(_)): _*), lit(saltBuckets)))
    val partialCols = sums.sortBy(_._1).map { case (n, c) => sum(c.c).as(n) }
    val partial = salted
      .groupBy((keys.map(salted(_)) :+ col("_salt")): _*)
      .agg(partialCols.head, partialCols.tail: _*)
    val mergeCols = sums.sortBy(_._1).map { case (n, _) => sum(col(n)).as(n) }
    Table(partial.groupBy(keys.map(partial(_)): _*)
      .agg(mergeCols.head, mergeCols.tail: _*)
      .select((keys ++ sums.map(_._1).sorted).map(col): _*))
  }

  /** per-group TOP-K (extension): the k best rows of each group by
    * `score` (higher wins; ties to the LOWER `idCol`), WITHOUT a window —
    * the standard window formulation (`row_number().over(partitionBy
    * (group).orderBy(score))`) sorts every group inside one task, which
    * is a scale-killer when one group dominates. This lowers to the
    * bounded [[graft.plans.TopKByScore]] partial aggregate instead: ≤ k
    * rows per (group, map partition) cross the exchange and no task ever
    * sorts a full group. `idCol` may be any integral type or string
    * (UUIDs/natural keys work; integral surrogates still shuffle 4×
    * leaner) and must be unique per row for deterministic ties.
    * Output: groupers, rank (1-based), idCol (input type), score
    * (double).
    */
  def topKBy(groupers: Seq[String], score: Col, idCol: String, k: Int): Table = {
    requireFields(groupers :+ idCol, "topKBy")
    // same silent-duplicate hazard class as pivotAgg's sanitized names
    val reserved = (groupers :+ idCol).filter(Set("rank", "score"))
    require(reserved.isEmpty,
      s"topKBy: column(s) ${reserved.mkString(", ")} collide with the generated rank/score output")
    Table(df.groupBy(groupers.map(df(_)): _*)
      .agg(graft.plans.TopKByScore(score.c, df(idCol), k).as("_top"))
      .select(groupers.map(col) :+ posexplode(col("_top")): _*)
      .select(groupers.map(col) ++ Seq(
        (col("pos") + 1).cast(org.apache.spark.sql.types.LongType).as("rank"),
        col("col.c_id").as(idCol), col("col.cos").as("score")): _*))
  }

  /** MELT / UNPIVOT (extension; inverse of [[pivotAgg]]): wide → long,
    * one row per (id row × value column). Narrow generate-side op — no
    * shuffle; value columns must share (or be cast to) a common type.
    */
  def melt(ids: Seq[String], values: Seq[String], varName: String = "variable",
           valueName: String = "value"): Table = {
    requireFields(ids ++ values, "Melt")
    require(values.nonEmpty, "melt: at least one value column required")
    Table(df.unpivot(ids.map(df(_)).toArray, values.map(df(_)).toArray,
      varName, valueName))
  }

  /** Replicated-salt equi-join for a SKEWED join key (extension): the
    * hot-key complement to [[saltedSumBy]]. The big (this) side salts
    * each row by a deterministic hash of `spreadCol` (NOT rand — retry
    * safety, same reasoning as saltedSumBy); the small side is
    * replicated `salts` times; the join runs on (key, salt), so one hot
    * key spreads over `salts` reducers instead of melting one. Result ==
    * plain inner join (asserted in the unit suite). AQE's skew handling
    * covers sort-merge rebalancing after the fact; explicit salting is
    * the plan-level fix when the small side can't be broadcast whole but
    * `salts`× replication fits.
    */
  def saltedJoin(small: Table, key: String, spreadCol: String, salts: Int): Table = {
    require(salts > 1, "saltedJoin: need at least 2 salt buckets")
    // the salt must VARY within a hot key, or nothing spreads: hashing
    // the key itself (or any per-key constant) leaves the hot key on one
    // reducer while the small side still pays `salts`× replication
    require(spreadCol != key,
      "saltedJoin: spreadCol must differ from the join key (and must vary within a key)")
    requireFields(Seq(key, spreadCol), "Join")
    small.requireFields(Seq(key), "Join")
    val big = df.withColumn("_salt", pmod(hash(df(spreadCol)), lit(salts)))
    val rep = small.df.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    Table(big.join(rep, Seq(key, "_salt"), "inner").drop("_salt"))
  }

  /** summary: one-row multi-reduction, fields alphabetical
    * (`reductions.py:226-296`).
    */
  def summary(aggs: (String, Col)*): Table = {
    val sorted = aggs.sortBy(_._1).map { case (n, c) => c.c.as(n) }
    Table(df.agg(sorted.head, sorted.tail: _*))
  }

  /** One-pass table profile (extension; the table-wide generalization of
    * [[summary]]): one output row per column with n_rows, n_null,
    * n_distinct, and min/max (numeric columns only — cast to double;
    * null for other types). Everything rides ONE aggregate: the
    * per-column distincts make Catalyst plan an Expand (input ×
    * #distinct-aggs map-side, still a single shuffle) — exact and
    * oracle-able, the right default for profiling a sample or a
    * dimension. For a 100 TB fact-table profile swap the exact distinct
    * for `approx_count_distinct` ([[Col.nuniqueApprox]]'s HLL++): single
    * pass, no Expand, bounded memory.
    */
  def profile: Table = {
    val fs = df.schema.fields.toSeq
    val aggs = fs.zipWithIndex.flatMap { case (f, i) =>
      val c = df(f.name)
      val isNum = f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
      Seq(
        count(c).as(s"_c$i"),
        count_distinct(c).as(s"_d$i"),
        (if (isNum) min(c).cast(org.apache.spark.sql.types.DoubleType)
         else lit(null).cast(org.apache.spark.sql.types.DoubleType)).as(s"_mn$i"),
        (if (isNum) max(c).cast(org.apache.spark.sql.types.DoubleType)
         else lit(null).cast(org.apache.spark.sql.types.DoubleType)).as(s"_mx$i"))
    } :+ count(lit(1)).as("_n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = fs.zipWithIndex.map { case (f, i) =>
      struct(lit(f.name).as("col_name"), col("_n").as("n_rows"),
        (col("_n") - col(s"_c$i")).as("n_null"),
        col(s"_d$i").as("n_distinct"),
        col(s"_mn$i").as("min_num"), col(s"_mx$i").as("max_num"))
    }
    Table(one.select(explode(array(rows: _*)).as("p")).select(col("p.*")))
  }

  /** count_values (`split_apply_combine.py:91-101`). */
  def countValues(field: String): Table = {
    requireFields(Seq(field), "count_values")
    Table(df.groupBy(df(field)).agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), asc(field)))
  }

  /** Order-independent per-group content checksum: row count + XOR of a
    * row hash. XOR commutes and associates, so the checksum is
    * identical at ANY partitioning/ordering — the anti-entropy
    * primitive for verifying a 100 TB copy/sync/migration partition by
    * partition without moving data (compare (n, checksum) pairs, chase
    * only mismatched groups). One partial/final aggregate.
    */
  def checksumBy(group: String, rowHash: Column): Table = {
    requireFields(Seq(group), "checksumBy")
    Table(df.groupBy(df(group))
      .agg(count(lit(1)).as("n"), bit_xor(rowHash).as("checksum"))
      .orderBy(group))
  }

  /** exact mode of a column with a TOTAL tiebreak (count desc, value
    * asc — SQL `mode()` leaves ties implementation-defined, so this
    * pins them). Plan: one partial/final count aggregate then a 1-row
    * TakeOrdered — no global sort of the distinct values.
    */
  def modeOf(field: String): Table = {
    requireFields(Seq(field), "mode")
    Table(df.groupBy(df(field)).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc(field)).limit(1)
      .select(df(field).as("mode_val"), col("n")))
  }

  // --- sorting / limits (`collections.py:80-316`) ---
  /** sort: single global ascending flag for all keys, per the reference
    * (`collections.py:80-173`).
    */
  def sort(keys: Seq[String], ascending: Boolean = true): Table = {
    requireFields(keys, "Sort")
    Table(df.orderBy(keys.map(k => if (ascending) asc(k) else desc(k)): _*))
  }
  def sort(key: String): Table = sort(Seq(key))
  def sortBy(cols: Seq[Col], ascending: Boolean): Table =
    Table(df.orderBy(cols.map(c => if (ascending) c.c.asc else c.c.desc): _*))
  def head(n: Int): Table = Table(df.limit(n))
  /** tail: reference SQL backend inverts the sort, limits, re-sorts
    * (`compute/sql.py:1523-1546`). Without a sort this is head-equivalent
    * (same documented caveat).
    */
  def tail(n: Int, sortKeys: Seq[String] = Nil, ascending: Boolean = true): Table =
    if (sortKeys.isEmpty) head(n)
    else Table(df.orderBy(sortKeys.map(k => if (ascending) desc(k) else asc(k)): _*)
      .limit(n)
      .orderBy(sortKeys.map(k => if (ascending) asc(k) else desc(k)): _*))

  /** Sample(frac=) (`collections.py:319-356`). */
  def sample(frac: Double, seed: Long = 42L): Table = Table(df.sample(frac, seed))
  /** Sample(n=): exact-n random rows — orderBy(rand).limit per the SQL
    * backend (`compute/sql.py:1046-1067`).
    */
  def sampleN(n: Int, seed: Long = 42L): Table =
    Table(df.orderBy(rand(seed)).limit(n))

  /** Positional Slice (`expressions.py:488-515`): no stable row order in
    * Spark — documented nondeterminism, as the reference SQL backend also
    * warns (`compute/sql.py:1646-1647`). No step/negatives (also rejected
    * by the reference SQL backend, `sql.py:1632-1644`).
    */
  def slice(start: Int, stop: Int): Table = {
    require(start >= 0 && stop >= start, "slice: 0<=start<=stop, no step/negatives")
    Table(df.offset(start).limit(stop - start))
  }

  /** Scale-safe EXACT slice under an explicit total order — the
    * distributed-pagination sibling of [[slice]] (which keeps the
    * reference's LIMIT/OFFSET semantics and its global single-point
    * funnel, ref `sql.py:1632-1644`). Two passes, no funnel:
    * range-partition + local sort on `sortCols`, count rows per
    * partition (a tiny one-row-per-partition aggregate), prefix-sum the
    * counts on the driver, then each partition emits only its rows
    * whose GLOBAL index lands in `[start, stop)` — partitions wholly
    * outside the range emit nothing. `sortCols` must be a total order
    * for the result to be deterministic (the same contract SQL OFFSET
    * has with ORDER BY).
    */
  def sliceSorted(start: Long, stop: Long, sortCols: Seq[Column]): Table = {
    require(start >= 0 && stop >= start, "sliceSorted: 0<=start<=stop")
    paginateSorted(sortCols).slice(start, stop)
  }

  /** Strided/negative Python-slice parity with the reference's numpy
    * backend (`numpy.py:331`) under an explicit total order — see
    * [[SortedPages.sliceStrided]]. */
  def sliceStrided(start: Option[Long], stop: Option[Long], step: Long,
                   sortCols: Seq[Column]): Table =
    paginateSorted(sortCols).sliceStrided(start, stop, step)

  /** Pagination handle over one materialized total order: the range
    * exchange + per-partition count pass run ONCE (at construction) and
    * every [[SortedPages.slice]]/[[SortedPages.page]] reuses them. Both
    * jobs — the count and every later slice — run over the SAME RDD
    * instance, which is what makes this exact: `RangePartitioner`
    * samples with a seed derived from the RDD id and AQE finalizes the
    * plan per execution, so two independent `.rdd` materializations of
    * the same DataFrame need not agree on partition boundaries. One
    * instance = one set of boundaries = the counts provably describe
    * the partitions the slices read (the exchange's map stage is
    * computed once and reused as a skipped stage).
    *
    * CLASSIC-SESSION ONLY: this driver-coordinating design requires
    * `Dataset.rdd`, which a Spark Connect client does not have — over
    * `sc://` it refuses loudly (pinned by `ConnectParitySpec`) rather
    * than risk re-materializing with different boundaries. Connect
    * users run the pagination job server-side; the plain LIMIT/OFFSET
    * [[Table.slice]] works unchanged over Connect.
    */
  def paginateSorted(sortCols: Seq[Column]): SortedPages = {
    require(sortCols.nonEmpty, "paginateSorted: at least one sort column")
    // Engine-side guard, not just incidental client behavior: over a
    // Connect session the refusal below fires BEFORE any API whose
    // failure mode could change across Spark versions (`Dataset.rdd`),
    // so the worst case — a client-side re-materialization with
    // different partition boundaries, i.e. silently inconsistent
    // pages — can never be reached (pinned by ConnectParitySpec).
    if (df.sparkSession.getClass.getName.startsWith("org.apache.spark.sql.connect."))
      throw new UnsupportedOperationException(
        "paginateSorted: the exact two-job pagination is driver-" +
          "coordinating (one materialized RDD instance) and is not " +
          "available over Spark Connect; run the pagination job " +
          "server-side, or use Table.slice (plain LIMIT/OFFSET), " +
          "which works unchanged over sc://")
    val sorted = df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
    new SortedPages(df.sparkSession, sorted.schema, sorted.rdd)
  }

  // --- distinct / concat (`collections.py:176-252,776-865`) ---
  /** Distinct(*on): full-row dedupe, or by key subset when keys given.
    * (Single method: a 0-ary overload would make `distinct("k")` parse as
    * `distinct.apply("k")` = field access.)
    */
  def distinct(on: String*): Table =
    if (on.isEmpty) Table(df.distinct())
    else { requireFields(on, "Distinct"); Table(df.dropDuplicates(on)) }
  /** Concat axis=0: vertical union-all; measures must match exactly
    * (`collections.py:776-865`).
    */
  def concat(other: Table): Table = {
    require(fields == other.fields && schema.map(_.dataType) == other.schema.map(_.dataType),
      s"concat: schemas must match exactly: $fields vs ${other.fields}")
    Table(df.unionAll(other.df))
  }
  /** INTERSECT / EXCEPT (SQL distinct semantics) — absent from the
    * reference (`SURVEY §2.11`) but free in Spark; exposed as first-class
    * extensions. Same exact-schema contract as [[concat]].
    */
  def intersect(other: Table): Table = {
    require(fields == other.fields && schema.map(_.dataType) == other.schema.map(_.dataType),
      s"intersect: schemas must match exactly: $fields vs ${other.fields}")
    Table(df.intersect(other.df))
  }
  def except(other: Table): Table = {
    require(fields == other.fields && schema.map(_.dataType) == other.schema.map(_.dataType),
      s"except: schemas must match exactly: $fields vs ${other.fields}")
    Table(df.except(other.df))
  }

  // --- shift (`collections.py:914-950`) ---
  /** Shift(n): lag/lead null-padded. Spark requires an explicit ordering
    * (SURVEY §7.4 hard part 1) — the reference relies on physical order.
    *
    * Pass `partitionKeys` so the window distributes (one shuffle on the
    * keys, parallel per group). An UNPARTITIONED window funnels every row
    * through a single task — a driver-class bottleneck at scale — so the
    * global form must be requested explicitly via `allowGlobal=true`.
    */
  def shift(field: String, n: Int, orderKeys: Seq[String],
            partitionKeys: Seq[String] = Nil, allowGlobal: Boolean = false): Table = {
    requireFields(field +: (orderKeys ++ partitionKeys), "Shift")
    require(partitionKeys.nonEmpty || allowGlobal,
      "shift: pass partitionKeys (single-partition global windows need allowGlobal=true)")
    val w = Window.partitionBy(partitionKeys.map(df(_)): _*)
      .orderBy(orderKeys.map(asc): _*)
    val shifted = if (n >= 0) lag(df(field), n).over(w) else lead(df(field), -n).over(w)
    Table(df.withColumn(field, shifted))
  }

  // --- N-D array surface (`expr/arrays.py:13-129`) — a TABLE has no
  // axis order, so transpose/tensordot on `Table` fail loudly; the real
  // array semantics live in graft.operators.Tensor over the coordinate
  // representation (one row per cell), which is the shape that actually
  // distributes (SURVEY §2.12).
  def transpose: Table =
    throw new UnsupportedOperationException(
      "transpose: a Table is an unordered relation; for array semantics " +
        "use graft.operators.Tensor.transpose over coordinate form (SURVEY section 2.12)")
  def tensordot(other: Table): Table =
    throw new UnsupportedOperationException(
      "tensordot: a Table is an unordered relation; for array semantics " +
        "use graft.operators.Tensor.tensordot over coordinate form (SURVEY section 2.12)")

  /** Field access THROUGH a foreign key (the `Map[key, Record]` dshape
    * traversal, `expr/expressions.py:136-142`; SQL lowering
    * `compute/sql.py:272-276`: `SELECT dim.field WHERE fk = dim.key`):
    * auto-join the referenced dimension on `localKey = dimKey` and
    * append the requested dimension field(s) to this table's columns.
    * Inner-join semantics, matching the reference's WHERE-clause
    * lowering — rows whose FK dangles are dropped (a dangling FK is a
    * referential-integrity violation, not a query-time case to paper
    * over with nulls).
    *
    * The dimension side is BROADCAST: an FK target is a dimension table
    * by construction — orders of magnitude smaller than the fact side
    * carrying the key — so the hop costs one map-side hash join, no
    * shuffle of the fact table. Only `dimKey` + the requested fields
    * ride the broadcast, never the whole dimension row.
    */
  def fkField(localKey: String, dim: Table, dimKey: String, dimFields: String*): Table = {
    requireFields(Seq(localKey), "Field")
    dim.requireFields(dimKey +: dimFields, "Field")
    require(dimFields.nonEmpty, "fkField: at least one referenced field required")
    val clash = dimFields.filter(fields.contains)
    require(clash.isEmpty,
      s"fkField: referenced field(s) ${clash.mkString(", ")} already exist on this table - relabel first")
    val d = broadcast(dim.df.select((dimKey +: dimFields).map(dim.df(_)): _*))
    Table(df.join(d, df(localKey) === d(dimKey), "inner").drop(d(dimKey)))
  }

  // --- isin via semi-join for large key sets (`collections.py:868-911`) ---
  def isinTable(field: String, keys: Table, keyField: String): Table =
    Table(df.join(keys.df.select(keys.df(keyField).as(field)).distinct(), Seq(field), "left_semi"))

  // --- reductions shortcuts ---
  def nrows: Long = df.count()
  def nelements: Long = nrows

  // --- UDF surface (`expressions.py:695-791`) ---
  /** Apply(func, splittable=true) → per-partition (`compute/spark.py:120-128`). */
  def applyFn(f: DataFrame => DataFrame): Table = Table(df.transform(f))

  // --- interactive (`blaze/interactive.py`) ---
  def peek(n: Int = 11): Unit = df.show(n, truncate = false)

  /** `create_index` (reference SQL/bcolz backends): documented NO-OP here —
    * Spark's scan layer has no secondary indexes; partition pruning,
    * parquet min/max statistics and bucketing serve the same role. The
    * column is still validated so typos fail fast (SURVEY §2.1).
    */
  def createIndex(column: String, name: String = ""): Table = {
    requireFields(Seq(column), "create_index"); val _ = name; this
  }
}

object Table {
  /** `data(uri)` (`expr/literal.py:110-243`): URI router over Spark readers.
    * JDBC follows the reference's `engine::tablename` URI convention
    * (`expr/literal.py` SQL dispatch, `compute/sql.py:1376-1392`):
    * `data(spark, "jdbc:derby:/path/db::mytable")`.
    */
  def data(spark: SparkSession, uri: String): Table = {
    // transparent compression: crawl dumps arrive as .gz/.bz2 text —
    // Hadoop codecs decompress per file by extension, so route on the
    // INNER extension and hand the reader the original uri. (Scale
    // caveat, documented at the src_gzip_roundtrip query: gzip is not
    // splittable — one file = one task — so compressed ingest keeps
    // many modest files, never one giant archive.)
    val base = uri.replaceAll("\\.(gz|bz2|deflate)$", "")
    val t =
      if (uri.startsWith("jdbc:")) {
        val sep = uri.lastIndexOf("::")
        require(sep > 0, s"jdbc uri needs a ::tablename suffix: $uri")
        return dataJdbc(spark, uri.substring(0, sep), uri.substring(sep + 2))
      }
      else if (base.endsWith(".parquet")) spark.read.parquet(uri)
      else if (base.endsWith(".csv")) spark.read.option("header", "true").option("inferSchema", "true").csv(uri)
      else if (base.endsWith(".json")) spark.read.json(uri)
      else if (base.endsWith(".orc")) spark.read.orc(uri)
      // built-in XML source (Spark 4 core); rowTag is the element that
      // maps to one row — "ROW" matches what the writer emits by default
      else if (base.endsWith(".xml")) spark.read.option("rowTag", "ROW").xml(uri)
      else if (base.endsWith(".txt") || base.endsWith(".text")) spark.read.text(uri)
      else if (uri.contains("/") && isDir(spark, uri))
        // a DIRECTORY (hive-partitioned parquet layout — what
        // writePartitioned produces, and the standard shape of a large
        // dataset): partition columns are discovered from the dir names
        // and filters on them prune whole directories at plan time
        spark.read.parquet(uri)
      else spark.table(uri)
    Table(t)
  }

  /** binary-file ingestion — the entry path for multimodal corpora on
    * disk/object storage: one row per file with (path, modificationTime,
    * length, content). Pair with `graft.operators.Multimodal`'s real
    * decoders; `pathGlobFilter` narrows to one media family. The source
    * is read-only by design (files are written by whatever produced
    * them); scans parallelize per-file and prune on the PATH column.
    */
  def dataBinary(spark: SparkSession, dir: String, glob: String = "*"): Table =
    Table(spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir))

  private def isDir(spark: SparkSession, uri: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(uri)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.getFileStatus(p).isDirectory
    } catch { case _: Exception => false }

  /** hive-style partitioned sink: one directory per distinct key value,
    * so filters on the partition columns PRUNE whole directories at plan
    * time (`PartitionFilters` in the scan — no data read at all for
    * excluded partitions). The 100 TB layout for time/tenant-keyed facts;
    * keep partition cardinality moderate (e.g. date, not user_id).
    * Pruning is asserted in the unit suite.
    */
  def writePartitioned(t: Table, path: String, keys: Seq[String]): Unit =
    t.df.write.mode("overwrite").partitionBy(keys: _*).parquet(path)

  /** bucketed sink: co-locate a table on its join/group keys so repeated
    * joins and aggregations on those keys need NO exchange (Spark reads
    * each bucket as one partition and, with matching bucket counts on
    * both sides plus `sortBy`, plans a sort-merge join with zero
    * shuffles). The 100 TB pattern for fact tables joined every day on
    * the same key — pay the shuffle once at write time. Asserted
    * exchange-free in the unit suite.
    */
  def writeBucketed(t: Table, table: String, keys: Seq[String], numBuckets: Int): Unit =
    t.df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** JDBC source (`compute/sql.py:1376-1392`): schema comes from JDBC
    * metadata (the reference reflects with sqlalchemy, `sql.py:1390-1392`).
    * For parallel scans at scale pass partitioning options through
    * `props` (partitionColumn/lowerBound/upperBound/numPartitions) —
    * without them Spark reads through a single connection.
    */
  def dataJdbc(spark: SparkSession, url: String, table: String,
               props: java.util.Properties = new java.util.Properties()): Table =
    Table(spark.read.jdbc(url, table, props))

  /** Blaze Join (`collections.py:555-773`): equi-join, output columns =
    * join keys first, then left non-key, then right non-key; overlapping
    * non-key names suffixed `_left`/`_right`; outer sides become nullable.
    * how ∈ inner/left/right/outer. Physical strategy (broadcast vs
    * shuffled hash vs sort-merge) is left to Catalyst + AQE; pass
    * `broadcastRight=true` to force a broadcast of a small dimension.
    */
  def join(lhs: Table, rhs: Table, onLeft: Seq[String], onRight: Seq[String],
           how: String = "inner", suffixes: (String, String) = ("_left", "_right"),
           broadcastRight: Boolean = false): Table = {
    require(onLeft.nonEmpty && onLeft.size == onRight.size, "join: key arity mismatch")
    require(Seq("inner", "left", "right", "outer").contains(how),
      s"join: how must be inner/left/right/outer, got $how")
    val l = lhs.df.alias("l")
    val rdf0 = rhs.df.alias("r")
    val r = if (broadcastRight) broadcast(rdf0) else rdf0
    val cond = onLeft.zip(onRight).map { case (a, b) => col(s"l.$a") === col(s"r.$b") }
      .reduce(_ && _)
    val joined = l.join(r, cond, how match {
      case "outer" => "full_outer"
      case h       => h
    })
    // key columns: coalesce(l,r) for outer, else take the non-null side
    val keyCols = onLeft.zip(onRight).map { case (a, b) =>
      (how match {
        case "inner" | "left" => col(s"l.$a")
        case "right"          => col(s"r.$b")
        case "outer"          => coalesce(col(s"l.$a"), col(s"r.$b"))
      }).as(a)
    }
    val lRest = lhs.fields.filterNot(onLeft.contains)
    val rRest = rhs.fields.filterNot(onRight.contains)
    val overlap = lRest.toSet.intersect(rRest.toSet)
    val lCols = lRest.map(n => col(s"l.$n").as(if (overlap(n)) n + suffixes._1 else n))
    val rCols = rRest.map(n => col(s"r.$n").as(if (overlap(n)) n + suffixes._2 else n))
    Table(joined.select(keyCols ++ lCols ++ rCols: _*))
  }

  def join(lhs: Table, rhs: Table, on: Seq[String]): Table =
    join(lhs, rhs, on, on)
  /** Default `on` = sorted common fields (`collections.py:727-731`). */
  def join(lhs: Table, rhs: Table): Table = {
    val common = lhs.fields.toSet.intersect(rhs.fields.toSet).toSeq.sorted
    require(common.nonEmpty, "join: no common fields to join on")
    join(lhs, rhs, common, common)
  }
}

/** Exact distributed pagination over one materialized total order
  * (built by [[Table.paginateSorted]]).
  *
  * Holds the single RDD instance of the range-partitioned + locally
  * sorted data plus its per-partition row counts (one tiny count job,
  * one row per partition). Every slice/page is then a one-job scan in
  * which partitions wholly outside the requested global index range
  * emit nothing — and, because the iterator is never consumed there,
  * never even fetch their shuffle blocks. Repeated pagination over the
  * same frame amortizes both the exchange and the count pass.
  *
  * Scale note: the driver state is one (pid, count) pair per partition —
  * O(partitions), not O(rows). The two-job cost (count + slice) is the
  * textbook price of exact OFFSET without a global single-point funnel.
  */
final class SortedPages private[api] (
    spark: SparkSession,
    val schema: org.apache.spark.sql.types.StructType,
    rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) {

  /** Global row count per partition, computed once over the SAME rdd
    * instance later slices read (boundary-consistent by construction).
    */
  private val counts: Map[Int, Long] = rdd
    .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)),
      preservesPartitioning = true)
    .collect().toMap

  /** Exclusive prefix sum: global index of each partition's first row. */
  private val starts: Map[Int, Long] = {
    val maxPid = if (counts.isEmpty) -1 else counts.keys.max
    (0 to maxPid).scanLeft((0, 0L)) { case ((_, acc), p) =>
      (p, acc + counts.getOrElse(p - 1, 0L))
    }.tail.map { case (p, off) => p -> off }.toMap
  }

  /** Total rows in the paginated frame (free: sum of the count pass). */
  val totalRows: Long = counts.values.sum

  /** Rows with global index in `[start, stop)` under the total order. */
  def slice(start: Long, stop: Long): Table = {
    require(start >= 0 && stop >= start, "slice: 0<=start<=stop")
    val (startsB, countsB) = (starts, counts)
    val sliced = rdd.mapPartitionsWithIndex { (pid, it) =>
      val base = startsB.getOrElse(pid, 0L)
      val cnt = countsB.getOrElse(pid, 0L)
      // wholly outside [start, stop): emit nothing, never consume `it`
      if (base >= stop || base + cnt <= start) Iterator.empty
      else it.zipWithIndex.collect {
        case (row, i) if base + i >= start && base + i < stop => row
      }
    }
    Table(spark.createDataFrame(sliced, schema))
  }

  /** Python-slice `[start:stop:step]` semantics under the total order —
    * the strided/negative form the reference's numpy backend supports
    * (`expressions.py:488-515`, `numpy.py:331`) and its SQL backend
    * rejects (`sql.py:1632-1644`); here it's EXACT and distributed.
    * `None` bounds take the Python defaults for the step's sign;
    * negative bounds resolve against [[totalRows]] (already counted —
    * resolution is free). Selection is pure per-partition index
    * arithmetic on the one materialized order: partitions wholly
    * outside the resolved range emit nothing (and never fetch their
    * shuffle blocks), in-range partitions keep rows with
    * `(idx − anchor) ≡ 0 (mod |step|)` — no extra shuffle, no funnel.
    */
  def sliceStrided(start: Option[Long], stop: Option[Long], step: Long): Table = {
    require(step != 0, "sliceStrided: step must be nonzero")
    val n = totalRows
    def resolve(i: Long): Long = if (i < 0) n + i else math.min(i, n)
    // (anchor, rLo, rHi): selected = {anchor ± k·|step|} ∩ [rLo, rHi)
    val (anchor, stride, rLo, rHi) =
      if (step > 0) {
        // python: start default 0, stop default n; clamp into [0, n]
        val lo = math.max(0L, start.map(resolve).getOrElse(0L))
        val hi = math.max(lo, stop.map(resolve).getOrElse(n))
        (lo, step, lo, hi)
      } else {
        // python: start default n−1, stop default "past 0" (exclusive
        // lower bound −1); a negative bound resolving below −1 empties
        val hi = math.min(start.map(i => if (i < 0) n + i else i).getOrElse(n - 1), n - 1)
        val loEx = math.max(stop.map(i => if (i < 0) n + i else i).getOrElse(-1L), -1L)
        (hi, -step, loEx + 1, hi + 1)
      }
    val (startsB, countsB) = (starts, counts)
    val sliced = rdd.mapPartitionsWithIndex { (pid, it) =>
      val base = startsB.getOrElse(pid, 0L)
      val cnt = countsB.getOrElse(pid, 0L)
      // wholly outside [rLo, rHi): emit nothing, never consume `it`
      if (base >= rHi || base + cnt <= rLo) Iterator.empty
      else it.zipWithIndex.collect {
        case (row, i) if base + i >= rLo && base + i < rHi &&
          (base + i - anchor) % stride == 0 => row
      }
    }
    Table(spark.createDataFrame(sliced, schema))
  }

  /** Every row tagged with its global 0-based index under the total
    * order — the exact, funnel-free sibling of `row_number() OVER
    * (ORDER BY …)` (which Spark executes as a SINGLE-partition window).
    * Same machinery as [[slice]]: partition base offsets come from the
    * one count pass over the same RDD instance, each partition then
    * numbers its rows locally. One extra long per row, no extra
    * shuffle.
    */
  def withIndex(indexCol: String): Table = {
    val startsB = starts
    val tagged = rdd.mapPartitionsWithIndex { (pid, it) =>
      val base = startsB.getOrElse(pid, 0L)
      it.zipWithIndex.map { case (row, i) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (base + i))
      }
    }
    Table(spark.createDataFrame(tagged,
      schema.add(indexCol, org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Page `pageIndex` (0-based) of size `pageSize`. */
  def page(pageIndex: Long, pageSize: Int): Table = {
    require(pageIndex >= 0 && pageSize > 0, "page: pageIndex>=0, pageSize>0")
    slice(pageIndex * pageSize, pageIndex * pageSize + pageSize)
  }

  def numPages(pageSize: Int): Long = {
    require(pageSize > 0, "numPages: pageSize>0")
    (totalRows + pageSize - 1) / pageSize
  }
}
