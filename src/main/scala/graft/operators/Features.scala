package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, StructField, StructType}

/** Feature-engineering operators for model-training pipelines:
  * one-hot encoding, the hashing trick, per-group standardization,
  * and equi-width histograms.
  *
  * The reference stops at reductions/grouping
  * (`blaze/expr/reductions.py`, `blaze/expr/split_apply_combine.py`);
  * these compose those primitives into the transforms a feature
  * pipeline needs. All are single-shuffle (or shuffle-free) and
  * codegen-only — no UDFs.
  */
object Features {

  /** One-hot encode a low-cardinality categorical column into `is_*`
    * 0/1 columns. Category discovery is a fit step (like Spark ML's
    * `StringIndexer.fit`): one small distinct-aggregate collected to
    * the driver — legitimate for a categorical by definition; the
    * encode itself is a shuffle-free per-row projection. Category →
    * column name is deterministic (sorted), NULL encodes to all-zeros.
    *
    * `maxCategories` caps the fit IN-PLAN (computed before any
    * collect): pointing this at a high-cardinality column — a user id,
    * a URL — would otherwise pull the whole domain onto the driver and
    * emit a million columns. Misuse fails loudly instead.
    */
  def oneHot(df: DataFrame, catCol: String, prefix: String = "is_",
             maxCategories: Int = 10000): DataFrame = {
    require(maxCategories > 0, s"oneHot: maxCategories=$maxCategories")
    // NULLs are filtered in-plan BEFORE the limit: otherwise a column with
    // exactly maxCategories+1 non-null values plus NULL rows could have the
    // limit pick the NULL row, pass the guard, and silently drop a category.
    val cats = df.select(catCol).where(col(catCol).isNotNull)
      .distinct().limit(maxCategories + 1).collect()
      .map(_.getString(0)).sorted
    require(cats.length <= maxCategories,
      s"oneHot: '$catCol' has more than $maxCategories distinct values — " +
        "not a one-hot-able categorical (raise maxCategories only if you " +
        "really want that many columns)")
    val safe = cats.map(c => c -> (prefix + c.toLowerCase.replaceAll("[^a-z0-9]+", "_")))
    safe.foldLeft(df) { case (d, (cat, name)) =>
      d.withColumn(name,
        when(col(catCol) === cat, 1).otherwise(0).cast("int"))
    }
  }

  /** Hashing-trick sparse features: tokenize `textCol` on whitespace,
    * route each token to `pmod(h(token), dims)` with the engine-portable
    * 28-bit md5-prefix hash (same family as [[Bloom]] probes — mirrored
    * verbatim in the DuckDB oracle), and emit one (id, dim, weight)
    * row per occupied dimension with weight = token count. Shuffle on
    * (id, dim) only; no vocabulary, no fit step — the point of the
    * hashing trick at 100 TB.
    */
  def hashingTrick(docs: DataFrame, dims: Int, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(dims > 0 && dims <= (1 << 28), s"hashingTrick: dims=$dims")
    val tok = explode(split(trim(col(textCol)), "\\s+")).as("token")
    docs
      .select(col(idCol), tok)
      .filter(col("token") =!= "")
      .select(col(idCol),
        pmod(conv(substring(md5(col("token")), 1, 7), 16, 10).cast("long"),
          lit(dims.toLong)).as("dim"))
      .groupBy(idCol, "dim")
      .agg(count(lit(1)).as("weight"))
  }

  /** Per-group z-score standardization with EXACT moments: sums run in
    * decimal (order-independent), the final (x - mean) / stddev_pop is
    * the only IEEE step — bit-identical across engines. Groups with
    * zero variance yield NULL (not ±Inf). One shuffle on the group key
    * (partial aggregation map-side); moments broadcast back via the
    * group-key join.
    */
  def standardize(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  outCol: String = "zscore"): DataFrame = {
    val dec = DecimalType(18, 2)
    val moments = df.groupBy(groupCols.map(col): _*).agg(
      sum(col(valueCol).cast(dec)).cast(DoubleType).as("g_sx"),
      sum(col(valueCol).cast(dec) * col(valueCol).cast(dec))
        .cast(DoubleType).as("g_sx2"),
      count(col(valueCol)).cast(DoubleType).as("g_n"))
    val varPop = (col("g_sx2") - col("g_sx") * col("g_sx") / col("g_n")) / col("g_n")
    df.join(broadcast(moments), groupCols)
      .withColumn(outCol,
        when(varPop > 0,
          (col(valueCol) - col("g_sx") / col("g_n")) / sqrt(varPop)))
      .drop("g_sx", "g_sx2", "g_n")
  }

  /** Equi-width histogram: `bins` buckets over the observed [min, max],
    * bin i = floor((x - min) / width) clamped so x = max lands in the
    * last bin. Two jobs: a tiny min/max aggregate broadcast back, then
    * one groupBy(bin) count — the textbook two-pass distributed
    * histogram. Returns (bin, lo, hi, n) with IEEE-exact edges.
    */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins > 0, s"histogram: bins=$bins")
    val mm = df.agg(min(col(valueCol)).as("h_min"), max(col(valueCol)).as("h_max"))
    val width = (col("h_max") - col("h_min")) / lit(bins.toDouble)
    df.join(broadcast(mm))
      .select(
        when(col("h_max") === col("h_min"), 0L)
          .otherwise(least(floor((col(valueCol) - col("h_min")) / width), lit(bins - 1)))
          .cast("long").as("bin"),
        col("h_min"), col("h_max"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        first(col("h_min")).as("h_min"), first(col("h_max")).as("h_max"))
      .select(col("bin"),
        (col("h_min") + col("bin").cast("double") * (col("h_max") - col("h_min")) / lit(bins.toDouble)).as("lo"),
        (col("h_min") + (col("bin") + 1).cast("double") * (col("h_max") - col("h_min")) / lit(bins.toDouble)).as("hi"),
        col("n"))
  }

  /** Median/MAD robust outlier flag: per group, the TYPE-1 (lower)
    * median `med` — smallest value with 2·cum ≥ n, no interpolation,
    * so it replays bit-identically on any engine — and the median
    * absolute deviation `mad = median(|v − med|)` by the same
    * definition; a row is an outlier iff `|v − med| > k·mad` (the
    * robust z-score test: immune to the outliers it hunts, unlike
    * [[standardize]]'s mean/stddev which the tails drag). All
    * comparisons are exact for integer-valued columns (the intended
    * use: lengths, counts, byte sizes); `k` is an integer multiplier
    * so there is no floating multiply in the test.
    *
    * Scale shape: two value-counting passes (the
    * [[graft.operators.Quantile]] pattern — per-(g, v) count shuffle,
    * running-sum window over DISTINCT values only, result broadcast
    * back), then one codegen'd flag projection. A zero-MAD group
    * (>50% of rows at one value) flags only rows strictly off the
    * median when k·0 = 0 — the standard MAD degeneracy, documented
    * rather than patched.
    */
  /** Exact pairwise Pearson correlation matrix over numeric columns —
    * the redundancy screen a feature pipeline runs before training,
    * as ONE aggregate for ALL pairs: k sums + k(k+1)/2 cross-product
    * sums + one count, every moment decimal-exact (DECIMAL(28,4) — no
    * float-summation order sensitivity) and folded to double only in
    * the closed form, so the whole matrix replays bit-exactly in any
    * engine (the `red_corr` recipe generalized to k columns).
    *
    * Columns are assumed non-null (cast NULLs first; SUM would skip
    * them while COUNT(*) would not, silently skewing the moments).
    * Output: (col_a, col_b, corr), upper triangle in input order.
    *
    * Scale shape: one map-side-combined aggregate over one scan —
    * adding a column adds counters, never a pass; output is
    * k(k-1)/2 rows at any input size.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix: at least two columns")
    require(cols.distinct.size == cols.size, "correlationMatrix: duplicate columns")
    val D = DecimalType(28, 4)
    val cs = cols.map(c => col(c).cast(D))
    // r18 (guide "per-task work"): the k(k+1)/2 product moments used to
    // be decimal(28,4)×decimal(28,4) sums — one BigDecimal multiply +
    // overflow-checked rescale PER CELL PER ROW (the whole row's cost
    // at 600k rows/agg). The same exact integers come much cheaper as
    // LONG products of the values' unscaled 4dp fixed-point forms
    // (UnscaledValue is a field read off the compact decimal — no
    // arithmetic), summed as decimal(38,0) (one decimal ADD per cell).
    // The final p_ij doubles are bit-identical: S·10⁻⁸ re-scales
    // through an EXACT decimal division (≤8 fraction digits, result
    // scale 8) and is cast to double once, exactly like the decimal
    // sum it replaces — pinned by the oracle's value-exact diff.
    // The long product is exact while |unscaled| ≤ ⌊√(2⁶³−1)⌋, i.e.
    // |x| ≤ 303,700.0499 at 4dp. A cell with an operand past that bound
    // takes the exact decimal product of the two unscaled integers
    // instead (decimal(28,0)² → decimal(38,0), the same 10⁻⁸ units);
    // only those rows pay the decimal multiply, and in-bound inputs
    // keep the long path bit for bit. Products and moment sums stay
    // exact up to decimal(38,0) (10³⁰ in the input's units²; past it
    // Spark's decimal overflow is raised under ANSI). A moment past
    // decimal(38,8) (10²² in units²) is re-scaled to 6 fraction digits
    // instead of 8, still far below a double's resolution at that size.
    val bound = lit(BigDecimal("303700.0499"))
    def unscaled(c: Column): Column = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.UnscaledValue(
        org.apache.spark.sql.GraftBridge.expression(c.cast(DecimalType(18, 4)))))
    val us = cols.map(c => unscaled(col(c)))
    val wide = cs.map(c => (c * lit(10000)).cast(DecimalType(28, 0)))
    def product(i: Int, j: Int): Column =
      when(abs(cs(i)) <= bound && abs(cs(j)) <= bound,
        (us(i) * us(j)).cast(DecimalType(38, 0)))
        .otherwise(wide(i) * wide(j))
    val aggs = count(lit(1)).cast(DoubleType).as("_n") +:
      (cols.indices.map(i => sum(cs(i)).cast(DoubleType).as(s"_s$i")) ++
        (for { i <- cols.indices; j <- i until cols.size } yield
          sum(product(i, j)).as(s"_q${i}_$j")))
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size } yield {
      def p(a: Int, b: Int): Column = {
        val q = col(s"_q${a}_$b")
        when(abs(q) < lit(BigDecimal(10).pow(30)),
          (q.cast(DecimalType(38, 8)) / lit(100000000L)).cast(DoubleType))
          .otherwise((q / lit(BigDecimal(10).pow(8))).cast(DoubleType))
      }
      val num = p(i, j) - col(s"_s$i") * col(s"_s$j") / col("_n")
      val den = sqrt(p(i, i) - col(s"_s$i") * col(s"_s$i") / col("_n")) *
        sqrt(p(j, j) - col(s"_s$j") * col(s"_s$j") / col("_n"))
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        (num / den).as("corr"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs: _*)).as("_e"))
      .select(col("_e.col_a").as("col_a"), col("_e.col_b").as("col_b"),
        col("_e.corr").as("corr"))
  }

  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     k: Int = 3, flagCol: String = "is_outlier"): DataFrame = {
    require(k > 0, s"robustOutliers: k must be positive, got $k")
    def typed1Median(in: DataFrame, vCol: Column, out: String): DataFrame = {
      val counts = in.filter(vCol.isNotNull)
        .groupBy(col(groupCol), vCol.as("_v")).agg(count(lit(1)).as("_c"))
      val byVal = Window.partitionBy(col(groupCol)).orderBy(col("_v"))
      val whole = Window.partitionBy(col(groupCol))
      counts
        .withColumn("_cum",
          sum(col("_c")).over(byVal.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("_n", sum(col("_c")).over(whole))
        .filter(col("_cum") * 2 >= col("_n"))
        .groupBy(col(groupCol)).agg(min(col("_v")).as(out))
    }
    val med = typed1Median(df, col(valueCol), "_med")
      .withColumnRenamed(groupCol, "_g1")
    val withMed = df.join(broadcast(med), col(groupCol) <=> col("_g1")).drop("_g1")
    val mad = typed1Median(withMed, abs(col(valueCol) - col("_med")), "_mad")
      .withColumnRenamed(groupCol, "_g2")
    withMed.join(broadcast(mad), col(groupCol) <=> col("_g2")).drop("_g2")
      .withColumn(flagCol, abs(col(valueCol) - col("_med")) > col("_mad") * k)
      .withColumnRenamed("_med", "med").withColumnRenamed("_mad", "mad")
  }

  /** Leakage-safe target (mean) encoding — the classic high-cardinality
    * categorical feature, computed LEAVE-ONE-OUT so a row never sees
    * its own target (plain per-category means leak the label into the
    * feature and inflate validation scores): for row i in category g,
    * `te = (Σ_g y − y_i) / (n_g − 1)`, NULL for singleton categories
    * (no peers → no information, explicitly absent rather than a
    * smoothed prior, which would need a hyperparameter).
    *
    * The target rides as exact integer cents (the decimal(18,2)·100
    * convention), so the subtraction is exact and the single division
    * per row replays bit-identically — no float Σ re-association.
    *
    * Scale shape: one (category) sum/count aggregate joined back map-
    * side when categories ≪ rows (broadcast; AQE decides), else one
    * key shuffle. No window, no per-row rescan.
    */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
                   outCol: String = "te"): DataFrame = {
    val cents = (col(targetCol).cast(DecimalType(18, 2)) * 100).cast(LongType)
    val withC = df.withColumn("_y", cents)
    val agg = withC.groupBy(col(catCol))
      .agg(sum(col("_y")).as("_sy"), count(lit(1)).as("_ng"))
    withC.join(agg, Seq(catCol))
      .withColumn(outCol,
        when(col("_ng") > 1,
          (col("_sy") - col("_y")).cast(DoubleType) /
            ((col("_ng") - 1) * 100).cast(DoubleType)))
      .drop("_y", "_sy", "_ng")
  }

  /** Mutual information between two categorical columns in the same
    * floor-log2 quantization as [[Corpus.diversity]]'s entropy (and the
    * PMI scorer): `MI_q = H_q(X) + H_q(Y) − H_q(X,Y)` with
    * `H_q = n·⌊log2 n⌋ − Σ_c c·⌊log2 c⌋` — exact integers end to end
    * (⌊log2⌋ via `length(bin(c))-1`, the engine-portable form), so the
    * feature-selection ranking this feeds is reproducible on any
    * engine. Output: one row `(n, hx_qbits, hy_qbits, hxy_qbits,
    * mi_qbits)`.
    *
    * Scale shape: ONE scan aggregates to the (x, y) contingency table;
    * the marginals re-aggregate that domain-bounded frame — the raw
    * rows are never read twice. The three entropies are 1-row
    * aggregates, so they materialize EAGERLY here and the contingency
    * cache is released before returning (the Pca try/finally pattern —
    * no persisted frame outlives the call).
    */
  /** In-engine quality-classifier training — fixed-iteration batch
    * gradient descent on a RATIONAL "fast sigmoid", fully deterministic
    * and oracle-replayable. The 100 TB use: train the fastText-style
    * document-quality / domain classifier that gates a pretraining
    * corpus WITHOUT exporting features to a separate ML system — each
    * iteration is ONE map-side-combined aggregate over the (cached)
    * feature frame; the model is a handful of integers on the driver
    * (the config-sized-fitted-model collect() pattern, like
    * [[graft.operators.Similarity]]'s k-means centroids).
    *
    * Determinism (the house no-libm rule): the activation is the fast
    * sigmoid `σ(z) = 1/2 + z/(2(1+|z|))` — pure rational arithmetic,
    * so every per-row quantity is a fixed tree of correctly-rounded
    * IEEE ops both engines evaluate bit-identically (a true logistic
    * would need `exp`, whose libm rounding differs across engines).
    * Per-row gradient contributions (squared-error loss through the
    * fast sigmoid: `e·σ'(z)·xⱼ` with `σ'(z) = 1/(2(1+|z|)²)`) are
    * floor-quantized to 2⁻³⁰ units and summed as DECIMAL(38,0) —
    * order-independent, no float-sum nondeterminism, no overflow to
    * ~10¹² rows × full gradient range. Weights live on a 2⁻²⁴ integer
    * grid; the update `w ← w − ⌊lrNum·G / (64·n)⌋` is exact BigInt
    * floor arithmetic (lr = lrNum·2⁻³⁰·2²⁴ per unit gradient). Same
    * data → same model, at any partitioning, on any engine.
    *
    * `featureCols` must be DOUBLE columns (normalize into ~[0,1] for
    * the fixed lr to behave); the intercept is implicit. `labelCol` is
    * 0.0/1.0. Returns the quantized weights `(w₀=intercept, w₁…w_d)`
    * in 2⁻²⁴ units — feed to [[logisticScore]], persist like any
    * fitted model.
    */
  def logisticTrain(df: DataFrame, featureCols: Seq[String], labelCol: String,
                    iters: Int = 8, lrNum: Long = 16L): Array[Long] = {
    require(featureCols.nonEmpty, "logisticTrain: no feature columns")
    require(iters >= 1 && iters <= 64, s"logisticTrain: iters=$iters (1..64 — " +
      "each iteration is a full pass; more usually means the lr is wrong)")
    require(lrNum >= 1, s"logisticTrain: lrNum=$lrNum")
    val missing = (featureCols :+ labelCol).filterNot(df.columns.contains)
    require(missing.isEmpty, s"logisticTrain: no such column(s): ${missing.mkString(", ")}")
    val feats = df.select((labelCol +: featureCols).map(col): _*).cache()
    try {
      val dec = DecimalType(38, 0)
      var wq = Array.fill[BigInt](featureCols.length + 1)(BigInt(0))
      def floorDiv(a: BigInt, b: BigInt): BigInt = {
        val (q, r) = a /% b
        if (r.signum != 0 && r.signum != b.signum) q - 1 else q
      }
      // The per-iteration weights ride as a one-row LocalRelation cross
      // join (r17), NOT as literals baked into the aggregate: literal
      // weights made every iteration a structurally distinct plan, so
      // 16 iterations paid 16 whole-stage-codegen compiles of the same
      // gradient aggregate. With weight ATTRIBUTES the generated source
      // is identical across iterations and the codegen cache hits from
      // iteration 2 on. Arithmetic is bit-identical: the driver still
      // computes wq(j).toDouble / 16777216.0 exactly as before and
      // ships the resulting doubles — the expression tree sees the same
      // IEEE values through a column instead of a literal.
      val spark = df.sparkSession
      val wCols = (0 to featureCols.length).map(j => s"_w$j")
      val wSchema = StructType(wCols.map(c =>
        StructField(c, DoubleType, nullable = false)))
      for (_ <- 1 to iters) {
        val wRow = Row.fromSeq(wq.map(_.toDouble / 16777216.0))
        val wDf = spark.createDataFrame(
          java.util.Collections.singletonList(wRow), wSchema)
        // z in the FIXED left-assoc order the oracle replays
        val z = featureCols.zipWithIndex.foldLeft(col("_w0"): Column) {
          case (acc, (f, j)) => acc + col(s"_w${j + 1}") * col(f)
        }
        val e = (lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))) - col(labelCol)
        val d = lit(0.5) / ((lit(1.0) + abs(z)) * (lit(1.0) + abs(z)))
        val gs = (lit(1.0) +: featureCols.map(col)).zipWithIndex.map {
          case (x, j) =>
            sum(floor(e * d * x * lit(1073741824.0)).cast(dec)).as(s"g$j")
        }
        val row = feats.crossJoin(broadcast(wDf))
          .agg(count(lit(1)).as("n"), gs: _*).head()
        val n = row.getLong(0)
        if (n > 0) wq = wq.zipWithIndex.map { case (w, j) =>
          val gq = BigInt(row.getDecimal(j + 1).toBigInteger)
          w - floorDiv(BigInt(lrNum) * gq, BigInt(64) * n)
        }
      }
      wq.map { w =>
        require(w.isValidLong, s"logisticTrain: weight overflow ($w) — lr too high")
        w.toLong
      }
    } finally feats.unpersist()
  }

  /** Score rows against a [[logisticTrain]] model: `outCol` = the fast-
    * sigmoid probability (bit-identical to training's internal z — the
    * weights ride the plan as literals), `outCol_pred` = p ≥ 1/2.
    * Shuffle-free codegen'd projection; nothing broadcast or joined.
    */
  def logisticScore(df: DataFrame, weightsQ: Seq[Long], featureCols: Seq[String],
                    outCol: String = "p"): DataFrame = {
    require(weightsQ.length == featureCols.length + 1,
      s"logisticScore: ${weightsQ.length} weights for ${featureCols.length} features (+1 intercept)")
    val z = featureCols.zipWithIndex.foldLeft(
      lit(weightsQ(0).toDouble / 16777216.0)) { case (acc, (f, j)) =>
      acc + lit(weightsQ(j + 1).toDouble / 16777216.0) * col(f)
    }
    val p = lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))
    df.withColumn(outCol, p).withColumn(s"${outCol}_pred", (p >= 0.5).cast("int"))
  }

  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val missing = Seq(xCol, yCol).filterNot(df.columns.contains)
    require(missing.isEmpty, s"mutualInfo: no such column(s): ${missing.mkString(", ")}")
    val spark = df.sparkSession
    def ilog2(c: Column) = (length(bin(c)) - 1).cast(LongType)
    def hq(counts: DataFrame): Row = counts
      .agg(sum(col("_c")).as("_n"),
        sum(col("_c") * ilog2(col("_c"))).as("_cl"))
      .select(col("_n"), (col("_n") * ilog2(col("_n")) - col("_cl")).as("_h"))
      .head()
    val cxy = df.groupBy(col(xCol), col(yCol)).agg(count(lit(1)).as("_c")).cache()
    val (n, hx, hy, hxy) = try {
      val x = hq(cxy.groupBy(col(xCol)).agg(sum(col("_c")).as("_c")))
      val y = hq(cxy.groupBy(col(yCol)).agg(sum(col("_c")).as("_c")))
      val xy = hq(cxy)
      (x.get(0), x.get(1), y.get(1), xy.get(1))
    } finally cxy.unpersist()
    val mi = // null-through on empty input (all sums NULL), like the lazy form
      if (hx == null || hy == null || hxy == null) null
      else java.lang.Long.valueOf(
        hx.asInstanceOf[Long] + hy.asInstanceOf[Long] - hxy.asInstanceOf[Long])
    spark.createDataFrame(
      java.util.Arrays.asList(Row(n, hx, hy, hxy, mi)),
      StructType(Seq("n", "hx_qbits", "hy_qbits", "hxy_qbits", "mi_qbits")
        .map(f => StructField(f, LongType, nullable = true))))
  }

  /** Chi-square association and Cramér's V between two categorical
    * columns (Cramér 1946) — [[mutualInfo]]'s normalized sibling on
    * the SAME contingency frame: V ∈ [0, 1] is comparable across
    * feature pairs of different cardinality, the number a feature-
    * selection sweep actually ranks by. χ² = Σ_cells (o − e)²/e with
    * e = r·c/n is computed cross-multiplied, per cell:
    *
    *   contrib = (o·n − r·c)² / (r·c·n)
    *
    * where o·n and r·c are EXACT DECIMAL(38,0) products; each cell
    * then runs a fixed tree of correctly-rounded double ops (two
    * casts, one square, one division) and quantizes to
    * `floor(contrib·2^20)` BEFORE the sum — so the aggregate is
    * order-free integer addition and the whole statistic replays
    * bit-identically on any engine (the per-category-contribution
    * recipe of [[Validate.populationStability]]). V = √(χ²/(n·min(R−1,
    * C−1))) uses the correctly-rounded hardware sqrt. NULL categories
    * count as real categories (missingness is association signal —
    * opposite convention to [[Eval.cohensKappa]], where NULL rows are
    * excluded; both documented). V is NULL when either column is
    * constant (min(R−1, C−1) = 0, undefined).
    *
    * Output: one row `(n, x_cats, y_cats, chi2_q, chi2, cramers_v)` —
    * chi2_q is the exact int64 quantized sum, chi2 = chi2_q/2^20.
    *
    * Scale shape: one scan partial-aggregates to the contingency
    * cells (bounded by the category-domain product); marginals and
    * the per-cell math re-aggregate that bounded frame; one row out.
    * Exact up to n ≈ 10^12 rows (o·n < 10^38) and χ² < 8.8·10^12
    * (chi2_q int64 bound) — the [[Validate.populationStability]]
    * documented-bound convention. */
  def cramersV(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val D38 = DecimalType(38, 0)
    val S = 1L << 20
    val obs = df
      .select(xCol.cast(StringType).as("_x"), yCol.cast(StringType).as("_y"))
      .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_o"))
    val rk = obs.groupBy(col("_x")).agg(sum(col("_o")).as("_r"))
    val ck = obs.groupBy(col("_y")).agg(sum(col("_o")).as("_c"))
    val tot = obs.agg(sum(col("_o")).as("_n"),
      count(lit(1)).as("_ncells")).crossJoin(
      rk.agg(count(lit(1)).as("x_cats"))).crossJoin(
      ck.agg(count(lit(1)).as("y_cats")))
    // χ² sums over EVERY cell of the R×C domain — a zero cell (o = 0,
    // e > 0) still contributes (r·c)²/(r·c·n); dropping absent cells
    // would understate the statistic (a perfect 2×2 association would
    // read χ² = n/2 instead of n). Null-safe join: NULL is a real
    // category here, so the expansion must match it to its own cell.
    val cells = rk.crossJoin(ck)
      .join(obs.select(col("_x").as("_xx"), col("_y").as("_yy"), col("_o")),
        col("_x") <=> col("_xx") && col("_y") <=> col("_yy"), "left")
      .select(col("_r"), col("_c"), coalesce(col("_o"), lit(0L)).as("_o"))
    val percell = cells
      .crossJoin(tot.select(col("_n")))
      .select(
        ((col("_o").cast(D38) * col("_n").cast(D38) -
          col("_r").cast(D38) * col("_c").cast(D38)).cast(DoubleType)).as("_d"),
        (col("_r").cast(D38) * col("_c").cast(D38) * col("_n").cast(D38))
          .cast(DoubleType).as("_e"))
      .select(floor(col("_d") * col("_d") / col("_e") * lit(S.toDouble))
        .cast(LongType).as("_q"))
      .agg(coalesce(sum(col("_q")), lit(0L)).as("chi2_q"))
    tot.crossJoin(percell)
      .select(col("_n").as("n"), col("x_cats"), col("y_cats"), col("chi2_q"),
        (col("chi2_q").cast(DoubleType) / lit(S.toDouble)).as("chi2"),
        when(least(col("x_cats"), col("y_cats")) > 1,
          sqrt((col("chi2_q").cast(DoubleType) / lit(S.toDouble)) /
            (col("_n").cast(DoubleType) *
              (least(col("x_cats"), col("y_cats")) - 1).cast(DoubleType))))
          .as("cramers_v"))
  }
}
