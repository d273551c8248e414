package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Principal-component extraction over an embedding column — the
  * dimensionality-reduction / whitening step an embedding pipeline runs
  * before indexing or clustering (reference has no array-analytics
  * analogue; this extends the engine's embedding family alongside
  * [[Similarity]] and [[Tensor]]).
  *
  * Determinism recipe (the [[Behavior.stationaryDist]] /
  * integer-power-iteration pattern, applied to eigenvectors):
  * embeddings quantize to integers (`floor(x · qscale)`), the scatter
  * matrix `S = n·Σ qqᵀ − ssᵀ` (n× the covariance, same eigenvectors)
  * is EXACT integer arithmetic, and each power-iteration round
  * renormalizes through the one operation both engines compute
  * identically: correctly-rounded integer→double conversion, an exact
  * power-of-two scale, one double division, `floor`. The result is
  * bit-reproducible on any engine/partitioning/retry — the same
  * property every other sketch in this repo buys with quantization.
  *
  * Scale shape: the DATA-proportional work is the Gram pass — a per-row
  * DOUBLE EXPLOSION of the quantized vector's upper triangle (d(d+1)/2
  * long products per row generated map-side, partial-aggregated to
  * ≤ d(d+1)/2 rows per partition; the symmetric mirror fills in on the
  * driver), so the ONLY exchange anywhere is the d×d-group final
  * aggregate. No join, no
  * shuffle of row-proportional data. The d×d scatter matrix (4096
  * entries at d=64, 1M at d=1024) is DIMENSION-bounded, not
  * data-bounded, so the driver-side power loop is the
  * broadcast-centroids pattern, not a collect of data.
  */
object Pca {

  /** one row per vector with the quantized array `_qv` (and `_id`):
    * the frame every pass derives from. */
  private def quantizeArr(emb: DataFrame, vecCol: String, idCol: String,
                          qscale: Long): DataFrame =
    emb.select(col(idCol).as("_id"),
      transform(col(vecCol), x =>
        floor(x.cast(DoubleType) * qscale).cast(LongType)).as("_qv"))

  /** the sign-fixed integer axis (|v| max-normalized to vscale), as the
    * driver-side array both public faces share. `qdf` = quantizeArr
    * output. */
  /** the exact-integer scatter matrix as a driver-side function
    * `(i, j) → S(i,j)`, plus the dimension. */
  private def scatterFn(qdf: DataFrame, n: Long): ((Int, Int) => BigInt, Int) = {
    // ONE scan, no explode, no exchange (r18; guide §1.2 "algorithm
    // first" + §2.3 "aggregate before you shuffle", taken to its
    // limit): the upper-triangle Gram and the per-dimension sums
    // accumulate per partition into primitive long arrays — the
    // classic Gramian shape (cf. MLlib RowMatrix) — and ONE
    // dimension-bounded partial per partition is collected and merged
    // on the driver. The explode formulation generated d(d+1)/2
    // aggregate-input rows PER VECTOR (3.1M generator rows at sf0.1,
    // d=64) through two Generate nodes and a hash aggregate, plus a
    // second full scan for the sums; this computes the identical exact
    // integer sums at scan speed. Exactness: the per-row product q·q
    // fits a long (|q| ≤ ⌊√(2^63−1)⌋, enforced by countedUnique before
    // any scatter pass runs); accumulation uses overflow-CHECKED adds
    // that spill the running long into a per-cell BigInt on overflow,
    // so totals are exact at any scale — integer addition commutes, so
    // partitioning never changes the result. Null rows contribute
    // nothing (posexplode semantics); null ELEMENTS void exactly the
    // products and sums they touch (decimal-sum-over-null semantics) —
    // both pinned by the equivalence unit test.
    val partials = qdf.select(col("_qv")).rdd.mapPartitions { it =>
      var d = 0
      var gramL: Array[Long] = Array.emptyLongArray   // upper triangle, row-major
      var gramB: Array[BigInt] = Array.empty          // overflow spill tier
      var sumL: Array[Long] = Array.emptyLongArray
      var sumB: Array[BigInt] = Array.empty
      var any = false
      def grow(nd: Int): Unit = if (nd > d) {
        val cells = nd * (nd + 1) / 2
        val g2 = new Array[Long](cells)
        val b2 = Array.fill(cells)(BigInt(0))
        val s2 = new Array[Long](nd)
        val t2 = Array.fill(nd)(BigInt(0))
        // re-index the old triangle (row-major over d) into the new one
        var i = 0
        while (i < d) {
          var j = i
          while (j < d) {
            val o = i * d - i * (i - 1) / 2 + (j - i)
            val nw = i * nd - i * (i - 1) / 2 + (j - i)
            g2(nw) = gramL(o); b2(nw) = gramB(o)
            j += 1
          }
          s2(i) = sumL(i); t2(i) = sumB(i)
          i += 1
        }
        gramL = g2; gramB = b2; sumL = s2; sumB = t2; d = nd
      }
      it.foreach { row =>
        val seq = if (row.isNullAt(0)) null else row.getSeq[Any](0)
        if (seq != null) {
          any = true
          val len = seq.length
          if (len > d) grow(len)
          // primitive copy + null mask once per row, so the O(d²)
          // inner loop runs on longs only
          val q = new Array[Long](len)
          var hasNull = false
          var i = 0
          while (i < len) {
            val v = seq(i)
            if (v == null) hasNull = true else q(i) = v.asInstanceOf[Long]
            i += 1
          }
          val nn: Array[Boolean] =
            if (hasNull) Array.tabulate(len)(seq(_) == null) else null
          i = 0
          while (i < len) {
            if (nn == null || !nn(i)) {
              val qi = q(i)
              val base = i * d - i * (i - 1) / 2 - i
              var j = i
              while (j < len) {
                if (nn == null || !nn(j)) {
                  val p = qi * q(j) // exact: |q| bound enforced upstream
                  val k = base + j
                  val a = gramL(k)
                  val s = a + p
                  // overflow-checked add (Math.addExact without the
                  // throw): spill to the BigInt tier and restart
                  if (((a ^ s) & (p ^ s)) < 0L) {
                    gramB(k) = gramB(k) + BigInt(a); gramL(k) = p
                  } else gramL(k) = s
                }
                j += 1
              }
              val a = sumL(i)
              val s = a + qi
              if (((a ^ s) & (qi ^ s)) < 0L) {
                sumB(i) = sumB(i) + BigInt(a); sumL(i) = qi
              } else sumL(i) = s
            }
            i += 1
          }
        }
      }
      if (!any) Iterator.empty
      else Iterator.single((d,
        Array.tabulate(d * (d + 1) / 2)(k => (gramB(k) + BigInt(gramL(k)))
          .bigInteger.toByteArray),
        Array.tabulate(d)(i => (sumB(i) + BigInt(sumL(i)))
          .bigInteger.toByteArray)))
    }.collect()
    val d = if (partials.isEmpty) 0 else partials.map(_._1).max
    require(d > 0, "Pca: no non-empty vectors (cannot size the scatter matrix)")
    val gram = Array.fill(d * (d + 1) / 2)(BigInt(0))
    val sums = Array.fill(d)(BigInt(0))
    partials.foreach { case (pd, g, s) =>
      var i = 0
      while (i < pd) {
        var j = i
        while (j < pd) {
          gram(i * d - i * (i - 1) / 2 + (j - i)) +=
            BigInt(new java.math.BigInteger(g(i * pd - i * (i - 1) / 2 + (j - i))))
          j += 1
        }
        sums(i) += BigInt(new java.math.BigInteger(s(i)))
        i += 1
      }
    }
    val bigN = BigInt(n)
    ((i, j) => {
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      bigN * gram(lo * d - lo * (lo - 1) / 2 + (hi - lo)) - sums(i) * sums(j)
    }, d)
  }

  private def powerVector(S: (Int, Int) => BigInt, d: Int, iters: Int,
                          vscale: Long): Array[BigInt] = {
    var v = Array.fill(d)(BigInt(vscale))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).foldLeft(BigInt(0))((acc, j) => acc + S(i, j) * v(j)))
      val m = w.map(x => math.abs(x.toDouble)).max
      require(m > 0, "Pca: zero scatter matrix (constant input)")
      // the renorm both engines replay identically: correctly-rounded
      // BigInt→double, exact 2^k scale, one division, floor
      v = w.map(x => BigInt(math.floor(x.toDouble * vscale / m).toLong))
    }
    val top = v.indices.maxBy(i => (v(i).abs, -i))
    if (v(top).signum < 0) v.map(-_) else v
  }

  /** row count with the unique-id precondition ENFORCED: the oracle's
    * `nn` CTE counts DISTINCT ids while the scatter matrices sum over
    * rows, so a duplicated id would silently skew the mean-centering
    * term on one side only — fail loudly instead (one aggregate job,
    * same cost as the plain count). */
  private def countedUnique(qdf: DataFrame, what: String): Long = {
    // one aggregate job enforces BOTH preconditions: unique ids, and
    // quantized magnitudes small enough that the Gram pass's per-row
    // LONG product q_i·q_j cannot overflow (|q| ≤ ⌊√(2^63−1)⌋). min and
    // max are tracked separately so Long.MinValue (a saturated cast)
    // fails the min check instead of hiding behind abs() wraparound.
    val r = qdf.agg(count(lit(1)), count_distinct(col("_id")),
      max(aggregate(col("_qv"), lit(Long.MinValue), (a, x) => greatest(a, x))),
      min(aggregate(col("_qv"), lit(Long.MaxValue), (a, x) => least(a, x)))).head()
    val (n, ids) = (r.getLong(0), r.getLong(1))
    require(n == ids,
      s"Pca.$what: ${n - ids} duplicate id rows - ids must be unique " +
        "(the scatter matrix and the distinct-id count would diverge)")
    val qBound = 3037000499L // floor(sqrt(2^63 - 1))
    if (n > 0 && !r.isNullAt(2)) {
      val (maxQ, minQ) = (r.getLong(2), r.getLong(3))
      require(maxQ <= qBound && minQ >= -qBound,
        s"Pca.$what: quantized component outside +/-$qBound (got [$minQ, " +
          s"$maxQ]) - the exact long product in the Gram pass would " +
          "overflow; lower qscale for inputs of this magnitude")
    }
    n
  }

  private def axisVector(qdf: DataFrame, n: Long, iters: Int,
                         vscale: Long): Array[BigInt] = {
    val (s, d) = scatterFn(qdf, n)
    powerVector(s, d, iters, vscale)
  }

  /** Leading principal axis of `vecCol` (array<float/double>) as
    * `(d, loading)` rows, `loading = v_d / vscale` with `|v|`
    * max-normalized to vscale and the sign fixed so the
    * largest-|loading| component is positive (smallest index on ties).
    */
  def topComponent(emb: DataFrame, vecCol: String, idCol: String,
                   iters: Int = 8, qscale: Long = 1L << 20,
                   vscale: Long = 1L << 20): DataFrame = {
    require(iters > 0, s"Pca.topComponent: iters must be positive, got $iters")
    val spark = emb.sparkSession
    // the quantized frame feeds three jobs (gram, sums, count)
    val qdf = quantizeArr(emb, vecCol, idCol, qscale).cache()
    val n = countedUnique(qdf, "topComponent")
    require(n > 0, "Pca.topComponent: empty input")
    val v = try axisVector(qdf, n, iters, vscale) finally qdf.unpersist()
    val rows = v.indices.map(i => Row(i.toLong, v(i).toDouble / vscale))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("d", LongType, nullable = false),
        StructField("loading", DoubleType, nullable = false))))
  }

  /** second axis via deflation-by-orthogonalization: each round
    * power-iterates `w ← S·v₂`, renorms, then projects out v₁ EXACTLY
    * in integers — `w ← w·(v₁ᵀv₁) − v₁·(v₁ᵀw)` — and renorms again, so
    * v₂ converges to the second eigenvector while staying a
    * deterministic pure function of the data. The orthogonalization
    * runs on RENORMED (≤ vscale) vectors so every intermediate stays
    * ≤ ~2^66 — inside the oracle's 128-bit HUGEINT (orthogonalizing
    * the raw ~2^99 power-iterate would overflow it). v₂ seeds from the
    * all-ones vector orthogonalized the same way. */
  private def secondVector(S: (Int, Int) => BigInt, v1: Array[BigInt],
                           iters: Int, vscale: Long): Array[BigInt] = {
    val d = v1.length
    val v1n = v1.foldLeft(BigInt(0))((a, x) => a + x * x)
    def orth(w: Array[BigInt]): Array[BigInt] = {
      val dot = v1.indices.foldLeft(BigInt(0))((a, i) => a + v1(i) * w(i))
      Array.tabulate(d)(i => w(i) * v1n - v1(i) * dot)
    }
    def renorm(w: Array[BigInt]): Array[BigInt] = {
      val m = w.map(x => math.abs(x.toDouble)).max
      require(m > 0, "Pca: degenerate second component (rank-1 scatter)")
      w.map(x => BigInt(math.floor(x.toDouble * vscale / m).toLong))
    }
    var v = renorm(orth(Array.fill(d)(BigInt(vscale))))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).foldLeft(BigInt(0))((acc, j) => acc + S(i, j) * v(j)))
      v = renorm(orth(renorm(w)))
    }
    val top = v.indices.maxBy(i => (v(i).abs, -i))
    if (v(top).signum < 0) v.map(-_) else v
  }

  /** Top TWO principal axes as `(d, loading1, loading2)` — the 2-D
    * embedding-map coordinates (corpus visualization, coarse 2-D
    * binning). Same determinism recipe; the second axis deflates via
    * [[secondVector]]'s exact integer orthogonalization.
    */
  def topComponents2(emb: DataFrame, vecCol: String, idCol: String,
                     iters: Int = 8, qscale: Long = 1L << 20,
                     vscale: Long = 1L << 20): DataFrame = {
    require(iters > 0, s"Pca.topComponents2: iters must be positive, got $iters")
    val spark = emb.sparkSession
    val qdf = quantizeArr(emb, vecCol, idCol, qscale).cache()
    val n = countedUnique(qdf, "topComponents2")
    require(n > 0, "Pca.topComponents2: empty input")
    val (v1, v2) = try {
      val (s, d) = scatterFn(qdf, n)
      val first = powerVector(s, d, iters, vscale)
      (first, secondVector(s, first, iters, vscale))
    } finally qdf.unpersist()
    val rows = v1.indices.map(i =>
      Row(i.toLong, v1(i).toDouble / vscale, v2(i).toDouble / vscale))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("d", LongType, nullable = false),
        StructField("loading1", DoubleType, nullable = false),
        StructField("loading2", DoubleType, nullable = false))))
  }

  /** Project every vector onto the leading axis: `(id, score)` with
    * `score = Σᵢ qᵢ·vᵢ / (qscale·vscale)` — the 1-D embedding a
    * curriculum sampler or coarse index sorts by. The axis solves
    * driver-side as in [[topComponent]]; the projection itself is a
    * shuffle-free per-row array fold against the broadcast axis
    * (integer until the final exact power-of-two division, so
    * cross-engine bit-stable).
    */
  def projectTop(emb: DataFrame, vecCol: String, idCol: String,
                 iters: Int = 8, qscale: Long = 1L << 20,
                 vscale: Long = 1L << 20): DataFrame = {
    require(iters > 0, s"Pca.projectTop: iters must be positive, got $iters")
    val qdf = quantizeArr(emb, vecCol, idCol, qscale).cache()
    val n = countedUnique(qdf, "projectTop")
    require(n > 0, "Pca.projectTop: empty input")
    val v = try axisVector(qdf, n, iters, vscale) finally qdf.unpersist()
    // per-row fold over zip(qv, axis-literal): no explode, no join, no
    // shuffle — the projection runs at scan speed
    val axisLit = array(v.map(x => lit(x.toLong)): _*)
    qdf.select(col("_id").as(idCol),
      (aggregate(
        zip_with(col("_qv"), axisLit, (q, a) => q * a),
        lit(0L), (acc, x) => acc + x).cast(DoubleType) /
        (qscale.toDouble * vscale.toDouble)).as("score"))
  }
}
