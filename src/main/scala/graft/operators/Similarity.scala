package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`). North-star extension (BASELINE.json).
  *
  * Scale design:
  *  - [[bruteForceTopK]] is the exact baseline: |Q| × |corpus| partial
  *    work, distributed as a broadcast of the (small) query set against
  *    the corpus scan — linear in corpus size, no corpus self-shuffle.
  *  - [[lshTopK]] (random hyperplane signs) and [[ivfTopK]] (coarse
  *    partition) bound the candidate set per query, turning the scan
  *    into a bucket-local join — the 100 TB path.
  *
  * Dot products cast each float to double BEFORE multiplying and fold
  * left-to-right, so results are bit-identical across engines (oracle-
  * comparable without rounding).
  */
object Similarity {

  /** left-fold dot product in double precision — native codegen'd kernel
    * (bit-identical to the `zip_with`+`aggregate` HOF formulation, but
    * inside whole-stage codegen; see [[graft.plans.DotProduct]]).
    */
  def dot(a: Column, b: Column): Column = graft.plans.DotProduct(a, b)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** cosine similarity, single-pass native kernel (bit-identical to
    * dot/(‖a‖·‖b‖) with left-to-right double folds).
    */
  def cosine(a: Column, b: Column): Column = graft.plans.CosineSimilarity(a, b)

  /** two-stage distributed ranking shared by every search variant: a
    * bounded [[graft.plans.TopKByScore]] aggregate keeps the best k
    * candidates per query INSIDE the partial (map-side) aggregate, so
    * the exchange carries ≤ k rows per (query, map partition) and no
    * task ever sorts a query's full candidate set. The previous
    * `row_number().over(Window.partitionBy(q_id))` formulation funneled
    * every candidate for a query through ONE task — for brute force
    * that is a single-task sort of the whole corpus per query.
    * Candidates with NULL score (zero-norm / malformed vectors) are
    * dropped rather than ranked last; a query whose candidates ALL score
    * NULL (e.g. a zero-norm query vector) is therefore ABSENT from the
    * result, not emitted with null neighbors. Ids ride the aggregate
    * with their OWN type — integral or string both work (output c_id
    * mirrors the id type); integral surrogates remain the scale
    * preference (8 bytes/entry on the exchange vs a 36-byte UUID).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(graft.plans.TopKByScore(col("cos"), col("c_id"), k).as("_top"))
      .select(col("q_id"), posexplode(col("_top")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col.c_id").as("c_id"), col("col.cos").as("cos"))

  /** exact top-k cosine neighbors for each query id.
    * The query side is expected to be small → broadcast; the corpus is
    * scanned once; ranking is the bounded two-stage [[rankTopK]].
    */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("qv")))
    val c = emb.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("qv"), col("cv")).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF-style coarse search: restrict candidates to the query's coarse
    * partition (here an existing cluster/label column; in a full system
    * the assignment comes from a trained coarse quantizer).
    */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int, coarseCol: String,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(coarseCol).as("q_blk"), col(vecCol).as("qv")))
    val c = emb.select(col(idCol).as("c_id"), col(coarseCol).as("c_blk"), col(vecCol).as("cv"))
    val scored = q.join(c, col("q_blk") === col("c_blk") && col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("qv"), col("cv")).as("cos"))
    rankTopK(scored, k)
  }

  /** Deterministic k-means (Lloyd's) coarse quantizer for IVF — the
    * "trained" path ([[ivfTopK]] then partitions on the learned
    * assignment instead of a pre-existing label).
    *
    * Determinism across engines/partitionings is engineered, not hoped
    * for: vectors are quantized to integers (`floor(x · 2^20)` in double,
    * exact for float inputs), so distances and centroid updates are pure
    * int64 arithmetic — no float-summation order sensitivity — and the
    * argmin tiebreaks on centroid id. That makes the whole training loop
    * expressible in the DuckDB oracle (differential-tested), which no
    * RNG-seeded trainer could be. Init = the first k vectors by id.
    *
    * Scale shape per iteration: centroids broadcast (k rows) against a
    * corpus scan, argmin via a `min_by` aggregate (the k candidate rows
    * per vector partial-aggregate to 1 MAP-SIDE, so the exchange moves N
    * rows — the earlier row_number-window form shuffled and sorted k×N),
    * and a k-group aggregate — no corpus self-join, no unbounded state.
    */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int, dim: Int,
                   vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    kmeansTrain(emb, k, iters, dim, vecCol, idCol)._1

  /** [[kmeansAssign]] plus the centroids `(cid, cv)` the FINAL
    * assignment was computed against (each Lloyd's round assigns against
    * the incoming centroids, then updates them — the post-update set
    * describes no row's cell). `cv` is in the trainer's `floor(x·2^20)`
    * integer quantization, so probe-time distances ([[ivfTopKProbe]])
    * replay exactly the geometry that defined the cells.
    */
  def kmeansTrain(emb: DataFrame, k: Int, iters: Int, dim: Int,
                  vecCol: String = "embedding", idCol: String = "vec_id"): (DataFrame, DataFrame) = {
    require(iters > 0, "kmeansAssign: iters must be positive")
    // k <= 0 → auto-scale the cell count from one corpus count(): the
    // IVF sibling of lshTopK's autoBits default (cells ∝ corpus keeps
    // expected cell size — and so probe cost per query — constant)
    val kk = if (k > 0) k else autoCells(emb.count())
    val S = 1L << 20
    val qvExpr = transform(col(vecCol),
      x => floor(x.cast(DoubleType) * S).cast(LongType))
    val base = emb.select(col(idCol), qvExpr.as("qv"))
    // pure-int64 squared distance, native kernel: exact in any engine
    // and any order (the unrolled element_at sum it replaces compiled a
    // dim-term expression tree per stage; same integers either way, so
    // the DuckDB oracle replay is untouched)
    val dist = graft.plans.QuantizedL2(col("qv"), col("cv"))
    // argmin over the k broadcast candidates; ordering struct is unique
    // per (vector, cid) so the cid-tiebreak is engine-deterministic
    def assign(cents: DataFrame): DataFrame = base.crossJoin(broadcast(cents))
      .withColumn("_d", dist)
      .groupBy(col(idCol))
      .agg(min_by(struct(col("qv"), col("cid")), struct(col("_d"), col("cid"))).as("_b"))
      .select(col(idCol), col("_b.qv").as("qv"), col("_b.cid").as("cid"))
    // integer centroid update: floor(Σ qv / n) per dimension (sums fit
    // int64: |qv| < 2^21, so even 2^31 rows stay under 2^52; the double
    // division is exact below 2^53)
    val sums = (0 until dim).map(i =>
      floor(sum(element_at(col("qv"), i + 1)).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as(s"_c$i"))
    Fixpoint.run("kmeans", emb.sparkSession) { fx =>
      // seeds = FIRST k vectors by id (TakeOrdered of k rows) — robust to
      // sparse/offset id spaces, where an `id < k` filter would silently
      // yield fewer than k (possibly zero) centroids (ADVICE r03). A corpus
      // with fewer than k vectors legitimately trains that many centroids.
      var cents = base.orderBy(col(idCol)).limit(kk)
        .select(col(idCol).cast(LongType).as("cid"), col("qv").as("cv"))
      // round i assigns against the incoming centroids, then updates
      // them; the last round's update would describe no row's cell, so
      // iters − 1 updates run and the final assignment stays lazy
      for (_ <- 2 to iters) fx.round {
        val fresh = assign(cents).groupBy(col("cid"))
          .agg(sums.head, sums.tail: _*)
          .select(col("cid"), array((0 until dim).map(i => col(s"_c$i")): _*).as("cv"))
        // a centroid whose cluster went empty emits NO row from the update
        // aggregate; carry it forward unchanged (k-row left join) so k never
        // silently shrinks — reachable when duplicate vectors sit among the
        // seeds, since ties all break to the lowest cid
        cents = fx.checkpoint(cents.select(col("cid"), col("cv").as("_prev"))
          .join(fresh.select(col("cid"), col("cv").as("_new")), Seq("cid"), "left")
          .select(col("cid"), coalesce(col("_new"), col("_prev")).as("cv")))._1
        Seq(cents)
      }
      (assign(cents).select(col(idCol), col("cid")), cents)
    }(r => Seq(r._1, r._2))
  }

  /** Multi-probe IVF: each query searches its `nprobe` NEAREST coarse
    * cells instead of only the closest — the production recall knob for
    * IVF indexes. Scale shape: the probe assignment is a k-row broadcast
    * against the (small) query set, the corpus keeps its single
    * partition-cell assignment, and the candidate join stays
    * cell-local — candidates grow by at most nprobe×, never to a full
    * scan. Distances replay the trainer's exact integer quantization
    * (`floor(x·2^20)` + [[graft.plans.QuantizedL2]], cid tiebreak), so
    * the probe choice is engine-deterministic and oracle-replayable.
    */
  def ivfTopKProbe(emb: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
                   centroids: DataFrame, coarseCol: String,
                   vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(nprobe > 0, "ivfTopKProbe: nprobe must be positive")
    val S = 1L << 20
    val qv = transform(col(vecCol), x => floor(x.cast(DoubleType) * S).cast(LongType))
    // rank the k centroids per query by exact integer L2 and keep
    // nprobe. A row_number window is fine HERE: the partition is k rows
    // per query on the already-broadcast-small query side, so the
    // "window funnels everything through one task" concern that bans
    // windows from corpus-side ranking does not apply.
    val qq = queries.select(col(idCol).as("q_id"), col(vecCol).as("qvf"), qv.as("qq"))
    val ranked = qq.crossJoin(broadcast(centroids))
      .withColumn("_d", graft.plans.QuantizedL2(col("qq"), col("cv")))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("_d"), col("cid"))))
      .filter(col("_rn") <= nprobe)
      .select(col("q_id"), col("qvf"), col("cid").as("q_blk"))
    val c = emb.select(col(idCol).as("c_id"), col(coarseCol).as("c_blk"), col(vecCol).as("cv2"))
    val scored = broadcast(ranked).join(c,
        col("q_blk") === col("c_blk") && col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("qvf"), col("cv2")).as("cos"))
    rankTopK(scored, k)
  }

  /** ANN recall audit — recall@k of an approximate top-k result
    * against the exact one, in-engine. Recall is a property of the
    * data distribution and the index knobs (bits, nprobe, refine), so
    * a 100 TB deployment MEASURES it on a query sample before trusting
    * a configuration — this is that acceptance gate as a query. Both
    * inputs are `(q_id, …, c_id)` frames from any two search variants
    * (typically [[lshTopK]]/[[ivfTopKProbe]]/[[pqTopK]] vs
    * [[bruteForceTopK]]).
    *
    * Output: one row per exact-side query — (q_id, k, hits, recall) —
    * `hits` = |approx ∩ exact| on candidate ids, `k` = the exact
    * side's row count for that query (robust to queries whose exact
    * list is shorter than the requested k), `recall = hits / k`. A
    * query the approximate side missed entirely scores 0 rather than
    * going absent.
    *
    * Scale shape: both sides are top-k RESULTS — |Q|·k rows, tiny by
    * construction regardless of corpus size — so this is a pair of
    * narrow joins; the corpus-scale work lives in the searches that
    * produced the inputs.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("q_id"), col("c_id"))
    val ap = approx.select(col("q_id"), col("c_id"))
    val hits = ex.join(ap, Seq("q_id", "c_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    ex.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("k"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast(DoubleType) / col("k")).as("recall"))
  }

  /** Auto-scaled sign-LSH bit width: `ceil(log2(n / targetBucket))`,
    * clamped to [1, 62]. At FIXED bits, expected bucket occupancy grows
    * linearly with the corpus — the sf1 rehearsal measured 8.2× wall
    * for 10× rows on the near-dup self-join, which is quadratic in
    * occupancy. Scaling bits with `log2(corpus)` holds expected
    * occupancy ≈ `targetBucket` at ANY corpus size, so per-row candidate
    * work stays ~constant from sf0.01 to 100 TB (occupancy-tested in the
    * unit suite). Pass the corpus size from a cheap `count()` or a
    * catalog statistic; the `nBits<=0` defaults below do the count.
    */
  def autoBits(corpusSize: Long, targetBucket: Long = 1024L): Int = {
    require(corpusSize >= 0 && targetBucket > 0,
      s"autoBits: corpusSize>=0 and targetBucket>0, got n=$corpusSize target=$targetBucket")
    // INTEGER-exact ceil(log2(ceil(n/target))): bit-length of cells−1.
    // The float form (ceil(log(cells)/log 2)) wobbles at exact powers of
    // two, which matters now that oracles replay this formula in SQL
    // (LENGTH(bin(cells−1)) — identical integer semantics).
    val cellsInt = math.max(1L, (corpusSize + targetBucket - 1) / targetBucket)
    math.min(62, math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(cellsInt - 1)))
  }

  /** Auto-scaled IVF cell count: `ceil(n / cellTarget)` centroids keep
    * expected cell size ≈ `cellTarget`, so probe cost per query is
    * `nprobe × cellTarget` REGARDLESS of corpus size (the centroid
    * broadcast grows as n/cellTarget — at 100 TB shard the training, or
    * raise cellTarget so k stays broadcastable).
    */
  def autoCells(corpusSize: Long, cellTarget: Long = 4096L): Int = {
    require(corpusSize >= 0 && cellTarget > 0,
      s"autoCells: corpusSize>=0 and cellTarget>0, got n=$corpusSize target=$cellTarget")
    math.max(1L, (corpusSize + cellTarget - 1) / cellTarget).min(Int.MaxValue.toLong).toInt
  }

  /** deterministic pseudo-random hyperplanes (shared constants; public so
    * the DuckDB oracle SQL can be generated from the same values).
    */
  def hyperplane(seed: Int, dim: Int): Seq[Double] =
    (0 until dim).map { j =>
      // SplitMix64-style finalizer on (seed, j): every element mixes
      // independently. The LCG this replaces (`seed*A + j*12345 + C mod
      // 2^31-1`) moved only ~0.0007 of the modulus across j=0..63, so
      // every hyperplane was nearly CONSTANT across dimensions — all
      // sign bits collapsed toward sign(sum(v)) and raising nBits barely
      // added buckets (caught by the occupancy unit test). Deterministic
      // and engine-free: the oracle SQL embeds these values as literals.
      var z = seed.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      // top 53 bits → uniform double in [0, 1) → [-1, 1)
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }

  /** sign-bit LSH bucket id per row: nBits hyperplane sign bits. */
  def lshBucket(vec: Column, dim: Int, nBits: Int): Column = {
    val bits = (0 until nBits).map { i =>
      val h = array(hyperplane(i + 1, dim).map(lit): _*)
      when(dot(vec, h) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** ANN via sign-LSH: candidates share the query's bucket. Recall is
    * tested against [[bruteForceTopK]] in the unit suite.
    * `nBits <= 0` (the default) auto-scales via [[autoBits]] from one
    * corpus `count()` — the knob a 100 TB caller should not have to
    * remember (fixed bits = occupancy growing linearly with the corpus).
    */
  def lshTopK(emb: DataFrame, queries: DataFrame, k: Int, dim: Int, nBits: Int = 0,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val bits = if (nBits > 0) nBits else autoBits(emb.count())
    val withB = emb.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), dim, bits).as("bucket"))
    val q = broadcast(withB.join(queries.select(col(idCol)), Seq(idCol))
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"), col("bucket")))
    val c = withB.select(col(idCol).as("c_id"), col(vecCol).as("cv"), col("bucket"))
    val scored = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("qv"), col("cv")).as("cos"))
    rankTopK(scored, k)
  }

  /** Trained product-quantization codebook: `m` per-subspace centroid
    * tables, collected to the driver. A PQ codebook is a broadcast-sized
    * model by construction — `m × ksub` centroids of `dim/m` int64
    * components ≈ `ksub × dim` values REGARDLESS of corpus size — so
    * holding it driver-side is the Spark-ML-estimator pattern (a fitted
    * model), not a `.collect()` of data. `cents(j)` lists subspace j's
    * `(cid, centroid)` pairs sorted by cid ascending (the trainer's
    * tiebreak order); centroids are in the trainer's `floor(x·2^20)`
    * integer quantization.
    */
  final case class PqModel(m: Int, dim: Int,
      cents: IndexedSeq[IndexedSeq[(Long, IndexedSeq[Long])]]) {
    def sub: Int = dim / m

    /** Persist the codebook as parquet rows `(m, dim, sub, cid, cv)` —
      * with [[pqEncode]]'s codes table this is the whole index: build
      * once, write both, and every later session queries without
      * re-reading a single corpus vector. Config-sized (m·ksub rows). */
    def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      cents.zipWithIndex.flatMap { case (cs, j) =>
        cs.map { case (cid, cv) => (m, dim, j, cid, cv.toSeq) }
      }.toSeq.toDF("m", "dim", "sub", "cid", "cv")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
  }

  object PqModel {
    /** The schema [[PqModel.save]] writes. */
    private val codebookSchema =
      StructType.fromDDL("m INT, dim INT, sub INT, cid BIGINT, cv ARRAY<BIGINT>")

    /** Load a codebook persisted by [[PqModel.save]], read with the
      * schema it was written with (no schema-inference job). */
    def load(spark: SparkSession, path: String): PqModel = {
      val rows = spark.read.schema(codebookSchema).parquet(path)
        .select("m", "dim", "sub", "cid", "cv").collect()
      require(rows.nonEmpty, s"PqModel.load: empty codebook at $path")
      val (m, dim) = (rows.head.getInt(0), rows.head.getInt(1))
      val bySub = rows.groupBy(_.getInt(2))
      PqModel(m, dim, (0 until m).map { j =>
        bySub(j).map(r => (r.getLong(3), r.getSeq[Long](4).toIndexedSeq))
          .sortBy(_._1).toIndexedSeq
      }.toIndexedSeq)
    }
  }

  private val QScale = 1L << 20
  private def quantizeVec(vec: Column): Column =
    transform(vec, x => floor(x.cast(DoubleType) * QScale).cast(LongType))

  /** Train a product quantizer: split the `dim`-d vector into `m`
    * subspaces of `dim/m` dims and run the deterministic integer
    * [[kmeansTrain]] independently in each. Compression story at 100 TB:
    * a 64-d float vector (256 B) becomes `m` small codes (m bytes at
    * ksub ≤ 256) — 64× smaller — and the ADC scan reads ONLY the codes.
    * Training cost is `m` trainers over the corpus; at real scale train
    * on a uniform sample ([[graft.operators.Sampling]]) — the codebook
    * quality needs sample coverage, not the full corpus.
    */
  def pqTrain(emb: DataFrame, m: Int, ksub: Int, iters: Int, dim: Int,
              vecCol: String = "embedding", idCol: String = "vec_id"): PqModel = {
    require(m > 0 && dim % m == 0, s"pqTrain: m=$m must divide dim=$dim")
    require(iters > 0, s"pqTrain: iters must be positive, got $iters")
    val sub = dim / m
    // All m subspace trainers FUSED into one loop keyed by (subspace,
    // cid): identical math to m independent kmeansTrain runs (each
    // subspace's argmin/update never crosses the subspace key), but one
    // Spark job per Lloyd's round instead of m — the m× scheduling
    // overhead dominated the fixture profile. Seeds per subspace = the
    // first ksub vectors by id, as in kmeansTrain.
    val subCol = explode(array((0 until m).map { j =>
      struct(lit(j).as("sub"),
        transform(slice(col(vecCol), j * sub + 1, sub),
          x => floor(x.cast(DoubleType) * QScale).cast(LongType)).as("qv"))
    }: _*))
    Fixpoint.run("pq", emb.sparkSession) { fx =>
      val (base, _) = fx.checkpoint(emb.select(col(idCol), subCol.as("_s"))
        .select(col(idCol), col("_s.sub").as("sub"), col("_s.qv").as("qv")))
      // seeds: every subspace seeds from the SAME first-ksub ids, so one
      // TakeOrdered + broadcast join covers all m (no corpus window)
      val seeds = emb.select(col(idCol)).orderBy(col(idCol)).limit(ksub)
      var (cents, _) = fx.checkpoint(base.join(broadcast(seeds), idCol)
        .select(col("sub"), col(idCol).cast(LongType).as("cid"), col("qv").as("cv")))
      val sums = (0 until sub).map(i =>
        floor(sum(element_at(col("qv"), i + 1)).cast(DoubleType) / count(lit(1)))
          .cast(LongType).as(s"_c$i"))
      // the model is the centroids the LAST assignment ran against
      // (kmeansTrain's contract, which the oracle replays), so iters − 1
      // assign-and-update rounds run
      for (_ <- 2 to iters) fx.round {
        val assigned = base.join(broadcast(cents), "sub")
          .withColumn("_d", graft.plans.QuantizedL2(col("qv"), col("cv")))
          .groupBy(col(idCol), col("sub"))
          .agg(min_by(struct(col("qv"), col("cid")), struct(col("_d"), col("cid"))).as("_b"))
          .select(col("sub"), col("_b.qv").as("qv"), col("_b.cid").as("cid"))
        val fresh = assigned.groupBy(col("sub"), col("cid"))
          .agg(sums.head, sums.tail: _*)
          .select(col("sub"), col("cid"),
            array((0 until sub).map(i => col(s"_c$i")): _*).as("cv"))
        // empty-cluster carry-forward, as in kmeansTrain
        cents = fx.checkpoint(cents.select(col("sub"), col("cid"), col("cv").as("_prev"))
          .join(fresh.select(col("sub"), col("cid"), col("cv").as("_new")),
            Seq("sub", "cid"), "left")
          .select(col("sub"), col("cid"), coalesce(col("_new"), col("_prev")).as("cv")))._1
        Seq(base, cents)
      }
      val collected = cents.orderBy(col("sub"), col("cid")).collect()
      val bySub = collected.groupBy(_.getInt(0))
      PqModel(m, dim, (0 until m).map { j =>
        bySub(j).map(r => (r.getLong(1), r.getSeq[Long](2).toIndexedSeq)).toIndexedSeq
      }.toIndexedSeq)
    }(_ => Nil)
  }

  /** Encode every vector to its `m` nearest-sub-centroid codes — a PURE
    * PROJECTION over the scan (no join, no shuffle: the codebook rides
    * the plan as literals), which is what makes PQ the 100 TB path: the
    * expensive full-corpus pass is map-side only. Codes are the
    * centroid ids (trainer seeds' vec_ids); argmin tiebreaks to the
    * LOWEST cid exactly like the trainer, so encoding reproduces the
    * trainer's own final assignment. Output: (idCol, code_0..code_{m-1}).
    */
  def pqEncode(emb: DataFrame, model: PqModel,
               vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val sub = model.sub
    val codeCols = (0 until model.m).map { j =>
      val qv = quantizeVec(slice(col(vecCol), j * sub + 1, sub))
      val dists = array(model.cents(j).map { case (_, cv) =>
        graft.plans.QuantizedL2(qv, typedlit(cv)) }: _*)
      // first index of the min distance = lowest cid (cents sorted by cid)
      element_at(typedlit(model.cents(j).map(_._1)),
        array_position(dists, array_min(dists)).cast(IntegerType)).as(s"code_$j")
    }
    emb.select(col(idCol) +: codeCols: _*)
  }

  /** PQ top-k via asymmetric distance computation (ADC): each query
    * precomputes an `m × ksub` lookup table of exact integer L2
    * distances from its subvectors to every sub-centroid (projection on
    * the SMALL query side), then the corpus scan sums `m` table lookups
    * per code row — O(m) work per corpus row instead of O(dim), over
    * codes instead of vectors. The query side (with its tables)
    * broadcasts; the corpus is scanned once, shuffle-free up to the
    * bounded [[rankTopK]] aggregate. All arithmetic is int64 (sums stay
    * < 2^53, so the score double round-trip is exact) — the DuckDB
    * oracle replays training, encoding, and the ADC sums bit-exactly.
    * Output: (q_id, rank, c_id, adist) ranked by ASCENDING approximate
    * distance, ties to the lower c_id.
    */
  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int, model: PqModel,
             vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    pqTopKFromCodes(
      pqEncode(emb, model, vecCol, idCol).withColumnRenamed(idCol, "c_id"),
      queries, k, model, vecCol, idCol)

  /** ADC over an ALREADY-ENCODED codes table (`c_id, code_0..code_{m−1}`,
    * as written by [[pqEncode]]) — the query-time face of a persisted
    * index: load the [[PqModel]] codebook and the codes parquet, and the
    * search never touches a corpus vector. [[pqTopK]] is this plus an
    * inline encode. */
  def pqTopKFromCodes(codes: DataFrame, queries: DataFrame, k: Int,
                      model: PqModel, vecCol: String = "embedding",
                      idCol: String = "vec_id"): DataFrame = {
    val sub = model.sub
    val qCols = (0 until model.m).map { j =>
      val qv = quantizeVec(slice(col(vecCol), j * sub + 1, sub))
      map_from_arrays(
        typedlit(model.cents(j).map(_._1)),
        array(model.cents(j).map { case (_, cv) =>
          graft.plans.QuantizedL2(qv, typedlit(cv)) }: _*)).as(s"qt_$j")
    }
    val q = broadcast(queries.select(col(idCol).as("q_id") +: qCols: _*))
    val adist = (0 until model.m)
      .map(j => element_at(col(s"qt_$j"), col(s"code_$j"))).reduce(_ + _)
    val scored = q.join(codes, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), adist.as("adist"))
    rankTopK(scored.select(col("q_id"), col("c_id"),
        (-col("adist")).cast(DoubleType).as("cos")), k)
      .select(col("q_id"), col("rank"), col("c_id"),
        (-col("cos")).cast(LongType).as("adist"))
  }

  /** PQ with exact re-ranking (the production FAISS-style `refine`
    * pattern): the cheap ADC scan shortlists `k × refine` candidates
    * per query, their FULL vectors are fetched via a broadcast join of
    * the (tiny: |Q|·k·refine rows) shortlist against the corpus — map-
    * side, no corpus shuffle — and exact cosine re-ranks the shortlist
    * down to k. Recall rises with `refine` while the expensive exact
    * work stays bounded at k·refine vectors per query; the 100 TB scan
    * still only reads codes. Output matches [[bruteForceTopK]]:
    * (q_id, rank, c_id, cos).
    */
  def pqTopKRefined(emb: DataFrame, queries: DataFrame, k: Int, model: PqModel,
                    refine: Int, vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    require(refine > 0, s"pqTopKRefined: refine must be positive, got $refine")
    val short = pqTopK(emb, queries, k * refine, model, vecCol, idCol)
      .select(col("q_id"), col("c_id"))
    val qv = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("_qv")))
    val cand = broadcast(short)
      .join(emb.select(col(idCol).as("c_id"), col(vecCol).as("_cv")), "c_id")
      .join(qv, "q_id")
      .select(col("q_id"), col("c_id"), cosine(col("_qv"), col("_cv")).as("cos"))
    rankTopK(cand, k)
  }

  /** Multi-probe sign-LSH: each query also probes every bucket at
    * Hamming distance 1 from its own (bucket XOR one sign bit) — the
    * standard recall-vs-cost knob for sign LSH. A near neighbor that
    * landed on the wrong side of ONE hyperplane is recovered; the
    * candidate set grows by at most (nBits+1)× and stays bucket-local,
    * so the 100 TB shape is unchanged: the (small) query side explodes
    * to nBits+1 probe rows BEFORE the broadcast, the corpus is neither
    * re-bucketed nor re-scanned per probe, and each (query, candidate)
    * pair can match at most once (a candidate lives in exactly one
    * bucket). Recall ≥ single-probe [[lshTopK]] by construction
    * (probe set is a superset) — asserted in the unit suite.
    */
  def lshTopKProbe(emb: DataFrame, queries: DataFrame, k: Int, dim: Int,
                   nBits: Int = 0, vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    val bits = if (nBits > 0) nBits else autoBits(emb.count())
    val withB = emb.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), dim, bits).as("bucket"))
    val masks = array((lit(0L) +: (0 until bits).map(i => lit(1L << i))): _*)
    val q = broadcast(withB.join(queries.select(col(idCol)), Seq(idCol))
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"),
        explode(transform(masks, m => col("bucket").bitwiseXOR(m))).as("bucket")))
    val c = withB.select(col(idCol).as("c_id"), col(vecCol).as("cv"), col("bucket"))
    val scored = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("qv"), col("cv")).as("cos"))
    rankTopK(scored, k)
  }

  /** Nearest-centroid classification: fit one integer centroid per
    * label (floor(Σqv/n) per dimension over `floor(x·2^20)`-quantized
    * vectors — the [[kmeansTrain]] update rule, so the whole fit+predict
    * replays exactly in any engine), classify every vector to its
    * nearest centroid by pure-int64 squared L2 (centroid-id tiebreak),
    * and return the confusion matrix `(label, predicted, n)` — the
    * embedding-quality diagnostic a training pipeline runs after
    * re-embedding a corpus (how separable are the labels?).
    *
    * Scale shape: the fit is ONE map-side-combined aggregate (|labels|
    * rows out); predict broadcasts the |labels|-row centroid table
    * against the corpus scan with a min_by partial aggregate (the
    * [[kmeansAssign]] exchange: N narrow (id, label, cid) rows, never
    * k·N); the confusion matrix is a |labels|²-bounded count.
    */
  def centroidClassify(emb: DataFrame, dim: Int, labelCol: String = "label",
                       vecCol: String = "embedding",
                       idCol: String = "vec_id"): DataFrame = {
    val S = 1L << 20
    val qvExpr = transform(col(vecCol),
      x => floor(x.cast(DoubleType) * S).cast(LongType))
    val base = emb.select(col(idCol), col(labelCol).cast(LongType).as("_lbl"),
      qvExpr.as("qv"))
    val sums = (0 until dim).map(i =>
      floor(sum(element_at(col("qv"), i + 1)).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as(s"_c$i"))
    val cents = base.groupBy(col("_lbl").as("cid"))
      .agg(sums.head, sums.tail: _*)
      .select(col("cid"), array((0 until dim).map(i => col(s"_c$i")): _*).as("cv"))
    val dist = graft.plans.QuantizedL2(col("qv"), col("cv"))
    base.crossJoin(broadcast(cents))
      .withColumn("_d", dist)
      .groupBy(col(idCol), col("_lbl"))
      .agg(min_by(col("cid"), struct(col("_d"), col("cid"))).as("predicted"))
      .groupBy(col("_lbl").as(labelCol), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** Reciprocal-rank fusion of two rankers (Cormack et al. 2009) — the
    * standard hybrid-retrieval combiner (BM25 ⊕ dense-vector, or any
    * two scored lists): each side contributes `1/(rrfK + rank)` for
    * its top-`topN` candidates, candidates from only one list keep the
    * other term at 0, fused top-`k` wins. Ranks come from the bounded
    * [[graft.plans.TopKByScore]] partial aggregate (the array position
    * IS the rank) — NO global row_number window, so neither corpus is
    * ever funneled through one partition; fusion then joins two ≤topN
    * frames. Deterministic throughout: both rank orders are
    * (score desc, id asc), and the fused score is a fixed-order sum of
    * two exact reciprocals, so the result replays bit-identically.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, topN: Int, k: Int, rrfK: Long = 60L,
              idCol: String = "doc_id", scoreCol: String = "score"): DataFrame = {
    require(topN >= 1 && k >= 1 && rrfK >= 1,
      s"rrfFuse: need topN>=1, k>=1, rrfK>=1; got topN=$topN k=$k rrfK=$rrfK")
    def ranked(df: DataFrame, rankName: String): DataFrame =
      df.agg(graft.plans.TopKByScore(col(scoreCol), col(idCol), topN).as("_top"))
        .select(posexplode(col("_top")))
        .select(col("col.c_id").as(idCol), (col("pos") + 1).cast(LongType).as(rankName))
    val ra = ranked(a, "rank_a")
    val rb = ranked(b, "rank_b")
    ra.join(rb, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(lit(1.0) / (lit(rrfK) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_b")), lit(0.0))).as("rrf"),
        col("rank_a"), col("rank_b"))
      .orderBy(desc("rrf"), asc(idCol))
      .limit(k)
  }

  /** Margin-based candidate-pair mining between two embedding sets
    * (Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining with
    * Multilingual Sentence Embeddings" — the CCMatrix/LASER bitext-
    * mining scorer): a raw cosine threshold over-mines hubs (vectors
    * that are close to EVERYTHING), so each candidate's cosine is
    * normalized by the average similarity of both endpoints' own
    * k-neighborhoods — `margin(x,y) = cos(x,y) / ((avgₖ(x)+avgₖ(y))/2)`
    * — and each x keeps its best y by margin (the "max" strategy),
    * thresholded at `minMarginMicro` (10⁻⁶ units; 1 050 000 = the
    * paper's 1.05 neighborhood-excess ratio).
    *
    * Engine-exact arithmetic: cosines come from the codegen'd
    * [[cosine]] kernel (bit-identical left folds in both engines), but
    * a SUM of double cosines would be partitioning-order-dependent — so
    * neighborhood mass is summed over `cq = floor(cos·2²⁰)` quantized
    * units (exact int64, order-free; the kmeans 2²⁰ grid), and the
    * margin is one integral division `(2k·10⁶·cq) DIV (sxₖ+syₖ)` —
    * Spark `DIV` and the oracle's `//` both truncate toward zero, and
    * both operands are positive by construction (candidates with
    * non-positive cosine or non-positive neighborhood mass are not
    * mineable and are dropped before the argmax). Ranking ties break to
    * the lower y_id ([[graft.plans.TopKByScore]] order).
    *
    * Scale shape: this is the exact baseline — |X|×|Y| cosine work,
    * distributed with no corpus self-shuffle, both top-k reductions
    * bounded map-side by [[graft.plans.TopKByScore]] (the exchange
    * carries ≤ k rows per id per map partition, never a window funnel);
    * neighborhood sums are id-keyed narrow aggregates. At 100 TB the
    * candidate generator swaps for the blocked/ANN family
    * ([[ivfTopKProbe]]/[[pqTopKRefined]] produce the same
    * (x_id, y_id, cos) candidate frame) — the margin normalization and
    * argmax stages are unchanged.
    *
    * Output: `(x_id, y_id, cos, margin_micro)` — at most one row per x,
    * only where `margin_micro >= minMarginMicro`.
    */
  def marginMining(x: DataFrame, y: DataFrame, k: Int,
                   minMarginMicro: Long = 1050000L,
                   vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    val xs = x.select(col(idCol).as("x_id"), col(vecCol).as("xv"))
    val ys = y.select(col(idCol).as("y_id"), col(vecCol).as("yv"))
    val scored = xs.crossJoin(ys)
      .select(col("x_id"), col("y_id"), cosine(col("xv"), col("yv")).as("cos"))
    marginMiningFrom(scored, k, minMarginMicro)
  }

  /** The candidate-frame seam of [[marginMining]] — this is where the
    * 100 TB swap happens: feed it `(x_id, y_id, cos)` candidates from
    * ANY generator (the exact cross product above, a blocked join, an
    * [[ivfTopKProbe]]/[[pqTopKRefined]] shortlist re-scored with exact
    * cosines) and the margin normalization, per-endpoint neighborhood
    * mass, argmax, and threshold are identical. Neighborhood mass is
    * measured WITHIN the candidate frame (top-k of what the generator
    * surfaced) — the standard ANN-mining approximation; with the exact
    * cross product it is the exact margin.
    *
    * The frame must carry each (x_id, y_id) pair AT MOST ONCE — a
    * generator that emits duplicates would double-count that pair in
    * both endpoints' neighborhood mass (every standard generator —
    * cross product, blocked join, ranked shortlist — is distinct by
    * construction, so no dedup shuffle is imposed here).
    */
  def marginMiningFrom(candidates: DataFrame, k: Int,
                       minMarginMicro: Long = 1050000L): DataFrame = {
    require(k >= 1 && k <= 1024, s"marginMining: k=$k (1..1024)")
    require(minMarginMicro >= 0, s"marginMining: minMarginMicro=$minMarginMicro")
    val missing = Seq("x_id", "y_id", "cos")
      .filterNot(candidates.columns.contains)
    require(missing.isEmpty,
      s"marginMiningFrom: candidate frame lacks: ${missing.mkString(", ")}")
    val scored = candidates.filter(col("cos").isNotNull)
    def cq(c: Column): Column = floor(c * lit(1048576.0)).cast(LongType)
    // forward top-k per x: the candidate pairs AND x's neighborhood mass
    val fwd = scored.groupBy(col("x_id"))
      .agg(graft.plans.TopKByScore(col("cos"), col("y_id"), k).as("_top"))
      .select(col("x_id"), explode(col("_top")).as("_e"))
      .select(col("x_id"), col("_e.c_id").as("y_id"), col("_e.cos").as("cos"))
    val sx = fwd.groupBy(col("x_id")).agg(sum(cq(col("cos"))).as("sx"))
    // backward top-k per y: only the neighborhood mass is needed
    val sy = scored.groupBy(col("y_id"))
      .agg(graft.plans.TopKByScore(col("cos"), col("x_id"), k).as("_top"))
      .select(col("y_id"), explode(col("_top")).as("_e"))
      .groupBy(col("y_id")).agg(sum(cq(col("_e.cos"))).as("sy"))
    fwd.join(sx, "x_id").join(sy, "y_id")
      .filter(cq(col("cos")) > 0 && (col("sx") + col("sy")) > 0)
      .select(col("x_id"), col("y_id"), col("cos"),
        (lit(2L * k * 1000000L) * cq(col("cos"))).as("_num"),
        (col("sx") + col("sy")).as("_den"))
      .withColumn("margin_micro", expr("_num DIV _den"))
      .groupBy(col("x_id"))
      .agg(max_by(struct(col("y_id"), col("cos"), col("margin_micro")),
        struct(col("margin_micro"), -col("y_id"))).as("_w"))
      .select(col("x_id"), col("_w.y_id").as("y_id"),
        col("_w.cos").as("cos"), col("_w.margin_micro").as("margin_micro"))
      .filter(col("margin_micro") >= minMarginMicro)
  }

  /** MUTUAL k-nearest-neighbor graph over the corpus itself: the
    * undirected edge (a, b) exists iff b is in a's top-k cosine
    * neighbors AND a is in b's — the standard denoising that turns a
    * directed kNN relation into the similarity graph clustering and
    * diversity analysis actually run on (hubs collect thousands of
    * one-way in-links; mutuality keeps only pairs that choose each
    * other). Neighbor search is block-local — `blockCol` is any
    * coarse assignment; at scale [[kmeansAssign]] with `autoCells`
    * holds per-block occupancy (and so the block-quadratic scoring
    * term) constant in corpus size, same contract as
    * [[graft.operators.Dedup#semanticDedup]]. Ranking is the bounded
    * [[rankTopK]] two-stage aggregate (no corpus-side windows), ties
    * broken by neighbor id; cosine is symmetric so the pair carries
    * ONE score and both direction ranks.
    *
    * Output: `(id_a, id_b, cos, rank_ab, rank_ba)` with id_a < id_b,
    * one row per mutual pair.
    *
    * Scale shape: one block-keyed self-join (occupancy-bounded), one
    * per-node bounded top-k aggregate (≤ k entries of state per node,
    * map-side combined), then the ≤ n·k directed edge list self-joins
    * on the narrow (id, id) pair key to test mutuality — corpus
    * vectors never shuffle beyond the block key.
    *
    * `shardTarget` caps in-block quadratic work IN the operator: a
    * fixed label set does not scale with the corpus (the sf10
    * rehearsal measured 180× time for 10× rows on 10 pinned labels),
    * so each block md5-subdivides into `ceil(n/shardTarget)` shards
    * ([[autoCells]] — the same integer formula the oracle replays for
    * `dedup_embedding`'s autoBits), holding expected occupancy
    * ~constant at ANY corpus size. Neighbors are then shard-local —
    * the standard blocked-ANN recall tradeoff, the [[lshTopK]] bucket
    * contract; pass `shardTarget = 0` for exact block-local semantics
    * when blocks are known bounded. Corpora at or below `shardTarget`
    * rows keep one shard, so small-fixture results are unchanged. */
  def mutualKnnGraph(emb: DataFrame, k: Int, blockCol: String,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id",
                     shardTarget: Long = 2048L): DataFrame = {
    require(k >= 1 && k <= 1000, s"mutualKnnGraph: need 1 <= k <= 1000, got $k")
    val blk = if (shardTarget <= 0) col(blockCol).cast(StringType)
      else {
        val shards = autoCells(emb.count(), shardTarget)
        concat(col(blockCol).cast(StringType), lit("_"),
          graft.plans.HashBucket(col(idCol).cast(StringType), shards)
            .cast(StringType))
      }
    val a = emb.select(col(idCol).as("q_id"), blk.as("q_blk"),
      col(vecCol).as("qv"))
    val c = emb.select(col(idCol).as("c_id"), blk.as("c_blk"),
      col(vecCol).as("cv"))
    val scored = a.join(c,
        col("q_blk") === col("c_blk") && col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("qv"), col("cv")).as("cos"))
    val top = rankTopK(scored, k)
    val fwd = top.select(col("q_id").as("id_a"), col("c_id").as("id_b"),
      col("cos"), col("rank").as("rank_ab"))
    val rev = top.select(col("c_id").as("id_a"), col("q_id").as("id_b"),
      col("rank").as("rank_ba"))
    fwd.join(rev, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("cos"),
        col("rank_ab"), col("rank_ba"))
  }
}
